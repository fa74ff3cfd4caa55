"""Ship the package to Spark workers (spark-submit --py-files support).

``build_pyfiles_zip`` produces the zip you pass to
``spark-submit --py-files``; :func:`ship_package` attaches it to a live
session so workers can unpickle the extraction UDF regardless of their
working directory (north_rule: "ships as a spark-submit --py-files
package").
"""

from __future__ import annotations

import hashlib
import os
import time
import zipfile
from pathlib import Path

from pyspark.sql import SparkSession

import fetch_engines_spark


def package_root() -> Path:
    return Path(fetch_engines_spark.__file__).resolve().parent


def build_pyfiles_zip(dest: str | None = None) -> str:
    """Zip the package for --py-files; returns the zip path.

    Deterministic content ordering.  The zip is keyed on a hash of the
    sources' names and bytes: the default path is
    ``$TMPDIR/fetch_engines_spark-<version>-<hash>.zip``, and a zip at
    ``dest`` is reused only when its stored hash matches.  Two checkouts
    sharing a ``TMPDIR`` therefore never ship each other's code, whatever
    their file times, and a deleted or renamed module stops shipping.
    Building a default-path zip deletes the default-path zips that no
    build has returned for a day (a returned zip has its time refreshed),
    so source edits do not pile zips up in ``TMPDIR``.
    """
    root = package_root()
    # Already running from a --py-files zip (e.g. inside spark-submit):
    # that zip IS the artifact — return it instead of rebuilding.
    zip_ancestor = next(
        (str(p) for p in [root, *root.parents] if str(p).endswith(".zip")), None
    )
    if zip_ancestor and os.path.isfile(zip_ancestor):
        return zip_ancestor
    sources = sorted(p for p in root.rglob("*.py") if "__pycache__" not in p.parts)
    if not sources:
        raise FileNotFoundError(f"no package sources under {root}")
    arcnames = [str(Path("fetch_engines_spark") / p.relative_to(root)) for p in sources]
    contents = [p.read_bytes() for p in sources]
    digest = hashlib.sha256()
    for arcname, data in zip(arcnames, contents):
        digest.update(f"{arcname}\0{len(data)}\0".encode())
        digest.update(data)
    key = digest.hexdigest()[:16].encode()
    default = dest is None
    dest = dest or os.path.join(
        os.environ.get("TMPDIR", "/tmp"),
        f"fetch_engines_spark-{fetch_engines_spark.__version__}-{key.decode()}.zip",
    )
    if os.path.exists(dest) and _zip_comment(dest) == key:
        if default:
            os.utime(dest)
        return dest
    tmp = f"{dest}.{os.getpid()}.tmp"
    with zipfile.ZipFile(tmp, "w", zipfile.ZIP_DEFLATED) as zf:
        for arcname, data in zip(arcnames, contents):
            zf.writestr(arcname, data)
        zf.comment = key
    os.replace(tmp, dest)
    if default:
        _remove_stale_zips(Path(dest))
    return dest


_STALE_ZIP_AGE_S = 24 * 3600


def _remove_stale_zips(keep: Path) -> None:
    """Delete the default-path zips beside ``keep`` that no build has
    returned for ``_STALE_ZIP_AGE_S``.  A younger one may belong to a live
    session of another checkout, whose executors fetch it by path."""
    cutoff = time.time() - _STALE_ZIP_AGE_S
    for old in keep.parent.glob("fetch_engines_spark-*.zip"):
        try:
            if old != keep and old.stat().st_mtime < cutoff:
                old.unlink()
        except OSError:
            pass  # another build removed or replaced it first


def _zip_comment(path: str) -> bytes | None:
    """The comment of the zip at ``path`` (its source hash); None if
    unreadable."""
    try:
        with zipfile.ZipFile(path) as zf:
            return zf.comment
    except zipfile.BadZipFile:
        return None


def ship_package(spark: SparkSession) -> str:
    zip_path = build_pyfiles_zip()
    spark.sparkContext.addPyFile(zip_path)
    return zip_path
