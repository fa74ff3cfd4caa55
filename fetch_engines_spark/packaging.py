"""Ship the package to Spark workers (spark-submit --py-files support).

``build_pyfiles_zip`` produces the zip you pass to
``spark-submit --py-files``; :func:`ship_package` attaches it to a live
session so workers can unpickle the extraction UDF regardless of their
working directory (north_rule: "ships as a spark-submit --py-files
package").
"""

from __future__ import annotations

import os
import zipfile
from pathlib import Path

from pyspark.sql import SparkSession

import fetch_engines_spark


def package_root() -> Path:
    return Path(fetch_engines_spark.__file__).resolve().parent


def build_pyfiles_zip(dest: str | None = None) -> str:
    """Zip the package for --py-files; returns the zip path.

    Deterministic content ordering; rebuilt when a source file is newer
    than the existing zip or when the zip's member list differs from the
    current source list (a deleted or renamed module must not keep
    shipping).
    """
    root = package_root()
    # Already running from a --py-files zip (e.g. inside spark-submit):
    # that zip IS the artifact — return it instead of rebuilding.
    zip_ancestor = next(
        (str(p) for p in [root, *root.parents] if str(p).endswith(".zip")), None
    )
    if zip_ancestor and os.path.isfile(zip_ancestor):
        return zip_ancestor
    dest = dest or os.path.join(
        os.environ.get("TMPDIR", "/tmp"),
        f"fetch_engines_spark-{fetch_engines_spark.__version__}.zip",
    )
    sources = sorted(p for p in root.rglob("*.py") if "__pycache__" not in p.parts)
    if not sources:
        raise FileNotFoundError(f"no package sources under {root}")
    arcnames = [str(Path("fetch_engines_spark") / p.relative_to(root)) for p in sources]
    if os.path.exists(dest):
        newest = max(p.stat().st_mtime for p in sources)
        if os.path.getmtime(dest) >= newest and _zip_members(dest) == sorted(arcnames):
            return dest
    tmp = dest + ".tmp"
    with zipfile.ZipFile(tmp, "w", zipfile.ZIP_DEFLATED) as zf:
        for p, arcname in zip(sources, arcnames):
            zf.write(p, arcname=arcname)
    os.replace(tmp, dest)
    return dest


def _zip_members(path: str) -> list[str] | None:
    """Sorted member names of the zip at ``path``; None if unreadable."""
    try:
        with zipfile.ZipFile(path) as zf:
            return sorted(zf.namelist())
    except zipfile.BadZipFile:
        return None


def ship_package(spark: SparkSession) -> str:
    zip_path = build_pyfiles_zip()
    spark.sparkContext.addPyFile(zip_path)
    return zip_path
