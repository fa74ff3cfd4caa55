"""Correctness gate: span-sequence equality on (kind, text, media_ref, order).

Each produced document is reduced JVM-side to one SHA-256 over its span
sequence (:func:`spans_hash_expr`); :func:`spans_hash` is the Python twin
used for the expected side, built from
``data/fixtures/expected_spans.parquet``.
"""

from __future__ import annotations

import hashlib
import os

import pyarrow.parquet as pq

_FIELD_SEP = "\x1f"
_SPAN_SEP = "\x1e"
_NULL = "\x00"


def spans_hash(spans: list[tuple[str | None, str | None, str | None]]) -> str:
    """SHA-256 over ordered (kind, text, media_ref) triples."""
    joined = _SPAN_SEP.join(
        _FIELD_SEP.join(_NULL if v is None else v for v in span) for span in spans
    )
    return hashlib.sha256(joined.encode("utf-8")).hexdigest()


def spans_hash_expr(col: str = "spans"):
    """JVM twin of :func:`spans_hash` over an array<struct> span column."""
    from pyspark.sql import functions as F

    def field(s, name):
        return F.coalesce(s[name], F.lit(_NULL))

    parts = F.transform(
        F.col(col),
        lambda s: F.concat_ws(_FIELD_SEP, field(s, "kind"), field(s, "text"), field(s, "media_ref")),
    )
    return F.sha2(F.array_join(parts, _SPAN_SEP), 256)


def expected_hashes(repo_root: str) -> dict[str, str]:
    """Expected span hash per fixture id."""
    table = pq.read_table(os.path.join(repo_root, "data", "fixtures", "expected_spans.parquet"))
    by_doc: dict[str, list[tuple[int, str, str, str]]] = {}
    for r in table.to_pylist():
        by_doc.setdefault(r["doc_id"], []).append((r["offset"], r["kind"], r["text"], r["media_ref"]))
    return {
        doc_id: spans_hash([(k, t, m) for _o, k, t, m in sorted(rows, key=lambda x: x[0])])
        for doc_id, rows in by_doc.items()
    }


class Verdict:
    """Running tally of documents checked against the expected hashes."""

    def __init__(self, expected: dict[str, str]):
        self.expected = expected
        self.checked = 0
        self.equal = 0
        self.failed = 0
        self.errors = 0
        self.fallbacks = 0
        self.problems: list[str] = []

    def add_groups(self, rows, manifest_keys: dict[str, int]) -> None:
        """Fold one pass's ``(key, h, error, n)`` groups into the tally and
        check per-key document counts against the corpus manifest."""
        seen: dict[str, int] = {}
        for r in rows:
            n = int(r["n"])
            seen[r["key"]] = seen.get(r["key"], 0) + n
            self.checked += n
            equal = r["h"] is not None and r["h"] == self.expected.get(r["key"])
            self.equal += n if equal else 0
            if r["error"] is not None:
                self.errors += n
                if r["error"].startswith("ERR_") and r["error"].endswith("_FALLBACK"):
                    self.fallbacks += n
            if not equal or r["error"] is not None:
                self.failed += n
                self.problems.append(f"key={r['key']} docs={n} equal={equal} error={r['error']}")
        if seen != manifest_keys:
            diff = {k: (manifest_keys.get(k, 0), seen.get(k, 0))
                    for k in set(seen) | set(manifest_keys) if seen.get(k) != manifest_keys.get(k)}
            self.problems.append(f"document counts (expected, produced) differ: {diff}")

    def ok(self) -> bool:
        return not self.problems and self.checked > 0
