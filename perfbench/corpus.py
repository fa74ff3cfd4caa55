"""Seeded input corpora for the extraction benchmark, cached by content.

Every corpus replicates the extraction fixture pages (F01–F09, F20–F25) and
is written to parquet before anything is timed, so the program under test
only ever sees the generated table.  The seed decides the replica order and
which rows carry a hot doc_id.  doc_id ``F03#17`` is replica 17 of fixture
F03, ``F03#hot1`` one of many re-crawls sharing a doc_id; the part before
``#`` names the expected span sequence.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil

import pyarrow as pa
import pyarrow.parquet as pq

# Sizes a giant document is blown up to, for the traced run's giant class.
GIANT_MB = (0.5, 1.0, 2.0, 4.0)

# Per-corpus shape: replicas of each fixture page, parquet files, and the
# share of rows that take one of ``hot_ids`` shared doc_ids per fixture.
SHAPES = {
    "extract_uniform": {"replicas": 400, "files": 16, "hot_share": 0.0, "hot_ids": 0},
    "extract_hot": {"replicas": 200, "files": 8, "hot_share": 0.3, "hot_ids": 3},
    # the traced run's checkpointed job, and its scaling measurement
    "checkpoint": {"replicas": 100, "files": 4, "hot_share": 0.0, "hot_ids": 0},
    "scaling": {"replicas": 100, "files": 8, "hot_share": 0.0, "hot_ids": 0},
}

_SPAN_TYPE = pa.struct(
    [
        ("kind", pa.string()),
        ("text", pa.string()),
        ("media_ref", pa.string()),
        ("offset", pa.int32()),
    ]
)
_SCHEMA = pa.schema(
    [
        ("doc_id", pa.string()),
        ("base_url", pa.string()),
        ("canonical_url", pa.string()),
        ("spans", pa.list_(_SPAN_TYPE)),
    ]
)


def fixture_ids() -> list[str]:
    from fetch_engines_spark.fixtures import EXTRACTION_FIXTURE_IDS

    return list(EXTRACTION_FIXTURE_IDS)


def giant_html(fid: str, mb: float) -> str:
    """Fixture ``fid``'s page repeated to about ``mb`` megabytes."""
    from fetch_engines_spark.fixtures import FIXTURES_BY_ID

    html = FIXTURES_BY_ID[fid].html
    return html * max(2, round(mb * 1_000_000 / len(html.encode("utf-8"))))


def key_of(doc_id: str) -> str:
    return doc_id.split("#", 1)[0]


def fixture_content_hash() -> str:
    """Hash of every field of the extraction fixtures that reaches the
    program, so an edit that keeps a page's length still refreshes the cache."""
    from fetch_engines_spark.fixtures import FIXTURES_BY_ID

    h = hashlib.sha256()
    for fid in fixture_ids():
        f = FIXTURES_BY_ID[fid]
        for part in (f.id, f.html, f.base_url, f.canonical_url):
            h.update(repr(part).encode("utf-8"))
    return h.hexdigest()


def cache_key(name: str, seed: int) -> str:
    with open(__file__, "rb") as fh:
        generator = hashlib.sha256(fh.read()).hexdigest()
    spec = {
        "corpus": name,
        "seed": seed,
        "shape": SHAPES[name],
        "fixtures": fixture_content_hash(),
        "generator": generator,
    }
    return hashlib.sha256(json.dumps(spec, sort_keys=True).encode()).hexdigest()[:20]


def build(name: str, seed: int, cache_dir: str) -> dict:
    """Return the corpus manifest, generating the parquet table on a miss.

    Manifest: ``path`` (parquet directory), ``docs``, ``distinct_doc_ids``,
    ``html_bytes``, ``keys`` (expected-span key → row count), ``cached``.
    """
    from fetch_engines_spark.fixtures import FIXTURES_BY_ID, html_to_input_spans

    out = os.path.join(cache_dir, f"{name}-{seed}-{cache_key(name, seed)}")
    manifest_path = os.path.join(out, "manifest.json")
    if os.path.isfile(manifest_path):
        with open(manifest_path) as fh:
            manifest = json.load(fh)
        return dict(manifest, path=os.path.join(out, "docs"), cached=True)

    shape = SHAPES[name]
    rng = random.Random(f"{name}:{seed}")
    rows = [
        (f"{fid}#hot{rng.randrange(shape['hot_ids'])}" if rng.random() < shape["hot_share"] else f"{fid}#{r}", fid)
        for r in range(shape["replicas"])
        for fid in fixture_ids()
    ]
    rng.shuffle(rows)
    spans = {fid: html_to_input_spans(FIXTURES_BY_ID[fid].html) for fid in fixture_ids()}

    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(tmp, "docs"))
    step = -(-len(rows) // shape["files"])
    for part, lo in enumerate(range(0, len(rows), step)):
        chunk = rows[lo : lo + step]
        table = pa.table(
            {
                "doc_id": [d for d, _f in chunk],
                "base_url": [FIXTURES_BY_ID[f].base_url for _d, f in chunk],
                "canonical_url": [FIXTURES_BY_ID[f].canonical_url for _d, f in chunk],
                "spans": [spans[f] for _d, f in chunk],
            },
            schema=_SCHEMA,
        )
        pq.write_table(table, os.path.join(tmp, "docs", f"part-{part:03d}.parquet"))
    keys: dict[str, int] = {}
    for doc_id, _f in rows:
        keys[key_of(doc_id)] = keys.get(key_of(doc_id), 0) + 1
    manifest = {
        "corpus": name,
        "seed": seed,
        "docs": len(rows),
        "distinct_doc_ids": len({d for d, _f in rows}),
        "html_bytes": sum(len(FIXTURES_BY_ID[f].html.encode("utf-8")) for _d, f in rows),
        "keys": keys,
    }
    with open(os.path.join(tmp, "manifest.json"), "w") as fh:
        json.dump(manifest, fh)
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)
    return dict(manifest, path=os.path.join(out, "docs"), cached=False)
