"""Golden-change guard (ADVICE): the committed extraction goldens are
produced by the same converter under test, so the driver oracle alone
verifies stability, not absolute correctness.  This guard fails whenever
the golden content changes, forcing the change through the containment /
differential test layer and a conscious re-pin
(scripts/update_golden_hashes.py) instead of a silent regeneration.
"""

import json
import os

FIXTURES = os.path.join(os.path.dirname(__file__), "..", "data", "fixtures")


def test_goldens_match_pinned_hashes():
    from scripts.update_golden_hashes import content_hash

    pinned = json.load(open(os.path.join(FIXTURES, "GOLDEN_HASHES.json")))
    for name, expected in pinned.items():
        actual = content_hash(os.path.join(FIXTURES, f"{name}.parquet"))
        assert actual == expected, (
            f"golden {name}.parquet content changed. If this is an intended "
            "converter-behavior change: (1) update/verify the containment "
            "assertions in fetch_engines_spark/fixtures.py and "
            "tests/test_converter_fixtures.py, then (2) re-pin with "
            "python scripts/update_golden_hashes.py"
        )


def test_goldens_regenerate_deterministically(tmp_path):
    """build_fixture_data's expected outputs are a pure function of the
    fixture corpus: regenerating into a temp dir yields the same content
    hash as the committed goldens."""
    import scripts.build_fixture_data as bfd
    from scripts.update_golden_hashes import content_hash

    orig_out = bfd.OUT
    try:
        bfd.OUT = str(tmp_path)
        bfd.build_expected()
    finally:
        bfd.OUT = orig_out
    for name in ("expected_spans", "expected_markdown"):
        assert content_hash(str(tmp_path / f"{name}.parquet")) == content_hash(
            os.path.join(FIXTURES, f"{name}.parquet")
        )


def test_warc_fixtures_regenerate_byte_identically(tmp_path, monkeypatch):
    """The WARC writer leaves the wall clock out of its gzip headers, so
    rebuilding the WARC fixtures into a temp dir writes the committed
    files byte for byte."""
    import scripts.build_fixture_data as bfd

    monkeypatch.setattr(bfd, "OUT", str(tmp_path))
    bfd.build_warc()
    for rel in (
        "warc/sample.warc.gz",
        "warc/sample-plain.warc",
        "warc_bad/truncated.warc.gz",
        "warc_bad/not-a.warc",
    ):
        built = (tmp_path / rel).read_bytes()
        with open(os.path.join(FIXTURES, rel), "rb") as f:
            assert built == f.read(), rel


def test_truncated_golden_obeys_m13_rules():
    """Structural (converter-independent) checks of the M13 truncation
    golden: bounded length, the literal suffix, and the sentence-boundary
    midpoint rule against the untruncated golden."""
    import pyarrow.parquet as pq

    full = {
        r["doc_id"]: r["markdown"]
        for r in pq.read_table(os.path.join(FIXTURES, "expected_markdown.parquet")).to_pylist()
    }
    trunc = {
        r["doc_id"]: r["markdown"]
        for r in pq.read_table(
            os.path.join(FIXTURES, "expected_markdown_truncated.parquet")
        ).to_pylist()
    }
    limit = 400
    suffix = "... (truncated)"
    truncated_docs = 0
    for doc_id, t in trunc.items():
        f = full[doc_id]
        if len(f) <= limit:
            assert t == f
            continue
        truncated_docs += 1
        assert t.endswith(suffix), doc_id
        body = t[: -len(suffix)]
        assert len(body) <= limit, (doc_id, len(body))
        # the sentence-boundary rule: if the cut is past the midpoint it
        # lands right after a period, else it's the hard limit
        assert body.endswith(".") or len(body) == limit, doc_id
        # prefix property: the truncated body is a prefix of the full text
        assert f.startswith(body.rstrip(".") [:10])
    assert truncated_docs >= 5  # fixture corpus genuinely exercises M13


def test_every_query_has_an_oracle_twin():
    """Every registered query carries a DuckDB twin in oracle_sql(), so
    scripts/check_oracle.py checks each one against an independent
    engine instead of falling back to a rows-only check."""
    import __spark_entry__ as e

    oracles = e.oracle_sql()
    missing = [name for name in e.queries() if name not in oracles]
    assert not missing, missing
