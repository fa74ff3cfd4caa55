"""End-to-end Spark tests: documents(spans) → extraction UDF → span arrays.

This is the span-sequence-equality layer (BASELINE.json invariant:
(kind, text, media_ref, order) per document vs the reference fixtures).
"""

import os

import pytest
from pyspark.sql import functions as F

from fetch_engines_spark.convert import converter as converter_mod
from fetch_engines_spark.convert import serialize as serialize_mod
from fetch_engines_spark.extract import (
    INPUT_SCHEMA,
    OUTPUT_SCHEMA,
    convert_document,
    extract_spans,
    html_assembly_expr,
    markdown_to_spans,
    span_equality_report,
    spans_to_markdown,
)
from fetch_engines_spark.fixtures import (
    EXTRACTION_FIXTURE_IDS,
    FIXTURES_BY_ID,
    fixture_document_rows,
)


@pytest.fixture(scope="module")
def documents_df(spark):
    return spark.createDataFrame(fixture_document_rows(), INPUT_SCHEMA)


@pytest.fixture(scope="module")
def extracted(spark, documents_df):
    df = extract_spans(documents_df, num_partitions=4).cache()
    df.count()
    return df


def test_input_synthesis_roundtrip(documents_df):
    """The product's JVM assembly of each fixture's synthesized spans gives
    back the fixture's html."""
    rows = documents_df.select("doc_id", html_assembly_expr().alias("html")).collect()
    for fid in EXTRACTION_FIXTURE_IDS:
        html = [r.html for r in rows if r.doc_id == fid]
        assert html == [FIXTURES_BY_ID[fid].html], fid


def test_all_docs_extracted_no_errors(extracted):
    from fetch_engines_spark.fixtures import FIXTURES

    rows = extracted.collect()
    assert len(rows) == len(FIXTURES)
    errs = [r for r in rows if r.error is not None]
    assert errs == [], errs


def test_span_markdown_roundtrip(extracted):
    for r in extracted.collect():
        spans = [s.asDict() for s in r.spans]
        assert spans_to_markdown(spans) == r.markdown
        # offsets are dense and ordered
        assert [s["offset"] for s in spans] == list(range(len(spans)))


def test_spark_output_matches_local_converter(extracted):
    """The distributed result must equal the conversion chain run in this
    process on each fixture's original html (the engine's own oracle)."""
    by_id = {r.doc_id: r for r in extracted.collect()}
    for fid in EXTRACTION_FIXTURE_IDS:
        f = FIXTURES_BY_ID[fid]
        title, markdown, error, spans, _ = convert_document(f.html, f.base_url)
        r = by_id[fid]
        assert r.markdown == markdown, fid
        assert (r.title, [s.asDict() for s in r.spans], r.error) == (title, spans, error), fid


def test_fixture_containment_through_spark(extracted):
    by_id = {r.doc_id: r.markdown for r in extracted.collect()}
    for fid in EXTRACTION_FIXTURE_IDS:
        f = FIXTURES_BY_ID[fid]
        md = by_id[fid]
        for expected in f.must_contain:
            assert expected in md, (fid, expected)
        for banned in f.must_not_contain:
            assert banned not in md, (fid, banned)


def test_span_equality_report_all_equal(spark, extracted):
    produced = extracted.select("doc_id", "spans")
    report = span_equality_report(produced, produced)
    assert report.filter(~F.col("equal")).count() == 0
    assert report.count() == extracted.count()


def test_span_equality_report_detects_mismatch(spark, extracted):
    produced = extracted.select("doc_id", "spans")
    # perturb one doc: drop its last span
    tampered = produced.withColumn(
        "spans",
        F.when(
            F.col("doc_id") == "F01", F.slice("spans", 1, F.greatest(F.size("spans") - 1, F.lit(0)))
        ).otherwise(F.col("spans")),
    )
    report = span_equality_report(tampered, produced)
    bad = {r.doc_id for r in report.filter(~F.col("equal")).collect()}
    assert bad == {"F01"}


def test_media_refs_carried_through(extracted):
    """north_rule: media spans carried through by media_ref."""
    f04 = extracted.filter(F.col("doc_id") == "F04").collect()[0]
    images = [s for s in f04.spans if s.kind == "image"]
    assert any(s.media_ref == "https://rebuilt.eco/images/product.png" for s in images)


def test_markdown_to_spans_block_kinds():
    md = (
        "# Title\n\nSource: https://x.example/\n\nA paragraph.\n\n- item one\n- item two\n\n"
        "| a | b |\n| --- | --- |\n| 1 | 2 |\n\n```\ncode here\n```\n\n![alt](http://img/x.png)"
    )
    spans = markdown_to_spans(md)
    kinds = [s["kind"] for s in spans]
    assert kinds == ["heading", "source", "text", "list", "table", "code", "image"]
    assert spans[-1]["media_ref"] == "http://img/x.png"
    assert spans_to_markdown(spans) == md


def test_giant_document_skew_row(spark):
    """A multi-MB doc (body×200) must still extract without error."""
    rows = [
        r
        for r in fixture_document_rows(replicas=1, skew_ids={"F08": 200})
        if r["doc_id"] == "F08"
    ]
    df = spark.createDataFrame(rows, INPUT_SCHEMA)
    out = extract_spans(df, num_partitions=2).collect()
    assert len(out) == 1
    assert out[0].error is None
    assert out[0].in_bytes > 200_000  # the giant input really went through
    # content selection picks the single best-scoring subtree, so the
    # output stays compact even when the input is replicated 200×
    assert len(out[0].spans) > 0


def test_source_url_column_injects_source_span(spark):
    """M14: a source_url column yields a 'Source: <url>' span after the H1."""
    rows = [
        {
            "doc_id": "s1",
            "base_url": None,
            "canonical_url": None,
            "source_url": "https://example.com/origin",
            "spans": [
                {
                    "kind": "html",
                    "text": "<body><main><h1>Titled</h1><p>Body text long enough to be selected as main content here.</p></main></body>",
                    "media_ref": None,
                    "offset": 0,
                }
            ],
        }
    ]
    schema = INPUT_SCHEMA.add("source_url", "string")
    # build with the right field order: doc_id, base_url, canonical_url, spans, source_url
    df = spark.createDataFrame(rows, schema)
    out = extract_spans(df, keep_markdown=True).collect()[0]
    kinds = [s.kind for s in out.spans]
    assert kinds[0] == "heading" and kinds[1] == "source"
    assert out.spans[1].text == "Source: https://example.com/origin"


def test_salted_repartition_spreads_hot_doc_id(spark):
    """The salt must be row-unique: 64 rows sharing one doc_id land in
    multiple partitions (a doc_id-derived salt would pin them to one)."""
    from pyspark.sql import functions as F

    from fetch_engines_spark.extract import salted_repartition

    df = spark.range(64).select(F.lit("hot-doc").alias("doc_id"), F.col("id"))
    parts = (
        salted_repartition(df, num_partitions=8, salt_buckets=8)
        .withColumn("pid", F.spark_partition_id())
        .select("pid")
        .distinct()
        .count()
    )
    assert parts > 1


def test_html_assembly_edge_shapes(spark):
    """The native span→html assembly on contract-edge documents: null and
    empty span arrays, media-only docs, empty-text html spans, out-of-order
    offsets, and null offsets (which order last, stably).  None of them
    fails extraction."""
    rows = [
        {"doc_id": "x-null", "base_url": None, "canonical_url": None, "spans": None},
        {"doc_id": "x-empty", "base_url": None, "canonical_url": None, "spans": []},
        {
            "doc_id": "x-media-only",
            "base_url": None,
            "canonical_url": None,
            "spans": [{"kind": "image", "text": None, "media_ref": "m1", "offset": 0}],
        },
        {
            "doc_id": "x-out-of-order",
            "base_url": "https://e.com/",
            "canonical_url": None,
            "spans": [
                {"kind": "html", "text": "</p>", "media_ref": None, "offset": 2},
                {"kind": "html", "text": "", "media_ref": None, "offset": 1},
                {"kind": "html", "text": "<p>hello world", "media_ref": None, "offset": 0},
            ],
        },
        {
            "doc_id": "x-null-offset",
            "base_url": "https://e.com/",
            "canonical_url": None,
            "spans": [
                {"kind": "html", "text": " tail</p>", "media_ref": None, "offset": None},
                {"kind": "html", "text": "<p>head", "media_ref": None, "offset": 0},
            ],
        },
    ]
    docs = spark.createDataFrame(rows, INPUT_SCHEMA)
    html = {
        r.doc_id: r.html
        for r in docs.select("doc_id", html_assembly_expr().alias("html")).collect()
    }
    assert html == {
        "x-null": None,
        "x-empty": "",
        "x-media-only": "",
        "x-out-of-order": "<p>hello world</p>",
        "x-null-offset": "<p>head tail</p>",
    }

    out = {r.doc_id: r for r in extract_spans(docs).collect()}
    assert set(out) == set(html)
    assert {d: r.error for d, r in out.items()} == dict.fromkeys(html)
    assert [s.text for s in out["x-out-of-order"].spans] == ["hello world"]
    assert [s.text for s in out["x-null-offset"].spans] == ["head tail"]


def _raise(exc):
    def fn(*args, **kwargs):
        raise exc

    return fn


_PAGE = (
    "<html><head><title>Doc Title</title></head><body><main><p>Body content "
    "long enough to be selected as the main content of this page.</p>"
    "<!-- a comment --></main></body></html>"
)


def _cleaned_fallback(html):
    return converter_mod.postprocess_markdown(
        converter_mod.cleanup_content_html(converter_mod.cleanup_html(html))
    )


def test_convert_document_preprocess_fallback(monkeypatch):
    monkeypatch.setattr(converter_mod, "parse_html", _raise(ValueError("bad dom")))
    title, markdown, error, spans, in_bytes = convert_document(_PAGE)
    assert error == "ERR_PREPROCESS_FALLBACK"
    assert title == ""
    assert markdown == _cleaned_fallback(_PAGE) and "<!--" not in markdown
    assert spans == markdown_to_spans(markdown) != []
    assert in_bytes == len(_PAGE.encode())


def test_convert_document_markdown_conversion_fallback(monkeypatch):
    monkeypatch.setattr(serialize_mod, "to_markdown", _raise(RecursionError("deep")))
    title, markdown, error, spans, in_bytes = convert_document(_PAGE)
    assert error == "ERR_MARKDOWN_CONVERSION_FALLBACK"
    assert title == "Doc Title"
    assert markdown == _cleaned_fallback(_PAGE)
    assert spans == markdown_to_spans(markdown) != []
    assert in_bytes == len(_PAGE.encode())


def test_convert_document_extraction_error_is_cut_and_empty(monkeypatch):
    monkeypatch.setattr(
        converter_mod, "postprocess_markdown", _raise(ValueError("x" * 1000))
    )
    title, markdown, error, spans, in_bytes = convert_document(_PAGE, source_url="https://e.com/")
    assert error == ("ERR_EXTRACTION: ValueError: " + "x" * 1000)[:500]
    assert len(error) == 500
    assert (markdown, spans) == ("", [])
    assert title == "Doc Title"
    assert in_bytes == len(_PAGE.encode())


def test_span_equality_report_joins_on_position(spark):
    """Identical span sequences must report equal even when offsets are
    duplicated or null (the report keys on array position, not the span's
    own offset field — an offset-keyed join fans out on duplicates and
    never matches nulls, reporting mismatches between identical sides)."""
    from fetch_engines_spark.extract import span_equality_report

    schema = (
        "doc_id string, "
        "spans array<struct<kind:string,text:string,media_ref:string,offset:int>>"
    )
    rows = [
        # duplicate offsets, byte-identical sides
        ("dup", [("text", "X", None, 5), ("text", "Y", None, 5)]),
        # null offsets, byte-identical sides
        ("nul", [("text", "A", None, None), ("image", None, "m1", None)]),
        ("empty", []),
    ]
    df = spark.createDataFrame(rows, schema)
    report = {r.doc_id: r.equal for r in span_equality_report(df, df).collect()}
    assert report == {"dup": True, "nul": True, "empty": True}

    # order is part of the invariant: same multiset, different sequence
    swapped = spark.createDataFrame(
        [("dup", [("text", "Y", None, 5), ("text", "X", None, 5)])], schema
    )
    bad = span_equality_report(df.filter(F.col("doc_id") == "dup"), swapped).collect()
    assert bad[0].equal is False and bad[0].n_mismatched == 2


def test_drop_zip_importers_keeps_archive_imports_working(tmp_path):
    import importlib
    import sys
    import zipfile
    import zipimport

    from fetch_engines_spark.extract import _drop_zip_importers

    archive = tmp_path / "pkg.zip"
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr("zpkg/__init__.py", "")
        zf.writestr("zpkg/sub/__init__.py", "NAME = 'sub'\n")
        zf.writestr("zpkg/sub/other.py", "NAME = 'other'\n")

    saved_path = list(sys.path)
    saved_modules = dict(sys.modules)
    saved_cache = dict(sys.path_importer_cache)
    sys.path.insert(0, str(archive))
    try:
        importlib.invalidate_caches()
        assert importlib.import_module("zpkg.sub").NAME == "sub"
        assert any(
            isinstance(f, zipimport.zipimporter) for f in sys.path_importer_cache.values()
        )

        _drop_zip_importers()
        assert not any(
            isinstance(f, zipimport.zipimporter) for f in sys.path_importer_cache.values()
        )

        # the next task's setup calls invalidate_caches(); a module not yet
        # loaded from the same archive must still import afterwards
        importlib.invalidate_caches()
        assert "zpkg.sub.other" not in sys.modules
        assert importlib.import_module("zpkg.sub.other").NAME == "other"
    finally:
        sys.path[:] = saved_path
        sys.modules.clear()
        sys.modules.update(saved_modules)
        sys.path_importer_cache.clear()
        sys.path_importer_cache.update(saved_cache)


def test_pyfiles_zip_drops_deleted_module(tmp_path, monkeypatch):
    """A module deleted from the package must leave the --py-files zip on
    the next build, even though no remaining source is newer than the
    cached zip; otherwise workers keep importing the deleted code."""
    import zipfile

    from fetch_engines_spark import packaging

    pkg = tmp_path / "pkg"
    pkg.mkdir()
    (pkg / "__init__.py").write_text("")
    (pkg / "a.py").write_text("A = 1\n")
    (pkg / "b.py").write_text("B = 2\n")
    monkeypatch.setattr(packaging, "package_root", lambda: pkg)
    dest = str(tmp_path / "out.zip")

    assert packaging.build_pyfiles_zip(dest) == dest
    with zipfile.ZipFile(dest) as zf:
        assert "fetch_engines_spark/b.py" in zf.namelist()

    (pkg / "b.py").unlink()
    packaging.build_pyfiles_zip(dest)
    with zipfile.ZipFile(dest) as zf:
        names = zf.namelist()
    assert "fetch_engines_spark/b.py" not in names
    assert sorted(names) == ["fetch_engines_spark/__init__.py", "fetch_engines_spark/a.py"]


def test_pyfiles_zip_keyed_on_source_bytes(tmp_path, monkeypatch):
    """Two checkouts of the same version sharing a TMPDIR: the second has
    other bytes and OLDER file times, and its zip must still carry its own
    bytes, not the first checkout's cached zip."""
    import zipfile

    from fetch_engines_spark import packaging

    def checkout(name: str, body: str, mtime: float):
        pkg = tmp_path / name
        pkg.mkdir()
        for rel, text in (("__init__.py", ""), ("a.py", body)):
            (pkg / rel).write_text(text)
            os.utime(pkg / rel, (mtime, mtime))
        return pkg

    first = checkout("first", "A = 'first'\n", 2_000_000_000)
    second = checkout("second", "A = 'second'\n", 1_000_000_000)
    tmpdir = tmp_path / "tmp"
    tmpdir.mkdir()
    monkeypatch.setenv("TMPDIR", str(tmpdir))

    zips = {}
    for pkg in (first, second):
        monkeypatch.setattr(packaging, "package_root", lambda pkg=pkg: pkg)
        zips[pkg.name] = packaging.build_pyfiles_zip()
    for name, path in zips.items():
        with zipfile.ZipFile(path) as zf:
            assert zf.read("fetch_engines_spark/a.py") == f"A = '{name}'\n".encode()
    # an explicit destination is rebuilt when its stored hash differs
    dest = str(tmp_path / "out.zip")
    for pkg in (first, second):
        monkeypatch.setattr(packaging, "package_root", lambda pkg=pkg: pkg)
        assert packaging.build_pyfiles_zip(dest) == dest
        with zipfile.ZipFile(dest) as zf:
            assert zf.read("fetch_engines_spark/a.py") == f"A = '{pkg.name}'\n".encode()


def test_pyfiles_zip_build_removes_only_stale_zips(tmp_path, monkeypatch):
    """A new default-path zip deletes the zips beside it that no build has
    returned for a day, and keeps younger ones (another checkout's live
    session may still need them); returning a cached zip refreshes its
    time."""
    import time

    from fetch_engines_spark import packaging

    pkg = tmp_path / "pkg"
    pkg.mkdir()
    (pkg / "__init__.py").write_text("")
    monkeypatch.setattr(packaging, "package_root", lambda: pkg)
    tmpdir = tmp_path / "tmp"
    tmpdir.mkdir()
    monkeypatch.setenv("TMPDIR", str(tmpdir))
    two_days_ago = time.time() - 2 * 24 * 3600
    stale = tmpdir / "fetch_engines_spark-0.0-stale.zip"
    young = tmpdir / "fetch_engines_spark-0.0-young.zip"
    other = tmpdir / "other.zip"
    for path in (stale, young, other):
        path.write_bytes(b"")
    for path in (stale, other):
        os.utime(path, (two_days_ago, two_days_ago))

    built = packaging.build_pyfiles_zip()
    assert not stale.exists()
    assert young.exists() and other.exists() and os.path.exists(built)

    os.utime(built, (two_days_ago, two_days_ago))
    assert packaging.build_pyfiles_zip() == built
    assert os.path.getmtime(built) > two_days_ago + 3600


_OUTPUT_ROW_CASES = {
    "zero_rows": [],
    "mixed": [
        {
            "doc_id": "multi-byte",
            "title": "Über — 日本語 🙂",
            "spans": [
                {"kind": "heading", "text": "# Ünïcode 🙂", "media_ref": None, "offset": 0},
                {
                    "kind": "image",
                    "text": "![é](https://e.com/é.png)",
                    "media_ref": "https://e.com/é.png",
                    "offset": 1,
                },
                {"kind": "text", "text": "", "media_ref": None, "offset": 2},
            ],
            "markdown": None,
            "error": None,
            "in_bytes": 2**40,
            "out_bytes": 0,
            "wall_us": 17,
        },
        {
            "doc_id": "empty-spans",
            "title": None,
            "spans": [],
            "markdown": None,
            "error": "ERR_EXTRACTION: ValueError: x",
            "in_bytes": 0,
            "out_bytes": 0,
            "wall_us": 0,
        },
        {
            "doc_id": "null-spans",
            "title": "",
            "spans": None,
            "markdown": None,
            "error": None,
            "in_bytes": None,
            "out_bytes": -1,
            "wall_us": 3,
        },
        {
            "doc_id": None,
            "title": "one",
            "spans": [{"kind": "text", "text": "one span", "media_ref": None, "offset": 0}, None],
            "markdown": None,
            "error": None,
            "in_bytes": 9,
            "out_bytes": 8,
            "wall_us": 5,
        },
    ],
}


@pytest.mark.parametrize("case", sorted(_OUTPUT_ROW_CASES))
def test_arrow_builder_equals_from_pydict(case):
    """The worker's buffer-level Arrow builder gives the batch
    ``RecordBatch.from_pydict`` gives for the same values: zero rows, an
    all-null column, multi-byte text, empty/null/multi-span lists, and
    null strings, integers and list elements."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    from fetch_engines_spark.extract import _arrow_array

    schema = to_arrow_schema(OUTPUT_SCHEMA)
    rows = _OUTPUT_ROW_CASES[case]
    cols = {name: [r[name] for r in rows] for name in schema.names}
    built = pa.RecordBatch.from_arrays(
        [_arrow_array(cols[f.name], f.type) for f in schema], schema=schema
    )
    built.validate(full=True)
    assert built.equals(pa.RecordBatch.from_pydict(cols, schema=schema))


def test_arrow_builder_rejects_other_types_and_offset_overflow():
    import pyarrow as pa

    from fetch_engines_spark.extract import _arrow_array, _offsets_buffer

    with pytest.raises(TypeError):
        _arrow_array([1.5], pa.float64())
    with pytest.raises(OverflowError):
        _offsets_buffer([2**31 - 1, 1])


def test_extraction_worker_never_imports_pandas(tmp_path):
    """``_extract_arrow_batches`` in a fresh interpreter, fed fixture html
    plus null, empty and non-ASCII pages, with and without markdown, leaves
    pandas unimported (it would cost every extraction worker ~41 MB)."""
    import subprocess
    import sys
    from pathlib import Path

    import pyarrow as pa

    html = [f.html for f in FIXTURES_BY_ID.values()]
    html += [None, "", "<p>Ünïcode — 日本語 🙂</p>"]
    batch = pa.RecordBatch.from_pydict(
        {
            "doc_id": [f"d{i}" for i in range(len(html))],
            "base_url": ["https://e.com/"] * len(html),
            "html": html,
        }
    )
    stream = tmp_path / "in.arrows"
    with pa.OSFile(str(stream), "wb") as sink, pa.ipc.new_stream(sink, batch.schema) as writer:
        writer.write_batch(batch)
    script = f"""
import sys
sys.path.insert(0, {str(Path(__file__).resolve().parents[1])!r})
import pyarrow as pa
from fetch_engines_spark.extract import OUTPUT_SCHEMA, _extract_arrow_batches
for emit_markdown in (True, False):
    with pa.OSFile({str(stream)!r}) as source:
        out = list(_extract_arrow_batches(pa.ipc.open_stream(source), emit_markdown))
    assert sum(b.num_rows for b in out) == {len(html)}, out
    assert all(b.column("error").null_count == {len(html)} for b in out)
    n_null = 0 if emit_markdown else {len(html)}
    assert all(b.column("markdown").null_count == n_null for b in out)
print("pandas" in sys.modules)
"""
    result = subprocess.run(
        [sys.executable, "-c", script], capture_output=True, text=True, timeout=300
    )
    assert result.returncode == 0, result.stderr
    assert result.stdout.strip() == "False"
