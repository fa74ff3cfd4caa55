"""The vectorized extraction stage: documents → ordered Markdown span arrays.

A native projection assembles each document's html from its spans, then
one Arrow-batched ``mapInArrow`` stage carries the whole per-document chain
(:func:`convert_document`: P1…C-H from the converter, M1 serialization,
M2–M14 postprocess) — exactly one Python/JVM round-trip per the
north_rule's "vectorized pandas/Arrow UDFs only" constraint.  Never
throws: per-document failures land in the ``error`` column (mirrors the
reference's error taxonomy, reference: src/errors.ts:1-31, and the
converter's fallback-to-cleaned-HTML, markdown-converter.ts:249-253).

Skew handling (north_rule): callers salt-repartition on ``doc_id`` before
this stage via :func:`salted_repartition`; Arrow batch size is bounded by
``spark.sql.execution.arrow.maxRecordsPerBatch`` (session.py).
"""

from __future__ import annotations

import functools
import itertools
import re
import sys
import time
import zipimport
from array import array
from operator import itemgetter

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

SPAN_TYPE = StructType(
    [
        StructField("kind", StringType()),
        StructField("text", StringType()),
        StructField("media_ref", StringType()),
        StructField("offset", IntegerType()),
    ]
)

INPUT_SCHEMA = StructType(
    [
        StructField("doc_id", StringType()),
        StructField("base_url", StringType()),
        StructField("canonical_url", StringType()),
        StructField("spans", ArrayType(SPAN_TYPE)),
    ]
)

OUTPUT_SCHEMA = StructType(
    [
        StructField("doc_id", StringType()),
        StructField("title", StringType()),
        StructField("spans", ArrayType(SPAN_TYPE)),
        StructField("markdown", StringType()),
        StructField("error", StringType()),
        StructField("in_bytes", LongType()),
        StructField("out_bytes", LongType()),
        StructField("wall_us", LongType()),
    ]
)

# --- span segmentation of the final Markdown --------------------------------

_IMAGE_BLOCK = re.compile(r"^!\[[^\]]*\]\(([^)]+)\)$")
_HEADING_BLOCK = re.compile(r"^#{1,6}\s")
_LIST_BLOCK = re.compile(r"^([*\-+]|\d+\.|>)\s")


def classify_block(block: str) -> tuple[str, str | None]:
    """Return (kind, media_ref) for one markdown block."""
    if _HEADING_BLOCK.match(block):
        return "heading", None
    if block.startswith("```"):
        return "code", None
    if block.startswith("|"):
        return "table", None
    m = _IMAGE_BLOCK.match(block)
    if m:
        return "image", m.group(1)
    if _LIST_BLOCK.match(block):
        return "list", None
    if block.startswith("Source: "):
        return "source", None
    if block == "---":
        return "rule", None
    return "text", None


def markdown_to_spans(markdown: str) -> list[dict]:
    """Segment postprocessed Markdown into ordered output spans.

    Invariant: ``"\\n\\n".join(s["text"] for s in spans) == markdown``
    (postprocess guarantees max 2 consecutive newlines, so blocks are
    exactly the ``\\n\\n``-separated units — except fenced code blocks,
    which may contain blank lines and are kept whole).
    """
    if not markdown:
        return []
    spans: list[dict] = []
    blocks: list[str] = []
    in_code = False
    current: list[str] = []
    for chunk in markdown.split("\n\n"):
        if in_code:
            current.append(chunk)
            if chunk.rstrip().endswith("```"):
                blocks.append("\n\n".join(current))
                current, in_code = [], False
            continue
        if chunk.startswith("```") and not chunk.rstrip().endswith("```") or (
            chunk.startswith("```") and chunk.rstrip() == "```"
        ):
            current = [chunk]
            in_code = True
            continue
        blocks.append(chunk)
    if current:
        blocks.append("\n\n".join(current))

    for i, block in enumerate(blocks):
        kind, media_ref = classify_block(block)
        spans.append({"kind": kind, "text": block, "media_ref": media_ref, "offset": i})
    return spans


def spans_to_markdown(spans: list[dict]) -> str:
    return "\n\n".join(s["text"] for s in sorted(spans, key=lambda s: s["offset"]))


# --- the UDF ----------------------------------------------------------------


def _drop_zip_importers() -> None:
    """Forget the cached ``zipimporter`` of every archive on ``sys.path``.

    PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
    every task (``worker_util.setup_spark_files``).  Before Python 3.13 that
    makes each cached ``zipimporter`` re-read its archive's central
    directory in pure Python: pyspark.zip, the spark-core jar and the
    ``--py-files`` zip cost 0.2–0.4 s per task.  Dropping the importers
    leaves that call nothing to re-read.  Loaded modules stay in
    ``sys.modules``, and a later import from an archive rebuilds its
    importer through ``sys.path_hooks`` from
    ``zipimport._zip_directory_cache``; the archives do not change while a
    worker lives.
    """
    for path, finder in list(sys.path_importer_cache.items()):
        if isinstance(finder, zipimport.zipimporter):
            del sys.path_importer_cache[path]


def convert_document(
    html: str | None,
    base_url: str | None = None,
    source_url: str | None = None,
    max_content_length: int | None = None,
) -> tuple[str, str, str | None, list[dict], int]:
    """The per-document conversion chain: preprocess → to_markdown (with
    the cleanup fallback, parity FetchEngine.ts:138-141) → postprocess →
    source-url injection → markdown_to_spans.

    Never raises.  ``error`` is one of:

    - ``None``;
    - ``ERR_PREPROCESS_FALLBACK``: preprocess fell back to the cleaned raw
      HTML, which is postprocessed and segmented as the markdown;
    - ``ERR_MARKDOWN_CONVERSION_FALLBACK``: serialization failed, and the
      cleaned raw HTML is postprocessed and segmented instead;
    - ``ERR_EXTRACTION: <type>: <message>``, cut at 500 characters, with
      empty markdown and spans.

    Returns ``(title, markdown, error, spans, in_bytes)``.
    """
    from .convert.converter import (
        MarkdownConverter,
        cleanup_content_html,
        cleanup_html,
        inject_source_url,
        postprocess_markdown,
    )
    from .convert.serialize import to_markdown

    error = None
    title = ""
    markdown = ""
    in_bytes = 0
    try:
        html = html or ""
        in_bytes = len(html.encode("utf-8", "ignore"))
        content, title = MarkdownConverter().preprocess(html, base_url)
        if isinstance(content, str):
            markdown = content
            error = "ERR_PREPROCESS_FALLBACK"
        else:
            try:
                markdown = to_markdown(content)
            except Exception:
                markdown = cleanup_content_html(cleanup_html(html))
                error = "ERR_MARKDOWN_CONVERSION_FALLBACK"
        markdown = postprocess_markdown(markdown, max_content_length)
        if source_url:
            markdown = inject_source_url(markdown, source_url)
        out_spans = markdown_to_spans(markdown) if markdown else []
    except Exception as exc:  # never fail the stage on one bad doc
        error = f"ERR_EXTRACTION: {type(exc).__name__}: {exc}"[:500]
        out_spans = []
        markdown = ""
    return title, markdown, error, out_spans, in_bytes


def _offsets_buffer(lengths):
    """int32 Arrow offsets (``0`` then the running sums of ``lengths``);
    raises ``OverflowError`` once a sum passes the int32 range."""
    import pyarrow as pa

    return pa.py_buffer(array("i", itertools.accumulate(lengths, initial=0)))


def _arrow_array(values: list, type_):
    """One Arrow array of ``type_`` from a list of Python values.

    Builds the buffers itself and hands them to ``pa.Array.from_buffers``:
    in pyarrow 16, ``pa.array`` and ``RecordBatch.from_pydict`` import
    pandas (+41 MB per worker, unused by the extraction stage).  Covers
    ``OUTPUT_SCHEMA``'s Arrow types (string, int32, int64, list and struct
    of those); ``None`` is null, and a validity bitmap is built only for a
    column that holds one.  Raises ``TypeError`` on any other type and
    ``OverflowError`` when a string or list column's offsets pass int32.
    """
    import pyarrow as pa

    n = len(values)
    null_count = values.count(None)
    validity = None
    if null_count:
        # LSB-first bitmap: value i is bit i of a little-endian integer
        bits = "".join("0" if v is None else "1" for v in reversed(values))
        validity = pa.py_buffer(int(bits, 2).to_bytes((n + 7) // 8, "little"))
    if pa.types.is_string(type_):
        data = [b"" if v is None else v.encode() for v in values]
        buffers = [validity, _offsets_buffer(map(len, data)), pa.py_buffer(b"".join(data))]
        return pa.Array.from_buffers(type_, n, buffers, null_count=null_count)
    if pa.types.is_int32(type_) or pa.types.is_int64(type_):
        ints = [0 if v is None else v for v in values] if null_count else values
        data = pa.py_buffer(array("i" if pa.types.is_int32(type_) else "q", ints))
        return pa.Array.from_buffers(type_, n, [validity, data], null_count=null_count)
    if pa.types.is_list(type_):
        lists = [() if v is None else v for v in values]
        child = _arrow_array([x for v in lists for x in v], type_.value_type)
        buffers = [validity, _offsets_buffer(map(len, lists))]
        return pa.Array.from_buffers(type_, n, buffers, null_count=null_count, children=[child])
    if pa.types.is_struct(type_):
        if null_count:
            empty = dict.fromkeys(f.name for f in type_)
            values = [empty if v is None else v for v in values]
        children = [_arrow_array(list(map(itemgetter(f.name), values)), f.type) for f in type_]
        return pa.Array.from_buffers(
            type_, n, [validity], null_count=null_count, children=children
        )
    raise TypeError(f"no Arrow builder for {type_}")


def _extract_arrow_batches(
    batches, emit_markdown: bool = True, max_content_length: int | None = None
):
    """The extraction stage's Python side (``mapInArrow``): consumes
    RecordBatches of ``(doc_id[, base_url, source_url], html)``, with
    ``html`` assembled JVM-side by :func:`html_assembly_expr`, and builds
    the ``OUTPUT_SCHEMA`` arrays directly.

    With ``emit_markdown=False`` the markdown column is emitted as nulls —
    it never crosses the Arrow boundary (the span array already carries
    the content; at corpus scale this halves the stage's output bytes)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    _drop_zip_importers()
    out_schema = to_arrow_schema(OUTPUT_SCHEMA)

    for batch in batches:
        cols = batch.to_pydict()
        n = batch.num_rows
        out = {name: [] for name in out_schema.names}
        out["doc_id"] = cols["doc_id"]
        for html, base_url, source_url in zip(
            cols["html"], cols.get("base_url", [None] * n), cols.get("source_url", [None] * n)
        ):
            t0 = time.perf_counter()
            title, markdown, error, spans, in_bytes = convert_document(
                html, base_url, source_url, max_content_length
            )
            out["title"].append(title)
            out["spans"].append(spans)
            out["markdown"].append(markdown if emit_markdown else None)
            out["error"].append(error)
            out["in_bytes"].append(in_bytes)
            out["out_bytes"].append(len(markdown.encode("utf-8", "ignore")))
            out["wall_us"].append(int((time.perf_counter() - t0) * 1_000_000))
        yield pa.RecordBatch.from_arrays(
            [_arrow_array(out[f.name], f.type) for f in out_schema], schema=out_schema
        )


def salted_repartition(df: DataFrame, num_partitions: int, salt_buckets: int = 16) -> DataFrame:
    """Salted repartition on doc_id (north_rule skew handling).

    The salt must be row-unique, not a function of doc_id (a doc_id-derived
    salt has the identical key distribution to doc_id alone and mitigates
    nothing), so rows sharing a hot doc_id — re-crawls, sharded documents —
    spread across ``salt_buckets`` partitions instead of hash-pinning one.
    The salt only affects row placement, so monotonically_increasing_id's
    nondeterminism across task retries is safe here.  Single-giant-ROW skew
    cannot be split by any repartition; it is bounded instead by
    spark.sql.execution.arrow.maxRecordsPerBatch (see extract_spans).
    """
    salted = df.withColumn(
        "_salt", F.pmod(F.monotonically_increasing_id(), F.lit(salt_buckets))
    )
    return salted.repartition(num_partitions, "doc_id", "_salt").drop("_salt")


def html_assembly_expr(spans_col: str = "spans"):
    """JVM-side document assembly: html-kind span texts joined in offset
    order, entirely in native expressions.  Offsets are the span-order key
    and unique per document by the data-model contract (TESTDATA/
    FIXTURES); ties would fall back to engine sort order.  Keeping this
    projection JVM-side means the list<struct> span column never crosses
    the Arrow boundary — only the one joined string per document does
    (kind/media_ref/offset bytes and per-span Python dicts are never
    shipped or built).

    Null offsets (contract-violating but tolerated) order LAST, stable
    among themselves.  Null or empty span arrays and documents without
    html text yield an empty string (or null), never an error.

    Written as one SQL string: the ``F.filter``/``F.array_sort`` lambda
    builders cost 0.1–0.2 s of py4j round trips per call, paid on every
    ``extract_spans`` plan."""
    spans = "`" + spans_col.replace("`", "``") + "`"
    return F.expr(
        f"""array_join(transform(array_sort(
              filter({spans}, s -> s.kind = 'html' AND s.text IS NOT NULL AND s.text != ''),
              (l, r) -> CASE WHEN l.`offset` IS NULL AND r.`offset` IS NULL THEN 0
                             WHEN l.`offset` IS NULL THEN 1
                             WHEN r.`offset` IS NULL THEN -1
                             WHEN l.`offset` < r.`offset` THEN -1
                             WHEN l.`offset` > r.`offset` THEN 1
                             ELSE 0 END),
            s -> s.text), '')"""
    )


def extract_spans(
    documents: DataFrame,
    num_partitions: int | None = None,
    keep_markdown: bool = True,
    max_content_length: int | None = None,
) -> DataFrame:
    """documents(doc_id, spans[, base_url, canonical_url, source_url]) →
    outputs(doc_id, title, spans, markdown, error, metrics cols).

    One path: the span→html document assembly runs as a native projection
    (:func:`html_assembly_expr`, so the span structs never cross into
    Python), then one ``mapInArrow`` stage runs :func:`convert_document`
    per document.  ``num_partitions`` salt-repartitions the input first;
    ``keep_markdown=False`` drops the markdown column.
    """
    df = documents
    if num_partitions:
        df = salted_repartition(df, num_partitions)
    # canonical_url is part of the documents contract but unused by the
    # conversion chain — excluding it here keeps it off the Arrow boundary
    cols = [c for c in ("doc_id", "base_url", "source_url") if c in df.columns]
    sel = df.select(*cols, html_assembly_expr("spans").alias("html"))
    out = sel.mapInArrow(
        functools.partial(
            _extract_arrow_batches,
            emit_markdown=keep_markdown,
            max_content_length=max_content_length,
        ),
        schema=OUTPUT_SCHEMA,
    )
    if not keep_markdown:
        out = out.drop("markdown")
    return out


# --- span-sequence equality verification (SURVEY.md Phase 4) ----------------


def span_equality_report(produced: DataFrame, expected: DataFrame) -> DataFrame:
    """Per-doc span-sequence equality on (kind, text, media_ref, order).

    posexplode both sides, full-outer join on (doc_id, pos) — the array
    POSITION, which is what "order" means in the north-rule invariant —
    any mismatch on (kind, text, media_ref) fails the doc.  Returns
    ``(doc_id, n_mismatched, equal)``.

    Joining on position (not the span's own offset field) keeps the report
    correct for contract-violating inputs: a null or duplicated offset
    would null-out or fan-out an offset-keyed join and report mismatches
    between identical sequences.  Callers must therefore hand in arrays in
    span order (extraction output already is; golden fixtures sort by
    offset at assembly).
    """

    def explode(df: DataFrame, prefix: str) -> DataFrame:
        return df.select(
            "doc_id", F.posexplode_outer("spans").alias("pos", "span")
        ).select(
            "doc_id",
            "pos",
            F.col("span.kind").alias(f"{prefix}_kind"),
            F.col("span.text").alias(f"{prefix}_text"),
            F.col("span.media_ref").alias(f"{prefix}_media_ref"),
        )

    p = explode(produced, "p")
    e = explode(expected, "e")
    joined = p.join(e, ["doc_id", "pos"], "full_outer")
    mismatch = (
        (~F.col("p_kind").eqNullSafe(F.col("e_kind")))
        | (~F.col("p_text").eqNullSafe(F.col("e_text")))
        | (~F.col("p_media_ref").eqNullSafe(F.col("e_media_ref")))
    )
    return (
        joined.withColumn("is_mismatch", mismatch.cast("int"))
        .groupBy("doc_id")
        .agg(F.sum("is_mismatch").alias("n_mismatched"))
        .withColumn("equal", F.col("n_mismatched") == 0)
    )
