"""Query registry over the extraction product.

``entry(spark)`` smoke-runs the flagship extraction.  ``queries()`` maps a
name to a function ``fn(spark, sf_dir) -> DataFrame`` for the extraction
path, its page classifiers, WARC ingest, the checkpoint-resume anti-join,
the span invariants and PDF parse.  ``oracle_sql()`` gives every query its
DuckDB twin; ``scripts/check_oracle.py`` runs both and compares the rows.

Fixture-scoped queries read the committed golden parquet under
``data/fixtures/`` (built by scripts/build_fixture_data.py from the
reference's own test pages); ``resume_anti_join`` runs on the sf table
``documents``.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

REPO = os.path.dirname(os.path.abspath(__file__))
FIXTURES_DIR = os.path.join(REPO, "data", "fixtures")

_shipped = set()


def _prep(spark: SparkSession) -> None:
    """Make the package importable on executors regardless of their cwd."""
    import sys

    if REPO not in sys.path:
        sys.path.insert(0, REPO)
    key = id(spark)
    if key not in _shipped:
        try:
            from fetch_engines_spark.packaging import ship_package

            ship_package(spark)
        except Exception:
            pass  # same-cwd local mode still works without the zip
        _shipped.add(key)


def _read(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _fixture(spark: SparkSession, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(FIXTURES_DIR, f"{name}.parquet"))


# ---------------------------------------------------------------------------
# entry: flagship extraction over sf0.001
# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: wrap the sf0.001 documents in minimal HTML, run the full
    extraction UDF, return per-doc span summaries (rows > 0, stable schema)."""
    _prep(spark)
    from fetch_engines_spark.extract import extract_spans

    docs = _read(spark, "/root/testdata/sf0.001", "documents")
    spans_docs = docs.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.lit(None).cast("string").alias("base_url"),
        F.lit(None).cast("string").alias("canonical_url"),
        F.array(
            F.struct(
                F.lit("html").alias("kind"),
                F.concat(
                    F.lit("<html><head><title>doc "),
                    F.col("doc_id").cast("string"),
                    F.lit("</title></head><body><main><h1>Document</h1><p>"),
                    F.col("text"),
                    F.lit("</p></main></body></html>"),
                ).alias("text"),
                F.lit(None).cast("string").alias("media_ref"),
                F.lit(0).cast("int").alias("offset"),
            )
        ).alias("spans"),
    )
    out = extract_spans(spans_docs, num_partitions=8, keep_markdown=False)
    return out.select(
        "doc_id",
        "title",
        F.size("spans").alias("n_spans"),
        F.col("error").isNotNull().alias("failed"),
        "out_bytes",
    )


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------


def _q_extract_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2E extraction: fixture pages → UDF → exploded ordered spans."""
    _prep(spark)
    from fetch_engines_spark.extract import extract_spans

    docs = _fixture(spark, "documents_spans")
    out = extract_spans(docs, keep_markdown=False)
    return out.select("doc_id", F.explode("spans").alias("s")).select(
        "doc_id",
        F.col("s.offset").alias("offset"),
        F.col("s.kind").alias("kind"),
        F.col("s.text").alias("text"),
        F.col("s.media_ref").alias("media_ref"),
    )


def _q_extract_markdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    _prep(spark)
    from fetch_engines_spark.extract import extract_spans

    docs = _fixture(spark, "documents_spans")
    return extract_spans(docs, keep_markdown=True).select("doc_id", "title", "markdown")


def _q_shell_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    _prep(spark)
    from fetch_engines_spark import classifiers as X

    pages = _fixture(spark, "pages")
    cols = X.assess_html_render_need(F.col("html"))
    return pages.select(
        "doc_id",
        cols["visible_text_length"].alias("visible_text_length"),
        cols["title_length"].alias("title_length"),
        cols["script_count"].cast("long").alias("script_count"),
        cols["heading_count"].cast("long").alias("heading_count"),
        cols["has_main_like"].alias("has_main_like"),
        cols["has_empty_root_container"].alias("has_empty_root_container"),
        cols["render_likely_needed_score"].cast("long").alias("render_score"),
        cols["render_likely_needed"].alias("render_likely_needed"),
        cols["quality_score"].cast("long").alias("quality_score"),
    )


def _q_soft_block(spark: SparkSession, sf_dir: str) -> DataFrame:
    _prep(spark)
    from fetch_engines_spark import classifiers as X

    pages = _fixture(spark, "pages")
    return pages.select(
        "doc_id",
        X.is_soft_block(F.col("html")).alias("soft_block"),
        X.is_challenge_page(F.col("html")).alias("challenge"),
    )


def _q_title_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    _prep(spark)
    from fetch_engines_spark import classifiers as X

    pages = _fixture(spark, "pages")
    return pages.select("doc_id", X.extracted_title(F.col("html")).alias("title"))


def _q_classifier_assessment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full per-page classifier assessment in ONE multi-column pass:
    X1 title extract, X2 visible-text length, X4 quality score, X5
    shell/render-need signals and score, X6 soft-block, X9 challenge
    keywords (reference: dist/utils/render-detection.js — all fields also
    differentially verified in tests/test_differential_render_detection.py).
    One row per page, every signal riding the same scan — the driver-gated
    representative for the whole classifier family."""
    _prep(spark)
    from fetch_engines_spark import classifiers as X

    pages = _fixture(spark, "pages")
    cols = X.assess_html_render_need(F.col("html"))
    return pages.select(
        "doc_id",
        X.extracted_title(F.col("html")).alias("title"),
        cols["visible_text_length"].alias("visible_text_length"),
        cols["title_length"].alias("title_length"),
        cols["script_count"].cast("long").alias("script_count"),
        cols["heading_count"].cast("long").alias("heading_count"),
        cols["has_main_like"].alias("has_main_like"),
        cols["has_empty_root_container"].alias("has_empty_root_container"),
        cols["render_likely_needed_score"].cast("long").alias("render_score"),
        cols["render_likely_needed"].alias("render_likely_needed"),
        cols["quality_score"].cast("long").alias("quality_score"),
        X.is_soft_block(F.col("html")).alias("soft_block"),
        X.is_challenge_page(F.col("html")).alias("challenge"),
    )


def _q_pdf_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PDF/layout parse (north_rule): text-PDF payloads → ordered spans in
    the same span model as HTML extraction; the oracle is the generator's
    record of what was placed on each page (writer and parser are
    independent code paths)."""
    _prep(spark)
    from fetch_engines_spark.pdf import extract_pdf_spans

    pdfs = _fixture(spark, "pdfs")
    out = extract_pdf_spans(pdfs)
    return out.select(
        "doc_id",
        "n_pages",
        F.when(F.col("error").isNotNull(), F.lit("ERR_PDF")).alias("error_prefix"),
        F.explode_outer("spans").alias("s"),
    ).select(
        "doc_id",
        "n_pages",
        "error_prefix",
        F.col("s.offset").alias("offset"),
        F.col("s.kind").alias("kind"),
        F.col("s.text").alias("text"),
    )


def _q_extract_markdown_truncated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M13 truncation driver-gated: extraction with max_content_length=400
    (sentence-boundary cut + '... (truncated)' suffix) vs the committed
    truncated golden."""
    _prep(spark)
    from fetch_engines_spark.extract import extract_spans

    docs = _fixture(spark, "documents_spans")
    return extract_spans(docs, keep_markdown=True, max_content_length=400).select(
        "doc_id", "title", "markdown"
    )


def _q_warc_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC ingestion (the Common Crawl landing format): the gzip-member
    fixture archive parsed to one row per record — warcinfo, request,
    HTML/text/binary responses with HTTP head split off (status +
    content-type extracted, payload = HTTP body).  Oracle = the
    generator's independent record table (payload compared by md5)."""
    from fetch_engines_spark.warc import read_warc

    w = read_warc(spark, os.path.join(FIXTURES_DIR, "warc", "sample.warc.gz"))
    return w.select(
        "record_id", "warc_type", "url", "warc_date", "content_type",
        "content_length", "http_status", "http_content_type",
        F.md5("payload").alias("payload_md5"),
        F.length("payload").cast("long").alias("payload_bytes"),
    )


def _q_resume_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Checkpoint-resume shape: input anti-join completed ledger keys."""
    docs = _read(spark, sf_dir, "documents")
    completed = docs.select("doc_id").filter(F.col("doc_id") % 4 == 0)
    remaining = docs.join(completed, "doc_id", "left_anti")
    return remaining.groupBy("source").agg(F.count("*").alias("n_remaining"))


def _q_span_order_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span ordering invariant over the golden spans: row_number == offset+1."""
    spans = _fixture(spark, "expected_spans")
    w = Window.partitionBy("doc_id").orderBy("offset")
    return (
        spans.withColumn("rn", F.row_number().over(w))
        .withColumn("order_ok", F.col("rn") == F.col("offset") + 1)
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_spans"),
            F.min(F.col("order_ok").cast("int")).alias("all_ordered"),
            F.count_distinct("kind").alias("n_kinds"),
        )
    )


def _q_span_equality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The north-star invariant as a query: LIVE extraction vs the golden
    spans, per-doc span-sequence equality on (kind, text, media_ref,
    order).  The oracle asserts every doc matches — any drift in the
    extraction chain flips `equal` and fails the gate."""
    _prep(spark)
    from fetch_engines_spark.extract import extract_spans, span_equality_report

    docs = _fixture(spark, "documents_spans")
    produced = extract_spans(docs, keep_markdown=False).select("doc_id", "spans")
    # offset-first struct so array_sort yields span order — the report
    # joins on array POSITION, so golden arrays must be offset-ordered
    golden = (
        _fixture(spark, "expected_spans")
        .groupBy("doc_id")
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("offset", "kind", "text", "media_ref"))
                ),
                lambda s: F.struct(
                    s["kind"].alias("kind"),
                    s["text"].alias("text"),
                    s["media_ref"].alias("media_ref"),
                    s["offset"].alias("offset"),
                ),
            ).alias("spans")
        )
    )
    # docs whose golden output is empty (app shells) have no golden rows;
    # restore them with empty span arrays so every doc gets a verdict
    all_docs = docs.select("doc_id")
    golden_full = all_docs.join(golden, "doc_id", "left").select(
        "doc_id", F.coalesce("spans", F.array().cast(produced.schema["spans"].dataType)).alias("spans")
    )
    return span_equality_report(produced, golden_full).select(
        "doc_id", "n_mismatched", "equal"
    )


def _q_media_ref_carry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """north_rule media carry-through: media refs present in golden output."""
    spans = _fixture(spark, "expected_spans")
    return (
        spans.filter(F.col("media_ref").isNotNull())
        .select("doc_id", "kind", "media_ref")
        .orderBy("doc_id", "media_ref")
    )



def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Query registry: the extraction path, its classifiers, WARC ingest,
    checkpoint-resume and span-invariant gates, and PDF parse.  Every
    entry has a twin in :func:`oracle_sql`."""
    return {
        "extract_spans_fixture": _q_extract_spans,
        "extract_markdown_fixture": _q_extract_markdown,
        "classifier_assessment": _q_classifier_assessment,
        "pdf_extract": _q_pdf_extract,
        "warc_ingest": _q_warc_ingest,
        "resume_anti_join": _q_resume_anti_join,
        "extract_markdown_truncated": _q_extract_markdown_truncated,
        "classifier_shell_score": _q_shell_score,
        "classifier_soft_block": _q_soft_block,
        "classifier_title_extract": _q_title_extract,
        "span_order_window": _q_span_order_window,
        "span_equality_gate": _q_span_equality,
        "media_ref_carry": _q_media_ref_carry,
    }


# ---------------------------------------------------------------------------
# oracle SQL (DuckDB)
# ---------------------------------------------------------------------------

_EXPECTED_SPANS = os.path.join(FIXTURES_DIR, "expected_spans.parquet")
_EXPECTED_MD = os.path.join(FIXTURES_DIR, "expected_markdown.parquet")
_PAGES = os.path.join(FIXTURES_DIR, "pages.parquet")

# DuckDB twin of the X2 visible-text stripper + entity decode (macro-free,
# inlined): applied to a column expression named html.
_VIS = (
    "trim(regexp_replace("
    "regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace("
    "regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace("
    "html,"
    " '<!--[\\s\\S]*?-->', ' ', 'g'),"
    " '(?i)<script[\\s\\S]*?</script>', ' ', 'g'),"
    " '(?i)<style[\\s\\S]*?</style>', ' ', 'g'),"
    " '(?i)<svg[\\s\\S]*?</svg>', ' ', 'g'),"
    " '(?i)<noscript[\\s\\S]*?</noscript>', ' ', 'g'),"
    " '<[^>]+>', ' ', 'g'),"
    " '(?i)&nbsp;', ' ', 'g'),"
    " '(?i)&amp;', '&', 'g'),"
    " '(?i)&lt;', '<', 'g'),"
    " '(?i)&gt;', '>', 'g'),"
    " '\\s+', ' ', 'g'))"
)
_TITLE_RAW = "regexp_extract(html, '(?i)<title[^>]*>([\\s\\S]*?)</title>', 1)"
# X1 (engine-level) title uses the stricter FetchEngine regex (constants.ts:27)
_TITLE_X1 = "regexp_extract(html, '<title[^>]*>([^<]+)</title>', 1)"
_TITLE_LEN = (
    "length(trim(regexp_replace(regexp_replace(regexp_replace("
    + _TITLE_RAW
    + ", '(?i)&nbsp;', ' ', 'g'), '(?i)&amp;', '&', 'g'), '\\s+', ' ', 'g')))"
)

_SHELL_SQL = f"""
WITH base AS (
  SELECT doc_id, html,
    length(html) AS html_length,
    length({_VIS}) AS visible_text_length,
    {_TITLE_LEN} AS title_length,
    len(regexp_extract_all(html, '(?i)<script\\b')) AS script_count,
    len(regexp_extract_all(html, '(?i)<h[1-3][^>]*>')) AS heading_count,
    regexp_matches(html, '(?i)<(?:main|article)[^>]*>') AS has_main_like,
    regexp_matches(html, '(?i)<(?:div|main|section)[^>]+id=["'']?(?:root|app)\\b["'']?[^>]*>') AS has_root_container,
    regexp_matches(html, '(?i)<div[^>]+id=["'']?(?:root|app)\\b["'']?[^>]*>\\s*(?:<!--[\\s\\S]*?-->\\s*)*</div>') AS has_empty_root_container,
    regexp_matches(html, '(?i)<noscript[\\s\\S]*?(enable javascript|requires javascript|javascript to run)') AS has_noscript_enable_js
  FROM '{_PAGES}'
),
scored AS (
  SELECT *,
    (CASE WHEN title_length = 0 THEN 3 ELSE 0 END
     + CASE WHEN visible_text_length < 80 THEN 3 ELSE 0 END
     + CASE WHEN has_empty_root_container THEN 3 ELSE 0 END
     + CASE WHEN has_noscript_enable_js THEN 2 ELSE 0 END
     + CASE WHEN html_length < 2000 THEN 1 ELSE 0 END
     + CASE WHEN script_count >= 3 AND visible_text_length < 200 THEN 1 ELSE 0 END
     + CASE WHEN has_root_container AND visible_text_length < 160 THEN 1 ELSE 0 END
     + CASE WHEN NOT has_main_like AND heading_count = 0 AND visible_text_length < 120 THEN 1 ELSE 0 END
    ) AS render_score,
    (least(6, CAST(floor(visible_text_length / 120) AS BIGINT))
     + least(2, CAST(floor(title_length / 12) AS BIGINT))
     + CASE WHEN has_main_like THEN 2 ELSE 0 END
     + CASE WHEN heading_count > 0 THEN 1 ELSE 0 END
     - CASE WHEN has_empty_root_container THEN 3 ELSE 0 END
     - CASE WHEN title_length = 0 THEN 2 ELSE 0 END
     - CASE WHEN visible_text_length < 80 THEN 2 ELSE 0 END
    ) AS quality_score
  FROM base
)
SELECT doc_id, visible_text_length, title_length, script_count, heading_count,
       has_main_like, has_empty_root_container, render_score,
       render_score >= 4 AS render_likely_needed, quality_score
FROM scored
"""

_SOFT_BLOCK_SQL = f"""
SELECT doc_id,
  CASE WHEN length({_VIS}) > 1500 THEN false
       ELSE regexp_matches({_TITLE_RAW},
              '(?i)just a moment|attention required|access denied|please wait|one more step|checking your browser|security check|you have been blocked|blocked by|are you a robot')
            OR regexp_matches(html,
              '(?i)checking your browser|verify you.{{0,10}}(?:are |''re )?(?:not a )?(?:ro)?bot|verify you.{{0,10}}human|please complete the security check|cf-challenge|captcha-container|hcaptcha|recaptcha|cf-turnstile|enable (?:javascript|cookies) to (?:continue|access|view)|automated (?:access|request)|bot detect|suspicious activity|unusual traffic|too many requests|rate limit exceeded|we need to verify')
  END AS soft_block,
  regexp_matches(html, '(?i)cloudflare|checking your browser|please wait|verification|captcha|attention required') AS challenge
FROM '{_PAGES}'
"""


def oracle_sql() -> dict[str, str]:
    return {
        "extract_spans_fixture": f'SELECT doc_id, "offset", kind, text, media_ref FROM \'{_EXPECTED_SPANS}\'',
        "extract_markdown_fixture": f"SELECT doc_id, title, markdown FROM '{_EXPECTED_MD}'",
        "extract_markdown_truncated": (
            "SELECT doc_id, title, markdown FROM "
            f"'{os.path.join(FIXTURES_DIR, 'expected_markdown_truncated.parquet')}'"
        ),
        "classifier_shell_score": _SHELL_SQL,
        "classifier_soft_block": _SOFT_BLOCK_SQL,
        "classifier_title_extract": f"SELECT doc_id, trim({_TITLE_X1}) AS title FROM '{_PAGES}'",
        "classifier_assessment": f"""
            WITH shell AS ({_SHELL_SQL}),
            soft AS ({_SOFT_BLOCK_SQL}),
            t AS (SELECT doc_id, trim({_TITLE_X1}) AS title FROM '{_PAGES}')
            SELECT t.doc_id, t.title,
                   shell.visible_text_length, shell.title_length, shell.script_count,
                   shell.heading_count, shell.has_main_like, shell.has_empty_root_container,
                   shell.render_score, shell.render_likely_needed, shell.quality_score,
                   soft.soft_block, soft.challenge
            FROM t
            JOIN shell ON t.doc_id = shell.doc_id
            JOIN soft ON t.doc_id = soft.doc_id
        """,
        "warc_ingest": f"""
            SELECT record_id, warc_type, url, warc_date, content_type,
                   content_length, http_status, http_content_type,
                   payload_md5, payload_bytes
            FROM read_parquet('{os.path.join(FIXTURES_DIR, "warc_expected.parquet")}')
        """,
        "resume_anti_join": """
            SELECT source, count(*) AS n_remaining
            FROM documents
            WHERE doc_id NOT IN (SELECT doc_id FROM documents WHERE doc_id % 4 = 0)
            GROUP BY source
        """,
        "span_order_window": f"""
            WITH r AS (
              SELECT doc_id, "offset", kind,
                     row_number() OVER (PARTITION BY doc_id ORDER BY "offset") AS rn
              FROM '{_EXPECTED_SPANS}'
            )
            SELECT doc_id, count(*) AS n_spans,
                   min(CASE WHEN rn = "offset" + 1 THEN 1 ELSE 0 END) AS all_ordered,
                   count(DISTINCT kind) AS n_kinds
            FROM r GROUP BY doc_id
        """,
        "span_equality_gate": f"""
            SELECT p.doc_id, 0 AS n_mismatched, true AS equal
            FROM (SELECT DISTINCT doc_id FROM '{os.path.join(FIXTURES_DIR, "documents_spans.parquet")}') p
        """,
        "media_ref_carry": f"""
            SELECT doc_id, kind, media_ref FROM '{_EXPECTED_SPANS}'
            WHERE media_ref IS NOT NULL ORDER BY doc_id, media_ref
        """,
        "pdf_extract": f"""
            SELECT doc_id, exp_n_pages AS n_pages, exp_error_prefix AS error_prefix,
                   s."offset" AS "offset", s.kind, s.text
            FROM (
              SELECT doc_id, exp_n_pages, exp_error_prefix,
                     unnest(CASE WHEN len(exp_spans) = 0 THEN [NULL::STRUCT(kind VARCHAR, text VARCHAR, media_ref VARCHAR, "offset" INTEGER)] ELSE exp_spans END) AS s
              FROM read_parquet('{os.path.join(FIXTURES_DIR, "pdfs.parquet")}')
            )
        """,
    }
