"""Query registry over the ``fetch_engines_spark`` operators.

``entry(spark)`` smoke-runs the flagship extraction.  ``queries()`` maps a
name to a function ``fn(spark, sf_dir) -> DataFrame`` for each extraction,
classification, ingestion, text, dedup, similarity and media operator.
``oracle_sql()`` gives every query its DuckDB twin;
``scripts/check_oracle.py`` runs both and compares the rows.

Fixture-scoped queries read the committed golden parquet under
``data/fixtures/`` (built by scripts/build_fixture_data.py from the
reference's own test pages); the pipeline queries run on the sf tables
``documents``, ``embeddings`` and ``events``.
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


def _q_dedup_simhash_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-guarded SimHash pairs at the web-scale config (64-bit
    signatures, 4 × 16-bit pigeonhole blocks) over the adversarial corpus
    (5000 byte-identical boilerplate docs — every block value collides):
    max_bucket_size routes the hot buckets to the linear signature-star
    path, so the boilerplate family yields 4999 pairs instead of a
    12.5M-row quadratic self-join.  Closes the round-3 scale defect via
    the shared pipelines.candidates.bucket_pairs guard."""
    from fetch_engines_spark.pipelines.dedup import simhash_candidate_pairs64

    docs = _fixture(spark, "adversarial")
    return simhash_candidate_pairs64(docs, max_hamming=3, max_bucket_size=50)


def _q_dedup_simhash64_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uncapped 64-bit SimHash pigeonhole pairs over the documents table
    (recall EXACT for hamming ≤ 3 by construction; 16-bit blocks keep
    expected bucket size at N/65,536)."""
    from fetch_engines_spark.pipelines.dedup import simhash_candidate_pairs64

    docs = _read(spark, sf_dir, "documents")
    return simhash_candidate_pairs64(docs, max_hamming=3)


def _q_doc_hashed_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text → embedding by the signed hashing trick (integer weights,
    long form) — the in-engine embedding generator that completes the
    text→embedding→ANN retrieval stack (end-to-end test:
    tests/test_pipelines.py::test_text_to_ann_retrieval_end_to_end)."""
    from fetch_engines_spark.pipelines.text import hashed_embedding_entries

    docs = _read(spark, sf_dir, "documents")
    return hashed_embedding_entries(docs, dims=64)


def _q_doc_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 salient terms per document (rational tf-idf, integer-exact)."""
    from fetch_engines_spark.pipelines.text import doc_term_scores

    docs = _read(spark, sf_dir, "documents")
    return doc_term_scores(docs, k=5)


def _q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fetch_engines_spark.pipelines.text import lang_id

    docs = _read(spark, sf_dir, "documents")
    return lang_id(docs).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "hits_en",
        "hits_de",
        "hits_es",
        "hits_fr",
        "lang_guess",
    )


def _q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fetch_engines_spark.pipelines.text import quality_features

    docs = _read(spark, sf_dir, "documents")
    return quality_features(docs)


def _q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub over documents with deterministic doc_id-derived PII
    injected (the synthetic corpus is PII-free word salad, so the query
    plants one email per doc plus modular IP/phone/SSN strings — the
    oracle twin plants the identical strings in SQL).  Pure native
    regexp expressions riding the scan; no shuffle."""
    from fetch_engines_spark.pipelines.pii import pii_features

    docs = _read(spark, sf_dir, "documents")
    injected = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com"),
            F.when(
                F.col("doc_id") % 3 == 0,
                F.concat(
                    F.lit(" host 10.0."),
                    (F.col("doc_id") % 200).cast("string"),
                    F.lit(".7"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 4 == 0, F.lit(" call (555) 123-4567")
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 5 == 0,
                F.concat(
                    F.lit(" ssn 123-45-678"),
                    (F.col("doc_id") % 10).cast("string"),
                ),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    return pii_features(injected).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "n_email",
        "n_ip",
        "n_ssn",
        "n_phone",
        "redacted_md5",
    )


def _q_lm_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM surprisal quality filter (CCNet-style perplexity gate):
    the reference model is trained on the ``doc_id % 5 < 2`` slice and
    every document is scored against it in integer bits — the corpus
    never shuffles (model broadcasts; one combinable groupBy(doc_id))."""
    from fetch_engines_spark.pipelines.text import lm_surprisal

    docs = _read(spark, sf_dir, "documents")
    return lm_surprisal(
        docs, ref_filter=F.col("doc_id") % 5 < 2, min_count=2
    ).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "n_bigrams",
        "oov_bigrams",
        "total_bits",
        "avg_centibits",
    )


def _q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fetch_engines_spark.pipelines.text import fingerprint

    docs = _read(spark, sf_dir, "documents")
    return docs.select("doc_id", fingerprint(F.col("text")).alias("fp"))


def _q_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing rolling-hash fingerprints, exploded to (doc_id, fp) pairs
    (the dedup-index shape: group by fp → collision candidates)."""
    from fetch_engines_spark.pipelines.spread import spread_scan
    from fetch_engines_spark.pipelines.text import (
        winnowing_shingle_hashes,
        winnowing_window_mins,
    )

    docs = spread_scan(_read(spark, sf_dir, "documents"))
    # two projections on purpose: the hash array materializes once per
    # doc, so the interpreted min stage does not re-hash per reference
    hashed = docs.select(
        "doc_id",
        F.col("text"),
        winnowing_shingle_hashes(F.col("text")).alias("__wh"),
    )
    return hashed.select(
        "doc_id",
        F.explode(winnowing_window_mins(F.col("__wh"), F.col("text"))).alias("fp"),
    )


def _q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fetch_engines_spark.pipelines.dedup import exact_duplicates

    docs = _read(spark, sf_dir, "documents")
    return exact_duplicates(docs)


def _q_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fetch_engines_spark.pipelines.dedup import minhash_signatures

    docs = _read(spark, sf_dir, "documents")
    return minhash_signatures(docs)


def _q_minhash_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fetch_engines_spark.pipelines.dedup import minhash_lsh_buckets

    docs = _read(spark, sf_dir, "documents")
    return minhash_lsh_buckets(docs)


def _q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jaccard verification over a deterministic pair set (adjacent ids)."""
    from fetch_engines_spark.pipelines.dedup import ngram_jaccard

    docs = _read(spark, sf_dir, "documents")
    pairs = docs.select(F.col("doc_id").alias("doc_a")).filter(
        F.col("doc_a") < 40
    ).withColumn("doc_b", F.col("doc_a") + 1)
    return ngram_jaccard(docs, pairs)


def _q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup: even-id docs form the persisted corpus index,
    odd-id docs arrive as the new crawl increment; candidates are
    new-vs-index (band-key join against the index, historical corpus
    never rescanned) plus new-vs-new."""
    from fetch_engines_spark.pipelines.dedup import (
        incremental_candidate_pairs,
        minhash_index,
    )

    docs = _read(spark, sf_dir, "documents")
    old = docs.filter(F.col("doc_id") % 2 == 0)
    new = docs.filter(F.col("doc_id") % 2 == 1)
    return incremental_candidate_pairs(new, minhash_index(old))


def _q_dedup_index_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index lifecycle: the corpus arrives as 3 crawl increments (plus a
    byte-identical re-crawl of every 7th doc), each indexed separately;
    compact_minhash_indexes (union + distinct + strict conflict guard)
    must reproduce the MONOLITHIC index built from the full corpus in
    one shot — which is exactly what the DuckDB twin computes, so the
    hash gate doubles as the merge-then-query equivalence proof."""
    from fetch_engines_spark.pipelines.dedup import (
        compact_minhash_indexes,
        minhash_index,
    )

    docs = _read(spark, sf_dir, "documents")
    incs = [docs.filter(F.col("doc_id") % 3 == i) for i in range(3)]
    recrawl = docs.filter(F.col("doc_id") % 7 == 0)
    idxs = [minhash_index(d) for d in incs + [recrawl]]
    return compact_minhash_indexes(idxs).select("doc_id", "band_id", "band_key")


def _q_ngram_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric (containment) verification over the same deterministic
    pair set as the Jaccard query — catches quote-style duplication
    Jaccard dilutes (|A∩B| / min set size)."""
    from fetch_engines_spark.pipelines.dedup import ngram_containment

    docs = _read(spark, sf_dir, "documents")
    pairs = docs.select(F.col("doc_id").alias("doc_a")).filter(
        F.col("doc_a") < 40
    ).withColumn("doc_b", F.col("doc_a") + 1)
    return ngram_containment(docs, pairs)


def _q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fetch_engines_spark.pipelines.dedup import simhash

    docs = _read(spark, sf_dir, "documents")
    return simhash(docs)


def _q_dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs by the pigeonhole block join (Manku et al.
    shape): 32-bit signatures, 4 blocks, candidate recall EXACT for
    hamming ≤ 3 by construction, integer bit_count verify."""
    from fetch_engines_spark.pipelines.dedup import simhash_candidate_pairs

    docs = _read(spark, sf_dir, "documents")
    return simhash_candidate_pairs(docs, bits=32, n_blocks=4, max_hamming=3)


def _q_embedding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fetch_engines_spark.pipelines.similarity import brute_force_topk

    emb = _read(spark, sf_dir, "embeddings")
    return brute_force_topk(emb, k=5, query_ids=list(range(10)))


def _q_embedding_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-table LSH ANN top-k at the SCALE configuration: 8 tables x 16
    planes (65,536 buckets/table) — candidates per query ~ L*N/2^16, which
    survives 10^9 vectors, unlike the retired single-table 3-plane demo
    (candidates ~ N/8).  Recall vs brute force is gated in
    tests/test_pipelines.py::test_lsh_topk_multi_recall_vs_bruteforce."""
    from fetch_engines_spark.pipelines.similarity import lsh_topk_multi

    emb = _read(spark, sf_dir, "embeddings")
    return lsh_topk_multi(
        emb, k=5, num_tables=8, planes_per_table=16, dims=64, query_ids=list(range(10))
    )


def _q_embedding_topk_lsh_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same scale-config multi-table LSH over the planted near-dup
    corpus, where ANN retrieval is non-vacuous at test scale: each query's
    exact twin (identical vector — collides in every table) and ~0.97-cosine
    near twin must surface.  Complements embedding_topk_lsh, whose random
    sf corpus correctly yields almost no 16-bit bucket collisions."""
    from fetch_engines_spark.pipelines.similarity import lsh_topk_multi

    emb = _fixture(spark, "neardup_embeddings")
    return lsh_topk_multi(
        emb, k=5, num_tables=8, planes_per_table=16, dims=64, query_ids=list(range(12))
    )


def _q_embedding_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF coarse-quantized ANN (broadcast codebook, cell-local search)."""
    from fetch_engines_spark.pipelines.similarity import ivf_topk

    emb = _read(spark, sf_dir, "embeddings")
    return ivf_topk(emb, k=5, n_centroids=8, n_probe=2, query_ids=list(range(10)))


_SCRATCH_DIRS: dict[str, str] = {}


def _scratch_dir(prefix: str) -> str:
    """Per-query scratch dir that reclaims THIS process's predecessor for
    the same prefix: results must stay readable for the caller's lazy
    collect, so the previous tree is deleted only when the next
    invocation supersedes it — repeated bench/correctness rounds stay
    O(one run) of /tmp per process without ever touching another
    process's live scratch (mtime heuristics can't distinguish an
    abandoned tree from a >1h-running stream's checkpoint; ownership
    tracking can)."""
    import shutil
    import tempfile

    prev = _SCRATCH_DIRS.pop(prefix, None)
    if prev:
        shutil.rmtree(prev, ignore_errors=True)
    d = tempfile.mkdtemp(prefix=prefix)
    _SCRATCH_DIRS[prefix] = d
    return d


def _q_streaming_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming extraction over the fixture corpus: land the
    corpus, run the availableNow stream through the real parquet sink,
    read the sink back.  Oracle = the committed goldens, so the streaming
    path is held to the same span/title equality as the batch path."""
    _prep(spark)

    from fetch_engines_spark.streaming import (
        extract_documents_stream,
        read_documents_stream,
    )

    base = _scratch_dir("fes_stream_q_")
    docs = _fixture(spark, "documents_spans")
    docs.write.mode("overwrite").parquet(f"{base}/in")
    q = extract_documents_stream(
        read_documents_stream(spark, f"{base}/in"),
        f"{base}/out",
        f"{base}/ckpt",
        keep_markdown=True,
    ).start()
    q.awaitTermination(timeout=300)
    out = spark.read.parquet(f"{base}/out")
    return out.select("doc_id", "title", F.size("spans").alias("n_spans"), "markdown")


def _q_streaming_windowed_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked tumbling-window aggregation through a REAL stream:
    events land in a file source, run availableNow through
    withWatermark(2h) + 1-day windows into a parquet sink in append mode,
    and the sink is read back.  Append emits exactly the windows sealed by
    the final watermark (max ts − 2h), so the DuckDB twin is the batch
    window aggregation filtered to window_end <= max(ts) − 2h — the
    streamed and batch answers must agree row-for-row."""

    from fetch_engines_spark.streaming import windowed_event_counts

    base = _scratch_dir("fes_winq_")
    ev = _read(spark, sf_dir, "events")
    ev.write.mode("overwrite").parquet(f"{base}/in")
    stream = spark.readStream.schema(ev.schema).parquet(f"{base}/in")
    agg = windowed_event_counts(stream, window_duration="1 day", watermark_delay="2 hours")
    q = (
        agg.writeStream.format("parquet")
        .option("path", f"{base}/out")
        .option("checkpointLocation", f"{base}/ckpt")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout=300)
    out = spark.read.parquet(f"{base}/out")
    return out.select(
        F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        F.date_format("window_end", "yyyy-MM-dd HH:mm:ss").alias("window_end"),
        "event_type",
        "n_events",
    )


def _q_csv_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-enforced CSV source with reject quarantine (same contract as
    the JSONL source): 60 valid rows pass, 2 planted corrupt lines (bad
    numeric, truncated row) route to rejects — asserted in pytest; the
    oracle reads the same file with DuckDB's typed read_csv."""
    from fetch_engines_spark.sources import read_events_csv

    path = os.path.join(FIXTURES_DIR, "events_dump.csv")
    events, _rejects = read_events_csv(spark, path)
    return events.select(
        "event_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts"),
        "user_id",
        "event_type",
        "value",
    )


def _q_streaming_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STREAM interval join with watermarks on both sides: the
    view stream joins the purchase stream on user within [view ts,
    view ts + 1h], run end-to-end through availableNow into a parquet
    sink.  Inner stream-stream joins emit every match (watermarks bound
    STATE, not output), so the oracle is the plain batch interval join."""

    base = _scratch_dir("fes_ssj_")
    ev = _read(spark, sf_dir, "events")
    ev.write.mode("overwrite").parquet(f"{base}/in")
    src = spark.readStream.schema(ev.schema).parquet(f"{base}/in")
    src = src.withColumn("ts", F.col("ts").cast("timestamp"))
    views = (
        src.filter(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("view_id"),
            F.col("user_id").alias("v_user"),
            F.col("ts").alias("v_ts"),
        )
        .withWatermark("v_ts", "2 hours")
    )
    purchases = (
        src.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "2 hours")
    )
    joined = views.join(
        purchases,
        F.expr(
            "v_user = p_user AND p_ts > v_ts AND p_ts <= v_ts + INTERVAL 1 HOUR"
        ),
    ).select(
        "view_id",
        F.col("v_user").alias("user_id"),
        "purchase_id",
        (F.unix_timestamp("p_ts") - F.unix_timestamp("v_ts")).alias("gap_seconds"),
    )
    q = (
        joined.writeStream.format("parquet")
        .option("path", f"{base}/out")
        .option("checkpointLocation", f"{base}/ckpt")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout=300)
    return spark.read.parquet(f"{base}/out")


def _q_mixed_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end format dispatch over a mixed crawl slice: the MIME router
    (native column) splits the corpus; html rows run the DOM extraction
    stage, pdf rows run the PDF/layout parser, text rows decode directly,
    binary rows pass through — then the branches union back.  This is the
    composed shape of the full engine on a real crawl: one scan, a
    partition-prunable route filter per branch, one Python stage per
    format that needs one."""
    _prep(spark)
    from fetch_engines_spark.classifiers import decode_if_text
    from fetch_engines_spark.extract import extract_spans
    from fetch_engines_spark.pdf import extract_pdf_spans
    from fetch_engines_spark.routing import route_content_format

    mixed = _fixture(spark, "mixed_content").withColumn(
        "route", route_content_format(F.col("mime"))
    )

    html_docs = mixed.filter(F.col("route") == "html").select(
        F.col("content_id").alias("doc_id"),
        F.lit(None).cast("string").alias("base_url"),
        F.lit(None).cast("string").alias("canonical_url"),
        F.array(
            F.struct(
                F.lit("html").alias("kind"),
                F.decode("payload", "UTF-8").alias("text"),
                F.lit(None).cast("string").alias("media_ref"),
                F.lit(0).cast("int").alias("offset"),
            )
        ).alias("spans"),
    )
    html_out = extract_spans(html_docs, keep_markdown=False).select(
        F.col("doc_id").alias("content_id"),
        F.lit("html").alias("route"),
        F.size("spans").cast("int").alias("n_spans"),
        F.col("error").isNull().alias("ok"),
    )
    pdf_out = extract_pdf_spans(
        mixed.filter(F.col("route") == "pdf").select(
            F.col("content_id").alias("doc_id"), "payload"
        )
    ).select(
        F.col("doc_id").alias("content_id"),
        F.lit("pdf").alias("route"),
        F.size("spans").cast("int").alias("n_spans"),
        F.col("error").isNull().alias("ok"),
    )
    text_out = mixed.filter(F.col("route") == "text").select(
        "content_id",
        "route",
        F.lit(0).cast("int").alias("n_spans"),
        decode_if_text(F.col("payload"), F.col("mime")).isNotNull().alias("ok"),
    )
    bin_out = mixed.filter(F.col("route") == "binary").select(
        "content_id",
        "route",
        F.lit(0).cast("int").alias("n_spans"),
        (F.length("payload") > 0).alias("ok"),
    )
    return html_out.unionByName(pdf_out).unionByName(text_out).unionByName(bin_out)


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


def _q_streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup: replay the planted-duplicate corpus as an
    availableNow stream through state-backed dropDuplicates on the content
    hash; the surviving distinct-hash set must equal batch DISTINCT."""
    _prep(spark)

    from fetch_engines_spark.streaming import dedup_documents_stream

    base = _scratch_dir("fes_sdedup_q_")
    docs = _fixture(spark, "neardup")
    docs.write.mode("overwrite").parquet(f"{base}/in")
    stream = (
        spark.readStream.schema("doc_id string, text string, family string")
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{base}/in")
    )
    deduped = dedup_documents_stream(stream, text_from_spans=False).select("content_hash")
    q = (
        deduped.writeStream.format("parquet")
        .option("path", f"{base}/out")
        .option("checkpointLocation", f"{base}/ckpt")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout=300)
    return spark.read.parquet(f"{base}/out").select("content_hash")


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


def _q_media_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    _prep(spark)
    from fetch_engines_spark.pipelines.multimodal import extract_media_metadata

    media = _fixture(spark, "media")
    return extract_media_metadata(media)


def _q_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    _prep(spark)
    from fetch_engines_spark.pipelines.multimodal import (
        extract_media_metadata,
        frame_sample_plan,
    )

    media = _fixture(spark, "media")
    return frame_sample_plan(extract_media_metadata(media), every_n=10)


def _q_media_pixel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode over the PNG+GIF+JPEG fixture corpus, dispatched
    by signature: PNG = stdlib inflate + scanline unfilter (all five
    filter types); GIF = sub-block LZW + palette expansion; JPEG =
    baseline Huffman entropy decode + dequant + IDCT + JFIF YCbCr→RGB.
    Pixel sums verified against the generator's record of the raw pixel
    array (the writer filtered/deflated/LZW-compressed/DCT-coded; the
    decoder must invert it all)."""
    from fetch_engines_spark.pipelines.multimodal import png_pixel_stats

    pngs = (
        _fixture(spark, "pngs")
        .unionByName(_fixture(spark, "gifs"))
        .unionByName(_fixture(spark, "jpegs"))
    )
    return png_pixel_stats(pngs).select(
        "media_id", "width", "height", "channels", "pixel_sum",
        F.substring(F.col("error"), 1, 7).alias("error_prefix"),
    )


def _q_media_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode + nearest-neighbor 8x8 resize fused in one Arrow stage over
    the PNG+GIF+JPEG corpus — the thumbnail/pre-crop step of a
    multimodal pipeline; thumbnail pixel sums verified against the
    generator's independent plain-Python resize of the raw pixels."""
    from fetch_engines_spark.pipelines.multimodal import image_resize_stats

    imgs = (
        _fixture(spark, "pngs")
        .unionByName(_fixture(spark, "gifs"))
        .unionByName(_fixture(spark, "jpegs"))
    )
    return image_resize_stats(imgs, out_w=8, out_h=8).select(
        "media_id", "width", "height", "channels", "resized_sum",
        F.substring(F.col("error"), 1, 7).alias("error_prefix"),
    )


def _q_media_dhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit perceptual hash (dHash) fused with real image decode in one
    Arrow stage over all four image corpora (PNG/GIF/JPEG + the near-dup
    corpus): integer luma → 9x8 nearest-neighbor resample →
    adjacent-column comparisons packed MSB-first, plus the four 16-bit
    pigeonhole blocks used for banded near-dup search.  Oracle = the
    generator's plain-Python dHash of the raw pre-encode pixels."""
    from fetch_engines_spark.pipelines.multimodal import image_dhash

    imgs = spark.read.parquet(
        *[
            os.path.join(FIXTURES_DIR, f"{n}.parquet")
            for n in ("pngs", "gifs", "jpegs", "images_neardup")
        ]
    )
    return image_dhash(imgs).select(
        "media_id", "dhash_hex", "b0", "b1", "b2", "b3",
        F.substring(F.col("error"), 1, 7).alias("error_prefix"),
    )


def _q_media_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-duplicate pairs at hamming <= 3 over the planted corpus
    (exact copies, local-edit near-dups, far-apart noise, a 7-image
    uniform 'blank thumbnail' cluster that all hashes to zero): dHash →
    4x16-bit pigeonhole banding → bucketed join via the shared capped
    guard → carried-block hamming verify.  Banding is exact-recall at
    this threshold, so the oracle is the brute-force hamming join over
    the generator's expected blocks — the banded plan must reproduce it
    pair-for-pair."""
    from fetch_engines_spark.pipelines.multimodal import (
        dhash_near_dup_pairs,
        image_dhash,
    )

    nd = spark.read.parquet(os.path.join(FIXTURES_DIR, "images_neardup.parquet"))
    return dhash_near_dup_pairs(image_dhash(nd), max_hamming=3)


def _q_media_audio_fp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit audio fingerprint (segment-energy difference coding) fused
    with the real PCM 8/16/24-bit WAV decode in one Arrow stage over
    both audio corpora: per-frame channel-sum downmix → 65 equal
    segments → loudness comparisons packed MSB-first, plus the four
    16-bit pigeonhole blocks.  Oracle = the generator's plain-Python
    fingerprint of the raw pre-encode samples."""
    from fetch_engines_spark.pipelines.multimodal import audio_fingerprint

    clips = spark.read.parquet(
        os.path.join(FIXTURES_DIR, "wavs.parquet"),
        os.path.join(FIXTURES_DIR, "audio_neardup.parquet"),
    )
    return audio_fingerprint(clips).select(
        "media_id", "afp_hex", "b0", "b1", "b2", "b3",
        F.substring(F.col("error"), 1, 7).alias("error_prefix"),
    )


def _q_media_audio_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio near-duplicate pairs at hamming <= 3 over the planted corpus
    (exact copies, amplitude-scaled copies and a stereo re-layout —
    hamming 0 with different payload bytes, the fingerprint's
    invariances — local segment edits, far noise, and a silent cluster
    that all hashes to zero): fingerprint → 4x16-bit pigeonhole banding
    → shared capped bucket join → carried-block hamming verify.  Exact
    recall at the threshold, so the oracle is the brute-force hamming
    join over the generator's expected blocks."""
    from fetch_engines_spark.pipelines.multimodal import (
        afp_near_dup_pairs,
        audio_fingerprint,
    )

    nd = spark.read.parquet(os.path.join(FIXTURES_DIR, "audio_neardup.parquet"))
    return afp_near_dup_pairs(audio_fingerprint(nd), max_hamming=3)


def _q_media_span_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The interleaved-corpus composite: image near-dup clusters
    (decode+dHash → pigeonhole banding → connected components) rewrite
    every media span's media_ref to its cluster-canonical id across the
    span documents, preserving span order, text spans, unique images,
    and DANGLING refs.  Output is the exploded ordered span sequence —
    the north rule's per-row invariant shape (kind, text, media_ref,
    order).  Oracle recomputes the clusters from the image fixture's
    expected dHash blocks via recursive CTE and rewrites with a plain
    unnest + left join."""
    from fetch_engines_spark.pipelines.multimodal import (
        canonical_media_map,
        canonicalize_media_refs,
        dhash_near_dup_pairs,
        image_dhash,
    )

    media = spark.read.parquet(os.path.join(FIXTURES_DIR, "images_neardup.parquet"))
    docs = spark.read.parquet(os.path.join(FIXTURES_DIR, "documents_media.parquet"))
    cmap = canonical_media_map(dhash_near_dup_pairs(image_dhash(media)))
    out = canonicalize_media_refs(docs, cmap)
    ex = out.select("doc_id", F.posexplode("spans").alias("pos", "s"))
    return ex.select(
        "doc_id",
        F.col("pos").cast("int").alias("pos"),
        F.col("s.kind").alias("kind"),
        F.col("s.text").alias("text"),
        F.col("s.media_ref").alias("media_ref"),
        F.col("s.offset").alias("offset"),
    )


def _q_media_video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video decode — AVI/RIFF Motion-JPEG: container chunk walk
    (avih, 'vids' strh/strf, movi '00dc' frames) + the from-scratch
    baseline JPEG entropy decoder per frame (gray, 4:4:4 color, 4:2:0
    subsampled, odd crop), one row per frame with its pixel sum; wrong
    codec / empty movi / header-stream dimension mismatch / truncation
    become error rows.  Oracle = the generator's spec-IDCT per-frame
    expected table."""
    from fetch_engines_spark.pipelines.multimodal import video_frame_stats

    vids = spark.read.parquet(os.path.join(FIXTURES_DIR, "avi_videos.parquet"))
    return video_frame_stats(vids).select(
        "media_id", "frame_idx", "width", "height", "channels",
        "n_frames", "pixel_sum",
        F.substring(F.col("error"), 1, 7).alias("error_prefix"),
    )


def _q_media_video_dhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-frame perceptual hash of AVI/MJPEG video: container walk +
    JPEG entropy decode + dHash fused in one Arrow stage, one row per
    frame.  Oracle = the generator's plain-Python dhash of the
    spec-IDCT expected pixels."""
    from fetch_engines_spark.pipelines.multimodal import video_frame_dhash

    nd = spark.read.parquet(os.path.join(FIXTURES_DIR, "avi_neardup.parquet"))
    return video_frame_dhash(nd).select(
        "media_id", "frame_idx", "n_frames", "dhash_hex",
        F.substring(F.col("error"), 1, 7).alias("error_prefix"),
    )


def _q_media_video_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video near-duplicate pairs by frame-hash containment over the
    planted corpus (exact copy, re-ordered copy, trimmed prefix — all
    10000 bp despite differing payloads/order/frame counts; half
    overlap excluded at the 8000 threshold; black-frame degenerate
    bucket + tiny-clip containment): per-frame dHash → bucketed join on
    the exact frame hash through the shared capped guard → shared-count
    join-back → integer containment score.  Oracle = the brute-force
    shared-hash join over the generator's expected frame table."""
    from fetch_engines_spark.pipelines.multimodal import (
        video_frame_dhash,
        video_near_dup_pairs,
    )

    nd = spark.read.parquet(os.path.join(FIXTURES_DIR, "avi_neardup.parquet"))
    return video_near_dup_pairs(video_frame_dhash(nd), min_share_bp=8000)


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


def _q_media_gif_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL multi-frame animation decode: one row per frame with the
    composited-canvas pixel sum, over the animated-GIF corpus (partial
    rects, transparency, disposal 0/1/2/3, local palettes, interlaced
    frames) — the genuine decode feeding a frame-sampling pipeline, vs
    the plan-only path over the synthetic FESB video container.  Oracle
    = the generator's independent plain-Python composition."""
    from fetch_engines_spark.pipelines.multimodal import gif_frame_stats

    anims = _fixture(spark, "gif_anim")
    return gif_frame_stats(anims).select(
        "media_id", "frame_idx", "width", "height", "n_frames", "pixel_sum",
        F.substring(F.col("error"), 1, 7).alias("error_prefix"),
    )


def _q_media_audio_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode over the WAV fixture corpus: RIFF chunk walk +
    PCM16 parse → integer peak/energy per clip, verified against the
    generator's record of the raw samples."""
    from fetch_engines_spark.pipelines.multimodal import wav_audio_stats

    wavs = _fixture(spark, "wavs")
    return wav_audio_stats(wavs).select(
        "media_id", "sample_rate", "channels", "n_frames", "peak", "energy",
        F.substring(F.col("error"), 1, 7).alias("error_prefix"),
    )


def _q_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end curation: quality gate → exact-dup removal (keep min
    doc_id) → per-source kept counts.  The composed shape of a
    training-data cleaning job: one scan, one dedup shuffle, one agg."""
    from fetch_engines_spark.pipelines.text import quality_features

    docs = _read(spark, sf_dir, "documents")
    q = quality_features(docs).select("doc_id", "quality_score")
    passed = docs.join(q, "doc_id").filter(F.col("quality_score") >= 4)
    keeper = (
        passed.groupBy(F.md5("text").alias("h"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    kept = passed.join(keeper, "doc_id", "left_semi")
    return kept.groupBy("source").agg(
        F.count("*").alias("n_kept"),
        F.min("doc_id").alias("min_doc_id"),
        F.max("doc_id").alias("max_doc_id"),
    )


def _q_corpus_curation_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full training-data curation chain in ONE plan: quality gate +
    repetition gate + cross-doc substring-duplication gate (all three are
    independent per-doc/corpus signals), then exact-dup keeper election,
    then per-source corpus stats with surviving token counts.  The chain
    itself is the library operator pipelines/curation.curate_corpus, also
    exposed as the spark-submit stage ``job --stage curate``."""
    from fetch_engines_spark.pipelines.curation import curate_corpus, curation_stats

    docs = _read(spark, sf_dir, "documents")
    return curation_stats(curate_corpus(docs))


def _q_training_pipeline_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXTRACTION + CURATION composed in one plan — the whole engine as a
    user runs it: raw interleaved span documents → the Arrow extraction
    stage (DOM → markdown spans) → quality features over the EXTRACTED
    markdown → sentence-aligned chunk packing → per-document training-set
    row (kept flag, chunk count).  The oracle replays the same curation
    SQL over the committed golden markdown, so extraction AND curation
    must both be exact for the hash to match."""
    _prep(spark)
    from fetch_engines_spark.extract import extract_spans
    from fetch_engines_spark.pipelines.text import doc_chunks, quality_features

    docs = _fixture(spark, "documents_spans")
    extracted = extract_spans(docs, keep_markdown=True).select(
        "doc_id", "title", F.size("spans").alias("n_spans"), "markdown"
    )
    md = extracted.select("doc_id", F.col("markdown").alias("text"))
    q = quality_features(md).select("doc_id", "n_tokens", "quality_score")
    ch = (
        doc_chunks(md, max_tokens=24)
        .groupBy("doc_id")
        .agg(F.count("*").cast("long").alias("n_chunks"))
    )
    return (
        extracted.join(q, "doc_id")
        .join(ch, "doc_id", "left")
        .select(
            "doc_id",
            "title",
            "n_spans",
            "n_tokens",
            "quality_score",
            F.coalesce("n_chunks", F.lit(0)).alias("n_chunks"),
            (F.col("quality_score") >= 4).alias("kept"),
        )
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


def _q_routing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1/O4 hybrid routing decisions over the fixture pages."""
    _prep(spark)
    from fetch_engines_spark.routing import route_documents

    pages = _fixture(spark, "pages").withColumn("url", F.lit("https://example.com/"))
    routed = route_documents(pages)
    return routed.select(
        "doc_id",
        "soft_block",
        F.col("render_score").cast("long").alias("render_score"),
        "needs_render",
        "route",
    )


def _q_mime_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2 raw-content text/binary split."""
    _prep(spark)
    from fetch_engines_spark.classifiers import decode_if_text, is_text_mime

    raw = _fixture(spark, "raw_content")
    return raw.select(
        "content_id",
        is_text_mime(F.col("mime")).alias("is_text"),
        decode_if_text(F.col("payload"), F.col("mime")).alias("text"),
        F.length(F.col("payload")).alias("payload_bytes"),
    )


def _q_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs over the planted corpus: multi-table
    hyperplane LSH (8 tables x 8 planes = 64 planes) candidate join + exact
    cosine verify at >= 9500 bp.  Recall vs brute force is gated in
    tests/test_pipelines.py::test_embedding_dedup_recall."""
    from fetch_engines_spark.pipelines.similarity import embedding_candidate_pairs

    emb = _fixture(spark, "neardup_embeddings")
    return embedding_candidate_pairs(
        emb, num_tables=8, planes_per_table=8, dims=64, threshold_bp=9500
    )


def _q_dedup_embedding_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs under the degenerate-bucket skew guard, on
    an adversarial corpus with 300 identical + 60 zero vectors (every one
    lands in ONE bucket of EVERY LSH table).  max_bucket_size=50 routes
    those buckets to the linear signature-star path: the hot block yields
    299 pairs, not C(300,2)=44,850; quadratic-stage absence is asserted in
    tests/test_pipelines.py::test_embedding_capped_no_quadratic_bucket."""
    from fetch_engines_spark.pipelines.similarity import embedding_candidate_pairs

    emb = _fixture(spark, "skewed_embeddings")
    return embedding_candidate_pairs(
        emb, num_tables=8, planes_per_table=8, dims=64, threshold_bp=9500,
        max_bucket_size=50,
    )


def _q_dedup_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup recall gate: LSH candidate pairs over the committed
    planted-duplicate corpus (30 exact + 30 near dups among 150 docs)."""
    from fetch_engines_spark.pipelines.dedup import minhash_candidate_pairs

    docs = _fixture(spark, "neardup")
    # recall-oriented banding (6 bands x 1 hash): P(candidate) ~ 1-(1-s)^6,
    # ~0.999 at jaccard 0.6 - the planted near dups; the jaccard stage
    # downstream removes the extra false positives this admits
    return minhash_candidate_pairs(docs, num_hashes=6, band_size=1)


def _q_jsonl_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-format parity: JSONL crawl-dump ingestion (schema-enforced,
    corrupt lines routed to rejects — 2 planted in the fixture) must yield
    the exact span values of the parquet path."""
    _prep(spark)
    from fetch_engines_spark.sources import read_documents_jsonl

    docs, _rejects = read_documents_jsonl(
        spark, os.path.join(FIXTURES_DIR, "documents_spans.jsonl")
    )
    return docs.select("doc_id", F.explode("spans").alias("s")).select(
        "doc_id",
        F.col("s.offset").alias("offset"),
        F.col("s.kind").alias("kind"),
        F.col("s.text").alias("text"),
        F.col("s.media_ref").alias("media_ref"),
    )


def _q_eval_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Release eval gate as a driver query: LIVE extraction of the fixture
    corpus evaluated against the eval-case matrix (has-markdown /
    min-visible-length / required-keyword / no-error checks).  The oracle
    twin computes the same checks over the GOLDEN markdown, so any live
    drift (including a live extraction error) flips a check and fails."""
    _prep(spark)
    from fetch_engines_spark.evals import evaluate_cases
    from fetch_engines_spark.extract import extract_spans

    cases = _fixture(spark, "eval_cases")
    docs = _fixture(spark, "documents_spans")
    extracted = extract_spans(docs, keep_markdown=True)
    return evaluate_cases(cases, extracted).select(
        "doc_id",
        "name",
        "category",
        "archetype",
        "gate",
        "has_markdown",
        "min_length_ok",
        "required_any_ok",
        "no_error",
        F.col("pass").alias("case_pass"),
    )


def _q_structured_validation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O7 NoObjectGenerated taxonomy as batch error columns (parity:
    StructuredContentEngine.ts:258-360): classify raw model responses
    against the extraction schema — native columns only."""
    _prep(spark)
    from pyspark.sql.types import BooleanType, DoubleType, StringType, StructField, StructType

    from fetch_engines_spark.structured import validate_generated_objects

    schema = StructType(
        [
            StructField("title", StringType(), metadata={"description": "product title"}),
            StructField("price", DoubleType(), metadata={"description": "price, numeric"}),
            StructField("in_stock", BooleanType(), metadata={"description": "availability"}),
        ]
    )
    resp = _fixture(spark, "llm_responses")
    out = validate_generated_objects(resp, schema)
    # arrays stringified for the canonical compare (array reprs differ
    # across the pandas conversion paths)
    return out.select(
        "doc_id",
        "ok",
        "error_kind",
        F.concat_ws(",", "received_keys").alias("received_keys"),
        F.concat_ws(",", "missing_fields").alias("missing_fields"),
        F.concat_ws(",", "mismatched_fields").alias("mismatched_fields"),
        "error_detail",
        "out_title",
        "out_price",
        "out_in_stock",
    )


def _q_dedup_minhash_prod(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash dedup at production parameters (128 permutations / 16 bands
    of 8, affine-permutation fast path) over the high-similarity planted
    corpus; recall gated in tests/test_pipelines.py::test_minhash_production_recall."""
    from fetch_engines_spark.pipelines.dedup import minhash_candidate_pairs_fast

    docs = _fixture(spark, "neardup_hi")
    return minhash_candidate_pairs_fast(docs, num_hashes=128, band_size=8)


def _q_dedup_minhash_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-guarded LSH candidate pairs over the adversarial corpus (5000
    byte-identical boilerplate docs): buckets above the cap route to the
    linear signature-group star path, so the hot bucket yields 4999 star
    pairs instead of a 12.5M-row quadratic self-join."""
    from fetch_engines_spark.pipelines.dedup import minhash_candidate_pairs

    docs = _fixture(spark, "adversarial")
    return minhash_candidate_pairs(docs, num_hashes=4, band_size=2, max_bucket_size=50)


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


def _q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signals (duplicate-word fraction,
    most-frequent-bigram character share, duplicate-5-gram fraction) —
    shuffle-free native HOFs per document."""
    from fetch_engines_spark.pipelines.text import repetition_features

    docs = _read(spark, sf_dir, "documents")
    return repetition_features(docs)


def _q_dedup_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level (Lee et al.-style) cross-document duplication: the
    fraction of each doc's 8-word windows that occur in other documents."""
    from fetch_engines_spark.pipelines.dedup import duplicated_ngram_stats

    docs = _read(spark, sf_dir, "documents")
    return duplicated_ngram_stats(docs, n=8)


def _synthetic_url(doc_id):
    """Deterministic per-doc URL exercising every canonicalization rule
    (mixed case, default and non-default ports, tracking params, unsorted
    params, fragments, empty paths, two-level public suffixes, userinfo,
    IPv4/bracketed-IPv6 hosts).  The oracle builds the identical string in
    SQL."""
    return F.concat(
        F.when(doc_id % 2 == 0, F.lit("HTTPS")).otherwise(F.lit("http")),
        F.lit("://"),
        F.when(doc_id % 7 == 0, F.lit("WWW.Example.CO.UK"))
        .when(doc_id % 7 == 1, F.lit("blog.example.com:443"))
        .when(doc_id % 7 == 3, F.lit("User:Pa55@Shop.Example.COM.AU"))
        .when(doc_id % 7 == 4, F.lit("[2001:DB8::1]:8080"))
        .when(doc_id % 7 == 5, F.lit("192.168.10.42:80"))
        .when(doc_id % 7 == 6, F.lit("News.Example.Co.JP:8443"))
        .otherwise(
            F.concat(F.lit("cdn"), (doc_id % 5).cast("string"), F.lit(".Example.COM:80"))
        ),
        F.when(doc_id % 5 == 0, F.lit("")).otherwise(
            F.concat(F.lit("/Posts/"), doc_id.cast("string"))
        ),
        F.when(doc_id % 4 == 0, F.lit("?utm_source=feed&z=9&a=1&gclid=x"))
        .when(doc_id % 4 == 1, F.lit("?b=2&a=1"))
        .when(doc_id % 4 == 2, F.lit("?ref=hn"))
        .otherwise(F.lit("")),
        F.when(doc_id % 2 == 0, F.lit("#section-2")).otherwise(F.lit("")),
    )


_SYNTHETIC_URL_SQL = """
  concat(
    CASE WHEN doc_id % 2 = 0 THEN 'HTTPS' ELSE 'http' END, '://',
    CASE WHEN doc_id % 7 = 0 THEN 'WWW.Example.CO.UK'
         WHEN doc_id % 7 = 1 THEN 'blog.example.com:443'
         WHEN doc_id % 7 = 3 THEN 'User:Pa55@Shop.Example.COM.AU'
         WHEN doc_id % 7 = 4 THEN '[2001:DB8::1]:8080'
         WHEN doc_id % 7 = 5 THEN '192.168.10.42:80'
         WHEN doc_id % 7 = 6 THEN 'News.Example.Co.JP:8443'
         ELSE concat('cdn', CAST(doc_id % 5 AS VARCHAR), '.Example.COM:80') END,
    CASE WHEN doc_id % 5 = 0 THEN '' ELSE concat('/Posts/', CAST(doc_id AS VARCHAR)) END,
    CASE WHEN doc_id % 4 = 0 THEN '?utm_source=feed&z=9&a=1&gclid=x'
         WHEN doc_id % 4 = 1 THEN '?b=2&a=1'
         WHEN doc_id % 4 = 2 THEN '?ref=hn'
         ELSE '' END,
    CASE WHEN doc_id % 2 = 0 THEN '#section-2' ELSE '' END
  )
"""


_TEXT_REPETITION_SQL = """
            WITH base AS (
              SELECT doc_id, text,
                string_split(text, ' ') AS words,
                length(text) AS n_chars
              FROM documents
            ),
            feats AS (
              SELECT doc_id, text, n_chars,
                CAST(floor((len(words) - len(list_distinct(words))) * 10000
                     / greatest(len(words), 1)) AS BIGINT) AS dup_word_bp,
                list_transform(
                  range(0, greatest(len(words) - 5, 0) + 1),
                  i -> array_to_string(list_slice(words, i + 1, i + 5), ' ')
                ) AS g5
              FROM base
            ),
            g2 AS (
              SELECT doc_id, unnest(list_transform(
                range(0, greatest(len(string_split(text, ' ')) - 2, 0) + 1),
                i -> array_to_string(list_slice(string_split(text, ' '), i + 1, i + 2), ' ')
              )) AS gram
              FROM documents
            ),
            cnt AS (SELECT doc_id, gram, count(*) AS c FROM g2 GROUP BY doc_id, gram),
            best AS (
              SELECT doc_id, gram, c,
                row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, gram ASC) AS rn
              FROM cnt
            )
            SELECT f.doc_id,
              f.dup_word_bp,
              CAST(b.c AS BIGINT) AS top_bigram_count,
              b.gram AS top_bigram,
              CAST(floor(b.c * length(b.gram) * 10000 / greatest(f.n_chars, 1)) AS BIGINT) AS top_bigram_char_bp,
              CAST(floor((len(f.g5) - len(list_distinct(f.g5))) * 10000
                   / greatest(len(f.g5), 1)) AS BIGINT) AS dup_5gram_bp,
              (f.dup_word_bp > 6300
               OR (b.c > 1
                   AND CAST(floor(b.c * length(b.gram) * 10000 / greatest(f.n_chars, 1)) AS BIGINT) > 2000)
               OR CAST(floor((len(f.g5) - len(list_distinct(f.g5))) * 10000
                    / greatest(len(f.g5), 1)) AS BIGINT) > 3000) AS repetition_flagged
            FROM feats f JOIN best b ON f.doc_id = b.doc_id AND b.rn = 1
"""

_DEDUP_SUBSTRING_SQL = """
            WITH wins AS (
              SELECT doc_id, unnest(list_distinct(list_transform(
                list_transform(
                  range(0, greatest(len(string_split(text, ' ')) - 8, 0) + 1),
                  i -> array_to_string(list_slice(string_split(text, ' '), i + 1, i + 8), ' ')
                ), s -> md5(s)
              ))) AS w
              FROM documents
            ),
            freq AS (SELECT w, count(*) AS n_docs FROM wins GROUP BY w)
            SELECT doc_id,
              CAST(count(*) AS BIGINT) AS n_windows,
              CAST(sum(CASE WHEN n_docs > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared_windows,
              CAST(floor(sum(CASE WHEN n_docs > 1 THEN 1 ELSE 0 END) * 10000
                   / greatest(count(*), 1)) AS BIGINT) AS shared_window_bp,
              (sum(CASE WHEN n_docs > 1 THEN 1 ELSE 0 END) * 2 > count(*)) AS substring_dup
            FROM wins JOIN freq USING (w)
            GROUP BY doc_id
"""


def _q_url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization + registered-domain extraction per document
    (crawl-corpus URL dedup key)."""
    from fetch_engines_spark.pipelines.urls import (
        canonicalize_url,
        registered_domain,
        url_parts,
    )

    docs = _read(spark, sf_dir, "documents")
    with_url = docs.select(
        "doc_id", _synthetic_url(F.col("doc_id")).alias("url")
    )
    parts = url_parts(F.col("url"))
    return with_url.select(
        "doc_id",
        "url",
        canonicalize_url(F.col("url")).alias("canonical_url"),
        parts["host"].alias("host"),
        registered_domain(parts["host"]).alias("domain"),
    )


def _q_url_domain_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-registered-domain corpus aggregation over canonical URLs."""
    from fetch_engines_spark.pipelines.urls import domain_stats

    docs = _read(spark, sf_dir, "documents")
    with_url = docs.select(
        "doc_id", "text", _synthetic_url(F.col("doc_id")).alias("url")
    )
    return domain_stats(with_url)


def _q_resource_blocking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5 resource/domain blocking, corpus-side analog (reference
    src/PlaywrightEngine.ts:974-1001 applyBlockingRules; default lists
    src/browser/PlaywrightBrowserPool.ts:304-328): resource-type
    membership is checked first, then each domain glob (dots escaped,
    '*' -> '.*') is an UNANCHORED regex search over the full request
    URL — so a blocked domain inside a query string blocks too.
    Synthesizes a deterministic resource-request table from documents
    (mixed blocked/clean hosts, one pattern hit via the query string)
    and returns per-request verdicts; ``blocked_fast`` adds the
    fast-mode extra resource types (image/font/stylesheet/media)."""
    from fetch_engines_spark.pipelines.urls import (
        FAST_MODE_EXTRA_BLOCKED_TYPES,
        block_resources,
    )

    doc_id = F.col("doc_id")
    host = (
        F.when(doc_id % 6 == 0, F.lit("cdn.example.com"))
        .when(doc_id % 6 == 1, F.lit("stats.doubleclick.net"))
        .when(doc_id % 6 == 2, F.lit("sub.google-analytics.com"))
        .when(doc_id % 6 == 3, F.lit("images.example.org"))
        .when(doc_id % 6 == 4, F.lit("platform.twitter.com"))
        .otherwise(F.lit("proxy.example.net"))
    )
    kind = (
        F.when(doc_id % 5 == 0, F.lit("image"))
        .when(doc_id % 5 == 1, F.lit("script"))
        .when(doc_id % 5 == 2, F.lit("font"))
        .when(doc_id % 5 == 3, F.lit("stylesheet"))
        .otherwise(F.lit("xhr"))
    )
    url = F.concat(
        F.lit("https://"),
        host,
        F.lit("/r/"),
        doc_id.cast("string"),
        F.when(doc_id % 6 == 5, F.lit("?u=adservice.google.com/x")).otherwise(
            F.lit("")
        ),
    )
    reqs = _read(spark, sf_dir, "documents").select(
        "doc_id", kind.alias("kind"), url.alias("url")
    )
    # fast mode only ADDS resource types (PlaywrightEngine.ts:975-977), so
    # blocked_fast = blocked OR kind in the fast-mode extras — no second
    # regex pass needed
    return block_resources(reqs).withColumn(
        "blocked_fast",
        F.col("blocked") | F.col("kind").isin(*FAST_MODE_EXTRA_BLOCKED_TYPES),
    )


def _q_embedding_topk_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (ADC scan over m=4 byte codes)."""
    from fetch_engines_spark.pipelines.similarity import pq_topk

    emb = _read(spark, sf_dir, "embeddings")
    return pq_topk(emb, k=5, m=4, ks=8, query_ids=list(range(10)))


def _q_embedding_topk_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ composition: coarse k-means cells prune candidates, PQ
    asymmetric distance over the RESIDUAL scores them — the classic
    Jégou construction, integer-exact end-to-end."""
    from fetch_engines_spark.pipelines.similarity import ivfpq_topk

    emb = _read(spark, sf_dir, "embeddings")
    return ivfpq_topk(
        emb, k=5, n_centroids=8, n_probe=2, m=4, ks=8, query_ids=list(range(10))
    )


def _q_doc_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus clustering: signed-hashing-trick embedding →
    integer-exact Lloyd → per-doc cell — text in, cluster label out,
    no external model.  Oracle unrolls the identical construction."""
    from fetch_engines_spark.pipelines.similarity import doc_kmeans_clusters

    docs = _read(spark, sf_dir, "documents")
    return doc_kmeans_clusters(docs, n_centroids=8, n_iter=2, dims=64)


def _q_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mix construction at exact target ratios 50/30/20 over
    three sources (25 docs each): the 50%-share source is limiting, so
    the mix is 25+15+10 = 50 docs, selected by deterministic md5(key)
    rank — the data-mixing step of pre-training pipelines."""
    from fetch_engines_spark.pipelines.text import mixture_sample

    docs = _read(spark, sf_dir, "documents")
    out = mixture_sample(
        docs, {"src0": 5000, "src1": 3000, "src2": 2000}
    )
    return out.select("doc_id", "source", "mix_rank")


def _q_spans_boilerplate_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style repeated-line boilerplate removal on the span data model:
    text spans appearing in >= 3 distinct docs (the planted nav in
    40/40, footer in 30/40) vanish from every document; the 2-doc quote,
    all bodies, and all media spans survive with order preserved.
    Output is the exploded kept-span sequence — the north rule's
    (kind, text, media_ref, order) invariant shape."""
    from fetch_engines_spark.pipelines.curation import strip_boilerplate_spans

    docs = _fixture(spark, "spans_boilerplate")
    out = strip_boilerplate_spans(docs, min_docs=3)
    ex = out.select(
        "doc_id", "n_text_removed", F.posexplode("spans").alias("new_pos", "s")
    )
    return ex.select(
        "doc_id",
        F.col("new_pos").cast("int").alias("new_pos"),
        F.col("s.kind").alias("kind"),
        F.col("s.text").alias("text"),
        F.col("s.media_ref").alias("media_ref"),
        F.col("s.offset").alias("offset"),
        "n_text_removed",
    )


def _q_doc_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranked retrieval (k1=1.2, b=0.75, integer milli-scaled with
    flog2-quantized idf) of the top 10 documents for a mixed-rarity
    query bag — 'dup' (df~25) dominates ranking over the ubiquitous
    'customer'/'scan' (df~395) exactly as BM25's idf intends.  Plan:
    one shuffle-free projection for (dl, tf_i), one broadcast 1-row
    stats aggregate, TakeOrderedAndProject for the top-k."""
    from fetch_engines_spark.pipelines.text import bm25_topk

    docs = _read(spark, sf_dir, "documents")
    return bm25_topk(docs, ["customer", "scan", "dup"], k=10)


def _q_dedup_bloom_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-gated incremental exact dedup: a 2048-bit/3-hash packed
    bitmap built over the first 250 docs' content hashes, then EVERY doc
    tests membership — history docs must all read maybe_present=1 (no
    false negatives); new docs read 0 (definitely new, skip the exact
    anti-join) except a deterministic handful of false positives at this
    deliberately tight m/n ≈ 8.  Oracle replays the md5 positions and
    63-bit word packing verbatim."""
    from fetch_engines_spark.pipelines.dedup import bloom_build, bloom_gate

    docs = _read(spark, sf_dir, "documents")
    hist = docs.filter(F.col("doc_id") < 250).select(F.md5("text").alias("key"))
    bloom = bloom_build(hist, "key", m_bits=2048, k_hashes=3)
    q = docs.select("doc_id", F.md5("text").alias("key"))
    gate = bloom_gate(q, bloom, "key", "doc_id", m_bits=2048, k_hashes=3)
    return gate.select(
        "doc_id",
        (F.col("doc_id") < 250).cast("int").alias("in_history"),
        "maybe_present",
    )


def _q_dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup over the planted near-dup embedding
    corpus (40 families): k-means cells (integer-exact Lloyd) partition
    the space, within-cell cosine >= 9500 bp against an earlier id drops
    the doc — one representative survives per semantic ball.  Oracle is
    the unrolled-Lloyd DuckDB twin (semantic_dedup_sql)."""
    from fetch_engines_spark.pipelines.similarity import semantic_dedup

    emb = _fixture(spark, "neardup_embeddings")
    return semantic_dedup(emb, n_centroids=8, threshold_bp=9500, n_iter=2)


def _q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dup clusters over the planted corpus: LSH candidate pairs →
    connected components → keeper election (the pairs→clusters→keepers
    tail of a production dedup pipeline)."""
    from fetch_engines_spark.pipelines.dedup import (
        connected_components,
        minhash_candidate_pairs,
    )

    docs = _fixture(spark, "neardup")
    pairs = minhash_candidate_pairs(docs, num_hashes=6, band_size=1)
    return connected_components(pairs)


def _q_dedup_clusters_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components on CHAIN-shaped duplicate graphs via
    large-star/small-star contraction (O(log n) rounds): 3 chains of 100
    docs each plus branch links — diameter ~100, where plain min-label
    propagation would need ~100 rounds (and raises at max_iter=25).  The
    oracle is the exact recursive-CTE transitive closure."""
    from fetch_engines_spark.pipelines.dedup import connected_components_star

    docs = _read(spark, sf_dir, "documents").select("doc_id").filter("doc_id < 300")
    pairs = docs.select(
        F.col("doc_id").alias("doc_a"), (F.col("doc_id") + 3).alias("doc_b")
    ).filter(F.col("doc_b") < 300)
    return connected_components_star(pairs)


def _q_sample_by_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 10% corpus sample (hash-threshold filter — stable
    across runs, engines, and task retries, unlike DataFrame.sample)."""
    from fetch_engines_spark.pipelines.text import sample_by_hash

    docs = _read(spark, sf_dir, "documents")
    return sample_by_hash(docs, rate_bp=1000).select("doc_id", "source", "n_chars")


def _q_doc_sentences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentence segmentation over the golden markdown corpus (the
    punctuation-rich table) — the row shape for sentence-level dedup and
    sequence packing."""
    from fetch_engines_spark.pipelines.text import doc_sentences

    md = _fixture(spark, "expected_markdown").select(
        "doc_id", F.col("markdown").alias("text")
    )
    return doc_sentences(md)


def _q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing 8-word
    windows with an eval set.  The eval set is built as 200-char prefixes
    of every 25th document (the classic leakage shape: benchmark items
    quoted from web text), so the planted contamination is deterministic
    and detectable.  Broadcast benchmark fingerprints; the corpus never
    shuffles for the join."""
    from fetch_engines_spark.pipelines.dedup import decontaminate

    docs = _read(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 25 == 0).select(
        "doc_id", F.substring("text", 1, 200).alias("text")
    )
    return decontaminate(docs, bench, n=8)


_CMS_PROBES = ["the", "and", "of", "to", "in", "data", "spark", "zzz-absent-token"]


def _q_vocab_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch point queries for a fixed probe set over the
    documents corpus: bounded-memory frequency summary (≤ depth·width
    cells regardless of corpus size), never underestimates."""
    from fetch_engines_spark.pipelines.text import cms_estimate, count_min_sketch

    docs = _read(spark, sf_dir, "documents")
    return cms_estimate(count_min_sketch(docs), _CMS_PROBES)


def _q_decontaminate_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup benchmark decontamination: the eval set is built as
    slightly-truncated copies of every 25th document (the paraphrase-ish
    leakage shape exact 8-word windows can miss after edits); MinHash
    band candidates + exact Jaccard flag the sources.  Runs the
    PRODUCTION shape — degenerate-bucket cap ON, which bounds the
    candidate set and lets every scoring join broadcast (plan-gated
    zero SortMergeJoin); the 500-doc corpus can't reach the cap, so the
    result is identical to the uncapped DuckDB twin."""
    from fetch_engines_spark.pipelines.dedup import decontaminate_fuzzy

    docs = _read(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 25 == 0).select(
        "doc_id",
        F.expr("substring(text, 1, greatest(length(text) - 30, 50))").alias("text"),
    )
    return decontaminate_fuzzy(docs, bench, threshold_bp=5000, max_bucket_size=2000)


def _q_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentence-aligned training-chunk packing (~24 whitespace tokens per
    chunk, fixed-budget rule) over the extracted-markdown corpus (the
    documents table is single-sentence rows; markdown docs have up to 50
    sentences): posexplode + windowed cumsum + groupBy."""
    from fetch_engines_spark.pipelines.text import doc_chunks

    md = _fixture(spark, "expected_markdown").select(
        "doc_id", F.col("markdown").alias("text")
    )
    return doc_chunks(md, max_tokens=24)


def _q_source_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus cap (anti-monoculture curation guard): keep the
    15 deterministically-hash-ranked docs of each source."""
    from fetch_engines_spark.pipelines.text import cap_per_stratum

    docs = _read(spark, sf_dir, "documents")
    return cap_per_stratum(docs, "source", k=15).select(
        "doc_id", "source", "stratum_rank"
    )


def _q_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide vocabulary top-100 (total + document frequency)."""
    from fetch_engines_spark.pipelines.text import vocab_topk

    docs = _read(spark, sf_dir, "documents")
    return vocab_topk(docs, k=100)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Query registry: one representative per operator family first, then
    variants and extra gates of those families.  Every entry has a twin in
    :func:`oracle_sql`."""
    return {
        # extraction + classification (S2/S3, P*, C*, M*, X*)
        "extract_spans_fixture": _q_extract_spans,
        "extract_markdown_fixture": _q_extract_markdown,
        "classifier_assessment": _q_classifier_assessment,
        "routing_decisions": _q_routing,
        "mime_split": _q_mime_split,
        "pdf_extract": _q_pdf_extract,
        # sources, checkpoint/resume, streaming, structured (S1/S6/S7/O7)
        "warc_ingest": _q_warc_ingest,
        "resume_anti_join": _q_resume_anti_join,
        "streaming_extract": _q_streaming_extract,
        "structured_validation": _q_structured_validation,
        # URL and media-span canonicalization, resource blocking
        "media_span_canonicalize": _q_media_span_canonicalize,
        "url_canonicalize": _q_url_canonicalize,
        "resource_blocking": _q_resource_blocking,
        # text analysis / training-data prep
        "lang_id": _q_lang_id,
        "text_quality": _q_text_quality,
        "lm_surprisal": _q_lm_surprisal,
        "pii_redact": _q_pii_redact,
        "spans_boilerplate_strip": _q_spans_boilerplate_strip,
        "media_video_frames": _q_media_video_frames,
        "doc_tfidf_topk": _q_doc_tfidf_topk,
        "doc_hashed_embedding": _q_doc_hashed_embedding,
        "doc_chunks": _q_doc_chunks,
        "mixture_sample": _q_mixture_sample,
        # deduplication
        "dedup_exact": _q_dedup_exact,
        "dedup_minhash_prod": _q_dedup_minhash_prod,
        "dedup_ngram_containment": _q_ngram_containment,
        "dedup_simhash": _q_simhash,
        "dedup_substring": _q_dedup_substring,
        "dedup_incremental": _q_dedup_incremental,
        "decontaminate": _q_decontaminate,
        "decontaminate_fuzzy": _q_decontaminate_fuzzy,
        "dedup_clusters": _q_dedup_clusters,
        "dedup_embedding_capped": _q_dedup_embedding_capped,
        "vocab_cms": _q_vocab_cms,
        # similarity search / ANN
        "embedding_topk": _q_embedding_topk,
        "embedding_topk_lsh": _q_embedding_topk_lsh,
        "embedding_topk_ivf": _q_embedding_topk_ivf,
        "embedding_topk_ivfpq": _q_embedding_topk_ivfpq,
        # multimodal
        "media_pixel_stats": _q_media_pixel_stats,
        "media_audio_stats": _q_media_audio_stats,
        "media_resize": _q_media_resize,
        "media_gif_frames": _q_media_gif_frames,
        "media_dhash": _q_media_dhash,
        "media_neardup_pairs": _q_media_neardup_pairs,
        # end-to-end composite
        "training_pipeline_full": _q_training_pipeline_full,
        # --- variants and extra gates of the families above ------------
        "doc_winnowing": _q_winnowing,
        "jsonl_ingest": _q_jsonl_ingest,
        "streaming_windowed_counts": _q_streaming_windowed_counts,
        "dedup_ngram_jaccard": _q_ngram_jaccard,
        "media_metadata": _q_media_metadata,
        "dedup_simhash_capped": _q_dedup_simhash_capped,
        "dedup_minhash_capped": _q_dedup_minhash_capped,
        "embedding_topk_pq": _q_embedding_topk_pq,
        "streaming_interval_join": _q_streaming_interval_join,
        "vocab_topk": _q_vocab_topk,
        "sample_by_hash": _q_sample_by_hash,
        "extract_markdown_truncated": _q_extract_markdown_truncated,
        "classifier_shell_score": _q_shell_score,
        "classifier_soft_block": _q_soft_block,
        "classifier_title_extract": _q_title_extract,
        "csv_ingest": _q_csv_ingest,
        "doc_fingerprint": _q_fingerprint,
        "doc_sentences": _q_doc_sentences,
        "dedup_minhash": _q_minhash,
        "dedup_minhash_bands": _q_minhash_bands,
        "dedup_planted": _q_dedup_planted,
        "dedup_simhash_pairs": _q_dedup_simhash_pairs,
        "dedup_simhash64_pairs": _q_dedup_simhash64_pairs,
        "dedup_embedding": _q_dedup_embedding,
        "embedding_topk_lsh_planted": _q_embedding_topk_lsh_planted,
        "media_frame_sample": _q_frame_sample,
        "corpus_curation": _q_corpus_curation,
        "corpus_curation_full": _q_corpus_curation_full,
        "span_order_window": _q_span_order_window,
        "span_equality_gate": _q_span_equality,
        "media_ref_carry": _q_media_ref_carry,
        "eval_gate": _q_eval_gate,
        "streaming_dedup": _q_streaming_dedup,
        "mixed_extract": _q_mixed_extract,
        "url_domain_stats": _q_url_domain_stats,
        "dedup_clusters_chain": _q_dedup_clusters_chain,
        "dedup_index_compaction": _q_dedup_index_compaction,
        "media_audio_fp": _q_media_audio_fp,
        "media_audio_neardup_pairs": _q_media_audio_neardup_pairs,
        "media_video_dhash": _q_media_video_dhash,
        "media_video_neardup_pairs": _q_media_video_neardup_pairs,
        "dedup_semantic": _q_dedup_semantic,
        "dedup_bloom_gate": _q_dedup_bloom_gate,
        "doc_bm25_topk": _q_doc_bm25_topk,
        "text_repetition": _q_text_repetition,
        "source_cap": _q_source_cap,
        "doc_clusters": _q_doc_clusters,
    }


# ---------------------------------------------------------------------------
# oracle SQL (DuckDB)
# ---------------------------------------------------------------------------

_EXPECTED_SPANS = os.path.join(FIXTURES_DIR, "expected_spans.parquet")
_EXPECTED_MD = os.path.join(FIXTURES_DIR, "expected_markdown.parquet")
_PAGES = os.path.join(FIXTURES_DIR, "pages.parquet")
_MEDIA = os.path.join(FIXTURES_DIR, "media.parquet")

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


_RAW_CONTENT = os.path.join(FIXTURES_DIR, "raw_content.parquet")

_ROUTING_SQL = f"""
WITH shell AS ({_SHELL_SQL}),
soft AS ({_SOFT_BLOCK_SQL})
SELECT shell.doc_id, soft.soft_block,
       shell.render_score,
       (soft.soft_block OR shell.render_likely_needed) AS needs_render,
       CASE WHEN soft.soft_block OR shell.render_likely_needed THEN 'render' ELSE 'http' END AS route
FROM shell JOIN soft ON shell.doc_id = soft.doc_id
"""


def oracle_sql() -> dict[str, str]:
    from fetch_engines_spark.pipelines.dedup import EXACT_DUP_SQL, minhash_oracle_sql
    from fetch_engines_spark.pipelines.similarity import BRUTE_FORCE_TOPK_SQL
    from fetch_engines_spark.pipelines.text import (
        LANG_ID_SQL,
        QUALITY_SQL,
        VOCAB_TOPK_SQL,
    )
    from fetch_engines_spark.pipelines.urls import (
        block_resources_sql,
        registered_domain_sql,
    )

    REGISTERED_DOMAIN_SQL_HOST = registered_domain_sql("host")
    _BLOCK_RESOURCES_SQL = block_resources_sql("url", "kind")

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
        "doc_tfidf_topk": __import__(
            "fetch_engines_spark.pipelines.text", fromlist=["x"]
        ).doc_term_scores_sql(k=5),
        "doc_hashed_embedding": __import__(
            "fetch_engines_spark.pipelines.text", fromlist=["x"]
        ).hashed_embedding_sql(dims=64),
        "streaming_interval_join": """
            SELECT v.event_id AS view_id, v.user_id AS user_id,
                   p.event_id AS purchase_id,
                   CAST(floor(epoch(p.ts)) AS BIGINT) - CAST(floor(epoch(v.ts)) AS BIGINT) AS gap_seconds
            FROM (SELECT * FROM events WHERE event_type = 'view') v
            JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
              ON v.user_id = p.user_id
             AND p.ts > v.ts AND p.ts <= v.ts + INTERVAL 1 HOUR
        """,
        "csv_ingest": f"""
            SELECT event_id, strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts,
                   user_id, event_type, value
            FROM read_csv('{os.path.join(FIXTURES_DIR, "events_dump.csv")}',
                          header = false, ignore_errors = true,
                          columns = {{'event_id': 'BIGINT', 'ts': 'TIMESTAMP',
                                      'user_id': 'BIGINT', 'event_type': 'VARCHAR',
                                      'value': 'DOUBLE'}})
        """,
        "streaming_windowed_counts": """
            WITH wm AS (SELECT max(ts) - INTERVAL 2 HOUR AS w FROM events)
            SELECT strftime(date_trunc('day', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
                   strftime(date_trunc('day', ts) + INTERVAL 1 DAY, '%Y-%m-%d %H:%M:%S') AS window_end,
                   event_type, count(*) AS n_events
            FROM events
            GROUP BY 1, 2, 3
            HAVING max(date_trunc('day', ts) + INTERVAL 1 DAY) <= (SELECT w FROM wm)
        """,
        "lang_id": LANG_ID_SQL,
        "text_quality": QUALITY_SQL,
        "lm_surprisal": __import__(
            "fetch_engines_spark.pipelines.text", fromlist=["x"]
        ).lm_surprisal_sql(ref_where="doc_id % 5 < 2", min_count=2),
        "pii_redact": __import__(
            "fetch_engines_spark.pipelines.pii", fromlist=["x"]
        ).pii_oracle_sql(
            source="""(SELECT doc_id,
              text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
              || CASE WHEN doc_id % 3 = 0
                 THEN ' host 10.0.' || CAST(doc_id % 200 AS VARCHAR) || '.7'
                 ELSE '' END
              || CASE WHEN doc_id % 4 = 0 THEN ' call (555) 123-4567' ELSE '' END
              || CASE WHEN doc_id % 5 = 0
                 THEN ' ssn 123-45-678' || CAST(doc_id % 10 AS VARCHAR)
                 ELSE '' END AS text
              FROM documents)"""
        ),
        "vocab_topk": VOCAB_TOPK_SQL.format(k=100),
        "sample_by_hash": "SELECT doc_id, source, n_chars FROM ("
        + __import__("fetch_engines_spark.pipelines.text", fromlist=["x"]).sample_by_hash_sql(
            rate_bp=1000
        )
        + ")",
        "doc_sentences": __import__(
            "fetch_engines_spark.pipelines.text", fromlist=["x"]
        ).doc_sentences_sql(
            source=f"(SELECT doc_id, markdown AS text FROM read_parquet('{_EXPECTED_MD}'))"
        ),
        "decontaminate": __import__(
            "fetch_engines_spark.pipelines.dedup", fromlist=["x"]
        ).decontaminate_oracle_sql(
            docs_sql="SELECT doc_id, text FROM documents",
            benchmark_sql=(
                "SELECT doc_id, substr(text, 1, 200) AS text "
                "FROM documents WHERE doc_id % 25 = 0"
            ),
            n=8,
        ),
        "doc_chunks": __import__(
            "fetch_engines_spark.pipelines.text", fromlist=["x"]
        ).doc_chunks_sql(
            max_tokens=24,
            source=f"(SELECT doc_id, markdown AS text FROM read_parquet('{_EXPECTED_MD}'))",
        ),
        "source_cap": """
            SELECT doc_id, source, stratum_rank FROM (
              SELECT doc_id, source,
                CAST(row_number() OVER (
                  PARTITION BY source
                  ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                ) AS BIGINT) AS stratum_rank
              FROM documents
            ) WHERE stratum_rank <= 15
        """,
        "doc_fingerprint": "SELECT doc_id, md5(lower(regexp_replace(text, '[^A-Za-z0-9]', '', 'g'))) AS fp FROM documents",
        "doc_winnowing": """
            WITH h AS (
              SELECT doc_id,
                list_transform(
                  range(0, greatest(len(string_split(text,' ')) - 3, 0) + 1),
                  i -> md5(array_to_string(list_slice(string_split(text,' '), i + 1, i + 3), ' '))
                ) AS hashes
              FROM documents
            )
            SELECT doc_id, unnest(list_distinct(list_transform(
              range(0, greatest(len(hashes) - 4, 0) + 1),
              i -> list_min(list_slice(hashes, i + 1, i + 4))
            ))) AS fp
            FROM h
        """,
        "dedup_exact": EXACT_DUP_SQL,
        "dedup_minhash": minhash_oracle_sql(),
        "dedup_minhash_bands": f"""
            WITH sigs AS ({minhash_oracle_sql()})
            SELECT doc_id, CAST(floor(hash_idx / 2) AS BIGINT) AS band_id,
                   md5(array_to_string(list_sort(list(minhash)), '|')) AS band_key
            FROM sigs GROUP BY doc_id, floor(hash_idx / 2)
        """,
        "dedup_ngram_jaccard": """
            WITH sh AS (
              SELECT doc_id, list_distinct(list_transform(
                range(0, greatest(len(string_split(text,' ')) - 3, 0) + 1),
                i -> array_to_string(list_slice(string_split(text,' '), i + 1, i + 3), ' ')
              )) AS s
              FROM documents
            ),
            pairs AS (
              SELECT doc_id AS doc_a, doc_id + 1 AS doc_b FROM documents WHERE doc_id < 40
            )
            SELECT p.doc_a, p.doc_b,
              CAST(floor(len(list_intersect(a.s, b.s)) * 10000
                   / greatest(len(list_distinct(list_concat(a.s, b.s))), 1)) AS BIGINT) AS jaccard_bp
            FROM pairs p JOIN sh a ON p.doc_a = a.doc_id JOIN sh b ON p.doc_b = b.doc_id
        """,
        "dedup_ngram_containment": __import__(
            "fetch_engines_spark.pipelines.dedup", fromlist=["x"]
        ).ngram_containment_oracle_sql(
            "SELECT doc_id AS doc_a, doc_id + 1 AS doc_b FROM documents WHERE doc_id < 40"
        ),
        "dedup_incremental": __import__(
            "fetch_engines_spark.pipelines.dedup", fromlist=["x"]
        ).incremental_pairs_oracle_sql(
            old_source="(SELECT * FROM documents WHERE doc_id % 2 = 0)",
            new_source="(SELECT * FROM documents WHERE doc_id % 2 = 1)",
        ),
        "dedup_index_compaction": __import__(
            "fetch_engines_spark.pipelines.dedup", fromlist=["x"]
        ).minhash_index_oracle_sql("documents"),
        "vocab_cms": __import__(
            "fetch_engines_spark.pipelines.text", fromlist=["x"]
        ).count_min_estimate_sql(_CMS_PROBES),
        "decontaminate_fuzzy": __import__(
            "fetch_engines_spark.pipelines.dedup", fromlist=["x"]
        ).decontaminate_fuzzy_oracle_sql(
            docs_sql="SELECT doc_id, text FROM documents",
            benchmark_sql=(
                "SELECT doc_id, substring(text, 1, greatest(length(text) - 30, 50))"
                " AS text FROM documents WHERE doc_id % 25 = 0"
            ),
            threshold_bp=5000,
        ),
        "dedup_planted": __import__("fetch_engines_spark.pipelines.dedup", fromlist=["x"]).candidate_pairs_oracle_sql(
            source=f"read_parquet('{os.path.join(FIXTURES_DIR, 'neardup.parquet')}')",
            num_hashes=6,
            band_size=1,
        ),
        "dedup_clusters": __import__(
            "fetch_engines_spark.pipelines.dedup", fromlist=["x"]
        ).connected_components_oracle_sql(
            __import__(
                "fetch_engines_spark.pipelines.dedup", fromlist=["x"]
            ).candidate_pairs_oracle_sql(
                source=f"read_parquet('{os.path.join(FIXTURES_DIR, 'neardup.parquet')}')",
                num_hashes=6,
                band_size=1,
            )
        ),
        "training_pipeline_full": f"""
            WITH md AS (
              SELECT doc_id, title, markdown FROM read_parquet('{_EXPECTED_MD}')
            ),
            spanc AS (
              SELECT doc_id, count(*) AS n_spans
              FROM read_parquet('{_EXPECTED_SPANS}') GROUP BY doc_id
            ),
            f AS (
              SELECT doc_id,
                length(markdown) AS n_chars_computed,
                len(string_split_regex(trim(markdown), '\\s+')) AS n_tokens,
                len(regexp_extract_all(markdown, '[^\\w\\s]')) AS n_punct,
                len(list_filter(string_split(markdown, ' '), w -> w IN ('the','and','of','to','in','is'))) AS n_stop
              FROM md
            ),
            q AS (
              SELECT doc_id, n_tokens,
                least(5, CAST(floor(n_tokens / 100) AS BIGINT))
                + CASE WHEN CAST(floor(n_stop * 10000 / greatest(n_tokens, 1)) AS BIGINT) BETWEEN 100 AND 6000 THEN 2 ELSE 0 END
                + CASE WHEN CAST(floor(n_punct * 10000 / greatest(n_chars_computed, 1)) AS BIGINT) <= 2000 THEN 1 ELSE 0 END
                + CASE WHEN CAST(floor(n_chars_computed * 100 / greatest(n_tokens, 1)) AS BIGINT) BETWEEN 300 AND 1200 THEN 2 ELSE 0 END
                AS quality_score
              FROM f
            ),
            ch AS (
              SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks FROM (
                {{chunks}}
              ) GROUP BY doc_id
            )
            SELECT md.doc_id, md.title, coalesce(spanc.n_spans, 0) AS n_spans,
                   q.n_tokens, q.quality_score,
                   coalesce(ch.n_chunks, 0) AS n_chunks,
                   q.quality_score >= 4 AS kept
            FROM md
            LEFT JOIN spanc ON md.doc_id = spanc.doc_id
            JOIN q ON md.doc_id = q.doc_id
            LEFT JOIN ch ON md.doc_id = ch.doc_id
        """.format(
            chunks=__import__(
                "fetch_engines_spark.pipelines.text", fromlist=["x"]
            ).doc_chunks_sql(
                max_tokens=24,
                source=f"(SELECT doc_id, markdown AS text FROM read_parquet('{_EXPECTED_MD}'))",
            )
        ),
        "dedup_clusters_chain": __import__(
            "fetch_engines_spark.pipelines.dedup", fromlist=["x"]
        ).connected_components_oracle_sql(
            "SELECT doc_id AS doc_a, doc_id + 3 AS doc_b FROM documents "
            "WHERE doc_id < 297"
        ),
        "dedup_minhash_prod": __import__(
            "fetch_engines_spark.pipelines.dedup", fromlist=["x"]
        ).minhash_fast_pairs_oracle_sql(
            source=f"read_parquet('{os.path.join(FIXTURES_DIR, 'neardup_hi.parquet')}')",
            num_hashes=128,
            band_size=8,
        ),
        "dedup_minhash_capped": __import__(
            "fetch_engines_spark.pipelines.dedup", fromlist=["x"]
        ).capped_candidate_pairs_oracle_sql(
            source=f"read_parquet('{os.path.join(FIXTURES_DIR, 'adversarial.parquet')}')",
            num_hashes=4,
            band_size=2,
            max_bucket_size=50,
        ),
        "dedup_simhash": __import__(
            "fetch_engines_spark.pipelines.dedup", fromlist=["x"]
        ).simhash_oracle_sql(),
        "dedup_simhash_pairs": __import__(
            "fetch_engines_spark.pipelines.dedup", fromlist=["x"]
        ).simhash_pairs_oracle_sql(bits=32, n_blocks=4, max_hamming=3),
        "dedup_simhash64_pairs": __import__(
            "fetch_engines_spark.pipelines.dedup", fromlist=["x"]
        ).simhash_pairs64_oracle_sql(max_hamming=3),
        "dedup_simhash_capped": __import__(
            "fetch_engines_spark.pipelines.dedup", fromlist=["x"]
        ).simhash_pairs64_oracle_sql(
            source=f"read_parquet('{os.path.join(FIXTURES_DIR, 'adversarial.parquet')}')",
            max_hamming=3,
            max_bucket_size=50,
        ),
        "embedding_topk": BRUTE_FORCE_TOPK_SQL.format(nq=10, k=5),
        "embedding_topk_lsh": __import__(
            "fetch_engines_spark.pipelines.similarity", fromlist=["x"]
        ).lsh_topk_multi_sql(k=5, num_tables=8, planes_per_table=16, dims=64, nq=10),
        "embedding_topk_lsh_planted": __import__(
            "fetch_engines_spark.pipelines.similarity", fromlist=["x"]
        ).lsh_topk_multi_sql(
            k=5, num_tables=8, planes_per_table=16, dims=64, nq=12,
            source=f"read_parquet('{os.path.join(FIXTURES_DIR, 'neardup_embeddings.parquet')}')",
        ),
        "embedding_topk_ivf": __import__("fetch_engines_spark.pipelines.similarity", fromlist=["x"]).ivf_topk_sql(k=5, n_centroids=8, n_probe=2, nq=10),
        "embedding_topk_pq": __import__(
            "fetch_engines_spark.pipelines.similarity", fromlist=["x"]
        ).pq_topk_sql(k=5, m=4, ks=8, dims=64, nq=10),
        "embedding_topk_ivfpq": __import__(
            "fetch_engines_spark.pipelines.similarity", fromlist=["x"]
        ).ivfpq_topk_sql(k=5, n_centroids=8, n_probe=2, m=4, ks=8, dims=64, nq=10),
        "media_metadata": f"""
            SELECT media_id, exp_kind AS kind,
                   exp_width AS width, exp_height AS height,
                   exp_n_frames AS n_frames, exp_payload_bytes AS payload_bytes,
                   CASE WHEN exp_kind IS NULL THEN 'not a FESB payload' END AS error
            FROM '{_MEDIA}'
        """,
        "media_frame_sample": f"""
            SELECT media_id, unnest(range(0, exp_n_frames, 10)) AS frame_idx
            FROM '{_MEDIA}' WHERE exp_kind = 'video'
        """,
        "media_pixel_stats": f"""
            SELECT media_id, exp_width AS width, exp_height AS height,
                   exp_channels AS channels, exp_pixel_sum AS pixel_sum,
                   exp_error_prefix AS error_prefix
            FROM read_parquet(['{os.path.join(FIXTURES_DIR, "pngs.parquet")}',
                               '{os.path.join(FIXTURES_DIR, "gifs.parquet")}',
                               '{os.path.join(FIXTURES_DIR, "jpegs.parquet")}'])
        """,
        "media_resize": f"""
            SELECT media_id, exp_width AS width, exp_height AS height,
                   exp_channels AS channels, exp_resize8_sum AS resized_sum,
                   exp_error_prefix AS error_prefix
            FROM read_parquet(['{os.path.join(FIXTURES_DIR, "pngs.parquet")}',
                               '{os.path.join(FIXTURES_DIR, "gifs.parquet")}',
                               '{os.path.join(FIXTURES_DIR, "jpegs.parquet")}'])
        """,
        "media_dhash": f"""
            SELECT media_id, exp_dhash_hex AS dhash_hex,
                   exp_b0 AS b0, exp_b1 AS b1, exp_b2 AS b2, exp_b3 AS b3,
                   exp_error_prefix AS error_prefix
            FROM read_parquet(['{os.path.join(FIXTURES_DIR, "pngs.parquet")}',
                               '{os.path.join(FIXTURES_DIR, "gifs.parquet")}',
                               '{os.path.join(FIXTURES_DIR, "jpegs.parquet")}',
                               '{os.path.join(FIXTURES_DIR, "images_neardup.parquet")}'],
                              union_by_name=true)
        """,
        "media_neardup_pairs": f"""
            WITH s AS (
              SELECT media_id, exp_b0, exp_b1, exp_b2, exp_b3
              FROM read_parquet('{os.path.join(FIXTURES_DIR, "images_neardup.parquet")}')
            )
            SELECT a.media_id AS media_a, b.media_id AS media_b,
                   CAST(bit_count(xor(a.exp_b0, b.exp_b0))
                      + bit_count(xor(a.exp_b1, b.exp_b1))
                      + bit_count(xor(a.exp_b2, b.exp_b2))
                      + bit_count(xor(a.exp_b3, b.exp_b3)) AS INTEGER) AS hamming
            FROM s a JOIN s b ON a.media_id < b.media_id
            WHERE bit_count(xor(a.exp_b0, b.exp_b0))
                + bit_count(xor(a.exp_b1, b.exp_b1))
                + bit_count(xor(a.exp_b2, b.exp_b2))
                + bit_count(xor(a.exp_b3, b.exp_b3)) <= 3
        """,
        "media_audio_fp": f"""
            SELECT media_id, exp_afp_hex AS afp_hex,
                   exp_b0 AS b0, exp_b1 AS b1, exp_b2 AS b2, exp_b3 AS b3,
                   exp_error_prefix AS error_prefix
            FROM read_parquet(['{os.path.join(FIXTURES_DIR, "wavs.parquet")}',
                               '{os.path.join(FIXTURES_DIR, "audio_neardup.parquet")}'],
                              union_by_name=true)
        """,
        "media_audio_neardup_pairs": f"""
            WITH s AS (
              SELECT media_id, exp_b0, exp_b1, exp_b2, exp_b3
              FROM read_parquet('{os.path.join(FIXTURES_DIR, "audio_neardup.parquet")}')
            )
            SELECT a.media_id AS media_a, b.media_id AS media_b,
                   CAST(bit_count(xor(a.exp_b0, b.exp_b0))
                      + bit_count(xor(a.exp_b1, b.exp_b1))
                      + bit_count(xor(a.exp_b2, b.exp_b2))
                      + bit_count(xor(a.exp_b3, b.exp_b3)) AS INTEGER) AS hamming
            FROM s a JOIN s b ON a.media_id < b.media_id
            WHERE bit_count(xor(a.exp_b0, b.exp_b0))
                + bit_count(xor(a.exp_b1, b.exp_b1))
                + bit_count(xor(a.exp_b2, b.exp_b2))
                + bit_count(xor(a.exp_b3, b.exp_b3)) <= 3
        """,
        "media_span_canonicalize": f"""
            WITH RECURSIVE s AS (
              SELECT media_id, exp_b0, exp_b1, exp_b2, exp_b3
              FROM read_parquet('{os.path.join(FIXTURES_DIR, "images_neardup.parquet")}')
            ),
            pairs AS (
              SELECT a.media_id AS doc_a, b.media_id AS doc_b
              FROM s a JOIN s b ON a.media_id < b.media_id
              WHERE bit_count(xor(a.exp_b0, b.exp_b0)) + bit_count(xor(a.exp_b1, b.exp_b1))
                  + bit_count(xor(a.exp_b2, b.exp_b2)) + bit_count(xor(a.exp_b3, b.exp_b3)) <= 3
            ),
            edges AS (
              SELECT doc_a AS src, doc_b AS dst FROM pairs
              UNION
              SELECT doc_b AS src, doc_a AS dst FROM pairs
            ),
            reach(node, r) AS (
              SELECT src, src FROM edges
              UNION
              SELECT e.src, rr.r FROM edges e JOIN reach rr ON e.dst = rr.node
            ),
            comp AS (SELECT node, min(r) AS component FROM reach GROUP BY node),
            canon AS (
              SELECT node AS media_ref, component AS canonical
              FROM comp WHERE node <> component
            ),
            ex AS (
              SELECT doc_id, unnest(spans) AS sp,
                     CAST(generate_subscripts(spans, 1) - 1 AS INTEGER) AS pos
              FROM read_parquet('{os.path.join(FIXTURES_DIR, "documents_media.parquet")}')
            )
            SELECT ex.doc_id, ex.pos, ex.sp['kind'] AS kind, ex.sp['text'] AS text,
                   coalesce(c.canonical, ex.sp['media_ref']) AS media_ref,
                   ex.sp['offset'] AS "offset"
            FROM ex LEFT JOIN canon c ON ex.sp['media_ref'] = c.media_ref
        """,
        "media_video_frames": f"""
            SELECT media_id, frame_idx, exp_width AS width,
                   exp_height AS height, exp_channels AS channels,
                   exp_n_frames AS n_frames, exp_pixel_sum AS pixel_sum,
                   exp_error_prefix AS error_prefix
            FROM read_parquet('{os.path.join(FIXTURES_DIR, "avi_expected.parquet")}')
        """,
        "media_video_dhash": f"""
            SELECT media_id, frame_idx, exp_n_frames AS n_frames,
                   exp_dhash_hex AS dhash_hex,
                   exp_error_prefix AS error_prefix
            FROM read_parquet('{os.path.join(FIXTURES_DIR, "avi_neardup_expected.parquet")}')
        """,
        "media_video_neardup_pairs": f"""
            WITH fh AS (
              SELECT DISTINCT media_id, exp_dhash_hex
              FROM read_parquet('{os.path.join(FIXTURES_DIR, "avi_neardup_expected.parquet")}')
              WHERE exp_dhash_hex IS NOT NULL
            ),
            sz AS (
              SELECT media_id, CAST(count(*) AS BIGINT) AS n FROM fh GROUP BY media_id
            ),
            sh AS (
              SELECT a.media_id AS media_a, b.media_id AS media_b,
                     CAST(count(*) AS BIGINT) AS n_shared
              FROM fh a
              JOIN fh b ON a.exp_dhash_hex = b.exp_dhash_hex
                       AND a.media_id < b.media_id
              GROUP BY 1, 2
            )
            SELECT media_a, media_b, CAST(n_shared AS INTEGER) AS n_shared,
                   CAST((10000 * n_shared) // least(sa.n, sb.n) AS INTEGER) AS share_bp
            FROM sh
            JOIN sz sa ON sh.media_a = sa.media_id
            JOIN sz sb ON sh.media_b = sb.media_id
            WHERE (10000 * n_shared) // least(sa.n, sb.n) >= 8000
        """,
        "warc_ingest": f"""
            SELECT record_id, warc_type, url, warc_date, content_type,
                   content_length, http_status, http_content_type,
                   payload_md5, payload_bytes
            FROM read_parquet('{os.path.join(FIXTURES_DIR, "warc_expected.parquet")}')
        """,
        "media_gif_frames": f"""
            SELECT media_id, frame_idx, exp_width AS width,
                   exp_height AS height, exp_n_frames AS n_frames,
                   exp_pixel_sum AS pixel_sum,
                   exp_error_prefix AS error_prefix
            FROM read_parquet('{os.path.join(FIXTURES_DIR, "gif_anim_expected.parquet")}')
        """,
        "media_audio_stats": f"""
            SELECT media_id, exp_sample_rate AS sample_rate,
                   exp_channels AS channels, exp_n_frames AS n_frames,
                   exp_peak AS peak, exp_energy AS energy,
                   exp_error_prefix AS error_prefix
            FROM read_parquet('{os.path.join(FIXTURES_DIR, "wavs.parquet")}')
        """,
        "routing_decisions": _ROUTING_SQL,
        "mime_split": f"""
            SELECT content_id,
              (regexp_matches(lower(trim(string_split(mime, ';')[1])),
                 '^(?:text/|application/(?:json|xml|javascript|x-javascript|ecmascript|x-www-form-urlencoded)|image/svg)')
               OR lower(trim(string_split(mime, ';')[1])) LIKE '%+json'
               OR lower(trim(string_split(mime, ';')[1])) LIKE '%+xml') AS is_text,
              -- expected text = build-time Python-codec decode with the MIME
              -- charset (engine-independent); the is_text predicate stays a
              -- genuine SQL twin
              CASE WHEN (regexp_matches(lower(trim(string_split(mime, ';')[1])),
                 '^(?:text/|application/(?:json|xml|javascript|x-javascript|ecmascript|x-www-form-urlencoded)|image/svg)')
               OR lower(trim(string_split(mime, ';')[1])) LIKE '%+json'
               OR lower(trim(string_split(mime, ';')[1])) LIKE '%+xml')
                THEN exp_text END AS text,
              octet_length(payload) AS payload_bytes
            FROM '{_RAW_CONTENT}'
        """,
        "dedup_embedding": __import__(
            "fetch_engines_spark.pipelines.similarity", fromlist=["x"]
        ).embedding_pairs_oracle_sql(
            source=f"read_parquet('{os.path.join(FIXTURES_DIR, 'neardup_embeddings.parquet')}')",
            num_tables=8,
            planes_per_table=8,
            dims=64,
            threshold_bp=9500,
        ),
        "doc_bm25_topk": __import__(
            "fetch_engines_spark.pipelines.text", fromlist=["x"]
        ).bm25_topk_sql(["customer", "scan", "dup"], k=10),
        "doc_clusters": __import__(
            "fetch_engines_spark.pipelines.similarity", fromlist=["x"]
        ).doc_kmeans_clusters_sql(n_centroids=8, n_iter=2, dims=64),
        "mixture_sample": "SELECT doc_id, source, mix_rank FROM ("
        + __import__("fetch_engines_spark.pipelines.text", fromlist=["x"]).mixture_sample_sql(
            {"src0": 5000, "src1": 3000, "src2": 2000}
        )
        + ")",
        "spans_boilerplate_strip": f"""
            WITH ex AS (
              SELECT doc_id, unnest(spans) AS sp,
                     CAST(generate_subscripts(spans, 1) - 1 AS INTEGER) AS pos
              FROM read_parquet('{os.path.join(FIXTURES_DIR, "spans_boilerplate.parquet")}')
            ),
            flat AS (
              SELECT doc_id, pos, sp.kind AS kind, sp.text AS text,
                     sp.media_ref AS media_ref, sp."offset" AS off,
                     CASE WHEN sp.kind = 'text' THEN md5(sp.text) END AS th
              FROM ex
            ),
            boiler AS (
              SELECT th FROM (
                SELECT th, count(DISTINCT doc_id) AS ndocs
                FROM flat WHERE th IS NOT NULL GROUP BY th
              ) WHERE ndocs >= 3
            ),
            marked AS (
              SELECT f.*, (b.th IS NOT NULL) AS bp
              FROM flat f LEFT JOIN boiler b ON f.th = b.th
            ),
            removed AS (
              SELECT doc_id,
                     CAST(sum(CASE WHEN bp THEN 1 ELSE 0 END) AS BIGINT) AS n_text_removed
              FROM marked GROUP BY doc_id
            )
            SELECT m.doc_id,
                   CAST(row_number() OVER (PARTITION BY m.doc_id ORDER BY m.pos) - 1 AS INTEGER) AS new_pos,
                   m.kind, m.text, m.media_ref, m.off AS "offset", r.n_text_removed
            FROM marked m JOIN removed r ON m.doc_id = r.doc_id
            WHERE NOT m.bp
        """,
        "dedup_bloom_gate": __import__(
            "fetch_engines_spark.pipelines.dedup", fromlist=["x"]
        ).bloom_gate_oracle_sql(
            source="documents", n_history=250, m_bits=2048, k_hashes=3
        ),
        "dedup_semantic": __import__(
            "fetch_engines_spark.pipelines.similarity", fromlist=["x"]
        ).semantic_dedup_sql(
            source=f"read_parquet('{os.path.join(FIXTURES_DIR, 'neardup_embeddings.parquet')}')",
            n_centroids=8,
            threshold_bp=9500,
            n_iter=2,
            dims=64,
        ),
        "dedup_embedding_capped": __import__(
            "fetch_engines_spark.pipelines.similarity", fromlist=["x"]
        ).embedding_pairs_capped_oracle_sql(
            source=f"read_parquet('{os.path.join(FIXTURES_DIR, 'skewed_embeddings.parquet')}')",
            num_tables=8,
            planes_per_table=8,
            dims=64,
            threshold_bp=9500,
            max_bucket_size=50,
        ),
        "corpus_curation": r"""
            WITH q AS (
              SELECT doc_id, source, text,
                least(5, CAST(floor(len(string_split_regex(trim(text), '\s+')) / 100) AS BIGINT))
                + CASE WHEN CAST(floor(len(list_filter(string_split(text, ' '), w -> w IN ('the','and','of','to','in','is'))) * 10000 / greatest(len(string_split_regex(trim(text), '\s+')), 1)) AS BIGINT) BETWEEN 100 AND 6000 THEN 2 ELSE 0 END
                + CASE WHEN CAST(floor(len(regexp_extract_all(text, '[^\w\s]')) * 10000 / greatest(length(text), 1)) AS BIGINT) <= 2000 THEN 1 ELSE 0 END
                + CASE WHEN CAST(floor(length(text) * 100 / greatest(len(string_split_regex(trim(text), '\s+')), 1)) AS BIGINT) BETWEEN 300 AND 1200 THEN 2 ELSE 0 END
                AS quality_score
              FROM documents
            ),
            passed AS (SELECT * FROM q WHERE quality_score >= 4),
            keeper AS (SELECT min(doc_id) AS doc_id FROM passed GROUP BY md5(text)),
            kept AS (SELECT p.* FROM passed p WHERE p.doc_id IN (SELECT doc_id FROM keeper))
            SELECT source, count(*) AS n_kept, min(doc_id) AS min_doc_id, max(doc_id) AS max_doc_id
            FROM kept GROUP BY source
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
        "streaming_extract": f"""
            SELECT m.doc_id, m.title,
                   coalesce(s.n_spans, 0) AS n_spans, m.markdown
            FROM '{_EXPECTED_MD}' m
            LEFT JOIN (
              SELECT doc_id, count(*) AS n_spans FROM '{_EXPECTED_SPANS}' GROUP BY doc_id
            ) s USING (doc_id)
        """,
        "media_ref_carry": f"""
            SELECT doc_id, kind, media_ref FROM '{_EXPECTED_SPANS}'
            WHERE media_ref IS NOT NULL ORDER BY doc_id, media_ref
        """,
        "mixed_extract": f"""
            SELECT content_id, exp_route AS route, exp_n_spans AS n_spans, true AS ok
            FROM read_parquet('{os.path.join(FIXTURES_DIR, "mixed_content.parquet")}')
        """,
        "text_repetition": _TEXT_REPETITION_SQL,
        "dedup_substring": _DEDUP_SUBSTRING_SQL,
        "corpus_curation_full": f"""
            WITH q AS ({QUALITY_SQL}),
            rep AS ({_TEXT_REPETITION_SQL}),
            sub AS ({_DEDUP_SUBSTRING_SQL}),
            passed AS (
              SELECT d.doc_id, d.text, d.source, q.n_tokens
              FROM documents d
              JOIN q ON d.doc_id = q.doc_id
              JOIN rep ON d.doc_id = rep.doc_id
              JOIN sub ON d.doc_id = sub.doc_id
              WHERE q.quality_score >= 4
                AND NOT rep.repetition_flagged
                AND sub.shared_window_bp < 5000
            ),
            keeper AS (
              SELECT min(doc_id) AS doc_id FROM passed GROUP BY md5(text)
            )
            SELECT p.source,
              CAST(count(*) AS BIGINT) AS n_kept,
              CAST(sum(p.n_tokens) AS BIGINT) AS kept_tokens,
              min(p.doc_id) AS min_doc_id
            FROM passed p JOIN keeper k ON p.doc_id = k.doc_id
            GROUP BY p.source
        """,
        "url_canonicalize": f"""
            WITH base AS (SELECT doc_id, {_SYNTHETIC_URL_SQL} AS url FROM documents),
            p1 AS (
              SELECT *, regexp_replace(trim(url), '#.*', '') AS nofrag FROM base
            ),
            p2 AS (
              SELECT *,
                lower(regexp_extract(nofrag, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
                regexp_replace(nofrag, '^[A-Za-z][A-Za-z0-9+.-]*://', '') AS after
              FROM p1
            ),
            p3 AS (SELECT *, lower(regexp_extract(after, '^([^/?]*)', 1)) AS hostport FROM p2),
            p4 AS (
              SELECT *,
                CASE WHEN scheme = 'http'
                     THEN regexp_replace(regexp_replace(hostport, '^[^@]*@', ''), ':80$', '')
                     WHEN scheme = 'https'
                     THEN regexp_replace(regexp_replace(hostport, '^[^@]*@', ''), ':443$', '')
                     ELSE regexp_replace(hostport, '^[^@]*@', '') END AS host,
                regexp_extract(substr(after, length(hostport) + 1), '^([^?]*)', 1) AS path,
                regexp_extract(substr(after, length(hostport) + 1), '\\?(.*)$', 1) AS query
              FROM p3
            ),
            p5 AS (
              SELECT *, array_to_string(list_sort(list_filter(string_split(query, '&'),
                p -> p <> '' AND NOT regexp_matches(p, '^(utm_[A-Za-z0-9_]*|gclid|fbclid|msclkid|ref)='))),
                '&') AS canon_query
              FROM p4
            )
            SELECT doc_id, url,
              concat(scheme, '://', host,
                     CASE WHEN path = '' THEN '/' ELSE path END,
                     CASE WHEN canon_query <> '' THEN '?' || canon_query ELSE '' END) AS canonical_url,
              host,
              {REGISTERED_DOMAIN_SQL_HOST} AS domain
            FROM p5
        """,
        "url_domain_stats": f"""
            WITH base AS (SELECT doc_id, text, {_SYNTHETIC_URL_SQL} AS url FROM documents),
            p1 AS (
              SELECT *, regexp_replace(trim(url), '#.*', '') AS nofrag FROM base
            ),
            p2 AS (
              SELECT *,
                lower(regexp_extract(nofrag, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
                regexp_replace(nofrag, '^[A-Za-z][A-Za-z0-9+.-]*://', '') AS after
              FROM p1
            ),
            p3 AS (SELECT *, lower(regexp_extract(after, '^([^/?]*)', 1)) AS hostport FROM p2),
            p4 AS (
              SELECT *,
                CASE WHEN scheme = 'http'
                     THEN regexp_replace(regexp_replace(hostport, '^[^@]*@', ''), ':80$', '')
                     WHEN scheme = 'https'
                     THEN regexp_replace(regexp_replace(hostport, '^[^@]*@', ''), ':443$', '')
                     ELSE regexp_replace(hostport, '^[^@]*@', '') END AS host,
                regexp_extract(substr(after, length(hostport) + 1), '^([^?]*)', 1) AS path,
                regexp_extract(substr(after, length(hostport) + 1), '\\?(.*)$', 1) AS query
              FROM p3
            ),
            p5 AS (
              SELECT *, array_to_string(list_sort(list_filter(string_split(query, '&'),
                p -> p <> '' AND NOT regexp_matches(p, '^(utm_[A-Za-z0-9_]*|gclid|fbclid|msclkid|ref)='))),
                '&') AS canon_query
              FROM p4
            ),
            canon AS (
              SELECT doc_id, length(text) AS n_chars,
                concat(scheme, '://', host,
                       CASE WHEN path = '' THEN '/' ELSE path END,
                       CASE WHEN canon_query <> '' THEN '?' || canon_query ELSE '' END) AS canonical_url,
                {REGISTERED_DOMAIN_SQL_HOST} AS domain
              FROM p5
            )
            SELECT domain,
              CAST(count(*) AS BIGINT) AS n_docs,
              CAST(count(DISTINCT canonical_url) AS BIGINT) AS n_urls,
              CAST(sum(n_chars) AS BIGINT) AS total_chars
            FROM canon GROUP BY domain
        """,
        "resource_blocking": f"""
            WITH reqs AS (
              SELECT doc_id,
                CASE doc_id % 5 WHEN 0 THEN 'image' WHEN 1 THEN 'script'
                     WHEN 2 THEN 'font' WHEN 3 THEN 'stylesheet'
                     ELSE 'xhr' END AS kind,
                concat('https://',
                  CASE doc_id % 6 WHEN 0 THEN 'cdn.example.com'
                       WHEN 1 THEN 'stats.doubleclick.net'
                       WHEN 2 THEN 'sub.google-analytics.com'
                       WHEN 3 THEN 'images.example.org'
                       WHEN 4 THEN 'platform.twitter.com'
                       ELSE 'proxy.example.net' END,
                  '/r/', CAST(doc_id AS VARCHAR),
                  CASE WHEN doc_id % 6 = 5 THEN '?u=adservice.google.com/x'
                       ELSE '' END) AS url
              FROM documents
            ),
            verdicts AS (
              SELECT doc_id, kind, url, {_BLOCK_RESOURCES_SQL}
              FROM reqs
            )
            SELECT doc_id, kind, url, blocked_by_type, blocked_by_domain,
                   blocked,
                   (blocked OR kind IN ('image','font','stylesheet','media'))
                     AS blocked_fast
            FROM verdicts
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
        "streaming_dedup": f"""
            SELECT DISTINCT md5(text) AS content_hash
            FROM read_parquet('{os.path.join(FIXTURES_DIR, "neardup.parquet")}')
        """,
        "jsonl_ingest": f"""
            SELECT doc_id, s."offset" AS "offset", s.kind, s.text, s.media_ref
            FROM (
              SELECT doc_id, unnest(spans) AS s
              FROM read_json('{os.path.join(FIXTURES_DIR, "documents_spans.jsonl")}',
                             format='newline_delimited', ignore_errors=true,
                             columns={{'doc_id': 'VARCHAR', 'base_url': 'VARCHAR',
                                      'canonical_url': 'VARCHAR',
                                      'spans': 'STRUCT(kind VARCHAR, text VARCHAR, media_ref VARCHAR, "offset" INTEGER)[]'}})
              WHERE doc_id IS NOT NULL
            )
        """,
        "eval_gate": f"""
            WITH ecases AS (SELECT * FROM '{os.path.join(FIXTURES_DIR, "eval_cases.parquet")}'),
            joined AS (
              SELECT c.*, coalesce(m.markdown, '') AS md
              FROM ecases c LEFT JOIN '{_EXPECTED_MD}' m USING (doc_id)
            ),
            vis AS (
              SELECT *, trim(regexp_replace(
                regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
                  md,
                  '```[\\s\\S]*?```', ' ', 'g'),
                  '`[^`]*`', ' ', 'g'),
                  '!\\[[^\\]]*]\\([^)]*\\)', ' ', 'g'),
                  '\\[([^\\]]*)\\]\\([^)]*\\)', '\\1', 'g'),
                  '(?m)^#{{1,6}}\\s+', '', 'g'),
                  '[*_~>-]', ' ', 'g'
                ), '\\s+', ' ', 'g')) AS md_text
              FROM joined
            )
            SELECT doc_id, name, category, archetype, gate,
              md <> '' AS has_markdown,
              length(md_text) >= min_text_length AS min_length_ok,
              (required_any IS NULL OR len(required_any) = 0
               OR len(list_filter(required_any, kw -> strpos(md, kw) > 0)) > 0) AS required_any_ok,
              true AS no_error,
              (md <> '' AND length(md_text) >= min_text_length
               AND (required_any IS NULL OR len(required_any) = 0
                    OR len(list_filter(required_any, kw -> strpos(md, kw) > 0)) > 0)) AS case_pass
            FROM vis
        """,
        "structured_validation": f"""
            WITH r AS (SELECT * FROM '{os.path.join(FIXTURES_DIR, "llm_responses.parquet")}'),
            base AS (
              SELECT doc_id, response, finish_reason,
                CASE WHEN json_valid(response) THEN json_type(response) = 'OBJECT' ELSE false END AS is_obj
              FROM r
            ),
            keyed AS (
              SELECT *,
                CASE WHEN is_obj THEN list_sort(json_keys(response)) ELSE [] END AS received
              FROM base
            ),
            analyzed AS (
              SELECT *,
                len(list_filter(received, k -> starts_with(k, '.') OR contains(k, ' ')
                    OR NOT list_contains(['title','price','in_stock'], k))) > 0 AS weird,
                list_filter(['title','price','in_stock'], n -> NOT list_contains(received, n)) AS missing,
                CASE WHEN is_obj THEN list_filter(['title','price','in_stock'],
                  n -> list_contains(received, n) AND (
                    CASE n
                      WHEN 'title' THEN json_type(response, '$.title') = 'NULL'
                      WHEN 'price' THEN json_type(response, '$.price') NOT IN ('DOUBLE','BIGINT','UBIGINT')
                      WHEN 'in_stock' THEN json_type(response, '$.in_stock') <> 'BOOLEAN'
                    END))
                ELSE [] END AS mismatched
              FROM keyed
            ),
            classified AS (
              SELECT *,
                CASE
                  WHEN finish_reason IS NOT NULL AND finish_reason NOT IN ('stop','unknown') THEN 'truncated'
                  WHEN NOT is_obj THEN 'invalid_json'
                  WHEN weird THEN 'key_mismatch'
                  WHEN len(missing) > 0 THEN 'missing_field'
                  WHEN len(mismatched) > 0 THEN 'type_mismatch'
                END AS error_kind,
                list_filter(mismatched, n -> n = 'price') AS num_mismatched
              FROM analyzed
            )
            SELECT doc_id,
              error_kind IS NULL AS ok,
              error_kind,
              coalesce(array_to_string(received, ','), '') AS received_keys,
              coalesce(array_to_string(missing, ','), '') AS missing_fields,
              coalesce(array_to_string(mismatched, ','), '') AS mismatched_fields,
              CASE
                WHEN error_kind = 'invalid_json' THEN 'Model response is not a JSON object: ' || substr(response, 1, 300)
                WHEN error_kind = 'key_mismatch' THEN 'Key mismatch. Expected: title, price, in_stock Received: ' || array_to_string(received, ', ')
                WHEN error_kind = 'missing_field' THEN 'Missing fields: ' || array_to_string(missing, ', ')
                WHEN error_kind = 'type_mismatch' AND len(num_mismatched) > 0 THEN
                  'Type validation failed for: ' || array_to_string(mismatched, ', ')
                  || '. Tip: fields (' || array_to_string(num_mismatched, ', ')
                  || ') returned as strings but expected numbers.'
                WHEN error_kind = 'type_mismatch' THEN 'Type validation failed for: ' || array_to_string(mismatched, ', ')
                WHEN error_kind = 'truncated' THEN 'Finish reason: ' || finish_reason
              END AS error_detail,
              CASE WHEN is_obj AND json_type(response, '$.title') = 'VARCHAR'
                   THEN json_extract_string(response, '$.title') END AS out_title,
              CASE WHEN is_obj AND json_type(response, '$.price') IN ('DOUBLE','BIGINT','UBIGINT')
                   THEN CAST(json_extract(response, '$.price') AS DOUBLE) END AS out_price,
              CASE WHEN is_obj AND json_type(response, '$.in_stock') = 'BOOLEAN'
                   THEN CAST(json_extract(response, '$.in_stock') AS BOOLEAN) END AS out_in_stock
            FROM classified
        """,
    }
