"""Text-analysis operators for large-scale training-data pipelines.

All operators are pure native-Column expressions (JVM-side, whole-stage
codegen) over a ``documents(doc_id, text, ...)`` table: language-ID
(stopword n-gram heuristic), quality and repetition scoring, token
counting, sampling, chunking and training-mix selection.  Arithmetic is
kept integer/deterministic so results are portable across engines; the
tests compare ``mixture_sample`` and ``lm_surprisal`` against their
DuckDB twins (``mixture_sample_sql``, ``lm_surprisal_sql``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Stopword marker sets per language (tiny, deterministic; the point is the
# Spark shape of the operator — explode-free, set-membership over a split).
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "in", "is"),
    "de": ("der", "die", "und", "das", "ist", "nicht"),
    "es": ("el", "la", "los", "que", "de", "es"),
    "fr": ("le", "les", "et", "est", "une", "dans"),
}

_PUNCT_RX = r"[^\w\s]"
_TOKEN_RX = r"[A-Za-z0-9]+|[^A-Za-z0-9\s]"


def words(text: Column) -> Column:
    return F.split(text, " ")


def marker_hits(text: Column, markers: tuple[str, ...]) -> Column:
    w = words(text)
    return F.size(F.filter(w, lambda x: x.isin(*markers)))


def lang_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Language-ID via stopword-hit argmax with deterministic tiebreak
    (first language in en>de>es>fr order wins ties)."""
    t = F.col(text_col)
    hit_cols = {f"hits_{lang}": marker_hits(t, m) for lang, m in LANG_MARKERS.items()}
    out = df.withColumns(hit_cols)
    best = F.greatest(*[F.col(c) for c in hit_cols])
    guess = (
        F.when(best == 0, F.lit("unknown"))
        .when(F.col("hits_en") == best, "en")
        .when(F.col("hits_de") == best, "de")
        .when(F.col("hits_es") == best, "es")
        .otherwise("fr")
    )
    return out.withColumn("lang_guess", guess)


def token_count_whitespace(text: Column) -> Column:
    return F.size(F.split(F.trim(text), r"\s+"))


def token_count_bpe_ish(text: Column) -> Column:
    """BPE-ish tokenization proxy: alnum runs + individual punctuation."""
    return F.regexp_count(text, F.lit(_TOKEN_RX))


def punct_count(text: Column) -> Column:
    return F.regexp_count(text, F.lit(_PUNCT_RX))


def quality_columns(text_col: str = "text") -> dict:
    """The quality signals as named Column expressions (pure per-row —
    compose them onto any scan with withColumns; no join needed)."""
    t = F.col(text_col)
    n_chars = F.length(t)
    n_tokens = token_count_whitespace(t)
    n_punct = punct_count(t)
    n_stop = marker_hits(t, LANG_MARKERS["en"])
    # widen to LONG before the x10000/x100 scaling: length()/size() are
    # int32, and under this repo's ANSI-on sessions a ~215k-punct doc
    # would THROW ARITHMETIC_OVERFLOW (ANSI off: silent negatives) —
    # DuckDB's len() is int64, so the oracle could never catch it
    punct_ratio_bp = F.floor(
        n_punct.cast("long") * 10000 / F.greatest(n_chars, F.lit(1))
    )
    stop_ratio_bp = F.floor(
        n_stop.cast("long") * 10000 / F.greatest(n_tokens, F.lit(1))
    )
    mean_token_len_cp = F.floor(
        n_chars.cast("long") * 100 / F.greatest(n_tokens, F.lit(1))
    )
    score = (
        F.least(F.lit(5), F.floor(n_tokens / 100))
        + F.when((stop_ratio_bp >= 100) & (stop_ratio_bp <= 6000), 2).otherwise(0)
        + F.when(punct_ratio_bp <= 2000, 1).otherwise(0)
        + F.when((mean_token_len_cp >= 300) & (mean_token_len_cp <= 1200), 2).otherwise(0)
    )
    return {
        "n_chars_computed": n_chars,
        "n_tokens": n_tokens,
        "n_tokens_bpe": token_count_bpe_ish(t),
        "n_punct": n_punct,
        "punct_ratio_bp": punct_ratio_bp,
        "stop_ratio_bp": stop_ratio_bp,
        "mean_token_len_cp": mean_token_len_cp,
        "quality_score": score,
    }


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Quality-scoring features: length, token counts, punct/stopword ratios
    (integer-scaled ×10000 so the DuckDB oracle matches bit-for-bit),
    plus a composite quality_score.
    """
    cols = quality_columns(text_col)
    return df.select(F.col("doc_id"), *[c.alias(n) for n, c in cols.items()])


def winnowing_fingerprints(text: Column, k: int = 3, window: int = 4) -> Column:
    """Winnowing document fingerprints (rolling-hash family): hash every
    k-word shingle, slide a window of ``window`` consecutive hashes, keep
    each window's minimum — the classic local-minima selection that makes
    fingerprints robust to insertions/reordering (used for near-dup and
    plagiarism detection at corpus scale).  Values identical to the
    DuckDB oracle's per-window construction.

    Round 6: the per-window ``slice`` construction evaluated O(words)
    interpreted slice+concat+min lambdas per document TWICE (shingling,
    then window minima) — measured minutes per 50k docs at sf1.0.  The
    shingles now come from the shared zip-shifted builder
    (``dedup.shingles`` — same arrays by construction), and the rolling
    minima from a sparse-table doubling: zip the min-array against its
    own ``span``-shifted slice log2(window) times, so each document does
    a constant number of array-level operations instead of one slice per
    window.  min is associative and idempotent, so overlapping power-of-
    two spans compose to exactly the per-window minimum."""
    return winnowing_window_mins(winnowing_shingle_hashes(text, k), text, window)


def winnowing_shingle_hashes(text: Column, k: int = 3) -> Column:
    """Stage 1 of winnowing: md5 per k-word shingle (shared zip-shifted
    shingle builder).  Materialize this as its own projection before
    :func:`winnowing_window_mins` — the min stage references it several
    times, and interpreted higher-order functions re-evaluate every
    reference (CollapseProject keeps non-cheap multi-referenced
    projections split, so a two-select pipeline hashes each document
    once)."""
    from .dedup import shingles

    return F.transform(shingles(text, k), lambda s: F.md5(s))


def winnowing_window_mins(hashes: Column, text: Column, window: int = 4) -> Column:
    """Stage 2 of winnowing: per-window minima of the shingle-hash array
    by sparse-table doubling (see :func:`winnowing_fingerprints`)."""
    n = F.size(hashes)
    # sparse-table doubling: after the loop m[i] = min(hashes[i .. i+span-1])
    m = hashes
    span = 1
    while span * 2 <= window:
        step = span
        out_len = F.greatest(n - 2 * step + 1, F.lit(1))
        m = F.zip_with(
            F.slice(m, 1, out_len),
            F.slice(m, step + 1, out_len),
            lambda a, b: F.least(a, b),
        )
        span *= 2
    if span < window:
        out_len = F.greatest(n - window + 1, F.lit(1))
        wins = F.zip_with(
            F.slice(m, 1, out_len),
            F.slice(m, window - span + 1, out_len),
            lambda a, b: F.least(a, b),
        )
    else:
        wins = m
    return (
        F.when(text.isNull(), F.lit(None).cast("array<string>"))
        .when(n >= window, F.array_distinct(wins))
        .otherwise(F.array(F.array_min(hashes)))
    )


def repetition_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher-style repetition quality signals, entirely shuffle-free.

    Per document (all native higher-order functions — at 10^12 docs these
    run inside the scan stage with zero exchanges):
    - ``dup_word_bp``: fraction of word occurrences that are repeats of an
      earlier word, in basis points (Gopher's duplicate-line fraction
      adapted to the word level for single-line corpora);
    - ``top_bigram_char_bp``: characters covered by the most frequent word
      bigram / total characters (Gopher §A1.1 "fraction of characters in
      the most common n-gram");
    - ``dup_5gram_bp``: fraction of 5-word windows that are duplicates of
      an earlier window (Gopher's duplicate n-gram character fraction,
      window-counted);
    - ``repetition_flagged``: the composite Gopher-style gate.

    The most-frequent-bigram search sorts the bigram array and finds the
    longest run with a single ``aggregate`` fold (state = previous element,
    current run, best run, best gram; ties break to the lexicographically
    smaller gram because runs of a sorted array arrive in ascending order
    and only a strictly longer run replaces the best).
    """
    cols = repetition_columns(text_col)
    return df.select(F.col("doc_id"), *[c.alias(n) for n, c in cols.items()])


def repetition_columns(text_col: str = "text") -> dict:
    """The Gopher repetition signals as named Column expressions (pure
    per-row HOFs — compose onto any scan; no join needed)."""
    from .dedup import shingles

    t = F.col(text_col)
    w = F.split(t, " ")
    n_words = F.size(w)
    n_chars = F.length(t)
    # int32 counts widen to LONG before x10000 (see quality_columns: the
    # repetitive spam these gates exist to catch is exactly what overflows)
    dup_word_bp = F.floor(
        (n_words - F.size(F.array_distinct(w))).cast("long") * 10000
        / F.greatest(n_words, F.lit(1))
    )

    g2_sorted = F.array_sort(shingles(t, 2))
    best = F.aggregate(
        g2_sorted,
        F.struct(
            F.lit("").alias("prev"),
            F.lit(0).alias("run"),
            F.lit(0).alias("best_run"),
            F.lit("").alias("best_gram"),
        ),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)).alias("run"),
            F.when(
                F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1))
                > acc["best_run"],
                F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)),
            )
            .otherwise(acc["best_run"])
            .alias("best_run"),
            F.when(
                F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1))
                > acc["best_run"],
                x,
            )
            .otherwise(acc["best_gram"])
            .alias("best_gram"),
        ),
    )
    top_bigram_char_bp = F.floor(
        best["best_run"].cast("long")
        * F.length(best["best_gram"])
        * 10000
        / F.greatest(n_chars, F.lit(1))
    )

    g5 = shingles(t, 5)
    dup_5gram_bp = F.floor(
        (F.size(g5) - F.size(F.array_distinct(g5))).cast("long") * 10000
        / F.greatest(F.size(g5), F.lit(1))
    )

    flagged = (
        (dup_word_bp > 6300)  # Gopher: >63% duplicate words
        # >20% of chars in one bigram — only when the bigram actually
        # repeats (short docs trivially put >20% of chars in a single
        # once-occurring bigram; that is length, not repetition)
        | ((best["best_run"] > 1) & (top_bigram_char_bp > 2000))
        | (dup_5gram_bp > 3000)
    )
    return {
        "dup_word_bp": dup_word_bp.cast("long"),
        "top_bigram_count": best["best_run"].cast("long"),
        "top_bigram": best["best_gram"],
        "top_bigram_char_bp": top_bigram_char_bp.cast("long"),
        "dup_5gram_bp": dup_5gram_bp.cast("long"),
        "repetition_flagged": flagged,
    }


def sample_by_hash(df: DataFrame, rate_bp: int, key_col: str = "doc_id") -> DataFrame:
    """Deterministic, engine-portable corpus sampling: keep a row iff the
    first 8 hex digits of md5(key) fall under rate_bp/10000 of the 32-bit
    space.  Unlike ``DataFrame.sample`` this is reproducible across runs,
    engines, partitionings, AND re-executions of a failed stage (Spark's
    sample re-draws on task retry — silently non-deterministic lineage);
    it is also a pure filter, so it pushes into the scan and composes with
    partition pruning."""
    threshold = (rate_bp * (1 << 32)) // 10000
    h = F.conv(F.substring(F.md5(F.col(key_col).cast("string")), 1, 8), 16, 10).cast(
        "long"
    )
    return df.filter(h < threshold)


# Sentence boundary: after . ! or ? followed by whitespace.  Implemented
# as a capture-group replace inserting a \x01 marker, then a plain split —
# lookbehind is unsupported by RE2, so this is the construction both
# engines execute identically.  Deliberately simple (no abbreviation
# model) but deterministic; the point is the *shape* — sentence-level
# rows for packing/dedup come from one replace+split+posexplode, no
# Python.
_SENT_MARK_RX = r"([.!?])\s+"


def doc_sentences(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Sentence segmentation to (doc_id, sent_idx, sentence, n_chars) rows
    — the row shape for sentence-level dedup and sequence packing."""
    marked = F.regexp_replace(F.col(text_col), _SENT_MARK_RX, "$1\u0001")
    sents = F.split(marked, "\u0001")
    out = df.select(
        F.col("doc_id"), F.posexplode(sents).alias("sent_idx", "sentence")
    ).filter(F.col("sentence") != "")
    return out.select(
        "doc_id", "sent_idx", "sentence", F.length("sentence").alias("n_chars")
    )


def doc_chunks(df: DataFrame, max_tokens: int = 64, text_col: str = "text") -> DataFrame:
    """Training-chunk packing: split each document into sentence-aligned
    chunks of ~``max_tokens`` whitespace tokens — the sequence-packing
    step before tokenization in an LLM data pipeline.

    Deterministic fixed-budget rule (engine-portable, unlike greedy
    packing with lookahead): a sentence belongs to chunk
    floor(tokens_before_it / max_tokens), where tokens_before is the
    running sum in sentence order.  One posexplode + one windowed cumsum
    + one groupBy — all shuffles are on doc_id, which the sentence
    explode already partitioned by, so AQE coalesces them; no Python.
    """
    from pyspark.sql import Window

    sents = doc_sentences(df, text_col).withColumn(
        "n_tokens", F.size(F.split(F.trim(F.col("sentence")), r"\s+"))
    )
    w = (
        Window.partitionBy("doc_id")
        .orderBy("sent_idx")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    chunked = sents.withColumn(
        "chunk_id",
        F.floor((F.sum("n_tokens").over(w) - F.col("n_tokens")) / max_tokens).cast("long"),
    )
    return chunked.groupBy("doc_id", "chunk_id").agg(
        F.count("*").cast("long").alias("n_sentences"),
        F.sum("n_tokens").cast("long").alias("n_tokens"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("sent_idx"), F.col("sentence")))
                ),
                lambda s: s["sentence"],
            ),
            " ",
        ).alias("chunk_text"),
    )


def cap_per_stratum(
    df: DataFrame, stratum_col: str, k: int, key_col: str = "doc_id"
) -> DataFrame:
    """Per-stratum corpus cap (e.g. max K documents per domain — the
    anti-monoculture guard in crawl curation): keep the K rows of each
    stratum that rank first by md5(key) — deterministic across runs,
    partitionings, and engines, unlike sample().  One shuffle on the
    stratum key; Spark turns the rank filter into WindowGroupLimit, so
    partial top-K runs map-side before the shuffle."""
    from pyspark.sql import Window

    w = Window.partitionBy(stratum_col).orderBy(
        F.md5(F.col(key_col).cast("string")), F.col(key_col)
    )
    return (
        df.withColumn("stratum_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("stratum_rank") <= k)
    )


def mixture_sample(
    df: DataFrame,
    targets_bp: dict[str, int],
    stratum_col: str = "source",
    key_col: str = "doc_id",
) -> DataFrame:
    """Deterministic training-mix construction: given target per-stratum
    proportions (basis points), keep the LARGEST subcorpus whose stratum
    ratios exactly match the targets (up to floor rounding) — the data
    mixing step of pre-training pipelines (fixed-weight mixes à la
    The Pile / DoReMi-static), where each source must contribute a
    prescribed share rather than its natural crawl share.

    The limiting source sets the scale: scale = min over strata of
    floor(n_s · 10^6 / target_s); every stratum then keeps its first
    floor(target_s · scale / 10^6) rows ranked by md5(key) (the same
    deterministic rank as :func:`cap_per_stratum` — reproducible across
    runs, engines, partitionings, and stage retries).  Strata not in
    ``targets_bp`` are dropped; a target stratum absent from the corpus
    makes the whole mix empty (its share is unachievable) — all in
    exact integer arithmetic.

    Scale shape (round 6 — retires the round-5 ``weak`` flag): ranking
    is BUCKETED.  One combinable (stratum, md5-prefix-bucket) count pass
    sizes every bucket (and yields the stratum totals for the scale);
    tiny per-bucket rank offsets (cumulative counts of earlier buckets)
    broadcast back; buckets whose offset already exceeds the stratum cap
    drop BEFORE the shuffle (only ~cap rows plus one boundary bucket per
    stratum ever move); the exact window then partitions by
    (stratum, bucket) — thousands of uniformly-sized keys, never the
    old one-reducer-per-stratum corpus sort — and mix_rank composes as
    offset + within-bucket rank, identical to the single global rank
    because bucket order IS md5-prefix order.  Returns the input columns
    plus mix_rank.

    Keys must be non-null: a row whose ``key_col`` is null has no md5 rank,
    so it is dropped before the counts and never takes a cap slot."""
    from itertools import chain

    from pyspark.sql import Window

    if not targets_bp or any(v <= 0 for v in targets_bp.values()):
        # a zero/negative share would null-propagate through the integer
        # scale division and silently distort the mix
        raise ValueError(
            "mixture_sample: targets_bp must be non-empty with positive shares"
        )
    df = df.filter(F.col(key_col).isNotNull())
    n_buckets = 4096  # 3 hex chars of the rank md5; ~n_s/4096 rows per window key
    tmap = F.create_map(
        *chain.from_iterable((F.lit(k), F.lit(v)) for k, v in targets_bp.items())
    )
    rkey = F.md5(F.col(key_col).cast("string"))
    bucket = F.conv(F.substring(rkey, 1, 3), 16, 10).cast("int")
    bcounts = (
        df.withColumn("__tbp", tmap[F.col(stratum_col)])
        .filter(F.col("__tbp").isNotNull())
        .groupBy(stratum_col, "__tbp", bucket.alias("__mix_bucket"))
        .agg(F.count("*").alias("__bn"))
    ).localCheckpoint(eager=False)
    counts = bcounts.groupBy(stratum_col, "__tbp").agg(F.sum("__bn").alias("__n"))
    # a target stratum with zero corpus rows never appears in counts, so
    # its unachievable share must zero the scale explicitly
    n_present = counts.agg(
        F.count("*").alias("__present"),
        F.min(F.expr("(__n * 1000000) div __tbp")).alias("__scale_raw"),
    ).select(
        F.when(F.col("__present") >= len(targets_bp), F.col("__scale_raw"))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("__scale")
    )
    caps = counts.crossJoin(F.broadcast(n_present)).select(
        stratum_col, F.expr("(__tbp * __scale) div 1000000").alias("__cap")
    )
    # per-bucket rank offset = rows of the stratum in strictly earlier
    # buckets (bucket order == md5-prefix order, so offset + within-bucket
    # rank IS the global (md5, key) rank); the offsets table is at most
    # strata x 4096 rows — broadcast, never a corpus shuffle
    woff = (
        Window.partitionBy(stratum_col)
        .orderBy("__mix_bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = bcounts.select(
        stratum_col,
        "__mix_bucket",
        F.coalesce(F.sum("__bn").over(woff), F.lit(0)).cast("long").alias("__off"),
    ).join(caps, stratum_col)
    w = Window.partitionBy(stratum_col, "__mix_bucket").orderBy(
        rkey, F.col(key_col)
    )
    return (
        df.withColumn("__mix_bucket", bucket)
        .join(F.broadcast(offsets), [stratum_col, "__mix_bucket"])
        # a bucket whose offset already reaches the cap cannot contribute
        # a selected row — the whole bucket drops before the rank shuffle
        .filter(F.col("__off") < F.col("__cap"))
        .withColumn(
            "mix_rank",
            (F.col("__off") + F.row_number().over(w)).cast("long"),
        )
        .filter(F.col("mix_rank") <= F.col("__cap"))
        .drop("__cap", "__off", "__mix_bucket")
    )


def mixture_sample_sql(
    targets_bp: dict[str, int],
    stratum_col: str = "source",
    key_col: str = "doc_id",
    source: str = "documents",
) -> str:
    """DuckDB twin of mixture_sample: same integer scale/caps, same
    md5-rank selection, same drop of null-key rows."""
    tvals = ", ".join(
        "('{}', {})".format(k.replace("'", "''"), v) for k, v in targets_bp.items()
    )
    return f"""
WITH t(stratum, tbp) AS (VALUES {tvals}),
keyed AS (SELECT * FROM {source} WHERE {key_col} IS NOT NULL),
counts AS (
  SELECT s.{stratum_col} AS stratum, t.tbp, count(*) AS n
  FROM keyed s JOIN t ON s.{stratum_col} = t.stratum
  GROUP BY 1, 2
),
scale AS (
  SELECT CAST(CASE WHEN count(*) >= {len(targets_bp)}
              THEN min((n * 1000000) // tbp) ELSE 0 END AS BIGINT) AS sc
  FROM counts
),
caps AS (SELECT stratum, (tbp * sc) // 1000000 AS cap FROM counts CROSS JOIN scale),
ranked AS (
  SELECT s.*, CAST(row_number() OVER (
           PARTITION BY s.{stratum_col}
           ORDER BY md5(CAST(s.{key_col} AS VARCHAR)), s.{key_col}
         ) AS BIGINT) AS mix_rank,
         c.cap
  FROM keyed s JOIN caps c ON s.{stratum_col} = c.stratum
)
SELECT * EXCLUDE (cap) FROM ranked WHERE mix_rank <= cap
"""


def _cms_cells(token_col, depth: int, width: int):
    """The (row, col) cell array for one token — row r's hash is the
    first 12 hex digits of md5("r{r}|" || token) mod width (the ONE
    shared definition both the sketch build and the point queries use)."""
    return F.array(
        *[
            F.struct(
                F.lit(r).alias("row"),
                (
                    F.conv(
                        F.substring(
                            F.md5(F.concat(F.lit(f"r{r}|"), token_col)), 1, 12
                        ),
                        16,
                        10,
                    ).cast("long")
                    % width
                ).alias("col"),
            )
            for r in range(depth)
        ]
    )


def count_min_sketch(
    df: DataFrame, text_col: str = "text", depth: int = 4, width: int = 1024
) -> DataFrame:
    """Count-min sketch of token frequencies: a ``depth`` × ``width``
    counter grid as (row, col, n, depth, width) rows — the mergeable,
    bounded-memory frequency summary (Cormode & Muthukrishnan).  Output
    size is ≤ depth·width rows REGARDLESS of corpus size (vs the
    unbounded distinct-token aggregation of exact counting); two
    sketches merge by summing cells, so per-day/per-shard sketches roll
    up for free.  The grid is SELF-DESCRIBING: depth/width ride as
    metadata columns so ``cms_estimate`` probes with the parameters the
    sketch was actually built with (a silent mismatch would hash probes
    into never-populated cells and report 0 — breaking the
    never-underestimate guarantee without an error).

    Engine-portable hashing (``_cms_cells``).  Plan shape: one token explode → one
    map-side-combinable groupBy on (row, col); the combine collapses to
    ≤ depth·width partial cells per task, which is the sketch's
    bounded-memory property realized in the shuffle."""
    toks = df.select(F.explode(F.split(F.col(text_col), " ")).alias("tok"))
    rows = toks.select(F.explode(_cms_cells(F.col("tok"), depth, width)).alias("rc"))
    return (
        rows.select(F.col("rc.row").alias("row"), F.col("rc.col").alias("col"))
        .groupBy("row", "col")
        .agg(F.count("*").alias("n"))
        .withColumn("depth", F.lit(depth))
        .withColumn("width", F.lit(width))
    )


def cms_merge(sketches: list[DataFrame]) -> DataFrame:
    """Merge per-shard/per-day sketches into one: cell-wise SUM over
    (row, col) — the mergeability property.  A bare union is NOT a valid
    sketch: duplicate (row, col) cells would make :func:`cms_estimate`'s
    min() pick one shard's PARTIAL count, an underestimate the structure
    must never produce.  Mismatched depth/width raise (different grids
    share no cells)."""
    if not sketches:
        raise ValueError("cms_merge: no sketches given")
    merged = sketches[0]
    for sk in sketches[1:]:
        merged = merged.unionByName(sk)
    params = merged.select("depth", "width").distinct().limit(2).collect()
    if len(params) > 1:
        raise ValueError(
            "cms_merge: sketches have mismatched depth/width "
            f"({[tuple(r) for r in params]}) — different grids share no cells"
        )
    return merged.groupBy("row", "col", "depth", "width").agg(
        F.sum("n").alias("n")
    )


def cms_estimate(sketch: DataFrame, tokens: list[str]) -> DataFrame:
    """Point-query the count-min sketch for a fixed probe set: estimate =
    min over rows of the token's cell (never underestimates; overshoots
    by at most ~corpus_tokens/width with high probability).  depth/width
    come FROM the sketch's metadata columns — callers cannot probe with
    mismatched parameters, and a sketch with MIXED metadata (a bare
    union of shards — use :func:`cms_merge`) raises instead of silently
    probing one arbitrary grid.  The probe side is a literal-derived
    tiny frame; the bounded (≤ depth·width row) sketch is the
    broadcast/build side of the left join, so the probe lookup never
    shuffles."""
    params = sketch.select("depth", "width").distinct().limit(2).collect()
    if not params:
        raise ValueError("empty sketch (no cells — was the corpus empty?)")
    if len(params) > 1:
        raise ValueError(
            "cms_estimate: sketch carries mixed depth/width "
            f"({[tuple(r) for r in params]}) — merge shards with cms_merge first"
        )
    meta = params[0]
    depth, width = meta["depth"], meta["width"]
    spark = sketch.sparkSession
    probes = spark.createDataFrame([(t,) for t in tokens], "token string")
    cells = probes.select(
        "token", F.explode(_cms_cells(F.col("token"), depth, width)).alias("rc")
    ).select("token", F.col("rc.row").alias("row"), F.col("rc.col").alias("col"))
    return (
        cells.join(
            F.broadcast(sketch.select("row", "col", "n")), ["row", "col"], "left"
        )
        .groupBy("token")
        .agg(F.min(F.coalesce(F.col("n"), F.lit(0))).alias("cms_estimate"))
    )


def bm25_topk(
    df: DataFrame,
    query_terms: list[str],
    k: int = 10,
    text_col: str = "text",
) -> DataFrame:
    """BM25 ranked retrieval (Robertson/Spärck Jones, k1=1.2 b=0.75) of
    the top-k documents for a bag of query terms, in EXACT integer
    arithmetic so the DuckDB twin replays it bit-for-bit.

    Integerization: with A = avgdl in millitokens = (1000·ΣT) div N and
    the k1/b constants as millis, the classic per-term score
    ``idf · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl))`` multiplied through
    by 1000·A becomes ``idf_q8 · (2_200_000·tf·A div (1000·tf·A +
    300·A + 900_000·dl))`` — every factor integer, no float division.
    ``idf_q8`` is the flog2-quantized +1-smoothed Robertson idf shifted
    by 8 bits (flog2(256·(2N+2) div (2df+1)) = floor(log2 idf_ratio)+8),
    so common terms still contribute weight ~8 while rare terms reach
    ~8+log2(N/df) — within 1 bit of the true log, zero libm involvement
    (the same no-float-log trick as ``lm_surprisal``).

    Scale shape (10^12 docs): per-doc (dl, tf_i) come from ONE
    projection over the scan — `size(filter(toks, = term))` per query
    term, no explode, no shuffle; the corpus stats are ONE combinable
    1-row aggregate broadcast back; top-k compiles to
    TakeOrderedAndProject (per-partition heaps + driver merge of k
    rows), so the corpus never globally sorts.  Returns
    (doc_id, score_milli, rnk)."""
    from pyspark.sql import Window

    toks = F.filter(F.split(F.col(text_col), " "), lambda t: t != "")

    # closure factory, NOT a default-arg lambda: pyspark HOFs bind one
    # column per lambda PARAMETER, so a 2-arg lambda would receive the
    # element index in the second slot
    def _eq(term: str):
        return lambda t: t == F.lit(term)

    # dl/tf as LONG: F.size yields int32, and the score expression's
    # 900000*dl / 1000*tf*avgdl products overflow int32 for any document
    # past ~2.4k tokens — a crash under Spark 4's default ANSI mode, a
    # silent wrap (diverging from the BIGINT DuckDB twin) without it
    tf_cols = [
        F.size(F.filter(toks, _eq(term))).cast("long").alias(f"tf{i}")
        for i, term in enumerate(query_terms)
    ]
    from .spread import spread_scan

    pd_ = spread_scan(df).select(
        F.col("doc_id"), F.size(toks).cast("long").alias("dl"), *tf_cols
    )
    stats = pd_.agg(
        F.count("*").alias("n_docs"),
        F.sum("dl").alias("t_total"),
        *[
            F.sum((F.col(f"tf{i}") > 0).cast("long")).alias(f"df{i}")
            for i in range(len(query_terms))
        ],
    )
    a = F.expr("(1000 * t_total) div n_docs")  # avgdl in millitokens

    def term_score(i: int):
        tf = F.col(f"tf{i}").cast("long")
        idf_q8 = _flog2(
            F.expr(f"(256 * (2 * n_docs + 2)) div (2 * df{i} + 1)")
        )
        raw = F.expr(
            f"(2200000 * tf{i} * __a) div (1000 * tf{i} * __a + 300 * __a + 900000 * dl)"
        )
        return F.when(tf > 0, idf_q8 * raw).otherwise(F.lit(0).cast("long"))

    scored = (
        pd_.crossJoin(F.broadcast(stats))
        .withColumn("__a", a)
        .select(
            "doc_id",
            sum(
                (term_score(i) for i in range(len(query_terms))),
                F.lit(0).cast("long"),
            ).alias("score_milli"),
        )
    )
    top = scored.orderBy(F.desc("score_milli"), F.asc("doc_id")).limit(k)
    w = Window.orderBy(F.desc("score_milli"), F.asc("doc_id"))
    return top.withColumn("rnk", F.row_number().over(w)).select(
        "doc_id", "score_milli", "rnk"
    )


# --- bigram-LM surprisal scoring (perplexity-style quality filter) ----------


def _flog2(c: Column) -> Column:
    """floor(log2(n)) for a positive integer column, computed EXACTLY as
    length(bin(n)) - 1 — no float log anywhere, so Spark and DuckDB agree
    bit-for-bit (float log2 can straddle a floor boundary differently per
    libm)."""
    return (F.length(F.bin(c)) - 1).cast("long")


def lm_surprisal(
    df: DataFrame,
    text_col: str = "text",
    ref_filter: Column | None = None,
    min_count: int = 2,
) -> DataFrame:
    """Bigram language-model surprisal per document — the perplexity-style
    quality filter of LLM-corpus pipelines (CCNet trains a reference LM
    and drops high-perplexity documents), integer-quantized so the score
    is hash-exact across engines.

    Model: bigram and unigram counts over the REFERENCE slice
    (``ref_filter``; the whole input when None), bigrams kept at
    ``min_count``+.  Score: a seen bigram (w1,w2) costs
    ``flog2(c(w1)) - flog2(c(w1 w2))`` bits — within 1 bit of the true
    ``-log2 c(w1w2)/c(w1)`` MLE surprisal; an unseen/below-threshold
    bigram costs ``flog2(N) + 1`` bits (N = reference token count, i.e.
    "rarer than anything observed").  All arithmetic is integer
    (``flog2`` = binary-string length - 1), so sums are order-free.

    Returns (doc_id, n_bigrams, oov_bigrams, total_bits, avg_centibits)
    for every document with at least one bigram; ``avg_centibits`` =
    ``total_bits*100 div n_bigrams`` is the filterable score (high =
    unlike the reference corpus).

    Scale shape (10^12 docs): the model aggregations shuffle only the
    REFERENCE slice (two map-side-combinable groupBys); the model and
    the 1-row token total broadcast; corpus scoring is explode →
    broadcast left joins → one combinable groupBy(doc_id) — the corpus
    never sort-merge-joins.  At production scale raise ``min_count`` (or
    cap the model to top-V bigrams) to bound the broadcast."""
    toks = F.filter(F.split(F.col(text_col), " "), lambda t: t != "")
    base = df.select("doc_id", toks.alias("toks"))
    # bigram strings "w1 w2"; tokens cannot contain the separator (they
    # come from a split on it), so w1 recovers exactly via substring_index
    # clamp the slice length at 0: slice() raises on a negative length and
    # when() does not guarantee the untaken branch is never evaluated
    n_bg = F.greatest(F.size("toks") - 1, F.lit(0))
    bgs = F.zip_with(
        F.slice("toks", 1, n_bg),
        F.slice("toks", 2, n_bg),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    pairs = base.select("doc_id", F.explode(bgs).alias("bg")).withColumn(
        "w1", F.substring_index("bg", " ", 1)
    )
    ref = base if ref_filter is None else df.filter(ref_filter).select(
        "doc_id", toks.alias("toks")
    )
    ref_pairs = ref.select(F.explode(bgs).alias("bg"))
    model_bg = (
        ref_pairs.groupBy("bg")
        .agg(F.count("*").alias("bg_cnt"))
        .filter(F.col("bg_cnt") >= min_count)
    )
    model_uni = (
        ref.select(F.explode("toks").alias("w1"))
        .groupBy("w1")
        .agg(F.count("*").alias("uni_cnt"))
    )
    total = model_uni.agg(F.sum("uni_cnt").alias("ref_tokens"))
    scored = (
        pairs.join(F.broadcast(model_bg), "bg", "left")
        .join(F.broadcast(model_uni), "w1", "left")
        .crossJoin(F.broadcast(total))
        .select(
            "doc_id",
            F.when(
                F.col("bg_cnt").isNotNull(),
                _flog2(F.col("uni_cnt")) - _flog2(F.col("bg_cnt")),
            )
            .otherwise(_flog2(F.col("ref_tokens")) + 1)
            .alias("bits"),
            F.col("bg_cnt").isNull().alias("oov"),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.sum(F.col("oov").cast("long")).alias("oov_bigrams"),
            F.sum("bits").alias("total_bits"),
        )
        .withColumn(
            "avg_centibits",
            F.expr("total_bits * 100 div n_bigrams").cast("long"),
        )
    )


def lm_surprisal_sql(
    source: str = "documents",
    text_col: str = "text",
    ref_where: str = "TRUE",
    min_count: int = 2,
) -> str:
    """DuckDB twin of :func:`lm_surprisal` — same whitespace tokens, same
    bigram model over the ``ref_where`` slice, same bin()-based integer
    flog2, same OOV penalty; generated so the engines cannot drift."""
    return f"""
WITH tok AS (
  SELECT doc_id, list_filter(string_split({text_col}, ' '), t -> t <> '') AS toks
  FROM {source}
),
pairs AS (
  SELECT doc_id, unnest(
    CASE WHEN len(toks) >= 2
         THEN list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])
         ELSE [] END) AS bg
  FROM tok
),
pairs_w AS (SELECT doc_id, bg, split_part(bg, ' ', 1) AS w1 FROM pairs),
ref_ids AS (SELECT doc_id FROM {source} WHERE {ref_where}),
model_bg AS (
  SELECT bg, CAST(count(*) AS BIGINT) AS bg_cnt
  FROM pairs_w JOIN ref_ids USING (doc_id)
  GROUP BY bg HAVING count(*) >= {min_count}
),
model_uni AS (
  SELECT t AS w1, CAST(count(*) AS BIGINT) AS uni_cnt
  FROM (SELECT doc_id, unnest(toks) AS t FROM tok JOIN ref_ids USING (doc_id))
  GROUP BY t
),
total AS (SELECT CAST(sum(uni_cnt) AS BIGINT) AS ref_tokens FROM model_uni),
scored AS (
  SELECT p.doc_id,
    CASE WHEN mb.bg_cnt IS NOT NULL
         THEN (length(bin(mu.uni_cnt)) - 1) - (length(bin(mb.bg_cnt)) - 1)
         ELSE length(bin(t.ref_tokens)) END AS bits,
    (mb.bg_cnt IS NULL) AS oov
  FROM pairs_w p
  LEFT JOIN model_bg mb USING (bg)
  LEFT JOIN model_uni mu USING (w1)
  CROSS JOIN total t
)
SELECT doc_id,
  CAST(count(*) AS BIGINT) AS n_bigrams,
  CAST(sum(CASE WHEN oov THEN 1 ELSE 0 END) AS BIGINT) AS oov_bigrams,
  CAST(sum(bits) AS BIGINT) AS total_bits,
  CAST((CAST(sum(bits) AS BIGINT) * 100) // CAST(count(*) AS BIGINT) AS BIGINT)
    AS avg_centibits
FROM scored GROUP BY doc_id
"""
