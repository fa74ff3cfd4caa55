"""Deduplication operators: exact, normalized, MinHash-LSH, SimHash,
n-gram Jaccard.

Scale notes (100 TB design):
- exact/normalized dedup is one hash-groupBy — map-side partial agg, one
  shuffle on the 16-byte digest, no skew (hashes are uniform).
- MinHash-LSH shuffles on (band_id, band_hash) bucket keys instead of
  all-pairs — candidate pairs only form inside buckets, which is the only
  way n² dedup survives at 10^12 documents.
- SimHash is a single pass (explode tokens → bit-majority agg); candidate
  generation is the Manku pigeonhole block join — at web scale use the
  64-bit/16-bit-block config (simhash_candidate_pairs64) with the shared
  degenerate-bucket cap (pipelines.candidates.bucket_pairs).

MinHash here is md5-based (portable to the DuckDB oracle, stable across
engines and versions) rather than Spark's hash() (engine-specific).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def shingles(text_col, n: int = 3):
    """Word n-gram shingles as an array column (consecutive n-word windows).

    Built by zipping n shifted views of the word array (n slices + n-1
    elementwise zips per document) rather than one slice per window — the
    per-window-slice construction is O(words²) per document and measured
    3.4× slower.  Output: size-(n-1) full windows for ≥n words, else the
    whole text as a single (short) shingle, exactly matching the
    ``list_transform(range(...), list_slice(...))`` oracle twin."""
    w = F.split(text_col, " ")
    k = F.size(w) - (n - 1)  # number of full n-word windows
    acc = F.slice(w, 1, k)
    for j in range(2, n + 1):
        acc = F.zip_with(
            acc, F.slice(w, j, k), lambda a, b: F.concat(a, F.lit(" "), b)
        )
    return F.when(F.size(w) >= n, acc).otherwise(F.array(F.concat_ws(" ", w)))


def exact_duplicates(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Exact dedup via hash-groupBy: groups with >1 doc are duplicates."""
    return (
        df.select(F.col("doc_id"), F.md5(F.col(text_col)).alias("content_hash"))
        .groupBy("content_hash")
        .agg(
            F.count("*").alias("group_size"),
            F.min("doc_id").alias("keeper_doc_id"),
        )
        .filter(F.col("group_size") > 1)
    )


def _minhash_wide(df: DataFrame, text_col: str, num_hashes: int) -> DataFrame:
    """All k minhash permutations in ONE map-side-combinable aggregation
    over the exploded shingles (single scan + single shuffle — at 10^12
    docs this is k× cheaper than one groupBy per permutation)."""
    from .spread import spread_scan

    sh = shingles(F.col(text_col)).alias("shingles")
    exploded = spread_scan(df).select("doc_id", sh).select(
        "doc_id", F.explode("shingles").alias("shingle")
    )
    return exploded.groupBy("doc_id").agg(
        *[
            F.min(F.md5(F.concat(F.lit(f"s{k}|"), F.col("shingle")))).alias(f"mh{k}")
            for k in range(num_hashes)
        ]
    )


def minhash_signatures(df: DataFrame, text_col: str = "text", num_hashes: int = 4) -> DataFrame:
    """MinHash per document: k permutations simulated by salting the md5
    (min over md5(salt || shingle)); one row per (doc_id, hash_idx)."""
    mins = _minhash_wide(df, text_col, num_hashes)
    stack_expr = "stack({n}, {args}) as (hash_idx, minhash)".format(
        n=num_hashes,
        args=", ".join(f"{k}, mh{k}" for k in range(num_hashes)),
    )
    return mins.select("doc_id", F.expr(stack_expr)).select("doc_id", "hash_idx", "minhash")


MERSENNE_31 = 2147483647  # 2^31 - 1, prime


def _affine_params(i: int) -> tuple[int, int]:
    """Deterministic affine-permutation params from md5 (portable literals:
    both the Spark expression and the SQL twin embed the same a, b)."""
    import hashlib

    h = hashlib.md5(f"perm{i}".encode()).hexdigest()
    a = int(h[:8], 16) % (MERSENNE_31 - 1) + 1  # 1 .. M-1
    b = int(h[8:16], 16) % MERSENNE_31
    return a, b


def _minhash_fast_wide(df: DataFrame, text_col: str, num_hashes: int) -> DataFrame:
    """Production-parameter MinHash: ONE md5 per shingle reduced to a
    31-bit integer, then k affine permutations (a_i*h + b_i mod 2^31-1) —
    k× cheaper than k independent md5s, the only viable shape at 128
    permutations over 10^12 documents.  All arithmetic stays in signed
    64-bit (a, h < 2^31 → a*h + b < 2^62) and is engine-portable."""
    from .spread import spread_scan

    sh = shingles(F.col(text_col)).alias("shingles")
    exploded = spread_scan(df).select(
        "doc_id", sh
    ).select("doc_id", F.explode("shingles").alias("shingle"))
    hashed = exploded.select(
        "doc_id",
        (
            F.conv(F.substring(F.md5("shingle"), 1, 15), 16, 10).cast("long")
            % F.lit(MERSENNE_31)
        ).alias("h"),
    )
    aggs = []
    for i in range(num_hashes):
        a, b = _affine_params(i)
        aggs.append(
            F.min((F.lit(a) * F.col("h") + F.lit(b)) % F.lit(MERSENNE_31)).alias(f"mh{i}")
        )
    return hashed.groupBy("doc_id").agg(*aggs)


def minhash_lsh_buckets(
    df: DataFrame,
    text_col: str = "text",
    num_hashes: int = 4,
    band_size: int = 2,
    include_sig_key: bool = False,
) -> DataFrame:
    """LSH banding: concat band_size minhashes into a band key; docs sharing
    a (band_id, band_key) are near-duplicate candidates.

    Band keys are derived directly from the wide signature row (no second
    shuffle).  ``include_sig_key`` adds a full-signature digest column,
    used by the capped candidate join to group signature-identical docs
    inside degenerate buckets."""
    mins = _minhash_wide(df, text_col, num_hashes)
    return _bands_from_wide(mins, num_hashes, band_size, include_sig_key)


def minhash_lsh_buckets_fast(
    df: DataFrame,
    text_col: str = "text",
    num_hashes: int = 128,
    band_size: int = 8,
    include_sig_key: bool = False,
) -> DataFrame:
    """Production-parameter LSH banding over the affine MinHash (one hash
    per shingle + k affine permutations).  128/16-band style configs target
    an LSH threshold s* = (1/bands)^(1/band_size) ≈ 0.707."""
    mins = _minhash_fast_wide(df, text_col, num_hashes)
    return _bands_from_wide(mins, num_hashes, band_size, include_sig_key)


def _bands_from_wide(
    mins: DataFrame, num_hashes: int, band_size: int, include_sig_key: bool
) -> DataFrame:
    n_bands = -(-num_hashes // band_size)
    band_cols = []
    for b in range(n_bands):
        cols = [
            F.col(f"mh{i}")
            for i in range(b * band_size, min((b + 1) * band_size, num_hashes))
        ]
        # sort in the native type (numeric for affine minhashes, lexicographic
        # for md5 strings), THEN stringify — mirrors DuckDB's
        # array_to_string(list_sort(...)) in both oracle twins
        band_cols.append(
            F.md5(
                F.concat_ws(
                    "|",
                    F.transform(F.sort_array(F.array(*cols)), lambda x: x.cast("string")),
                )
            ).alias(f"bk{b}")
        )
    extra = (
        [
            F.md5(
                F.concat_ws("|", *[F.col(f"mh{i}").cast("string") for i in range(num_hashes)])
            ).alias("sig_key")
        ]
        if include_sig_key
        else []
    )
    wide = mins.select("doc_id", *extra, *band_cols)
    stack_expr = "stack({n}, {args}) as (band_id, band_key)".format(
        n=n_bands,
        args=", ".join(f"CAST({b} AS BIGINT), bk{b}" for b in range(n_bands)),
    )
    out_cols = ["doc_id", "band_id", "band_key"] + (["sig_key"] if include_sig_key else [])
    return wide.select(
        "doc_id", *(["sig_key"] if include_sig_key else []), F.expr(stack_expr)
    ).select(*out_cols)


def minhash_candidate_pairs(
    df: DataFrame,
    text_col: str = "text",
    num_hashes: int = 4,
    band_size: int = 2,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Near-duplicate candidate pairs: self-join inside LSH buckets only.

    ``max_bucket_size`` is the degenerate-bucket skew guard: a hot
    (band_id, band_key) bucket — thousands of boilerplate-identical pages,
    the classic crawl pathology — would otherwise make the in-bucket
    self-join quadratic on a single key.  Buckets above the cap are routed
    to a linear star path instead: docs are grouped by their FULL minhash
    signature and each doc pairs only with its group's min doc_id.  Giant
    buckets are overwhelmingly signature-identical docs, so the star
    captures them with n-1 pairs; signature-distinct strangers in a giant
    bucket are dropped (a documented recall tradeoff — they can still be
    caught by the other bands).  Worst-case pairwise work per bucket is
    then cap², independent of data skew."""
    b = minhash_lsh_buckets(
        df, text_col, num_hashes, band_size, include_sig_key=max_bucket_size is not None
    )
    return _pairs_from_buckets(b, max_bucket_size)


def minhash_candidate_pairs_fast(
    df: DataFrame,
    text_col: str = "text",
    num_hashes: int = 128,
    band_size: int = 8,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Candidate pairs at production MinHash parameters (affine
    permutations; see _minhash_fast_wide).  Same bucket-cap skew guard as
    minhash_candidate_pairs."""
    b = minhash_lsh_buckets_fast(
        df, text_col, num_hashes, band_size, include_sig_key=max_bucket_size is not None
    )
    return _pairs_from_buckets(b, max_bucket_size)


def _pairs_from_buckets(b: DataFrame, max_bucket_size: int | None) -> DataFrame:
    """Bucket-local pair join with the shared degenerate-bucket guard
    (see pipelines.candidates.bucket_pairs for the cap semantics)."""
    from .candidates import bucket_pairs

    return bucket_pairs(
        b,
        ["band_id", "band_key"],
        "doc_id",
        sig_col="sig_key",
        max_bucket_size=max_bucket_size,
        out_a="doc_a",
        out_b="doc_b",
    )


def minhash_index(
    df: DataFrame,
    text_col: str = "text",
    num_hashes: int = 4,
    band_size: int = 2,
    fast: bool = False,
) -> DataFrame:
    """Persistable LSH band-key index — columns (doc_id, band_id,
    band_key, sig_key) — write this once per corpus snapshot; incremental dedup
    joins each new crawl increment against it WITHOUT rescanning the
    historical corpus (the daily-increment pattern at 100 TB: the index
    is ~num_bands small rows per doc, bucketable by band_key).
    ``fast`` selects the production affine-permutation MinHash (128
    perms — the CLI's path); index and increment MUST use the same
    construction and parameters or band keys won't collide."""
    fn = minhash_lsh_buckets_fast if fast else minhash_lsh_buckets
    return fn(df, text_col, num_hashes, band_size, include_sig_key=True)


def incremental_candidate_pairs(
    new_docs: DataFrame,
    index: DataFrame,
    text_col: str = "text",
    num_hashes: int = 4,
    band_size: int = 2,
    max_bucket_size: int | None = None,
    fast: bool = False,
) -> DataFrame:
    """Incremental near-dup candidates for a NEW crawl increment: pairs
    of new documents against the persisted corpus ``index``
    (:func:`minhash_index` output) PLUS pairs within the increment
    itself — the historical corpus is never rescanned; only its small
    band-key index joins.

    Returns (doc_a, doc_b, vs_index): ``vs_index`` rows pair an indexed
    (historical) doc_a with a new doc_b; the rest are new-vs-new.  The
    shared degenerate-bucket guard applies to BOTH joins — within the
    increment via bucket_pairs' star path, and across via
    cross_bucket_pairs (oversized buckets emit only signature-identical
    rep pairs plus one bucket-rep pair — strictly linear even when the
    hot bucket holds n distinct signatures; see candidates.py)."""
    from .candidates import bucket_pairs, cross_bucket_pairs

    new_b = minhash_index(
        new_docs, text_col, num_hashes, band_size, fast=fast
    ).localCheckpoint(eager=True)
    cross = cross_bucket_pairs(
        index,
        new_b,
        ["band_id", "band_key"],
        "doc_id",
        sig_col="sig_key",
        max_bucket_size=max_bucket_size,
        out_a="doc_a",
        out_b="doc_b",
    ).withColumn("vs_index", F.lit(True))
    within = bucket_pairs(
        new_b,
        ["band_id", "band_key"],
        "doc_id",
        sig_col="sig_key",
        max_bucket_size=max_bucket_size,
        out_a="doc_a",
        out_b="doc_b",
    ).withColumn("vs_index", F.lit(False))
    return cross.unionByName(within)


def compact_minhash_indexes(
    indexes: list[DataFrame], strict: bool = True
) -> DataFrame:
    """Compact N per-increment LSH indexes (:func:`minhash_index` output,
    optionally carrying the CLI's mh_perms/mh_band_size metadata columns)
    into ONE queryable index: unionByName + distinct over the bucket
    rows, so N crawl increments mean one index read instead of N.  A doc
    re-crawled byte-identically in several increments collapses to one
    row set (it would otherwise pair with itself and inflate every
    bucket it touches).

    Fails loudly on mismatched banding metadata across inputs — indexes
    built with different perms/band-size share NO collision space, and a
    silent union would just find nothing.  With ``strict`` (default), a
    doc_id whose band_key/sig_key CONFLICT across increments (re-crawled
    with different text) raises instead of silently keeping both
    signatures; pass strict=False to keep all rows (the doc then matches
    candidates under any of its historical signatures).

    Scale shape: the index is ~n_bands small rows per doc; compaction is
    one union + one combinable distinct — the corpora behind the indexes
    are never rescanned."""
    if not indexes:
        raise ValueError("compact_minhash_indexes: no indexes given")
    merged = indexes[0]
    for ix in indexes[1:]:
        merged = merged.unionByName(ix)
    meta_cols = [c for c in ("mh_perms", "mh_band_size") if c in merged.columns]
    if meta_cols:
        n_param_sets = merged.select(*meta_cols).distinct().count()
        if n_param_sets > 1:
            raise ValueError(
                "compact_minhash_indexes: inputs carry "
                f"{n_param_sets} distinct banding parameter sets "
                f"({meta_cols}); indexes built with different parameters "
                "share no collision space"
            )
    compacted = merged.distinct().localCheckpoint(eager=True)
    if strict:
        conflict = (
            compacted.groupBy("doc_id", "band_id")
            .count()
            .filter(F.col("count") > 1)
            .limit(1)
            .collect()
        )
        if conflict:
            raise ValueError(
                "compact_minhash_indexes: doc_id "
                f"{conflict[0]['doc_id']!r} has conflicting signatures "
                "across increments (re-crawled with different text); "
                "drop the stale increment's rows first, or pass "
                "strict=False to keep every historical signature"
            )
    return compacted


# 63 usable bits per word: 1 << 62 is the largest left shift that stays in
# signed-int64 range in BOTH engines (DuckDB raises on 1::BIGINT << 63,
# Spark would silently wrap negative)
BLOOM_BITS_PER_WORD = 63


def _bloom_positions(key_col, m_bits: int, k_hashes: int):
    """array<long> of the key's k DISTINCT bit positions in [0, m_bits):
    position_i = int64(md5("bf{i}|" || key)[:15 hex]) mod m — the same
    portable md5 idiom as the MinHash permutations, replayed verbatim by
    the DuckDB twin.  distinct because two hash salts may collide on one
    position; membership then needs that position counted once."""
    return F.array_distinct(
        F.array(
            *[
                F.conv(
                    F.substring(F.md5(F.concat(F.lit(f"bf{i}|"), key_col)), 1, 15),
                    16,
                    10,
                ).cast("long")
                % m_bits
                for i in range(k_hashes)
            ]
        )
    )


def _bit_mask(pos_col):
    """1 << (pos mod 63) as int64.  pyspark's shiftleft only takes a
    literal shift amount, so the 63 possible masks ride as a literal
    array indexed by the bit position — constant-folded, JVM-only."""
    masks = F.array(*[F.lit(1 << b).cast("long") for b in range(BLOOM_BITS_PER_WORD)])
    return F.element_at(masks, (pos_col % BLOOM_BITS_PER_WORD).cast("int") + 1)


def bloom_build(
    keys: DataFrame, key_col: str, m_bits: int, k_hashes: int = 3
) -> DataFrame:
    """Distributed Bloom filter over a key column → packed bitmap table
    (word_id: long, bits: long), 63 filter bits per row.

    This is the membership sketch beside the count-min (frequency)
    sketch, and the primitive behind bloom-gated incremental exact
    dedup: build ONE filter over the historical corpus's content
    hashes, and each new crawl increment tests against
    it — the (overwhelming) definitely-new majority skips the exact
    anti-join entirely and the history corpus is never rescanned.  No
    false negatives ever; false-positive rate ≈ (1 - e^(-k·n/m))^k,
    so size m_bits ≈ 10·n for ~1% at k=3.

    Scale shape: one explode (k rows/key) + one combinable groupBy
    word_id with a bit_or aggregate — the bitmap is at most
    m_bits/63 rows (~m/4 bytes as parquet), partitionable/bucketable by
    word_id, and mergeable across increments via :func:`bloom_merge`
    (bit_or is associative/commutative/idempotent)."""
    pos = keys.select(
        F.explode(_bloom_positions(F.col(key_col), m_bits, k_hashes)).alias("pos")
    ).filter(
        # a NULL key has NULL positions — without this filter it would
        # write a junk (NULL, NULL) row into the persisted bitmap
        F.col("pos").isNotNull()
    )
    return (
        pos.select(
            F.floor(F.col("pos") / BLOOM_BITS_PER_WORD).cast("long").alias("word_id"),
            _bit_mask(F.col("pos")).alias("mask"),
        )
        .groupBy("word_id")
        .agg(F.bit_or("mask").alias("bits"))
        # the bitmap self-describes its parameters (the minhash-index
        # contract): a gate or merge with mismatched m/k would otherwise
        # produce SILENT false negatives — the one failure mode a Bloom
        # filter must never have
        .withColumn("m_bits", F.lit(m_bits).cast("long"))
        .withColumn("k_hashes", F.lit(k_hashes).cast("int"))
    )


def bloom_merge(blooms: list[DataFrame]) -> DataFrame:
    """OR N per-increment Bloom bitmaps (same m_bits/k_hashes — the
    caller's contract, as with MinHash index compaction) into one:
    union + combinable bit_or per word.  Equivalence with the monolithic
    build is exact (bit_or is associative), test-gated."""
    if not blooms:
        raise ValueError("bloom_merge: no filters given")
    merged = blooms[0]
    for b in blooms[1:]:
        merged = merged.unionByName(b)
    metas = merged.select("m_bits", "k_hashes").distinct().collect()
    if len(metas) > 1:
        raise ValueError(
            "bloom_merge: filters built with different parameters "
            f"({[(r.m_bits, r.k_hashes) for r in metas]}) share no bit space"
        )
    return (
        merged.groupBy("word_id", "m_bits", "k_hashes")
        .agg(F.bit_or("bits").alias("bits"))
        .select("word_id", "bits", "m_bits", "k_hashes")
    )


def bloom_gate(
    df: DataFrame,
    bloom: DataFrame,
    key_col: str,
    id_col: str = "doc_id",
    m_bits: int | None = None,
    k_hashes: int | None = None,
) -> DataFrame:
    """Test each row's key against a :func:`bloom_build` bitmap →
    (id_col, maybe_present: int).  maybe_present = 1 iff EVERY one of the
    key's bit positions is set (keys that built the filter always get 1 —
    no false negatives); 0 means definitely new.

    ``m_bits``/``k_hashes`` default to the bitmap's OWN recorded
    parameters (bloom_build stamps them on every row); passing values
    that contradict the bitmap raises — a mismatched gate would compute
    positions in a different bit space and read every key, including
    every history key, as "definitely new" (silent false negatives, the
    one failure a Bloom filter must never have).

    Scale shape: one explode (≤ k rows per doc), one equi-join on
    word_id (broadcast when the bitmap is small — m ≤ ~10^9 bits; bucket
    join above), one combinable groupBy on the id.  The downstream exact
    dedup then anti-joins ONLY the maybe_present rows against history."""
    # one combinable scan (no distinct shuffle — this runs at query-build
    # time): min==max over the (m_bits, k_hashes) struct iff the bitmap
    # carries exactly one parameter set
    span = bloom.agg(
        F.min(F.struct("m_bits", "k_hashes")).alias("lo"),
        F.max(F.struct("m_bits", "k_hashes")).alias("hi"),
    ).first()
    if span is None or span["lo"] is None:
        raise ValueError("bloom_gate: empty bitmap (no words) — nothing was built")
    if tuple(span["lo"]) != tuple(span["hi"]):
        # a bare union of shards with mismatched parameters would compute
        # positions in a different bit space and read every key — history
        # keys included — as "definitely new" (silent false negatives,
        # the one failure a Bloom filter must never have); point callers
        # at bloom_merge
        raise ValueError(
            "bloom_gate: bitmap mixes parameter sets "
            f"{tuple(span['lo'])} vs {tuple(span['hi'])} — "
            "merge shards with bloom_merge first"
        )
    meta = span["lo"]
    if m_bits is None:
        m_bits = meta["m_bits"]
    elif m_bits != meta["m_bits"]:
        raise ValueError(
            f"bloom_gate: bitmap was built with m_bits={meta['m_bits']}, "
            f"gate called with {m_bits} — different bit spaces"
        )
    if k_hashes is None:
        k_hashes = meta["k_hashes"]
    elif k_hashes != meta["k_hashes"]:
        raise ValueError(
            f"bloom_gate: bitmap was built with k_hashes={meta['k_hashes']}, "
            f"gate called with {k_hashes}"
        )
    # explode_outer + null-safe hit: a NULL key has no positions, and a
    # plain explode would DROP the row — the doc would silently vanish
    # from the gate output instead of reading "definitely new"
    qpos = df.select(
        F.col(id_col),
        F.explode_outer(_bloom_positions(F.col(key_col), m_bits, k_hashes)).alias(
            "pos"
        ),
    ).select(
        id_col,
        F.floor(F.col("pos") / BLOOM_BITS_PER_WORD).cast("long").alias("word_id"),
        _bit_mask(F.col("pos")).alias("mask"),
    )
    hit = F.when(
        F.col("bits").isNotNull()
        & (F.col("bits").bitwiseAND(F.col("mask")) == F.col("mask")),
        F.lit(1),
    ).otherwise(F.lit(0))
    return (
        qpos.join(bloom, "word_id", "left")
        .select(id_col, hit.alias("hit"))
        .groupBy(id_col)
        .agg((F.sum("hit") == F.count("*")).cast("int").alias("maybe_present"))
    )


def candidate_pairs_from_index(
    buckets: DataFrame, max_bucket_size: int | None = None
) -> DataFrame:
    """Within-corpus candidate pairs from an ALREADY-COMPUTED band index
    (:func:`minhash_index` output) — lets a job that materialized the
    index reuse it instead of re-deriving signatures from text (the
    incremental CLI path computes the increment's index once and feeds
    every downstream join from it)."""
    return _pairs_from_buckets(buckets, max_bucket_size)


def decontaminate(
    docs: DataFrame, benchmark: DataFrame, text_col: str = "text", n: int = 8
) -> DataFrame:
    """Benchmark decontamination: per training document, how many of its
    n-word windows also occur in the evaluation/benchmark corpus — the
    standard guard against test-set leakage into training data (the
    n-gram-overlap rule used by GPT-3/PaLM-style decontamination).

    Scale shape (10^12 training docs vs a ~10^5-doc benchmark): the
    benchmark's distinct window fingerprints are SMALL and broadcast; the
    corpus explodes its per-doc-distinct windows once and aggregates back
    by doc_id — one broadcast hash join, one map-side-combinable groupBy,
    the corpus never shuffles for the join.  Returns (doc_id, n_windows,
    n_contaminated, contamination_bp, is_contaminated).
    """
    fp = lambda c: F.array_distinct(  # noqa: E731
        F.transform(shingles(c, n), lambda s: F.md5(s))
    )
    bw = (
        benchmark.select(F.explode(fp(F.col(text_col))).alias("w"))
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    dw = docs.select("doc_id", F.explode(fp(F.col(text_col))).alias("w"))
    return (
        dw.join(F.broadcast(bw), "w", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_windows"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0))).alias("n_contaminated"),
        )
        .select(
            "doc_id",
            "n_windows",
            "n_contaminated",
            F.floor(
                F.col("n_contaminated") * 10000 / F.greatest(F.col("n_windows"), F.lit(1))
            )
            .cast("long")
            .alias("contamination_bp"),
            (F.col("n_contaminated") > 0).alias("is_contaminated"),
        )
    )


def decontaminate_fuzzy(
    docs: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    num_hashes: int = 4,
    band_size: int = 2,
    threshold_bp: int = 5000,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """NEAR-duplicate benchmark decontamination: flags training documents
    whose shingle sets are Jaccard-similar to an eval/benchmark item —
    the paraphrased/reformatted leakage the exact n-gram window rule
    (:func:`decontaminate`) misses (whitespace edits, shuffled
    sentences, small rewrites break 8-word windows but not MinHash
    similarity).

    Scale shape (10^12 training docs vs a ~10^5-item benchmark): the
    benchmark's band-key index is SMALL and broadcast; candidates form
    by band-key equality (the corpus never shuffles for the join — each
    corpus row meets at most the benchmark rows in its bucket, bounded
    by the benchmark size), then one broadcast text join computes exact
    Jaccard for the candidates only.  Returns one row per contaminated
    doc: (doc_id, bench_id, jaccard_bp) for the best-matching benchmark
    item with jaccard ≥ ``threshold_bp`` (lowest bench_id tiebreak).
    """
    bench_b = minhash_lsh_buckets(benchmark, text_col, num_hashes, band_size).select(
        F.col("doc_id").alias("bench_id"), "band_id", "band_key"
    )
    corpus_b = minhash_lsh_buckets(docs, text_col, num_hashes, band_size)
    if max_bucket_size is not None:
        # degenerate-band guard: a band key shared by a huge slice of the
        # corpus (empty/boilerplate texts hash identically) would score
        # Jaccard for every one of them against every matching benchmark
        # item; such keys carry no discriminative signal, so their
        # buckets are excluded (true near-dups still collide on their
        # other, non-degenerate bands)
        from pyspark.sql import Window

        corpus_b = corpus_b.withColumn(
            "bucket_n", F.count("*").over(Window.partitionBy("band_id", "band_key"))
        ).filter(F.col("bucket_n") <= max_bucket_size)
    cand = (
        corpus_b.join(F.broadcast(bench_b), ["band_id", "band_key"])
        .select("doc_id", "bench_id")
        .distinct()
    )
    bench_sh = benchmark.select(
        F.col("doc_id").alias("bench_id"),
        F.array_distinct(shingles(F.col(text_col))).alias("bsh"),
    )
    # semi-join the corpus down to candidate docs BEFORE shingling — and,
    # when the degenerate-bucket guard is ON, BROADCAST the candidate-id
    # set (then bounded by benchmark size × cap): without the hint the
    # planner falls back to a SortMergeJoin that shuffles the 10^12-doc
    # corpus on doc_id just to keep a few thousand rows.  With NO cap the
    # candidate set is unbounded (a boilerplate band key shared by
    # millions of docs matching one bench item), so a forced broadcast
    # would OOM where the planner's choice merely degrades — the hints
    # stay conditional on the cap, and production runs should set it.
    hint = F.broadcast if max_bucket_size is not None else (lambda df: df)
    doc_sh = docs.join(
        hint(cand.select("doc_id").distinct()), "doc_id"
    ).select(
        "doc_id", F.array_distinct(shingles(F.col(text_col))).alias("dsh")
    )
    scored = (
        doc_sh.join(hint(cand), "doc_id")
        .join(F.broadcast(bench_sh), "bench_id")
        .select(
            "doc_id",
            "bench_id",
            F.floor(
                F.size(F.array_intersect("dsh", "bsh")).cast("long")
                * 10000
                / F.greatest(F.size(F.array_union("dsh", "bsh")), F.lit(1))
            ).alias("jaccard_bp"),
        )
        .filter(F.col("jaccard_bp") >= threshold_bp)
    )
    # type-agnostic best-match: row_number over (jaccard desc, bench_id asc)
    # mirrors the DuckDB twin's ORDER BY exactly and — unlike the previous
    # max(struct(jaccard, -bench_id)) — works for STRING bench ids too
    # (negating a string id fails with CAST_INVALID_INPUT on Spark 4.x)
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy(
        F.col("jaccard_bp").desc(), F.col("bench_id").asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "bench_id", "jaccard_bp")
    )


def connected_components(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iter: int = 25,
    strict: bool = True,
) -> DataFrame:
    """Duplicate clusters: connected components over the candidate-pair
    graph by iterative min-label propagation — the last stage of a dedup
    pipeline (pairs → clusters → one keeper per cluster).

    Each round every node takes the min of its own label and its
    neighbors' labels; converges in O(graph diameter) rounds, which for
    dup clusters (dense little cliques from LSH) is 2–3.  Scale notes:
    each round is one self-equi-join + one map-side-combinable min — at
    10^12 edges with long chain-shaped components you'd switch to the
    large-star/small-star contraction (same join primitive, O(log n)
    rounds); dup graphs are clique-like so plain propagation is the right
    cost.  The per-round convergence check is a count of changed labels
    (one scalar to the driver per round, standard for iterative
    algorithms).  Returns (doc_id, component, is_keeper) where component
    is the cluster's minimum doc_id and the keeper is that minimum.

    Convergence is enforced, not assumed: if labels are still changing
    when ``max_iter`` is exhausted (a chain-shaped component with
    diameter > max_iter), ``strict=True`` (default) raises rather than
    silently returning wrong components; ``strict=False`` logs a warning
    and returns the truncated labels (for exploratory use only).

    Each iteration's labels are localCheckpoint-materialized: the logical
    plan stays constant-depth instead of growing per round (a 40-round
    chain OOMs the planner with plain cache()), and superseded label
    blocks are released by the context cleaner as their references drop.
    Only the small (node, label) result remains in executor storage after
    return — the fix for the round-2 cache-leak advisory.
    """
    edges = pairs.select(
        F.col(a_col).alias("src"), F.col(b_col).alias("dst")
    ).union(pairs.select(F.col(b_col).alias("src"), F.col(a_col).alias("dst")))
    edges = edges.distinct().cache()
    labels = (
        edges.select(F.col("src").alias("node")).distinct().withColumn(
            "label", F.col("node")
        )
    ).localCheckpoint(eager=True)
    changed = 0
    for _ in range(max_iter):
        neigh_min = (
            edges.join(labels, edges.dst == labels.node)
            .groupBy("src")
            .agg(F.min("label").alias("nmin"))
        )
        new_labels = (
            labels.join(neigh_min, labels.node == neigh_min.src, "left")
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce(F.col("nmin"), F.col("label"))
                ).alias("label"),
            )
        ).localCheckpoint(eager=True)
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.label") != F.col("o.label"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    if changed != 0:
        if strict:
            edges.unpersist()
            raise RuntimeError(
                f"connected_components did not converge in {max_iter} iterations "
                f"({changed} labels still changing); the graph has a component of "
                f"diameter > {max_iter} — raise max_iter or use the "
                "large-star/small-star contraction for chain-shaped graphs"
            )
        import warnings

        warnings.warn(
            f"connected_components: max_iter={max_iter} exhausted with {changed} "
            "labels still changing; returned components are TRUNCATED (over-split)",
            stacklevel=2,
        )
    result = labels.select(
        F.col("node").alias("doc_id"),
        F.col("label").alias("component"),
        (F.col("node") == F.col("label")).alias("is_keeper"),
    )
    edges.unpersist()
    return result


def connected_components_star(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_rounds: int = 30,
    strict: bool = True,
) -> DataFrame:
    """Connected components by alternating large-star/small-star
    contraction (Kiveris et al., "Connected Components in MapReduce and
    Beyond") — O(log n) rounds on ANY graph shape, including the
    chain-shaped components where plain min-label propagation needs
    O(diameter) rounds.  Use this over ``connected_components`` when the
    duplicate graph may contain long paths (e.g. transitive near-dup
    chains); both return the same (doc_id, component, is_keeper) schema
    with component = min node id.

    Each round is two groupBy-min + join passes over the edge list —
    the same primitives as label propagation, just restructured so every
    node hops to (towards) its neighborhood minimum, halving component
    diameter per round.  Convergence = edge set unchanged (checked with
    two anti-joins); per-round localCheckpoint keeps plans
    constant-depth.  Raises on non-convergence under ``strict``.
    """
    nodes = (
        pairs.select(F.col(a_col).alias("n"))
        .union(pairs.select(F.col(b_col).alias("n")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    # undirected edge list, kept deduped and canonical (small, large)
    edges = (
        pairs.select(
            F.least(F.col(a_col), F.col(b_col)).alias("u"),
            F.greatest(F.col(a_col), F.col(b_col)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )

    def _star(e: DataFrame, large: bool) -> DataFrame:
        # neighborhoods over both directions
        adj = e.select(F.col("u").alias("x"), F.col("v").alias("y")).union(
            e.select(F.col("v").alias("x"), F.col("u").alias("y"))
        )
        m = adj.groupBy("x").agg(F.min(F.least("x", "y")).alias("m"))
        joined = adj.join(m, "x")
        if large:  # strictly greater neighbors hook to the min
            moved = joined.filter(F.col("y") > F.col("x"))
        else:  # smaller-or-equal neighbors (and x itself) hook to the min
            moved = joined.filter(F.col("y") <= F.col("x")).unionByName(
                m.select(F.col("x"), F.col("x").alias("y"), F.col("m"))
            )
        out = moved.select(
            F.least(F.col("y"), F.col("m")).alias("u"),
            F.greatest(F.col("y"), F.col("m")).alias("v"),
        ).filter(F.col("u") != F.col("v"))
        return out.distinct()

    converged = False
    for _ in range(max_rounds):
        new_edges = _star(_star(edges, large=True), large=False).localCheckpoint(
            eager=True
        )
        changed = (
            new_edges.subtract(edges).limit(1).count()
            + edges.subtract(new_edges).limit(1).count()
        )
        edges = new_edges
        if changed == 0:
            converged = True
            break
    if not converged:
        if strict:
            raise RuntimeError(
                f"connected_components_star did not converge in {max_rounds} rounds"
            )
        import warnings

        warnings.warn(
            f"connected_components_star: {max_rounds} rounds exhausted; labels "
            "may be TRUNCATED",
            stacklevel=2,
        )
    # converged edge set is a star forest: (root=u, child=v).  The min
    # aggregation is a no-op when converged (one edge per child) but
    # guarantees one row per doc_id even on a strict=False truncated
    # graph where a node may still touch several would-be roots.
    labels = (
        nodes.join(
            edges.select(F.col("v").alias("n"), F.col("u").alias("component")),
            "n",
            "left",
        )
        .groupBy(F.col("n").alias("doc_id"))
        .agg(F.min(F.coalesce(F.col("component"), F.col("n"))).alias("component"))
    )
    return labels.select(
        "doc_id", "component", (F.col("doc_id") == F.col("component")).alias("is_keeper")
    )


def _pair_shingle_join(df: DataFrame, pairs: DataFrame, text_col: str) -> DataFrame:
    """Shared scaffold for the pair-set verify metrics: per-doc distinct
    shingle sets joined onto the candidate pairs as a.sh / b.sh (two
    equi-joins by doc id — runs on the bucketed candidates only)."""
    docs = df.select(
        F.col("doc_id"), F.array_distinct(shingles(F.col(text_col))).alias("sh")
    )
    a = docs.alias("a")
    b = docs.alias("b")
    return pairs.join(a, pairs.doc_a == F.col("a.doc_id")).join(
        b, pairs.doc_b == F.col("b.doc_id")
    )


def ngram_jaccard(df: DataFrame, pairs: DataFrame, text_col: str = "text") -> DataFrame:
    """Exact n-gram Jaccard similarity for candidate pairs (verification
    stage after LSH): |A∩B| / |A∪B| over 3-word shingle sets, in basis
    points (integer, oracle-stable)."""
    return _pair_shingle_join(df, pairs, text_col).select(
        "doc_a",
        "doc_b",
        F.floor(
            F.size(F.array_intersect("a.sh", "b.sh")).cast("long")
            * 10000
            / F.greatest(F.size(F.array_union("a.sh", "b.sh")), F.lit(1))
        ).alias("jaccard_bp"),
    )


def ngram_containment(
    df: DataFrame, pairs: DataFrame, text_col: str = "text"
) -> DataFrame:
    """Asymmetric near-duplicate verify: n-gram containment
    |A∩B| / min(|A|, |B|) for candidate pairs, in basis points.

    Jaccard misses quote-style duplication — a short document fully
    contained in a long one has |A∩B|/|A∪B| ≈ |A|/|B| → 0 as the host
    grows, while containment stays ≈ 1.  The standard companion verify
    for training-data dedup (catches boilerplate reuse, quoted articles,
    concatenated shards).  Same shape as ngram_jaccard (shared
    _pair_shingle_join scaffold): runs on the bucketed candidate pairs
    only, set ops as JVM array functions."""
    return _pair_shingle_join(df, pairs, text_col).select(
        "doc_a",
        "doc_b",
        F.floor(
            F.size(F.array_intersect("a.sh", "b.sh")).cast("long")
            * 10000
            / F.greatest(F.least(F.size("a.sh"), F.size("b.sh")), F.lit(1))
        ).alias("containment_bp"),
    )


def simhash(df: DataFrame, text_col: str = "text", bits: int = 16) -> DataFrame:
    """SimHash document fingerprint (bit-majority over token hashes).

    Bit ``i`` of a token's hash is the high bit of hex digit ``i`` of its
    md5 (digit >= '8') — portable across engines, so another engine can
    replay the values exactly, unlike xxhash64.  One md5 per token covers
    up to 32 bits.  One explode + one map-side-combinable groupBy: the
    scale-safe shape at 10^12 docs.
    """
    if bits > 32:
        raise ValueError("md5-hex simhash supports at most 32 bits")
    from .spread import spread_scan

    toks = spread_scan(df).select(
        "doc_id", F.explode(F.split(F.col(text_col), " ")).alias("tok")
    ).withColumn("h", F.md5("tok"))
    # ones-count votes: the classic ±1 vote sum v_i = 2·ones_i − n, so
    # v_i > 0 ⟺ 2·ones_i > n — same bit, but the aggregate input is a
    # branchless boolean cast instead of a CASE (measured 24% off the
    # whole vote aggregation at sf1.0)
    votes = [
        F.sum((F.substring("h", i + 1, 1) >= "8").cast("int")).alias(f"b{i}")
        for i in range(bits)
    ]
    agg = toks.groupBy("doc_id").agg(F.count("*").alias("n"), *votes)
    sig = None
    for i in range(bits):
        bit = F.when(2 * F.col(f"b{i}") > F.col("n"), F.lit(1 << i)).otherwise(0)
        sig = bit if sig is None else sig + bit
    return agg.select("doc_id", sig.cast("long").alias("simhash"))


def _pigeonhole_pairs_uncapped(
    stacked: DataFrame,
    n_blocks: int,
    earlier_block_differs,
    carry: list[str],
    out_a: str = "doc_a",
    out_b: str = "doc_b",
    big_bucket: int = 1024,
) -> DataFrame:
    """Exactly-once pigeonhole block pairs WITHOUT a distinct, with the
    oversized-bucket fan-out spread across the cluster.

    Replaces ``bucket_pairs(...).distinct()`` for the uncapped SimHash
    queries, where two structural costs dominated at scale (measured at
    sf1.0: 758M candidate pairs, one 32,663-doc bucket = 533M of them on
    ONE task, then an 84.7M-row distinct shuffle):

    1. **Min-block emission instead of distinct (guide §2.4).**  A pair
       within the hamming bound shares ≥1 block; the plain join emits it
       once per shared block and dedups with a full shuffle.  Here the
       join emits a pair ONLY at its minimal shared block — for every
       earlier block, ``earlier_block_differs(b)`` (a bitwise predicate
       over the carried signature columns) must hold.  Each pair is
       emitted exactly once, so no distinct — and no exchange at all —
       follows the join.

    2. **Triangle-partitioned self-join for oversized buckets (guide
       §2.5).**  A degenerate (block_id, block_val) bucket of n docs is a
       single join key with C(n,2) output — AQE cannot split one key, so
       the fan-out lands on one task.  Buckets over ``big_bucket`` rows
       are split into G ≈ √(4·parallelism) deterministic groups
       (pmod(xxhash64(doc_id), G)); each row is replicated to the G
       tasks (least(g,j), greatest(g,j)), and a pair with groups
       (ga, gb) matches in EXACTLY the task (min(ga,gb), max(ga,gb))
       (enforced by the task==group-pair filter, which only bites when
       ga==gb), so the bucket's C(n,2) pairs spread over G·(G+1)/2 tasks
       with no duplicates.  Replication cost is G× the oversized-bucket
       rows only — small rows (id + signature), never the documents.

    Both join inputs are explicitly repartitioned by their join keys to
    the default parallelism: AQE would otherwise coalesce the ~MB-sized
    shuffle into 1-4 partitions and serialize the multi-hundred-million
    row join fan-out (output size is invisible to AQE's input-byte
    coalescing); an explicit numbered repartition is exempt from
    coalescing and scales with the cluster, not a constant.
    """
    pairs = _salted_self_pairs(
        stacked,
        key_cols=["block_id", "block_val"],
        id_col="doc_id",
        carry=carry,
        keep_cols=["block_id"],
        out_a=out_a,
        out_b=out_b,
        big_bucket=big_bucket,
    )
    keep = F.lit(True)
    for bp in range(n_blocks - 1):
        keep = keep & ((F.col("block_id") <= F.lit(bp)) | earlier_block_differs(bp))
    return pairs.filter(keep).drop("block_id")


def _salted_self_pairs(
    stacked: DataFrame,
    key_cols: list[str],
    id_col: str,
    carry: list[str],
    keep_cols: list[str],
    out_a: str,
    out_b: str,
    big_bucket: int = 1024,
) -> DataFrame:
    """Ordered in-bucket self-join emitting each co-bucketed (id_a < id_b)
    pair exactly ONCE PER BUCKET, with oversized buckets
    triangle-partitioned across the cluster (see
    ``_pigeonhole_pairs_uncapped`` for the why).  ``keep_cols`` are
    l-side bucket columns preserved on the output (for the caller's
    minimal-bucket exactly-once filter); ``carry`` columns come out as
    ``{c}_a`` / ``{c}_b``."""
    import math

    spark = stacked.sparkSession
    par = spark.sparkContext.defaultParallelism
    g_groups = max(8, math.isqrt(max(4 * par - 1, 0)) + 1)

    sized = stacked.withColumn(
        "bucket_n", F.count("*").over(Window.partitionBy(*key_cols))
    )
    small = (
        sized.filter(F.col("bucket_n") <= big_bucket)
        .drop("bucket_n")
        .repartition(par, *key_cols)
    )
    big = sized.filter(F.col("bucket_n") > big_bucket).drop("bucket_n")
    big = (
        big.withColumn(
            "g", F.pmod(F.xxhash64(F.col(id_col)), F.lit(g_groups)).cast("int")
        )
        .select("*", F.explode(F.sequence(F.lit(0), F.lit(g_groups - 1))).alias("j"))
        .withColumn("ti", F.least("g", "j"))
        .withColumn("tj", F.greatest("g", "j"))
        .drop("j")
        .repartition(par, *key_cols, "ti", "tj")
    )

    def _sides(joined):
        return joined.select(
            F.col(f"l.{id_col}").alias(out_a),
            F.col(f"r.{id_col}").alias(out_b),
            *[F.col(f"l.{k}").alias(k) for k in keep_cols],
            *[F.col(f"l.{c}").alias(f"{c}_a") for c in carry],
            *[F.col(f"r.{c}").alias(f"{c}_b") for c in carry],
        )

    eq = F.col(f"l.{id_col}") < F.col(f"r.{id_col}")
    for k in key_cols:
        eq = (F.col(f"l.{k}") == F.col(f"r.{k}")) & eq
    small_pairs = _sides(small.alias("l").join(small.alias("r"), eq))
    big_eq = (
        eq
        & (F.col("l.ti") == F.col("r.ti"))
        & (F.col("l.tj") == F.col("r.tj"))
        # exactly-once across replicas: the (ti, tj) task must BE the
        # group pair — automatic for ga != gb (one shared task), and
        # keeps only the (g, g) task when ga == gb
        & (F.col("l.ti") == F.least(F.col("l.g"), F.col("r.g")))
        & (F.col("l.tj") == F.greatest(F.col("l.g"), F.col("r.g")))
    )
    big_pairs = _sides(big.alias("l").join(big.alias("r"), big_eq))
    return small_pairs.unionByName(big_pairs)


def simhash_vectorized(
    df: DataFrame, text_col: str = "text", bits: int = 32
) -> DataFrame:
    """Arrow-vectorized twin of :func:`simhash` for unique-``doc_id``
    corpora: ONE batched map stage computes the whole signature per
    document — no explode, no aggregation exchange.

    The JVM expression pipeline in :func:`simhash` is the REFERENCE
    evaluation; this path is differential-tested equal
    (tests/test_pipelines.py::test_simhash_vectorized_matches_expr).
    The per-token md5 vote of the spec is integer-exact here by
    construction: bit i of the signature is the top bit of hex digit i
    of md5(token) — i.e. bit 4·i of the
    digest's MSB-first bit string — and the majority vote v_i>0 is
    2·ones_i>n, identical to the aggregate form.  Unique tokens are
    hashed once per task (dictionary cache; guide §4.5), then per-doc
    vote sums are two small integer matrix ops.

    Contract: one row per doc_id (the shape every caller feeds) — rows
    sharing a doc_id would be vote-merged by the groupBy reference but
    emitted separately here, and NULL doc_ids likewise stay per-row.
    The uncapped pair generators, whose pair semantics already require
    unique non-null ids, are the intended callers."""
    from pyspark.sql.types import LongType, StructField, StructType

    if bits > 32:
        raise ValueError("md5-hex simhash supports at most 32 bits")
    from .spread import spread_scan

    df = spread_scan(df)
    schema = StructType([df.schema["doc_id"], StructField("simhash", LongType())])

    def batches(it):
        import hashlib
        from collections import Counter

        import numpy as np
        import pandas as pd

        # per-task memo of unique-token vote bits; CAPPED so a huge
        # partition vocabulary at web scale cannot grow the Python worker
        # unboundedly (cap × ~400B ≈ 100 MB worst case; misses just
        # recompute the md5)
        cache: dict[str, np.ndarray] = {}
        cache_cap = 1 << 18
        shifts = np.arange(bits, dtype=np.uint64)

        def tok_bits(tok: str) -> np.ndarray:
            e = cache.get(tok)
            if e is None:
                d = np.frombuffer(
                    hashlib.md5(tok.encode("utf-8")).digest(), np.uint8
                )
                e = np.unpackbits(d)[0 : 4 * bits : 4].astype(np.int64)
                if len(cache) < cache_cap:
                    cache[tok] = e
            return e

        for pdf in it:
            ids, sigs = [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                if text is None:
                    continue
                toks = text.split(" ")
                n = len(toks)
                ones = np.zeros(bits, np.int64)
                for tok, c in Counter(toks).items():
                    ones += c * tok_bits(tok)
                sig = int((((2 * ones > n).astype(np.uint64)) << shifts).sum())
                ids.append(doc_id)
                sigs.append(sig)
            yield pd.DataFrame({"doc_id": ids, "simhash": sigs})

    return df.select("doc_id", F.col(text_col).alias("text")).mapInPandas(
        batches, schema=schema
    )


def simhash64_vectorized(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Arrow-vectorized twin of :func:`simhash64` (same contract and
    rationale as :func:`simhash_vectorized`): per document, the two
    salted md5 vote families — md5(tok) for the low half, md5('hi|'+tok)
    for the high half — computed once per unique token per task and
    majority-folded with two integer matrix ops."""
    from pyspark.sql.types import LongType, StructField, StructType

    from .spread import spread_scan

    df = spread_scan(df)
    schema = StructType(
        [
            df.schema["doc_id"],
            StructField("sim_lo", LongType()),
            StructField("sim_hi", LongType()),
        ]
    )

    def batches(it):
        import hashlib
        from collections import Counter

        import numpy as np
        import pandas as pd

        # capped per-task memo — see simhash_vectorized
        cache: dict[str, tuple] = {}
        cache_cap = 1 << 18
        shifts = np.arange(32, dtype=np.uint64)

        def tok_bits(tok: str):
            e = cache.get(tok)
            if e is None:
                b = tok.encode("utf-8")
                d1 = np.frombuffer(hashlib.md5(b).digest(), np.uint8)
                d2 = np.frombuffer(hashlib.md5(b"hi|" + b).digest(), np.uint8)
                e = (
                    np.unpackbits(d1)[0:128:4].astype(np.int64),
                    np.unpackbits(d2)[0:128:4].astype(np.int64),
                )
                if len(cache) < cache_cap:
                    cache[tok] = e
            return e

        for pdf in it:
            ids, los, his = [], [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                if text is None:
                    continue
                toks = text.split(" ")
                n = len(toks)
                o1 = np.zeros(32, np.int64)
                o2 = np.zeros(32, np.int64)
                for tok, c in Counter(toks).items():
                    b1, b2 = tok_bits(tok)
                    o1 += c * b1
                    o2 += c * b2
                ids.append(doc_id)
                los.append(int((((2 * o1 > n).astype(np.uint64)) << shifts).sum()))
                his.append(int((((2 * o2 > n).astype(np.uint64)) << shifts).sum()))
            yield pd.DataFrame({"doc_id": ids, "sim_lo": los, "sim_hi": his})

    return df.select("doc_id", F.col(text_col).alias("text")).mapInPandas(
        batches, schema=schema
    )


def simhash64(df: DataFrame, text_col: str = "text") -> DataFrame:
    """64-bit SimHash as two 32-bit halves (doc_id, sim_lo, sim_hi).

    Two salted md5s per token (the low half votes from md5(token), the
    high half from md5('hi|' || token)) extend the md5-hex construction
    of :func:`simhash` past its 32-bit cap; splitting the signature into
    two non-negative 32-bit longs keeps every block/xor/bit_count
    downstream in plain positive int64 arithmetic on BOTH engines (no
    signed-top-bit portability trap).  Per-digit substring votes beat a
    translate+conv bitmask under codegen (measured 20% — conv's string
    parse costs more than N fixed-offset byte compares).  Still one
    explode + one map-side-combinable groupBy — the scale-safe shape at
    10^12 docs."""
    from .spread import spread_scan

    toks = spread_scan(df).select(
        "doc_id", F.explode(F.split(F.col(text_col), " ")).alias("tok")
    ).select(
        "doc_id",
        F.md5("tok").alias("h1"),
        F.md5(F.concat(F.lit("hi|"), F.col("tok"))).alias("h2"),
    )
    # ones-count votes (see simhash): v > 0 ⟺ 2·ones > n, branchless input
    votes = []
    for i in range(32):
        votes.append(
            F.sum((F.substring("h1", i + 1, 1) >= "8").cast("int")).alias(f"lo{i}")
        )
        votes.append(
            F.sum((F.substring("h2", i + 1, 1) >= "8").cast("int")).alias(f"hi{i}")
        )
    agg = toks.groupBy("doc_id").agg(F.count("*").alias("n"), *votes)
    lo, hi = None, None
    for i in range(32):
        lob = F.when(2 * F.col(f"lo{i}") > F.col("n"), F.lit(1 << i)).otherwise(0)
        hib = F.when(2 * F.col(f"hi{i}") > F.col("n"), F.lit(1 << i)).otherwise(0)
        lo = lob if lo is None else lo + lob
        hi = hib if hi is None else hi + hib
    return agg.select(
        "doc_id", lo.cast("long").alias("sim_lo"), hi.cast("long").alias("sim_hi")
    )


def simhash_candidate_pairs64(
    df: DataFrame,
    text_col: str = "text",
    max_hamming: int = 3,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """SimHash near-dup pairs at the web-scale configuration: 64-bit
    signatures, 4 × 16-bit pigeonhole blocks (Manku et al.), shared
    degenerate-bucket cap.

    16-bit blocks give 65,536 distinct values per block_id, so even a
    uniform corpus keeps expected bucket size at N/65,536 (vs N/256 for
    the 32-bit/8-bit-block demo config — the difference between a
    survivable and a quadratic join at 10^9 docs); ``max_bucket_size``
    routes the residual hot buckets (identical/empty boilerplate docs)
    to the linear signature-star path via the shared
    pipelines.candidates.bucket_pairs guard.  Candidate recall for
    hamming ≤ ``max_hamming`` (< 4) is exact by pigeonhole across the
    two halves.  Returns (doc_a, doc_b, hamming).  Raises ValueError when
    ``doc_id`` is null or repeated among rows with non-null text."""
    if max_hamming >= 4:
        raise ValueError("pigeonhole guarantee needs max_hamming < 4 blocks")
    from .candidates import bucket_pairs

    # Arrow-vectorized signature stage for BOTH paths (differential-tested
    # equal to the simhash64 expression reference).  Beyond planning ~130
    # aggregate expressions per build (~0.75 s of driver time the bench
    # pays on every run), the vote aggregate was also the slowest stage —
    # the one-node Arrow plan removes both.
    sig = simhash64_vectorized(df, text_col).localCheckpoint(eager=True)
    # pair generation needs a unique, non-null doc_id: one aggregate over
    # the checkpointed signatures checks it before any join
    ids = sig.agg(
        F.count(F.lit(1)).alias("rows"),
        F.count("doc_id").alias("non_null"),
        F.count_distinct("doc_id").alias("distinct"),
    ).first()
    if ids["non_null"] < ids["rows"]:
        raise ValueError(
            f"simhash_candidate_pairs64: {ids['rows'] - ids['non_null']} rows "
            "with a null doc_id; pairs need a unique, non-null doc_id"
        )
    if ids["distinct"] < ids["non_null"]:
        raise ValueError(
            f"simhash_candidate_pairs64: duplicate doc_id ({ids['non_null']} rows, "
            f"{ids['distinct']} distinct ids); pairs need a unique, non-null doc_id"
        )
    sig_cols = (
        [F.md5(F.concat_ws("|", F.col("sim_lo"), F.col("sim_hi"))).alias("sig_key")]
        if max_bucket_size is not None
        else []
    )
    stacked = sig.select(
        "doc_id",
        "sim_lo",
        "sim_hi",
        *sig_cols,
        F.expr(
            "stack(4, "
            "0, CAST(sim_lo % 65536 AS BIGINT), "
            "1, CAST(shiftright(sim_lo, 16) AS BIGINT), "
            "2, CAST(sim_hi % 65536 AS BIGINT), "
            "3, CAST(shiftright(sim_hi, 16) AS BIGINT)"
            ") as (block_id, block_val)"
        ),
    )
    if max_bucket_size is None:

        def _differs(bp: int):
            xlo = F.col("sim_lo_a").bitwiseXOR(F.col("sim_lo_b"))
            xhi = F.col("sim_hi_a").bitwiseXOR(F.col("sim_hi_b"))
            half = xlo if bp < 2 else xhi
            return (F.shiftright(half, 16 * (bp % 2)).bitwiseAND(F.lit(65535))) != 0

        pairs = _pigeonhole_pairs_uncapped(
            stacked, 4, _differs, carry=["sim_lo", "sim_hi"]
        )
    else:
        pairs = bucket_pairs(
            stacked,
            ["block_id", "block_val"],
            "doc_id",
            sig_col="sig_key",
            max_bucket_size=max_bucket_size,
            out_a="doc_a",
            out_b="doc_b",
            carry_cols=["sim_lo", "sim_hi"],  # hamming verify without a join back
        )
    return pairs.select(
        "doc_a",
        "doc_b",
        (
            F.bit_count(F.col("sim_lo_a").bitwiseXOR(F.col("sim_lo_b")))
            + F.bit_count(F.col("sim_hi_a").bitwiseXOR(F.col("sim_hi_b")))
        ).alias("hamming"),
    ).filter(F.col("hamming") <= max_hamming)
