"""Deduplication operators: MinHash-LSH, 64-bit SimHash, n-gram Jaccard,
connected components.

Scale notes (100 TB design):
- MinHash-LSH shuffles on (band_id, band_hash) bucket keys instead of
  all-pairs — candidate pairs only form inside buckets, which is the only
  way n² dedup survives at 10^12 documents.
- SimHash is a single pass (one Arrow map computing each document's
  bit-majority vote); candidate generation is the Manku pigeonhole block
  join over 64-bit signatures in 16-bit blocks
  (simhash_candidate_pairs64) with the shared degenerate-bucket cap
  (pipelines.candidates.bucket_pairs).

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


def ngram_jaccard(df: DataFrame, pairs: DataFrame, text_col: str = "text") -> DataFrame:
    """Exact n-gram Jaccard similarity for candidate pairs (verification
    stage after LSH): |A∩B| / |A∪B| over 3-word shingle sets, in basis
    points (integer, oracle-stable).  Per-doc distinct shingle sets join
    onto the pairs as a.sh / b.sh — two equi-joins by doc id, on the
    bucketed candidates only."""
    docs = df.select(
        F.col("doc_id"), F.array_distinct(shingles(F.col(text_col))).alias("sh")
    )
    a = docs.alias("a")
    b = docs.alias("b")
    joined = pairs.join(a, pairs.doc_a == F.col("a.doc_id")).join(
        b, pairs.doc_b == F.col("b.doc_id")
    )
    return joined.select(
        "doc_a",
        "doc_b",
        F.floor(
            F.size(F.array_intersect("a.sh", "b.sh")).cast("long")
            * 10000
            / F.greatest(F.size(F.array_union("a.sh", "b.sh")), F.lit(1))
        ).alias("jaccard_bp"),
    )


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


def simhash64_vectorized(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Arrow-vectorized twin of :func:`simhash64` for unique-``doc_id``
    corpora: ONE batched map stage computes the whole signature per
    document — no explode, no aggregation exchange.

    The JVM expression pipeline in :func:`simhash64` is the REFERENCE
    evaluation; this path is differential-tested equal
    (tests/test_pipelines.py::test_simhash_vectorized_matches_expr).  Bit
    i of each half is the top bit of hex digit i of its salted md5 —
    md5(tok) for the low half, md5('hi|'+tok) for the high half — i.e.
    bit 4·i of the digest's MSB-first bit string, and the majority vote
    is 2·ones_i > n, identical to the aggregate form.  Unique tokens are
    hashed once per task (a capped dictionary cache), then per-doc vote
    sums are two small integer matrix ops.

    Contract: one row per doc_id — rows sharing a doc_id would be
    vote-merged by the groupBy reference but emitted separately here,
    and NULL doc_ids likewise stay per-row.  The pair generator, whose
    pair semantics already require unique non-null ids, is the caller."""
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

        # per-task memo of unique-token vote bits; CAPPED so a huge
        # partition vocabulary at web scale cannot grow the Python worker
        # unboundedly (cap × ~400B ≈ 100 MB worst case; misses just
        # recompute the md5)
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

    Bit ``i`` of a token's half-hash is the high bit of hex digit ``i`` of
    its md5 (digit >= '8') — portable across engines, so another engine
    can replay the values exactly, unlike xxhash64.  One md5 covers 32
    bits, so two salted md5s per token (the low half votes from
    md5(token), the high half from md5('hi|' || token)) make 64;
    splitting the signature into two non-negative 32-bit longs keeps
    every block/xor/bit_count downstream in plain positive int64
    arithmetic on BOTH engines (no signed-top-bit portability trap).
    Per-digit substring votes beat a translate+conv bitmask under
    codegen (measured 20% — conv's string parse costs more than N
    fixed-offset byte compares).  Still one explode + one
    map-side-combinable groupBy — the scale-safe shape at 10^12 docs."""
    from .spread import spread_scan

    toks = spread_scan(df).select(
        "doc_id", F.explode(F.split(F.col(text_col), " ")).alias("tok")
    ).select(
        "doc_id",
        F.md5("tok").alias("h1"),
        F.md5(F.concat(F.lit("hi|"), F.col("tok"))).alias("h2"),
    )
    # ones-count votes: the classic ±1 vote sum v = 2·ones − n, so
    # v > 0 ⟺ 2·ones > n — same bit, but the aggregate input is a
    # branchless boolean cast instead of a CASE
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
    8-bit blocks — the difference between a survivable and a quadratic
    join at 10^9 docs); ``max_bucket_size`` routes the residual hot
    buckets (identical/empty boilerplate docs) to the linear
    signature-star path via the shared pipelines.candidates.bucket_pairs
    guard.  Candidate recall for hamming ≤ ``max_hamming`` (< 4) is
    exact by pigeonhole across the two halves.  Returns (doc_a, doc_b,
    hamming).  Raises ValueError when ``doc_id`` is null or repeated
    among rows with non-null text."""
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
