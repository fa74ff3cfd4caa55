"""Similarity search over embedding columns (array<float>).

- Brute-force cosine top-k: the correctness baseline.  Dot products run
  JVM-side via higher-order functions (zip_with + aggregate) — no Python in
  the hot path.
- LSH-bucketed variant: sign-of-projection onto deterministic integer
  hyperplanes buckets vectors so candidate generation is a bucket-local
  join, not an all-pairs cross join — the 100 TB scale path (candidates
  per query ≈ N / 2^planes instead of N).

Similarities are floored to basis points (×10000) before ranking so the
ordering is reproducible across engines (ties broken by neighbor id).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a):
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def cosine_bp(a, b):
    """Cosine similarity in floored basis points (integer, oracle-stable)."""
    return F.floor(dot(a, b) * 10000 / F.greatest(norm(a) * norm(b), F.lit(1e-12)))


def brute_force_topk(
    embeddings: DataFrame,
    k: int = 5,
    query_ids: list[int] | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k: broadcast the (small) query set against the full
    corpus; rank window per query.  At cluster scale the query side is the
    broadcast side; the corpus never shuffles."""
    from .spread import spread_scan

    q = embeddings.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    )
    if query_ids is not None:
        # bounded query set: broadcast it; all-pairs mode must not ship
        # the whole corpus to every executor
        q = F.broadcast(q.filter(F.col("query_id").isin(query_ids)))
    c = spread_scan(embeddings).select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv")
    )
    scored = (
        q.join(c, F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine_bp(F.col("qv"), F.col("cv")).alias("cosine_bp"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine_bp"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", "cosine_bp", "rnk")
    )


def hyperplane_weight(plane: int, dim: int) -> int:
    """Deterministic pseudo-random hyperplane weight in [-128, 127]: byte 0
    of md5("hp{plane}|{dim}") - 128.  Computed at plan-build time — the
    weights are embedded as literals in both the Spark expression and its
    SQL twin, so the buckets are engine-independent.

    (The previous arithmetic formula ((d*31 + p*17) mod 7 - 3) had period 7
    in the plane index — planes p and p+7 were the SAME hyperplane — which
    silently voided multi-table recall amplification; md5 bytes have no
    such structure.)
    """
    import hashlib

    return int(hashlib.md5(f"hp{plane}|{dim}".encode()).hexdigest()[:2], 16) - 128


# Quantization scale for LSH projections: multiplying by a power of two is
# an EXACT float operation (exponent shift), and floor() of the result is
# exact in every engine, so the quantized coordinates — and therefore the
# int64 projection sums, which are associative unlike float sums — are
# bit-identical across Spark expressions, the numpy fast path, and DuckDB,
# independent of summation order.  (The previous float-fold spec pinned a
# left-to-right order, which barred any vectorized/BLAS evaluation.)
LSH_SCALE = 1 << 20


def lsh_bucket_expr(vec_col, num_planes: int, dims: int, plane_offset: int = 0):
    """Bucket id = bits of sign(q(v) · w_plane) over deterministic planes,
    where q quantizes each coordinate to floor(x * 2^20) in int64.

    ``plane_offset`` selects an independent plane family, so multiple LSH
    tables (multi-probe recall amplification) draw disjoint hyperplanes.
    This is the REFERENCE evaluation (pure JVM expression); the hot path
    is the Arrow-vectorized ``lsh_buckets_vectorized`` (identical output,
    differential-tested) — interpreted HOF folds cost ~4 ms/row at 128
    planes, the matmul ~1 µs/row.
    """
    q = F.transform(vec_col, lambda x: F.floor(x.cast("double") * LSH_SCALE).cast("long"))
    bucket = F.lit(0)
    for p in range(num_planes):
        proj = F.aggregate(
            F.zip_with(
                q,
                F.array(
                    *[
                        F.lit(int(hyperplane_weight(plane_offset + p, d)))
                        for d in range(dims)
                    ]
                ),
                lambda x, w: x * w,
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )
        bucket = bucket + F.when(proj > 0, F.lit(1 << p)).otherwise(0)
    return bucket


def _weight_matrix(num_tables: int, planes_per_table: int, dims: int):
    """dims × (num_tables * planes_per_table) int64 hyperplane matrix,
    plane families disjoint per table (same weights as lsh_bucket_expr)."""
    import numpy as np

    total = num_tables * planes_per_table
    return np.array(
        [[hyperplane_weight(p, d) for p in range(total)] for d in range(dims)],
        dtype=np.int64,
    )


def lsh_buckets_vectorized(
    embeddings: DataFrame,
    num_tables: int,
    planes_per_table: int,
    dims: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(vid, t0..tL-1 bucket ids) via ONE Arrow-batched matmul: quantize
    coordinates to int64 (exact, see LSH_SCALE), multiply by the broadcast
    dims × (L·b) weight matrix, threshold, pack sign bits per table.

    Scale shape: embarrassingly parallel map stage, ~1 µs/row for 128
    planes (vs ~4 ms/row for the interpreted HOF reference expression —
    measured at sf0.1); the weight matrix is a task-closure constant.
    Output equality with lsh_bucket_expr is exact by the integer spec and
    gated by tests/test_pipelines.py::test_lsh_buckets_vectorized_matches_expr.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, LongType

    W = _weight_matrix(num_tables, planes_per_table, dims)
    bits_weights = (np.int64(1) << np.arange(planes_per_table, dtype=np.int64))

    def _buckets(vecs):
        X = np.stack(vecs.to_numpy()).astype(np.float64)
        Q = np.floor(X * LSH_SCALE).astype(np.int64)
        P = Q @ W  # int64: exact, order-free
        bits = P > 0
        out = np.empty((len(vecs), num_tables), dtype=np.int64)
        for t in range(num_tables):
            out[:, t] = bits[:, t * planes_per_table : (t + 1) * planes_per_table] @ bits_weights
        return pd.Series(list(out))

    # real-object annotations: `from __future__ import annotations` would
    # stringify inline hints, which pandas_udf cannot parse
    _buckets.__annotations__ = {"vecs": pd.Series, "return": pd.Series}
    buckets = pandas_udf(ArrayType(LongType()))(_buckets)

    b = embeddings.select(F.col(id_col).alias("vid"), buckets(F.col(vec_col)).alias("bks"))
    return b.select("vid", *[F.col("bks")[t].alias(f"t{t}") for t in range(num_tables)])


def lsh_topk(
    embeddings: DataFrame,
    k: int = 5,
    num_planes: int = 3,
    dims: int = 64,
    query_ids: list[int] | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's LSH bucket.

    The join key is the bucket id, so the shuffle is equi-join-sized; at
    10^12 rows this is the difference between feasible and not.
    """
    with_bucket = embeddings.select(
        F.col(id_col).alias("vid"),
        F.col(vec_col).alias("vec"),
        lsh_bucket_expr(F.col(vec_col), num_planes, dims).alias("bucket"),
    )
    q = with_bucket.select(
        F.col("vid").alias("query_id"), F.col("vec").alias("qv"), F.col("bucket")
    )
    if query_ids is not None:
        q = q.filter(F.col("query_id").isin(query_ids))
    c = with_bucket.select(
        F.col("vid").alias("neighbor_id"), F.col("vec").alias("cv"), F.col("bucket")
    )
    # Broadcast only when the query side is a bounded id list; in all-pairs
    # mode (query_ids=None) q IS the corpus and must shuffle-join instead —
    # an unconditional broadcast would ship the whole corpus to every
    # executor (same rule as brute_force_topk / lsh_topk_multi).
    q_side = F.broadcast(q) if query_ids is not None else q
    scored = (
        q_side
        .join(c, "bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine_bp(F.col("qv"), F.col("cv")).alias("cosine_bp"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine_bp"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", "cosine_bp", "rnk")
    )


def lsh_topk_multi(
    embeddings: DataFrame,
    k: int = 5,
    num_tables: int = 8,
    planes_per_table: int = 16,
    dims: int = 64,
    query_ids: list[int] | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Multi-table hyperplane-LSH top-k — the scale configuration of ANN
    retrieval (supersedes the single-table ``lsh_topk`` flagship, whose
    3-plane/8-bucket demo config scans ~N/8 candidates per query).

    ``num_tables`` independent tables each bucket on ``planes_per_table``
    sign bits from a disjoint hyperplane family; a corpus vector is a
    candidate if it collides with the query in ANY table.  Recall for
    per-plane agreement p is 1-(1-p^b)^L (b=16, L=8 → 0.92 at cosine
    0.97), while candidates per query stay ~L * N / 2^b — at 10^9 vectors
    and b=16 that is ~12k candidates, not N/8.  Shuffle shape: the
    queries (with their L buckets) broadcast; the corpus streams through
    L equi-joins expressed as one stacked (table_id, bucket) join; the
    candidate set (not the corpus) is what gets distinct-ed and scored.
    Recall is gated vs brute force in
    tests/test_pipelines.py::test_lsh_topk_multi_recall_vs_bruteforce.

    The bucket index is materialized once (localCheckpoint — the
    in-session analog of persisting the LSH index table, which is what a
    production retrieval system does) so the query and corpus branches
    both read it instead of recomputing the matmul per branch.
    """
    wide = lsh_buckets_vectorized(
        embeddings, num_tables, planes_per_table, dims, id_col, vec_col
    ).localCheckpoint(eager=True)
    stack_expr = "stack({n}, {args}) as (table_id, bucket)".format(
        n=num_tables, args=", ".join(f"{t}, t{t}" for t in range(num_tables))
    )
    tabled = wide.select("vid", F.expr(stack_expr))
    q_tabled = wide.select(
        F.col("vid").alias("query_id"), F.expr(stack_expr)
    )
    q_vecs = embeddings.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    )
    if query_ids is not None:
        # bounded query set: broadcast it (the retrieval shape)
        q_tabled = F.broadcast(q_tabled.filter(F.col("query_id").isin(query_ids)))
        q_vecs = F.broadcast(q_vecs.filter(F.col("query_id").isin(query_ids)))
    # all-pairs mode (query_ids=None) must NOT broadcast the full corpus —
    # leave the join strategy to AQE (bucket equi-join either way)
    candidates = (
        q_tabled.join(tabled, ["table_id", "bucket"])
        .filter(F.col("query_id") != F.col("vid"))
        .select("query_id", F.col("vid").alias("neighbor_id"))
        .distinct()
    )
    nb = embeddings.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"))
    scored = (
        candidates.join(q_vecs, "query_id")
        .join(nb, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            cosine_bp(F.col("qv"), F.col("cv")).alias("cosine_bp"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine_bp"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", "cosine_bp", "rnk")
    )


def embedding_candidate_pairs(
    embeddings: DataFrame,
    num_tables: int = 8,
    planes_per_table: int = 8,
    dims: int = 64,
    threshold_bp: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Embedding near-duplicate candidate pairs via multi-table hyperplane
    LSH, with an exact-cosine verify stage.

    Each of ``num_tables`` tables buckets on ``planes_per_table`` sign bits
    drawn from a disjoint plane family; a pair is a candidate if it
    collides in ANY table (recall 1-(1-p^b)^L for per-plane agreement p),
    while each table's 2^b buckets keep the in-bucket self-join linear-ish.
    At 10^9+ vectors, scale planes_per_table ~ log2(N / target_bucket_size)
    (~20+) and keep num_tables for recall — bucket count, not table count,
    is what bounds the join.  Shuffle cost: one explode x L, one equi-join
    on (table_id, bucket) — never all-pairs.

    ``max_bucket_size`` is the degenerate-bucket skew guard (same design
    as minhash ``_pairs_from_buckets``): zero/constant/boilerplate
    vectors all land in the SAME bucket of EVERY table, which without a
    cap makes the in-bucket self-join quadratic on one key.  Buckets
    above the cap route to a linear star path keyed by the full
    all-table bucket signature (identical vectors share every bucket, so
    one rep per signature captures them with n-1 pairs); signature-
    distinct strangers inside a giant bucket are dropped there — a
    documented recall tradeoff, recoverable via the other tables.
    Worst-case pairwise work per bucket is then cap², data-independent.

    The bucket index is materialized once (localCheckpoint) — the
    self-join's two sides and the capped path's small/big/reps branches
    all read it instead of recomputing the bucket matmul per branch.
    """
    b = lsh_buckets_vectorized(
        embeddings, num_tables, planes_per_table, dims, id_col, vec_col
    ).localCheckpoint(eager=True)
    sig_cols = (
        [
            F.md5(
                F.concat_ws("|", *[F.col(f"t{t}").cast("string") for t in range(num_tables)])
            ).alias("sig_key")
        ]
        if max_bucket_size is not None
        else []
    )
    stack_expr = "stack({n}, {args}) as (table_id, bucket)".format(
        n=num_tables, args=", ".join(f"{t}, t{t}" for t in range(num_tables))
    )
    tabled = b.select("vid", *sig_cols, F.expr(stack_expr))
    from .candidates import bucket_pairs

    pairs = bucket_pairs(
        tabled,
        ["table_id", "bucket"],
        "vid",
        sig_col="sig_key",
        max_bucket_size=max_bucket_size,
        out_a="vec_a",
        out_b="vec_b",
    )
    ea = embeddings.select(F.col(id_col).alias("vec_a"), F.col(vec_col).alias("va"))
    eb = embeddings.select(F.col(id_col).alias("vec_b"), F.col(vec_col).alias("vb"))
    verified = (
        pairs.join(ea, "vec_a")
        .join(eb, "vec_b")
        .select("vec_a", "vec_b", cosine_bp(F.col("va"), F.col("vb")).alias("cosine_bp"))
    )
    if threshold_bp is not None:
        verified = verified.filter(F.col("cosine_bp") >= threshold_bp)
    return verified


KMEANS_SCALE = 1024  # exact power-of-two quantization step (floor(x * 2^10))


def _quantize_vec(col, scale: int = KMEANS_SCALE):
    """array<float> → array<long> by an exact exponent shift + floor —
    every downstream k-means/assignment computation stays in order-free
    int64 arithmetic, so Spark and the DuckDB twin agree bit-for-bit
    (the oracle-exactness pattern that unlocked the LSH Arrow matmul)."""
    return F.transform(col, lambda x: F.floor(x.cast("double") * scale).cast("long"))


def _int_l2(a, b):
    """Integer squared L2 distance between two array<long> columns."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def _centroid_arr(cents: DataFrame):
    """Centroid table → ONE broadcastable row holding the codebook as an
    array of (cent_id, cv) structs, sorted by cent_id (struct ordering)."""
    return cents.agg(
        F.array_sort(F.collect_list(F.struct("cent_id", "cv"))).alias("cb")
    )


def _cent_by_id(cb_col, cell_col):
    """Centroid vector looked up BY cent_id (not array position): valid for
    any cent_id domain — positional element_at(cb, cell+1) is only correct
    when cent_ids are dense 0..n-1, which kmeans init (vid < n_centroids)
    does not guarantee for non-dense / non-zero-based id columns."""
    return F.element_at(
        F.filter(cb_col, lambda c: c["cent_id"] == cell_col), 1
    )["cv"]


def _nearest(cb_col, vq_col):
    """argmin_{c in codebook} intL2(vq, c.cv) as a (d, cent_id) struct —
    lowest-id tiebreak via struct ordering; pure JVM expression, NO
    shuffle (the per-row window-argmin this replaces cost one)."""
    return F.array_min(
        F.transform(
            cb_col,
            # named_struct: plain struct() loses field aliases inside HOF
            # lambdas (fields become col1/col2)
            lambda c: F.named_struct(
                F.lit("d"), _int_l2(vq_col, c["cv"]), F.lit("cent_id"), c["cent_id"]
            ),
        )
    )


def kmeans_codebook(
    vq: DataFrame, n_centroids: int = 8, n_iter: int = 2
) -> DataFrame:
    """Integer-exact Lloyd iterations over quantized vectors (vid,
    vq: array<long>) → centroid table (cent_id, cv: array<long>).

    Deterministic and engine-portable by construction: init = the first
    ``n_centroids`` vectors by id, assignment = integer squared-L2 argmin
    with lowest-id tiebreak, update = floor(componentwise sum / count)
    (empty cells keep their previous centroid) — every step is exact
    int64 arithmetic.  Scale shape per iteration: the codebook is
    ONE broadcast row, assignment is a shuffle-free map, and the update
    is a posexplode + map-side-combinable (cell, dim) aggregation whose
    output is n_centroids×dims partials — the corpus itself never
    shuffles.  The tiny centroid table is localCheckpoint-materialized
    each round so the final plan re-reads an 8-row RDD, not the whole
    iteration history."""
    cents = (
        vq.filter(F.col("vid") < n_centroids)
        .select(F.col("vid").alias("cent_id"), F.col("vq").alias("cv"))
        .localCheckpoint(eager=True)
    )
    # the init contract is id-based (vid < n_centroids, replayed verbatim by
    # the DuckDB twin); a corpus whose ids all start above n_centroids would
    # otherwise train an EMPTY codebook and silently null every assignment
    if not cents.take(1):
        raise ValueError(
            "kmeans init empty: no rows with vid < n_centroids "
            f"({n_centroids}); re-id the corpus (e.g. zipWithIndex / "
            "row_number) before training"
        )
    for _ in range(n_iter):
        cb = _centroid_arr(cents)
        cells = vq.crossJoin(F.broadcast(cb)).select(
            "vid", "vq", _nearest(F.col("cb"), F.col("vq"))["cent_id"].alias("cell")
        )
        comp = (
            cells.select("cell", F.posexplode("vq").alias("pos", "x"))
            .groupBy("cell", "pos")
            .agg(F.sum("x").alias("s"), F.count("*").alias("n"))
            .select(
                "cell",
                "pos",
                F.floor(F.col("s") / F.col("n")).cast("long").alias("m"),
            )
        )
        updated = comp.groupBy("cell").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "m"))), lambda x: x["m"]
            ).alias("cv_new")
        )
        cents = (
            cents.join(
                updated.withColumnRenamed("cell", "cent_id"), "cent_id", "left"
            )
            .select("cent_id", F.coalesce("cv_new", "cv").alias("cv"))
            .localCheckpoint(eager=True)
        )
    return cents


def ivf_topk(
    embeddings: DataFrame,
    k: int = 5,
    n_centroids: int = 8,
    n_probe: int = 2,
    query_ids: list[int] | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_iter: int = 2,
) -> DataFrame:
    """IVF ANN: coarse-quantize the corpus into k-means centroid cells,
    search only the query's ``n_probe`` nearest cells.

    The coarse codebook is a real k-means (``kmeans_codebook`` —
    integer-exact Lloyd from a first-N init, replacing the round-3
    first-N stand-in); cell assignment and probe selection are integer
    L2 against the broadcast codebook computed as shuffle-free
    expressions (array argmin / sorted-slice — the per-vector
    window-argmin of the float version cost a full shuffle), and final
    candidate scoring stays EXACT float cosine on the original vectors.
    At 10^12 rows the corpus shuffles once on cell_id for the search and
    never for training or assignment.
    """
    vecs = embeddings.select(
        F.col(id_col).alias("vid"),
        F.col(vec_col).alias("vec"),
        _quantize_vec(F.col(vec_col)).alias("vq"),
    )
    cents = kmeans_codebook(vecs.select("vid", "vq"), n_centroids, n_iter)
    cb = _centroid_arr(cents)

    assigned = vecs.crossJoin(F.broadcast(cb)).select(
        "vid", "vec", _nearest(F.col("cb"), F.col("vq"))["cent_id"].alias("cell")
    )

    # each query probes its n_probe nearest cells: sorted-slice of the
    # same per-row distance array (still no shuffle)
    q = vecs.crossJoin(F.broadcast(cb))
    if query_ids is not None:
        q = q.filter(F.col("vid").isin(query_ids))
    q_cells = q.select(
        F.col("vid").alias("query_id"),
        F.col("vec").alias("qv"),
        F.explode(
            F.slice(
                F.array_sort(
                    F.transform(
                        F.col("cb"),
                        lambda c: F.named_struct(
                            F.lit("d"),
                            _int_l2(F.col("vq"), c["cv"]),
                            F.lit("cent_id"),
                            c["cent_id"],
                        ),
                    )
                ),
                1,
                n_probe,
            )
        ).alias("probe"),
    ).select("query_id", "qv", F.col("probe")["cent_id"].alias("cell"))

    if query_ids is not None:
        q_cells = F.broadcast(q_cells)  # bounded queries only (see brute_force_topk)
    candidates = (
        q_cells.join(assigned, "cell")
        .filter(F.col("query_id") != F.col("vid"))
        .select(
            "query_id",
            F.col("vid").alias("neighbor_id"),
            cosine_bp(F.col("qv"), F.col("vec")).alias("cosine_bp"),
        )
        .distinct()  # a neighbor can appear via multiple probed cells
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine_bp"), F.asc("neighbor_id"))
    return (
        candidates.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", "cosine_bp", "rnk")
    )


def _pq_adc_scan(
    src: DataFrame,
    qsrc: DataFrame,
    m: int,
    ks: int,
    width: int,
    n_iter: int,
    keys: list[str],
    bounded_queries: bool,
    k: int,
) -> DataFrame:
    """Shared PQ train-encode-score scaffold (used by pq_topk and
    ivfpq_topk — one implementation so the ADC join shape, tie-breaks,
    and broadcast hints cannot drift between the raw and residual
    variants).  ``src`` is (vid, res: array<long> [, *keys]); ``qsrc`` is
    (query_id, qres [, *keys]).  Trains per-subspace integer k-means
    sub-codebooks on src.res slices, encodes src shuffle-free, scores
    via per-subspace distance-table equi-joins on (*keys, code_j), and
    returns the ranked (query_id, neighbor_id, adc_dist, rnk) top-k."""
    sub_cents = []
    cb_row = None
    for j in range(m):
        rj = src.select("vid", F.slice("res", j * width + 1, width).alias("vq"))
        cents_j = kmeans_codebook(rj, ks, n_iter)
        sub_cents.append(cents_j)
        cb_j = _centroid_arr(cents_j).withColumnRenamed("cb", f"cb{j}")
        cb_row = cb_j if cb_row is None else cb_row.crossJoin(cb_j)

    enc = src.crossJoin(F.broadcast(cb_row)).select(
        "vid",
        *keys,
        *[
            _nearest(F.col(f"cb{j}"), F.slice("res", j * width + 1, width))[
                "cent_id"
            ].alias(f"code{j}")
            for j in range(m)
        ],
    )

    scored = enc
    for j in range(m):
        qd_j = qsrc.crossJoin(
            F.broadcast(
                sub_cents[j].select(
                    F.col("cent_id").alias(f"code{j}"), F.col("cv").alias("cvj")
                )
            )
        ).select(
            "query_id",
            *keys,
            F.col(f"code{j}"),
            _int_l2(F.slice("qres", j * width + 1, width), F.col("cvj")).alias(
                f"adc{j}"
            ),
        )
        on = [*keys, f"code{j}"] if j == 0 else ["query_id", *keys, f"code{j}"]
        if bounded_queries:
            qd_j = F.broadcast(qd_j)  # per-query distance tables stay small
        scored = scored.join(qd_j, on)
    adc = F.col("adc0")
    for j in range(1, m):
        adc = adc + F.col(f"adc{j}")
    scored = scored.filter(F.col("query_id") != F.col("vid")).select(
        "query_id",
        F.col("vid").alias("neighbor_id"),
        adc.cast("long").alias("adc_dist"),
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("adc_dist"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", "adc_dist", "rnk")
    )


def pq_topk(
    embeddings: DataFrame,
    k: int = 5,
    m: int = 4,
    ks: int = 8,
    dims: int = 64,
    query_ids: list[int] | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_iter: int = 2,
) -> DataFrame:
    """Product-quantization ANN with asymmetric distance (ADC).

    The corpus is compressed to ``m`` one-byte codes per vector: each
    subspace slice is assigned to its nearest sub-centroid from a REAL
    per-subspace k-means codebook (``kmeans_codebook`` over the quantized
    slices — integer-exact Lloyd, replacing the round-3 first-N
    stand-in); queries score candidates by summing per-subspace
    query→centroid integer distances.  All distances live in the
    floor(x·1024) integer domain, so Spark and the DuckDB twin agree
    exactly.  Scale story: at 10^12 vectors the corpus shrinks ~dims*4/m
    bytes → m bytes per row (64× here), codebooks and per-query distance
    tables are broadcast, encoding is a shuffle-free argmin expression,
    and scoring is m broadcast equi-joins + a sum — the corpus itself
    never shuffles and never rematerializes float vectors.  Usually
    composed with IVF cells (ivf_topk) for candidate pruning; this
    operator is the ADC scan.
    """
    width = dims // m
    vecs = embeddings.select(
        F.col(id_col).alias("vid"), _quantize_vec(F.col(vec_col)).alias("res")
    )
    q = vecs
    if query_ids is not None:
        q = q.filter(F.col("vid").isin(query_ids))
    qsrc = q.select(F.col("vid").alias("query_id"), F.col("res").alias("qres"))
    return _pq_adc_scan(
        vecs, qsrc, m, ks, width, n_iter,
        keys=[], bounded_queries=query_ids is not None, k=k,
    )


def ivfpq_topk(
    embeddings: DataFrame,
    k: int = 5,
    n_centroids: int = 8,
    n_probe: int = 2,
    m: int = 4,
    ks: int = 8,
    dims: int = 64,
    query_ids: list[int] | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_iter: int = 2,
) -> DataFrame:
    """IVF-PQ ANN (Jégou et al., "Product Quantization for Nearest
    Neighbor Search"): coarse k-means cells prune the candidate set, and
    candidates are scored by PQ asymmetric distance over the RESIDUAL
    (vector − its cell centroid) — the composition both building blocks
    (ivf_topk, pq_topk) document as the production shape.

    All in the floor(x·1024) integer domain end-to-end (coarse Lloyd,
    residuals, per-subspace residual sub-codebooks, ADC sums), so the
    result is exact and engine-portable.  Scale shape:
    codebooks are broadcast rows, assignment/encoding/probing are
    shuffle-free argmin expressions over the scan, the corpus is stored
    as (cell, m byte codes) — ~dims·4/m compression — and scoring is
    broadcast equi-joins on (cell, code_j): a neighbor is scored iff its
    cell is among the query's ``n_probe`` probed cells.  The corpus
    never shuffles and float vectors never rematerialize."""
    width = dims // m
    vecs = embeddings.select(
        F.col(id_col).alias("vid"), _quantize_vec(F.col(vec_col)).alias("vq")
    )
    coarse = kmeans_codebook(vecs, n_centroids, n_iter)
    cb = _centroid_arr(coarse)

    # cell assignment + integer residual, shuffle-free; centroid lookup is
    # BY cent_id (not array position), so non-dense / non-zero-based id
    # columns (filtered or resharded corpora) assign correctly
    withcb = vecs.crossJoin(F.broadcast(cb))
    assigned = withcb.select(
        "vid",
        "vq",
        _nearest(F.col("cb"), F.col("vq"))["cent_id"].alias("cell"),
        F.col("cb"),
    ).select(
        "vid",
        "vq",
        "cell",
        F.zip_with(
            "vq",
            _cent_by_id(F.col("cb"), F.col("cell")),
            lambda a, b: a - b,
        ).alias("res"),
    )

    # queries: probe n_probe nearest cells, build per-(query, cell)
    # integer residuals for the shared ADC scaffold
    q = vecs.crossJoin(F.broadcast(cb))
    if query_ids is not None:
        q = q.filter(F.col("vid").isin(query_ids))
    q_cells = q.select(
        F.col("vid").alias("query_id"),
        "vq",
        F.col("cb"),
        F.explode(
            F.slice(
                F.array_sort(
                    F.transform(
                        F.col("cb"),
                        lambda c: F.named_struct(
                            F.lit("d"),
                            _int_l2(F.col("vq"), c["cv"]),
                            F.lit("cent_id"),
                            c["cent_id"],
                        ),
                    )
                ),
                1,
                n_probe,
            )
        ).alias("probe"),
    ).select(
        "query_id",
        F.col("probe")["cent_id"].alias("cell"),
        F.zip_with(
            "vq",
            _cent_by_id(F.col("cb"), F.col("probe")["cent_id"]),
            lambda a, b: a - b,
        ).alias("qres"),
    )

    return _pq_adc_scan(
        assigned.select("vid", "res", "cell"),
        q_cells,
        m, ks, width, n_iter,
        keys=["cell"], bounded_queries=query_ids is not None, k=k,
    )


def semantic_dedup(
    embeddings: DataFrame,
    n_centroids: int = 8,
    threshold_bp: int = 9500,
    n_iter: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_cluster_size: int | None = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al., "SemDeDup:
    Data-efficient learning at web-scale through semantic deduplication",
    arXiv:2303.09540): k-means-cluster the embedding space, then compare
    documents ONLY within their cluster and drop every document that has
    an earlier (lower-id) same-cluster neighbor with cosine ≥ the
    threshold — one deterministic representative survives per semantic
    ε-ball.

    Returns one row per input vector: (vec_id, cell, n_close, keep)
    where ``n_close`` counts the lower-id same-cluster near-duplicates
    and ``keep = 1`` iff there are none.

    Scale shape: the coarse codebook is the shared integer-exact Lloyd
    (``kmeans_codebook`` — broadcast codebook, shuffle-free assignment,
    the corpus never shuffles for training); the within-cluster compare
    is the ONE shared capped bucket join (``candidates.bucket_pairs``,
    key = cell) with the vectors riding the join as carry columns, so
    scoring needs no join back to the corpus.  Clustering is what makes
    this subquadratic: at 10^9+ vectors scale ``n_centroids ~ N /
    target_cluster_size`` so in-cluster joins stay bounded, and set
    ``max_cluster_size`` so a degenerate cell (constant/zero vectors)
    routes to the linear signature-star path instead of a quadratic
    self-join.  Total shuffle cost: one shuffle on cell for the pair
    join + one combinable groupBy for the drop counts."""
    vecs = embeddings.select(
        F.col(id_col).alias("vid"),
        F.col(vec_col).alias("vec"),
        _quantize_vec(F.col(vec_col)).alias("vq"),
    )
    cents = kmeans_codebook(vecs.select("vid", "vq"), n_centroids, n_iter)
    cb = _centroid_arr(cents)
    assigned = vecs.crossJoin(F.broadcast(cb)).select(
        "vid",
        "vec",
        _nearest(F.col("cb"), F.col("vq"))["cent_id"].alias("cell"),
    )

    from .candidates import bucket_pairs

    # sig = digest of the exact vector: sig-identical rows carry identical
    # vecs, satisfying bucket_pairs' carry-determined-by-sig contract
    buckets = assigned.select(
        "vid", "cell", "vec", F.md5(F.col("vec").cast("string")).alias("sig_key")
    )
    pairs = bucket_pairs(
        buckets,
        ["cell"],
        "vid",
        sig_col="sig_key",
        max_bucket_size=max_cluster_size,
        out_a="id_a",
        out_b="id_b",
        carry_cols=["vec"],
        # each vid has exactly ONE cell, so the join cannot emit a pair
        # twice — skipping the pair-dedup avoids shuffling the carried
        # float vectors a second time
        distinct_pairs=False,
    )
    drops = (
        pairs.filter(
            cosine_bp(F.col("vec_a"), F.col("vec_b")) >= F.lit(threshold_bp)
        )
        .groupBy("id_b")
        .agg(F.count("*").alias("n_close"))
    )
    return assigned.join(
        drops, assigned["vid"] == drops["id_b"], "left"
    ).select(
        F.col("vid").alias("vec_id"),
        "cell",
        F.coalesce("n_close", F.lit(0).cast("long")).alias("n_close"),
        (F.col("n_close").isNull()).cast("int").alias("keep"),
    )


def doc_kmeans_clusters(
    docs: DataFrame,
    n_centroids: int = 8,
    n_iter: int = 2,
    dims: int = 64,
    text_col: str = "text",
) -> DataFrame:
    """End-to-end corpus clustering with no external model: text →
    signed-hashing-trick embedding (``text.hashed_embedding_entries``,
    integer bucket weights) → integer-exact Lloyd codebook → per-doc
    cell assignment.  The content-grouping primitive of curation
    pipelines (topic-balanced mixes, per-cluster sampling, SemDeDup's
    own first stage) as ONE named operator.

    Returns (doc_id, cell).  Scale shape: two combinable groupBys for
    the embedding (token explode → (doc, bucket) weights → dense
    array), then the shared kmeans shapes — broadcast codebook,
    shuffle-free assignment; the corpus never joins anything bigger
    than the 1-row codebook."""
    from .text import assemble_embedding_array, hashed_embedding_entries

    emb = assemble_embedding_array(
        hashed_embedding_entries(docs, dims, text_col), dims
    )
    vecs = emb.select(
        F.col("doc_id").alias("vid"), _quantize_vec(F.col("embedding")).alias("vq")
    )
    cents = kmeans_codebook(vecs, n_centroids, n_iter)
    cb = _centroid_arr(cents)
    return vecs.crossJoin(F.broadcast(cb)).select(
        F.col("vid").alias("doc_id"),
        _nearest(F.col("cb"), F.col("vq"))["cent_id"].alias("cell"),
    )
