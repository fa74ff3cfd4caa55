"""Unit tests for the training-data pipeline operators."""

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog and runs to the hills"),
        (2, "the quick brown fox jumps over the lazy dog and runs to the hills"),  # exact dup of 1
        (3, "the quick brown fox jumps over the lazy dog and runs to the sea"),  # near dup
        (4, "der hund ist nicht der beste freund und das ist gut"),
        (5, "el perro es el mejor amigo de los hombres que viven"),
        (6, "completely different content about spark query engines with zero overlap here"),
        (7, ""),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_duplicates(docs):
    from fetch_engines_spark.pipelines.dedup import exact_duplicates

    groups = exact_duplicates(docs).collect()
    assert len(groups) == 1
    assert groups[0].group_size == 2
    assert groups[0].keeper_doc_id == 1


def test_minhash_near_dups_share_signature(docs):
    from fetch_engines_spark.pipelines.dedup import minhash_signatures

    sigs = minhash_signatures(docs, num_hashes=4).collect()
    by_doc = {}
    for r in sigs:
        by_doc.setdefault(r.doc_id, {})[r.hash_idx] = r.minhash
    # exact dups: identical signatures
    assert by_doc[1] == by_doc[2]
    # near dups share at least one minhash (common shingles dominate)
    assert any(by_doc[1][k] == by_doc[3][k] for k in by_doc[1])
    # unrelated docs share none
    assert all(by_doc[1][k] != by_doc[6][k] for k in by_doc[1])


def test_minhash_candidate_pairs(docs):
    from fetch_engines_spark.pipelines.dedup import minhash_candidate_pairs

    pairs = {(r.doc_a, r.doc_b) for r in minhash_candidate_pairs(docs).collect()}
    assert (1, 2) in pairs
    assert (1, 6) not in pairs and (6, 1) not in pairs


def test_ngram_jaccard_values(spark, docs):
    from fetch_engines_spark.pipelines.dedup import ngram_jaccard

    pairs = spark.createDataFrame([(1, 2), (1, 6)], "doc_a long, doc_b long")
    res = {(r.doc_a, r.doc_b): r.jaccard_bp for r in ngram_jaccard(docs, pairs).collect()}
    assert res[(1, 2)] == 10000  # identical
    assert res[(1, 6)] == 0  # disjoint


def test_simhash_near_dups_close(docs):
    from fetch_engines_spark.pipelines.dedup import simhash

    sh = {r.doc_id: r.simhash for r in simhash(docs).collect()}
    assert sh[1] == sh[2]

    def hamming(a, b):
        return bin(a ^ b).count("1")

    assert hamming(sh[1], sh[3]) <= hamming(sh[1], sh[6])


def test_png_decode_roundtrips_every_filter_type():
    """Writer applies the filter; decoder must invert it — full pixel-array
    equality (not just sums) per filter type and color type."""
    import scripts.build_fixture_data as bfd

    from fetch_engines_spark.pipelines.multimodal import decode_png

    def gradient(w, h, ch, seed):
        return bytes(((x * 7 + y * 13 + c * 29 + seed * 31) % 256)
                     for y in range(h) for x in range(w) for c in range(ch))

    for ct, ch in ((0, 1), (2, 3), (4, 2), (6, 4)):
        for filt in (0, 1, 2, 3, 4):
            px = gradient(11, 7, ch, filt + ct)
            img = decode_png(bfd._png_bytes(11, 7, ct, px, [filt]))
            assert img["pixels"] == px, (ct, filt)
            assert (img["width"], img["height"], img["channels"]) == (11, 7, ch)
    # mixed per-row filters
    px = gradient(5, 10, 3, 3)
    assert decode_png(bfd._png_bytes(5, 10, 2, px, [0, 1, 2, 3, 4]))["pixels"] == px


def test_png_decode_rejects_unsupported_and_corrupt():
    import scripts.build_fixture_data as bfd

    from fetch_engines_spark.pipelines.multimodal import decode_png

    good = bfd._png_bytes(4, 4, 2, bytes(48), [0])
    with pytest.raises(ValueError):
        decode_png(b"NOTAPNG")
    with pytest.raises(ValueError):
        decode_png(good[:30])
    with pytest.raises(Exception):
        decode_png(good[:20] + b"\x00" * (len(good) - 20))  # corrupted IDAT


def test_png_decompression_bomb_bounded():
    """An IDAT inflating far past the declared raster must raise (error
    row), never allocate the full inflated payload."""
    import struct
    import zlib

    from scripts.build_fixture_data import _png_chunk

    from fetch_engines_spark.pipelines.multimodal import decode_png

    ihdr = struct.pack(">IIBBBBB", 4, 4, 8, 2, 0, 0, 0)  # declares 4x4 RGB
    bomb = zlib.compress(b"\x00" * 50_000_000, 9)  # ~48 KB compressed
    payload = (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", bomb)
        + _png_chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="inflates past|too large"):
        decode_png(payload)
    # declared-dimension bomb (huge IHDR) also rejected up front
    big = struct.pack(">IIBBBBB", 1 << 20, 1 << 20, 8, 2, 0, 0, 0)
    with pytest.raises(ValueError, match="too large"):
        decode_png(b"\x89PNG\r\n\x1a\n" + _png_chunk(b"IHDR", big) + _png_chunk(b"IDAT", b"x") + _png_chunk(b"IEND", b""))


def test_png_zero_height_bomb_rejected_before_inflate():
    """height=0 must be rejected up front: zlib's max_length=0 means
    UNLIMITED, so inflating first would re-open the bomb hole."""
    import struct
    import zlib

    from scripts.build_fixture_data import _png_chunk

    from fetch_engines_spark.pipelines.multimodal import decode_png

    ihdr = struct.pack(">IIBBBBB", 16, 0, 8, 2, 0, 0, 0)
    bomb = zlib.compress(b"\x00" * 20_000_000, 9)
    payload = (
        b"\x89PNG\r\n\x1a\n" + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", bomb) + _png_chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="degenerate"):
        decode_png(payload)


def test_pdf_word_suffix_stream_does_not_swallow_objects():
    """An object body containing the word 'downstream' (no real stream)
    must not swallow subsequent objects in the scan."""
    from fetch_engines_spark.pdf import _objects

    data = (
        b"%PDF-1.4\n"
        b"1 0 obj\n<< /Type /Catalog /Pages 2 0 R /Note (the downstream\npath) >>\nendobj\n"
        b"2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\nendobj\n"
        b"3 0 obj\n<< /Type /Page /Contents 4 0 R >>\nendobj\n"
        b"4 0 obj\n<< /Length 20 >>\nstream\nBT (x) Tj ET\nendstream\nendobj\n"
    )
    objs = _objects(data)
    assert set(objs) == {1, 2, 3, 4}
    assert b"/Kids" in objs[2]


        # IndexError or anything else propagates and fails the test


def test_png_pixel_stats_stage_never_fails(spark):
    """Every decodable PNG fixture decodes to its expected pixel sum; an
    undecodable one raises ValueError and becomes an ERR_IMG row in the
    fused decode+dHash stage, never a stage failure."""
    import os

    from fetch_engines_spark.pipelines.multimodal import decode_png, image_dhash

    path = os.path.join(os.path.dirname(__file__), "..", "data", "fixtures", "pngs.parquet")
    pngs = spark.read.parquet(path)
    exp = pngs.select("media_id", "payload", "exp_pixel_sum").collect()
    assert len(exp) == 12  # incl. the two Adam7 interlaced rows
    for e in exp:
        if e.exp_pixel_sum is None:
            with pytest.raises(ValueError):
                decode_png(bytes(e.payload))
        else:
            assert sum(decode_png(bytes(e.payload))["pixels"]) == e.exp_pixel_sum, e.media_id
    rows = {r.media_id: r for r in image_dhash(pngs).collect()}
    assert len(rows) == 12
    assert rows["png-truncated"].error and rows["png-truncated"].error.startswith("ERR_IMG")


def test_planted_neardup_recall(spark):
    """The committed planted corpus: LSH must find every exact pair and
    most near pairs; jaccard verification separates them from noise."""
    from fetch_engines_spark.pipelines.dedup import minhash_candidate_pairs, ngram_jaccard

    docs = spark.read.parquet("data/fixtures/neardup.parquet")
    pairs = minhash_candidate_pairs(docs, num_hashes=6, band_size=1)
    found = {(r.doc_a, r.doc_b) for r in pairs.collect()}
    exact_expected = {(f"base{i:02d}", f"copy{i:02d}") for i in range(30)}
    assert exact_expected <= found  # 100% recall on exact dups
    near_found = sum(
        1 for i in range(30) if (f"base{i:02d}", f"near{i:02d}") in found
    )
    assert near_found >= 27  # >=90% recall on near dups at 6x1 banding

    # verification stage: jaccard ranks planted pairs above noise
    verified = ngram_jaccard(docs, pairs)
    jac = {(r.doc_a, r.doc_b): r.jaccard_bp for r in verified.collect()}
    assert all(jac[p] == 10000 for p in exact_expected)
    keep = {p for p, j in jac.items() if j >= 5000}
    assert exact_expected <= keep
    assert all(a[:4] == "base" or b[:4] in ("copy", "near") or True for a, b in keep)
    # noise pairs (uniq/far) don't survive the 0.5 jaccard bar
    assert not any(a.startswith("uniq") or b.startswith("uniq") for a, b in keep)


def test_connected_components_nonconvergence_detected(spark):
    """A chain of diameter > max_iter must not silently over-split:
    strict mode raises, non-strict warns and returns truncated labels."""
    import warnings

    import pytest

    from fetch_engines_spark.pipelines.dedup import connected_components

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], ["doc_a", "doc_b"]
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(chain, max_iter=3)

    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        out = connected_components(chain, max_iter=3, strict=False)
        rows = out.collect()
    assert any("TRUNCATED" in str(x.message) for x in w)
    assert len(rows) == 13

    # raising max_iter past the diameter converges to the exact answer
    ok = connected_components(chain, max_iter=20)
    labels = {r.doc_id: r.component for r in ok.collect()}
    assert set(labels.values()) == {0}


def test_decontaminate_flags_planted_leak(spark):
    """A benchmark item quoted verbatim from one training doc must flag
    that doc (and only it); overlap below the window length must not."""
    from fetch_engines_spark.pipelines.dedup import decontaminate

    leak = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = spark.createDataFrame(
        [
            (1, f"prefix words here {leak} suffix words here"),
            (2, "totally unrelated content with many distinct words inside"),
            (3, "alpha beta gamma short overlap only three words shared"),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame([(100, leak)], "doc_id long, text string")
    got = {r.doc_id: r for r in decontaminate(docs, bench, n=8).collect()}
    assert got[1].is_contaminated and got[1].n_contaminated == 3  # 10-word leak → 3 8-windows
    assert not got[2].is_contaminated
    assert not got[3].is_contaminated  # 3-word overlap < window length
    assert 0 < got[1].contamination_bp <= 10000


def test_simhash64_pigeonhole_recall_is_exact(spark):
    """64-bit/16-bit-block config: the block join must contain EVERY pair
    within max_hamming across both halves (pigeonhole over 4 blocks),
    verified against brute-force hamming, zero false positives."""
    from itertools import combinations

    from fetch_engines_spark.pipelines.dedup import (
        simhash64,
        simhash_candidate_pairs64,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    sigs = {r.doc_id: (r.sim_lo, r.sim_hi) for r in simhash64(docs).collect()}
    assert all(0 <= lo < 2**32 and 0 <= hi < 2**32 for lo, hi in sigs.values())

    def ham(a, b):
        return bin(a[0] ^ b[0]).count("1") + bin(a[1] ^ b[1]).count("1")

    truth = {
        (a, b)
        for a, b in combinations(sorted(sigs), 2)
        if ham(sigs[a], sigs[b]) <= 3
    }
    got = {
        (r.doc_a, r.doc_b)
        for r in simhash_candidate_pairs64(docs, max_hamming=3).collect()
    }
    assert got == truth and truth


def test_simhash_vectorized_matches_expr(spark):
    """The Arrow-vectorized signature fast path (round 6) must equal the
    JVM expression reference bit-for-bit on adversarial text: empty
    strings, runs of spaces (empty tokens), unicode, single tokens,
    heavy repetition, and exact vote ties (2·ones == n must NOT set the
    bit).  NULL text yields no row on either path."""
    from fetch_engines_spark.pipelines.dedup import (
        simhash,
        simhash64,
        simhash64_vectorized,
        simhash_vectorized,
    )

    rows = [
        (1, "order agg batch key spark part hash"),
        (2, ""),
        (3, "   "),
        (4, "solo"),
        (5, "a a a a b"),
        (6, "naïve café 汉字 emoji🙂 mix"),
        (7, None),
        (8, "x y " * 500),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    ref = {r.doc_id: r.simhash for r in simhash(docs, bits=32).collect()}
    fast = {r.doc_id: r.simhash for r in simhash_vectorized(docs, bits=32).collect()}
    assert fast == ref and 7 not in fast
    ref64 = {r.doc_id: (r.sim_lo, r.sim_hi) for r in simhash64(docs).collect()}
    fast64 = {
        r.doc_id: (r.sim_lo, r.sim_hi) for r in simhash64_vectorized(docs).collect()
    }
    assert fast64 == ref64 and 7 not in fast64
    # and on real corpus text
    corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    assert (
        simhash_vectorized(corpus, bits=32)
        .exceptAll(simhash(corpus, bits=32))
        .count()
        == 0
    )
    assert simhash64_vectorized(corpus).exceptAll(simhash64(corpus)).count() == 0


def test_simhash_pairs_exactly_once_no_distinct(spark):
    """Round-6 rewrite: the uncapped 64-bit pair path emits each
    qualifying pair EXACTLY ONCE by construction (minimal shared block
    filters + triangle-partitioned big buckets) instead of relying on a
    distinct() shuffle.  Multiplicity — not just the set — must match
    brute force, on a corpus that exercises every branch: byte-identical
    clusters (oversized buckets) plus near-identical singletons (cross-sig
    pairs found in multiple blocks)."""
    from collections import Counter
    from itertools import combinations

    from pyspark.sql import functions as F

    from fetch_engines_spark.pipelines.dedup import (
        simhash64,
        simhash_candidate_pairs64,
    )

    base = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    # 3 byte-identical replicas per doc (forces same-sig groups and, with
    # a tiny big_bucket via the shared path defaults, shared hot buckets)
    rep = spark.range(3).select(F.col("id").alias("rep"))
    docs = base.crossJoin(rep).select(
        (F.col("doc_id") * 10 + F.col("rep")).alias("doc_id"), "text"
    )

    s64 = {r.doc_id: (r.sim_lo, r.sim_hi) for r in simhash64(docs).collect()}

    def ham(a, b):
        return bin(a[0] ^ b[0]).count("1") + bin(a[1] ^ b[1]).count("1")

    truth64 = Counter(
        (a, b)
        for a, b in combinations(sorted(s64), 2)
        if ham(s64[a], s64[b]) <= 3
    )
    got64 = Counter(
        (r.doc_a, r.doc_b)
        for r in simhash_candidate_pairs64(docs, max_hamming=3).collect()
    )
    assert got64 == truth64 and truth64
    assert max(got64.values()) == 1


def test_simhash64_pairs_reject_duplicate_or_null_doc_id(spark):
    """Pair generation keys on doc_id: a repeated id would pair a document
    with itself or emit a pair twice, and a null id drops out of the join.
    Both paths (uncapped and capped) fail fast with a ValueError."""
    from fetch_engines_spark.pipelines.dedup import simhash_candidate_pairs64

    schema = "doc_id long, text string"
    dup = spark.createDataFrame([(1, "a b c"), (1, "a b d"), (2, "x y z")], schema)
    nul = spark.createDataFrame([(None, "a b c"), (2, "x y z")], schema)
    for cap in (None, 50):
        with pytest.raises(ValueError, match="duplicate doc_id"):
            simhash_candidate_pairs64(dup, max_bucket_size=cap)
        with pytest.raises(ValueError, match="null doc_id"):
            simhash_candidate_pairs64(nul, max_bucket_size=cap)
    ok = spark.createDataFrame([(1, "a b c"), (2, "a b c")], schema)
    assert [(r.doc_a, r.doc_b) for r in simhash_candidate_pairs64(ok).collect()] == [(1, 2)]


def test_salted_self_pairs_big_bucket_triangle_exactly_once(spark):
    """Buckets over ``big_bucket`` rows take the triangle-partitioned
    self-join: each row is replicated to its G group-pair tasks and the
    task==group-pair filter must keep every in-bucket (id_a < id_b) pair
    exactly once, same-group and cross-group alike.  A cluster of 40
    identical docs (one shared key per block) against big_bucket=5, beside
    small buckets that stay on the plain path, against brute force."""
    from collections import Counter
    from itertools import combinations

    from fetch_engines_spark.pipelines.dedup import _salted_self_pairs

    big_bucket = 5
    rows = [(d, b, 7, 99) for d in range(40) for b in range(2)]
    rows += [(100 + d, b, d // 3, 1000 + d) for d in range(9) for b in range(2)]
    stacked = spark.createDataFrame(rows, "doc_id long, block_id int, block_val long, sig long")
    sig = {d: s for d, _, _, s in rows}

    buckets: dict = {}
    for d, b, v, _ in rows:
        buckets.setdefault((b, v), []).append(d)
    sizes = [len(ids) for ids in buckets.values()]
    assert max(sizes) > big_bucket >= min(sizes)  # both branches run
    truth = Counter(
        (b, a, c)
        for (b, _), ids in buckets.items()
        for a, c in combinations(sorted(ids), 2)
    )

    out = _salted_self_pairs(
        stacked,
        key_cols=["block_id", "block_val"],
        id_col="doc_id",
        carry=["sig"],
        keep_cols=["block_id"],
        out_a="doc_a",
        out_b="doc_b",
        big_bucket=big_bucket,
    ).collect()
    got = Counter((r.block_id, r.doc_a, r.doc_b) for r in out)
    assert got == truth
    assert max(got.values()) == 1
    assert all(r.sig_a == sig[r.doc_a] and r.sig_b == sig[r.doc_b] for r in out)


def test_simhash_capped_no_quadratic_bucket(spark):
    """Degenerate-bucket guard on the SimHash path (round-3 verdict's one
    scale defect): 5000 byte-identical docs share every block value, so
    uncapped the self-join is C(5000,2)=12.5M pairs on one key; capped,
    the signature-star path must emit exactly 4999 linear pairs."""
    import os

    from fetch_engines_spark.pipelines.dedup import simhash_candidate_pairs64

    path = os.path.join(
        os.path.dirname(__file__), "..", "data", "fixtures", "adversarial.parquet"
    )
    docs = spark.read.parquet(path)
    rows = simhash_candidate_pairs64(docs, max_hamming=3, max_bucket_size=50).collect()
    boiler = [
        r
        for r in rows
        if r.doc_a.startswith("boiler") and r.doc_b.startswith("boiler")
    ]
    assert len(boiler) == 4999, f"{len(boiler)} boiler pairs — quadratic bucket leaked"
    assert all(r.hamming == 0 for r in boiler)
    assert len(rows) < 6000  # distinct-page stragglers stay small-bucket


def test_bucket_pairs_capped_equals_uncapped_below_cap(spark):
    """Shared-guard equivalence: with every bucket under the cap, the
    capped path must reproduce the uncapped pair set exactly (both
    MinHash bands and SimHash blocks route through
    candidates.bucket_pairs)."""
    import os

    from fetch_engines_spark.pipelines.dedup import (
        minhash_candidate_pairs,
        simhash_candidate_pairs64,
    )

    path = os.path.join(
        os.path.dirname(__file__), "..", "data", "fixtures", "neardup.parquet"
    )
    docs = spark.read.parquet(path)
    mh_uncapped = {
        (r.doc_a, r.doc_b) for r in minhash_candidate_pairs(docs).collect()
    }
    mh_capped = {
        (r.doc_a, r.doc_b)
        for r in minhash_candidate_pairs(docs, max_bucket_size=10**6).collect()
    }
    assert mh_capped == mh_uncapped and mh_uncapped
    sh_uncapped = {
        (r.doc_a, r.doc_b)
        for r in simhash_candidate_pairs64(docs, max_hamming=3).collect()
    }
    sh_capped = {
        (r.doc_a, r.doc_b)
        for r in simhash_candidate_pairs64(
            docs, max_hamming=3, max_bucket_size=10**6
        ).collect()
    }
    assert sh_capped == sh_uncapped


def test_bucket_pairs_cap_requires_sig_col():
    """The shared guard refuses a cap without the signature column the
    star path needs — a new bucketed generator can't half-adopt it."""
    import pytest as _pytest

    from fetch_engines_spark.pipelines.candidates import bucket_pairs

    with _pytest.raises(ValueError, match="sig_col"):
        bucket_pairs(None, ["k"], "id", sig_col=None, max_bucket_size=5)


def test_star_cc_handles_chains_plain_cc_cannot(spark):
    """Large-star/small-star contraction: a diameter-120 chain converges
    in O(log n) rounds where plain propagation raises at max_iter=25; on
    clique-ish graphs both algorithms agree exactly."""
    from fetch_engines_spark.pipelines.dedup import (
        connected_components,
        connected_components_star,
    )

    chain = spark.createDataFrame([(i, i + 1) for i in range(120)], ["doc_a", "doc_b"])
    with pytest.raises(RuntimeError):
        connected_components(chain, max_iter=25)
    star = {r.doc_id: r.component for r in connected_components_star(chain).collect()}
    assert set(star.values()) == {0} and len(star) == 121

    pairs = []
    for c in range(6):  # cliques
        ids = [1000 + c * 20 + i for i in range(5)]
        pairs += [(a, b) for a in ids for b in ids if a < b]
    for c in range(3):  # short chains
        base = 2000 + c * 30
        pairs += [(base + i, base + i + 1) for i in range(8)]
    df = spark.createDataFrame(pairs, ["doc_a", "doc_b"])
    plain = {r.doc_id: r.component for r in connected_components(df, max_iter=50).collect()}
    starr = {r.doc_id: r.component for r in connected_components_star(df).collect()}
    assert plain == starr


def test_capped_candidate_pairs_skew_guard(spark):
    """Degenerate-bucket guard: 5000 identical docs must yield a LINEAR
    star-pair set (n-1 pairs to the group rep), and the pairwise join's
    input must contain no bucket larger than the cap — bounding any task's
    pairwise work to cap^2 regardless of data skew."""
    import os

    from pyspark.sql import functions as F

    from fetch_engines_spark.pipelines.dedup import (
        minhash_candidate_pairs,
        minhash_lsh_buckets,
    )

    path = os.path.join(
        os.path.dirname(__file__), "..", "data", "fixtures", "adversarial.parquet"
    )
    docs = spark.read.parquet(path)
    cap = 50

    pairs = minhash_candidate_pairs(
        docs, num_hashes=4, band_size=2, max_bucket_size=cap
    ).cache()
    boiler = pairs.filter(F.col("doc_b").startswith("boiler"))
    # linear, not quadratic: every boiler doc pairs once with the rep
    assert boiler.count() == 4999
    assert boiler.select("doc_a").distinct().collect()[0][0] == "boiler0000"

    # structural bound: after the cap filter, no bucket entering the
    # pairwise self-join exceeds the cap
    b = minhash_lsh_buckets(docs, num_hashes=4, band_size=2)
    sizes = b.groupBy("band_id", "band_key").count()
    max_small = (
        sizes.filter(F.col("count") <= cap).agg(F.max("count")).collect()[0][0]
    )
    assert max_small is not None and max_small <= cap
    # and the giant bucket exists (the fixture is genuinely adversarial)
    assert sizes.agg(F.max("count")).collect()[0][0] >= 5000
    pairs.unpersist()


def test_capped_matches_uncapped_when_no_giant_buckets(spark, docs):
    """With a cap larger than every bucket, the capped path must emit
    exactly the uncapped pairwise candidates (pure refactor parity)."""
    from fetch_engines_spark.pipelines.dedup import minhash_candidate_pairs

    base = {
        (r.doc_a, r.doc_b)
        for r in minhash_candidate_pairs(docs, num_hashes=4, band_size=2).collect()
    }
    capped = {
        (r.doc_a, r.doc_b)
        for r in minhash_candidate_pairs(
            docs, num_hashes=4, band_size=2, max_bucket_size=10**6
        ).collect()
    }
    assert base == capped


def test_minhash_production_recall(spark):
    """Recall gate at production parameters (128 perms / 16 bands of 8,
    affine fast path) on the high-similarity planted corpus: all exact
    dups and >=95% of the jaccard~0.88 near dups must become candidates."""
    import os

    from pyspark.sql import functions as F

    from fetch_engines_spark.pipelines.dedup import minhash_candidate_pairs_fast

    path = os.path.join(
        os.path.dirname(__file__), "..", "data", "fixtures", "neardup_hi.parquet"
    )
    docs = spark.read.parquet(path)
    pairs = {
        (r.doc_a, r.doc_b)
        for r in minhash_candidate_pairs_fast(docs, num_hashes=128, band_size=8).collect()
    }
    exact_found = sum(1 for i in range(30) if (f"base{i:02d}", f"copy{i:02d}") in pairs)
    near_found = sum(
        1
        for i in range(30)
        if (f"base{i:02d}", f"near{i:02d}") in pairs or (f"copy{i:02d}", f"near{i:02d}") in pairs
    )
    assert exact_found == 30
    assert near_found >= 29  # >=95% of 30 families
    # unrelated docs must not flood the candidate set (precision sanity)
    uniq_pairs = [p for p in pairs if p[0].startswith("uniq") and p[1].startswith("uniq")]
    assert len(uniq_pairs) <= 5


def test_fast_affine_minhash_matches_brute_python(spark):
    """The affine fast path is a real MinHash: its jaccard estimate over a
    known pair must land near the true jaccard (sanity that the affine
    permutations behave like permutations, not a fixed hash)."""
    from pyspark.sql import functions as F

    from fetch_engines_spark.pipelines.dedup import _minhash_fast_wide

    a = "the quick brown fox jumps over the lazy dog again and again " * 4
    b = a.replace("lazy", "sleepy")
    docs = spark.createDataFrame([("a", a.strip()), ("b", b.strip())], "doc_id string, text string")
    wide = _minhash_fast_wide(docs, "text", 128).collect()
    sig = {r.doc_id: [r[f"mh{i}"] for i in range(128)] for r in wide}
    est = sum(1 for x, y in zip(sig["a"], sig["b"]) if x == y) / 128
    # true 3-shingle jaccard of the two texts
    def sh(t):
        w = t.split()
        return {" ".join(w[i : i + 3]) for i in range(len(w) - 2)}
    sa, sb = sh(a.strip()), sh(b.strip())
    true_j = len(sa & sb) / len(sa | sb)
    assert abs(est - true_j) < 0.15, (est, true_j)


def test_connected_components_chain_and_clique(spark):
    from fetch_engines_spark.pipelines.dedup import connected_components

    # chain a-b-c-d (diameter 3, needs >1 propagation round) + clique x,y,z
    pairs = spark.createDataFrame(
        [("b", "a"), ("b", "c"), ("c", "d"), ("x", "y"), ("y", "z"), ("x", "z")],
        "doc_a string, doc_b string",
    )
    out = {r.doc_id: (r.component, r.is_keeper) for r in connected_components(pairs).collect()}
    assert {out[n][0] for n in "abcd"} == {"a"}
    assert {out[n][0] for n in "xyz"} == {"x"}
    keepers = {n for n, (_, k) in out.items() if k}
    assert keepers == {"a", "x"}


def test_ngram_containment_catches_quote_duplication(spark):
    """A short doc fully quoted inside a long host: Jaccard dilutes to
    ~|A|/|B| while containment reads ~10000 — the asymmetric-dup signal."""
    from fetch_engines_spark.pipelines.dedup import ngram_containment, ngram_jaccard

    short = " ".join(f"tok{i}" for i in range(30))
    host = short + " " + " ".join(f"pad{i}" for i in range(300))
    docs = spark.createDataFrame(
        [(1, short), (2, host)], "doc_id long, text string"
    )
    pairs = spark.createDataFrame([(1, 2)], "doc_a long, doc_b long")
    cont = ngram_containment(docs, pairs).collect()[0].containment_bp
    jac = ngram_jaccard(docs, pairs).collect()[0].jaccard_bp
    assert cont == 10000  # every shingle of the quote appears in the host
    assert jac < 2000  # Jaccard can't see it


def test_incremental_dedup_equals_full_corpus_restricted(spark):
    """Incremental candidates (new increment vs persisted index + within
    the increment) must equal the FULL-corpus candidate set restricted
    to pairs touching a new doc — re-running dedup over the historical
    corpus buys nothing the index join doesn't already find."""
    from fetch_engines_spark.pipelines.dedup import (
        incremental_candidate_pairs,
        minhash_candidate_pairs,
        minhash_index,
    )

    docs = spark.read.parquet("data/fixtures/neardup.parquet")
    old = docs.filter(F.substring("doc_id", 1, 4) != "copy")
    new = docs.filter(F.substring("doc_id", 1, 4) == "copy")
    old_ids = {r.doc_id for r in old.select("doc_id").collect()}

    inc = incremental_candidate_pairs(new, minhash_index(old))
    got = {frozenset((r.doc_a, r.doc_b)) for r in inc.collect()}

    full = minhash_candidate_pairs(docs)
    want = {
        frozenset((r.doc_a, r.doc_b))
        for r in full.collect()
        if r.doc_a not in old_ids or r.doc_b not in old_ids
    }
    assert got == want and want  # 30 planted copies guarantee non-trivial


def test_incremental_dedup_cross_cap_bounds_hot_bucket(spark):
    """The cross-side guard, signature-IDENTICAL pathology: 5000
    identical indexed docs x 100 identical new docs share every band
    bucket; an oversized bucket emits only one sig-matched rep pair
    plus one bucket-rep pair per band — a handful of pairs, not the
    500k of the raw cross join."""
    from fetch_engines_spark.pipelines.dedup import (
        incremental_candidate_pairs,
        minhash_index,
    )

    docs = spark.read.parquet("data/fixtures/adversarial.parquet")
    old = docs.filter(F.col("doc_id").startswith("boiler"))
    new = old.limit(100).withColumn(
        "doc_id", F.concat(F.lit("new-"), F.col("doc_id"))
    )
    pairs = incremental_candidate_pairs(
        new, minhash_index(old), max_bucket_size=50
    )
    n = pairs.filter("vs_index").count()
    assert 0 < n <= 10, n  # ≤ (1 sig pair + 1 rep pair) per band


def test_cross_bucket_pairs_sig_diverse_hot_bucket_stays_linear(spark):
    """The cross-side guard, signature-DIVERSE pathology (the harder
    case): 300 indexed + 300 new docs share ONE bucket but every doc
    has a UNIQUE signature — per-sig rep retention would keep all 600
    reps and the join would be 300x300=90k pairs; the strict guard must
    emit only the sig-matched pairs (none here) plus one bucket-rep
    pair.  Small buckets elsewhere must still cross-join fully."""
    from fetch_engines_spark.pipelines.candidates import cross_bucket_pairs

    left = spark.createDataFrame(
        [(f"old{i:03d}", 0, "hot", f"lsig{i}") for i in range(300)]
        + [(f"old-s{i}", 1, "cold", f"csig{i}") for i in range(3)],
        "doc_id string, band_id long, band_key string, sig_key string",
    )
    right = spark.createDataFrame(
        [(f"new{i:03d}", 0, "hot", f"rsig{i}") for i in range(300)]
        + [(f"new-s{i}", 1, "cold", f"dsig{i}") for i in range(2)],
        "doc_id string, band_id long, band_key string, sig_key string",
    )
    pairs = cross_bucket_pairs(
        left, right, ["band_id", "band_key"], "doc_id",
        sig_col="sig_key", max_bucket_size=50,
        out_a="doc_a", out_b="doc_b",
    ).collect()
    hot = [r for r in pairs if r.doc_a.startswith("old0") or r.doc_a == "old000"]
    hot = [r for r in pairs if not r.doc_a.startswith("old-s")]
    assert len(hot) == 1  # ONE bucket-rep pair, not 90,000
    assert (hot[0].doc_a, hot[0].doc_b) == ("old000", "new000")
    cold = [r for r in pairs if r.doc_a.startswith("old-s")]
    assert len(cold) == 6  # 3 x 2 full cross join below the cap


def test_fuzzy_decontamination_catches_edited_leakage(spark):
    """A benchmark item leaked with a junk token inserted every 6 words:
    no 8-word window survives, so EXACT decontamination sees nothing —
    fuzzy (MinHash bands + Jaccard) must still flag the source."""
    from fetch_engines_spark.pipelines.dedup import decontaminate, decontaminate_fuzzy

    base_words = [f"w{i}" for i in range(60)]
    bench_text = " ".join(base_words)
    edited = []
    for i, w in enumerate(base_words):
        edited.append(w)
        if i % 6 == 5:
            edited.append(f"x{i}")
    docs = spark.createDataFrame(
        [(1, " ".join(edited)), (2, "entirely unrelated text about nothing at all here")],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame([(100, bench_text)], "doc_id long, text string")
    exact = decontaminate(docs, bench, n=8).filter("is_contaminated").count()
    assert exact == 0  # every 8-word window is broken by the inserts
    fuzzy = decontaminate_fuzzy(
        docs, bench, num_hashes=6, band_size=1, threshold_bp=3000
    ).collect()
    assert [(r.doc_id, r.bench_id) for r in fuzzy] == [(1, 100)]
    assert fuzzy[0].jaccard_bp >= 3000


def test_fuzzy_decontamination_string_ids_and_tiebreak(spark):
    """String doc/bench ids must work end-to-end (the previous best-match
    negated bench_id, which CAST-fails on strings), and the tiebreak at
    equal jaccard must pick the LOWEST bench_id — matching the DuckDB
    twin's ORDER BY jaccard_bp DESC, bench_id ASC."""
    from fetch_engines_spark.pipelines.dedup import decontaminate_fuzzy

    text = " ".join(f"w{i}" for i in range(40))
    docs = spark.createDataFrame(
        [("doc-a", text), ("doc-b", "totally different content on another topic")],
        "doc_id string, text string",
    )
    # two benchmark items with IDENTICAL text -> identical jaccard tie
    bench = spark.createDataFrame(
        [("bench-z", text), ("bench-a", text)], "doc_id string, text string"
    )
    out = decontaminate_fuzzy(
        docs, bench, num_hashes=6, band_size=1, threshold_bp=5000
    ).collect()
    assert [(r.doc_id, r.bench_id) for r in out] == [("doc-a", "bench-a")]
    assert out[0].jaccard_bp == 10000


def test_fuzzy_decontamination_production_recall(spark):
    """Recall gate at PRODUCTION parameters (128 perms / 16 bands of 8 —
    banded similarity threshold ~(1/16)^(1/8) ≈ 0.71, tuned for ≥0.8
    jaccard leaks), mirroring test_minhash_production_recall: 30 bench
    items leaked with a word replaced every 40 words (true 3-shingle
    jaccard ≈ 0.86) must be flagged with the right bench_id ≥ 95% of the
    time, and unrelated docs must not be flagged at all.  The driver
    query (`decontaminate_fuzzy`) runs DEMO parameters (4 hashes /
    band 2) for oracle replay; this gate is the production evidence."""
    import random

    from fetch_engines_spark.pipelines.dedup import decontaminate_fuzzy

    rng = random.Random(42)
    bench_rows, doc_rows = [], []
    for i in range(30):
        vocab = [f"b{i}w{j}" for j in range(400)]
        words = [vocab[rng.randrange(400)] for _ in range(200)]
        bench_rows.append((f"bench{i:02d}", " ".join(words)))
        leaked = list(words)
        for p in range(20, 200, 40):  # 5 replacements -> J ~ 0.86
            leaked[p] = f"junk{i}x{p}"
        doc_rows.append((f"leak{i:02d}", " ".join(leaked)))
    for i in range(30):
        words = [f"u{i}w{rng.randrange(400)}" for _ in range(200)]
        doc_rows.append((f"uniq{i:02d}", " ".join(words)))
    docs = spark.createDataFrame(doc_rows, "doc_id string, text string")
    bench = spark.createDataFrame(bench_rows, "doc_id string, text string")
    out = decontaminate_fuzzy(
        docs, bench, num_hashes=128, band_size=8, threshold_bp=7000
    ).collect()
    flagged = {r.doc_id: r.bench_id for r in out}
    hits = sum(
        1 for i in range(30) if flagged.get(f"leak{i:02d}") == f"bench{i:02d}"
    )
    assert hits >= 29, hits  # >=95% recall of edited leaks
    assert not any(d.startswith("uniq") for d in flagged), flagged


def test_compacted_index_equals_monolithic(spark):
    """Index-lifecycle gate: compacting 3 per-increment LSH indexes must
    (a) equal the monolithic index built from the full history in one
    shot, row for row — a byte-identical re-crawl collapses to one row
    set — and (b) answer an incremental query identically; a re-crawl
    with CHANGED text raises under strict, and mismatched banding
    metadata always raises."""
    import pytest as _pytest

    from pyspark.sql import functions as F

    from fetch_engines_spark.pipelines.dedup import (
        compact_minhash_indexes,
        incremental_candidate_pairs,
        minhash_index,
    )

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = [
        (f"d{i:02d}", f"{base} doc {i} " + " ".join(f"t{i}w{j}" for j in range(10)))
        for i in range(30)
    ]

    def mk(rows):
        return spark.createDataFrame(rows, "doc_id string, text string")

    # history split into 3 increments; d05 re-crawled byte-identically in inc2
    incs = [docs[:10], docs[10:20] + [docs[5]], docs[20:]]
    idxs = [minhash_index(mk(r), num_hashes=8, band_size=2) for r in incs]
    compacted = compact_minhash_indexes(idxs)
    mono = minhash_index(mk(docs), num_hashes=8, band_size=2)
    assert sorted(map(tuple, compacted.collect())) == sorted(map(tuple, mono.collect()))

    new = mk([("n0", docs[3][1]), ("n1", " ".join(f"fresh{j}" for j in range(25)))])
    def q(index):
        return {
            (r.doc_a, r.doc_b, r.vs_index)
            for r in incremental_candidate_pairs(
                new, index, num_hashes=8, band_size=2
            ).collect()
        }
    got = q(compacted)
    assert got == q(mono)
    assert ("d03", "n0", True) in got  # exact re-crawl must collide

    # strict: a re-crawl with different text raises instead of silently
    # keeping two signatures for one doc_id
    changed = minhash_index(
        mk([("d05", " ".join(f"rewritten{j}" for j in range(20)))]),
        num_hashes=8, band_size=2,
    )
    with _pytest.raises(ValueError, match="conflicting signatures"):
        compact_minhash_indexes([idxs[0], changed])
    # ...unless strict=False, which keeps every historical signature
    loose = compact_minhash_indexes([idxs[0], changed], strict=False)
    assert loose.filter("doc_id = 'd05'").count() > idxs[0].filter("doc_id = 'd05'").count()

    # mismatched banding metadata: no shared collision space -> raise
    a = idxs[0].withColumn("mh_perms", F.lit(8)).withColumn("mh_band_size", F.lit(2))
    b = idxs[2].withColumn("mh_perms", F.lit(128)).withColumn("mh_band_size", F.lit(8))
    with _pytest.raises(ValueError, match="banding parameter"):
        compact_minhash_indexes([a, b])


def test_warc_ingest_end_to_end_extraction(spark):
    """WARC → documents → extraction: the HTML 200 response in the
    fixture archive must flow through warc_html_documents into
    extract_spans and come out as clean markdown (main kept, nav
    stripped); the 404 and non-HTML responses must be filtered out.
    Malformed WARC files become error rows, never stage failures."""
    import os

    from fetch_engines_spark.extract import extract_spans
    from fetch_engines_spark.warc import read_warc, warc_html_documents

    fx = os.path.join(os.path.dirname(__file__), "..", "data", "fixtures")
    w = read_warc(spark, os.path.join(fx, "warc", "sample.warc.gz"))
    rows = w.collect()
    assert sum(1 for r in rows if r.error) == 0
    assert {r.warc_type for r in rows} == {"warcinfo", "request", "response"}

    docs = warc_html_documents(w)
    got = {r.doc_id: r for r in docs.collect()}
    # the TWO 200 text/html responses (404 html + txt + png excluded)
    assert set(got) == {"<urn:uuid:resp-1>", "<urn:uuid:resp-5>"}
    ext = {r.doc_id: r for r in extract_spans(docs, num_partitions=2, keep_markdown=True).collect()}
    assert all(r.error is None for r in ext.values())
    assert "Hello WARC" in ext["<urn:uuid:resp-1>"].markdown
    assert "skip me" not in ext["<urn:uuid:resp-1>"].markdown
    # charset honored: the latin-1 0xE9 byte decodes as é, not U+FFFD
    assert "Caf\u00e9 corner" in ext["<urn:uuid:resp-5>"].markdown
    assert "r\u00e9sum\u00e9" in ext["<urn:uuid:resp-5>"].markdown
    assert "\ufffd" not in ext["<urn:uuid:resp-5>"].markdown

    # plain (non-gzip) variant parses identically
    wp = read_warc(spark, os.path.join(fx, "warc", "sample-plain.warc"))
    assert sorted(r.record_id for r in wp.collect()) == sorted(
        r.record_id for r in rows
    )

    # corrupt files -> one error row each
    bad = read_warc(spark, os.path.join(fx, "warc_bad")).collect()
    assert len(bad) == 2 and all(r.error and r.error.startswith("ERR_WARC") for r in bad)


# --- image dHash near-duplicate detection -----------------------------------


def _fixture_path(name: str) -> str:
    import os

    return os.path.join(
        os.path.dirname(__file__), "..", "data", "fixtures", f"{name}.parquet"
    )


def test_dhash64_unit_properties():
    """Pure function sanity: uniform raster → all-zero hash regardless of
    level (every adjacent-sample comparison ties, > is strict); a strict
    left-to-right luminance ramp → all-ones hash; block split recombines
    to the full value."""
    from fetch_engines_spark.pipelines.multimodal import dhash64

    for level in (0, 128, 255):
        hex16, b0, b1, b2, b3 = dhash64(bytes([level]) * (9 * 8 * 3), 9, 8, 3)
        assert hex16 == "0" * 16 and (b0, b1, b2, b3) == (0, 0, 0, 0)
    ramp = bytes(b for x in range(9) for b in (x * 28,) * 3) * 8
    hex16, b0, b1, b2, b3 = dhash64(ramp, 9, 8, 3)
    assert hex16 == "f" * 16
    assert ((b0 << 48) | (b1 << 32) | (b2 << 16) | b3) == int(hex16, 16)


def test_image_dhash_matches_independent_twin(spark):
    """Fused decode+dHash over both image fixture corpora (PNG every
    filter type + Adam7, and the near-dup corpus) must reproduce the
    generator's plain-Python dHash of the raw pre-encode pixels
    bit-for-bit; undecodable rows → NULL hash + error."""
    from fetch_engines_spark.pipelines.multimodal import image_dhash

    df = spark.read.parquet(_fixture_path("pngs"), _fixture_path("images_neardup"))
    got = {r.media_id: r for r in image_dhash(df).collect()}
    checked = 0
    for e in df.select(
        "media_id", "exp_dhash_hex", "exp_b0", "exp_b1", "exp_b2", "exp_b3"
    ).collect():
        g = got[e.media_id]
        assert g.dhash_hex == e.exp_dhash_hex, e.media_id
        assert (g.b0, g.b1, g.b2, g.b3) == (
            e.exp_b0, e.exp_b1, e.exp_b2, e.exp_b3
        ), e.media_id
        if e.exp_dhash_hex is None:
            assert g.error is not None and g.error.startswith("ERR_IMG")
        else:
            assert g.error is None
            checked += 1
    assert checked >= 30  # decodable rows actually exercised


def test_dhash_near_dup_pairs_exact_recall(spark):
    """Banded pair generation must equal the brute-force hamming<=3 set
    (pigeonhole: 4x16-bit blocks give exact recall at the default
    threshold).  The fixture plants exact copies (hamming 0 with
    different payload bytes), local-edit near-dups, far-apart noise, and
    a 7-image uniform 'blank thumbnail' cluster."""
    from fetch_engines_spark.pipelines.multimodal import (
        dhash_near_dup_pairs,
        image_dhash,
    )

    nd = spark.read.parquet(_fixture_path("images_neardup"))
    exp_rows = nd.select("media_id", "exp_b0", "exp_b1", "exp_b2", "exp_b3").collect()
    brute = {}
    for i, a in enumerate(exp_rows):
        for b in exp_rows[i + 1 :]:
            lo, hi = sorted([a, b], key=lambda r: r.media_id)
            ham = sum(
                bin(getattr(lo, f"exp_b{j}") ^ getattr(hi, f"exp_b{j}")).count("1")
                for j in range(4)
            )
            if ham <= 3:
                brute[(lo.media_id, hi.media_id)] = ham
    got = {
        (r.media_a, r.media_b): r.hamming
        for r in dhash_near_dup_pairs(image_dhash(nd)).collect()
    }
    assert got == brute
    assert len(brute) == 28  # 21 blank + 4 copies + 3 near-dups
    assert 1 in got.values()  # at least one genuinely-nonzero near-dup


def test_dhash_near_dup_capped_linearizes_blank_cluster(spark):
    """With a bucket cap below the blank cluster's size, the shared
    guard's star path replaces its 21 quadratic pairs with 6 linear
    star edges that still connect all 7 blanks; pairs outside the hot
    bucket are unchanged."""
    from fetch_engines_spark.pipelines.multimodal import (
        dhash_near_dup_pairs,
        image_dhash,
    )

    sigs = image_dhash(spark.read.parquet(_fixture_path("images_neardup")))
    got = {
        (r.media_a, r.media_b): r.hamming
        for r in dhash_near_dup_pairs(sigs, max_bucket_size=5).collect()
    }
    blank = {p for p in got if p[0].startswith("blank")}
    other = {p: h for p, h in got.items() if not p[0].startswith("blank")}
    assert len(blank) == 6
    assert {m for p in blank for m in p} == {f"blank-{j}" for j in range(7)}
    assert all(h == 0 for p, h in got.items() if p in blank)
    assert other == {
        ("img-000", "img-000-copy"): 0,
        ("img-002", "img-002-near"): 0,
        ("img-005", "img-005-copy"): 0,
        ("img-007", "img-007-near"): 0,
        ("img-010", "img-010-copy"): 0,
        ("img-012", "img-012-near"): 1,
        ("img-015", "img-015-copy"): 0,
    }


def test_bloom_gate_no_false_negatives_and_gates_majority(spark):
    """Bloom membership: every key that built the filter tests
    maybe_present=1 (a false negative would silently drop history dups
    from the exact verify), and at m/n ≈ 8 the definitely-new majority
    is correctly gated OUT of the downstream anti-join."""
    from pyspark.sql import functions as F

    from fetch_engines_spark.pipelines.dedup import bloom_build, bloom_gate

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    hist = docs.filter(F.col("doc_id") < 250).select(F.md5("text").alias("key"))
    bloom = bloom_build(hist, "key", m_bits=2048, k_hashes=3)
    q = docs.select("doc_id", F.md5("text").alias("key"))
    out = {
        r.doc_id: r.maybe_present
        for r in bloom_gate(q, bloom, "key", "doc_id", m_bits=2048, k_hashes=3).collect()
    }
    assert len(out) == 500
    assert all(out[d] == 1 for d in out if d < 250)  # no false negatives
    fps = sum(1 for d, m in out.items() if d >= 250 and m == 1)
    # texts are unique across docs, so every >=250 hit is a false
    # positive; expected rate (1 - e^(-3*250/2048))^3 ~ 2.9%
    assert fps / 250 < 0.10, f"{fps} false positives of 250"
    assert sum(1 for d, m in out.items() if d >= 250 and m == 0) > 200


def test_bloom_merge_equals_monolithic(spark):
    """Incremental filters OR together exactly: bloom(A) | bloom(B) is
    word-for-word the monolithic bloom(A ∪ B)."""
    from pyspark.sql import functions as F

    from fetch_engines_spark.pipelines.dedup import bloom_build, bloom_merge

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    keys = docs.select("doc_id", F.md5("text").alias("key"))
    a = bloom_build(keys.filter("doc_id < 125").select("key"), "key", 2048, 3)
    b = bloom_build(
        keys.filter("doc_id >= 125 and doc_id < 250").select("key"), "key", 2048, 3
    )
    mono = bloom_build(keys.filter("doc_id < 250").select("key"), "key", 2048, 3)
    merged = bloom_merge([a, b])
    assert {(r.word_id, r.bits) for r in merged.collect()} == {
        (r.word_id, r.bits) for r in mono.collect()
    }


def test_bloom_gate_null_key_reads_definitely_new(spark):
    """A NULL key has no bloom positions; the row must still appear in
    the gate output as maybe_present=0 (definitely new), not silently
    vanish (explode would drop it)."""
    from pyspark.sql import functions as F

    from fetch_engines_spark.pipelines.dedup import bloom_build, bloom_gate

    keys = spark.createDataFrame(
        [(1, "a"), (2, "b")], "doc_id long, key string"
    )
    bloom = bloom_build(keys.select("key"), "key", 1024, 3)
    q = spark.createDataFrame(
        [(1, "a"), (3, None), (4, "zz")], "doc_id long, key string"
    )
    out = {r.doc_id: r.maybe_present for r in
           bloom_gate(q, bloom, "key", "doc_id", 1024, 3).collect()}
    assert out == {1: 1, 3: 0, 4: out[4]}  # 4 may be a false positive
    assert 3 in out  # the NULL-key row survived


def test_bloom_gate_rejects_mismatched_parameters(spark):
    """The bitmap self-describes m_bits/k_hashes; a gate with a
    different bit space must raise, not silently read every key as
    definitely-new (false negatives)."""
    import pytest as _pytest

    from pyspark.sql import functions as F

    from fetch_engines_spark.pipelines.dedup import (
        bloom_build,
        bloom_gate,
        bloom_merge,
    )

    keys = spark.createDataFrame([(1, "a")], "doc_id long, key string")
    bloom = bloom_build(keys.select("key"), "key", 2048, 3)
    with _pytest.raises(ValueError, match="different bit spaces"):
        bloom_gate(keys, bloom, "key", "doc_id", m_bits=1 << 20)
    with _pytest.raises(ValueError, match="k_hashes"):
        bloom_gate(keys, bloom, "key", "doc_id", k_hashes=5)
    # defaulting reads the bitmap's own parameters
    out = bloom_gate(keys, bloom, "key", "doc_id").collect()
    assert out[0].maybe_present == 1
    other = bloom_build(keys.select("key"), "key", 4096, 3)
    with _pytest.raises(ValueError, match="different parameters"):
        bloom_merge([bloom, other]).collect()
    # a bare union of mismatched shards must not pick an arbitrary first
    # row's parameters (silent false negatives) — round-6 ADVICE guard
    with _pytest.raises(ValueError, match="bloom_merge"):
        bloom_gate(keys, bloom.unionByName(other), "key", "doc_id")
    # NULL keys contribute no junk rows to the bitmap
    nb = bloom_build(
        spark.createDataFrame([("a",), (None,)], "key string"), "key", 2048, 3
    )
    assert nb.filter("word_id IS NULL").count() == 0
