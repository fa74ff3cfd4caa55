"""Dump annotated physical plans for the headline queries → PLANS.md.

Run after plan-affecting changes: python scripts/dump_plans.py
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

ANNOTATIONS = {
    "extract_spans_fixture": "Exactly one Python boundary (MapInArrow): the entire P1–M14 chain runs in a single Arrow pass; explode of the output spans stays JVM-side.",
    "classifier_shell_score": "Whole-stage-codegen only — the full X-family (regex counts, entity decode, score arithmetic) compiles to one generated stage, zero Python.",
    "dedup_minhash": "One explode + one map-side-combinable aggregation computing all k permutation mins (one hash Exchange), then a stack unpivot; round 6 adds spread_scan's round-robin exchange ONLY when the input parquet is unsplittable (single row group), so the token stage uses every core.",
    "embedding_topk": "Query side is broadcast; cosine runs as JVM higher-order functions; per-query rank window follows one small shuffle of the scored pairs. Round 6: the corpus side is spread_scan'd so the 200k interpreted cosine folds run on every core instead of the 1-split scan.",
    "resume_anti_join": "LeftAnti broadcast join against the completed-work ledger — the resume primitive.",
    "dedup_minhash_capped": "Window count over (band_id, band_key) sizes every bucket in one shuffle; small buckets take the pairwise self-join, giant buckets the linear signature-group star path — no task can exceed cap^2 pairwise work.",
    "dedup_minhash_prod": "128 affine permutations fold into ONE map-side-combined aggregation over the exploded shingles (single Exchange); band keys derive from the wide row with no second shuffle.",
    "dedup_embedding": "Multi-table hyperplane LSH: stack to (table_id, bucket), bucket equi-join for candidates (no cartesian/nested-loop), then an exact-cosine verify join.",
    "structured_validation": "Pure JVM columns: from_json twice (map for key analysis, caller schema for typing) + array HOFs — zero Python for corpus-scale failure triage.",
    "mixed_extract": "One scan split by the native route column; each format branch is partition-prunable and only the html/pdf branches carry a Python stage; union of the branch outputs.",
    "pdf_extract": "One Arrow-batched Python stage (the PDF parser), same never-fail contract as HTML extraction.",
    "text_repetition": "Shuffle-free: all three Gopher repetition signals (duplicate words, top-bigram share via a single aggregate fold over the sorted bigram array, duplicate 5-grams) evaluate inside the scan stage — zero Exchange, zero Python.",
    "dedup_substring": "Per-doc distinct window fingerprints BEFORE the explode (no dedup shuffle); one map-side-combined count on the 16-byte fingerprint; one equi-join carries document frequencies back.",
    "url_domain_stats": "URL parse/canonicalize/registered-domain are pure codegen'd columns; the only Exchange is the final map-side-combinable per-domain aggregate.",
    "vocab_topk": "One combinable groupBy on the token, then TakeOrderedAndProject — the distributed top-k (per-partition heaps + k-row merge), never a full-vocabulary single-partition sort.",
    "embedding_topk_pq": "Per-subspace integer k-means codebooks (trained in-plan, tiny checkpointed tables) broadcast; encoding is a shuffle-free argmin expression; ADC scoring is m BroadcastHashJoins on the byte-code columns — the float corpus never shuffles.",
    "embedding_topk_ivf": "k-means coarse codebook (integer-exact Lloyd, checkpointed 8-row table) broadcast as ONE row; cell assignment and probe selection are shuffle-free array-argmin expressions (the old per-vector window-argmin cost a full shuffle); candidate search joins only on cell_id.",
    "embedding_topk_ivfpq": "IVF-PQ: coarse cells + residual sub-codebooks all broadcast; encoding is shuffle-free argmin over the residual slices; scoring is broadcast equi-joins on (cell, code_j), so a neighbor is scored only when its cell is probed — the corpus never shuffles and floats never rematerialize.",
    "dedup_simhash_capped": "64-bit SimHash, 4x16-bit pigeonhole blocks through the SHARED capped bucket join: window count sizes every (block_id, block_val) bucket, degenerate buckets route to the linear signature-star path, hamming verify joins the checkpointed signature table — no quadratic key, no Python.",
    "resource_blocking": "S5 blocking analog: the domain blocklist compiles to ONE rlike alternation and the resource-type list to an isin — verdict columns ride the scan, zero Exchange, zero Python, nothing joined.",
    "corpus_curation_full": "Quality/repetition gates ride the scan stage; the substring gate adds its fingerprint agg+join; one keeper-election shuffle; one final per-source agg — the whole curation chain in a single composed plan.",
    "embedding_topk_lsh": "Scale-config multi-table ANN: the bucket index is a pre-materialized checkpoint (ONE Arrow matmul upstream, invisible here); candidates come from a broadcast bucket equi-join, scoring joins only the candidate set — no cartesian, no nested loop.",
    "dedup_embedding_capped": "Window count over (table_id, bucket) sizes every LSH bucket; degenerate buckets route to the signature-star path; all joins equi, downstream plan Python-free (bucket matmul pre-materialized).",
    "decontaminate": "Benchmark window fingerprints broadcast (BroadcastHashJoin, LEFT); one map-side-combinable per-doc aggregation — the training corpus never shuffles for the decontamination check.",
    "doc_tfidf_topk": "One token explode feeds both the tf and document-frequency aggregations; corpus count broadcast; rank-k via WindowGroupLimit.",
    "dedup_clusters_chain": "Large-star/small-star contraction over chain-shaped dup graphs: O(log n) groupBy-min + join rounds (plain propagation would need O(diameter)).",
    "training_pipeline_full": "Extraction (one Arrow stage) + quality columns + chunk window + joins in a single composed plan — the whole engine end-to-end.",
    "doc_hashed_embedding": "Signed hashing-trick embedding: one token explode + one map-side-combinable groupBy on (doc, bucket) — integer weights, engine-exact.",
    "decontaminate_fuzzy": "Every join broadcast (bench band index, candidate-id semi-join, candidate pairs, bench shingles) — zero SortMergeJoin, so the corpus never shuffles on doc_id for the benchmark-bounded candidate set; best-match via row_number over the tiny scored set.",
    "dedup_incremental": "The persisted history index joins the new increment's band keys — broadcast/bucket equi-joins only; the historical corpus is never rescanned, only its ~n_bands-rows-per-doc index participates.",
    "dedup_index_compaction": "Union + combinable distinct over N per-increment index row sets, materialized via localCheckpoint (the returned plan reads the compacted table); the corpora behind the indexes are never rescanned.",
    "dedup_simhash_pairs": "Round-6 shape: distinct-signature grouping (collect_list ids ride as carry columns) + two-level pigeonhole (block, sub-block of the residual) + exactly-once minimal-(b,s) emission via xor predicates + triangle-partitioned oversized buckets — 52.9M signature-level candidates replace 758M doc-level ones at sf1.0, and NO distinct/exchange follows the join.",
    "dedup_simhash64_pairs": "Round-6 shape: Arrow-vectorized signature stage (one batched map, no explode/agg exchange), then the exactly-once minimal-block pigeonhole join with triangle-partitioned oversized buckets; no distinct anywhere.",
    "mixture_sample": "Round-6 shape (retires the r5 weak flag): combinable (stratum, md5-prefix-bucket) counts; per-bucket offsets + caps broadcast; past-cap buckets drop before the shuffle; the exact rank window partitions by (stratum, bucket) and mix_rank composes as offset + within-bucket rank.",
    "doc_winnowing": "Round-6 shape: shared zip-shifted shingle builder + sparse-table rolling minima (log2(window) zip_with passes), hash array materialized in its own projection so the interpreted min stage reads it instead of re-hashing per reference.",
}


def main() -> None:
    import __spark_entry__ as entrymod
    from fetch_engines_spark.session import get_spark

    spark = get_spark(app_name="plans", master="local[4]", shuffle_partitions=4)
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()
    out = [
        "# PLANS — physical plans of the headline queries\n",
        "Generated by scripts/dump_plans.py (sf0.001 inputs; plan shape is",
        "scale-invariant). The properties asserted by tests/test_plans.py are",
        "annotated per query.\n",
    ]
    for name, note in ANNOTATIONS.items():
        df = qs[name](spark, "/root/testdata/sf0.001")
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        )
        # keep the operator tree, drop the verbose per-node details
        tree = plan.split("\n\n")[0]
        out.append(f"## {name}\n\n{note}\n\n```\n{tree}\n```\n")
    spark.stop()
    with open(os.path.join(os.path.dirname(__file__), "..", "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print("wrote PLANS.md")


if __name__ == "__main__":
    main()
