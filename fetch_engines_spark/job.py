"""spark-submit job entry for the extraction pipeline.

Deploy (north_rule packaging):

    python -c "from fetch_engines_spark.packaging import build_pyfiles_zip as b; print(b())"
    spark-submit --py-files <the zip path printed above> \
        -- fetch_engines_spark/job.py \
        --input  <documents parquet/iceberg path> \
        --output <checkpoint root> \
        --run-id <run id> [--n-buckets 64] [--partitions 256]

The job is idempotent per (run_id, bucket): re-running after a failure
anti-joins the ledger and only processes missing buckets (checkpoint.py).
"""

from __future__ import annotations

import argparse
import json
import sys


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description="fetch-engines-spark extraction job")
    p.add_argument("--input", required=True, help="documents table path (parquet)")
    p.add_argument(
        "--input-format",
        default="parquet",
        choices=("parquet", "warc"),
        help="extract-stage input: parquet documents (interleaved-span "
        "schema), or warc — a directory/glob of WARC archives (plain or "
        "gzip members, the Common Crawl layout); 200/text-html response "
        "records are adapted into the documents shape before extraction",
    )
    p.add_argument("--output", required=True, help="checkpoint root directory")
    p.add_argument("--run-id", required=True)
    p.add_argument("--n-buckets", type=int, default=64)
    p.add_argument("--partitions", type=int, default=None)
    p.add_argument("--keep-markdown", action="store_true")
    p.add_argument(
        "--max-content-length",
        type=int,
        default=None,
        help="M13 truncation: cut markdown at a sentence boundary near this length",
    )
    p.add_argument("--table-format", default="parquet", help="sink format (parquet, or iceberg when the runtime jar is present)")
    p.add_argument("--master", default=None)
    p.add_argument(
        "--stage",
        default="extract",
        choices=("extract", "dedup", "compact-index", "media-dedup"),
        help="extract: spans→markdown with checkpoint/resume; "
        "dedup: MinHash-LSH candidates → Jaccard verify → connected "
        "components → keepers, writing pairs/clusters/keepers; "
        "compact-index: merge N per-increment LSH index parquets "
        "(comma-separated --input) into one deduplicated index so the "
        "next increment reads one index, not N; "
        "media-dedup: perceptual near-dup over a media(media_id, payload) "
        "table of PNG images (dHash) writing signatures/pairs/canonical_map",
    )
    p.add_argument("--minhash-perms", type=int, default=128)
    p.add_argument("--band-size", type=int, default=8)
    p.add_argument("--max-bucket-size", type=int, default=2000)
    p.add_argument("--jaccard-threshold-bp", type=int, default=7000)
    p.add_argument(
        "--dedup-method",
        default="minhash",
        choices=("minhash", "simhash64"),
        help="candidate generator for --stage dedup: MinHash-LSH bands "
        "(shingle near-dups) or 64-bit SimHash pigeonhole blocks "
        "(hamming near-dups; cheaper signatures, no shingle explode)",
    )
    p.add_argument(
        "--max-hamming",
        type=int,
        default=3,
        help="simhash64 verify threshold (pigeonhole-exact for < 4)",
    )
    p.add_argument(
        "--incremental-index",
        default=None,
        help="path to a prior dedup run's {output}/index parquet: the "
        "input is treated as a NEW crawl increment — signature-identical "
        "docs vs the index are dropped without rescanning the historical "
        "corpus, band-collision candidates are written for auditing, and "
        "a MERGED index (prior + this increment's keepers) is written "
        "for the next run.  minhash method only; index and increment "
        "must share --minhash-perms/--band-size.",
    )
    return p.parse_args(argv)


def _run_compact_index(spark, args) -> dict:
    """Merge N per-increment LSH index parquets (comma-separated
    --input) into one deduplicated index at {output}/index."""
    from .pipelines.dedup import compact_minhash_indexes

    paths = [p.strip() for p in args.input.split(",") if p.strip()]
    if len(paths) < 2:
        raise ValueError("--stage compact-index wants >=2 comma-separated index paths")
    indexes = [spark.read.parquet(p) for p in paths]
    n_in = sum(ix.count() for ix in indexes)
    merged = compact_minhash_indexes(indexes)
    merged.write.mode("overwrite").parquet(f"{args.output}/index")
    n_out = spark.read.parquet(f"{args.output}/index").count()
    return {
        "stage": "compact-index",
        "n_inputs": len(paths),
        "n_rows_in": n_in,
        "n_rows_out": n_out,
    }


def _run_media_dedup(spark, args) -> dict:
    """Perceptual media near-dup: one fused decode+signature pass is
    WRITTEN to {output}/signatures — every downstream stage of this run
    (pairs, map) reads the parquet back instead of holding pixels in
    memory or re-decoding; a RE-INVOCATION of the stage re-decodes from
    scratch (unlike the extract stage's per-bucket resume — signature
    runs are single-pass by design).  Then banded pairs → connected
    components → canonical map."""
    from .pipelines.multimodal import (
        canonical_media_map,
        dhash_near_dup_pairs,
        image_dhash,
    )

    media = spark.read.parquet(args.input)
    image_dhash(media).write.mode("overwrite").parquet(f"{args.output}/signatures")
    sigs = spark.read.parquet(f"{args.output}/signatures")
    n_media = sigs.count()
    n_errors = sigs.filter("error IS NOT NULL").count()
    dhash_near_dup_pairs(
        sigs, max_hamming=args.max_hamming, max_bucket_size=args.max_bucket_size
    ).write.mode("overwrite").parquet(f"{args.output}/pairs")
    pairs = spark.read.parquet(f"{args.output}/pairs")
    canonical_media_map(pairs).write.mode("overwrite").parquet(
        f"{args.output}/canonical_map"
    )
    cmap = spark.read.parquet(f"{args.output}/canonical_map")
    return {
        "stage": "media-dedup",
        "n_media": n_media,
        "n_errors": n_errors,
        "n_pairs": pairs.count(),
        "n_remapped_media": cmap.count(),
    }


def _run_dedup(spark, args) -> dict:
    from pyspark.sql import functions as F

    from .pipelines.dedup import (
        connected_components_star,
        minhash_candidate_pairs_fast,
        minhash_index,
        ngram_jaccard,
        simhash_candidate_pairs64,
    )

    docs = spark.read.parquet(args.input)
    sig_dropped = 0
    prior_index = None
    inc_verified = None
    if args.incremental_index:
        import os as _os

        if args.dedup_method != "minhash":
            raise ValueError("--incremental-index requires --dedup-method minhash")
        if _os.path.abspath(args.incremental_index) == _os.path.abspath(
            f"{args.output}/index"
        ):
            # overwriting the path being read would destroy the only copy
            # of the history index AFTER the expensive run completed
            raise ValueError(
                "--incremental-index must not point at this run's own "
                f"{args.output}/index — use a fresh --output per increment"
            )
        prior_index = spark.read.parquet(args.incremental_index)
        # the banding parameters are part of the persisted contract: a
        # mismatched index yields ZERO collisions (silent no-op dedup),
        # so the index self-describes and the run fails loudly instead
        if "mh_perms" not in prior_index.columns:
            raise ValueError(
                "--incremental-index parquet lacks mh_perms/mh_band_size "
                "metadata columns — not a {output}/index written by this job"
            )
        meta = prior_index.select("mh_perms", "mh_band_size").first()
        if meta and (
            meta["mh_perms"] != args.minhash_perms
            or meta["mh_band_size"] != args.band_size
        ):
            raise ValueError(
                f"index was built with --minhash-perms {meta['mh_perms']} "
                f"--band-size {meta['mh_band_size']}; this run uses "
                f"{args.minhash_perms}/{args.band_size} — band keys would "
                "never collide"
            )
        from .pipelines.candidates import cross_bucket_pairs
        from .pipelines.dedup import candidate_pairs_from_index

        # ONE signature pass over the increment: every downstream join
        # (cross candidates, sig drop, within-increment pairs) reads the
        # materialized index instead of re-deriving signatures from text
        new_buckets = minhash_index(
            docs, num_hashes=args.minhash_perms, band_size=args.band_size, fast=True
        ).localCheckpoint(eager=True)
        dup_ids = (
            new_buckets.select("doc_id", "sig_key")
            .distinct()
            .join(prior_index.select("sig_key").distinct(), "sig_key")
            .select("doc_id")
            .distinct()
            .localCheckpoint(eager=True)
        )
        sig_dropped = dup_ids.count()
        # audit output: band collisions that are NOT already resolved by
        # the signature-identity drop (the index carries no text, so
        # these are what a downstream verifier still needs to look at)
        cross = cross_bucket_pairs(
            prior_index,
            new_buckets,
            ["band_id", "band_key"],
            "doc_id",
            sig_col="sig_key",
            max_bucket_size=args.max_bucket_size,
            out_a="doc_a",
            out_b="doc_b",
        )
        cross.join(
            dup_ids.withColumnRenamed("doc_id", "doc_b"), "doc_b", "left_anti"
        ).write.mode("overwrite").parquet(f"{args.output}/cross_candidates")
        docs = docs.join(dup_ids, "doc_id", "left_anti")
        kept_buckets = new_buckets.join(dup_ids, "doc_id", "left_anti")
        inc_pairs = candidate_pairs_from_index(kept_buckets, args.max_bucket_size)
        inc_verified = ngram_jaccard(docs, inc_pairs).filter(
            F.col("jaccard_bp") >= args.jaccard_threshold_bp
        )
    if args.incremental_index:
        verified = inc_verified
    elif args.dedup_method == "simhash64":
        # pigeonhole candidates + integer hamming verify (already in the
        # pair output — no second verify pass needed; the hamming score
        # column is kept in the pairs parquet, mirroring jaccard_bp)
        verified = simhash_candidate_pairs64(
            docs,
            max_hamming=args.max_hamming,
            max_bucket_size=args.max_bucket_size,
        )
    else:
        pairs = minhash_candidate_pairs_fast(
            docs,
            num_hashes=args.minhash_perms,
            band_size=args.band_size,
            max_bucket_size=args.max_bucket_size,
        )
        verified = ngram_jaccard(docs, pairs).filter(
            F.col("jaccard_bp") >= args.jaccard_threshold_bp
        )
    verified.write.mode("overwrite").parquet(f"{args.output}/pairs")
    verified = spark.read.parquet(f"{args.output}/pairs")
    clusters = connected_components_star(verified)
    clusters.write.mode("overwrite").parquet(f"{args.output}/clusters")
    clusters = spark.read.parquet(f"{args.output}/clusters")
    keepers = docs.join(
        clusters.filter(~F.col("is_keeper")).select("doc_id"), "doc_id", "left_anti"
    )
    keepers.write.mode("overwrite").parquet(f"{args.output}/keepers")
    if args.dedup_method == "minhash":
        # index of this run's keepers — with --incremental-index, merged
        # with the prior index so the next increment deduplicates against
        # the full history without rescanning it.  The banding params ride
        # as metadata columns so a future run with mismatched parameters
        # fails loudly instead of silently finding zero collisions.
        idx = (
            minhash_index(
                spark.read.parquet(f"{args.output}/keepers"),
                num_hashes=args.minhash_perms,
                band_size=args.band_size,
                fast=True,
            )
            .withColumn("mh_perms", F.lit(args.minhash_perms))
            .withColumn("mh_band_size", F.lit(args.band_size))
        )
        if prior_index is not None:
            idx = prior_index.unionByName(idx)
        idx.write.mode("overwrite").parquet(f"{args.output}/index")
    summary = {
        "stage": "dedup",
        "method": args.dedup_method,
        # with --incremental-index, docs was already filtered: report the
        # pre-drop increment size
        "n_input": (docs.count() + sig_dropped),
        "n_dup_pairs": verified.count(),
        "n_clustered": clusters.count(),
        "n_keepers": spark.read.parquet(f"{args.output}/keepers").count(),
    }
    if args.incremental_index:
        summary["n_sig_dropped_vs_index"] = sig_dropped
    return summary


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv if argv is not None else sys.argv[1:])

    from .checkpoint import run_extraction_job
    from .session import get_spark

    spark = get_spark(app_name=f"fes-{args.stage}-{args.run_id}", master=args.master)
    try:
        if args.stage == "dedup":
            summary = _run_dedup(spark, args)
        elif args.stage == "compact-index":
            summary = _run_compact_index(spark, args)
        elif args.stage == "media-dedup":
            summary = _run_media_dedup(spark, args)
        else:
            if args.input_format == "warc":
                from .warc import read_warc, warc_html_documents

                # Stage the parsed documents to parquet BEFORE the bucket
                # loop: run_extraction_job evaluates its input once to find
                # the non-empty buckets and once more per non-empty bucket,
                # and bucket pruning cannot push below mapInPandas — feeding
                # the lazy WARC plan in directly would re-read, re-gunzip
                # and re-parse the whole crawl each time.  The underscore
                # prefix keeps the staging dir invisible to parquet readers
                # of the root.
                staged = f"{args.output.rstrip('/')}/_staged_documents"
                warc_html_documents(read_warc(spark, args.input)).write.mode(
                    "overwrite"
                ).parquet(staged)
                documents = spark.read.parquet(staged)
            else:
                documents = spark.read.parquet(args.input)
            summary = run_extraction_job(
                spark,
                documents,
                root=args.output,
                run_id=args.run_id,
                n_buckets=args.n_buckets,
                num_partitions=args.partitions,
                keep_markdown=args.keep_markdown,
                table_format=args.table_format,
                max_content_length=args.max_content_length,
            )
        print(json.dumps({"run_id": args.run_id, **summary}))
        return 0
    finally:
        spark.stop()


if __name__ == "__main__":
    raise SystemExit(main())
