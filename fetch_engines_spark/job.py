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
        choices=("extract", "dedup"),
        help="extract: spans→markdown with checkpoint/resume; "
        "dedup: MinHash-LSH candidates → Jaccard verify → connected "
        "components → keepers, writing pairs/clusters/keepers",
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
    return p.parse_args(argv)


def _run_dedup(spark, args) -> dict:
    from pyspark.sql import functions as F

    from .pipelines.dedup import (
        connected_components_star,
        minhash_candidate_pairs_fast,
        ngram_jaccard,
        simhash_candidate_pairs64,
    )

    docs = spark.read.parquet(args.input)
    if args.dedup_method == "simhash64":
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
    return {
        "stage": "dedup",
        "method": args.dedup_method,
        "n_input": docs.count(),
        "n_dup_pairs": verified.count(),
        "n_clustered": clusters.count(),
        "n_keepers": spark.read.parquet(f"{args.output}/keepers").count(),
    }


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv if argv is not None else sys.argv[1:])

    from .checkpoint import run_extraction_job
    from .session import get_spark

    spark = get_spark(app_name=f"fes-{args.stage}-{args.run_id}", master=args.master)
    try:
        if args.stage == "dedup":
            summary = _run_dedup(spark, args)
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
