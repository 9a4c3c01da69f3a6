"""spark-submit entrypoint for the flagship point-in-time feature pipeline.

    spark-submit --py-files modlyn_spark.zip scripts/run_pipeline.py \
        --images /path/images --requests /path/requests --out /path/features \
        [--gap-seconds 600] \
        [--hot-key-threshold N] [--n-buckets 64] [--score-out /path/scores]

Output is written through the manifest-based checkpoint layer: re-submitting
the identical job after a failure resumes — completed buckets are skipped,
per-bucket lineage (row count + order-insensitive content hash) is persisted
alongside the data (north_rule C1/C2). The scoring summary (per-feature
F-statistics) lands as a tiny parquet next to it.

Iceberg: IO goes through modlyn_spark.sources.catalog — pass
--format iceberg (plus the SparkCatalog confs, see README §Iceberg) to read
table identifiers instead of parquet paths, optionally pinning the input
commit with --snapshot-id; the manifest layer sits on top of Iceberg
snapshots unchanged. In this sandbox no Iceberg jar ships, so the default
stays parquet.
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--images", required=True)
    p.add_argument("--requests", required=True)
    p.add_argument("--out", required=True)
    p.add_argument("--score-out", default=None)
    p.add_argument("--gap-seconds", type=int, default=600)
    p.add_argument("--hot-key-threshold", type=int, default=None,
                   help="split images with more state rows than this into "
                        "time ranges inside the union window")
    p.add_argument("--n-buckets", type=int, default=64)
    p.add_argument("--format", default=None, choices=["parquet", "iceberg"],
                   help="table format for --images/--requests/--score-out "
                        "(default: $MODLYN_TABLE_FORMAT or parquet); iceberg "
                        "inputs may be table identifiers, and "
                        "--snapshot-id pins the images input commit")
    p.add_argument("--snapshot-id", type=int, default=None,
                   help="Iceberg snapshot id to read --images at "
                        "(reproducible resume against a pinned commit)")
    p.add_argument(
        "--verify-invariants",
        action="store_true",
        help="run the per-row input_hint gate before feature extraction: "
        "decoded pixels match the reference generator (exact for lossless, "
        "PSNR>=40dB lossy), captions equal, sizes right; job fails on any "
        "violation",
    )
    args = p.parse_args(argv)

    from pyspark.sql import SparkSession

    from modlyn_spark.plans.pipeline import image_feature_pipeline, score_features
    from modlyn_spark.sources.checkpoint import write_checkpointed

    # under spark-submit the session is preconfigured; standalone runs fall
    # back to the library defaults
    spark = SparkSession.getActiveSession()
    if spark is None:
        from modlyn_spark.session import get_spark

        spark = get_spark("modlyn-pipeline")

    from modlyn_spark.sources.catalog import read_table, write_table

    images = read_table(spark, args.images, format=args.format,
                        snapshot_id=args.snapshot_id)
    requests = read_table(spark, args.requests, format=args.format)

    if args.verify_invariants:
        from pyspark.sql import functions as F

        from modlyn_spark.functions.image import verify_images
        from modlyn_spark.sources.images import reference_caption, reference_pixels

        checks = verify_images(images, reference_pixels, reference_caption)
        bad = checks.where(
            (~F.col("caption_ok")) | (~F.col("size_ok")) | (F.col("psnr_db") < 40.0)
        )
        n_bad = bad.count()
        if n_bad:
            bad.show(20, truncate=False)
            raise SystemExit(f"invariant violations on {n_bad} rows")
    feats = image_feature_pipeline(
        images,
        requests,
        gap_seconds=args.gap_seconds,
        hot_key_threshold=args.hot_key_threshold,
    )
    result = write_checkpointed(
        feats,
        args.out,
        key_cols=["image_id", "feature_ts"],
        n_buckets=args.n_buckets,
        lineage=f"image_feature_pipeline(images={args.images}, "
        f"requests={args.requests})",
    )
    summary = {
        "out": args.out,
        "buckets_computed": len(result["computed"]),
        "buckets_skipped": len(result["skipped"]),
        "rows_written": result["rows_written"],
    }
    if args.score_out:
        from modlyn_spark.sources.checkpoint import read_checkpointed

        ranked = score_features(read_checkpointed(spark, args.out))
        write_table(ranked, args.score_out, format=args.format, mode="overwrite")
        summary["score_out"] = args.score_out
    print(json.dumps(summary))
    return 0


if __name__ == "__main__":
    sys.exit(main())
