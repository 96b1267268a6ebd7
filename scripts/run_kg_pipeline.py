#!/usr/bin/env python
"""spark-submit entry point for the KG-construction pipeline (north rule:
`spark-submit --py-files` on a multi-executor cluster).

Usage (local sandbox):
    spark-submit --master local[8] scripts/run_kg_pipeline.py \
        --sf-dir /root/testdata/sf0.001 --out /tmp/kg_out

Usage (cluster):
    spark-submit --py-files eel_v2_spark.zip --master yarn ... \
        scripts/run_kg_pipeline.py --sf-dir s3://corpus --out s3://kg \
        --checkpoint s3://kg-ck

With --checkpoint, stages are snapshotted with per-partition manifests and a
rerun resumes from the last complete stage.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    ap.add_argument("--out", required=True)
    ap.add_argument("--checkpoint", default=None)
    ap.add_argument("--max-entities", type=int, default=10)
    args = ap.parse_args()

    from pyspark.sql import SparkSession
    spark = SparkSession.builder.appName("kg-pipeline").getOrCreate()

    from entity_extractor_linker_api_v2_spark.plans.pipeline import (
        run_pipeline, run_pipeline_checkpointed)

    if args.checkpoint:
        out = run_pipeline_checkpointed(spark, args.sf_dir, args.checkpoint,
                                        max_entities=args.max_entities)
    else:
        out = run_pipeline(spark, args.sf_dir, max_entities=args.max_entities,
                           fused=True)

    stats = {}
    for name in ("entities", "triples", "nodes"):
        path = os.path.join(args.out, name)
        out[name].write.mode("overwrite").parquet(path)
        stats[name] = spark.read.parquet(path).count()
    print("KG_PIPELINE_DONE " + json.dumps(stats))
    spark.stop()


if __name__ == "__main__":
    main()
