#!/usr/bin/env python
"""spark-submit driver program for the KG build (north rule: the pipeline
runs via ``spark-submit --py-files ckg_spark.zip`` on a cluster).

The SparkSession comes from spark-submit's conf (master/executors are the
cluster manager's business, not this script's); ``ckg_spark`` is importable
from the shipped zip. Prints one JSON line of build stats.

    spark-submit --py-files ckg_spark.zip scripts/build_job.py \
        --pages /path/to/pages_parquet --warehouse /path/to/warehouse
"""

from __future__ import annotations

import argparse
import json


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", required=True, help="input pages parquet dir")
    ap.add_argument("--warehouse", required=True, help="output warehouse root")
    ap.add_argument("--terms-per-type", type=int, default=60)
    ap.add_argument("--vocab-seed", type=int, default=7)
    ap.add_argument(
        "--export-dir",
        default=None,
        help="also write Neo4j bulk-import TSVs here (the reference "
        "builder's end artifact; materialize/export.py)",
    )
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from ckg_spark.corpus.vocab import VocabConfig
    from ckg_spark.pipeline import KGPipeline

    spark = SparkSession.builder.appName("ckg-spark-build").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    pages = spark.read.parquet(args.pages)
    pipe = KGPipeline(
        spark,
        args.warehouse,
        vocab_cfg=VocabConfig(seed=args.vocab_seed, terms_per_type=args.terms_per_type),
    )
    stats = pipe.run(pages=pages)
    if args.export_dir:
        from ckg_spark.materialize.export import export_neo4j_bulk

        stats["export"] = export_neo4j_bulk(spark, pipe.wh, args.export_dir)
    print(json.dumps(stats))
    spark.stop()


if __name__ == "__main__":
    main()
