#!/usr/bin/env python
"""spark-submit driver program for the corpus curation pipeline
(ckg_spark/curate.py), the training-data twin of build_job.py.

    spark-submit --py-files ckg_spark.zip scripts/curate_job.py \
        --docs /path/to/documents_parquet --warehouse /path/to/warehouse

Input parquet must carry (doc_id, text, lang); (url, warc_ts) engage the
url-dedup stage. Prints one JSON line of per-stage stats.
"""

from __future__ import annotations

import argparse
import json


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", required=True, help="input documents parquet dir")
    ap.add_argument("--warehouse", required=True, help="output warehouse root")
    ap.add_argument("--lang", default="en")
    ap.add_argument("--min-tokens", type=int, default=8)
    ap.add_argument("--span-window", type=int, default=16)
    ap.add_argument("--pack-budget", type=int, default=512)
    ap.add_argument("--no-lm-filter", action="store_true")
    ap.add_argument("--eval-docs", help="holdout parquet (doc_id, text): engages decontamination")
    ap.add_argument("--dsir-target", help="target-corpus parquet (text): engages DSIR selection")
    ap.add_argument("--dsir-k", type=int, help="documents to keep in DSIR selection")
    ap.add_argument(
        "--local-cores", type=int, default=None,
        help="run on local[N] with a timed report (scaling evidence mode; "
        "normally the master comes from spark-submit)",
    )
    args = ap.parse_args()
    if args.dsir_target and args.dsir_k is None:
        ap.error(
            "--dsir-target requires --dsir-k: without k the selection "
            "stage is skipped and the target corpus would be read for "
            "nothing (CurationPipeline.run also rejects this)"
        )

    import time

    from ckg_spark.curate import CurationConfig, CurationPipeline

    if args.local_cores is not None:
        from ckg_spark.session import get_spark

        spark = get_spark("ckg-spark-curate", cores=args.local_cores)
    else:
        from pyspark.sql import SparkSession

        spark = SparkSession.builder.appName("ckg-spark-curate").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    docs = spark.read.parquet(args.docs)
    cfg = CurationConfig(
        lang=args.lang or None,
        min_tokens=args.min_tokens,
        span_window=args.span_window,
        pack_budget=args.pack_budget,
        drop_ppl_bucket=None if args.no_lm_filter else "tail",
        dsir_k=args.dsir_k,
    )
    if args.local_cores is not None:
        # spin up the executor Python worker pool outside the timing —
        # same convention as bench.py --kg-only
        import pandas as _pd

        spark.createDataFrame(_pd.DataFrame({"x": range(1000)})).mapInPandas(
            lambda it: it, "x long"
        ).selectExpr("sum(x)").collect()
    n_input = docs.count()
    t0 = time.perf_counter()
    pipe = CurationPipeline(spark, args.warehouse, cfg)
    stats = pipe.run(
        docs,
        eval_docs=spark.read.parquet(args.eval_docs) if args.eval_docs else None,
        dsir_target=spark.read.parquet(args.dsir_target) if args.dsir_target else None,
    )
    elapsed = time.perf_counter() - t0
    stats["n_input"] = n_input
    stats["seconds"] = round(elapsed, 3)
    stats["docs_per_sec"] = round(n_input / elapsed, 1)
    stats["stages"] = {m["stage"]: m["seconds"] for m in pipe.wh.metrics() if "seconds" in m}
    print(json.dumps(stats))
    spark.stop()


if __name__ == "__main__":
    main()
