#!/usr/bin/env python
"""Child worker for ``run_scaling.py --workload query``: run ONE catalog
query in a fresh pinned JVM and print one JSON line with the timed
execution.

Timing covers the query's full computation via the noop sink (forces
every output column — a count() could let Catalyst prune the expensive
projections), and excludes session startup: the scan/codegen warm-up
action runs first, untimed, exactly like bench.py's convention.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--query", required=True)
    ap.add_argument("--cores", type=int, required=True)
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    args = ap.parse_args()

    from ckg_spark.queries import CATALOG
    from ckg_spark.session import get_spark

    spark = get_spark(f"qscale-{args.query}-{args.cores}", cores=args.cores)
    # untimed warm-up: JVM JIT + a touch of the parquet reader path
    spark.range(1000).count()
    spark.read.parquet(os.path.join(args.sf_dir, "region.parquet")).count()

    df = CATALOG[args.query].spark_fn(spark, args.sf_dir)
    t0 = time.time()
    df.write.mode("overwrite").format("noop").save()
    seconds = round(time.time() - t0, 3)
    # determinism witness (untimed): the cross-level row counts must agree
    rows = df.count()
    print(json.dumps(
        {"query": args.query, "cores": args.cores, "seconds": seconds,
         "rows": rows, "sf_dir": args.sf_dir}
    ))
    spark.stop()


if __name__ == "__main__":
    main()
