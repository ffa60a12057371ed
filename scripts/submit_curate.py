#!/usr/bin/env python
"""Package ckg_spark and launch the CURATION pipeline through
``spark-submit --py-files`` (same deployment path as submit_build.py).

    python scripts/submit_curate.py --docs <parquet> --warehouse <dir> [--master local[8]]
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from submit_build import DEFAULT_MASTER, submit  # noqa: E402  (same launcher)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", required=True)
    ap.add_argument("--warehouse", required=True)
    ap.add_argument("--master", default=DEFAULT_MASTER)
    ap.add_argument("--no-lm-filter", action="store_true")
    args = ap.parse_args()

    job_args = ["--docs", args.docs, "--warehouse", args.warehouse]
    if args.no_lm_filter:
        job_args.append("--no-lm-filter")
    raise SystemExit(submit("curate_job.py", job_args, args.master))


if __name__ == "__main__":
    main()
