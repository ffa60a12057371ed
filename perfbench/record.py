#!/usr/bin/env python3
"""Record the per-seed correctness sentinels into ``perfbench/expected.json``.

    python3 perfbench/record.py --workload kg_dense --seeds 0-29,1000
    python3 perfbench/record.py --workload kg_dense --seeds 1 --repeat 10

Run from the root of a source checkout, on a commit whose outputs are known
to be right. For each seed it generates the inputs, runs ``--repeat``
operations in a shared Spark session, checks the workload's invariants and
stores the output counts. A seed whose operations disagree is not recorded,
and the differing counts are named (a query digest named there belongs in
``workloads.ROW_COUNT_ONLY``). ``run.py`` then fails any operation whose
counts differ from the recorded ones for its seed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys


def parse_seeds(spec: str) -> list[int]:
    seeds: list[int] = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        seeds.extend(range(int(lo), int(hi or lo) + 1))
    return seeds


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 0-29,1000")
    ap.add_argument("--repeat", type=int, default=1, help="operations per seed")
    args = ap.parse_args()

    sys.path.insert(0, os.getcwd())
    from perfbench.run import (
        CACHE, EXPECTED, OUT, confine_temp_files, start_session, stop_session,
    )
    from perfbench.workloads import SETTINGS, WORKLOADS, runner

    w = WORKLOADS[args.workload]
    os.environ.update(SETTINGS)
    os.environ["PYTHONPATH"] = os.getcwd()
    with open(EXPECTED) as f:
        expected = json.load(f)
    workdir = os.path.join(OUT, f"record-{w.name}-{os.getpid()}")
    confine_temp_files(workdir)
    spark = start_session()
    try:
        for seed in parse_seeds(args.seeds):
            job = runner(w, CACHE, seed, workdir)
            job.start(spark)
            runs = [job.op()[1] for _ in range(args.repeat)]
            counts = runs[0]
            unstable = sorted(k for k in counts if any(r[k] != counts[k] for r in runs))
            bad = job.invariants(counts)
            if bad or unstable:
                print(f"seed {seed}: not recorded, {bad}, differing: {unstable}",
                      file=sys.stderr)
                continue
            expected.setdefault(w.name, {})[str(seed)] = counts
            with open(EXPECTED, "w") as f:
                json.dump(expected, f, indent=1, sort_keys=True)
            print(seed, counts, flush=True)
    finally:
        stop_session(spark)
        shutil.rmtree(workdir, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
