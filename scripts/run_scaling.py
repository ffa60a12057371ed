#!/usr/bin/env python
"""North-rule scaling evidence: the same work at CPU-pinned local[lo] vs
local[hi] over the same input, one fresh JVM per trial, appended to
BENCH.md.

    python scripts/run_scaling.py --workload kg       # KG build (bench.py --kg-only)
    python scripts/run_scaling.py --workload curate   # curation DAG (curate_job.py)
    python scripts/run_scaling.py --workload query    # catalog queries (query_job.py)

Efficiency definition (strong scaling on a fixed input, the sandbox proxy
for N -> 4N executors), from the best (minimum-wall) trial per level:

    eff = (seconds_lo / seconds_hi) / (hi / lo)

Methodology, shared by every workload:

- ``taskset`` pinning: an unpinned local[N] JVM consumes well over N cores
  (measured: local[8] averaged 7.7 but peaked at 15 busy cores — parquet
  encode, GC and shuffle threads ride free), which inflates the small-N
  baseline; ``taskset -c 0..N-1`` makes "N cores" mean N cores.
- constant physical plan: file-split size and shuffle partitioning are
  cluster constants on a real N- vs 4N-executor cluster. Left to the
  session defaults, the low level plans 3 giant scan splits (3*cores) and
  AQE coalesces its reduces to 1-2 partitions, handing it per-task
  overheads the high level never amortizes. ``PLAN_PINS`` fixes both
  levels to the same splits and reduce partitioning.
- best-of-N per level: on a shared host ambient contention only ever
  slows a trial, so min wall time is the noise-robust estimator (the
  median-based efficiency is reported next to it).
- every level must produce the same output count (the determinism
  sentinel), and absolute throughput and loadavg are reported next to
  the ratio.

Default levels are 1 and 4: on shared vCPUs, core-count pairs above 4
measure the hypervisor, not the engine (BENCH.md methodology).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

PLAN_PINS = {
    "SPARK_GRAFT_MIN_SCAN_PARTITIONS": "40",
    "SPARK_GRAFT_SHUFFLE_PARTITIONS": "16",
    "SPARK_GRAFT_AQE_COALESCE": "false",
}

DEFAULT_QUERIES = [
    "q_samr",
    "q_graph_closeness",
    "q_impute_knn",
    "q_graph_summary",
    "q_graph_triangles",
]

# per workload: argument defaults, the output count that must agree across
# levels, and the absolute-throughput field of the child's JSON line
WORKLOADS = {
    "kg": {
        "defaults": {"n_docs": 50_000, "words": "600,1200", "trials": 1},
        "sentinel": "n_triples",
        "rate": "triples_per_sec",
    },
    "curate": {
        "defaults": {"n_docs": 30_000, "words": "300,600", "trials": 2},
        "sentinel": "n_curated",
        "rate": "docs_per_sec",
    },
    "query": {"defaults": {"trials": 2}, "sentinel": "rows", "rate": None},
}

# deterministic curation input (doc_id, text, lang) from the tested pages
# generator + HTML extraction — dup_url_rate plants real exact duplicates
# so the dedup stages do representative work
CURATE_GEN = """
import sys
from pyspark.sql import functions as F
from ckg_spark.session import get_spark
from ckg_spark.corpus.pages import config_from_vocab, generate_pages_df
from ckg_spark.corpus.vocab import VocabConfig, generate_vocab
from ckg_spark.extract import with_extracted_text

n_docs, words, out = int(sys.argv[1]), sys.argv[2], sys.argv[3]
spark = get_spark("curate-gen", cores=8)
vocab = generate_vocab(VocabConfig(seed=7, terms_per_type=60))
wmin, wmax = (int(x) for x in words.split(","))
cfg = config_from_vocab(vocab, n_docs=n_docs, seed=42, partitions=32,
                        words_min=wmin, words_max=wmax)
docs = with_extracted_text(generate_pages_df(spark, cfg)).select(
    F.xxhash64("url").alias("doc_id"), "text", "lang")
docs.write.mode("overwrite").parquet(out)
spark.stop()
"""


def run_child(argv: list[str], cores: int | None = None) -> dict:
    """Run one child Python program (pinned to ``cores`` CPUs and the
    constant-plan settings when given) and return its last JSON line."""
    env = {**os.environ, "PYTHONPATH": REPO}
    pin = []
    if cores is not None:
        env.update(PLAN_PINS)
        pin = ["taskset", "-c", f"0-{cores - 1}"]
    out = subprocess.run(
        pin + [sys.executable, *argv],
        capture_output=True, text=True, check=True, cwd=REPO, env=env,
    )
    lines = [ln for ln in out.stdout.strip().splitlines() if ln.startswith("{")]
    return json.loads(lines[-1]) if lines else {}


def units(args, workdir: str) -> dict:
    """Name -> child argv for one trial at ``cores``. Input generation runs
    here, before any timing."""
    if args.workload == "kg":
        pages = os.path.join(workdir, "pages_raw")
        size = ["--n-docs", str(args.n_docs), "--words", args.words,
                "--terms-per-type", str(args.terms_per_type)]
        run_child(["bench.py", "--gen-only", "--pages-path", pages, *size])
        return {"kg_build": lambda cores: [
            "bench.py", "--kg-only", "--cores", str(cores), "--pages-path", pages, *size,
        ]}
    if args.workload == "curate":
        docs = os.path.join(workdir, "docs")
        run_child(["-c", CURATE_GEN, str(args.n_docs), args.words, docs])
        # fresh warehouse per trial: resume would skip every stage
        return {"curate": lambda cores: [
            os.path.join("scripts", "curate_job.py"), "--docs", docs,
            "--warehouse", tempfile.mkdtemp(prefix=f"wh_{cores}_", dir=workdir),
            "--local-cores", str(cores),
        ]}
    sf = ["--sf-dir", args.sf_dir] if args.sf_dir else []
    return {
        q: lambda cores, q=q: [
            os.path.join("scripts", "query_job.py"), "--query", q, "--cores", str(cores), *sf,
        ]
        for q in args.queries.split(",") if q
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=sorted(WORKLOADS), default="kg")
    ap.add_argument("--n-docs", type=int)
    ap.add_argument("--words")
    ap.add_argument("--terms-per-type", type=int, default=150)
    ap.add_argument("--queries", default=",".join(DEFAULT_QUERIES))
    ap.add_argument("--sf-dir", default=None, help="default: query_job.py's")
    ap.add_argument("--trials", type=int)
    ap.add_argument("--levels", default="1,4")
    args = ap.parse_args()
    spec = WORKLOADS[args.workload]
    for k, v in spec["defaults"].items():
        if getattr(args, k) is None:
            setattr(args, k, v)
    lo, hi = (int(x) for x in args.levels.split(","))

    load_before = os.getloadavg()
    workdir = tempfile.mkdtemp(prefix=f"ckg_scaling_{args.workload}_")
    rows = []
    for name, argv in units(args, workdir).items():
        trials = {c: [run_child(argv(c), c) for _ in range(args.trials)] for c in (lo, hi)}
        counts = {r[spec["sentinel"]] for rs in trials.values() for r in rs}
        if len(counts) != 1:
            sys.exit(f"{name}: {spec['sentinel']} differs across runs: {trials}")
        best = {c: min(rs, key=lambda r: r["seconds"]) for c, rs in trials.items()}
        med = {c: statistics.median(r["seconds"] for r in rs) for c, rs in trials.items()}
        row = {
            "run": name,
            "count": counts.pop(),
            "best": best,
            "eff": round(best[lo]["seconds"] / best[hi]["seconds"] / (hi / lo), 3),
            "eff_median": round(med[lo] / med[hi] / (hi / lo), 3),
        }
        rows.append(row)
        print(json.dumps(row))
    load_after = os.getloadavg()
    shutil.rmtree(workdir, ignore_errors=True)

    if args.workload == "query":
        size = os.path.basename(rows[0]["best"][lo]["sf_dir"].rstrip("/"))
    else:
        size = f"{args.n_docs} docs, body {args.words} words"
    rate = spec["rate"]
    with open(os.path.join(REPO, "BENCH.md"), "a") as f:
        f.write(
            f"\n## Scaling run: {args.workload} (local[{lo}] vs local[{hi}] CPU-pinned, "
            f"{size}, best of {args.trials}, constant-plan pins)\n\n"
            f"loadavg before {load_before[0]:.2f}/{load_before[1]:.2f}, "
            f"after {load_after[0]:.2f}/{load_after[1]:.2f} (1/5 min)\n\n"
            f"| run | s @{lo}c | s @{hi}c | speedup | efficiency /{hi // lo} "
            f"| median-based | {spec['sentinel']} |"
            + (f" {rate} @{lo}c | @{hi}c |" if rate else "")
            + "\n|" + "---|" * (7 + 2 * bool(rate)) + "\n"
        )
        for r in rows:
            b_lo, b_hi = r["best"][lo], r["best"][hi]
            f.write(
                f"| {r['run']} | {b_lo['seconds']} | {b_hi['seconds']} "
                f"| {b_lo['seconds'] / b_hi['seconds']:.2f}x | {r['eff']} "
                f"| {r['eff_median']} | {r['count']} |"
                + (f" {b_lo[rate]} | {b_hi[rate]} |" if rate else "")
                + "\n"
            )
            # per-stage wall seconds (from the warehouse's _metrics.jsonl)
            stages = [s for s in b_lo.get("stages", {}) if b_hi.get("stages", {}).get(s)]
            if stages:
                f.write(f"\n| stage | s @{lo}c | s @{hi}c | speedup |\n|---|---|---|---|\n")
                for s in stages:
                    s_lo, s_hi = b_lo["stages"][s], b_hi["stages"][s]
                    f.write(f"| {s} | {s_lo} | {s_hi} | {s_lo / s_hi:.2f}x |\n")
    print("appended to BENCH.md")


if __name__ == "__main__":
    main()
