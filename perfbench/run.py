#!/usr/bin/env python3
"""Benchmark of the ckg_spark engine: one run of one workload.

    python3 perfbench/run.py --workload kg_dense --seed 1 --seconds 1 --trace 0

Run from the root of a source checkout. The workloads are described in
``perfbench/workloads.py``, the inputs in ``perfbench/inputs.py``.

A run pins itself to 4 CPUs, makes its inputs from ``--seed`` (cached in
``.bench_cache/``), then starts a fresh Spark session (the set-up: from
process start until the session is up and its Python workers are warm;
input generation is left out).
On that session it runs ``WARMUP_OPS[trace]`` untimed warm-up operations on
a tenth of the input and then timed operations back to back for
``--seconds`` seconds, and at least ``MIN_TIMED_OPS[trace]`` of them (closed
loop, one operation in flight). Every operation's output counts are checked
(see ``check``); an operation that raises or whose counts are wrong is
failed, and a dead JVM fails the operations the run still owed.

``--trace 0`` reports the end-to-end metrics: ``op_cpu_s``, the median CPU
time of the timed operations (a KG build and a pass over the catalog
queries, or a curation run), and ``setup_s``, the CPU time of the set-up.
Both count user and system time of the driver, the JVM and the Python
workers. They are CPU times because the benchmark's 4-vCPU host shares its
cores: the hypervisor steals up to a tenth of their time in bursts of a
minute or two, which moved the wall time of one operation by 0.27 of its
median over ten runs, and its CPU time by a few hundredths. The wall times
are per-layer metrics of the traced run. It runs no warm-up, so its first
operation is the first on a fresh JVM, as a batch job run with
spark-submit is: it pays class loading, code generation and the Python
workers' imports as well as the work. Every operation of the benchmark
takes more than a second, so with ``--seconds 1`` it times exactly that one.
``--trace 1`` warms the JVM up first (the layers are measured on warm
code), then alternates untraced and traced operations and reports the
per-layer metrics as medians over the traced operations: each stage's wall
time ``<stage>.s`` and Spark cost, the pipeline's time outside any stage
(``kg.run_self_s``, ``curate.run_self_s``), time in lakehouse writes and
manifest reads, output counts, each query's wall time ``q.<name>.s`` and
their median and third quartile, the JVM's peak RSS, and
``trace_overhead_s``, the traced minus the untraced median wall time, and
the wall times ``op_wall_s`` (median over the untraced operations) and
``setup_wall_s``.
Metrics of a layer the workload does not run read 0. The spans are
written to ``.bench_out/``.

Output: a line of host context (loadavg before and after, the share of CPU
time stolen by the hypervisor, CPU set, the wall time of every operation and
of the whole run), then,
as the last line, ``{"correct", "attempted", "failed", "metrics"}``.
Without the engine's sources next to it the script exits with status 2 and
prints no result.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
CACHE = os.path.join(ROOT, ".bench_cache")
OUT = os.path.join(ROOT, ".bench_out")
EXPECTED = os.path.join(HERE, "expected.json")
# by --trace; a traced run alternates untraced and traced operations and
# needs one of each
WARMUP_OPS = {0: 0, 1: 1}
MIN_TIMED_OPS = {0: 1, 1: 2}
N_CPUS = 4

END_TO_END = {
    "op_cpu_s": "s",
    "setup_s": "s",
}


def per_layer_names() -> list[str]:
    from perfbench.workloads import CURATE_STAGES, KG_STAGES, QUERIES

    cost = ["s", "cpu_s", "gc_s", "shuffle_write_mb", "spill_mb", "task_skew"]
    names = [f"{s}.{c}" for s in KG_STAGES + CURATE_STAGES for c in cost]
    names += ["op_wall_s", "setup_wall_s", "kg.run_self_s", "curate.run_self_s",
              "lakehouse.write_s", "lakehouse.manifest_s", "trace_overhead_s", "peak_rss_mb",
              "tag.rows_out", "link.rows_out", "materialize.orphan_edges"]
    names += [f"{s}.rows_out" for s in CURATE_STAGES]
    names += [f"q.{q}.s" for q in QUERIES] + ["query_p50_s", "query_p75_s"]
    return names


def per_layer_unit(name: str) -> str:
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_s") or name.endswith(".s"):
        return "s"
    if name.endswith("task_skew"):
        return "ratio"
    return "count"


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies of the host's CPUs: the share stolen by a
    hypervisor shows a run slowed by co-tenants."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7] if len(fields) > 7 else 0, sum(fields)


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system) of process ``root`` and its live
    descendants, counting each one's reaped children: the driver, the JVM,
    and the Python workers the JVM forks."""
    tick = os.sysconf("SC_CLK_TCK")
    stats = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:  # exited while listing
                continue
            # after the command: state ppid ... utime(12) stime cutime cstime
            stats[int(name)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += stats.get(pid, (0, 0))[1]
        todo += children.get(pid, [])
    return total / tick


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def confine_temp_files(workdir: str) -> None:
    """Point Spark's local dirs and the Python and JVM temp dirs into
    ``workdir``, so a run writes nothing outside the checkout."""
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(workdir, "spark-local")
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    # -XX:-UsePerfData: the JVM would otherwise keep its perf file in /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"


def start_session():
    """A fresh JVM with a warm Python worker pool."""
    import pandas as pd
    from ckg_spark.session import get_spark

    spark = get_spark("perfbench", extra_conf={"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    spark.createDataFrame(pd.DataFrame({"x": range(1000)})).mapInPandas(
        lambda it: it, "x long"
    ).selectExpr("sum(x)").collect()
    return spark


def stop_session(spark) -> None:
    """Stop ``spark`` and wait until its JVM has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    try:
        spark.stop()
    except Exception as e:  # a JVM that died mid-run cannot be stopped cleanly
        print(f"perfbench: stopping the session: {e}", file=sys.stderr)
    finally:
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()  # the JVM exits when its stdin closes
                try:
                    proc.wait(timeout=30)
                except Exception:
                    proc.kill()
                    proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None


def jvm_alive(spark) -> bool:
    try:
        return not spark.sparkContext._jsc.sc().isStopped()
    except Exception:
        return False


def check(counts: dict, first: dict | None, recorded: dict | None, bad: list[str]) -> list[str]:
    """Problems with one operation's output counts: invariants, agreement
    with the run's first operation, and equality with the recorded
    sentinel of this seed when one exists."""
    problems = list(bad)
    if first is not None and counts != first:
        problems.append(f"counts differ from the run's first operation: {counts} vs {first}")
    if recorded is not None and counts != recorded:
        problems.append(f"counts differ from the recorded sentinel: {counts} vs {recorded}")
    return problems


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    sys.path.insert(0, ROOT)
    try:
        import ckg_spark  # noqa: F401
        from perfbench.workloads import SETTINGS, WORKLOADS, runner
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    w = WORKLOADS[args.workload]

    cpus = sorted(os.sched_getaffinity(0))[:N_CPUS]
    os.sched_setaffinity(0, cpus)  # inherited by the JVM and its Python workers
    os.environ.update(SETTINGS)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in [ROOT, os.environ.get("PYTHONPATH")] if p
    )
    host = {"workload": w.name, "seed": args.seed, "cpus": cpus, "loadavg_before": loadavg()}
    steal0, total0 = cpu_jiffies()
    workdir = os.path.join(OUT, f"{w.name}-{args.seed}-{os.getpid()}")
    confine_temp_files(workdir)

    with open(EXPECTED) as f:
        recorded = json.load(f).get(w.name, {}).get(str(args.seed))

    t_gen, cpu_gen = time.perf_counter(), tree_cpu_s(os.getpid())
    job = runner(w, CACHE, args.seed, workdir)  # input generation: not timed
    host["input_s"] = time.perf_counter() - t_gen
    import_s = t_gen - T_START
    input_cpu_s = tree_cpu_s(os.getpid()) - cpu_gen

    spark = None
    ops: list[dict] = []
    tracer = None
    try:
        t0 = time.perf_counter()
        spark = start_session()
        setup_wall_s = import_s + time.perf_counter() - t0
        setup_cpu_s = tree_cpu_s(os.getpid()) - input_cpu_s
        jvm_pid = spark.sparkContext._jvm.ProcessHandle.current().pid()
        job.start(spark)
        if args.trace:
            from perfbench.trace import Tracer

            tracer = Tracer(spark)

        first = None
        while True:
            n = len(ops) - WARMUP_OPS[args.trace]  # index among the timed operations
            if n == 0:
                deadline = time.perf_counter() + args.seconds
            op = {"warmup": n < 0, "traced": bool(args.trace) and n % 2 == 1}
            cpu0 = tree_cpu_s(os.getpid())
            try:
                if op["warmup"]:
                    op["wall"], op["counts"] = job.op(warmup=True)
                elif op["traced"]:
                    first_span = len(tracer.spans)
                    with tracer.patched():
                        op["wall"], op["counts"] = job.op(
                            lambda prefix: tracer.span(f"{prefix}.run")
                        )
                    op["roots"] = tracer.roots_since(first_span)
                else:
                    op["wall"], op["counts"] = job.op()
                op["cpu"] = tree_cpu_s(os.getpid()) - cpu0
                op["layers"] = job.layers()
                op["problems"] = [] if op["warmup"] else check(
                    op["counts"], first, recorded, job.invariants(op["counts"])
                )
                if not op["warmup"]:
                    first = first or op["counts"]
            except Exception:
                op["problems"] = [traceback.format_exc(limit=3)]
            ops.append(op)
            if op["problems"]:
                print(f"perfbench: operation {len(ops) - 1} failed: {op['problems']}",
                      file=sys.stderr)
                if not jvm_alive(spark):
                    # the operations this run still owed fail with it
                    owed = WARMUP_OPS[args.trace] + MIN_TIMED_OPS[args.trace] - len(ops)
                    ops += [{"warmup": False, "traced": False,
                             "problems": ["not run: the JVM died"]}] * max(owed, 0)
                    break
            if n + 1 >= MIN_TIMED_OPS[args.trace] and time.perf_counter() >= deadline:
                break
        peak_rss = vm_hwm_mb(jvm_pid) if jvm_alive(spark) else 0.0
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(workdir, ignore_errors=True)

    timed = [o for o in ops if not o["warmup"]]
    ok = [o for o in timed if not o["problems"]]
    failed = sum(1 for o in ops if o["problems"])
    host["loadavg_after"] = loadavg()
    steal1, total1 = cpu_jiffies()
    host["cpu_steal_share"] = (steal1 - steal0) / max(total1 - total0, 1)
    host["op_walls"] = [round(o["wall"], 4) for o in ops if "wall" in o]
    host["op_cpus"] = [round(o["cpu"], 3) for o in ops if "cpu" in o]
    host["setup_wall_s"] = setup_wall_s
    host["run_s"] = time.perf_counter() - T_START
    print(json.dumps(host))

    plain = [o for o in ok if not o["traced"]]
    if args.trace == 0:
        # with no correct operation, those of the failed ones (the result is
        # not correct either way)
        op_cpus = [o["cpu"] for o in plain] or [o["cpu"] for o in timed if "cpu" in o] or [0.0]
        metrics = {"op_cpu_s": statistics.median(op_cpus), "setup_s": setup_cpu_s}
        units = END_TO_END
    else:
        from perfbench.trace import median_metrics

        traced_ops = [o for o in ok if o["traced"]]
        layers = median_metrics(
            [{**{k: v for root in o["roots"] for k, v in tracer.layer_metrics(root).items()},
              **o["layers"],
              **{k: v for k, v in o["counts"].items() if not isinstance(v, str)}}
             for o in traced_ops]
        )
        if traced_ops and plain:
            layers["trace_overhead_s"] = (
                statistics.median(o["wall"] for o in traced_ops)
                - statistics.median(o["wall"] for o in plain)
            )
        if plain:
            layers["op_wall_s"] = statistics.median(o["wall"] for o in plain)
        layers["setup_wall_s"] = setup_wall_s
        layers["peak_rss_mb"] = peak_rss
        names = per_layer_names()
        metrics = {k: layers.get(k, 0.0) for k in names}
        units = {k: per_layer_unit(k) for k in names}
        os.makedirs(OUT, exist_ok=True)
        with open(os.path.join(OUT, f"trace-{w.name}-{args.seed}.json"), "w") as f:
            json.dump({"host": host, "spans": tracer.dump(),
                       "ops": [{k: v for k, v in o.items() if k != "roots"} for o in ops]}, f)

    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
