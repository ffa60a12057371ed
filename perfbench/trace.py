"""In-memory span tracing for the traced benchmark run.

Spans are recorded from the benchmark's own files, around calls into the
engine's public functions. ``patched`` swaps each traced function for a
wrapper at the name where callers look it up, and restores it on exit:

- ``ckg_spark.pipeline.run_stage`` and ``ckg_spark.curate.run_stage``: one
  span per pipeline stage, named after the stage;
- ``ckg_spark.pipeline.materialize_graph``: the ``materialize`` stage;
- ``ckg_spark.lakehouse.Table`` writes (``overwrite``, ``append``,
  ``merge_insert_absent``) and manifest reads (``row_count``,
  ``snapshots``): ``lakehouse.write`` and ``lakehouse.manifest`` spans.

Each span holds name, start, end and parent. Stage spans also run their
Spark jobs under a job group of their own; when the span ends, the
listener bus is drained (the status store is filled from it
asynchronously) and the store is read for the completed stages of that
group (executor CPU, GC, shuffle write, spill and task skew).
"""

from __future__ import annotations

import functools
import statistics
import time
from contextlib import contextmanager

MB = 1024 * 1024


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, spark_cost: bool = False):
        idx = len(self.spans)
        rec = {"name": name, "start": time.perf_counter(), "end": None,
               "parent": self._stack[-1] if self._stack else None}
        self.spans.append(rec)
        self._stack.append(idx)
        if spark_cost:
            group = f"perfbench-span-{id(self)}-{idx}"
            prev = self.sc.getLocalProperty("spark.jobGroup.id")
            self.sc.setLocalProperty("spark.jobGroup.id", group)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if spark_cost:
                self.sc.setLocalProperty("spark.jobGroup.id", prev)
                rec["spark"] = self._spark_cost(group)

    def _spark_cost(self, group: str) -> dict:
        """Executor cost of every completed Spark stage run under ``group``."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        jobs = [tracker.getJobInfo(j) for j in tracker.getJobIdsForGroup(group)]
        stage_ids = {s for job in jobs if job is not None for s in job.stageIds}
        jvm = self.sc._jvm
        store = self.sc._jsc.sc().statusStore()
        quantiles = self.sc._gateway.new_array(jvm.double, 2)
        quantiles[0], quantiles[1] = 0.5, 1.0
        cost = {"cpu_s": 0.0, "gc_s": 0.0, "shuffle_write_mb": 0.0, "spill_mb": 0.0,
                "task_skew": 1.0, "spark_stages": 0}
        heaviest = -1
        for sid in sorted(stage_ids):
            attempts = store.stageData(sid, False, jvm.java.util.ArrayList(), True, quantiles)
            for i in range(attempts.length()):
                st = attempts.apply(i)
                if st.status().toString() != "COMPLETE":
                    continue
                cost["spark_stages"] += 1
                cost["cpu_s"] += st.executorCpuTime() / 1e9
                cost["gc_s"] += st.jvmGcTime() / 1e3
                cost["shuffle_write_mb"] += st.shuffleWriteBytes() / MB
                cost["spill_mb"] += st.diskBytesSpilled() / MB
                dist = st.taskMetricsDistributions()
                if st.executorRunTime() > heaviest and dist.isDefined():
                    heaviest = st.executorRunTime()
                    run_times = dist.get().executorRunTime()
                    median, peak = run_times.apply(0), run_times.apply(1)
                    cost["task_skew"] = peak / median if median > 0 else 1.0
        return cost

    def wrap(self, fn, name, spark_cost: bool = False):
        """``fn`` recorded as a span; ``name`` is a string or a function of
        the call's arguments."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            label = name(*args, **kwargs) if callable(name) else name
            with self.span(label, spark_cost):
                return fn(*args, **kwargs)

        return traced

    @contextmanager
    def patched(self):
        import ckg_spark.curate as curate
        import ckg_spark.pipeline as pipeline
        from ckg_spark.lakehouse import Table

        def stage_name(spark, wh, ckpt, name, *rest, **kw):
            return name

        targets = [
            (pipeline, "run_stage", stage_name, True),
            (curate, "run_stage", stage_name, True),
            (pipeline, "materialize_graph", "materialize", True),
            (Table, "overwrite", "lakehouse.write", False),
            (Table, "append", "lakehouse.write", False),
            (Table, "merge_insert_absent", "lakehouse.write", False),
            (Table, "row_count", "lakehouse.manifest", False),
            (Table, "snapshots", "lakehouse.manifest", False),
        ]
        originals = [(owner, attr, getattr(owner, attr)) for owner, attr, _, _ in targets]
        try:
            for (owner, attr, name, cost), (_, _, fn) in zip(targets, originals):
                setattr(owner, attr, self.wrap(fn, name, cost))
            yield self
        finally:
            for owner, attr, fn in originals:
                setattr(owner, attr, fn)

    # -- summaries ------------------------------------------------------------
    def _dur(self, rec: dict) -> float:
        return rec["end"] - rec["start"]

    def _ancestors(self, idx: int):
        p = self.spans[idx]["parent"]
        while p is not None:
            yield p
            p = self.spans[p]["parent"]

    def roots_since(self, first: int) -> list[int]:
        """The top-level spans from ``self.spans[first]`` on."""
        return [i for i in range(first, len(self.spans)) if self.spans[i]["parent"] is None]

    def layer_metrics(self, root: int) -> dict[str, float]:
        """Per-layer metrics of the spans under ``self.spans[root]``, a
        ``<prefix>.run`` span: for each stage span its wall ``<stage>.s``
        and Spark cost; the root's self time outside any stage span
        (``<prefix>.run_self_s``); and the time in the lakehouse layer
        (outermost spans of each kind)."""
        out: dict[str, float] = {}
        stage_total = 0.0
        for idx, rec in enumerate(self.spans):
            if idx <= root or rec["end"] is None:
                continue
            ancestors = list(self._ancestors(idx))
            if root not in ancestors:
                continue
            if "spark" in rec:
                stage_total += self._dur(rec)
                out[f"{rec['name']}.s"] = out.get(f"{rec['name']}.s", 0.0) + self._dur(rec)
                for k, v in rec["spark"].items():
                    if k != "spark_stages":
                        out[f"{rec['name']}.{k}"] = v
            elif rec["name"].startswith("lakehouse.") and not any(
                self.spans[a]["name"] == rec["name"] for a in ancestors
            ):
                key = rec["name"] + "_s"
                out[key] = out.get(key, 0.0) + self._dur(rec)
        out[f"{self.spans[root]['name']}_self_s"] = self._dur(self.spans[root]) - stage_total
        return out

    def dump(self) -> list[dict]:
        t0 = self.spans[0]["start"] if self.spans else 0.0
        return [
            {**rec, "start": rec["start"] - t0, "end": (rec["end"] or t0) - t0}
            for rec in self.spans
        ]


def median_metrics(samples: list[dict[str, float]]) -> dict[str, float]:
    keys = {k for s in samples for k in s}
    return {k: statistics.median(s.get(k, 0.0) for s in samples) for k in sorted(keys)}
