"""The benchmark's workloads: inputs, the timed operation, and its checks.

Each workload is a closed loop with one caller and one operation in flight.
An operation runs the workload's parts one after the other:

- ``kg_dense``: ``KGPipeline.run`` against a fresh warehouse over
  glossary-like pages from a 10k-term vocabulary, each English page tagging
  exactly 30 distinct entities plus one hub, so the co-mention link stage
  and the materialize merge of ~1.3x10^5 triples lead and html extraction
  and tagging stay small; then one pass over ``QUERIES``, catalog queries
  from ``bench.HEADLINE`` that run the analytics layers behind
  ``queries.catalog`` (stats, impute, wgcna, graph) and the small ``tag``
  calls of ``q_kg_comention``, on seeded TPC-H-like tables.
- ``curate``: ``CurationPipeline.run`` against a fresh warehouse over
  documents carrying ``url`` and ``warc_ts``, with planted recrawls, exact
  copies and near copies; it runs no KG code.

Seed 1000 is held out of tuning: a change that claims a gain shows it on
that seed too (its sentinels are recorded like those of seeds 0-29).

Both workloads pin the engine settings in ``SETTINGS``. They fix the
physical plan, so a parent commit and a change plan the same splits,
shuffle partitions and reduce coalescing, and they keep the Spark JVM heap
below the memory of a 4-core, 15 GB host (the session default is 16 GB).
"""

from __future__ import annotations

import hashlib
import os
import shutil
import statistics
import time
from contextlib import nullcontext
from dataclasses import dataclass

from . import inputs
from .inputs import CurateProfile, PagesProfile, QueryProfile

SETTINGS = {
    "SPARK_GRAFT_CPUS": "4",
    "SPARK_GRAFT_DRIVER_MEM": "6g",
    "SPARK_GRAFT_SHUFFLE_PARTITIONS": "8",
    "SPARK_GRAFT_MIN_SCAN_PARTITIONS": "12",
    "SPARK_GRAFT_AQE_COALESCE": "true",
}


@dataclass(frozen=True)
class Part:
    kind: str  # "kg" | "curate" | "queries"
    profile: PagesProfile | CurateProfile | QueryProfile
    # a tenth of the input: the untimed warm-up of a traced run runs the
    # same code on it, so the JVM's class loading, code generation and JIT
    # and the Python workers' imports are paid before the timed operations
    warmup: PagesProfile | CurateProfile | QueryProfile


@dataclass(frozen=True)
class Workload:
    name: str
    parts: tuple[Part, ...]


WORKLOADS = {
    w.name: w
    for w in [
        Workload("kg_dense", (
            Part("kg",
                 PagesProfile(n_docs=250, words=(150, 450), entities=30, terms_per_type=2000),
                 PagesProfile(n_docs=25, words=(150, 450), entities=30, terms_per_type=2000)),
            Part("queries",
                 QueryProfile(n_part=400, n_supp=40, n_lineitem=8_000, n_users=150,
                              n_events=3_000, n_docs=400),
                 QueryProfile(n_part=100, n_supp=20, n_lineitem=2_000, n_users=50,
                              n_events=500, n_docs=50)),
        )),
        Workload("curate", (
            Part("curate",
                 CurateProfile(n_base=250, words=(80, 300)),
                 CurateProfile(n_base=25, words=(80, 300))),
        )),
    ]
}

# in bench.HEADLINE order
QUERIES = ["q_kg_comention", "q_impute_knn", "q_wgcna_soft_threshold", "q_graph_kcore"]
# queries whose result digest did not repeat over 10 passes on one seed
# (``record.py --repeat 10``): they are checked by row count only
ROW_COUNT_ONLY: list[str] = []

CURATE_STAGES = [
    "curate_url_dedup", "curate_exact_dedup", "curate_pii", "curate_span_dedup",
    "curate_quality", "curate_lm", "curate_neardup", "curate_split_pack",
]
KG_STAGES = ["tag", "canon", "link", "materialize"]


def _fresh(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)


class KGBuild:
    """One ``KGPipeline.run`` per operation. The pipeline object (and its
    vocabulary) is built once; each operation starts from an empty
    warehouse directory, so no stage can resume."""

    run_prefix = "kg"

    def __init__(self, name: str, part: Part, cache: str, seed: int, workdir: str):
        self.profile = part.profile
        self.seed = seed
        self.pages_path = inputs.kg_pages(cache, name, seed, part.profile)
        # the warm-up pages share the vocabulary: it depends on the seed only
        self.warm_path = inputs.kg_pages(cache, name, seed, part.warmup)
        self.wh_root = os.path.join(workdir, "warehouse")

    def start(self, spark) -> None:
        from ckg_spark.pipeline import KGPipeline

        self.pages = spark.read.parquet(self.pages_path)
        self.warm_pages = spark.read.parquet(self.warm_path)
        self.pipe = KGPipeline(
            spark, self.wh_root, vocab_cfg=inputs.kg_vocab_config(self.seed, self.profile)
        )

    def op(self, around=nullcontext, warmup: bool = False) -> tuple[float, dict]:
        """Time one build; ``around(run_prefix)`` is entered around the
        timed call. ``warmup`` runs it on the warm-up input."""
        from ckg_spark.lakehouse import Warehouse

        _fresh(self.wh_root)
        with around(self.run_prefix):
            t0 = time.perf_counter()
            stats = self.pipe.run(pages=self.warm_pages if warmup else self.pages)
            wall = time.perf_counter() - t0
        rows = {m["stage"]: m.get("rows") for m in Warehouse(self.wh_root).metrics()}
        counts = {
            "n_triples": stats["n_triples"],
            "n_nodes": stats["n_nodes"],
            "materialize.orphan_edges": stats["orphan_edges"],
            "tag.rows_out": rows["tag"],
            "link.rows_out": rows["link"],
        }
        return wall, counts

    def layers(self) -> dict[str, float]:
        return {}  # the traced run measures this pipeline's layers

    def invariants(self, counts: dict) -> list[str]:
        bad = []
        if counts["materialize.orphan_edges"] != 0:
            bad.append("orphan edges")
        if counts["tag.rows_out"] != inputs.kg_tagged_rows(self.profile):
            bad.append("tag did not find exactly the planted entities")
        if not 0 < counts["n_triples"] <= counts["link.rows_out"]:
            bad.append("edge count outside (0, triples staged]")
        return bad


class Curation:
    """One ``CurationPipeline.run`` per operation, from an empty warehouse."""

    run_prefix = "curate"

    def __init__(self, name: str, part: Part, cache: str, seed: int, workdir: str):
        self.docs_path, self.planted = inputs.curate_docs(cache, name, seed, part.profile)
        self.warm_path, _ = inputs.curate_docs(cache, name, seed, part.warmup)
        self.wh_root = os.path.join(workdir, "warehouse")
        p = self.planted
        self.n_docs = p["base"] + p["exact_copies"] + p["near_copies"] + p["recrawls"]

    def start(self, spark) -> None:
        self.spark = spark
        self.docs = spark.read.parquet(self.docs_path)
        self.warm_docs = spark.read.parquet(self.warm_path)

    def op(self, around=nullcontext, warmup: bool = False) -> tuple[float, dict]:
        from ckg_spark.curate import CurationPipeline
        from ckg_spark.lakehouse import Warehouse

        _fresh(self.wh_root)
        with around(self.run_prefix):
            t0 = time.perf_counter()
            stats = CurationPipeline(self.spark, self.wh_root).run(
                self.warm_docs if warmup else self.docs
            )
            wall = time.perf_counter() - t0
        rows = {m["stage"]: m.get("rows") for m in Warehouse(self.wh_root).metrics()}
        counts = {"n_curated": stats["n_curated"]}
        counts.update({f"{s}.rows_out": rows[s] for s in CURATE_STAGES})
        return wall, counts

    def layers(self) -> dict[str, float]:
        return {}  # the traced run measures this pipeline's layers

    def invariants(self, counts: dict) -> list[str]:
        p, bad = self.planted, []
        if counts["curate_url_dedup.rows_out"] != self.n_docs - p["recrawls"]:
            bad.append("url dedup did not remove exactly the planted recrawls")
        if (counts["curate_url_dedup.rows_out"] - counts["curate_exact_dedup.rows_out"]
                != p["exact_copies"]):
            bad.append("exact dedup did not remove exactly the planted copies")
        seq = [counts[f"{s}.rows_out"] for s in CURATE_STAGES]
        if any(b > a for a, b in zip(seq, seq[1:])) or counts["n_curated"] <= 0:
            bad.append("a stage added rows, or nothing was curated")
        return bad


def _digest(rows) -> str:
    """Order-free digest of collected rows, doubles rounded to 6 places."""

    def norm(v):
        if isinstance(v, float):
            return round(v, 6) + 0.0  # -0.0 and 0.0 digest alike
        if isinstance(v, (list, tuple)):
            return [norm(x) for x in v]
        if isinstance(v, dict):
            return {k: norm(x) for k, x in sorted(v.items())}
        return v

    lines = sorted(repr(norm(list(r))) for r in rows)
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]


class QuerySuite:
    """One pass over ``QUERIES`` per operation: each query's
    ``CATALOG[q].spark_fn`` is collected, then cached tables and
    checkpoint blocks are released, as ``bench.py`` does between queries."""

    run_prefix = "queries"

    def __init__(self, name: str, part: Part, cache: str, seed: int, workdir: str):
        self.sf_dir = inputs.query_tables(cache, name, seed, part.profile)
        self.warm_dir = inputs.query_tables(cache, name, seed, part.warmup)
        self.query_s: dict[str, float] = {}

    def start(self, spark) -> None:
        self.spark = spark

    def _release(self) -> None:
        self.spark.catalog.clearCache()
        for jrdd in list(self.spark.sparkContext._jsc.getPersistentRDDs().values()):
            jrdd.unpersist()

    def op(self, around=nullcontext, warmup: bool = False) -> tuple[float, dict]:
        from ckg_spark.queries import CATALOG

        counts, self.query_s = {}, {}
        sf_dir = self.warm_dir if warmup else self.sf_dir
        with around(self.run_prefix):
            t0 = time.perf_counter()
            for q in QUERIES:
                tq = time.perf_counter()
                rows = CATALOG[q].spark_fn(self.spark, sf_dir).collect()
                self._release()
                self.query_s[q] = time.perf_counter() - tq
                counts[f"q.{q}.rows"] = len(rows)
                if q not in ROW_COUNT_ONLY:
                    counts[f"q.{q}.digest"] = _digest(rows)
            wall = time.perf_counter() - t0
        return wall, counts

    def layers(self) -> dict[str, float]:
        """Per-query wall times of the last operation, and their quartiles."""
        times = list(self.query_s.values())
        _, p50, p75 = statistics.quantiles(times, n=4)
        return {**{f"q.{q}.s": t for q, t in self.query_s.items()},
                "query_p50_s": p50, "query_p75_s": p75}

    def invariants(self, counts: dict) -> list[str]:
        return [f"{q} returned no rows" for q in QUERIES if counts[f"q.{q}.rows"] == 0]


class Chain:
    """The runners of a workload's parts, run one after the other as one
    operation: its wall time is their sum."""

    def __init__(self, runners: list):
        self.runners = runners

    def start(self, spark) -> None:
        for r in self.runners:
            r.start(spark)

    def op(self, around=nullcontext, warmup: bool = False) -> tuple[float, dict]:
        wall, counts = 0.0, {}
        for r in self.runners:
            w, c = r.op(around, warmup)
            wall += w
            counts.update(c)
        return wall, counts

    def layers(self) -> dict[str, float]:
        return {k: v for r in self.runners for k, v in r.layers().items()}

    def invariants(self, counts: dict) -> list[str]:
        return [bad for r in self.runners for bad in r.invariants(counts)]


def runner(w: Workload, cache: str, seed: int, workdir: str) -> Chain:
    kinds = {"kg": KGBuild, "curate": Curation, "queries": QuerySuite}
    return Chain([kinds[p.kind](w.name, p, cache, seed, workdir) for p in w.parts])
