"""SparkSession factory with scale-oriented defaults.

Tuned for the sandbox (local[N], single JVM) but every knob is the one you
would set on a 1000-executor cluster reading 100 TB:

- AQE on (runtime coalescing + skew-join splitting) — replaces the reference's
  hand-scheduled joblib parallelism (/root/reference
  src/graphdb_builder/databases/databases_controller.py:291).
- Arrow on — every Python-side operator in this engine is a vectorized
  pandas UDF / mapInPandas, never per-row Python.
- shuffle partitions sized from the core count (override with
  SPARK_GRAFT_SHUFFLE_PARTITIONS); on a real cluster this would be
  2-3x total executor cores, with AQE coalescing the tail.
- one JIT/GC policy, ``JVM_OPTIONS``, for every JVM the engine starts
  (see below).

JVM policy. A build is a batch job on a fresh JVM, and most of what its
first operation costs is not the engine's work. On a 4-vCPU host (JDK 17
defaults) the first ``kg_dense`` operation of ``perfbench/run.py`` used
73 CPU-s in the JVM: 38 in the C2 compiler threads, 7 in C1 and 12 in the
executor task threads. So the lever is the JVM's compile policy, not a
hot spot in engine code:

- ``-XX:+UseParallelGC``: the throughput collector, for a batch job with no
  pause-time target. Its write barriers are smaller than G1's: less code
  for C2 to compile and less work per reference store (measured as C2 and
  executor-thread time, not as GC-thread time).
- ``Tier4InvocationThreshold``/``Tier4BackEdgeThreshold`` at ten times and
  ``Tier4CompileThreshold`` at four times the JDK defaults (5000, 40000,
  15000): C2 compiles only code that stays hot, instead of the many
  planning and set-up methods that run a few thousand times and never
  again. A long job reaches these counts within milliseconds on its hot
  loops, so its steady state does not change.

``get_spark`` passes it as ``spark.driver.defaultJavaOptions``, which the
launcher puts BEFORE ``spark.driver.extraJavaOptions``: a caller's flags
still win. ``scripts/submit_build.py`` passes it to the driver and the
executors. Measured in ten alternating runs per side (BENCH.md, "One JIT/GC
policy"): curate's first-operation CPU 53.8 -> 40.7 s and set-up CPU 27.4
-> 19.2 s (medians); C2 time on kg_dense's first operation 38 -> 18 s; a
warm kg_dense operation and a 20k-doc build take the same wall time.
Each flag group pays on its own (curate first-operation CPU, medians of
two: 54.7 s -> 43.6 s with the thresholds alone, 50.5 s with ParallelGC
alone, 40.8 s with both). Rejected after measurement: C1 only
(``TieredStopAtLevel=1``; warm operation 12.6 -> 18 s wall),
``CICompilerCount=2``, ``CompileThresholdScaling`` and
``-TieredCompilation`` (noise or worse when warm).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

JVM_OPTIONS = " ".join([
    "-XX:+UseParallelGC",
    "-XX:Tier4InvocationThreshold=50000",
    "-XX:Tier4CompileThreshold=60000",
    "-XX:Tier4BackEdgeThreshold=400000",
])


def get_spark(
    app_name: str = "ckg_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = int(
            os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", str(max(cores, 8)))
        )
    # local mode puts driver + all executor threads in ONE JVM: size the
    # heap for the whole node (~1 GB/core, 16 GB floor), not a driver alone
    # — 8g starved 32 task threads into GCLocker retry failures at 500k
    # docs. On a real cluster this maps to executor memory instead.
    # ParallelGC keeps the heap it grows, so the default never exceeds
    # three quarters of physical memory (a 16g heap on a 16 GB host grew
    # the JVM to 12.7 GB RSS); SPARK_GRAFT_DRIVER_MEM overrides.
    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    heap_mb = min(max(16, cores) * 1024, phys_mb * 3 // 4)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cores}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        # coalescing targets defaultParallelism ("parallelism first"), so
        # the two levels of a scaling run get DIFFERENT reduce plans (1-2
        # giant partitions at local[1] vs 5-6 ragged ones at local[4]);
        # scaling runs disable it via env so both levels run the same
        # fixed reduce partitioning. Everywhere else it stays on.
        .config(
            "spark.sql.adaptive.coalescePartitions.enabled",
            os.environ.get("SPARK_GRAFT_AQE_COALESCE", "true"),
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # small-file inputs must still fan out across every core: without a
        # floor, a 2 MB parquet scans as ONE partition and any expensive
        # narrow map after it (shingling, UDFs) runs single-threaded. The
        # split size is max(openCostInBytes, totalBytes/minPartitionNum),
        # so the default 4 MB openCost must come down for the floor to
        # bite. 3x cores (the same over-decomposition rule as shuffle
        # partitions on a real cluster) so a stage of equal-cost scan
        # tasks packs the cores instead of leaving a half-empty last
        # wave (measured: 6 tasks on 4 cores ran 2 waves at 0.75 pack).
        # At 100 TB maxPartitionBytes (128 MB) rules instead.
        # SPARK_GRAFT_MIN_SCAN_PARTITIONS overrides for scaling runs,
        # where BOTH parallelism levels must plan the same file splits
        # (a real N- vs 4N-executor cluster reads identical splits —
        # split size is a cluster constant, not a per-job function of
        # executor count; 3*cores at 1 core hands the low level 3 huge
        # low-overhead tasks the high level never sees).
        .config(
            "spark.sql.files.minPartitionNum",
            os.environ.get("SPARK_GRAFT_MIN_SCAN_PARTITIONS", str(3 * cores)),
        )
        .config("spark.sql.files.openCostInBytes", str(64 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", f"{heap_mb}m"),
        )
        .config("spark.driver.defaultJavaOptions", JVM_OPTIONS)
        .config("spark.ui.enabled", "false")
        # the status store retains per-execution metadata EVEN with the UI
        # off — including full physical-plan description strings. This
        # engine's plans are huge (fixed-depth continued-fraction
        # expressions, unrolled-iteration oracles), so the default 1000
        # retained executions accumulate gigabytes over a long query
        # suite and drive the JVM into GC thrash (measured: the 28-query
        # bench tail ran 30x slower than fresh-session). Keep a handful.
        .config("spark.sql.ui.retainedExecutions", "8")
        .config("spark.ui.retainedJobs", "100")
        .config("spark.ui.retainedStages", "200")
        .config("spark.ui.retainedTasks", "10000")
        .config("spark.sql.parquet.compression.codec", "snappy")
        # 16 MB row groups keep every written file SPLITTABLE: parquet
        # scans can only split at row-group boundaries, and the writer's
        # default 128 MB block makes any stage-output file under 128 MB a
        # single row group = one task for the next stage regardless of
        # core count (measured: a 39 MB file holding half the corpus
        # capped the whole curation DAG at ~2x on 4 cores). At 100 TB the
        # trade is mild — 8 row groups per 128 MB split, finer pushdown
        # granularity, slightly more footer metadata.
        .config("spark.hadoop.parquet.block.size", str(16 * 1024 * 1024))
        # v2 commit: tasks move their files into place as they finish
        # (parallel) instead of one serial job-commit rename pass — the
        # job-commit pass is pure serial time at every stage boundary
        .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
