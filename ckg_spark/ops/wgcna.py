"""WGCNA — weighted gene co-expression network analysis, distributed.

The reference wraps the R WGCNA package via rpy2
(/root/reference/src/analytics_core/analytics/wgcnaAnalysis.py): pick a
soft-threshold power by scale-free-topology fit (pick_softThreshold,
wgcnaAnalysis.py:275-288), raise |cor| to that power (build_network
:256), compute the topological-overlap matrix (TOMsimilarity :259),
cluster 1-TOM into modules (cutreeDynamic :210-236), summarize each
module by its first principal component (calculate_module_eigengenes
:307-333), and correlate eigengenes with clinical traits
(calculate_ModuleTrait_correlation :357-394).

This module re-derives that pipeline Spark-first. The scale split is the
one that matters at 100 TB: everything keyed by FEATURE PAIRS
(correlations, adjacency, TOM, module graph) is dimension-sized — d^2/2
rows for d features — and flows through ordinary joins/aggregations;
everything keyed by SAMPLE (standardization, eigengene scores) stays
distributed and is touched only by one narrow aggregation pass each.
No wide sample x feature matrix is ever materialized.

Cross-engine exactness notes (the DuckDB oracles hash these outputs):
- correlations are rounded to 6 dp FIRST, so all downstream arithmetic
  starts from bitwise-identical doubles in both engines;
- |r|^power is expanded to repeated multiplication (IEEE multiply is
  deterministic; pow() is not correctly rounded and may differ by an
  ulp between the JVM and DuckDB);
- module outputs carry no floats at all (labels + integer sizes), so
  the hash cannot be perturbed by summation order.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..canon.cc import connected_components
from . import special
from .stats import feature_correlation_matrix

GREY = "grey"  # WGCNA's label for features not in any retained module


def _int_pow(col: Column, power: int) -> Column:
    """col**power as repeated multiplication (exact across engines)."""
    if power < 1:
        raise ValueError(f"power must be >= 1, got {power}")
    out = col
    for _ in range(power - 1):
        out = out * col
    return out


def wgcna_adjacency(
    df: DataFrame,
    sample_col: str,
    feature_col: str,
    value_col: str,
    power: int = 6,
    min_n: int = 3,
    corr: DataFrame | None = None,
) -> DataFrame:
    """Unsigned WGCNA adjacency a_ij = |cor(x_i, x_j)|^power from a LONG
    measurement table (WGCNA.adjacency, wgcnaAnalysis.py:256). Returns
    upper-triangle edges (node1 < node2, r, a); r is rounded to 6 dp
    before powering (see module docstring).

    ``corr`` (node1, node2, weight) skips the all-pairs correlation
    self-join — the one corpus-scale pass of the whole WGCNA family —
    when the caller already has it (pearson, same min_n); pipelines that
    need modules AND eigengenes should compute it once and share."""
    if corr is None:
        corr = feature_correlation_matrix(
            df, sample_col, feature_col, value_col, method="pearson", min_n=min_n
        )
    return corr.select(
        "node1",
        "node2",
        F.col("weight").alias("r"),
        _int_pow(F.abs(F.col("weight")), power).alias("a"),
    )


def _symmetrize(adj: DataFrame) -> DataFrame:
    return adj.select(F.col("node1").alias("i"), F.col("node2").alias("j"), "a").unionByName(
        adj.select(F.col("node2").alias("i"), F.col("node1").alias("j"), "a")
    )


def tom_similarity(adj: DataFrame) -> DataFrame:
    """Topological overlap from adjacency edges (WGCNA.TOMsimilarity,
    wgcnaAnalysis.py:259):

        TOM_ij = (l_ij + a_ij) / (min(k_i, k_j) + 1 - a_ij)
        l_ij   = sum_u a_iu * a_uj   (u != i, j)
        k_i    = sum_u a_iu

    One self-join on the shared neighbour u (the edge list never holds
    self-loops, so u != i, j for free) + one degree aggregation — all
    dimension-sized (features^2). The incoming adjacency is pinned first:
    it is consumed by three branches (sym, l's probe, the final join) and
    each would otherwise replay the corpus-scale correlation self-join."""
    adj = adj.localCheckpoint(eager=True)
    sym = _symmetrize(adj).localCheckpoint(eager=True)
    k = sym.groupBy("i").agg(F.sum("a").alias("k"))
    e1, e2 = sym.alias("e1"), sym.alias("e2")
    l = (
        e1.join(e2, (F.col("e1.j") == F.col("e2.j")) & (F.col("e1.i") < F.col("e2.i")))
        .groupBy(F.col("e1.i").alias("node1"), F.col("e2.i").alias("node2"))
        .agg(F.sum(F.col("e1.a") * F.col("e2.a")).alias("l"))
    )
    ki = k.select(F.col("i").alias("node1"), F.col("k").alias("k1"))
    kj = k.select(F.col("i").alias("node2"), F.col("k").alias("k2"))
    joined = (
        adj.join(l, ["node1", "node2"], "left")
        .join(F.broadcast(ki), "node1")
        .join(F.broadcast(kj), "node2")
    )
    tom = (F.coalesce(F.col("l"), F.lit(0.0)) + F.col("a")) / (
        F.least(F.col("k1"), F.col("k2")) + F.lit(1.0) - F.col("a")
    )
    return joined.select("node1", "node2", "a", tom.alias("tom"))


def wgcna_modules(
    df: DataFrame,
    sample_col: str,
    feature_col: str,
    value_col: str,
    power: int = 6,
    tom_cutoff: float = 0.1,
    min_module_size: int = 2,
    min_n: int = 3,
    corr: DataFrame | None = None,
) -> DataFrame:
    """Module detection: threshold the TOM graph and take connected
    components (the distributed stand-in for cutreeDynamic on the
    1-TOM average-linkage tree, wgcnaAnalysis.py:210-236 — a
    single-linkage flat cut at height h IS the connected components of
    the {dissTOM <= h} graph, and min-label CC is the scalable exact
    spelling of that). Components below min_module_size collapse into
    GREY (WGCNA's unassigned label, :303). Returns
    (feature, module, module_size) — module = lexicographic min member,
    deterministic under repartitioning."""
    adj = wgcna_adjacency(df, sample_col, feature_col, value_col, power, min_n, corr=corr)
    tom = tom_similarity(adj)
    # nodes cast to STRING before CC: the features frame below is
    # string-cast, and a numeric feature_col would otherwise make
    # coalesce(bigint component, string feature) and the GREY relabel
    # CASE type-mismatch at plan time
    edges = tom.filter(F.col("tom") >= F.lit(float(tom_cutoff))).select(
        F.col("node1").cast("string").alias("node1"),
        F.col("node2").cast("string").alias("node2"),
    )
    cc = connected_components(edges, "node1", "node2")
    feats = df.select(F.col(feature_col).cast("string").alias("feature")).distinct()
    labeled = feats.join(
        F.broadcast(cc.withColumnsRenamed({"node": "feature", "component": "cc"})),
        "feature",
        "left",
    ).select("feature", F.coalesce(F.col("cc"), F.col("feature")).alias("component"))
    sizes = labeled.groupBy("component").agg(F.count(F.lit(1)).alias("csize"))
    relabeled = labeled.join(F.broadcast(sizes), "component").select(
        "feature",
        F.when(F.col("csize") >= F.lit(int(min_module_size)), F.col("component"))
        .otherwise(F.lit(GREY))
        .alias("module"),
    )
    w = Window.partitionBy("module")
    return relabeled.select(
        "feature", "module", F.count(F.lit(1)).over(w).cast("bigint").alias("module_size")
    )


def soft_threshold(
    df: DataFrame,
    sample_col: str,
    feature_col: str,
    value_col: str,
    powers: tuple[int, ...] = (1, 2, 3, 4, 5, 6),
    n_bins: int = 10,
    min_n: int = 3,
) -> DataFrame:
    """Scale-free-topology fit per candidate power
    (WGCNA.pickSoftThreshold, wgcnaAnalysis.py:275-288; the R package's
    scaleFreeFitIndex): connectivity k_i = sum_j |r_ij|^beta, k binned
    into n_bins equal-width bins, p(k) regressed on k in log10-log10
    space; the signed fit index is -sign(slope) * R^2. One correlation
    pass feeds every power. Returns
    (power, fit_signed_r2, k_mean, k_median, k_max) rounded to 6 dp.

    k is rounded to 6 dp BEFORE binning so bin assignment is bitwise
    identical in the SQL oracle (bin edges from min/max are order-free;
    the sums feeding k are not)."""
    corr = (
        feature_correlation_matrix(
            df, sample_col, feature_col, value_col, method="pearson", min_n=min_n
        )
        .select("node1", "node2", F.abs(F.col("weight")).alias("abs_r"))
        .localCheckpoint(eager=True)  # dimension-sized; feeds every power
    )
    sym = corr.select(F.col("node1").alias("i"), "abs_r").unionByName(
        corr.select(F.col("node2").alias("i"), "abs_r")
    )
    kdf = sym.groupBy("i").agg(
        *[F.round(F.sum(_int_pow(F.col("abs_r"), p)), 6).alias(f"k_{p}") for p in powers]
    )
    longk = kdf.select(
        "i",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(p).alias("power"), F.col(f"k_{p}").alias("k"))
                    for p in powers
                ]
            )
        ).alias("s"),
    ).select("i", "s.power", "s.k")
    ext = longk.groupBy("power").agg(
        F.min("k").alias("kmin"),
        F.max("k").alias("kmax"),
        F.count(F.lit(1)).alias("total"),
        F.round(F.avg("k"), 6).alias("k_mean"),
        F.round(F.expr("percentile(k, 0.5)"), 6).alias("k_median"),
    )
    b = longk.join(F.broadcast(ext), "power")
    bucket = F.when(F.col("kmax") <= F.col("kmin"), F.lit(0)).otherwise(
        F.least(
            F.lit(n_bins - 1),
            F.floor((F.col("k") - F.col("kmin")) / (F.col("kmax") - F.col("kmin")) * n_bins),
        )
    )
    binned = (
        b.withColumn("bucket", bucket)
        .groupBy("power", "bucket")
        .agg(
            F.avg("k").alias("dk"),
            (F.count(F.lit(1)) / F.first("total")).alias("pk"),
        )
        .filter(F.col("dk") > 0)
    )
    fit = binned.groupBy("power").agg(
        F.corr(F.log10("pk"), F.log10("dk")).alias("c")
    )
    signed = F.when(F.col("c").isNull(), F.lit(None).cast("double")).otherwise(
        -F.signum(F.col("c")) * F.col("c") * F.col("c")
    )
    return (
        fit.join(ext, "power")
        .select(
            F.col("power").cast("int").alias("power"),
            F.round(signed, 6).alias("fit_signed_r2"),
            "k_mean",
            "k_median",
            F.round(F.col("kmax"), 6).alias("k_max"),
        )
    )


# ----------------------------------------------------------------------
# module eigengenes (first PC per module) and module-trait correlation
# ----------------------------------------------------------------------


def _pc1_weights_driver(
    nodes: list[str], edges: list[tuple[str, str, float]], n_iter: int
) -> dict[str, float]:
    """Deterministic power iteration on one module's correlation matrix
    (diagonal 1), pure Python — the dimension-sized short-circuit. The
    distributed path below runs the IDENTICAL recurrence; tests assert
    agreement (CLAUDE.md: dimension-sized work short-circuits, all
    paths agree)."""
    idx = {f: i for i, f in enumerate(sorted(nodes))}
    d = len(idx)
    mat = [[0.0] * d for _ in range(d)]
    for i in range(d):
        mat[i][i] = 1.0
    for u, v, r in edges:
        mat[idx[u]][idx[v]] = r
        mat[idx[v]][idx[u]] = r
    w = [1.0 / math.sqrt(d)] * d
    for _ in range(n_iter):
        nw = [sum(mat[i][j] * w[j] for j in range(d)) for i in range(d)]
        norm = math.sqrt(sum(x * x for x in nw))
        if norm == 0.0:
            break
        w = [x / norm for x in nw]
    # sign convention: sum of weights >= 0 (ties keep +)
    if sum(w) < 0.0:
        w = [-x for x in w]
    return {f: w[i] for f, i in idx.items()}


def _pc1_weights_distributed(
    spark, corr_edges: DataFrame, members: DataFrame, n_iter: int
) -> DataFrame:
    """Same recurrence as :func:`_pc1_weights_driver`, as a fixed-depth
    DataFrame loop over (module, i, j, r) edges — for feature dimensions
    too large to collect (d^2 edge lists in the tens of millions).
    Lineage cut every few rounds (the iterative-join trap)."""
    d = members.groupBy("module").agg(F.count(F.lit(1)).alias("d"))
    w = (
        members.join(F.broadcast(d), "module")
        .select("module", F.col("feature").alias("i"), (F.lit(1.0) / F.sqrt("d")).alias("w"))
        .localCheckpoint(eager=True)
    )
    sym = (
        corr_edges.select("module", F.col("node1").alias("i"), F.col("node2").alias("j"), "r")
        .unionByName(
            corr_edges.select(
                "module", F.col("node2").alias("i"), F.col("node1").alias("j"), "r"
            )
        )
        .unionByName(
            members.select(
                "module",
                F.col("feature").alias("i"),
                F.col("feature").alias("j"),
                F.lit(1.0).alias("r"),
            )
        )
        .localCheckpoint(eager=True)
    )
    for it in range(n_iter):
        prod = (
            sym.join(
                w.select("module", F.col("i").alias("j"), "w"), ["module", "j"]
            )
            .groupBy("module", "i")
            .agg(F.sum(F.col("r") * F.col("w")).alias("nw"))
        )
        norm = prod.groupBy("module").agg(F.sqrt(F.sum(F.col("nw") * F.col("nw"))).alias("nrm"))
        # zero-norm step (singular module matrix whose dominant action
        # annihilates w): KEEP the previous unit vector — the driver path
        # breaks with the last w, and the two paths must agree bit-for-bit
        # (zeroing here left the distributed w at 0 forever)
        prev = w.select("module", "i", F.col("w").alias("w_prev"))
        w = prod.join(prev, ["module", "i"]).join(F.broadcast(norm), "module").select(
            "module",
            "i",
            F.when(F.col("nrm") > 0, F.col("nw") / F.col("nrm"))
            .otherwise(F.col("w_prev"))
            .alias("w"),
        )
        if it % 5 == 4 or it == n_iter - 1:
            w = w.localCheckpoint(eager=True)
    sgn = w.groupBy("module").agg(
        F.when(F.sum("w") < 0, F.lit(-1.0)).otherwise(F.lit(1.0)).alias("sgn")
    )
    return w.join(F.broadcast(sgn), "module").select(
        "module", F.col("i").alias("feature"), (F.col("w") * F.col("sgn")).alias("w")
    )


def module_eigengenes(
    df: DataFrame,
    modules: DataFrame,
    sample_col: str,
    feature_col: str,
    value_col: str,
    n_iter: int = 40,
    min_n: int = 3,
    include_grey: bool = False,
    driver_max_edges: int = 200_000,
    corr: DataFrame | None = None,
) -> DataFrame:
    """First principal component per module
    (WGCNA.moduleEigengenes, wgcnaAnalysis.py:307-333): standardize each
    feature across samples (sample std, like R scale()), weight by the
    dominant eigenvector of the module's correlation matrix, normalize
    the per-sample score vector to unit length and align its sign with
    average module expression (WGCNA's convention). Returns
    (sample, module, eigengene).

    Scale split: eigenvector weights live on the feature dimension
    (driver short-circuit under ``driver_max_edges``, identical
    distributed recurrence above it; pass ``driver_max_edges=0`` to force
    the distributed path); the sample-side score is ONE
    broadcast join + ONE aggregation pass — samples never collect."""
    spark = df.sparkSession
    mods = modules if include_grey else modules.filter(F.col("module") != GREY)
    mods = mods.select(F.col("feature").cast("string").alias("feature"), "module")
    base = df.select(
        F.col(sample_col).cast("string").alias("sample"),
        F.col(feature_col).cast("string").alias("feature"),
        F.col(value_col).cast("double").alias("v"),
    ).join(F.broadcast(mods), "feature")
    stats_f = base.groupBy("feature", "module").agg(
        F.avg("v").alias("mu"), F.stddev_samp("v").alias("sd")
    )
    z = base.join(F.broadcast(stats_f), ["feature", "module"]).select(
        "sample",
        "feature",
        "module",
        F.when(F.col("sd") > 0, (F.col("v") - F.col("mu")) / F.col("sd"))
        .otherwise(F.lit(0.0))
        .alias("z"),
    )
    # per-module correlation edges (restricted to within-module pairs).
    # ``corr`` lets the caller reuse the all-pairs frame wgcna_modules
    # already computed — otherwise the corpus-scale sample self-join
    # executes twice per modules+eigengenes pipeline.
    if corr is None:
        corr = feature_correlation_matrix(
            df, sample_col, feature_col, value_col, min_n=min_n
        )
    # string-cast the correlation keys to match the string-cast module
    # frame (numeric feature ids would join bigint = string otherwise)
    corr = corr.withColumn("node1", F.col("node1").cast("string")).withColumn(
        "node2", F.col("node2").cast("string")
    )
    m1 = mods.select(F.col("feature").alias("node1"), "module")
    m2 = mods.select(F.col("feature").alias("node2"), F.col("module").alias("module2"))
    medges = (
        corr.join(F.broadcast(m1), "node1")
        .join(F.broadcast(m2), "node2")
        .filter(F.col("module") == F.col("module2"))
        .select("module", "node1", "node2", F.col("weight").alias("r"))
    )
    # pin before the limit-probe: CollectLimit over the raw TOM/corr plan
    # would execute its final stage incrementally (near-serial on an
    # expensive upstream — same lesson as canon/cc.py)
    medges = medges.localCheckpoint(eager=True)
    rows = medges.limit(driver_max_edges + 1).collect()
    if len(rows) <= driver_max_edges:
        # the probe WAS the evaluation
        members = mods.collect()
        by_mod: dict[str, list] = {}
        feats_by_mod: dict[str, list] = {}
        for m in members:
            feats_by_mod.setdefault(m["module"], []).append(m["feature"])
        for r in rows:
            by_mod.setdefault(r["module"], []).append((r["node1"], r["node2"], r["r"]))
        out = []
        for mod, feats in feats_by_mod.items():
            wmap = _pc1_weights_driver(feats, by_mod.get(mod, []), n_iter)
            out.extend((mod, f, w) for f, w in wmap.items())
        weights = spark.createDataFrame(out, "module string, feature string, w double")
    else:
        weights = _pc1_weights_distributed(spark, medges, mods, n_iter)
    scored = (
        z.join(F.broadcast(weights), ["module", "feature"])
        .groupBy("sample", "module")
        .agg(F.sum(F.col("w") * F.col("z")).alias("raw"), F.avg("z").alias("avg_z"))
    )
    per_mod = scored.groupBy("module").agg(
        F.sqrt(F.sum(F.col("raw") * F.col("raw"))).alias("nrm"),
        F.sum(F.col("raw") * F.col("avg_z")).alias("dot"),
    )
    sgn = F.when(F.col("dot") < 0, F.lit(-1.0)).otherwise(F.lit(1.0))
    return scored.join(F.broadcast(per_mod), "module").select(
        "sample",
        "module",
        F.when(F.col("nrm") > 0, sgn * F.col("raw") / F.col("nrm"))
        .otherwise(F.lit(0.0))
        .alias("eigengene"),
    )


def module_trait_correlation(
    eigengenes: DataFrame,
    traits: DataFrame,
    sample_col: str = "sample",
    trait_col: str = "trait",
    value_col: str = "value",
) -> DataFrame:
    """Module-trait relationships
    (calculate_ModuleTrait_correlation, wgcnaAnalysis.py:357-394):
    Pearson r between each module eigengene and each trait over shared
    samples, with WGCNA's corPvalueStudent p (the t transform of r on
    n-2 dof). One join + one aggregation; traits are dimension-sized.
    Returns (module, trait, n, r, p_value)."""
    t = traits.select(
        F.col(sample_col).cast("string").alias("sample"),
        F.col(trait_col).cast("string").alias("trait"),
        F.col(value_col).cast("double").alias("tv"),
    )
    j = eigengenes.join(t, "sample")
    s = j.groupBy("module", "trait").agg(
        F.corr("eigengene", "tv").alias("r"), F.count(F.lit(1)).alias("n")
    )
    dof = F.col("n").cast("double") - F.lit(2.0)
    t_raw = F.col("r") * F.sqrt(dof / (F.lit(1.0) - F.col("r") * F.col("r")))
    p = F.when(F.abs(F.col("r")) >= F.lit(1.0), F.lit(0.0)).otherwise(
        F.round(special.t_sf2_spark(t_raw, dof), 9)
    )
    return s.filter(F.col("n") > 2).select(
        "module",
        "trait",
        F.col("n").cast("bigint").alias("n"),
        F.round("r", 6).alias("r"),
        p.alias("p_value"),
    )
