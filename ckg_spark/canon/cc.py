"""Connected components as an iterative DataFrame computation.

No GraphFrames jar is assumed (none ships in this sandbox); this is the
documented fallback of SURVEY.md §7: min-label propagation to convergence.

Each iteration:
    label[u] <- min(label[u], min over neighbors v of label[v])   (propagate)
    label[u] <- label[label[u]]                                   (pointer jump)

- the pointer-jump step is the standard shortcutting trick (same idea as
  large-star): distance-to-representative roughly halves every round, so
  convergence is O(log diameter) instead of O(diameter) — a 30-hop chain
  closes in ~6 rounds, and the near-pair-sized alias-merge components of
  the KG close in 2;
- lineage is cut every round with ``localCheckpoint()`` (iterative joins
  otherwise stack exponentially growing plans — the classic Spark iterative
  trap);
- convergence is detected with a cheap aggregate (sum of changed flags),
  not a collect of labels;
- the edge list is symmetrized once up front and cached.

Cluster representative = lexicographic min id, which makes canonical node
ids deterministic (north-rule requirement: no nondeterministic tie-breaks).

Dimension-sized graphs short-circuit to a driver union-find (CLAUDE.md
convention: dimension-sized work collects, distributed paths stay for
large inputs, tests assert both paths agree). The iterative loop costs
~2 Spark jobs per round regardless of data size — on a few-hundred-node
module/cluster graph that is pure scheduling latency, measured at >100 s
under load for a 381-node graph whose answer is microseconds of Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType


def union_find(pairs) -> dict:
    """(a, b) pairs -> {node: min member of its component}, on the driver.

    Union by min root: every root is the smallest id of its set, so the
    representative needs no second pass. Path halving keeps ``find``
    near-constant. Shared by the vocabulary canonicalizer and the
    short-circuit below."""
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    return {x: find(x) for x in parent}


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
    driver_max_edges: int = 100_000,
) -> DataFrame:
    """edges(src, dst) -> (node, component) with component = min node id.

    ``driver_max_edges`` gates the union-find short-circuit; pass 0 to
    force the distributed min-label-propagation path.

    The edge frame is pinned (localCheckpoint) BEFORE the size probe:
    probing a raw plan through ``limit().collect()`` executes the final
    stage incrementally (1 task, then 4, …, spark.sql.limit.scaleUpFactor)
    — when the upstream is expensive (MinHash banding + Jaccard verify in
    the near-dup pipelines), that serializes the whole computation
    regardless of core count (measured: the curation near-dup stage
    scaled 1.1x from 1 to 4 cores). The pin costs one fully-parallel
    evaluation, the probe then reads materialized blocks, and both the
    driver and distributed paths reuse the pin (the distributed path
    checkpointed ``sym`` anyway)."""
    edges = edges.select(src, dst).localCheckpoint(eager=True)
    if driver_max_edges:
        probe = edges.limit(driver_max_edges + 1).collect()
        if len(probe) <= driver_max_edges:
            t = edges.schema[src].dataType
            schema = StructType(
                [StructField("node", t, True), StructField("component", t, True)]
            )
            return edges.sparkSession.createDataFrame(
                list(union_find(probe).items()), schema
            )
    sym = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .union(edges.select(F.col(dst).alias("u"), F.col(src).alias("v")))
        .distinct()
        .localCheckpoint()
    )
    labels = (
        sym.select(F.col("u").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint()
    )
    for _ in range(max_iter):
        nbr_min = (
            sym.join(labels, sym["v"] == labels["node"])
            .groupBy("u")
            .agg(F.min("label").alias("nbr_label"))
        )
        propagated = labels.join(nbr_min, labels["node"] == nbr_min["u"], "left").select(
            "node",
            F.col("label").alias("old_label"),
            F.least(F.col("label"), F.coalesce(F.col("nbr_label"), F.col("label"))).alias(
                "p_label"
            ),
        )
        # pointer jump: label[u] <- label[label[u]] (labels only decrease)
        jump_src = propagated.select(
            F.col("node").alias("j_node"), F.col("p_label").alias("j_label")
        )
        jumped = (
            propagated.join(jump_src, propagated["p_label"] == jump_src["j_node"], "left")
            .select(
                "node",
                "old_label",
                F.least(
                    F.col("p_label"), F.coalesce(F.col("j_label"), F.col("p_label"))
                ).alias("new_label"),
            )
            .localCheckpoint()
        )
        n_changed = jumped.filter(F.col("new_label") != F.col("old_label")).count()
        labels = jumped.select("node", F.col("new_label").alias("label"))
        if not n_changed:
            break
    else:
        # partial labels are WRONG (two nodes of one component keep
        # different labels), not just slow — fail loudly, like k_core.
        # min-label + pointer jumping converges in O(log n) rounds, so
        # the default bound covers any graph of ~2^max_iter diameter.
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds; "
            "raise max_iter"
        )
    return labels.select("node", F.col("label").alias("component"))
