"""Topological Mapper (Singh-Mémoli-Carlsson) — the reference's kmapper
tab, Spark-first.

Reference: ``run_mapper`` (/root/reference
src/analytics_core/analytics/analytics.py:2171-2210) wraps
``km.KeplerMapper.map`` over a 2-D lens with
``AgglomerativeClustering(n_clusters, linkage='complete',
affinity='correlation')``. The Mapper recipe is public (Singh et al.,
SPBG 2007): (1) project samples through a low-dimensional LENS, (2)
cover the lens range with overlapping intervals (a grid of "cubes"),
(3) cluster the samples of each cube in the ORIGINAL feature space,
(4) emit the nerve — one node per (cube, cluster), one edge between
nodes sharing a sample.

Spark shapes:
- cover assignment is pure column math: each lens dimension maps to a
  RANGE of cube indices (``sequence`` + ``explode``) — no UDF;
- per-cube clustering is genuinely local, bounded work (mapper is an
  ANALYSIS operator over sample×feature matrices, like the reference's
  proteomics frames — cube occupancy is samples/n_cubes^d-ish), so it
  runs as one ``applyInPandas`` over cube groups — the documented
  correct use of the pandas boundary. Corpus-scale neighbor structure
  belongs to the ANN/LSH family, not a mapper complex;
- the nerve is the co-mention trick: collect each sample's node list,
  expand C(k,2) pairs in-array, one aggregation on the pair key.

COVER SPEC (pinned here, mirrored by the DuckDB twin): lens dimension d
with observed [mn, mx] splits into ``n_cubes`` base intervals of width
w = (mx-mn)/n_cubes; each interval widens symmetrically by
``overlap``*w/2 per side (total width w*(1+overlap)), so adjacent
intervals share overlap*w. Sample x belongs to every cube i with
  i >= ceil((x-mn)/w - 1 - overlap/2)  and  i <= floor((x-mn)/w + overlap/2)
clamped to [0, n_cubes-1]; the right edge (x == mx) lands in the last
cube. With ``n_clusters=1`` the nerve depends on the cover alone —
that configuration is hash-verified against a DuckDB twin
(q_mapper_nerve); the clustering dimension is verified against an
independent pure-python agglomerative implementation in the tests.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.column import Column


def _cube_range(lens: Column, mn: Column, mx: Column, n_cubes: int, overlap: float):
    """(lo, hi) inclusive cube-index bounds for one lens value (cover
    spec in the module docstring). Degenerate range (mn == mx) puts
    every sample in every cube of that dimension — matches the
    convention that a constant lens carries no information."""
    w = (mx - mn) / F.lit(float(n_cubes))
    t = (lens - mn) / w  # position in units of base width
    lo = F.ceil(t - F.lit(1.0 + overlap / 2.0)).cast("int")
    hi = F.floor(t + F.lit(overlap / 2.0)).cast("int")
    lo = F.greatest(F.lit(0), F.least(lo, F.lit(n_cubes - 1)))
    hi = F.least(F.lit(n_cubes - 1), F.greatest(hi, F.lit(0)))
    degenerate = mx == mn
    return (
        F.when(degenerate, F.lit(0)).otherwise(lo),
        F.when(degenerate, F.lit(n_cubes - 1)).otherwise(hi),
    )


def cover_assign(
    df: DataFrame,
    id_col: str,
    lens_cols: list[str],
    n_cubes: int = 15,
    overlap: float = 0.5,
) -> DataFrame:
    """(id, cube) membership — one row per (sample, covering cube).

    Lens mins/maxes are a 1-row global aggregate broadcast into the
    assignment (no per-row collect); cube ids linearize the d-dim grid
    as sum(i_d * n_cubes^d)."""
    aggs = []
    for c in lens_cols:
        aggs += [
            F.min(F.col(c).cast("double")).alias(f"__mn_{c}"),
            F.max(F.col(c).cast("double")).alias(f"__mx_{c}"),
        ]
    bounds = df.agg(*aggs)
    j = df.crossJoin(F.broadcast(bounds))
    cube = None
    out = j
    for d, c in enumerate(lens_cols):
        lo, hi = _cube_range(
            F.col(c).cast("double"),
            F.col(f"__mn_{c}"),
            F.col(f"__mx_{c}"),
            n_cubes,
            overlap,
        )
        out = out.withColumn(f"__i_{d}", F.explode(F.sequence(lo, hi)))
        term = F.col(f"__i_{d}") * F.lit(n_cubes**d)
        cube = term if cube is None else cube + term
    return out.select(F.col(id_col).alias("id"), cube.cast("long").alias("cube"))


def _complete_linkage_correlation(x, n_clusters: int) -> list[int]:
    """Deterministic complete-linkage agglomerative clustering with
    correlation distance (1 - Pearson r between sample vectors) — the
    reference's AgglomerativeClustering(linkage='complete',
    affinity='correlation') without sklearn. O(n^3) naive; cube
    occupancies are small by construction. Ties merge the
    lexicographically smallest cluster-id pair (sklearn's internal
    order is unspecified — determinism is this engine's contract)."""
    import numpy as np

    n = len(x)
    if n == 0:
        return []
    k = max(1, min(n_clusters, n))
    xa = np.asarray(x, dtype=float)
    if xa.shape[1] < 2:
        dist = np.abs(xa[:, None, 0] - xa[None, :, 0])
    else:
        c = xa - xa.mean(axis=1, keepdims=True)
        norm = np.sqrt((c * c).sum(axis=1))
        norm[norm == 0.0] = 1.0
        corr = (c @ c.T) / np.outer(norm, norm)
        dist = 1.0 - corr
    clusters: dict[int, list[int]] = {i: [i] for i in range(n)}
    while len(clusters) > k:
        best = None
        ids = sorted(clusters)
        for ai in range(len(ids)):
            for bi in range(ai + 1, len(ids)):
                a, b = ids[ai], ids[bi]
                d = max(dist[p, q] for p in clusters[a] for q in clusters[b])
                if best is None or d < best[0] - 1e-15:
                    best = (d, a, b)
        _, a, b = best
        clusters[a] = clusters[a] + clusters[b]
        del clusters[b]
    labels = [0] * n
    for rank, cid in enumerate(sorted(clusters)):
        for p in clusters[cid]:
            labels[p] = rank
    return labels


def mapper_nodes(
    df: DataFrame,
    id_col: str,
    feature_cols: list[str],
    lens_cols: list[str],
    n_cubes: int = 15,
    overlap: float = 0.5,
    n_clusters: int = 3,
) -> DataFrame:
    """(id, node) membership: node = cube * n_clusters + local cluster.

    ``n_clusters=1`` skips the pandas boundary entirely — the node set
    IS the cover (pure column math end-to-end), the configuration the
    SQL twin certifies."""
    assigned = cover_assign(df, id_col, lens_cols, n_cubes, overlap)
    if n_clusters <= 1:
        return assigned.select(
            "id", (F.col("cube") * F.lit(1)).alias("node")
        )
    if not feature_cols:
        # fail loudly on the driver: clustering needs a feature space
        # (an empty vector would IndexError deep inside the executor UDF)
        raise ValueError(
            "mapper with n_clusters>1 needs feature_cols (the per-cube "
            "clustering runs in the original feature space)"
        )
    feats = df.select(
        F.col(id_col).alias("id"),
        F.array(*[F.col(c).cast("double") for c in feature_cols]).alias("__x"),
    )
    cells = assigned.join(feats, "id")

    def cluster_cell(pdf: pd.DataFrame) -> pd.DataFrame:
        order = pdf.sort_values("id").reset_index(drop=True)
        labels = _complete_linkage_correlation(
            list(order["__x"]), n_clusters
        )
        return pd.DataFrame(
            {
                "id": order["id"],
                "node": [
                    int(order["cube"][i]) * n_clusters + int(l)
                    for i, l in enumerate(labels)
                ],
            }
        )

    return cells.groupBy("cube").applyInPandas(
        cluster_cell, schema=f"id {dict(df.dtypes)[id_col]}, node long"
    )


def mapper_nerve(
    df: DataFrame,
    id_col: str,
    feature_cols: list[str],
    lens_cols: list[str],
    n_cubes: int = 15,
    overlap: float = 0.5,
    n_clusters: int = 3,
) -> DataFrame:
    """The Mapper nerve: (node_a, node_b, shared) for every pair of
    nodes sharing >= 1 sample, node_a < node_b. Same shape as the
    co-mention stage: per-sample sorted node list, in-array C(k,2)
    expansion packed into one long, one aggregation, no self-join."""
    # node ids pack two-per-long below — bound them loudly instead of
    # silently colliding pairs (node = cube*K + label, cube < n_cubes^d)
    max_node = (n_cubes ** len(lens_cols)) * max(1, n_clusters)
    if max_node >= (1 << 31):
        raise ValueError(
            f"mapper_nerve: n_cubes^{len(lens_cols)} * {n_clusters} = "
            f"{max_node} node ids overflow the packed pair key; reduce "
            "n_cubes or the lens dimensionality"
        )
    members = mapper_nodes(
        df, id_col, feature_cols, lens_cols, n_cubes, overlap, n_clusters
    )
    per_id = members.groupBy("id").agg(
        F.array_sort(F.collect_set("node")).alias("nodes")
    )
    ids = F.col("nodes")
    pair_keys = F.flatten(
        F.transform(
            ids,
            lambda x, i: F.transform(
                F.slice(ids, i + 2, F.greatest(F.size(ids) - i - 1, F.lit(0))),
                lambda y: F.shiftleft(x, 32).bitwiseOR(y),
            ),
        )
    )
    return (
        per_id.select(F.explode(pair_keys).alias("pk"))
        .groupBy("pk")
        .agg(F.count(F.lit(1)).cast("long").alias("shared"))
        .select(
            F.shiftrightunsigned("pk", 32).cast("long").alias("node_a"),
            F.col("pk").bitwiseAND(F.lit(0xFFFFFFFF)).cast("long").alias("node_b"),
            "shared",
        )
    )
