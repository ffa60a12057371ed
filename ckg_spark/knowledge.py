"""Knowledge-summary graph from report outputs — the engine's twin of the
reference's ``report_manager/knowledge.py`` (Knowledge class, :21-226):
after a report pipeline runs, its outputs (regulated features, significant
correlations, annotations, project similarities) fold into one typed
node/edge summary graph — the "knowledge graph" tab of every reference
report.

The reference builds python dicts by iterating pandas rows
(generate_knowledge_from_regulation :125-134, *_from_correlation :136-150,
*_from_annotations :176-190, *_from_similarity :191-202); this twin keeps
the same node/relationship typing but stays distributed: each generator is
a projection over the corresponding result DataFrame, the summary graph is
their union, and the result materializes through the same
(subj, pred, obj)-shaped frames the lakehouse graph sink consumes — so a
report's knowledge subgraph lands next to the corpus KG with MERGE
idempotency, FK checks and lineage for free.

Node schema: (node_id, node_type, parent) — ``parent`` mirrors the
reference's grouping attribute ('Regulated' for regulation hits, the
group node for query results). Edge schema: (subj, pred, obj, weight) —
``width`` is always |weight| in the reference, so it stays derived.
Colors are presentation (dropped here; the reference assigns hex colors
for cytoscape).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _empty_nodes(spark) -> DataFrame:
    return spark.createDataFrame([], "node_id string, node_type string, parent string")


def _empty_edges(spark) -> DataFrame:
    return spark.createDataFrame(
        [], "subj string, pred string, obj string, weight double"
    )


def knowledge_from_regulation(
    regulated: DataFrame, entity: str, id_col: str = "identifier"
) -> tuple[DataFrame, DataFrame]:
    """Regulated features become <entity>-typed nodes parented under the
    'Regulated' group node (generate_knowledge_from_regulation :125-134;
    the reference emits no edges here — the parent attribute carries the
    grouping)."""
    nodes = regulated.select(
        F.col(id_col).cast("string").alias("node_id"),
        F.lit(entity).alias("node_type"),
        F.lit("Regulated").alias("parent"),
    ).distinct()
    return nodes, _empty_edges(regulated.sparkSession)


def knowledge_from_correlation(
    correlations: DataFrame,
    entity1: str,
    entity2: str,
    node1_col: str = "node1",
    node2_col: str = "node2",
    weight_col: str = "weight",
    cutoff: float = 0.5,
    node_filter: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Significant correlation pairs become 'correlates' edges with the
    correlation as weight (genreate_knowledge_from_correlation :136-150
    [sic]); the reference filters both endpoints against the regulated
    set — ``node_filter`` is that set as a 1-column frame, applied as two
    broadcast semi-joins instead of a per-row membership test."""
    e = correlations.select(
        F.col(node1_col).cast("string").alias("subj"),
        F.col(node2_col).cast("string").alias("obj"),
        F.col(weight_col).cast("double").alias("weight"),
    ).filter(F.abs(F.col("weight")) >= cutoff)
    if node_filter is not None:
        keep = node_filter.select(
            F.col(node_filter.columns[0]).cast("string").alias("__k__")
        ).distinct()
        e = e.join(
            F.broadcast(keep), e["subj"] == keep["__k__"], "left_semi"
        )
        e = e.join(
            F.broadcast(keep), e["obj"] == keep["__k__"], "left_semi"
        )
    edges = e.select("subj", F.lit("correlates").alias("pred"), "obj", "weight")
    nodes = (
        edges.select(F.col("subj").alias("node_id"), F.lit(entity1).alias("node_type"))
        .unionByName(
            edges.select(
                F.col("obj").alias("node_id"), F.lit(entity2).alias("node_type")
            )
        )
        .distinct()
        .withColumn("parent", F.lit(None).cast("string"))
    )
    return nodes, edges


def knowledge_from_annotations(
    annotations: DataFrame,
    entity1: str,
    entity2: str,
    id_col: str = "identifier",
    annotation_col: str = "annotation",
    node_filter: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """(feature, annotation) rows — e.g. enrichment output — become
    'is_annotated' edges (generate_knowledge_from_annotations :176-190).
    Weight is fixed at 1.0: the reference emits none and downstream
    styling uses mapData over |weight|. The reference keeps a row only
    when BOTH endpoints are in the filter (:184 `row['identifier'] not
    in filter or row['annotation'] not in filter` -> skip), so the
    filter semi-joins subj AND obj."""
    e = annotations.select(
        F.col(id_col).cast("string").alias("subj"),
        F.col(annotation_col).cast("string").alias("obj"),
    )
    if node_filter is not None:
        keep = node_filter.select(
            F.col(node_filter.columns[0]).cast("string").alias("__k__")
        ).distinct()
        e = e.join(F.broadcast(keep), e["subj"] == keep["__k__"], "left_semi")
        e = e.join(F.broadcast(keep), e["obj"] == keep["__k__"], "left_semi")
    edges = e.distinct().select(
        "subj", F.lit("is_annotated").alias("pred"), "obj", F.lit(1.0).alias("weight")
    )
    nodes = (
        edges.select(F.col("subj").alias("node_id"), F.lit(entity1).alias("node_type"))
        .unionByName(
            edges.select(
                F.col("obj").alias("node_id"), F.lit(entity2).alias("node_type")
            )
        )
        .distinct()
        .withColumn("parent", F.lit(None).cast("string"))
    )
    return nodes, edges


def knowledge_from_similarity(
    similar: DataFrame,
    entity: str = "Project",
    current_col: str = "current",
    other_col: str = "other",
    similarity_col: str = "similarity_pearson",
) -> tuple[DataFrame, DataFrame]:
    """Project-similarity rows become 'is_similar' edges
    (generate_knowledge_from_similarity :191-202)."""
    edges = similar.select(
        F.col(current_col).cast("string").alias("subj"),
        F.lit("is_similar").alias("pred"),
        F.col(other_col).cast("string").alias("obj"),
        F.col(similarity_col).cast("double").alias("weight"),
    )
    nodes = (
        edges.select(F.col("obj").alias("node_id"))
        .unionByName(edges.select(F.col("subj").alias("node_id")))
        .distinct()
        .select(
            "node_id",
            F.lit(entity).alias("node_type"),
            F.lit(None).cast("string").alias("parent"),
        )
    )
    return nodes, edges


def build_knowledge_graph(
    parts: list[tuple[DataFrame, DataFrame]],
) -> tuple[DataFrame, DataFrame]:
    """Union the generators' outputs into ONE summary graph
    (Knowledge.generate_knowledge orchestration). Node typing follows
    the reference's dict-update order: the LAST generator to mention a
    node wins its type/parent — implemented as max_by over a
    generator-order index, so the result is deterministic and
    partition-independent rather than dict-iteration-dependent."""
    if not parts:
        raise ValueError("build_knowledge_graph: no parts")
    spark = parts[0][0].sparkSession
    nodes = _empty_nodes(spark).withColumn("__ord__", F.lit(-1).cast("int"))
    edges = _empty_edges(spark)
    for i, (n, e) in enumerate(parts):
        nodes = nodes.unionByName(n.withColumn("__ord__", F.lit(i).cast("int")))
        edges = edges.unionByName(e)
    merged_nodes = nodes.groupBy("node_id").agg(
        F.max_by(F.struct("node_type", "parent"), F.struct("__ord__", "node_type")).alias(
            "__pick__"
        )
    ).select(
        "node_id",
        F.col("__pick__.node_type").alias("node_type"),
        F.col("__pick__.parent").alias("parent"),
    )
    # edge identity = (subj, pred, obj); keep the max |weight| like the
    # reference's dict update keeps the last (here: deterministic strongest)
    merged_edges = edges.groupBy("subj", "pred", "obj").agg(
        F.max_by("weight", F.struct(F.abs("weight"), "weight")).alias("weight")
    )
    return merged_nodes, merged_edges
