"""Graph materialization: idempotent MERGE into nodes/edges tables.

Replaces the reference's Neo4j load phase (/root/reference
src/graphdb_builder/builder/loader.py:40-76 executing
``USING PERIODIC COMMIT 10000 LOAD CSV ... MERGE`` templates from
builder/cypher.yml):

- ``CREATE CONSTRAINT`` uniqueness (cypher.yml:20) ≙ merge keys:
  nodes on ``id``, edges on ``(subj, pred, obj)``;
- Cypher ``MERGE ... ON CREATE SET`` idempotency ≙
  ``Table.merge_insert_absent`` (re-loads are no-ops);
- the loader's zero-count warning (loader.py:59-64) ≙ FK validation:
  edges whose endpoints are missing from the nodes table land in a
  quarantine table instead of the graph (J7 in SURVEY.md §2.3);
- per-load row-count stats (builder/importer.py:169-265) ≙
  ``Warehouse.log_metric`` + per-file counts in each snapshot manifest.

Partitioning: edges by ``pred`` (≙ one TSV per relationship type in the
reference), nodes by ``label`` — queries that touch one relationship type
prune to one partition, and MERGE anti-joins only shuffle the touched
partitions' keys.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..lakehouse import Warehouse

PUBLICATION_LABEL = "Publication"


def build_nodes(
    terms: DataFrame,
    canonical_map: DataFrame,
    mention_urls: DataFrame | None = None,
) -> DataFrame:
    """Entity nodes: one row per canonical cluster representative.

    Shape mirrors the reference's entity TSV header ``ID, :LABEL, name,
    description, type, synonyms`` (ontologies/ontologies_controller.py:142).
    The cluster's name/description come from the representative (min-id)
    term — an explicit total order, where the reference relied on dict
    insertion order (SURVEY.md §2.5 W4). Synonyms = sorted union of all
    cluster surfaces.
    """
    t = terms.join(
        F.broadcast(canonical_map), terms["id"] == canonical_map["term_id"], "inner"
    )
    # One shuffle for both the representative and the synonym set: explode
    # the surfaces first (array("name") keeps >=1 element per term even for
    # a NULL name, so no term row is ever dropped), then a single
    # groupBy(node_id) computes min(rep-struct) — duplication by surface
    # cannot change a min — alongside collect_set(surface). Replaces the
    # previous two-aggregate + join plan (two shuffles and a join of two
    # dimension-sized frames) with one hash aggregate.
    # coalesce: concat is null-intolerant — a NULL synonyms array would
    # otherwise drop the term's NAME from the cluster surfaces too
    exploded = t.select(
        "node_id",
        F.struct("id", "entity_type", "name", "description").alias("cand"),
        F.explode(
            F.concat(
                F.array("name"),
                F.coalesce(F.col("synonyms"), F.array().cast("array<string>")),
            )
        ).alias("surface"),
    )
    entity_nodes = (
        exploded.groupBy("node_id")
        .agg(
            F.min("cand").alias("rep"),
            F.array_sort(F.collect_set("surface")).alias("synonyms"),
        )
        .select(
            F.col("node_id").alias("id"),
            F.col("rep.entity_type").alias("label"),
            F.col("rep.name").alias("name"),
            F.col("rep.description").alias("description"),
            F.col("rep.entity_type").alias("type"),
            "synonyms",
        )
    )
    if mention_urls is None:
        return entity_nodes
    pub_nodes = mention_urls.select(F.col("url").alias("id")).distinct().select(
        "id",
        F.lit(PUBLICATION_LABEL).alias("label"),
        F.col("id").alias("name"),
        F.lit(None).cast("string").alias("description"),
        F.lit(PUBLICATION_LABEL).alias("type"),
        F.lit(None).cast("array<string>").alias("synonyms"),
    )
    return entity_nodes.unionByName(pub_nodes)


def materialize_graph(
    spark: SparkSession,
    wh: Warehouse,
    nodes: DataFrame,
    edges: DataFrame,
    url_obj_preds: tuple[str, ...] = ("MENTIONED_IN_PUBLICATION",),
    total_edges: int | None = None,
    fp: str | None = None,
) -> dict:
    """MERGE nodes + FK-validated edges; quarantine orphans; log metrics.

    The quarantine commit comes last and is stamped
    ``meta={"stage": "materialize", "fp": fp}``: a quarantine snapshot
    carrying the caller's fingerprint proves all three merges committed
    (the pipeline's materialize skip rule).

    FK validation strategy at corpus scale:
    - ``subj`` is always an entity id -> validated with a **broadcast**
      semi-join against the dimension-sized entity node set;
    - ``obj`` is an entity id for association/hierarchy edges (same
      broadcast join, pruned by the ``pred`` partition), but a **url** for
      mention edges. Those urls are structurally taken from the same
      mention table that generated the Publication nodes, so the join is
      skipped for ``url_obj_preds`` — validating them would shuffle two
      corpus-scale tables for a tautology.
    - validity is annotated lazily; the valid and orphan writes each
      re-scan the (parquet-backed) triples table through the two broadcast
      joins. Two scans beat materializing the annotated frame: a
      checkpoint would WRITE the whole corpus-scale edge set once more
      just to avoid one extra columnar read. Orphan counts come from the
      quarantine write's manifest (no count job).
    - zero-orphan shortcut: when ``total_edges`` (the staged edge count,
      free from the triples table's manifest) is supplied AND the edges
      table was empty before the merge, the merge manifest's rows_written
      equals the FK-valid count — if it equals ``total_edges``, the orphan
      set is PROVABLY empty and the second corpus-scale scan is replaced
      by an empty-snapshot commit. The common case (clean build, zero
      orphans) pays ONE scan of the edge set, not two; any mismatch, and
      any incremental re-merge, falls back to the real orphan scan.
    """
    t0 = time.perf_counter()
    nodes_t = wh.table("nodes")
    edges_t = wh.table("edges")
    quarantine_t = wh.table("edges_quarantine")

    # build_nodes output is key-unique BY CONSTRUCTION: entity ids come
    # out of a groupBy(node_id), publication ids out of a distinct, and
    # the two id spaces are disjoint (vocabulary identifiers vs urls) —
    # asserted by test_build_nodes_ids_unique. assume_unique skips the
    # staging-dedup shuffle of the node set on every build.
    nodes_existed = nodes_t.exists()
    nodes_t.merge_insert_absent(
        spark, nodes, ["id"], partition_by=["label"], assume_unique=True
    )
    if nodes_existed:
        # incremental / crash-replay: the table may hold nodes the staged
        # frame doesn't — FK validity is against the TABLE
        entity_ids = (
            nodes_t.read(spark)
            .filter(F.col("label") != PUBLICATION_LABEL)
            .select("id")
        )
    else:
        # fresh build: table content == staged frame, and the label
        # filter constant-folds the Publication union branch away, so
        # this is a dimension-only plan — no read-back job. (The
        # common-path cut matters for scaling: each saved job is pure
        # driver-serial time that the 4N level cannot amortize.)
        entity_ids = nodes.filter(F.col("label") != PUBLICATION_LABEL).select("id")

    e = edges
    subj_ok = F.col("__subj_id").isNotNull()
    obj_ok = F.col("pred").isin(*url_obj_preds) | F.col("__obj_id").isNotNull()
    annotated = (
        e.join(
            F.broadcast(entity_ids.withColumnRenamed("id", "__subj_id")),
            e["subj"] == F.col("__subj_id"),
            "left",
        )
        .join(
            F.broadcast(entity_ids.withColumnRenamed("id", "__obj_id")),
            e["obj"] == F.col("__obj_id"),
            "left",
        )
        .withColumn("__valid", subj_ok & obj_ok)
        .select(*e.columns, "__valid")
    )
    valid = annotated.filter("__valid").drop("__valid")
    orphan = annotated.filter("NOT __valid").drop("__valid")

    edges_rows_before = edges_t.row_count() if edges_t.exists() else 0
    # the link stage emits each (subj, pred, obj) exactly once (groupBy /
    # distinct per branch, disjoint preds across branches) -> skip the
    # staging dedup shuffle
    edges_t.merge_insert_absent(
        spark,
        valid,
        ["subj", "pred", "obj"],
        partition_by=["pred"],
        assume_unique=True,
        prune_on=["pred"],
    )
    # MERGE (not append) so the quarantine honors the same 're-loads are
    # no-ops' contract as nodes/edges: a crash between the edges merge and
    # the quarantine commit re-runs this function, and an append would
    # duplicate the identical orphan set (inflating the lineage orphan
    # counts). Orphans inherit the link stage's per-(subj,pred,obj)
    # uniqueness, so the staging dedup shuffle is skipped.
    commit_meta = {"stage": "materialize", "fp": fp}
    valid_written = edges_t.snapshots()[-1].rows_written
    if (
        total_edges is not None
        and edges_rows_before == 0
        and valid_written == total_edges
    ):
        # zero-orphan shortcut (docstring): provably-empty orphan set ->
        # commit the empty snapshot DRIVER-SIDE, skipping both the second
        # corpus-scale scan and the empty write's job submission
        quarantine_t.append_empty(orphan.schema.json(), meta=commit_meta)
    else:
        quarantine_t.merge_insert_absent(
            spark, orphan, ["subj", "pred", "obj"], assume_unique=True, meta=commit_meta
        )
    n_orphan = quarantine_t.snapshots()[-1].rows_written

    stats = {
        "nodes_snapshot": nodes_t.current_snapshot(),
        "edges_snapshot": edges_t.current_snapshot(),
        "orphan_edges": n_orphan,
        # same key the run_stage timer uses, so per-stage tables read from
        # the metrics journal pick materialize up too
        "seconds": round(time.perf_counter() - t0, 3),
    }
    wh.log_metric("materialize", **stats)
    return stats
