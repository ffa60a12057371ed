"""Physical-plan shape guards: the optimizations SURVEY.md §4 promises
must be visible in .explain() output — filter pushdown to the parquet
scan, column pruning, broadcast joins for dimensions, and no plan
regression sneaking a corpus-scale shuffle back in."""

from __future__ import annotations

import os

import pytest

from ckg_spark.queries import CATALOG

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(autouse=True)
def _no_cached_relations(spark):
    """Plan-shape assertions target parquet scans; another module's
    cached frame over the same path would substitute an InMemoryRelation
    (full schema, no PushedFilters section) and fail them spuriously."""
    spark.catalog.clearCache()
    yield


def plan_of(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_q01_pushdown_and_pruning(spark):
    plan = plan_of(CATALOG["q01_pricing_summary"].spark_fn(spark, SF_DIR))
    assert "PushedFilters" in plan and "l_shipdate" in plan.split("PushedFilters")[1][:200]
    # column pruning: the wide lineitem table is read with only the used cols
    read_schema = plan.split("ReadSchema")[1][:400]
    assert "l_comment" not in read_schema


def test_multihop_broadcasts_dimensions(spark):
    plan = plan_of(CATALOG["q_multihop_region_revenue"].spark_fn(spark, SF_DIR))
    assert plan.count("BroadcastHashJoin") >= 3
    assert "SortMergeJoin" not in plan


def test_semi_join_stays_semi(spark):
    plan = plan_of(CATALOG["q_semi_join_big_orders"].spark_fn(spark, SF_DIR))
    assert "LeftSemi" in plan


def test_fused_tag_pushes_lang_filter_to_scan(spark, tmp_path, vocab):
    from ckg_spark.corpus.pages import config_from_vocab, generate_pages_df
    from ckg_spark.tag import build_automaton, tag_pages_fused

    cfg = config_from_vocab(vocab, n_docs=50, seed=42, partitions=2)
    p = str(tmp_path / "pages")
    generate_pages_df(spark, cfg).write.parquet(p)
    pages = spark.read.parquet(p)
    etype = {t["id"]: t["entity_type"] for t in vocab.terms}
    ac_bc = spark.sparkContext.broadcast(
        build_automaton(
            [{**a, "entity_type": etype[a["canonical_id"]]} for a in vocab.aliases]
        )
    )
    plan = plan_of(tag_pages_fused(pages, ac_bc))
    pushed = plan.split("PushedFilters")[1][:200]
    assert "lang" in pushed and "en" in pushed
    # the html binary is read, but text (absent) and warc_ts are pruned
    read_schema = plan.split("ReadSchema")[1][:300]
    assert "warc_ts" not in read_schema


def test_link_stage_single_mention_shuffle(spark, vocab):
    """The link stage's plan contains exactly ONE exchange fed by the
    mention scan (mentions_per_url), not two."""
    from ckg_spark.canon import build_canonical_map
    from ckg_spark.corpus.vocab import vocab_dataframes
    from ckg_spark.link import mentions_per_url

    import pandas as pd

    terms, _, _ = vocab_dataframes(spark, vocab)
    cmap = build_canonical_map(terms)
    mentions = spark.createDataFrame(
        pd.DataFrame(
            {
                "url": ["u1", "u1", "u2"],
                "entity_type": ["Disease"] * 3,
                "canonical_id": [terms.first()["id"]] * 3,
                "surface_lc": ["x"] * 3,
                "n_hits": [1, 2, 1],
                "n_tokens": [10, 10, 20],
            }
        )
    )
    import re

    plan = plan_of(mentions_per_url(mentions, cmap))
    # exactly ONE exchange partitioned on the mention table's url key;
    # the remaining exchanges all belong to the dimension-sized node
    # dictionary (distinct node_id + the SinglePartition row_number
    # window) and feed broadcasts — no corpus-scale column appears in any
    # other hashpartitioning
    keys = re.findall(r"hashpartitioning\((\w+)#", plan)
    assert keys.count("url") == 1
    assert set(keys) <= {"url", "node_id", "term_id", "nid"}, keys
    assert "BroadcastHashJoin" in plan  # canonical map never shuffles


def test_mention_edges_no_python_evaluator(spark, vocab):
    """The link score is pure JVM column math — no Arrow/Python evaluator
    may appear in the corpus-scale mention-edge projection."""
    from ckg_spark.canon import build_canonical_map
    from ckg_spark.corpus.vocab import vocab_dataframes
    from ckg_spark.link import mention_edges, mentions_per_url, node_dictionary

    import pandas as pd

    terms, _, _ = vocab_dataframes(spark, vocab)
    cmap = build_canonical_map(terms)
    mentions = spark.createDataFrame(
        pd.DataFrame(
            {
                "url": ["u1", "u2"],
                "entity_type": ["Disease"] * 2,
                "canonical_id": [terms.first()["id"]] * 2,
                "surface_lc": ["x"] * 2,
                "n_hits": [1, 2],
                "n_tokens": [10, 20],
            }
        )
    )
    nd = node_dictionary(cmap)
    plan = plan_of(mention_edges(mentions_per_url(mentions, cmap, nd), nd))
    assert "ArrowEvalPython" not in plan
    assert "BatchEvalPython" not in plan


def test_merge_anti_join_prunes_partitions(spark, tmp_path):
    """merge_insert_absent(prune_on=['pred']) must reach the current-side
    scan as a PARTITION filter — an incremental load of one pred does not
    rescan every partition of the edges table."""
    from ckg_spark.lakehouse import Warehouse

    wh = Warehouse(str(tmp_path / "wh"))
    t = wh.table("edges")
    base = spark.createDataFrame(
        [("a", "P1", "b"), ("c", "P2", "d"), ("e", "P3", "f")],
        ["subj", "pred", "obj"],
    )
    t.overwrite(base, partition_by=["pred"])

    staged = spark.createDataFrame([("a", "P1", "x")], ["subj", "pred", "obj"])
    pruned = t._absent_only(spark, staged, ["subj", "pred", "obj"], prune_on=["pred"])
    plan = plan_of(pruned)
    part = plan.split("PartitionFilters")[1][:200]
    assert "pred" in part and "P1" in part
    # and the unpruned variant must NOT carry a partition filter on pred
    unpruned = t._absent_only(spark, staged, ["subj", "pred", "obj"])
    uplan = plan_of(unpruned)
    assert "P1" not in uplan.split("PartitionFilters")[1][:200]
    # semantics: P1 duplicate dropped, new rows kept
    staged2 = spark.createDataFrame(
        [("a", "P1", "b"), ("z", "P1", "w")], ["subj", "pred", "obj"]
    )
    out = t._absent_only(spark, staged2, ["subj", "pred", "obj"], prune_on=["pred"])
    assert {(r.subj, r.pred, r.obj) for r in out.collect()} == {("z", "P1", "w")}


def test_ivf_assignment_no_shuffle_and_probe_prunes(spark, tmp_path):
    """IVF cell assignment must be a narrow plan (no Exchange — the old
    row_number seeding shuffled the full table into n_cells partitions),
    and the probe against the cell-partitioned index must prune at the
    scan."""
    import numpy as np
    from ckg_spark.ops import simsearch

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    with_cells, centroids = simsearch.assign_cells(emb, n_cells=8)
    plan = plan_of(with_cells)
    assert "Exchange" not in plan

    idx = str(tmp_path / "ivf_idx")
    simsearch.write_cell_partitioned(with_cells, idx)
    q = [float(x) for x in np.asarray(emb.first()["embedding"], dtype=np.float64)]
    probe = simsearch.ivf_topk_pruned(spark, idx, centroids, q, k=5, nprobe=3)
    pplan = plan_of(probe)
    part = pplan.split("PartitionFilters")[1][:250]
    assert "cell" in part
    assert probe.count() == 5


@pytest.mark.parametrize("op", ["ttest_permutation_fdr", "sam_permutation_fdr"])
def test_permutation_explode_sits_above_one_feat_exchange(spark, op):
    """Both permutation operators shuffle the N input rows by feat BEFORE
    the K-way explode: in the physical plan the one Generate has exactly
    one Exchange below it, a hash partitioning on feat, and none between
    it and the rank window above it, so the K*N exploded rows never
    shuffle."""
    from ckg_spark.ops import stats

    rows = [(f"f{i % 3}", i, float(i % 7), "a" if i % 2 else "b") for i in range(60)]
    df = spark.createDataFrame(rows, "feat string, rid bigint, v double, g string")
    extra = {"s0": 0.5} if op == "sam_permutation_fdr" else {}
    out = getattr(stats, op)(df, "feat", "g", "v", "a", "b", "rid", 5, **extra)
    plan = out._jdf.queryExecution().executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.inputPlan()

    def walk(node, above):
        yield node, above
        kids = node.children()
        for i in range(kids.size()):
            yield from walk(kids.apply(i), above + [node])

    gens = [(n, above) for n, above in walk(plan, []) if n.nodeName() == "Generate"]
    assert len(gens) == 1
    gen, above = gens[0]
    below = [n.simpleString(20) for n, _ in walk(gen, []) if "Exchange" in n.nodeName()]
    assert len(below) == 1 and below[0].startswith("Exchange hashpartitioning(feat#"), below
    names = [n.nodeName() for n in reversed(above)]
    assert "Window" in names
    assert not any("Exchange" in n for n in names[: names.index("Window")]), names
    assert out.count() == 3


def test_stats_pack_plans_stay_jvm_side(spark):
    """Every p-value in the statistics pack evaluates as JVM column math
    (the dual-backend continued fractions) — no Arrow/Python evaluator may
    appear, and the only exchanges are the aggregation + the dimension-
    sized post-agg window."""
    for q in [
        "q_welch_ttest",
        "q_ttest_fdr",
        "q_enrichment_fisher",
        "q_anova_oneway",
        "q_pairwise_ttest_posthoc",
        "q_corr_matrix_fdr",
        "q_rm_correlation",
    ]:
        plan = plan_of(CATALOG[q].spark_fn(spark, SF_DIR))
        assert "EvalPython" not in plan, q
        assert plan.count(") Exchange") <= 3, q


def test_new_stats_queries_stay_jvm_side(spark):
    """Round-2 additions: survival, RM-ANOVA, normalization family, and
    two-way ANOVA are pure JVM column math — no Python evaluator — and
    their scalar combiners are broadcast, never shuffled joins."""
    for q in [
        "q_kaplan_meier",
        "q_logrank",
        "q_rm_anova",
        "q_anova_twoway",
        "q_quantile_normalize",
        "q_median_polish",
        "q_l2_normalize",
        "q_impute_knn",
    ]:
        plan = plan_of(CATALOG[q].spark_fn(spark, SF_DIR))
        assert "EvalPython" not in plan, q
    # the ANOVA scalar frames must combine via broadcast (1-row frames)
    plan = plan_of(CATALOG["q_anova_twoway"].spark_fn(spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_curation_sample_prunes_columns(spark):
    """The deterministic sample reads only (doc_id, source) — the text
    column must be pruned from the scan. Another module's cached
    documents frame would substitute an InMemoryRelation (full schema)
    into this plan, so drop caches first — the assertion targets the
    parquet scan, not cache-hit behavior."""
    spark.catalog.clearCache()
    plan = plan_of(CATALOG["q_stratified_sample"].spark_fn(spark, SF_DIR))
    read_schema = plan.split("ReadSchema")[1][:300]
    assert "text" not in read_schema
    assert "EvalPython" not in plan


def test_kmeans_broadcasts_centroids(spark):
    """Every Lloyd iteration joins points to the k*d centroid frame by
    broadcast — a SortMergeJoin would shuffle the corpus per iteration."""
    from ckg_spark.ops.cluster import kmeans_assign
    from pyspark.sql import functions as F

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    pts = emb.select("vec_id", F.posexplode("embedding").alias("dim", "val"))
    plan = plan_of(kmeans_assign(pts, k=4, iters=2, id_col="vec_id"))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "EvalPython" not in plan


def test_viz_prep_queries_stay_jvm_side(spark):
    """Volcano / correlation-network / wordcloud prep run as JVM column
    math end-to-end: no Python evaluator anywhere, the volcano fact×dim
    join broadcasts the part dimension, and wordcloud's top-50 is a
    TakeOrdered, not a global sort."""
    for q in ["q_volcano", "q_correlation_network", "q_wordcloud_counts"]:
        plan = plan_of(CATALOG[q].spark_fn(spark, SF_DIR))
        assert "EvalPython" not in plan, q
    vol = plan_of(CATALOG["q_volcano"].spark_fn(spark, SF_DIR))
    assert "BroadcastHashJoin" in vol and "SortMergeJoin" not in vol
    wc = plan_of(CATALOG["q_wordcloud_counts"].spark_fn(spark, SF_DIR))
    assert "TakeOrderedAndProject" in wc


def test_contamination_screen_train_side_never_shuffles_shingles(spark):
    """The broadcast-eval decontamination plan: the train side's shingle
    stream must flow into a BroadcastHashJoin with NO Exchange between
    the documents scan and the join — only the eval (dimension-sized)
    side exchanges (its distinct) and the final pair aggregation does.
    This is the property that makes the screen viable at a 100 TB train
    corpus with a fixed benchmark suite as the holdout."""
    plan = plan_of(CATALOG["q_contamination_screen"].spark_fn(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan
    assert "EvalPython" not in plan
    # walk the formatted plan: the generate(explode)->join path on the
    # probe side must not pass through an Exchange. Cheap proxy: exactly
    # the eval-distinct exchanges + the final pair agg exchange remain.
    assert plan.count(") Exchange") <= 3, plan.count(") Exchange")


def test_wgcna_plans_stay_jvm_and_broadcast(spark):
    """WGCNA: the feature-pair pipeline (corr self-join, TOM
    shared-neighbour join, degree attach) is pure JVM column math with
    dimension frames broadcast; no Python evaluator, no cartesian
    product anywhere."""
    for q in ["q_wgcna_soft_threshold", "q_wgcna_modules"]:
        plan = plan_of(CATALOG[q].spark_fn(spark, SF_DIR))
        assert "EvalPython" not in plan, q
        assert "CartesianProduct" not in plan, q
    plan = plan_of(CATALOG["q_wgcna_modules"].spark_fn(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan


def test_lm_scoring_broadcasts_model_and_stays_jvm(spark):
    """LM perplexity: the model-table joins are NOT hint-forced (a
    self-trained crawl-scale vocabulary is corpus-proportional, so the
    strategy must be AQE's runtime size decision) — but when the model IS
    small, AQE's FINAL plan must still pick broadcasts so the scored
    token stream never shuffles; the tokenizer/ln math is JVM-side."""
    from ckg_spark.ops import lm

    # the catalog query pins the scored frame (localCheckpoint) before
    # bucketing (the production persist-then-bucket shape), which
    # truncates its visible plan — assert the join strategy on the
    # scoring frame itself
    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    scored = lm.lm_perplexity(docs, "text", "doc_id")
    assert "EvalPython" not in plan_of(scored)
    scored.collect()  # finalize the adaptive plan
    final = plan_of(scored)
    assert final.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in final
    assert "CartesianProduct" not in final
    full = plan_of(CATALOG["q_lm_perplexity"].spark_fn(spark, SF_DIR))
    assert "EvalPython" not in full
    assert "CartesianProduct" not in full


def test_graph_family_plans_stay_jvm(spark):
    """Triangles / k-core / summary: pure JVM column math end-to-end —
    no Python evaluator, no cartesian product. (Closeness is exempt from
    the EvalPython assert: its per-source BFS fan-out IS a mapInPandas
    by design, like betweenness.)"""
    for q in ["q_graph_triangles", "q_graph_kcore", "q_graph_summary"]:
        plan = plan_of(CATALOG[q].spark_fn(spark, SF_DIR))
        assert "EvalPython" not in plan, q
        assert "CartesianProduct" not in plan, q
    plan = plan_of(CATALOG["q_graph_closeness"].spark_fn(spark, SF_DIR))
    assert "CartesianProduct" not in plan


def test_sampled_closeness_stays_jvm_side(spark):
    """The landmark estimator must be pure DataFrame ops end-to-end: no
    Arrow/Python evaluator anywhere (unlike the exact operator, whose
    per-source BFS is a deliberate mapInPandas over broadcast topology),
    and no collect of the edge frame (structural: the operator never
    calls collect; the BFS rounds are checkpointed JVM joins)."""
    from ckg_spark.ops.graph import closeness_centrality_sampled

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("d", "a"), ("a", "c")],
        ["subj", "obj"],
    )
    out = closeness_centrality_sampled(edges, "subj", "obj", sample_pivots=3)
    plan = plan_of(out)
    assert "ArrowEvalPython" not in plan
    assert "BatchEvalPython" not in plan
    assert "FlatMapGroupsInPandas" not in plan
    assert "MapInPandas" not in plan


def test_closeness_routing_engages_sampled_path_above_gate(spark):
    """VERDICT r03 #8: the size-routed dispatch must switch to the
    sampled estimator past the broadcast gate so the same query text
    survives scale-up instead of raising. Path identification is
    structural: the exact path's per-source BFS is a MapInPandas; the
    sampled path is pure JVM joins."""
    import pytest
    from pyspark.sql import functions as F

    from ckg_spark.ops.graph import closeness_centrality_routed

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("d", "a"), ("a", "c")],
        ["subj", "obj"],
    )
    below = closeness_centrality_routed(edges, "subj", "obj")
    assert "MapInPandas" in plan_of(below)  # exact path under the gate
    above = closeness_centrality_routed(
        edges, "subj", "obj", max_broadcast_edges=2, sample_pivots=10
    )
    assert "MapInPandas" not in plan_of(above)  # sampled path engaged
    # with every node a pivot the estimate is exact -> paths agree
    b = {r["node"]: round(r["closeness"], 9) for r in below.collect()}
    a = {r["node"]: round(r["closeness"], 9) for r in above.collect()}
    assert a == b
    # weighted past the gate must refuse loudly, not switch semantics
    w = edges.withColumn("w", F.lit(1.0))
    with pytest.raises(ValueError, match="unweighted-only"):
        closeness_centrality_routed(
            w, "subj", "obj", weight="w", max_broadcast_edges=2
        )
