"""End-to-end KG build: P/R == 1.0 vs the oracle, idempotent re-run,
checkpoint resume, FK integrity, lineage metrics."""

from __future__ import annotations

import math

import pytest

from ckg_spark.corpus.pages import config_from_vocab
from ckg_spark.corpus.vocab import VocabConfig, generate_vocab
from ckg_spark.oracle import precision_recall, run_oracle
from ckg_spark.pipeline import KGPipeline


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    wh_root = str(tmp_path_factory.mktemp("warehouse"))
    vocab_cfg = VocabConfig(seed=7, terms_per_type=30)
    vocab = generate_vocab(vocab_cfg)
    pages_cfg = config_from_vocab(vocab, n_docs=200, seed=42, partitions=8)
    pipe = KGPipeline(spark, wh_root, vocab_cfg=vocab_cfg, pages_cfg=pages_cfg)
    stats = pipe.run()
    oracle = run_oracle(vocab, pages_cfg)
    return pipe, stats, oracle


def test_triples_match_oracle_exactly(spark, built):
    pipe, stats, oracle = built
    edges = pipe.wh.table("edges").read(spark)
    got = {(r["subj"], r["pred"], r["obj"]): r["score"] for r in edges.collect()}
    p, r = precision_recall(set(got), oracle.triples)
    assert (p, r) == (1.0, 1.0), (
        f"P={p:.4f} R={r:.4f}; "
        f"spurious={sorted(set(got) - oracle.triples)[:5]} "
        f"missing={sorted(oracle.triples - set(got))[:5]}"
    )
    # scores are deterministic and match the oracle bit-for-bit
    for key, score in got.items():
        assert math.isclose(score, oracle.scores[key], abs_tol=1e-9), (key, score, oracle.scores[key])


def test_nodes_match_oracle(spark, built):
    pipe, stats, oracle = built
    nodes = pipe.wh.table("nodes").read(spark).filter("label <> 'Publication'")
    got = {r["id"]: (r["label"], r["name"], list(r["synonyms"])) for r in nodes.collect()}
    exp = {
        nid: (n["label"], n["name"], n["synonyms"]) for nid, n in oracle.nodes.items()
    }
    assert got == exp


def test_fk_integrity_no_orphans(spark, built):
    pipe, stats, _ = built
    assert stats["orphan_edges"] == 0
    edges = pipe.wh.table("edges").read(spark)
    node_ids = pipe.wh.table("nodes").read(spark).select("id")
    dangling_subj = edges.join(node_ids.withColumnRenamed("id", "subj"), "subj", "left_anti")
    dangling_obj = edges.join(node_ids.withColumnRenamed("id", "obj"), "obj", "left_anti")
    assert dangling_subj.count() == 0 and dangling_obj.count() == 0


def test_rerun_is_idempotent_and_resumes(spark, built):
    pipe, _, oracle = built
    n_before = pipe.wh.table("edges").read(spark).count()
    snap_before = pipe.wh.table("edges").current_snapshot()
    stats2 = pipe.run()
    # all stages skipped via the fingerprints on their committed snapshots
    assert set(stats2["skipped"]) >= {"pages", "tag", "canon", "link"}
    assert pipe.wh.table("edges").read(spark).count() == n_before
    assert pipe.wh.table("edges").current_snapshot() == snap_before


def test_merge_into_existing_graph_is_noop(spark, built):
    """Force a re-materialize: MERGE keyed on (subj,pred,obj) inserts nothing."""
    pipe, _, _ = built
    edges_t = pipe.wh.table("edges")
    triples = pipe.wh.table("triples").read(spark)
    snap = edges_t.merge_insert_absent(spark, triples, ["subj", "pred", "obj"], partition_by=["pred"])
    last = edges_t.snapshots()[-1]
    assert last.rows_written == 0
    assert edges_t.read(spark).count() == triples.select("subj", "pred", "obj").distinct().count()


def test_lineage_metrics_recorded(built):
    pipe, _, _ = built
    stages = {m["stage"] for m in pipe.wh.metrics()}
    assert {"pages", "tag", "canon", "link", "materialize"} <= stages
    # per-file row counts present in snapshot manifests
    snaps = pipe.wh.table("triples").snapshots()
    assert snaps and all(f["rows"] is not None for f in snaps[-1].files)


def test_time_travel(spark, built):
    pipe, _, _ = built
    t = pipe.wh.table("edges")
    first = t.snapshots()[0].id
    df_then = t.read(spark, first)
    df_now = t.read(spark)
    assert df_then.count() <= df_now.count()


def test_crash_mid_pipeline_resumes_from_last_snapshot(spark, tmp_path, monkeypatch):
    """Kill the job after the tag stage commits (canon raises); the restart
    must skip pages+tag (their snapshots are committed) and produce the
    same graph as an uninterrupted run."""
    import ckg_spark.pipeline as pl

    vocab_cfg = VocabConfig(seed=7, terms_per_type=20)
    vocab = generate_vocab(vocab_cfg)
    pages_cfg = config_from_vocab(vocab, n_docs=120, seed=42, partitions=4)

    wh_crash = str(tmp_path / "wh_crash")
    boom = RuntimeError("simulated executor loss")

    def exploding_canon(*a, **kw):
        raise boom

    monkeypatch.setattr(pl, "build_canonical_map", exploding_canon)
    pipe = pl.KGPipeline(spark, wh_crash, vocab_cfg=vocab_cfg, pages_cfg=pages_cfg)
    with pytest.raises(RuntimeError, match="simulated"):
        pipe.run()
    monkeypatch.undo()

    # tag snapshot committed before the crash; canon/link/materialize absent
    from ckg_spark.lakehouse import Warehouse

    wh = Warehouse(wh_crash)
    assert wh.table("mentions").exists()
    assert not wh.table("edges").exists()

    # restart: pages + tag skip, the rest runs
    pipe2 = pl.KGPipeline(spark, wh_crash, vocab_cfg=vocab_cfg, pages_cfg=pages_cfg)
    stats = pipe2.run()
    assert {"pages", "tag"} <= set(stats["skipped"])
    assert "canon" not in stats["skipped"]

    # identical output to an uninterrupted build
    wh_clean = str(tmp_path / "wh_clean")
    pl.KGPipeline(spark, wh_clean, vocab_cfg=vocab_cfg, pages_cfg=pages_cfg).run()
    got = sorted(
        tuple(r) for r in wh.table("edges").read(spark).select("subj", "pred", "obj").collect()
    )
    exp = sorted(
        tuple(r)
        for r in Warehouse(wh_clean).table("edges").read(spark).select("subj", "pred", "obj").collect()
    )
    assert got == exp


def test_external_pages_change_invalidates_resume(spark, tmp_path):
    """An externally supplied corpus enters the fingerprint chain: the
    same warehouse pointed at a DIFFERENT corpus must rerun tag/link
    (merging the new corpus' triples in) instead of silently reusing the
    previous corpus' mentions; re-running with the SAME files resumes."""
    vocab_cfg = VocabConfig(seed=7, terms_per_type=20)
    vocab = generate_vocab(vocab_cfg)
    cfg_a = config_from_vocab(vocab, n_docs=60, seed=42, partitions=2)
    cfg_b = config_from_vocab(vocab, n_docs=60, seed=42, partitions=2, id_offset=500)
    from ckg_spark.corpus.pages import generate_pages_df

    path_a, path_b = str(tmp_path / "pages_a"), str(tmp_path / "pages_b")
    generate_pages_df(spark, cfg_a).write.parquet(path_a)
    generate_pages_df(spark, cfg_b).write.parquet(path_b)

    wh = str(tmp_path / "wh_ext")
    pipe = KGPipeline(spark, wh, vocab_cfg=vocab_cfg, pages_cfg=cfg_a)
    stats1 = pipe.run(pages=spark.read.parquet(path_a))
    # same files again -> full resume
    stats1b = KGPipeline(spark, wh, vocab_cfg=vocab_cfg, pages_cfg=cfg_a).run(
        pages=spark.read.parquet(path_a)
    )
    assert {"tag", "canon", "link"} <= set(stats1b["skipped"])
    # different corpus, same warehouse -> tag/link rerun, graph grows
    stats2 = KGPipeline(spark, wh, vocab_cfg=vocab_cfg, pages_cfg=cfg_b).run(
        pages=spark.read.parquet(path_b)
    )
    assert "tag" not in stats2["skipped"] and "link" not in stats2["skipped"]
    assert stats2["n_triples"] > stats1["n_triples"]


def test_oracle_honors_id_offset(spark, tmp_path):
    """P/R == 1.0 on an id_offset fixture: the oracle must generate the
    SAME doc-id range as generate_pages_df, not 0..n_docs-1."""
    vocab_cfg = VocabConfig(seed=7, terms_per_type=20)
    vocab = generate_vocab(vocab_cfg)
    pages_cfg = config_from_vocab(vocab, n_docs=80, seed=42, partitions=2, id_offset=80)
    pipe = KGPipeline(
        spark, str(tmp_path / "wh_off"), vocab_cfg=vocab_cfg, pages_cfg=pages_cfg
    )
    pipe.run()
    oracle = run_oracle(vocab, pages_cfg)
    got = {
        (r["subj"], r["pred"], r["obj"])
        for r in pipe.wh.table("edges").read(spark).collect()
    }
    p, r = precision_recall(got, oracle.triples)
    assert (p, r) == (1.0, 1.0)
    # the oracle really graded the offset corpus (urls derive from doc ids)
    assert any("80" in u for u in oracle.text_by_url)


def test_zero_orphan_shortcut_proof_and_fallback(spark, tmp_path):
    """With the staged-edge-count hint, a clean build commits an EMPTY
    quarantine snapshot without a second corpus scan — but the proof is
    manifest arithmetic, so a real orphan must still defeat the shortcut
    and land in quarantine."""
    from ckg_spark.lakehouse import Warehouse
    from ckg_spark.materialize.graph import materialize_graph

    nodes = spark.createDataFrame(
        [
            ("T1", "Disease", "alpha", None, "Disease", ["alpha"]),
            ("T2", "Gene", "beta", None, "Gene", ["beta"]),
        ],
        "id string, label string, name string, description string, type string, synonyms array<string>",
    )
    clean = spark.createDataFrame(
        [
            ("T1", "ASSOCIATED_WITH", "T2", 1.0),
            ("T1", "MENTIONED_IN_PUBLICATION", "http://x/1", 0.5),
        ],
        "subj string, pred string, obj string, score double",
    )
    wh = Warehouse(str(tmp_path / "wh_clean"))
    s = materialize_graph(spark, wh, nodes, clean, total_edges=2)
    assert s["orphan_edges"] == 0
    q = wh.table("edges_quarantine").read(spark)
    assert q.count() == 0
    assert q.columns == clean.columns  # empty snapshot keeps the schema

    dirty = clean.union(
        spark.createDataFrame(
            [("T1", "ASSOCIATED_WITH", "T_MISSING", 1.0)],
            clean.schema,
        )
    )
    wh2 = Warehouse(str(tmp_path / "wh_dirty"))
    # hint reflects the true staged count (3): written valid rows (2) differ,
    # so the shortcut must NOT fire and the orphan must be quarantined
    s2 = materialize_graph(spark, wh2, nodes, dirty, total_edges=3)
    assert s2["orphan_edges"] == 1
    got = wh2.table("edges_quarantine").read(spark).collect()
    assert [(r["subj"], r["obj"]) for r in got] == [("T1", "T_MISSING")]


def test_quarantine_merge_is_idempotent(spark, tmp_path):
    """Re-running materialize after a crash before its quarantine commit must not
    duplicate quarantine rows (same MERGE contract as nodes/edges)."""
    from ckg_spark.lakehouse import Warehouse
    from ckg_spark.materialize.graph import materialize_graph

    wh = Warehouse(str(tmp_path / "wh_q"))
    nodes = spark.createDataFrame(
        [("T1", "Disease", "alpha", None, "Disease", ["alpha"])],
        "id string, label string, name string, description string, type string, synonyms array<string>",
    )
    edges = spark.createDataFrame(
        [
            ("T1", "ASSOCIATED_WITH", "T_MISSING", 1.0),  # orphan obj
            ("T1", "MENTIONED_IN_PUBLICATION", "http://x/1", 0.5),
        ],
        "subj string, pred string, obj string, score double",
    )
    s1 = materialize_graph(spark, wh, nodes, edges)
    s2 = materialize_graph(spark, wh, nodes, edges)  # crash-replay
    q = wh.table("edges_quarantine").read(spark)
    assert q.count() == 1
    assert s1["orphan_edges"] == 1 and s2["orphan_edges"] == 0


def test_merge_staging_dedup_is_deterministic(spark, tmp_path):
    """Duplicate staged keys with DIFFERENT non-key values must keep the
    min-struct row regardless of row order / partitioning — never
    'whichever row the shuffle delivered first'."""
    from ckg_spark.lakehouse import Warehouse

    rows = [("a", "P", "x", 2.0), ("a", "P", "x", 1.0), ("b", "P", "y", 3.0)]
    schema = "subj string, pred string, obj string, score double"
    for i, order in enumerate([rows, rows[::-1]]):
        t = Warehouse(str(tmp_path / f"whd{i}")).table("edges")
        t.merge_insert_absent(
            spark,
            spark.createDataFrame(order, schema).repartition(4),
            ["subj", "pred", "obj"],
        )
        got = {(r["subj"], r["obj"]): r["score"] for r in t.read(spark).collect()}
        assert got == {("a", "x"): 1.0, ("b", "y"): 3.0}, order


def test_build_nodes_ids_unique(spark, built):
    """The nodes merge runs assume_unique=True, so build_nodes MUST emit
    key-unique ids: entity ids from a groupBy(node_id), publication ids
    from a distinct, and the two id spaces disjoint. Checked on the real
    built pipeline output (entity + publication union)."""
    pipe, _stats, _oracle = built
    nodes = pipe.wh.table("nodes").read(spark)
    assert nodes.count() == nodes.select("id").distinct().count()


def test_append_empty_commits_without_a_job(spark, tmp_path):
    """append_empty: zero-row snapshot, schema preserved for re-reads,
    prior data retained, and a later real append still works."""
    from ckg_spark.lakehouse import Warehouse

    wh = Warehouse(str(tmp_path / "wh_ae"))
    t = wh.table("q")
    df = spark.createDataFrame([("a", 1)], "k string, v int")
    # empty-first: table that has never seen rows re-reads with schema
    t.append_empty(df.schema.json())
    got = t.read(spark)
    assert got.columns == ["k", "v"] and got.count() == 0
    # real append after the empty snapshot
    t.append(df)
    assert t.read(spark).count() == 1
    # empty append on a non-empty table keeps the data visible
    t.append_empty(df.schema.json())
    assert t.read(spark).count() == 1
    assert t.snapshots()[-1].rows_written == 0


def test_build_nodes_null_synonyms_keep_name_surface(spark):
    """A term with a NULL synonyms array must still contribute its NAME to
    the cluster surfaces (concat is null-intolerant without the guard)."""
    from ckg_spark.materialize.graph import build_nodes

    terms = spark.createDataFrame(
        [("T1", "Disease", "alpha", "d", None)],
        "id string, entity_type string, name string, description string, synonyms array<string>",
    )
    cmap = spark.createDataFrame([("T1", "T1")], "term_id string, node_id string")
    rows = build_nodes(terms, cmap).collect()
    assert rows[0]["synonyms"] == ["alpha"]


def test_comention_min_score_threshold(spark, built, tmp_path):
    """comention_min_score=2 keeps exactly the ASSOCIATED_WITH pairs with
    score >= 2 (the reference's association cutoff semantics) and leaves
    the other edge families untouched."""
    pipe, _, _ = built
    wh3 = str(tmp_path / "wh_thresh")
    pipe3 = KGPipeline(
        spark,
        wh3,
        vocab_cfg=VocabConfig(seed=7, terms_per_type=30),
        pages_cfg=pipe.pages_cfg,
        comention_min_score=2.0,
    )
    pipe3.run()
    base = pipe.wh.table("edges").read(spark)
    got = pipe3.wh.table("edges").read(spark)
    base_assoc = {
        (r["subj"], r["obj"]): r["score"]
        for r in base.filter("pred = 'ASSOCIATED_WITH'").collect()
    }
    got_assoc = {
        (r["subj"], r["obj"]): r["score"]
        for r in got.filter("pred = 'ASSOCIATED_WITH'").collect()
    }
    assert got_assoc == {k: v for k, v in base_assoc.items() if v >= 2.0}
    assert len(got_assoc) < len(base_assoc)
    for pred in ("MENTIONED_IN_PUBLICATION", "HAS_PARENT"):
        assert (
            got.filter(f"pred = '{pred}'").count()
            == base.filter(f"pred = '{pred}'").count()
        )


@pytest.mark.parametrize("vseed,pseed", [(11, 101), (23, 202), (31, 303)])
def test_triples_match_oracle_across_random_corpora(spark, tmp_path, vseed, pseed):
    """Seed sweep for the headline claim: P/R == 1.0 and bit-exact scores
    must hold for ANY (vocab, corpus) draw, not just the fixture seeds the
    suite was developed against — three fresh vocabularies x corpora,
    each built end-to-end and compared against the single-process oracle."""
    vocab_cfg = VocabConfig(seed=vseed, terms_per_type=25)
    vocab = generate_vocab(vocab_cfg)
    pages_cfg = config_from_vocab(vocab, n_docs=120, seed=pseed, partitions=4)
    pipe = KGPipeline(
        spark,
        str(tmp_path / f"wh_{vseed}_{pseed}"),
        vocab_cfg=vocab_cfg,
        pages_cfg=pages_cfg,
    )
    pipe.run()
    oracle = run_oracle(vocab, pages_cfg)
    edges = pipe.wh.table("edges").read(spark)
    got = {(r["subj"], r["pred"], r["obj"]): r["score"] for r in edges.collect()}
    p, r = precision_recall(set(got), oracle.triples)
    assert (p, r) == (1.0, 1.0), (
        f"seed=({vseed},{pseed}) P={p:.4f} R={r:.4f}; "
        f"spurious={sorted(set(got) - oracle.triples)[:5]} "
        f"missing={sorted(oracle.triples - set(got))[:5]}"
    )
    for key, score in got.items():
        assert math.isclose(score, oracle.scores[key], abs_tol=1e-9), (key, score)


def test_export_neo4j_bulk_roundtrip(spark, built, tmp_path):
    """Bulk-import TSV export (ontologies_controller.py:140-158 headers,
    loader.py LOAD CSV consumption): exact header shape, QUOTE_ALL data
    rows, comma-joined synonyms, one directory per label/pred, and a full
    read-back equal to the warehouse tables."""
    import csv
    import glob

    from ckg_spark.materialize.export import export_neo4j_bulk

    pipe, stats, oracle = built
    out = str(tmp_path / "bulk")
    res = export_neo4j_bulk(spark, pipe.wh, out)

    node_parts = glob.glob(f"{out}/nodes/_label=*/*.csv")
    edge_parts = glob.glob(f"{out}/edges/_type=*/*.csv")
    assert node_parts and edge_parts
    labels = {p.split("_label=")[1].split("/")[0] for p in node_parts}
    assert "Publication" in labels and len(labels) > 1

    with open(sorted(node_parts)[0], encoding="utf-8") as f:
        raw_header = f.readline().rstrip("\n")
        header = next(csv.reader([raw_header], delimiter="\t", quotechar='"'))
        assert header == ["ID", ":LABEL", "name", "description", "type", "synonyms"]
        # QUOTE_ALL parity: every field quoted, header included —
        # exactly what the reference's csv.QUOTE_ALL writers emit
        assert raw_header.startswith('"') and raw_header.endswith('"')
        for line in list(f)[:5]:
            assert all(
                fld == "" or (fld.startswith('"') and fld.endswith('"'))
                for fld in line.rstrip("\n").split("\t")
            ), line

    with open(sorted(edge_parts)[0], encoding="utf-8") as f:
        eh = next(csv.reader([f.readline()], delimiter="\t", quotechar='"'))
        assert eh[:3] == ["START_ID", "END_ID", "TYPE"] and "score" in eh

    # full read-back == warehouse content (python csv with the same
    # dialect the reference's writers use)
    def read_all(parts):
        rows = []
        for p in sorted(parts):
            with open(p, encoding="utf-8") as f:
                rd = csv.reader(f, delimiter="\t", escapechar="\\", quotechar='"')
                hdr = next(rd)
                rows.extend(dict(zip(hdr, r)) for r in rd)
        return rows

    got_edges = {
        (r["START_ID"], r["TYPE"], r["END_ID"]) for r in read_all(edge_parts)
    }
    edges_tbl = {
        (r["subj"], r["pred"], r["obj"])
        for r in pipe.wh.table("edges").read(spark).collect()
    }
    assert got_edges == edges_tbl
    assert len(read_all(node_parts)) == res["n_nodes"]

    # synonyms come back comma-joined (reference's ",".join, :145)
    syn = [
        r["synonyms"]
        for r in read_all(node_parts)
        if r[":LABEL"] != "Publication" and "," in r["synonyms"]
    ]
    assert syn, "expected at least one multi-synonym cluster"


def test_pipeline_under_extreme_hub_skew(spark, tmp_path):
    """Pathological frequent-entity skew (hub_rate=1.0: every hub surface
    in every English document, plus a dense mention floor) — the exact
    hub-entity skew the north rule calls out. The broadcast canonical
    map and in-array co-mention expansion must hold P/R == 1.0 with
    bit-exact scores; no per-entity hot key ever becomes a shuffle key
    in the link stage."""
    vocab_cfg = VocabConfig(seed=13, terms_per_type=20)
    vocab = generate_vocab(vocab_cfg)
    pages_cfg = config_from_vocab(
        vocab,
        n_docs=200,
        seed=99,
        partitions=4,
        hub_rate=1.0,
        mentions_min=6,
        mentions_max=12,
    )
    pipe = KGPipeline(
        spark, str(tmp_path / "wh_skew"), vocab_cfg=vocab_cfg, pages_cfg=pages_cfg
    )
    stats = pipe.run()
    oracle = run_oracle(vocab, pages_cfg)
    edges = pipe.wh.table("edges").read(spark)
    got = {(r["subj"], r["pred"], r["obj"]): r["score"] for r in edges.collect()}
    p, r = precision_recall(set(got), oracle.triples)
    assert (p, r) == (1.0, 1.0)
    for key, score in got.items():
        assert math.isclose(score, oracle.scores[key], abs_tol=1e-9), key
    # skew sanity: the hubs really did dominate (each hub entity is
    # mentioned in (almost) every English doc)
    mention_counts = (
        pipe.wh.table("edges")
        .read(spark)
        .filter("pred = 'MENTIONED_IN_PUBLICATION'")
        .groupBy("subj")
        .count()
        .collect()
    )
    top = max(c["count"] for c in mention_counts)
    assert top >= 0.8 * 200 * 0.95, f"expected a hub mentioned in most docs, top={top}"


def test_export_neo4j_partial_is_pruned(spark, built, tmp_path):
    """Partial export (the reference's --load_entities subset,
    builder.py:69-123): only the selected pred/label directories are
    written, counts reflect the subset, and the edges scan prunes to the
    selected pred partition (PartitionFilters in the plan)."""
    import glob

    from ckg_spark.materialize.export import export_neo4j_bulk

    pipe, stats, oracle = built
    out = str(tmp_path / "bulk_partial")
    res = export_neo4j_bulk(
        spark,
        pipe.wh,
        out,
        labels=["Publication"],
        preds=["MENTIONED_IN_PUBLICATION"],
    )
    edge_dirs = {p.split("_type=")[1] for p in glob.glob(f"{out}/edges/_type=*")}
    node_dirs = {p.split("_label=")[1] for p in glob.glob(f"{out}/nodes/_label=*")}
    assert edge_dirs == {"MENTIONED_IN_PUBLICATION"}
    assert node_dirs == {"Publication"}
    n_mention = (
        pipe.wh.table("edges")
        .read(spark)
        .filter("pred = 'MENTIONED_IN_PUBLICATION'")
        .count()
    )
    assert res["n_edges"] == n_mention
    assert res["n_edges"] < pipe.wh.table("edges").row_count()

    # the pred filter reaches the file index as a partition filter —
    # a one-pred export scans one partition directory, not the table
    scan = (
        pipe.wh.table("edges")
        .read(spark)
        .filter("pred = 'MENTIONED_IN_PUBLICATION'")
    )
    plan = scan._sc._jvm.PythonSQLUtils.explainString(
        scan._jdf.queryExecution(), "formatted"
    )
    assert "PartitionFilters" in plan
    import re as _re

    pf = _re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert pf and "pred" in pf.group(1), pf.group(0) if pf else plan[:500]


def test_partial_exports_accumulate(spark, built, tmp_path):
    """Two partial exports into the same directory accumulate (the
    reference's partial build adds entity files); dynamic partition
    overwrite must not truncate previously exported partitions."""
    import glob

    from ckg_spark.materialize.export import export_neo4j_bulk

    pipe, _, _ = built
    out = str(tmp_path / "bulk_accum")
    export_neo4j_bulk(spark, pipe.wh, out, preds=["MENTIONED_IN_PUBLICATION"], labels=["Publication"])
    export_neo4j_bulk(spark, pipe.wh, out, preds=["ASSOCIATED_WITH"], labels=["Disease"])
    edge_dirs = {p.split("_type=")[1] for p in glob.glob(f"{out}/edges/_type=*")}
    node_dirs = {p.split("_label=")[1] for p in glob.glob(f"{out}/nodes/_label=*")}
    assert {"MENTIONED_IN_PUBLICATION", "ASSOCIATED_WITH"} <= edge_dirs
    assert {"Publication", "Disease"} <= node_dirs
