"""CurationPipeline: end-to-end over planted hazards, resume, determinism."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ckg_spark.curate import CurationConfig, CurationPipeline

# exactly 12 tokens = 3 clean tiles at span_window=4, planted at the START
# of three surviving docs so the tiles align across them (count 3 >= 3)
BOILER = "subscribe to our newsletter and follow this page for more updates now"
NEARBODY = (
    "the shared near duplicate body keeps sixteen distinct words flowing here "
    "with another final tail segment ending"
)


def _docs(spark):
    rows = [
        # keepers (boilerplate prefix + unique bodies)
        (1, BOILER + " alpha beta gamma delta epsilon zeta eta theta iota", "en"),
        (2, BOILER + " kappa lambda mu nu xi omicron pi rho sigma", "en"),
        # exact duplicate of 1 (dropped at exact dedup, BEFORE span counting)
        (3, BOILER + " alpha beta gamma delta epsilon zeta eta theta iota", "en"),
        # near duplicates sharing NEARBODY (only 2 repeats < 3: untouched by
        # span dedup); 4 kept as min id, 5 dropped at near-dup stage
        (4, NEARBODY + " one", "en"),
        (5, NEARBODY + " two", "en"),
        # PII to scrub (kept)
        (6, BOILER + " write to the editor at editor@example.com for a reply", "en"),
        # too short (dropped at quality gate)
        (7, "tiny", "en"),
        # wrong language (dropped when lang='en')
        (8, "mais ce document est en francais pour le test du filtre langue", "fr"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


@pytest.fixture()
def cfg():
    return CurationConfig(
        lang="en", min_tokens=8, min_quality=0.0,
        span_window=4, span_min_repeats=3,  # the boilerplate tail repeats 3x
        drop_ppl_bucket=None,  # tiny fixture: terciles would drop keepers
        neardup_jaccard=0.5, pack_budget=64,
    )


def test_curation_end_to_end(spark, tmp_path, cfg):
    docs = _docs(spark)
    from ckg_spark.lakehouse import Warehouse

    root = str(tmp_path / "wh")
    stats = CurationPipeline(spark, root, cfg).run(docs)
    wh = Warehouse(root)
    out = wh.table("curated_documents").read(spark)
    rows = {r["doc_id"]: r for r in out.collect()}
    # survivors: 1, 2 (or their dedup keepers), 4, 6
    assert set(rows) == {1, 2, 4, 6}
    # exact dup 3 dropped; near dup 5 dropped; 7 too short; 8 wrong lang
    assert stats["rows"]["exact_dedup"] == 7
    assert stats["rows"]["neardup_dedup"] == stats["rows"]["quality_filter"] - 1
    # boilerplate spans removed from the rewritten text (docs 1, 2, 6 carry
    # the aligned 3-tile prefix; dup doc 3 is gone before span counting)
    assert "subscribe" not in rows[1]["text"] and "subscribe" not in rows[6]["text"]
    assert "alpha beta gamma delta" in rows[1]["text"]
    assert "kappa lambda mu nu" in rows[2]["text"]
    # PII redacted (scrub runs BEFORE the lossy token-window rebuild; the
    # <EMAIL> token itself then tokenizes to 'email' — the address is gone)
    assert "@" not in rows[6]["text"] and "example" not in rows[6]["text"]
    assert "email" in rows[6]["text"]
    # split/pack columns present and deterministic
    assert {"split", "bucket", "n_tokens", "quality"} <= set(out.columns)
    # per-stage metrics journal carries every curation stage
    names = {m["stage"] for m in wh.metrics()}
    assert {
        "curate_exact_dedup", "curate_span_dedup", "curate_pii",
        "curate_quality", "curate_neardup", "curate_split_pack",
    } <= names
    # stats rows come from the manifests: each equals a scan of the
    # stage's committed table
    tables = {
        "exact_dedup": "cur_exact_dedup", "pii_scrub": "cur_pii",
        "span_dedup": "cur_span_dedup", "quality_filter": "cur_quality",
        "neardup_dedup": "cur_neardup", "split_pack": "curated_documents",
    }
    assert set(stats["rows"]) == set(tables)
    for key, table in tables.items():
        assert stats["rows"][key] == wh.table(table).read(spark).count(), key


def test_curation_resume_skips_all_stages(spark, tmp_path, cfg):
    docs = _docs(spark)
    root = str(tmp_path / "wh2")
    first = CurationPipeline(spark, root, cfg).run(docs)
    second = CurationPipeline(spark, root, cfg).run(docs)
    assert first["skipped"] == []
    assert set(second["skipped"]) == {
        "exact_dedup", "span_dedup", "pii_scrub", "quality_filter",
        "neardup_dedup", "split_pack",
    }
    assert second["n_curated"] == first["n_curated"]


def test_curation_config_change_invalidates_suffix(spark, tmp_path, cfg):
    docs = _docs(spark)
    root = str(tmp_path / "wh3")
    CurationPipeline(spark, root, cfg).run(docs)
    cfg2 = CurationConfig(**{**cfg.__dict__, "pack_budget": 32})
    stats = CurationPipeline(spark, root, cfg2).run(docs)
    # per-stage fingerprints carry only that stage's own knobs: changing
    # pack_budget reruns split_pack but REUSES every upstream snapshot
    # (a whole-config root hash would recompute url/exact/pii/span/
    # quality/neardup over the full corpus for a packing knob)
    assert "split_pack" not in stats["skipped"]
    assert {"exact_dedup", "span_dedup", "quality_filter", "neardup_dedup"} <= set(
        stats["skipped"]
    )


def test_curation_different_corpus_invalidates_chain(spark, tmp_path, cfg):
    """Pointing the SAME warehouse at a DIFFERENT corpus must rerun the
    stages (the input's identity is part of the fingerprint chain —
    pipeline._input_identity), not silently serve the old corpus'
    snapshots. The output must reflect the new input."""
    root = str(tmp_path / "wh_swap")
    CurationPipeline(spark, root, cfg).run(_docs(spark))
    other = spark.createDataFrame(
        [
            (21, "completely fresh corpus document about rivers and mountains today", "en"),
            (22, "another fresh corpus document describing forests and valleys nearby", "en"),
        ],
        "doc_id long, text string, lang string",
    )
    stats = CurationPipeline(spark, root, cfg).run(other)
    assert stats["skipped"] == []
    from ckg_spark.lakehouse import Warehouse

    out = Warehouse(root).table("curated_documents").read(spark)
    assert {r["doc_id"] for r in out.collect()} == {21, 22}


def test_multilingual_corpus_survives_curation(spark, tmp_path):
    """lang=None keeps every language: non-Latin docs must come through
    WITH their text (the span stage's old ASCII tokenizer emptied them),
    accented text must not be mangled, quality must score against the
    multilingual stopword union (not English-only), and docs the Latin
    LM tokenizer cannot score must pass the LM filter (null bucket)
    instead of being inner-joined away."""
    rows = [
        (1, "the quick brown fox jumps over the lazy dog again and again", "en"),
        (2, "der schnelle braune fuchs springt über die faule straße hinweg", "de"),
        (3, "这是 一个 完全 中文 的 文档 没有 拉丁 字母 在这里", "zh"),  # pre-segmented
        (4, "le renard brun rapide saute par dessus le chien paresseux", "fr"),
        (5, "a b c d e f g h i j k l m n o p q r s t", "en"),  # ppl fodder
        (6, "word salad random glyph assortment entropy maximal nonsense chain", "en"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    from ckg_spark.lakehouse import Warehouse

    cfg = CurationConfig(
        lang=None, min_tokens=5, min_quality=0.0,
        span_window=4, span_min_repeats=3,
        drop_ppl_bucket=None,  # tercile membership on 6 docs is fragile
        neardup_jaccard=0.9, pack_budget=64,
    )
    CurationPipeline(spark, str(tmp_path / "whml"), cfg).run(docs)
    out = Warehouse(str(tmp_path / "whml")).table("curated_documents").read(spark)
    got = {r["doc_id"]: r for r in out.collect()}
    # every language came through — nothing was emptied or inner-joined away
    assert {1, 2, 3, 4, 5, 6} == set(got)
    assert "中文" in got[3]["text"]
    # accented German text intact through the span rewrite
    assert "über" in got[2]["text"] and "straße" in got[2]["text"]
    # the multilingual stopword profile scores de/fr stopwords as stopwords
    assert got[2]["quality"] > 0.4 and got[4]["quality"] > 0.4

    # with the LM filter ON, the unscorable (non-Latin) doc passes through
    # with a null bucket instead of being deleted by an inner join
    cfg_lm = CurationConfig(**{**cfg.__dict__, "drop_ppl_bucket": "tail"})
    CurationPipeline(spark, str(tmp_path / "whml2"), cfg_lm).run(docs)
    out2 = Warehouse(str(tmp_path / "whml2")).table("curated_documents").read(spark)
    got2 = {r["doc_id"]: r for r in out2.collect()}
    assert 3 in got2 and got2[3]["ppl_bucket"] is None and got2[3]["ppl"] is None
    # ...and the tail tercile of the scorable docs was actually dropped
    assert len([d for d in got2 if d != 3]) < 5


def test_url_dedup_stage_engages_for_page_shaped_input(spark, tmp_path, cfg):
    docs = _docs(spark).withColumn(
        "url",
        F.concat(F.lit("https://ex.com/a?utm_source=x&id="), (F.col("doc_id") % 2).cast("string")),
    ).withColumn("warc_ts", F.lit("2024-01-01 00:00:00").cast("timestamp"))
    stats = CurationPipeline(spark, str(tmp_path / "wh4"), cfg).run(docs)
    # 8 docs over 2 canonical urls -> 2 survivors enter the rest of the DAG
    assert stats["rows"]["url_dedup"] == 2


def test_contamination_stage_drops_leaky_docs(spark, tmp_path, cfg):
    docs = _docs(spark)
    # eval doc shares doc 2's full body (>= one 8-gram); doc ids overlap
    # train ids on purpose — the screen keys on the is_eval tag, not ids
    eval_docs = spark.createDataFrame(
        [(1, BOILER + " kappa lambda mu nu xi omicron pi rho sigma")],
        "doc_id long, text string",
    )
    c = CurationConfig(**{**cfg.__dict__, "contam_ngram": 8, "contam_min_shared": 1})
    stats = CurationPipeline(spark, str(tmp_path / "wh"), c).run(
        docs, eval_docs=eval_docs
    )
    from ckg_spark.lakehouse import Warehouse

    out = Warehouse(str(tmp_path / "wh")).table("curated_documents").read(spark)
    survivors = {r["doc_id"] for r in out.collect()}
    assert 2 not in survivors  # leaked the eval 8-gram
    assert {1, 4, 6} <= survivors  # clean docs untouched
    assert stats["rows"]["contamination_screen"] == stats["rows"]["neardup_dedup"] - 1


def test_dsir_stage_keeps_k_most_target_like(spark, tmp_path, cfg):
    docs = _docs(spark)
    # the target speaks doc 4/5's vocabulary — the near-dup survivor (4)
    # must outrank the boilerplate docs under importance weighting
    target = spark.createDataFrame(
        [(100, NEARBODY + " duplicate body words flowing segment")],
        "doc_id long, text string",
    )
    c = CurationConfig(**{**cfg.__dict__, "dsir_k": 2})
    stats = CurationPipeline(spark, str(tmp_path / "wh"), c).run(
        docs, dsir_target=target
    )
    from ckg_spark.lakehouse import Warehouse

    out = Warehouse(str(tmp_path / "wh")).table("curated_documents").read(spark)
    survivors = {r["doc_id"] for r in out.collect()}
    assert len(survivors) == 2 and stats["rows"]["dsir_select"] == 2
    assert 4 in survivors  # the target-like doc made the cut


def test_dsir_k_without_target_raises(spark, tmp_path, cfg):
    c = CurationConfig(**{**cfg.__dict__, "dsir_k": 2})
    with pytest.raises(ValueError, match="dsir_target"):
        CurationPipeline(spark, str(tmp_path / "wh"), c).run(_docs(spark))


def test_stages_release_their_checkpoint_blocks(spark, tmp_path, cfg):
    """Every block pinned DURING a stage (MinHash pins, LM scored frame,
    cc pins) must be unpersisted once the stage's snapshot commits —
    localCheckpoint blocks are never auto-released, and a session running
    several pipelines otherwise accumulates corpus-sized blocks until the
    block manager thrashes (the documented mid-suite slowdown)."""
    def pinned_ids():
        return set(dict(spark.sparkContext._jsc.getPersistentRDDs()))

    before = pinned_ids()
    c = CurationConfig(**{**cfg.__dict__, "drop_ppl_bucket": "tail"})
    CurationPipeline(spark, str(tmp_path / "whrel"), c).run(_docs(spark))
    leaked = pinned_ids() - before
    assert not leaked, f"stages leaked pinned RDD blocks: {leaked}"


def test_dsir_target_without_k_raises(spark, tmp_path, cfg):
    """A target frame with no k would silently skip selection — reject."""
    target = spark.createDataFrame([(100, "some target text")], "doc_id long, text string")
    with pytest.raises(ValueError, match="dsir_k"):
        CurationPipeline(spark, str(tmp_path / "wh"), cfg).run(
            _docs(spark), dsir_target=target
        )


def test_pack_greedy_random_sweep(spark):
    """Random token counts through pack_greedy vs a plain python
    cumulative loop (bucket = floor(preceding-cum/budget), per stratum
    in explicit order)."""
    import numpy as np

    from ckg_spark.ops.curation import pack_greedy

    rng = np.random.default_rng(777)
    rows = [
        (f"s{rng.integers(0, 3)}", int(i), int(rng.integers(1, 40)))
        for i in range(120)
    ]
    df = spark.createDataFrame(rows, schema="stratum string, ord int, toks int")
    got = {
        (r["stratum"], r["ord"]): r["bucket"]
        for r in pack_greedy(df, "stratum", "ord", "toks", budget=64).collect()
    }
    by_stratum = {}
    for s, o, t in rows:
        by_stratum.setdefault(s, []).append((o, t))
    for s, items in by_stratum.items():
        cum = 0
        for o, t in sorted(items):
            assert got[(s, o)] == cum // 64, (s, o)
            cum += t
