#!/usr/bin/env python
"""Benchmark harness.

Default mode (what the per-round driver runs):
    python bench.py
-> one JSON line:
    {"metric": "triples_per_sec", "value": N, "unit": "sec",
     "queries": {...per-query seconds...}, "sf": 0.1,
     "kg": {...pipeline throughput detail...}}

Headline queries run at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1)
on local[$SPARK_GRAFT_CPUS]; the KG pipeline throughput section generates a
deterministic pages corpus (size scaled to the SF), writes it to parquet
(untimed — it is the *input*), then times extract -> tag -> canon -> link ->
materialize end-to-end and reports triples/sec.

Scaling mode (north-rule evidence, run via
``scripts/run_scaling.py --workload kg``, which spawns one subprocess per
parallelism level):
    python bench.py --kg-only --cores 8  --n-docs 40000
-> one JSON line with the KG throughput at that core count.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    "q01_pricing_summary",
    "q03_top_orders",
    "q_multihop_region_revenue",
    "q_window_rank_acctbal",
    "q_kg_mentions",
    "q_kg_mention_topk",
    "q_kg_comention",
    "q_kg_ancestors",
    "q_kg_degree_centrality",
    "q_minhash_dup_pairs",
    "q_simhash_dup_pairs",
    "q_embedding_topk",
    "q_embedding_neardup_pairs",
    "q_doc_token_stats",
    "q_doc_langid",
    "q_event_sessions",
    "q_welch_ttest",
    "q_ttest_fdr",
    "q_enrichment_fisher",
    "q_anova_oneway",
    "q_corr_matrix_fdr",
    "q_ivf_topk",
    "q_impute_downshift",
    "q_kaplan_meier",
    "q_kmeans_embeddings",
    "q_impute_knn",
    "q_token_packing",
    "q_contamination_screen",
    "q_volcano",
    "q_wordcloud_counts",
    "q_neardup_clusters",
    "q_kg_betweenness",
    "q_wgcna_modules",
    "q_wgcna_soft_threshold",
    "q_lm_perplexity",
    "q_dsir_select",
    "q_graph_triangles",
    "q_graph_kcore",
    "q_graph_closeness",
    "q_graph_summary",
    "q_kg_pipeline_smoke",
    "q_samr",
    "q_mapper_nerve",
]


def _sf_of(sf_dir: str) -> float:
    base = os.path.basename(sf_dir.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return 0.0


def run_headline_queries(spark, sf_dir: str) -> dict[str, float]:
    from ckg_spark.pipeline import release_blocks
    from ckg_spark.queries import CATALOG

    timings: dict[str, float] = {}
    # warm-up: spin up executor python workers once, outside the timings
    spark.range(1000).selectExpr("sum(id)").collect()
    # best-of-2 per query: this host's co-tenant load swings single-shot
    # timings by 3-5x (BENCH.md host-variance note); the better of two
    # back-to-back runs is the standard warm measurement and far closer
    # to the plan's actual cost
    for name in HEADLINE:
        fn = CATALOG[name].spark_fn
        best = float("inf")
        for _ in range(2):
            t0 = time.perf_counter()
            fn(spark, sf_dir).collect()
            best = min(best, time.perf_counter() - t0)
            # drop the query's cached tables and localCheckpoint blocks:
            # they are never auto-unpersisted, and accumulated across the
            # suite they slow later queries far beyond single-query timings
            spark.catalog.clearCache()
            release_blocks(spark)
        timings[name] = round(best, 3)
    return timings


def kg_throughput(
    spark,
    n_docs: int,
    partitions: int,
    workdir: str,
    pages_path: str | None = None,
    words: tuple[int, int] = (40, 160),
    terms_per_type: int = 60,
) -> dict:
    """Time the full KG build over a pre-generated parquet corpus (the
    corpus is the *input* — its generation is never part of the timing)."""
    from ckg_spark.corpus.pages import config_from_vocab
    from ckg_spark.corpus.vocab import VocabConfig, generate_vocab
    from ckg_spark.pipeline import KGPipeline

    vocab_cfg = VocabConfig(seed=7, terms_per_type=terms_per_type)
    vocab = generate_vocab(vocab_cfg)
    pages_cfg = config_from_vocab(
        vocab,
        n_docs=n_docs,
        seed=42,
        partitions=partitions,
        words_min=words[0],
        words_max=words[1],
    )

    from ckg_spark.corpus.pages import generate_pages_df

    if pages_path is None:
        pages_path = os.path.join(workdir, "pages_raw")
        generate_pages_df(spark, pages_cfg).write.mode("overwrite").parquet(pages_path)
    pages = spark.read.parquet(pages_path)

    pipe = KGPipeline(
        spark,
        os.path.join(workdir, "warehouse"),
        vocab_cfg=vocab_cfg,
        pages_cfg=pages_cfg,
    )
    t0 = time.perf_counter()
    stats = pipe.run(pages=pages)
    elapsed = time.perf_counter() - t0
    return {
        "n_docs": n_docs,
        "n_triples": stats["n_triples"],
        "n_nodes": stats["n_nodes"],
        "seconds": round(elapsed, 3),
        "triples_per_sec": round(stats["n_triples"] / elapsed, 1),
        "docs_per_sec": round(n_docs / elapsed, 1),
        "stages": {m["stage"]: m["seconds"] for m in pipe.wh.metrics() if "seconds" in m},
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--kg-only", action="store_true")
    ap.add_argument("--cores", type=int, default=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    ap.add_argument("--n-docs", type=int, default=None)
    ap.add_argument("--partitions", type=int, default=128)
    ap.add_argument("--pages-path", default=None, help="pre-generated corpus parquet")
    ap.add_argument("--gen-only", action="store_true", help="only generate the corpus to --pages-path")
    ap.add_argument("--words", default="40,160", help="body words min,max")
    ap.add_argument("--terms-per-type", type=int, default=60, help="vocab size per entity type")
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    args = ap.parse_args()
    words = tuple(int(x) for x in args.words.split(","))

    from ckg_spark.session import get_spark

    spark = get_spark("ckg-bench", cores=args.cores)
    spark.sparkContext.setLogLevel("ERROR")
    sf = _sf_of(args.sf_dir)
    n_docs = args.n_docs if args.n_docs is not None else max(2000, int(200_000 * sf))

    workdir = tempfile.mkdtemp(prefix="ckg_bench_")
    try:
        if args.gen_only:
            from ckg_spark.corpus.pages import config_from_vocab, generate_pages_df
            from ckg_spark.corpus.vocab import VocabConfig, generate_vocab

            vocab = generate_vocab(VocabConfig(seed=7, terms_per_type=args.terms_per_type))
            cfg = config_from_vocab(
                vocab, n_docs=n_docs, seed=42, partitions=args.partitions,
                words_min=words[0], words_max=words[1],
            )
            generate_pages_df(spark, cfg).write.mode("overwrite").parquet(args.pages_path)
            print(json.dumps({"generated": args.pages_path, "n_docs": n_docs}))
            return
        if args.kg_only:
            # spin up the executor Python worker pool before the timed
            # section — worker startup is a fixed cost that would otherwise
            # penalize the faster parallelism level in scaling runs
            import pandas as _pd

            spark.createDataFrame(_pd.DataFrame({"x": range(1000)})).mapInPandas(
                lambda it: it, "x long"
            ).selectExpr("sum(x)").collect()
            kg = kg_throughput(
                spark, n_docs, args.partitions, workdir,
                pages_path=args.pages_path, words=words,
                terms_per_type=args.terms_per_type,
            )
            print(json.dumps({"cores": args.cores, **kg}))
            return
        timings = run_headline_queries(spark, args.sf_dir)
        # best-of-2 KG builds (fresh warehouse each, same pre-generated
        # corpus): the shared host's single-shot build times range 7-54 s
        # for identical code (BENCH.md); two runs bound the noise and the
        # triple-count equality doubles as the determinism sentinel
        kg = kg_throughput(spark, n_docs, args.partitions, workdir)
        wd2 = os.path.join(workdir, "run2")
        kg2 = kg_throughput(
            spark, n_docs, args.partitions, wd2,
            pages_path=os.path.join(workdir, "pages_raw"),
        )
        assert kg2["n_triples"] == kg["n_triples"], (kg["n_triples"], kg2["n_triples"])
        run_secs = sorted([kg["seconds"], kg2["seconds"]])
        kg = kg if kg["seconds"] <= kg2["seconds"] else kg2
        out = {
            "metric": "triples_per_sec",
            "value": kg["triples_per_sec"],
            "unit": "sec",
            "queries": timings,
            "sf": sf,
            "kg": {**kg, "run_seconds": run_secs, "runs": 2},
        }
        print(json.dumps(out))
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
