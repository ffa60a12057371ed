"""End-to-end training-corpus curation pipeline (resumable per stage).

Composes the engine's curation operators into the stage DAG a production
web-corpus pipeline runs (the CCNet/C4/RefinedWeb order: cheap exact
passes first so the expensive ones see fewer bytes):

    docs ─url_dedup─> exact_dedup ─> pii_scrub ─> span_dedup ─>
         quality_filter (lang + length + heuristic score) ─>
         lm_filter (drop the worst perplexity tercile) ─>
         neardup_dedup (MinHash-LSH clusters, keep min id) ─>
         contamination_screen (optional: drop docs leaking eval n-grams) ─>
         dsir_select (optional: keep the k most target-like docs) ─>
         split_pack (deterministic train/val/test + sequence packing)

Every stage commits a snapshot table + a metrics row through the same
``run_stage`` machinery as the KG build (pipeline.py), so a killed job
resumes from the last committed snapshot and per-stage row counts land
in the warehouse's metrics journal (the north rule's lineage contract,
applied to the curation side of the house).

Scale notes: stage ordering is the optimization — url/exact dedup are
one hash-agg each and typically remove the bulk of recrawl duplicates
before span-dedup's explode or MinHash's shingling run; every text
mutation happens in a snapshot-committed stage so reruns never repeat
upstream work. All decision rules are deterministic (min-id keepers,
lowbias32 splits), so two runs over the same input commit identical
tables.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .canon.cc import connected_components
from .lakehouse import Warehouse
from .ops import lm
from .ops.curation import assign_split, ngram_overlap_pairs, pack_greedy
from .ops.dedup import exact_dup_groups, minhash_dup_candidates, remove_repeated_spans
from .ops.dsir import dsir_select, importance_weights
from .ops.scrub import pii_columns
from .ops.textstats import quality_keep, with_quality_stats
from .pipeline import _fingerprint, _input_identity, run_stage


@dataclass
class CurationConfig:
    lang: str | None = "en"  # None keeps every language
    min_tokens: int = 8
    min_quality: float = 0.2  # heuristic gate (ops/textstats.quality_score)
    span_window: int = 16
    span_min_repeats: int = 2
    drop_ppl_bucket: str | None = "tail"  # None disables the LM filter
    neardup_jaccard: float = 0.5
    contam_ngram: int = 8  # shingle width for the decontamination screen
    contam_min_shared: int = 1  # drop a doc sharing >= this many eval shingles
    dsir_k: int | None = None  # keep only the k most target-like docs
    dsir_buckets: int = 1 << 18  # hashed-feature count (bounds the broadcast)
    train: float = 0.8
    val: float = 0.9
    pack_budget: int = 512
    # packing runs one ordered window per stratum; sharding keeps each
    # window bounded instead of sorting a whole split on one task
    pack_shards: int = 32


class CurationPipeline:
    """Input contract: a documents frame with (doc_id, text, lang) and
    optionally (url, warc_ts) — url dedup engages only when both exist."""

    def __init__(
        self, spark: SparkSession, warehouse_root: str, cfg: CurationConfig | None = None
    ):
        self.spark = spark
        self.wh = Warehouse(warehouse_root)
        self.cfg = cfg or CurationConfig()

    def run(
        self,
        docs: DataFrame,
        eval_docs: DataFrame | None = None,
        dsir_target: DataFrame | None = None,
    ) -> dict:
        """``eval_docs`` (doc_id, text) engages the decontamination screen:
        any document sharing >= cfg.contam_min_shared full word
        ``contam_ngram``-grams with the holdout set is dropped.
        ``dsir_target`` (text) + cfg.dsir_k engage DSIR selection: only
        the k documents most like the target distribution survive.
        Each stage's fingerprint covers exactly ITS OWN config knobs
        (chained through the upstream fingerprints), so changing e.g.
        pack_budget reruns only split_pack and reuses every upstream
        snapshot — a whole-config root hash would recompute the full
        corpus DAG for a packing knob. The INPUT frames enter the chain
        by their own identity (file-listing digest for parquet-backed
        frames, plan hash otherwise — pipeline._input_identity, same as
        KGPipeline's external-corpus rule): pointing the same warehouse
        at a different corpus, eval set, or DSIR target invalidates the
        affected stages instead of silently reusing stale snapshots."""
        cfg = self.cfg
        if cfg.dsir_k is not None and dsir_target is None:
            raise ValueError("cfg.dsir_k is set but no dsir_target frame was passed")
        if dsir_target is not None and cfg.dsir_k is None:
            raise ValueError(
                "a dsir_target frame was passed but cfg.dsir_k is unset — "
                "selection would be silently skipped; set dsir_k (or drop "
                "the target)"
            )
        stats: dict[str, Any] = {"skipped": [], "rows": {}}

        def stage(key: str, name: str, fp: str, table: str, compute) -> DataFrame:
            # rows come from the committed snapshot's manifest: no count job
            df, skipped, rows = run_stage(self.spark, self.wh, table, name, fp, compute)
            if skipped:
                stats["skipped"].append(key)
            stats["rows"][key] = rows
            return df

        # root fingerprint carries the INPUT's identity but no config:
        # every knob is threaded into exactly the stage(s) that read it,
        # so a knob change invalidates only its own stage + downstream,
        # while a different corpus invalidates everything
        fp0 = _fingerprint("curate_input", _input_identity(docs))

        # 1. url dedup (earliest capture wins) — only for page-shaped input
        if "url" in docs.columns and "warc_ts" in docs.columns:
            from .extract.urls import dedup_by_canonical_url

            fp_url = _fingerprint("curate_url_dedup", {}, fp0)
            df = stage(
                "url_dedup", "curate_url_dedup", fp_url, "cur_url_dedup",
                lambda: (dedup_by_canonical_url(docs), None),
            )
            fp_prev = fp_url
        else:
            df, fp_prev = docs, fp0

        # 2. exact dedup: drop every byte-identical copy except the min id.
        # No broadcast hints: dup groups and losers are CORPUS-proportional
        # (recrawl-heavy web data is ~half duplicates — id frames alone are
        # terabytes at 10^12 docs), so the strategy must be AQE's runtime
        # size decision, not a forced broadcast. Both pre-join frames are
        # 2-column id projections — the text bytes cross exactly one
        # Exchange (the final anti-join), same as a window-keeper plan.
        def _exact():
            groups = exact_dup_groups(df, "doc_id", "text")
            losers = (
                df.select(
                    "doc_id",
                    F.xxhash64("text").alias("content_hash"),
                    F.xxhash64(F.lit("h2"), F.col("text")).alias("content_hash2"),
                )
                .join(groups, ["content_hash", "content_hash2"])
                .filter(F.col("doc_id") != F.col("keeper_id"))
                .select("doc_id")
            )
            return df.join(losers, "doc_id", "left_anti"), None

        fp_ex = _fingerprint("curate_exact_dedup", {}, fp_prev)
        df = stage("exact_dedup", "curate_exact_dedup", fp_ex, "cur_exact_dedup", _exact)

        # 3. PII scrub FIRST (the regexes need raw punctuation; the
        # token-window span rebuild below is lossy normalization — it
        # tokenizes away '@' and dots, so scrubbing after it would miss
        # every address). NARROW projection (ops/scrub.pii_columns) — the
        # earlier scrub-frame-join-back spelling shuffled the corpus text
        # at crawl scale where the non-text side outgrows a broadcast.
        def _pii():
            cols = pii_columns(F.col("text"))
            rest = [c for c in df.columns if c not in ("doc_id", "text")]
            return (
                df.select(
                    "doc_id", cols["clean_text"].alias("text"), *rest,
                    cols["n_emails"].alias("n_emails"),
                    cols["n_ips"].alias("n_ips"),
                    cols["n_phones"].alias("n_phones"),
                ),
                None,
            )

        fp_pii = _fingerprint("curate_pii", {}, fp_ex)
        df = stage("pii_scrub", "curate_pii", fp_pii, "cur_pii", _pii)

        # 4. repeated-span removal (text REWRITTEN from surviving token
        # windows — a lossy, lowercased normalization by construction)
        def _span():
            cleaned = remove_repeated_spans(
                df, "text", "doc_id",
                mode="token_windows",
                window=cfg.span_window,
                min_repeats=cfg.span_min_repeats,
            ).withColumnRenamed("doc", "doc_id")
            rest = df.drop("text")
            return (
                cleaned.join(rest, "doc_id").select(
                    "doc_id", F.col("clean_text").alias("text"),
                    *[c for c in rest.columns if c != "doc_id"],
                    "n_spans", "n_removed",
                ),
                None,
            )

        fp_sp = _fingerprint(
            "curate_span_dedup",
            {"window": cfg.span_window, "min_repeats": cfg.span_min_repeats},
            fp_pii,
        )
        df = stage("span_dedup", "curate_span_dedup", fp_sp, "cur_span_dedup", _span)

        # 5. heuristic quality gate: language, length, quality score —
        # single-tokenization shape (with_quality_stats): the Column-per-stat
        # spelling split the text ~7x per row and was 3.4x the stage CPU.
        # Stopword profile FOLLOWS cfg.lang (a German run scored against
        # English stopwords zeroes stopword_ratio corpus-wide and a
        # min_quality above ~0.45 would silently delete everything);
        # lang=None / unknown codes use the multilingual union profile.
        # NOTE: n_tokens counts WHITESPACE tokens — unsegmented CJK text
        # is one token per run, so a multilingual (lang=None) corpus
        # needs min_tokens=1 or an upstream segmenter for those scripts.
        from .ops.textstats import STOPWORDS

        qlang = cfg.lang if cfg.lang in STOPWORDS else None

        def _quality():
            out = with_quality_stats(df, "text", lang=qlang)
            if cfg.lang is not None and "lang" in df.columns:
                out = out.filter(F.col("lang") == cfg.lang)
            # one-pass predicate (quality_keep): filtering on the projected
            # stats columns gets pushed below the projection with the full
            # expression trees substituted in — ~5 tokenizations per input
            # row; this stays a single split + array pass per row
            return (
                out.filter(
                    quality_keep(F.col("text"), cfg.min_tokens, cfg.min_quality, lang=qlang)
                ),
                None,
            )

        fp_q = _fingerprint(
            "curate_quality",
            {"lang": cfg.lang, "min_tokens": cfg.min_tokens, "min_q": cfg.min_quality},
            fp_sp,
        )
        df = stage("quality_filter", "curate_quality", fp_q, "cur_quality", _quality)

        # 6. LM perplexity filter (drop the configured tercile). LEFT
        # join: the LM tokenizer is Latin-script (ops/lm.TOKEN_RE) — a doc
        # with no scorable tokens (possible under lang=None) gets NO ppl
        # row, and an inner join would silently delete it; unscorable docs
        # pass through with null ppl/bucket (a filter may only drop what
        # it actually scored).
        fp_lm = _fingerprint("curate_lm", {"drop": cfg.drop_ppl_bucket}, fp_q)
        if cfg.drop_ppl_bucket is not None:
            def _lm():
                scored = lm.lm_perplexity(df, "text", "doc_id").localCheckpoint()
                buckets = lm.perplexity_buckets(scored).withColumnRenamed("doc", "doc_id")
                # carried as ppl_bucket: pack_greedy later adds its own
                # 'bucket' column, which would silently overwrite this one
                keep = buckets.select(
                    "doc_id", "ppl", F.col("bucket").alias("ppl_bucket")
                )
                joined = df.join(keep, "doc_id", "left")
                return (
                    joined.filter(
                        F.col("ppl_bucket").isNull()
                        | (F.col("ppl_bucket") != cfg.drop_ppl_bucket)
                    ),
                    None,
                )

            df = stage("lm_filter", "curate_lm", fp_lm, "cur_lm", _lm)

        # 7. near-dup dedup: MinHash-LSH pairs -> clusters -> keep min id
        def _neardup():
            pairs = minhash_dup_candidates(
                df, "doc_id", "text", jaccard_threshold=cfg.neardup_jaccard
            )
            comp = connected_components(pairs, src="key_a", dst="key_b")
            # minhash keys are STRING-cast ids, so cc's component is the
            # lexicographic min — recompute the keeper as the NUMERIC min
            # per component and cast the node back to long BEFORE the
            # anti-join (a string=long join key would coerce both sides —
            # under ansi=false to DOUBLE, where 64-bit ids collide above
            # 2^53 and non-duplicates get deleted). The keeper agg is
            # dup-mass-proportional, not corpus-proportional.
            members = comp.select(
                F.col("node").cast("long").alias("doc_id"), "component"
            )
            keepers = members.groupBy("component").agg(
                F.min("doc_id").alias("keeper_id")
            )
            losers = (
                members.join(keepers, "component")
                .filter(F.col("doc_id") != F.col("keeper_id"))
                .select("doc_id")
            )
            # losers scale with the corpus' near-dup mass — AQE decides
            # whether the anti-join broadcasts (same rationale as _exact)
            return df.join(losers, "doc_id", "left_anti"), None

        fp_nd = _fingerprint("curate_neardup", {"j": cfg.neardup_jaccard}, fp_lm)
        df = stage("neardup_dedup", "curate_neardup", fp_nd, "cur_neardup", _neardup)
        fp_prev2 = fp_nd

        # 7b. decontamination screen (optional): drop documents leaking
        # holdout/benchmark content. The eval side broadcasts (it is
        # dimension-sized vs the corpus), so the train shingles never
        # shuffle (ops/curation.ngram_overlap_split, broadcast_eval).
        if eval_docs is not None:
            def _contam():
                pairs = ngram_overlap_pairs(
                    df, eval_docs, "doc_id", "text", n=cfg.contam_ngram
                )
                # dirty is usually tiny (docs leaking eval content) but is
                # unbounded in the adversarial case — AQE decides
                dirty = (
                    pairs.filter(F.col("n_shared") >= cfg.contam_min_shared)
                    .select(F.col("left_id").alias("doc_id"))
                    .distinct()
                )
                return df.join(dirty, "doc_id", "left_anti"), None

            fp_ct = _fingerprint(
                "curate_contam",
                {
                    "n": cfg.contam_ngram,
                    "min_shared": cfg.contam_min_shared,
                    "eval": _input_identity(eval_docs),
                },
                fp_prev2,
            )
            df = stage("contamination_screen", "curate_contam", fp_ct, "cur_contam", _contam)
            fp_prev2 = fp_ct

        # 7c. DSIR selection (optional): keep the k documents most like
        # the target distribution — hashed features so the ratio table
        # broadcast is bounded by cfg.dsir_buckets (ops/dsir.py).
        if cfg.dsir_k is not None:
            def _dsir():
                weighted = importance_weights(
                    df, dsir_target, "text", "doc_id", n_buckets=cfg.dsir_buckets
                )
                chosen = dsir_select(weighted, k=cfg.dsir_k).select(
                    F.col("doc").alias("doc_id"), "log_w"
                )
                # chosen is exactly k id rows — broadcast only when k is
                # provably broadcast-sized (a selection of a 100 TB corpus
                # can be billions of keepers); otherwise AQE decides
                if cfg.dsir_k <= 4_000_000:
                    chosen = F.broadcast(chosen)
                return df.join(chosen, "doc_id"), None

            fp_ds = _fingerprint(
                "curate_dsir",
                {
                    "k": cfg.dsir_k,
                    "buckets": cfg.dsir_buckets,
                    "target": _input_identity(dsir_target),
                },
                fp_prev2,
            )
            df = stage("dsir_select", "curate_dsir", fp_ds, "cur_dsir", _dsir)
            fp_prev2 = fp_ds

        # 8. deterministic split + sequence packing of the train slice
        def _split_pack():
            out = df.withColumn(
                "split", assign_split(F.col("doc_id"), cfg.train, cfg.val)
            ).withColumn(
                "pack_stratum",
                F.concat_ws(
                    "_", F.col("split"), F.pmod(F.col("doc_id"), F.lit(cfg.pack_shards))
                ),
            )
            packed = pack_greedy(
                out, stratum_col="pack_stratum", order_col="doc_id",
                tokens_col="n_tokens", budget=cfg.pack_budget,
            )
            return packed, ["split"]

        fp_fin = _fingerprint(
            "curate_split_pack",
            {
                "train": cfg.train,
                "val": cfg.val,
                "budget": cfg.pack_budget,
                "shards": cfg.pack_shards,
            },
            fp_prev2,
        )
        stage("split_pack", "curate_split_pack", fp_fin, "curated_documents", _split_pack)
        stats["n_curated"] = stats["rows"]["split_pack"]
        return stats
