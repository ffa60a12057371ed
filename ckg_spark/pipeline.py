"""Checkpoint-resumable KG construction pipeline (the stage DAG).

Stage graph (≙ the reference's import -> load two-phase build,
/root/reference src/graphdb_builder/builder/builder.py:47-129, with the TSV
intermediate replaced by snapshot tables):

    pages ──(extract ∘ tag, fused narrow maps)──> mentions ──link──┐
    vocab ──────────────canon──> canonical_map ────────────────────┴─> triples ──mat──> nodes/edges

(``materialize_text=True`` splits the fused stage into
pages ──ext──> pages_text ──tag──> mentions, committing the extracted
text as its own resumable snapshot.)

Resume semantics ≙ the reference's marker files
(src/graphdb_connector/mapping.py:29-40 renames mapping.tsv ->
complete_mapping.tsv and readers poll on it): each stage's completion is
recorded in ``_checkpoints.json`` keyed by a **fingerprint** =
sha256(stage name, config, upstream fingerprints). A restarted job skips
every stage whose fingerprint matches and whose output snapshot still
exists — i.e. it restarts from the last committed snapshot (north rule).
A config change invalidates exactly the affected suffix of the DAG.
"""

from __future__ import annotations

import hashlib
import json
import os
import time
from collections.abc import Collection
from contextlib import contextmanager
from dataclasses import asdict
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from .canon import build_canonical_map
from .corpus.pages import PagesConfig, config_from_vocab, generate_pages_df
from .corpus.vocab import Vocab, VocabConfig, generate_vocab, vocab_dataframes
from .extract import with_extracted_text
from .lakehouse import Warehouse
from .link import all_triples
from .materialize import build_nodes, materialize_graph
from .tag import build_automaton, tag_mentions, tag_pages_fused


def _fingerprint(stage: str, cfg: Any, *upstream: str) -> str:
    payload = json.dumps(
        {"stage": stage, "cfg": cfg, "up": list(upstream)}, sort_keys=True, default=str
    )
    return hashlib.sha256(payload.encode()).hexdigest()[:16]


def _input_identity(df: DataFrame) -> dict:
    """Fingerprint payload for an EXTERNALLY supplied input frame. Without
    this, resume against the same warehouse with a different corpus would
    silently reuse the previous corpus' snapshots (the config fingerprint
    alone cannot see the input change). File-backed inputs (the
    spark-submit deployment path reads parquet) are identified by a
    digest of their file listing — driver-side metadata, no data scan;
    in-memory frames fall back to the canonicalized-plan hash."""
    ident: dict = {"schema": df.schema.simpleString()}
    files = sorted(df.inputFiles())
    if files:
        ident["files"] = hashlib.sha256("\n".join(files).encode()).hexdigest()
        ident["n_files"] = len(files)
    else:
        try:
            ident["plan"] = df.semanticHash()
        except Exception:
            pass  # best-effort: schema-only identity for exotic frames
    return ident


def _pinned_rdds(spark: SparkSession) -> dict:
    """id -> JavaRDD of every block pinned in executor storage (cache /
    localCheckpoint). Best-effort: empty on a py4j surface change, which
    just disables the release."""
    try:
        return dict(spark.sparkContext._jsc.getPersistentRDDs())
    except Exception:
        return {}


def release_blocks(spark: SparkSession, keep: Collection[int] = ()) -> None:
    """Unpersist every block pinned in executor storage except the RDD ids
    in ``keep``. localCheckpoint blocks are never auto-unpersisted, so a
    session running several builds, pipelines or queries accumulates
    corpus-sized blocks for its lifetime unless someone drops them."""
    for rid, jrdd in _pinned_rdds(spark).items():
        if rid not in keep:
            try:
                jrdd.unpersist()
            except Exception:
                pass


@contextmanager
def stage_tag(spark: SparkSession, name: str):
    """Tag every Spark job started inside with ``ckg-stage-<name>``. A job
    tag, not a job group: a caller's enclosing group stays on the jobs."""
    sc = spark.sparkContext
    tag = f"ckg-stage-{name}"
    sc.addJobTag(tag)
    try:
        yield
    finally:
        sc.removeJobTag(tag)


class RowCountUnavailable(RuntimeError):
    """A committed data file's parquet footer could not be read, so the
    snapshot's row count is unknown (a manifest sum would read it as 0)."""


class Checkpoints:
    def __init__(self, wh: Warehouse):
        self.path = os.path.join(wh.root, "_checkpoints.json")

    def _load(self) -> dict:
        if not os.path.exists(self.path):
            return {}
        with open(self.path) as f:
            return json.load(f)

    def done(self, stage: str, fp: str) -> dict | None:
        rec = self._load().get(stage)
        return rec if rec and rec.get("fingerprint") == fp else None

    def mark(self, stage: str, fp: str, **meta: Any) -> None:
        m = self._load()
        m[stage] = {"fingerprint": fp, **meta}
        tmp = self.path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(m, f, indent=1)
        os.replace(tmp, self.path)


def run_stage(
    spark: SparkSession,
    wh: Warehouse,
    ckpt: Checkpoints,
    name: str,
    fp: str,
    table: str,
    compute,
) -> tuple[DataFrame, bool, int]:
    """Shared stage executor (KGPipeline + curate.CurationPipeline):
    skip when the fingerprint matches and the output snapshot exists,
    otherwise run, commit the snapshot, log the metrics row, and mark
    the checkpoint. Every Spark job of the stage carries the stage's job
    tag (``stage_tag``). Returns (output df, was_skipped, rows), the row
    count coming from the snapshot's manifest — no Spark job."""
    t = wh.table(table)
    with stage_tag(spark, name):
        rec = ckpt.done(name, fp)
        if rec is not None and t.exists():
            snap = rec.get("snapshot")
            return t.read(spark, snap), True, t.row_count(snap)
        t0 = time.perf_counter()
        before = set(_pinned_rdds(spark))
        try:
            df, partition_by = compute()
            snap = t.overwrite(df, partition_by=partition_by, meta={"stage": name, "fp": fp})
        finally:
            # the snapshot is committed and the caller gets a fresh read of
            # it, so nothing references the blocks the stage pinned (link's
            # per_url frame, canon/MinHash signature pins, LM scored
            # frames). Blocks pinned BEFORE the stage (caller-owned frames)
            # are kept.
            release_blocks(spark, keep=before)
        elapsed = round(time.perf_counter() - t0, 3)
        files = t.snapshots()[-1].files
        unread = [f["file"] for f in files if f["rows"] is None]
        if unread:
            raise RowCountUnavailable(
                f"stage {name}: no row count for {len(unread)} file(s) of table "
                f"{table} snapshot {snap}, e.g. {unread[0]}"
            )
        rows = sum(f["rows"] for f in files)
        wh.log_metric(
            name, table=table, snapshot=snap, rows=rows, fingerprint=fp, seconds=elapsed
        )
        ckpt.mark(name, fp, snapshot=snap, table=table)
        return t.read(spark, snap), False, rows


class KGPipeline:
    """Drives the full build against a Warehouse. Every stage commits a
    snapshot and a metrics record before the next one starts."""

    def __init__(
        self,
        spark: SparkSession,
        warehouse_root: str,
        vocab_cfg: VocabConfig | None = None,
        pages_cfg: PagesConfig | None = None,
        canon_mode: str = "lsh",
        materialize_text: bool = False,
        comention_min_score: float | None = None,
    ):
        self.spark = spark
        self.wh = Warehouse(warehouse_root)
        self.ckpt = Checkpoints(self.wh)
        self.vocab_cfg = vocab_cfg or VocabConfig()
        self.vocab: Vocab = generate_vocab(self.vocab_cfg)
        if pages_cfg is None:
            pages_cfg = config_from_vocab(self.vocab)
        self.pages_cfg = pages_cfg
        self.canon_mode = canon_mode
        # extract and tag are both narrow maps; fused (default) they run as
        # ONE stage and the full-corpus text table is never written — at
        # 100 TB that skips a complete write+read of the corpus. Set True
        # when several downstream consumers want the extracted text
        # materialized (the checkpoint then also covers the extract step).
        self.materialize_text = materialize_text
        # ≙ the reference's association score cutoffs (stringParser.py:51);
        # None keeps every pair (the P/R-gated default)
        self.comention_min_score = comention_min_score

    def run(self, pages: DataFrame | None = None) -> dict:
        spark = self.spark
        stats: dict[str, Any] = {"skipped": []}

        # vocab tables (dimension-sized; always cheap to recreate).
        # The aliases frame is unused here: the tag stage builds its
        # automaton from the driver-side self.vocab.aliases list.
        terms, _aliases, blocklist = vocab_dataframes(spark, self.vocab)

        # stage 1: corpus (generated unless an external pages df is
        # supplied). An EXTERNAL corpus enters the fingerprint chain by
        # its own identity (file-listing digest): pointing the same
        # warehouse at a different corpus invalidates tag and everything
        # downstream instead of silently reusing the old mentions.
        if pages is None:
            fp_pages = _fingerprint("pages", asdict(self.pages_cfg))
            pages, skipped, _ = run_stage(
                spark, self.wh, self.ckpt, "pages", fp_pages, "pages",
                lambda: (generate_pages_df(spark, self.pages_cfg), None),
            )
            if skipped:
                stats["skipped"].append("pages")
        else:
            fp_pages = _fingerprint("pages_external", _input_identity(pages))

        # stage 2 (+3): extraction (fills text; byte-identical per url) and
        # tagging (broadcast automaton; lang filter; blocklist). Both are
        # narrow maps, so by default they FUSE into a single stage: the
        # corpus-scale text never hits disk, and the html binary column is
        # dropped at the scan (downstream stages only ever see mentions).
        # With materialize_text=True the text table is committed as its own
        # snapshot (its own resume point) and tag reads from it.
        if self.materialize_text:
            fp_ext = _fingerprint("extract", {}, fp_pages)
            pages_text, skipped, _ = run_stage(
                spark, self.wh, self.ckpt, "extract", fp_ext, "pages_text",
                lambda: (
                    with_extracted_text(pages).select("url", "warc_ts", "text", "lang"),
                    None,
                ),
            )
            if skipped:
                stats["skipped"].append("extract")
            tag_input, fp_upstream = pages_text, fp_ext
        else:
            tag_input, fp_upstream = pages, fp_pages

        fp_tag = _fingerprint(
            "tag",
            {**asdict(self.vocab_cfg), "fused_extract": not self.materialize_text},
            fp_upstream,
        )

        def _tag():
            etype = {t["id"]: t["entity_type"] for t in self.vocab.terms}
            alias_rows = [
                {**a, "entity_type": etype[a["canonical_id"]]} for a in self.vocab.aliases
            ]
            ac = build_automaton(alias_rows)
            ac_bc = spark.sparkContext.broadcast(ac)
            if self.materialize_text:
                return tag_mentions(tag_input, ac_bc, blocklist=blocklist), None
            return tag_pages_fused(tag_input, ac_bc, blocklist=blocklist), None

        mentions, skipped, _ = run_stage(
            spark, self.wh, self.ckpt, "tag", fp_tag, "mentions", _tag
        )
        if skipped:
            stats["skipped"].append("tag")

        # stage 4: canonicalization (LSH blocking + CC)
        fp_canon = _fingerprint("canon", {"mode": self.canon_mode, "vocab": asdict(self.vocab_cfg)})
        cmap, skipped, _ = run_stage(
            spark, self.wh, self.ckpt, "canon", fp_canon, "canonical_map",
            lambda: (build_canonical_map(terms, mode=self.canon_mode), None),
        )
        if skipped:
            stats["skipped"].append("canon")

        # stage 5: linking -> triples
        fp_link = _fingerprint(
            "link", {"comention_min_score": self.comention_min_score}, fp_tag, fp_canon
        )
        triples, skipped, n_staged = run_stage(
            spark, self.wh, self.ckpt, "link", fp_link, "triples",
            lambda: (
                all_triples(
                    mentions, terms, cmap,
                    comention_min_score=self.comention_min_score,
                ),
                ["pred"],
            ),
        )
        if skipped:
            stats["skipped"].append("link")

        # stage 6: materialize nodes/edges with MERGE + FK quarantine
        fp_mat = _fingerprint("materialize", {}, fp_link)
        if (
            self.ckpt.done("materialize", fp_mat)
            and self.wh.table("edges").exists()
            and self.wh.table("nodes").exists()  # both outputs must exist
        ):
            stats["skipped"].append("materialize")
        else:
            with stage_tag(spark, "materialize"):
                mention_urls = triples.filter("pred = 'MENTIONED_IN_PUBLICATION'").select(
                    triples["obj"].alias("url")
                )
                nodes = build_nodes(terms, cmap, mention_urls=mention_urls)
                # staged-edge count is free from the triples manifest; it
                # arms materialize_graph's zero-orphan shortcut (skip the
                # second corpus-scale FK scan when the merge manifest
                # proves no orphans)
                mat_stats = materialize_graph(
                    spark, self.wh, nodes, triples, total_edges=n_staged
                )
            stats.update(mat_stats)
            self.ckpt.mark("materialize", fp_mat, **mat_stats)

        # manifest-based counts: no extra Spark jobs
        stats["n_triples"] = self.wh.table("edges").row_count()
        stats["n_nodes"] = self.wh.table("nodes").row_count()
        return stats
