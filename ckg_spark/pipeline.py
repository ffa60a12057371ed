"""Resumable KG construction pipeline (the stage DAG).

Stage graph (≙ the reference's import -> load two-phase build,
/root/reference src/graphdb_builder/builder/builder.py:47-129, with the TSV
intermediate replaced by snapshot tables):

    pages ──(extract ∘ tag, fused narrow maps)──> mentions ──link──┐
    vocab ──────────────canon──> canonical_map ────────────────────┴─> triples ──mat──> nodes/edges

Resume semantics ≙ the reference's marker files
(src/graphdb_connector/mapping.py:29-40 renames mapping.tsv ->
complete_mapping.tsv and readers poll on it): every stage stamps its
**fingerprint** = sha256(stage name, config, upstream fingerprints) on the
snapshot it commits (``meta["fp"]``), and the table manifest is the only
commit record. A restarted job skips every stage whose output table's
current snapshot carries the stage's fingerprint — i.e. it restarts from
the last committed snapshot (north rule). A config change invalidates
exactly the affected suffix of the DAG.
"""

from __future__ import annotations

import hashlib
import json
import time
from collections.abc import Collection
from contextlib import contextmanager
from dataclasses import asdict
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from .canon import build_canonical_map
from .corpus.pages import PagesConfig, config_from_vocab, generate_pages_df
from .corpus.vocab import Vocab, VocabConfig, generate_vocab, vocab_dataframes
from .lakehouse import Snapshot, Table, Warehouse
from .link import all_triples
from .materialize import build_nodes, materialize_graph
from .tag import build_automaton, tag_pages_fused


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


def _committed(table: Table, fp: str) -> Snapshot | None:
    """The table's current snapshot if the stage run with fingerprint
    ``fp`` committed it, else None."""
    snaps = table.snapshots()
    return snaps[-1] if snaps and snaps[-1].meta.get("fp") == fp else None


def run_stage(
    spark: SparkSession,
    wh: Warehouse,
    table: str,
    name: str,
    fp: str,
    compute,
) -> tuple[DataFrame, bool, int]:
    """Shared stage executor (KGPipeline + curate.CurationPipeline):
    skip when the output table's current snapshot carries ``fp``,
    otherwise run, commit the snapshot stamped with ``fp`` and log the
    metrics row. Every Spark job of the stage carries the stage's job tag
    (``stage_tag``). Returns (output df, was_skipped, rows), the row count
    coming from the snapshot's manifest — no Spark job."""
    t = wh.table(table)
    with stage_tag(spark, name):
        done = _committed(t, fp)
        if done is not None:
            return t.read(spark, done.id), True, t.row_count(done.id)
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
        rows = t.row_count(snap)
        wh.log_metric(
            name, table=table, snapshot=snap, rows=rows, fingerprint=fp, seconds=elapsed
        )
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
        comention_min_score: float | None = None,
    ):
        self.spark = spark
        self.wh = Warehouse(warehouse_root)
        self.vocab_cfg = vocab_cfg or VocabConfig()
        self.vocab: Vocab = generate_vocab(self.vocab_cfg)
        if pages_cfg is None:
            pages_cfg = config_from_vocab(self.vocab)
        self.pages_cfg = pages_cfg
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
                spark, self.wh, "pages", "pages", fp_pages,
                lambda: (generate_pages_df(spark, self.pages_cfg), None),
            )
            if skipped:
                stats["skipped"].append("pages")
        else:
            fp_pages = _fingerprint("pages_external", _input_identity(pages))

        # stage 2: extraction (fills text; byte-identical per url) fused
        # with tagging (broadcast automaton; lang filter; blocklist). Both
        # are narrow maps, so they run as ONE stage: the corpus-scale text
        # never hits disk, and the html binary column is dropped at the
        # scan (downstream stages only ever see mentions). "fused_extract"
        # stays in the payload so existing warehouses keep their fingerprints.
        fp_tag = _fingerprint(
            "tag", {**asdict(self.vocab_cfg), "fused_extract": True}, fp_pages
        )

        def _tag():
            etype = {t["id"]: t["entity_type"] for t in self.vocab.terms}
            alias_rows = [
                {**a, "entity_type": etype[a["canonical_id"]]} for a in self.vocab.aliases
            ]
            ac_bc = spark.sparkContext.broadcast(build_automaton(alias_rows))
            return tag_pages_fused(pages, ac_bc, blocklist=blocklist), None

        mentions, skipped, _ = run_stage(spark, self.wh, "mentions", "tag", fp_tag, _tag)
        if skipped:
            stats["skipped"].append("tag")

        # stage 3: canonicalization (exact alias join + union-find). The
        # retired "lsh" candidate mode stays in the payload so existing
        # warehouses keep their canon/link/materialize fingerprints.
        fp_canon = _fingerprint("canon", {"mode": "lsh", "vocab": asdict(self.vocab_cfg)})
        cmap, skipped, _ = run_stage(
            spark, self.wh, "canonical_map", "canon", fp_canon,
            lambda: (build_canonical_map(terms), None),
        )
        if skipped:
            stats["skipped"].append("canon")

        # stage 4: linking -> triples
        fp_link = _fingerprint(
            "link", {"comention_min_score": self.comention_min_score}, fp_tag, fp_canon
        )
        triples, skipped, n_staged = run_stage(
            spark, self.wh, "triples", "link", fp_link,
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

        # stage 5: materialize nodes/edges with MERGE + FK quarantine. Its
        # last commit (the quarantine snapshot) carries fp_mat and follows
        # the nodes and edges merges, so a stamped quarantine snapshot means
        # all three tables are committed.
        fp_mat = _fingerprint("materialize", {}, fp_link)
        if _committed(self.wh.table("edges_quarantine"), fp_mat) is not None:
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
                    spark, self.wh, nodes, triples, total_edges=n_staged, fp=fp_mat
                )
            stats.update(mat_stats)

        # manifest-based counts: no extra Spark jobs
        stats["n_triples"] = self.wh.table("edges").row_count()
        stats["n_nodes"] = self.wh.table("nodes").row_count()
        return stats
