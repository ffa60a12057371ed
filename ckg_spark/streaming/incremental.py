"""Incremental KG construction over arriving corpus partitions
(Structured Streaming, micro-batch).

The reference is strictly batch (SURVEY.md §2.9): its only incremental
machinery is marker-file checkpoints (/root/reference
src/graphdb_connector/mapping.py:29-40) plus idempotent Cypher MERGE so
partial reloads don't duplicate (builder/cypher.yml:24). This module is
the Spark-native generalization: new page files landing in the corpus
directory are discovered by a file-source stream, pushed through the SAME
fused extract->tag map as the batch pipeline (``tag_pages_fused``: one code
path, two drivers), and appended to the warehouse mentions table exactly once
per micro-batch.

Exactly-once: Structured Streaming's checkpoint guarantees each file is
assigned to one epoch; ``foreachBatch`` can replay an epoch after a crash,
so the sink records the epoch id in the snapshot manifest and skips
already-committed epochs — idempotent-MERGE semantics at the snapshot
level (≙ Cypher ``MERGE ... ON CREATE SET``).

``Trigger.AvailableNow`` drains everything currently present and stops —
the "process the new corpus drop, then exit" operational mode of a
periodic 100 TB ingest, with per-epoch lineage in the metrics journal.

Scale notes: extract+tag are narrow maps, so a micro-batch shuffles
nothing; watermarked windowed aggregation (``windowed_event_counts``)
keeps state bounded for unbounded streams.
"""

from __future__ import annotations

from pyspark.broadcast import Broadcast
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..corpus.pages import PAGES_SCHEMA
from ..lakehouse import Table
from ..tag import tag_pages_fused


def stream_pages(
    spark: SparkSession, pages_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-source stream over the pages directory (explicit schema — file
    streams never infer). ``maxFilesPerTrigger`` bounds micro-batch size so
    executor memory stays flat no matter how large the backlog is."""
    reader = spark.readStream.schema(PAGES_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(pages_dir)


def _committed_epochs(table: Table) -> set[tuple[str, int]]:
    """(stream_id, epoch) pairs already in the manifest. Epoch ids are only
    unique within one streaming checkpoint, so they are scoped by the
    checkpoint's identity — a fresh checkpoint restarts epochs at 0, which
    must NOT collide with a previous stream's committed epoch 0."""
    return {
        (s.meta.get("stream_id", "legacy"), s.meta["epoch"])
        for s in table.snapshots()
        if s.meta and "epoch" in s.meta
    }


def _needs_url_antijoin(table: Table, stream_id: str) -> bool:
    """True iff the table holds ANY snapshot written by a different stream
    or by epoch-less batch appends — durable manifest state that cannot
    change mid-drain (this drain only adds epoch-carrying snapshots under
    its own stream_id), so a crash/restart between epochs re-derives the
    same answer. Deriving it from the committed (stream, epoch) PAIRS was
    not invariant for batch-populated tables: the pair set is empty before
    epoch 0 commits and all-this-stream after, so the url anti-join guard
    silently dropped for the replayed remainder of the drain."""
    if not table.exists():
        return False
    return any(
        not (s.meta and "epoch" in s.meta)
        or s.meta.get("stream_id", "legacy") != stream_id
        for s in table.snapshots()
    )


def _checkpoint_identity(checkpoint_dir: str) -> str:
    """Stable UUID stored inside the checkpoint dir: same checkpoint (incl.
    crash replays) => same id; recreated/lost checkpoint => new id."""
    import os
    import uuid

    os.makedirs(checkpoint_dir, exist_ok=True)
    marker = os.path.join(checkpoint_dir, "_ckg_stream_id")
    if os.path.exists(marker):
        with open(marker) as f:
            return f.read().strip()
    sid = uuid.uuid4().hex
    with open(marker, "w") as f:
        f.write(sid)
    return sid


def incremental_mentions(
    spark: SparkSession,
    pages_dir: str,
    automaton_bc: Broadcast,
    mentions_table: Table,
    checkpoint_dir: str,
    blocklist: DataFrame | None = None,
    lang: str | None = "en",
    max_files_per_trigger: int | None = None,
) -> dict:
    """Drain all currently-available page files into the mentions table.

    Returns {"epochs_committed": n, "epochs_skipped": n}. Exactly-once at
    two levels:

    - same checkpoint (incl. crash replays): replayed epochs are skipped
      via (stream_id, epoch) pairs in the table manifest;
    - LOST/recreated checkpoint against a non-empty table: the stream
      re-reads every file under a new stream_id, so the sink falls back to
      a url-level anti-join against the table (a document's mentions land
      in exactly one file, hence one epoch, so url granularity is exact) —
      already-ingested documents are dropped, genuinely new ones append.
    """
    pages = stream_pages(spark, pages_dir, max_files_per_trigger)
    mentions = tag_pages_fused(pages, automaton_bc, blocklist=blocklist, lang=lang)
    seen = _committed_epochs(mentions_table)
    stream_id = _checkpoint_identity(checkpoint_dir)
    # The anti-join decision must survive crash/restart MID-drain: deriving
    # it as "no snapshot carries this stream_id" flips to False after the
    # first epoch of a recreated checkpoint commits, and the remaining
    # replayed epochs would then append duplicates. Instead it is derived
    # from durable manifest state that is invariant across the whole drain:
    # the table holds ANY snapshot written by a different stream OR by
    # epoch-less batch appends — those are exactly the rows a recreated
    # checkpoint will replay and must be anti-joined away, on every epoch,
    # every invocation — see _needs_url_antijoin.
    fresh_ckpt_over_existing = _needs_url_antijoin(mentions_table, stream_id)
    stats = {"epochs_committed": 0, "epochs_skipped": 0}

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        if (stream_id, epoch_id) in seen:
            stats["epochs_skipped"] += 1
            return
        out = batch_df
        if fresh_ckpt_over_existing:
            existing_urls = mentions_table.read(spark).select("url").distinct()
            out = out.join(existing_urls, on="url", how="left_anti")
        sid = mentions_table.append(out, meta={"epoch": epoch_id, "stream_id": stream_id})
        wrote = next(
            s.rows_written for s in mentions_table.snapshots() if s.id == sid
        )
        if wrote == 0 and fresh_ckpt_over_existing:
            stats["epochs_skipped"] += 1
        else:
            stats["epochs_committed"] += 1

    (
        mentions.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    return stats


def windowed_event_counts(
    events: DataFrame,
    window: str = "1 hour",
    slide: str | None = None,
    watermark: str = "2 hours",
    ts_col: str = "ts",
) -> DataFrame:
    """Watermarked tumbling/sliding window counts per event_type.

    Works on both a streaming and a batch DataFrame (tests assert the two
    agree — the batch run is the oracle). The watermark bounds streaming
    state: windows older than max(event time) - watermark are finalized
    and evicted, so state size is O(active windows), not O(stream)."""
    # watermarks require a zoned TimestampType; parquet TIMESTAMP columns
    # read as timestamp_ntz, which EventTimeWatermark rejects
    src = events.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    if src.isStreaming:
        src = src.withWatermark(ts_col, watermark)
    win = F.window(F.col(ts_col), window, slide) if slide else F.window(F.col(ts_col), window)
    return (
        src.groupBy(win.alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 6).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "total_value",
        )
    )
