"""Structured-Streaming incremental ingest: micro-batch mentions equal the
batch pipeline's output; epoch replay is idempotent; watermarked window
aggregation agrees with its batch oracle."""

from __future__ import annotations

import os

import pytest

from ckg_spark.corpus.pages import config_from_vocab, generate_pages_df
from ckg_spark.corpus.vocab import vocab_dataframes
from ckg_spark.extract import with_extracted_text
from ckg_spark.lakehouse import Warehouse
from ckg_spark.streaming import incremental_mentions, windowed_event_counts
from ckg_spark.tag import build_automaton, tag_mentions

from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


def _automaton_bc(spark, vocab):
    etype = {t["id"]: t["entity_type"] for t in vocab.terms}
    rows = [{**a, "entity_type": etype[a["canonical_id"]]} for a in vocab.aliases]
    return spark.sparkContext.broadcast(build_automaton(rows))


def _mention_rows(df):
    return sorted(
        (r["url"], r["canonical_id"], r["n_hits"])
        for r in df.select("url", "canonical_id", "n_hits").collect()
    )


@pytest.fixture()
def corpus_dir(tmp_path, spark, vocab):
    """Pages corpus written as two separate file drops."""
    d = str(tmp_path / "pages")
    os.makedirs(d)
    cfg1 = config_from_vocab(vocab, n_docs=80, seed=42, partitions=2)
    # disjoint id range => disjoint urls (a url's mentions live in one file)
    cfg2 = config_from_vocab(vocab, n_docs=40, seed=43, partitions=1, id_offset=80)
    generate_pages_df(spark, cfg1).write.mode("append").parquet(d)
    return d, cfg2


def test_incremental_equals_batch_and_is_idempotent(spark, vocab, corpus_dir, tmp_path):
    d, cfg2 = corpus_dir
    wh = Warehouse(str(tmp_path / "wh"))
    table = wh.table("mentions_stream")
    ckpt = str(tmp_path / "ckpt")
    _, _, blocklist = vocab_dataframes(spark, vocab)
    ac = _automaton_bc(spark, vocab)

    s1 = incremental_mentions(spark, d, ac, table, ckpt, blocklist=blocklist)
    assert s1["epochs_committed"] >= 1

    batch = tag_mentions(
        with_extracted_text(spark.read.parquet(d)).select("url", "text", "lang"),
        ac,
        blocklist=blocklist,
    )
    assert _mention_rows(table.read(spark)) == _mention_rows(batch)

    # drain again with no new files: nothing happens
    s2 = incremental_mentions(spark, d, ac, table, ckpt, blocklist=blocklist)
    assert s2["epochs_committed"] == 0
    assert _mention_rows(table.read(spark)) == _mention_rows(batch)

    # second file drop: only the new pages are processed, union matches batch
    generate_pages_df(spark, cfg2).write.mode("append").parquet(d)
    s3 = incremental_mentions(spark, d, ac, table, ckpt, blocklist=blocklist)
    assert s3["epochs_committed"] >= 1
    batch_all = tag_mentions(
        with_extracted_text(spark.read.parquet(d)).select("url", "text", "lang"),
        ac,
        blocklist=blocklist,
    )
    assert _mention_rows(table.read(spark)) == _mention_rows(batch_all)


def test_epoch_replay_skipped(spark, vocab, corpus_dir, tmp_path):
    """A replayed epoch (same epoch id, e.g. crash between sink and commit)
    must not double-append."""
    d, _ = corpus_dir
    wh = Warehouse(str(tmp_path / "wh2"))
    table = wh.table("mentions_stream")
    _, _, blocklist = vocab_dataframes(spark, vocab)
    ac = _automaton_bc(spark, vocab)

    incremental_mentions(spark, d, ac, table, str(tmp_path / "c1"), blocklist=blocklist)
    n1 = table.row_count()
    # fresh stream checkpoint, same sink table: epochs restart at 0 and are
    # recognized as already committed
    s = incremental_mentions(spark, d, ac, table, str(tmp_path / "c2"), blocklist=blocklist)
    assert s["epochs_committed"] == 0
    assert s["epochs_skipped"] >= 1
    assert table.row_count() == n1


def test_windowed_counts_stream_equals_batch(spark, tmp_path):
    events = spark.read.parquet(f"{SF_DIR}/events.parquet")
    batch = windowed_event_counts(events, window="1 day", watermark="2 days")
    exp = sorted(map(tuple, batch.collect()))

    # the file-source requires a directory, the testdata table is one file
    events_dir = str(tmp_path / "events")
    events.write.parquet(events_dir)
    stream = spark.readStream.schema(events.schema).parquet(events_dir)
    out = []
    q = (
        windowed_event_counts(stream, window="1 day", watermark="2 days")
        .writeStream.foreachBatch(
            lambda df, _eid: out.extend(map(tuple, df.collect()))
        )
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "wc"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert sorted(out) == exp


def test_streaming_sessions_match_batch_closed_sessions(spark, tmp_path):
    """Stateful sessionizer (applyInPandasWithState) emits exactly the
    sessions the batch window-math twin closes on the same data."""
    import datetime as dt

    from ckg_spark.streaming.sessions import batch_sessions, streaming_sessions

    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    GAP = 600  # 10 min

    def ev(eid, user, minutes, value):
        return (eid, base + dt.timedelta(minutes=minutes), user, "click", value, "{}")

    cols = ["event_id", "ts", "user_id", "event_type", "value", "props"]
    # user 1: two sessions (break at 25 min); user 2: one session
    batch1 = [
        ev(1, 1, 0, 1.0), ev(2, 1, 5, 2.0),
        ev(3, 2, 0, 5.0),
        ev(4, 1, 30, 3.0),
    ]
    # second file arrives later: user 1 continues session 2; user 2's
    # session is now provably closed (gap exceeded); user 2 starts a new one
    batch2 = [
        ev(5, 1, 35, 4.0),
        ev(6, 2, 120, 7.0),
    ]
    d = str(tmp_path / "evt")
    df1 = spark.createDataFrame(batch1, cols)
    df1.write.mode("append").parquet(d)

    stream = spark.readStream.schema(df1.schema).parquet(d)
    out: list[tuple] = []
    ckpt = str(tmp_path / "ck")

    def drain():
        q = (
            streaming_sessions(stream, gap_seconds=GAP)
            .writeStream.foreachBatch(lambda df, _e: out.extend(map(tuple, df.collect())))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    drain()
    spark.createDataFrame(batch2, cols).write.mode("append").parquet(d)
    drain()

    all_events = spark.read.parquet(d)
    full = batch_sessions(all_events, gap_seconds=GAP)
    # a session is provably closed once the global watermark (max event
    # time seen) passes session_end + GAP — whether by a later event of
    # the same user or by any other event advancing the watermark
    import collections

    global_max = all_events.agg(F.max("ts")).first()[0]
    closed_expected = sorted(
        tuple(r)
        for r in full.collect()
        if (global_max - r["session_end"]).total_seconds() > GAP
    )
    assert sorted(out) == closed_expected
    # sanity: both of user 1's sessions and user 2's first session closed;
    # user 2's session at the watermark frontier stays open in state
    users = collections.Counter(t[0] for t in out)
    assert users == {1: 2, 2: 1}


def test_lost_checkpoint_with_new_files_no_data_loss(spark, vocab, corpus_dir, tmp_path):
    """Checkpoint loss + new file drop: the fresh stream re-reads
    everything under new epoch ids; old documents must not duplicate and
    NEW documents must not be silently dropped."""
    from ckg_spark.extract import with_extracted_text
    from ckg_spark.tag import tag_mentions

    d, cfg2 = corpus_dir
    wh = Warehouse(str(tmp_path / "wh3"))
    table = wh.table("mentions_stream")
    _, _, blocklist = vocab_dataframes(spark, vocab)
    ac = _automaton_bc(spark, vocab)

    incremental_mentions(spark, d, ac, table, str(tmp_path / "ck_a"), blocklist=blocklist)
    # checkpoint lost; new files land; a FRESH checkpoint drains everything
    generate_pages_df(spark, cfg2).write.mode("append").parquet(d)
    incremental_mentions(spark, d, ac, table, str(tmp_path / "ck_b"), blocklist=blocklist)

    batch_all = tag_mentions(
        with_extracted_text(spark.read.parquet(d)).select("url", "text", "lang"),
        ac,
        blocklist=blocklist,
    )
    assert _mention_rows(table.read(spark)) == _mention_rows(batch_all)


def test_streaming_sessions_late_out_of_order_events(spark, tmp_path):
    """A late event (within the watermark) arriving in a later micro-batch
    must form its own past session — or bridge two — exactly as the batch
    twin computes, never silently merge into the newest session."""
    import datetime as dt

    from ckg_spark.streaming.sessions import batch_sessions, streaming_sessions

    base = dt.datetime(2024, 1, 1, 12, 0, 0)
    GAP = 3600  # 1h

    def ev(eid, user, minutes, value):
        return (eid, base + dt.timedelta(minutes=minutes), user, "click", value, "{}")

    cols = ["event_id", "ts", "user_id", "event_type", "value", "props"]
    # batch 1: events at 12:00 and 15:00 (two separate sessions, 3h apart)
    b1 = [ev(1, 1, 0, 1.0), ev(2, 1, 180, 2.0)]
    # batch 2: LATE event at 09:00 (own past session) and a BRIDGING late
    # event at 13:30 (joins 12:00 and... 13:30-12:00=1.5h > gap, so it only
    # extends neither — it is its own session between them? 13:30 is within
    # gap of neither 12:00 (1.5h) nor 15:00 (1.5h) -> own session), plus a
    # fresh event at 20:00 to push the watermark far forward
    # NOTE: the late event sits strictly INSIDE the watermark (wm after
    # drain 1 = 15:00 - 6h = 9:00; an event AT the boundary is dropped)
    b2 = [ev(3, 1, -120, 0.5), ev(4, 1, 90, 1.5), ev(5, 1, 480, 9.0)]
    d = str(tmp_path / "evt2")
    df1 = spark.createDataFrame(b1, cols)
    df1.write.mode("append").parquet(d)
    stream = spark.readStream.schema(df1.schema).parquet(d)
    out: list[tuple] = []
    ckpt = str(tmp_path / "ck2")

    def drain():
        q = (
            streaming_sessions(stream, gap_seconds=GAP, watermark="6 hours")
            .writeStream.foreachBatch(lambda df, _e: out.extend(map(tuple, df.collect())))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    drain()
    spark.createDataFrame(b2, cols).write.mode("append").parquet(d)
    drain()

    all_events = spark.read.parquet(d)
    full = batch_sessions(all_events, gap_seconds=GAP)
    global_max = all_events.agg(F.max("ts")).first()[0]
    # streaming watermark = max_ts - 6h; closed iff end + gap < watermark
    wm = global_max - dt.timedelta(hours=6)
    closed_expected = sorted(
        tuple(r)
        for r in full.collect()
        if r["session_end"] + dt.timedelta(seconds=GAP) < wm
    )
    assert sorted(out) == closed_expected
    # the late 10:00 event must appear as its own single-event session
    assert any(t[1] == base + dt.timedelta(minutes=-120) and t[3] == 1 for t in out)


def test_crash_mid_drain_of_recreated_checkpoint_no_duplicates(
    spark, vocab, corpus_dir, tmp_path
):
    """ADVICE r1 regression: a RECREATED checkpoint replays every file; if
    the drain crashes after its first epoch commits, the restart must keep
    anti-joining the remaining replayed epochs (the 'no snapshot carries
    this stream_id' derivation flips to False after epoch 0 and would
    duplicate already-ingested documents)."""
    d, _ = corpus_dir
    wh = Warehouse(str(tmp_path / "wh4"))
    table = wh.table("mentions_stream")
    _, _, blocklist = vocab_dataframes(spark, vocab)
    ac = _automaton_bc(spark, vocab)

    incremental_mentions(spark, d, ac, table, str(tmp_path / "ck_x"), blocklist=blocklist)
    batch = tag_mentions(
        with_extracted_text(spark.read.parquet(d)).select("url", "text", "lang"),
        ac,
        blocklist=blocklist,
    )
    expected = _mention_rows(batch)
    assert _mention_rows(table.read(spark)) == expected

    # checkpoint lost; recreate with 1-file epochs, crash after 1st commit
    ckpt_b = str(tmp_path / "ck_y")
    orig_append = table.append
    calls = {"n": 0}

    def crashing_append(df, **kw):
        calls["n"] += 1
        if calls["n"] > 1:
            raise RuntimeError("simulated crash mid-drain")
        return orig_append(df, **kw)

    table.append = crashing_append
    with pytest.raises(Exception):
        incremental_mentions(
            spark, d, ac, table, ckpt_b, blocklist=blocklist, max_files_per_trigger=1
        )
    table.append = orig_append
    assert calls["n"] > 1  # the crash really happened mid-drain

    # restart the drain on the same (recreated) checkpoint: replayed epochs
    # must still anti-join — no duplicates, batch equality holds
    incremental_mentions(
        spark, d, ac, table, ckpt_b, blocklist=blocklist, max_files_per_trigger=1
    )
    assert _mention_rows(table.read(spark)) == expected


def test_streaming_dedup_first_per_fingerprint(spark, tmp_path):
    """Streaming ingest dedup (dropDuplicatesWithinWatermark on the
    content fingerprint) keeps exactly the batch twin's first-per-
    fingerprint set, including a cross-micro-batch duplicate caught by
    checkpointed state."""
    import datetime as dt

    from ckg_spark.streaming.dedup import (
        batch_first_per_fingerprint,
        streaming_first_per_fingerprint,
    )

    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    cols = ["doc_id", "ts", "text"]

    def doc(i, minutes, text):
        return (i, base + dt.timedelta(minutes=minutes), text)

    # file 1: in-batch duplicate (2 dups 1); file 2: cross-batch
    # duplicate (4 dups 1 via normalization — case/punct-insensitive
    # fingerprint) plus a fresh doc
    f1 = [doc(1, 0, "alpha beta"), doc(2, 1, "alpha beta"), doc(3, 2, "gamma delta")]
    f2 = [doc(4, 3, "Alpha,  BETA!"), doc(5, 4, "epsilon zeta")]

    d = str(tmp_path / "docs")
    df1 = spark.createDataFrame(f1, cols)
    df1.write.mode("append").parquet(d)

    stream = spark.readStream.schema(df1.schema).parquet(d)
    out: list[tuple] = []
    ckpt = str(tmp_path / "ck")

    def drain():
        q = (
            streaming_first_per_fingerprint(stream)
            .writeStream.foreachBatch(
                lambda df, _e: out.extend((r["doc_id"],) for r in df.collect())
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    drain()
    spark.createDataFrame(f2, cols).write.mode("append").parquet(d)
    drain()

    survivors = sorted(i for (i,) in out)
    assert survivors == [1, 3, 5]

    batch = batch_first_per_fingerprint(spark.createDataFrame(f1 + f2, cols))
    assert sorted(r["doc_id"] for r in batch.collect()) == survivors


def test_antijoin_flag_invariant_for_batch_populated_table(tmp_path):
    """The url anti-join decision must not flip mid-drain when the table
    was populated by EPOCH-LESS batch appends: after this stream's epoch 0
    commits, the batch snapshot still forces the guard on (deriving it
    from the committed (stream, epoch) pairs alone lost it — pairs are
    empty before epoch 0 and all-this-stream after)."""
    import pandas as pd

    from ckg_spark.streaming.incremental import _needs_url_antijoin

    wh = Warehouse(str(tmp_path / "whf"))
    table = wh.table("m")
    assert _needs_url_antijoin(table, "me") is False  # empty table: no-op

    # simulate manifest states without Spark (zero-row appends carrying each
    # snapshot's meta): batch append (no epoch meta)
    NO_COLS = '{"type": "struct", "fields": []}'
    table.append_empty(NO_COLS, meta={"source": "batch"})
    assert _needs_url_antijoin(table, "me") is True
    # this stream's first epoch committed: guard must STAY on
    table.append_empty(NO_COLS, meta={"epoch": 0, "stream_id": "me"})
    assert _needs_url_antijoin(table, "me") is True
    # a legacy epoch snapshot (no stream_id) also forces it
    table2 = wh.table("m2")
    table2.append_empty(NO_COLS, meta={"epoch": 0})
    assert _needs_url_antijoin(table2, "me") is True
    # a table written ONLY by this stream needs no anti-join
    table3 = wh.table("m3")
    table3.append_empty(NO_COLS, meta={"epoch": 0, "stream_id": "me"})
    assert _needs_url_antijoin(table3, "me") is False


def test_crash_mid_drain_over_batch_populated_table_no_duplicates(
    spark, vocab, corpus_dir, tmp_path
):
    """Same crash-mid-drain replay as above, but the pre-existing rows came
    from a BATCH append (no epoch metadata) instead of a previous stream."""
    d, _ = corpus_dir
    wh = Warehouse(str(tmp_path / "wh5"))
    table = wh.table("mentions_b")
    _, _, blocklist = vocab_dataframes(spark, vocab)
    ac = _automaton_bc(spark, vocab)

    batch = tag_mentions(
        with_extracted_text(spark.read.parquet(d)).select("url", "text", "lang"),
        ac,
        blocklist=blocklist,
    )
    table.append(batch)  # epoch-less population
    expected = _mention_rows(table.read(spark))

    ckpt = str(tmp_path / "ck_batchpop")
    orig_append = table.append
    calls = {"n": 0}

    def crashing_append(df, **kw):
        calls["n"] += 1
        if calls["n"] > 1:
            raise RuntimeError("simulated crash mid-drain")
        return orig_append(df, **kw)

    table.append = crashing_append
    with pytest.raises(Exception):
        incremental_mentions(
            spark, d, ac, table, ckpt, blocklist=blocklist, max_files_per_trigger=1
        )
    table.append = orig_append
    assert calls["n"] > 1

    incremental_mentions(
        spark, d, ac, table, ckpt, blocklist=blocklist, max_files_per_trigger=1
    )
    assert _mention_rows(table.read(spark)) == expected


def test_streaming_sessions_random_stream_equivalence(spark, tmp_path):
    """Randomized stream==batch equivalence: 80 events, 5 users, random
    sub-second offsets (the µs-arithmetic path), arriving as two
    arbitrary file drops — every session the stream closes must equal
    the batch twin's provably-closed set under the global-watermark
    rule."""
    import datetime as dt
    import random as pyrandom

    from ckg_spark.streaming.sessions import batch_sessions, streaming_sessions

    rng = pyrandom.Random(424242)
    base = dt.datetime(2024, 3, 1)
    GAP = 600
    cols = ["event_id", "ts", "user_id", "event_type", "value", "props"]
    events = []
    for eid in range(80):
        user = rng.randint(1, 5)
        # bursts with occasional large jumps -> multiple sessions/user
        minutes = rng.randint(0, 300)
        micros = rng.randint(0, 999999)
        ts = base + dt.timedelta(minutes=minutes, microseconds=micros)
        events.append((eid, ts, user, "click", float(rng.randint(1, 9)), "{}"))
    split = rng.randint(20, 60)
    events.sort(key=lambda e: e[1])
    d = str(tmp_path / "evt_rand")
    spark.createDataFrame(events[:split], cols).write.mode("append").parquet(d)

    stream = spark.readStream.schema(
        spark.read.parquet(d).schema
    ).parquet(d)
    out: list[tuple] = []
    ckpt = str(tmp_path / "ck_rand")

    def drain():
        q = (
            streaming_sessions(stream, gap_seconds=GAP)
            .writeStream.foreachBatch(
                lambda df, _e: out.extend(map(tuple, df.collect()))
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    drain()
    spark.createDataFrame(events[split:], cols).write.mode("append").parquet(d)
    drain()

    all_events = spark.read.parquet(d)
    full = batch_sessions(all_events, gap_seconds=GAP)
    global_max = all_events.agg(F.max("ts")).first()[0]
    closed_expected = sorted(
        tuple(r)
        for r in full.collect()
        if (global_max - r["session_end"]).total_seconds() > GAP
    )
    assert sorted(out) == closed_expected
    assert len(closed_expected) > 3  # the random draw produced real sessions
