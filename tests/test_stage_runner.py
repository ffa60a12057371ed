"""pipeline.run_stage, the one stage runner of both DAGs: job tags under a
caller's job group, manifest row counts, the unreadable-count guard, and
the manifest as the only commit record."""

from __future__ import annotations

import pytest

from ckg_spark.corpus.pages import config_from_vocab
from ckg_spark.corpus.vocab import VocabConfig, generate_vocab
from ckg_spark.curate import CurationConfig, CurationPipeline
from ckg_spark.pipeline import KGPipeline

from tests.test_curate import _docs


def _jobs(sc) -> list[tuple[int, str | None, set[str]]]:
    """(job id, job group, job tags) of every job the status store retains."""
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = sc._jsc.sc().statusStore().jobsList(sc._jvm.java.util.ArrayList())
    out = []
    for i in range(jobs.size()):
        job = jobs.apply(i)
        group, tags = job.jobGroup(), job.jobTags()
        out.append((
            job.jobId(),
            group.get() if group.isDefined() else None,
            {tags.apply(k) for k in range(tags.size())},
        ))
    return out


def test_stage_jobs_carry_stage_tag_and_caller_group(spark, tmp_path):
    """Every job of every stage, in both DAGs, carries ckg-stage-<name>;
    a job group the caller set around the run stays on those jobs (the
    runner tags, it does not replace the group)."""
    sc = spark.sparkContext
    vocab_cfg = VocabConfig(seed=7, terms_per_type=5)
    pages_cfg = config_from_vocab(generate_vocab(vocab_cfg), n_docs=20, seed=42, partitions=2)
    runs = {
        "kg": (
            lambda: KGPipeline(
                spark, str(tmp_path / "kg"), vocab_cfg=vocab_cfg, pages_cfg=pages_cfg
            ).run(),
            {"pages", "tag", "canon", "link", "materialize"},
        ),
        "curate": (
            lambda: CurationPipeline(
                spark, str(tmp_path / "cur"),
                CurationConfig(min_quality=0.0, span_window=4, span_min_repeats=3,
                               drop_ppl_bucket=None, pack_budget=64),
            ).run(_docs(spark)),
            {"curate_exact_dedup", "curate_pii", "curate_span_dedup",
             "curate_quality", "curate_neardup", "curate_split_pack"},
        ),
    }
    for dag, (run, stages) in runs.items():
        first = 1 + max((job_id for job_id, _, _ in _jobs(sc)), default=-1)
        sc.setJobGroup(f"caller-{dag}", "caller-set group")
        try:
            run()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        jobs = [job for job in _jobs(sc) if job[0] >= first]
        assert jobs, dag
        seen = set()
        for job_id, group, tags in jobs:
            stage_tags = {t for t in tags if t.startswith("ckg-stage-")}
            assert group == f"caller-{dag}", (dag, job_id, group)
            assert len(stage_tags) == 1, (dag, job_id, tags)
            seen |= stage_tags
        assert seen == {f"ckg-stage-{s}" for s in stages}, dag
        assert not any(t.startswith("ckg-stage-") for t in sc.getJobTags())


def test_run_stage_raises_when_a_row_count_is_unreadable(spark, tmp_path, monkeypatch):
    """A data file whose footer could not be read has no row count; the
    commit must not count it as 0 rows, and must neither publish the
    snapshot (a rerun would skip the stage as complete) nor log the stage."""
    import ckg_spark.lakehouse as lh
    from ckg_spark.pipeline import run_stage

    real = lh._walk_row_counts

    def one_unreadable(data_dir):
        files = real(data_dir)
        return [{**f, "rows": None} if i == 0 else f for i, f in enumerate(files)]

    wh = lh.Warehouse(str(tmp_path / "wh"))

    def compute():
        return spark.range(10).repartition(2), None

    monkeypatch.setattr(lh, "_walk_row_counts", one_unreadable)
    with pytest.raises(lh.RowCountUnavailable, match="stage s"):
        run_stage(spark, wh, "t", "s", "fp", compute)
    assert not wh.table("t").exists() and wh.table("t").snapshots() == []
    assert not any(m["stage"] == "s" for m in wh.metrics())

    monkeypatch.undo()
    _, skipped, rows = run_stage(spark, wh, "t", "s", "fp", compute)
    assert (skipped, rows) == (False, 10)
    # the skip path reads the count from the manifest too
    _, skipped, rows = run_stage(spark, wh, "t", "s", "fp", compute)
    assert (skipped, rows) == (True, 10)


@pytest.mark.parametrize(
    "dag,stage", [("kg", "tag"), ("kg", "materialize"), ("curate", "curate_pii")]
)
def test_stage_committed_before_a_crash_is_skipped_on_rerun(
    spark, tmp_path, monkeypatch, dag, stage
):
    """A crash after a stage's snapshot commits but before its metrics
    record is written must not rerun the stage: the table manifest is the
    commit record, so the rerun skips it."""
    import ckg_spark.lakehouse as lh

    real = lh.Warehouse.log_metric

    def crash_after_commit(self, name, **kv):
        if name == stage:
            raise RuntimeError("simulated crash after commit")
        return real(self, name, **kv)

    if dag == "kg":
        vocab_cfg = VocabConfig(seed=7, terms_per_type=5)
        pages_cfg = config_from_vocab(
            generate_vocab(vocab_cfg), n_docs=20, seed=42, partitions=2
        )
        run = lambda: KGPipeline(
            spark, str(tmp_path / "wh"), vocab_cfg=vocab_cfg, pages_cfg=pages_cfg
        ).run()
        skipped_name = stage
    else:
        docs = _docs(spark)  # one frame: its plan hash is the input identity
        run = lambda: CurationPipeline(
            spark, str(tmp_path / "wh"),
            CurationConfig(min_quality=0.0, span_window=4, span_min_repeats=3,
                           drop_ppl_bucket=None, pack_budget=64),
        ).run(docs)
        skipped_name = "pii_scrub"

    monkeypatch.setattr(lh.Warehouse, "log_metric", crash_after_commit)
    with pytest.raises(RuntimeError, match="simulated crash"):
        run()
    monkeypatch.undo()
    assert skipped_name in run()["skipped"]
