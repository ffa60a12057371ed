"""The spark-submit --py-files deployment path (north rule) builds the
graph end-to-end from the zipped package."""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _committed_stages(wh: str) -> set[str]:
    """Stages with a record in the warehouse's metrics journal. A stage
    logs its record right after its snapshot commits, so each of these is
    committed. A partly written last line is ignored."""
    path = os.path.join(wh, "_metrics.jsonl")
    if not os.path.exists(path):
        return set()
    with open(path) as f:
        complete = f.read().split("\n")[:-1]
    return {json.loads(line)["stage"] for line in complete if line.strip()}


def test_submit_build_end_to_end(spark, vocab, tmp_path):
    from ckg_spark.corpus.pages import config_from_vocab, generate_pages_df

    pages_dir = str(tmp_path / "pages")
    cfg = config_from_vocab(vocab, n_docs=300, seed=42, partitions=4)
    generate_pages_df(spark, cfg).write.parquet(pages_dir)

    wh = str(tmp_path / "wh")
    export_dir = str(tmp_path / "bulk")
    out = subprocess.run(
        [
            sys.executable, os.path.join(REPO, "scripts", "submit_build.py"),
            "--pages", pages_dir, "--warehouse", wh,
            "--master", "local[4]", "--terms-per-type", "30",
            "--export-dir", export_dir,
        ],
        capture_output=True, text=True, timeout=420,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    stats = json.loads(
        [ln for ln in out.stdout.strip().splitlines() if ln.startswith("{")][-1]
    )
    assert stats["n_triples"] > 0 and stats["orphan_edges"] == 0
    # the deployment path also emits the reference's bulk-import artifact
    assert stats["export"]["n_edges"] == stats["n_triples"]
    import glob

    assert glob.glob(os.path.join(export_dir, "edges", "_type=*", "*.csv"))
    # the graph tables exist and are readable by an independent session
    edges = spark.read.parquet(*[
        os.path.join(wh, "edges", d)
        for d in os.listdir(os.path.join(wh, "edges"))
        if d.startswith("data-")
    ])
    assert edges.count() == stats["n_triples"]


def test_submit_curate_end_to_end(spark, tmp_path):
    docs_dir = str(tmp_path / "docs")
    rows = [
        (i, f"a genuinely useful document number {i} with plenty of distinct "
            f"words in it and also token{i} token{i+1} token{i+2} for variety "
            "so that the filters keep it around", "en")
        for i in range(40)
    ] + [(100, "dup text", "en"), (101, "dup text", "en")]
    spark.createDataFrame(rows, "doc_id long, text string, lang string").write.parquet(
        docs_dir
    )

    wh = str(tmp_path / "whc")
    out = subprocess.run(
        [
            sys.executable, os.path.join(REPO, "scripts", "submit_curate.py"),
            "--docs", docs_dir, "--warehouse", wh, "--master", "local[4]",
            "--no-lm-filter",
        ],
        capture_output=True, text=True, timeout=420,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    stats = json.loads(
        [ln for ln in out.stdout.strip().splitlines() if ln.startswith("{")][-1]
    )
    assert stats["n_curated"] > 0
    assert stats["rows"]["exact_dedup"] == 41  # one of the two dups dropped
    from ckg_spark.lakehouse import Warehouse

    cur = Warehouse(wh).table("curated_documents").read(spark)
    assert {"split", "bucket"} <= set(cur.columns)
    assert cur.count() == stats["n_curated"]


def test_submit_kill_resume_identical_triples(spark, vocab, tmp_path):
    """North rule: 'a killed job restarts from the last committed
    snapshot' — exercised at the PROCESS level (VERDICT r03 #7). A
    spark-submit build is SIGKILLed (whole process group — spark-submit
    is a child of the launcher) after the tag stage commits; the rerun
    must skip every stage committed before the kill and the final edge
    set must be IDENTICAL to an uninterrupted build's."""
    import signal
    import time

    from ckg_spark.corpus.pages import config_from_vocab, generate_pages_df

    pages_dir = str(tmp_path / "pages")
    cfg = config_from_vocab(vocab, n_docs=800, seed=42, partitions=4)
    generate_pages_df(spark, cfg).write.parquet(pages_dir)

    def submit(wh):
        return [
            sys.executable, os.path.join(REPO, "scripts", "submit_build.py"),
            "--pages", pages_dir, "--warehouse", wh,
            "--master", "local[4]", "--terms-per-type", "30",
        ]

    # uninterrupted reference build
    wh_clean = str(tmp_path / "wh_clean")
    out = subprocess.run(submit(wh_clean), capture_output=True, text=True, timeout=420)
    assert out.returncode == 0, out.stderr[-2000:]

    # killed build: wait for the tag stage's metrics record, then
    # SIGKILL the whole process group mid-pipeline
    wh_kill = str(tmp_path / "wh_kill")
    proc = subprocess.Popen(
        submit(wh_kill),
        stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
        start_new_session=True,
    )
    committed: set[str] = set()
    deadline = time.time() + 300
    try:
        while time.time() < deadline:
            if proc.poll() is not None:
                break
            committed = _committed_stages(wh_kill)
            if "tag" in committed:
                break
            time.sleep(0.05)
        assert "tag" in committed, "tag stage never committed before timeout"
        os.killpg(proc.pid, signal.SIGKILL)
    finally:
        proc.wait(timeout=60)
    assert proc.returncode != 0  # really was killed mid-run

    # resume: committed stages skip, the rest run to completion
    out2 = subprocess.run(submit(wh_kill), capture_output=True, text=True, timeout=420)
    assert out2.returncode == 0, out2.stderr[-2000:]
    stats2 = json.loads(
        [ln for ln in out2.stdout.strip().splitlines() if ln.startswith("{")][-1]
    )
    for stage in committed:
        assert stage in stats2["skipped"], (stage, stats2["skipped"])

    def edge_set(wh):
        dirs = [
            os.path.join(wh, "edges", d)
            for d in os.listdir(os.path.join(wh, "edges"))
            if d.startswith("data-")
        ]
        df = spark.read.parquet(*dirs)
        return {
            (r["subj"], r["pred"], r["obj"], r["score"]) for r in df.collect()
        }

    clean, resumed = edge_set(wh_clean), edge_set(wh_kill)
    assert clean == resumed and len(clean) > 0


def test_submit_curate_kill_resume_identical_output(spark, tmp_path):
    """Process-level kill/resume for the CURATION pipeline (the same
    resume contract the KG build test covers): SIGKILL the
    spark-submit process group after the first stage commits; the rerun
    must skip every stage committed before the kill and curate the
    IDENTICAL document set an uninterrupted run produces."""
    import signal
    import time

    docs_dir = str(tmp_path / "cdocs")
    rows = [
        (i, (f"a genuinely useful document number {i} carrying plenty of "
             f"distinct words token{i} token{i+1} token{i+2} token{i*7%91} "
             "so the quality filters keep it around for the whole run "
             * 4), "en")
        for i in range(4000)
    ] + [(90000 + i, "dup text body", "en") for i in range(50)]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string"
    ).write.mode("overwrite").parquet(docs_dir)

    def submit(wh):
        return [
            sys.executable, os.path.join(REPO, "scripts", "submit_curate.py"),
            "--docs", docs_dir, "--warehouse", wh, "--master", "local[4]",
            "--no-lm-filter",
        ]

    wh_clean = str(tmp_path / "whc_clean")
    out = subprocess.run(submit(wh_clean), capture_output=True, text=True, timeout=420)
    assert out.returncode == 0, out.stderr[-2000:]
    stats_clean = json.loads(
        [ln for ln in out.stdout.strip().splitlines() if ln.startswith("{")][-1]
    )

    wh_kill = str(tmp_path / "whc_kill")
    proc = subprocess.Popen(
        submit(wh_kill),
        stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
        start_new_session=True,
    )
    committed: set[str] = set()
    deadline = time.time() + 300
    try:
        while time.time() < deadline:
            if proc.poll() is not None:
                break
            committed = _committed_stages(wh_kill)
            if committed:
                break
            time.sleep(0.02)
        assert committed, "no curation stage committed before timeout"
        os.killpg(proc.pid, signal.SIGKILL)
    finally:
        proc.wait(timeout=60)
    assert proc.returncode != 0

    out2 = subprocess.run(submit(wh_kill), capture_output=True, text=True, timeout=420)
    assert out2.returncode == 0, out2.stderr[-2000:]
    stats2 = json.loads(
        [ln for ln in out2.stdout.strip().splitlines() if ln.startswith("{")][-1]
    )
    for stage in committed:
        # metrics records carry the table-namespace prefix; the
        # stats report the bare stage names
        assert stage.removeprefix("curate_") in stats2["skipped"], (
            stage, stats2["skipped"],
        )
    assert stats2["n_curated"] == stats_clean["n_curated"]

    from ckg_spark.lakehouse import Warehouse

    ids = lambda wh: {
        r["doc_id"]
        for r in Warehouse(wh).table("curated_documents").read(spark).collect()
    }
    assert ids(wh_kill) == ids(wh_clean) and len(ids(wh_clean)) > 0
