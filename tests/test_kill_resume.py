"""Hard-kill resume (VERDICT r3 item 6, SURVEY §5 test #4): SIGKILL
the checkpointed pipeline's whole process group mid-run (a real crash
— no atexit, no cooperative shutdown), restart it, and require
byte-identical triples vs a clean uninterrupted run. Proves the
staging-dir rename protocol: a killed half-written `.tmp-<run_id>`
directory can never be mistaken for a completed stage.

The mtime check proves only that the resume did not rewrite the
stages completed before the kill (`source`, `concepts`): their
directories keep their modification time. It cannot see whether
their builds ran again; test_checkpoint_resume's
test_partial_resume_reads_stored_concepts shows they do not."""

from __future__ import annotations

import glob
import os
import signal
import subprocess
import sys
import time

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CHILD = os.path.join(REPO, "tests", "kill_resume_child.py")
N_ROWS = 300


def _spawn(ckpt_dir: str) -> subprocess.Popen:
    return subprocess.Popen(
        [sys.executable, CHILD, ckpt_dir, str(N_ROWS)],
        cwd=REPO,
        stdout=subprocess.PIPE,
        stderr=subprocess.DEVNULL,
        text=True,
        start_new_session=True,  # own process group: SIGKILL takes the JVM too
    )


def _stage_dirs(ckpt_dir: str, stage: str) -> list[str]:
    return [
        d for d in glob.glob(os.path.join(ckpt_dir, f"{stage}__*"))
        if not d.rsplit("/", 1)[-1].count(".tmp-")
        and os.path.exists(os.path.join(d, "_SUCCESS"))
    ]


def _triples_hash(ckpt_dir: str) -> tuple[int, str]:
    """(row count, order-insensitive content hash) of the triples
    stage, computed in-process."""
    from pyspark.sql import functions as F

    from pdf_knowledge_extractor_spark.session import get_spark

    spark = get_spark("kill-resume-check", cpus=4)
    tri = spark.read.parquet(_stage_dirs(ckpt_dir, "triples")[0])
    agg = tri.agg(
        F.count("*").alias("n"),
        F.bit_xor(
            F.xxhash64("subj", "pred", "obj",
                       F.round("weight", 9), "prov")
        ).alias("h"),
    ).first()
    return int(agg["n"]), str(agg["h"])


def test_sigkill_mid_run_then_resume_identical(tmp_path):
    ckpt = str(tmp_path / "ckpt_killed")
    clean = str(tmp_path / "ckpt_clean")

    # run 1: kill -9 the whole process group once a mid-DAG stage
    # (concepts) lands
    p = _spawn(ckpt)
    deadline = time.time() + 300
    try:
        while time.time() < deadline:
            if _stage_dirs(ckpt, "concepts"):
                break
            if p.poll() is not None:
                pytest.fail("child finished before the kill window")
            time.sleep(0.05)
        else:
            pytest.fail("concepts stage never appeared")
        os.killpg(p.pid, signal.SIGKILL)
    finally:
        p.wait()
    assert not _stage_dirs(ckpt, "triples"), (
        "kill landed too late — triples already complete"
    )
    pre_kill = {
        s: os.path.getmtime(_stage_dirs(ckpt, s)[0])
        for s in ("source", "concepts")
    }

    # run 2: plain restart of the SAME command — must reuse completed
    # stages and finish
    p2 = _spawn(ckpt)
    out, _ = p2.communicate(timeout=600)
    assert p2.returncode == 0, "resume run failed"
    assert "TRIPLES" in out
    for s, mtime in pre_kill.items():
        assert os.path.getmtime(_stage_dirs(ckpt, s)[0]) == mtime, (
            f"stage {s} was recomputed on resume"
        )

    # run 3: clean uninterrupted run in a fresh dir
    p3 = _spawn(clean)
    out3, _ = p3.communicate(timeout=600)
    assert p3.returncode == 0

    assert _triples_hash(ckpt) == _triples_hash(clean), (
        "resumed triples differ from a clean run"
    )
