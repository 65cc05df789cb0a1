"""End-to-end smoke of the spark-submit deployment entry (run_kg.py):
synthetic corpus -> full pipeline -> pred-partitioned triple parquet,
both the direct and the checkpointed path."""

from __future__ import annotations

import os
import sys


def _run(argv: list[str], monkeypatch):
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import run_kg

    monkeypatch.setattr(sys, "argv", ["run_kg.py", *argv])
    run_kg.main()


def test_run_kg_direct(spark, tmp_path, monkeypatch, capsys):
    out = str(tmp_path / "kg_out")
    _run(
        ["--synthetic", "300", "--output", out, "--cpus", "4",
         "--strategy", "minhash"],
        monkeypatch,
    )
    import json

    payload = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert payload["triples"] > 0
    # pred-partitioned layout (the Iceberg-analog write)
    parts = {d for d in os.listdir(out) if d.startswith("pred=")}
    assert "pred=contains" in parts
    assert len(parts) >= 10, parts  # full K5 predicate vocabulary
    back = spark.read.parquet(out)
    assert back.count() == payload["triples"]
    assert set(back.columns) >= {"subj", "obj", "weight", "prov"}


def test_run_kg_checkpointed(spark, tmp_path, monkeypatch, capsys):
    out = str(tmp_path / "kg_out_ck")
    ck = str(tmp_path / "ckpt")
    _run(
        ["--synthetic", "300", "--output", out, "--checkpoint", ck,
         "--cpus", "4", "--strategy", "exact"],
        monkeypatch,
    )
    import json

    payload = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert payload["triples"] > 0
    # every stage directory holds its record
    from pdf_knowledge_extractor_spark.plans.pipeline import STAGES
    from pdf_knowledge_extractor_spark.sources.checkpoint import RECORD

    stage_dirs = [d for d in os.listdir(ck) if "__" in d]
    assert {d.split("__")[0] for d in stage_dirs} == {"source", *STAGES}
    for d in stage_dirs:
        assert os.path.exists(os.path.join(ck, d, RECORD)), d
