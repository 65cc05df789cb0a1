"""Resume test (SURVEY.md §5 item 4): restart after partial completion
must reuse completed stages and produce identical triples; lineage and
metrics tables must be populated; sha256 invariant must hold across
checkpointed stages."""

from __future__ import annotations

import shutil

import pyspark.sql.functions as F

from pdf_knowledge_extractor_spark.plans.pipeline import PipelineConfig
from pdf_knowledge_extractor_spark.sources.checkpoint import (
    CheckpointManager,
    run_pipeline_checkpointed,
)


def _triple_set(df):
    return {(r["subj"], r["pred"], r["obj"]) for r in df.collect()}


def test_checkpoint_resume_identical(spark, small_corpus, tmp_path):
    ckpt = str(tmp_path / "ckpt")
    cfg = PipelineConfig(similarity_strategy="exact",
                     created_at="2026-01-01T00:00:00")
    res1 = run_pipeline_checkpointed(
        spark, small_corpus, ckpt, cfg, id_col="doc_id",
        text_col="content", lang_col="lang",
    )
    t1 = _triple_set(res1["triples"])

    # simulate a crash after 'concepts': delete every later stage
    import os

    for d in os.listdir(ckpt):
        if d.split("__")[0] in ("similarities", "edges", "triples"):
            shutil.rmtree(os.path.join(ckpt, d))

    res2 = run_pipeline_checkpointed(
        spark, small_corpus, ckpt, cfg, id_col="doc_id",
        text_col="content", lang_col="lang",
    )
    t2 = _triple_set(res2["triples"])
    assert t1 == t2

    # lineage populated with per-partition rows
    cp: CheckpointManager = res2["_checkpoint"]
    stages = {r["stage"] for r in cp.lineage().collect()}
    assert {"source", "concepts", "triples"} <= stages
    pl = cp.partition_lineage()
    assert pl.filter(F.col("rows") < 0).count() == 0
    assert pl.count() > 0
    assert cp.metrics().filter(F.col("key") == "rows").count() >= 1


def test_sha256_invariant_across_checkpoint(spark, small_corpus, tmp_path):
    ckpt = str(tmp_path / "ckpt2")
    res = run_pipeline_checkpointed(
        spark, small_corpus, ckpt,
        PipelineConfig(similarity_strategy="exact",
                       created_at="2026-01-01T00:00:00"),
        id_col="doc_id", text_col="content", lang_col="lang",
    )
    src = res["source"]
    # invariant: stored _sha256 equals recomputed sha2 of the restored
    # content — byte-identical round trip through the checkpoint
    bad = src.filter(
        F.col("_sha256") != F.sha2(F.col("content"), 256)
    ).count()
    assert bad == 0


def test_changed_input_changes_fingerprint(spark, small_corpus, tmp_path):
    cp = CheckpointManager(spark, str(tmp_path / "ckpt3"))
    fp1 = cp.fingerprint(small_corpus, content_col="content")
    mutated = small_corpus.withColumn(
        "content", F.concat(F.col("content"), F.lit("x"))
    )
    fp2 = cp.fingerprint(mutated, content_col="content")
    assert fp1 != fp2


def test_unpinned_created_at_stable_across_resume(spark, small_corpus,
                                                  tmp_path):
    """created_at=None must resolve ONCE per (checkpoint, fingerprint)
    and persist: a resume that rebuilds stages emits the same
    dct:created triples as the original run (ADVICE r2: previously a
    fresh datetime.now() at every plan build)."""
    import pyspark.sql.functions as F

    from pdf_knowledge_extractor_spark.plans.pipeline import PipelineConfig

    ckpt = str(tmp_path / "ckpt_created")
    cfg = PipelineConfig(similarity_strategy="exact")  # created_at=None
    docs = small_corpus.limit(30)
    res1 = run_pipeline_checkpointed(
        spark, docs, ckpt, cfg, id_col="doc_id", text_col="content",
    )
    created1 = {
        r["obj"]
        for r in res1["triples"].filter(F.col("pred") == "dct:created")
        .select("obj").distinct().collect()
    }
    # simulate a resume that must REBUILD the triples stage (drop it)
    import os
    import shutil

    for d in os.listdir(ckpt):
        if d.startswith("triples__"):
            shutil.rmtree(f"{ckpt}/{d}")
    res2 = run_pipeline_checkpointed(
        spark, docs, ckpt, PipelineConfig(similarity_strategy="exact"),
        id_col="doc_id", text_col="content",
    )
    created2 = {
        r["obj"]
        for r in res2["triples"].filter(F.col("pred") == "dct:created")
        .select("obj").distinct().collect()
    }
    assert len(created1) == 1
    assert created1 == created2
