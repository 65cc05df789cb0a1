"""Resume test (SURVEY.md §5 item 4): restart after partial completion
must reuse completed stages and produce identical triples; lineage and
metrics tables must be populated; sha256 invariant must hold across
checkpointed stages."""

from __future__ import annotations

import shutil

import pyspark.sql.functions as F
import pytest

from pdf_knowledge_extractor_spark import hooks
from pdf_knowledge_extractor_spark.plans.pipeline import (
    STAGES,
    PipelineConfig,
)
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

    # lineage populated with per-file rows; the triples' lineage rows
    # are the stored triples' count
    cp: CheckpointManager = res2["_checkpoint"]
    lineage = {r["stage"]: r["rows"] for r in cp.lineage().collect()}
    assert {"source", "concepts", "triples"} <= set(lineage)
    assert lineage["triples"] == res2["triples"].count()
    pl = cp.partition_lineage()
    assert pl.filter(F.col("rows") < 0).count() == 0
    assert pl.count() > 0


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
    """With created_at=None, a resume that rebuilds stages emits the
    same dct:created triples as the original run: the stamp is derived
    from the documents stage, stored or rebuilt (ADVICE r2: previously
    a fresh datetime.now() at every plan build)."""
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


def _jobs(spark, group, fn):
    """Run ``fn`` under a job group; -> (its result, Spark jobs run)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setJobGroup("", "")
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_complete_resume_reads_stages_only(spark, small_corpus, tmp_path):
    """A resume on a complete checkpoint builds nothing and reads no
    footer on the executors: its only jobs are the fingerprint's (the
    stages are read back with their recorded schemas)."""
    ckpt = str(tmp_path / "ckpt_complete")
    cfg = PipelineConfig(similarity_strategy="exact",
                         created_at="2026-01-01T00:00:00")

    def run():
        return run_pipeline_checkpointed(
            spark, small_corpus, ckpt, cfg, id_col="doc_id",
            text_col="content", lang_col="lang",
        )

    t1 = _triple_set(run()["triples"])
    spark.catalog.clearCache()
    res, jobs = _jobs(spark, "pke-test-complete-resume", run)
    assert jobs <= 2, jobs
    assert _triple_set(res["triples"]) == t1


def test_partial_resume_reads_stored_concepts(spark, small_corpus, tmp_path,
                                              monkeypatch):
    """With similarities, edges and triples deleted, a resume builds
    only those three from the stored documents and concepts: the
    concept aggregation is patched to raise, and the resume still
    gives the first run's triples."""
    import os

    from pdf_knowledge_extractor_spark.plans import pipeline

    ckpt = str(tmp_path / "ckpt_partial")
    cfg = PipelineConfig(similarity_strategy="exact",
                         created_at="2026-01-01T00:00:00")

    def run():
        return run_pipeline_checkpointed(
            spark, small_corpus, ckpt, cfg, id_col="doc_id",
            text_col="content", lang_col="lang",
        )

    t1 = _triple_set(run()["triples"])
    for d in os.listdir(ckpt):
        if d.split("__")[0] in ("similarities", "edges", "triples"):
            shutil.rmtree(os.path.join(ckpt, d))

    def no_concepts(*_a, **_k):
        raise AssertionError("the stored concepts stage was rebuilt")

    monkeypatch.setattr(pipeline, "aggregate_concepts_canonical",
                        no_concepts)
    spark.catalog.clearCache()
    res = run()
    assert _triple_set(res["triples"]) == t1
    stages = {
        r["stage"] for r in res["_checkpoint"].lineage().collect()
        if r["run_id"] == res["_checkpoint"].run_id
    }
    assert stages == {"similarities", "edges", "triples"}


def _labelled_jobs(spark, group, fn):
    """Run ``fn`` under a job group; -> (its result, each job's label)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setJobGroup("", "")
    store = sc._jsc.sc().statusStore()
    labels = []
    for job_id in sc.statusTracker().getJobIdsForGroup(group):
        desc = store.job(job_id).description()
        labels.append(desc.get() if desc.isDefined() else None)
    return out, labels


@pytest.fixture(scope="module")
def shipped_checkpoint(spark, small_corpus, tmp_path_factory):
    """A shipped-config checkpoint of ``small_corpus``: the results of
    its write and of a complete resume, and the labels of their jobs."""
    ckpt = str(tmp_path_factory.mktemp("ckpt_shipped"))
    out = {}
    for run in ("write", "resume"):
        out[run] = _labelled_jobs(
            spark, f"pke-test-checkpoint-{run}",
            lambda: run_pipeline_checkpointed(
                spark, small_corpus, ckpt, PipelineConfig(),
                id_col="doc_id", text_col="content", lang_col="lang",
            ),
        )
        spark.catalog.clearCache()
    return out


def test_checkpoint_jobs_carry_stage_labels(shipped_checkpoint):
    """Every job of a checkpointed write and of a complete resume is
    labelled ``pke: source`` (fingerprint and source snapshot) or
    ``pke: <stage>`` for one of ``STAGES``."""
    allowed = {f"pke: {s}" for s in ("source", *STAGES)}
    (_, write), (_, resume) = (shipped_checkpoint["write"],
                               shipped_checkpoint["resume"])
    assert set(write) == allowed, write
    assert resume and set(resume) == {"pke: source"}, resume


def test_stage_records_match_stored_stages(spark, shipped_checkpoint):
    """Each stage's record holds the rows of its stored parquet (summed
    from the footers), its read-back schema is the one Spark infers
    from the files, and the similarities record holds the banding
    census (shipped config: the minhash strategy)."""
    import os

    res, _ = shipped_checkpoint["resume"]
    cp: CheckpointManager = res["_checkpoint"]
    records = {r["stage"]: r for r in cp.records()}
    assert set(records) == {"source", *STAGES}
    for stage, rec in records.items():
        back = res[stage]
        assert rec["rows"] == back.count() == sum(rec["files"].values())
        stored = os.path.join(cp.root, f"{stage}__{rec['fingerprint']}")
        assert back.schema == spark.read.parquet(stored).schema, stage
    assert "banding_buckets_total" in records["similarities"]["metrics"]


def test_lineage_tables_run_no_job(spark, shipped_checkpoint):
    """``lineage()``, ``partition_lineage()`` and ``metrics()`` are
    local relations built from the stage records: building and
    collecting them runs no Spark job."""
    res, _ = shipped_checkpoint["resume"]
    cp: CheckpointManager = res["_checkpoint"]
    (lineage, files, metrics), jobs = _jobs(
        spark, "pke-test-lineage-tables",
        lambda: (cp.lineage().collect(), cp.partition_lineage().collect(),
                 cp.metrics().collect()),
    )
    assert jobs == 0, jobs
    rows = {r["stage"]: r["rows"] for r in lineage}
    assert set(rows) == {"source", *STAGES}
    for stage, n in rows.items():
        assert sum(f["rows"] for f in files if f["stage"] == stage) == n
    assert any(m["stage"] == "similarities"
               and m["key"] == "banding_buckets_total" for m in metrics)


def test_stored_triples_one_file_per_pred_subj(shipped_checkpoint):
    """The triples stage is written through ``triples.write_triples``:
    every (pred, subj) of the stored triples lies in one file."""
    res, _ = shipped_checkpoint["resume"]
    files = (
        res["triples"].select("pred", "subj", F.input_file_name().alias("f"))
        .distinct().groupBy("pred", "subj").count()
        .agg(F.max("count")).first()[0]
    )
    assert files == 1


def test_stage_without_record_is_rebuilt(spark, tmp_path):
    """A stage directory in the layout written before stage records
    (parquet and ``_SUCCESS``, no record) is not stored: it is rebuilt
    and committed with its record."""
    import os

    cp = CheckpointManager(spark, str(tmp_path / "ckpt_old"))
    old_dir = os.path.join(cp.root, "edges__fp")
    spark.range(3).write.parquet(old_dir)
    assert os.path.exists(os.path.join(old_dir, "_SUCCESS"))
    assert cp.record("edges", "fp") is None

    back = cp.stage("edges", "fp", lambda: (spark.range(5), {"k": 1}))
    assert back.count() == 5
    rec = cp.record("edges", "fp")
    assert rec["rows"] == 5 and rec["metrics"] == {"k": 1.0}


@hooks.register_preprocessor("upper_case")
def _upper_case(col):
    return F.upper(col)


def test_preprocessed_created_at_matches_run_pipeline(spark, small_corpus,
                                                      tmp_path):
    """With a preprocessor, an unpinned ``dct:created`` is derived from
    the preprocessed documents in both paths: ``run_pipeline_checkpointed``
    stamps what ``run_pipeline`` stamps."""
    from pdf_knowledge_extractor_spark.plans.pipeline import run_pipeline

    docs = small_corpus.limit(60)
    cfg = PipelineConfig(similarity_strategy="exact",
                         extra={"preprocessing_pipeline": ["upper_case"]})

    def created(triples):
        stamps = triples.filter(F.col("pred") == "dct:created")
        return {r["obj"] for r in stamps.select("obj").distinct().collect()}

    direct = created(run_pipeline(spark, docs, cfg, id_col="doc_id",
                                  text_col="content")["triples"])
    stored = created(run_pipeline_checkpointed(
        spark, docs, str(tmp_path / "ckpt_pre"), cfg, id_col="doc_id",
        text_col="content",
    )["triples"])
    assert len(direct) == 1
    assert stored == direct
