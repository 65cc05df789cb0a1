"""End-to-end pipeline parity: the Spark-built triple set must match
the single-process golden restatement at P/R >= 0.95 (BASELINE.json
north rule; SURVEY.md §5 item 2), plus the per-row sha256 content
invariant (§5 item 3)."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from pdf_knowledge_extractor_spark.plans.pipeline import (
    PipelineConfig,
    run_pipeline,
)
from tests.golden_reference import golden_triples

FLOAT_PREDS = {"pdf:importanceScore", "pdf:sentimentScore"}


def _normalize(triples):
    out = set()
    for s, p, o in triples:
        if p in FLOAT_PREDS:
            o = f"{round(float(o), 6):.6f}"
        out.add((s, p, o))
    return out


CREATED_AT = "2026-01-01T00:00:00"


@pytest.fixture(scope="module")
def pipeline_result(spark, small_corpus):
    cfg = PipelineConfig(similarity_strategy="exact", created_at=CREATED_AT)
    return run_pipeline(
        spark, small_corpus, cfg, id_col="doc_id", text_col="content",
        lang_col="lang",
    )


def test_triple_parity(spark, small_corpus, pipeline_result):
    got = _normalize(
        (r["subj"], r["pred"], r["obj"])
        for r in pipeline_result["triples"].collect()
    )
    docs = [
        (r["doc_id"], r["content"], r["lang"]) for r in small_corpus.collect()
    ]
    expected = _normalize(golden_triples(docs, created_at=CREATED_AT))
    inter = got & expected
    precision = len(inter) / len(got)
    recall = len(inter) / len(expected)
    assert precision >= 0.95, (
        f"precision {precision:.4f}; sample extra: "
        f"{sorted(got - expected)[:5]}"
    )
    assert recall >= 0.95, (
        f"recall {recall:.4f}; sample missing: "
        f"{sorted(expected - got)[:5]}"
    )


def test_k5_vocabulary_complete(pipeline_result):
    """Every K5 predicate the reference RDF exporter emits
    (exporters/data_analysis.py:1016-1196) appears in the triple set,
    including dc:title, dct:created and skos:definition."""
    preds = {
        r["pred"]
        for r in pipeline_result["triples"].select("pred").distinct().collect()
    }
    assert {
        "contains", "similar_to",
        "pdf:wordCount", "pdf:characterCount", "pdf:sentimentScore",
        "pdf:sentimentLabel", "pdf:documentType", "dc:title", "dct:created",
        "skos:prefLabel", "pdf:conceptType", "pdf:importanceScore",
        "pdf:frequency", "skos:definition",
    } <= preds, f"missing: {preds}"


def test_sha256_invariant(spark, small_corpus, pipeline_result):
    enriched = pipeline_result["documents"]
    src = small_corpus.select(
        "doc_id", F.sha2(F.col("content"), 256).alias("src_sha")
    )
    joined = enriched.select("doc_id", "content_sha256").join(src, "doc_id")
    mismatches = joined.filter(
        F.col("content_sha256") != F.col("src_sha")
    ).count()
    assert mismatches == 0
    assert joined.count() == small_corpus.count()


def test_build_twice_deterministic_with_defaults(spark, small_corpus):
    """VERDICT r4 item 7: with ALL defaults (created_at=None), two
    builds of the same input must produce the identical triple multiset
    — dct:created now defaults to the snapshot sentinel
    (triples.snapshot_created_at), not export wall clock."""
    from pdf_knowledge_extractor_spark.plans.triples import (
        snapshot_created_at,
    )

    def build():
        res = run_pipeline(
            spark, small_corpus,
            PipelineConfig(similarity_strategy="exact"),
            id_col="doc_id", text_col="content", lang_col="lang",
        )
        rows = sorted(
            (r["subj"], r["pred"], r["obj"], round(r["weight"], 9))
            for r in res["triples"].collect()
        )
        return rows

    first, second = build(), build()
    assert first == second
    stamps = {o for _, p, o, _ in first if p == "dct:created"}
    assert len(stamps) == 1
    # the stamp is the snapshot sentinel — input-derived, not a clock
    expected = snapshot_created_at(
        small_corpus.select(
            F.sha2(F.col("content"), 256).alias("content_sha256")
        )
    )
    assert stamps == {expected}


def test_triples_partitioned_write_roundtrip(spark, tmp_path, pipeline_result):
    from pdf_knowledge_extractor_spark.plans.triples import write_triples

    out = str(tmp_path / "triples")
    write_triples(pipeline_result["triples"], out)
    back = spark.read.parquet(out)
    assert back.count() == pipeline_result["triples"].count()
    # partitioned by pred
    preds = {r["pred"] for r in back.select("pred").distinct().collect()}
    assert "contains" in preds and "similar_to" in preds
    # clustered on (pred, subj): each subject of a pred sits in one file
    files = back.select("pred", "subj", F.col("_metadata.file_path").alias("f"))
    spread = files.groupBy("pred", "subj").agg(
        F.countDistinct("f").alias("n")
    )
    assert spread.filter(F.col("n") != 1).count() == 0
    # the file count follows the shuffle size, not a fixed bucket count
    per_pred = files.groupBy("pred").agg(F.countDistinct("f").alias("n"))
    cap = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert per_pred.agg(F.max("n")).first()[0] <= cap


def test_snapshot_stamp_duplicate_sensitive(spark):
    """ADVICE r5 #3: bit_xor alone cancels identical contents
    pairwise — adding an even number of duplicate docs left the stamp
    unchanged. The mixed fingerprint (xor + count + wrapping sum) must
    distinguish multiplicity changes while staying order-independent."""
    from pdf_knowledge_extractor_spark.plans.triples import (
        snapshot_created_at,
    )

    def frame(contents):
        return spark.createDataFrame(
            [(c,) for c in contents], "content string"
        ).select(F.sha2(F.col("content"), 256).alias("content_sha256"))

    base = ["alpha", "beta", "gamma"]
    s0 = snapshot_created_at(frame(base))
    # +2 identical duplicates: xor cancels, count must not
    s2dup = snapshot_created_at(frame(base + ["alpha", "alpha"]))
    assert s2dup != s0
    # equal cardinality AND equal xor (the duplicated pair cancels
    # itself either way): only the wrapping sum distinguishes which
    # content was duplicated
    sdup_a = snapshot_created_at(frame(base + ["alpha", "alpha"]))
    sdup_b = snapshot_created_at(frame(base + ["beta", "beta"]))
    assert sdup_a != sdup_b
    # order independence preserved
    assert snapshot_created_at(frame(list(reversed(base)))) == s0
