"""Degenerate-corpus robustness (VERDICT r3 item 3): run_pipeline and
the downstream sinks on 0-row and 1-row corpora. The reference guards
n < 2 explicitly (semantic_analyzer.py:141-146, returning an empty
analysis); this engine's contract is empty-but-correctly-schemaed
relations with no exceptions anywhere in the DAG (empty mention
stream, n_docs=0/1 idf, empty similarity/related/cluster/triples
relations, empty JSON-LD / graph / CSV exports)."""

from __future__ import annotations

import json

import pyspark.sql.functions as F
import pytest

from pdf_knowledge_extractor_spark.operators.concepts import (
    per_doc_top_keywords,
)
from pdf_knowledge_extractor_spark.operators.related import related_documents
from pdf_knowledge_extractor_spark.plans.pipeline import (
    PipelineConfig,
    run_pipeline,
)

RELATIONS = (
    "documents", "mentions", "tfidf", "concepts", "similarities",
    "nodes", "edges", "triples",
)


def _docs(spark, rows):
    return spark.createDataFrame(
        rows, "doc_id string, content string, lang string"
    )


def _cfg(**kw):
    return PipelineConfig(
        similarity_strategy="exact",
        created_at="2026-01-01T00:00:00",
        with_clusters=True,
        coherence_mode="exact",
        **kw,
    )


@pytest.mark.parametrize("n_rows", [0, 1])
def test_pipeline_on_tiny_corpus(spark, tmp_path, n_rows):
    rows = [
        ("d0", "import jsonlib\ndef fn_0(arg): return arg\nalpha beta "
               "gamma alpha beta gamma delta", "python"),
    ][:n_rows]
    docs = _docs(spark, rows)
    cfg = _cfg()
    res = run_pipeline(
        spark, docs, cfg, id_col="doc_id", text_col="content",
        lang_col="lang",
    )
    for name in RELATIONS:
        df = res[name]
        assert df.columns, f"{name} lost its schema"
        df.count()  # must evaluate without raising

    # related documents are built by their callers, not the pipeline:
    # on 0 or 1 documents the relation is empty but schemaed
    related = related_documents(
        per_doc_top_keywords(res["mentions"], k=cfg.per_doc_keywords)
        .select("doc_id", "text"),
        min_shared=cfg.min_shared_keywords,
        top_k=cfg.related_top_k,
        max_df_abs=cfg.related_max_df,
    )
    assert related.columns
    assert related.count() == 0

    triples = res["triples"]
    if n_rows == 0:
        assert triples.count() == 0
        assert res["clusters"].count() == 0
    else:
        preds = {
            r["pred"] for r in triples.select("pred").distinct().collect()
        }
        # all seven per-doc property predicates survive; no pair
        # predicates can exist with one doc
        assert {"dc:title", "dct:created", "pdf:wordCount"} <= preds
        assert "similar_to" not in preds
        assert res["similarities"].count() == 0
        # a single doc has idf = ln(1/1) = 0 everywhere -> empty
        # vectorizable universe -> no clusters, matching the
        # reference's n < 2 refusal (semantic_analyzer.py:141-146)
        assert res["clusters"].count() == 0
        assert "in_cluster" not in preds

    # downstream sinks must handle the empty/singleton relations
    from pdf_knowledge_extractor_spark.plans.exports import (
        export_csv_relations,
        export_graph,
        jsonld_structure,
        statistics_relation,
        write_jsonld,
    )

    out = tmp_path / f"deg_{n_rows}"
    write_jsonld(res, str(out / "jsonld"))
    assert (out / "jsonld" / "envelope.json").exists()
    data = jsonld_structure(res)
    assert isinstance(data["@graph"], list)
    if n_rows == 0:
        assert data["@graph"] == []
    else:
        assert any(
            json.dumps(obj).find("d0") >= 0 for obj in data["@graph"]
        )
    export_graph(res["nodes"], res["edges"], str(out / "g.graphml"),
                 "graphml")
    assert (out / "g.graphml").exists()
    export_csv_relations(
        {"documents": res["documents"], "triples": res["triples"]},
        str(out / "csv"),
    )
    stats = {
        r["relation"]: r["rows"]
        for r in statistics_relation(res).collect()
    }
    assert stats["documents"] == n_rows


def test_pipeline_on_blank_only_corpus(spark):
    """Rows exist but every text is empty/whitespace: the mention
    stream, tfidf and every pair relation are empty while per-doc
    property triples still emit (the reference processes empty docs
    through quality scoring too)."""
    docs = _docs(
        spark, [("e0", "", "python"), ("e1", "   ", "python")]
    )
    res = run_pipeline(
        spark, docs, _cfg(), id_col="doc_id", text_col="content",
        lang_col="lang",
    )
    assert res["tfidf"].count() == 0
    assert res["similarities"].count() == 0
    assert res["concepts"].count() == 0
    doc_triples = res["triples"].filter(F.col("pred") == "dc:title")
    assert doc_triples.count() == 2
