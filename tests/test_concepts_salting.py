"""Salted concept aggregation: salted output must equal unsalted
(SURVEY.md §5 skew test) and survive a hot entity in ~30% of rows."""

from __future__ import annotations

import pyspark.sql.functions as F

from pdf_knowledge_extractor_spark.operators.concepts import (
    aggregate_concepts,
    aggregate_concepts_canonical,
    canonical_merge,
)
from pdf_knowledge_extractor_spark.operators.mentions import all_mentions


def _norm(df):
    return {
        (r["text"], r["concept_type"]): (
            r["frequency"],
            round(r["importance"], 9),
            tuple(r["document_ids"]),
        )
        for r in df.collect()
    }


def test_salted_equals_unsalted(spark, small_corpus):
    mentions = all_mentions(
        small_corpus, id_col="doc_id", text_col="content", lang_col="lang"
    ).persist()
    salted = aggregate_concepts(mentions, min_frequency=2, max_concepts=None,
                                n_salts=16)
    unsalted = aggregate_concepts(mentions, min_frequency=2, max_concepts=None,
                                  n_salts=1)
    assert _norm(salted) == _norm(unsalted)


def test_hot_entity_present_and_exact(spark, small_corpus):
    mentions = all_mentions(
        small_corpus, id_col="doc_id", text_col="content", lang_col="lang"
    )
    concepts = aggregate_concepts(mentions, min_frequency=2, max_concepts=None)
    hot = concepts.filter(F.col("text") == "commonutil").collect()
    assert hot, "hot module mention must aggregate"
    # ~30% of 200 docs import the hot module (mentioned via import +
    # symbol ref); exact count must match a direct distinct-count
    direct = (
        mentions.filter(F.lower("text") == "commonutil")
        .select("doc_id")
        .distinct()
        .count()
    )
    assert hot[0]["n_documents"] == direct
    assert 0.15 < direct / 200 < 0.45


def test_canonical_merge_collapses_aliases(spark, small_corpus):
    mentions = all_mentions(
        small_corpus, id_col="doc_id", text_col="content", lang_col="lang"
    )
    raw = aggregate_concepts(mentions, min_frequency=1, max_concepts=None)
    merged = canonical_merge(raw, min_frequency=1, max_concepts=None)
    # the corpus embeds DataLoader / Data_Loader / dataLoader variants
    raw_variants = raw.filter(
        F.regexp_replace(F.lower("text"), r"[-_.\s]+", "") == "dataloader"
    ).collect()
    assert len(raw_variants) >= 2, "corpus should produce alias variants"
    merged_variants = merged.filter(
        F.regexp_replace(F.lower("text"), r"[-_.\s]+", "") == "dataloader"
    ).collect()
    by_type = {}
    for r in merged_variants:
        by_type.setdefault(r["concept_type"], []).append(r)
    for rows in by_type.values():
        assert len(rows) == 1, "one canonical concept per type"
    total_raw = sum(r["frequency"] for r in raw_variants)
    total_merged = sum(r["frequency"] for r in merged_variants)
    assert total_raw == total_merged


def test_context_sentences_collected(spark):
    """Concept contexts come from one place, after aggregation: the
    first containing sentence of each of the concept's first 5
    documents, the 5 smallest distinct kept. The split regex is
    [.!?]\\s+ (RE2-safe, delimiter consumed), so terminal punctuation
    is dropped — a documented divergence."""
    from pdf_knowledge_extractor_spark.operators.concepts import (
        with_concept_contexts,
    )
    from pdf_knowledge_extractor_spark.operators.mentions import (
        keyword_mentions,
    )

    docs = spark.createDataFrame(
        [
            (1, "Spark shuffles data. The shuffle is expensive! More text."),
            (2, "Another document about shuffle behavior. Unrelated tail."),
        ],
        "doc_id long, text string",
    )
    c = with_concept_contexts(
        aggregate_concepts(keyword_mentions(docs), 1, None), docs
    )
    ctx = {r["text"]: r["context_sentences"] for r in c.collect()}
    # "shuffle" is a substring of doc 1's first sentence, which wins
    # over its second
    assert ctx["shuffle"] == [
        "Another document about shuffle behavior",
        "Spark shuffles data",
    ]
    assert ctx["shuffles"] == ["Spark shuffles data"]


def test_canonical_aggregate_equals_composition(spark, small_corpus):
    """aggregate_concepts_canonical is the fused form of
    canonical_merge(aggregate_concepts(m, 1, None), f, k): same rows,
    importance equal to 9 places (summation order differs)."""
    mentions = all_mentions(
        small_corpus, id_col="doc_id", text_col="content", lang_col="lang"
    ).persist()
    raw = aggregate_concepts(mentions, min_frequency=1, max_concepts=None)
    for f, k, n_rows in ((2, 100, 100), (1, None, 8264), (2, 10, 10)):
        fused = _norm(aggregate_concepts_canonical(mentions, f, k))
        composed = _norm(canonical_merge(raw, f, k))
        assert len(fused) == n_rows, (f, k, len(fused))
        assert fused == composed, (f, k)
    mentions.unpersist()
