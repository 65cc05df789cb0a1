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
    # ~30% of 200 docs mention the hot module (import, symbol ref,
    # keyword); each type's exact count must match a direct
    # distinct-count of that type
    hot_mentions = mentions.filter(F.lower("text") == "commonutil")
    direct = dict(
        hot_mentions.groupBy("concept_type")
        .agg(F.countDistinct("doc_id")).collect()
    )
    assert {r["concept_type"]: r["n_documents"] for r in hot} == direct
    n_docs = hot_mentions.select("doc_id").distinct().count()
    assert 0.15 < n_docs / 200 < 0.45


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
    importance equal to 9 places (summation order differs), whether
    the winners and the result are checkpointed (materialize) or
    not."""
    mentions = all_mentions(
        small_corpus, id_col="doc_id", text_col="content", lang_col="lang"
    ).persist()
    raw = aggregate_concepts(mentions, min_frequency=1, max_concepts=None)
    for f, k, n_rows in ((2, 100, 100), (1, None, 8264), (2, 10, 10)):
        composed = _norm(canonical_merge(raw, f, k))
        for materialize in (False, True):
            fused = _norm(aggregate_concepts_canonical(
                mentions, f, k, materialize=materialize))
            assert len(fused) == n_rows, (f, k, materialize, len(fused))
            assert fused == composed, (f, k, materialize)
    mentions.unpersist()


def test_pipeline_concepts_stage_jobs(spark, small_corpus):
    """The concepts stage of ``run_pipeline`` (shipped config) derives
    its mentions once, cached for both passes, and computes its winners
    once: checkpointed before the list pass, not re-ranked by each of
    its three readers."""
    from pdf_knowledge_extractor_spark.plans.pipeline import (
        PipelineConfig,
        run_pipeline,
    )

    sc = spark.sparkContext
    group = "pke-test-concepts-jobs"
    sc.setJobGroup(group, group)
    try:
        run_pipeline(spark, small_corpus, PipelineConfig(),
                     id_col="doc_id", text_col="content", lang_col="lang")
    finally:
        sc.setJobGroup("", "")
    store = sc._jsc.sc().statusStore()
    descs = [store.job(j).description()
             for j in sc.statusTracker().getJobIdsForGroup(group)]
    jobs = sum(d.isDefined() and d.get() == "pke: concepts" for d in descs)
    # 19 here; 21 when each concept pass derived the mention streams
    # from the text again, 33 when each reader also re-ran the ranking
    # and the code entities were a pandas UDF
    assert 0 < jobs <= 19, jobs


def test_pipeline_releases_its_checkpoints(spark, small_corpus):
    """Dropping a run's results, ``clearCache()`` and
    ``release_checkpointed_results()`` leave none of its storage: the
    concepts stage's eager checkpoints (winners, result, contexts) are
    registered like every other operator's."""
    import gc

    from pdf_knowledge_extractor_spark.operators.ann import (
        release_checkpointed_results,
    )
    from pdf_knowledge_extractor_spark.plans.pipeline import (
        PipelineConfig,
        run_pipeline,
    )

    def persistent_rdds() -> set:
        return set(spark.sparkContext._jsc.getPersistentRDDs().keys())

    def cleanup():
        gc.collect()
        spark.sparkContext._jvm.System.gc()
        spark.catalog.clearCache()
        return release_checkpointed_results()

    cleanup()
    before = persistent_rdds()
    res = run_pipeline(spark, small_corpus, PipelineConfig(),
                       id_col="doc_id", text_col="content", lang_col="lang")
    res["triples"].count()
    del res
    assert cleanup() == 4  # the concepts stage's 3 and the similarities
    assert not persistent_rdds() - before
