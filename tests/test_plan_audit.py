"""Physical-plan audits (north rule: no per-row Python in the hot
path; filters reach the parquet scan).

- No Python at all in the default pipeline plans (no EvalPython, no
  InPandas node: the code-entity detector is JVM regexes); elsewhere
  Python appears only as ArrowEvalPython / MapInPandas (vectorized),
  never BatchEvalPython.
- Predicate pushdown: a filtered scan of the documents table shows
  PushedFilters at the FileScan.
- Broadcast: the small-dimension join picks BroadcastHashJoin.
- Tokenize once: the cached mention stream holds the pipeline's one
  keyword regex, and tf-idf reads that cache.
"""

from __future__ import annotations

import pyspark.sql.functions as F

from pdf_knowledge_extractor_spark.plans.pipeline import (
    PipelineConfig,
    run_pipeline,
)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_no_row_python_in_pipeline(spark, small_corpus):
    res = run_pipeline(
        spark, small_corpus, PipelineConfig(similarity_strategy="prefix"),
        id_col="doc_id", text_col="content", lang_col="lang",
    )
    for name in ("documents", "mentions", "concepts", "similarities",
                 "triples"):
        plan = _plan(res[name])
        for node in ("EvalPython", "InPandas"):
            assert node not in plan, f"Python ({node}) in {name} plan"


def test_no_row_python_lsh_and_clusters(spark, small_corpus):
    """The clustering path routes through to_ml_vectors — audit that
    its UDF stays Arrow-batched (ArrowEvalPython), never
    BatchEvalPython, across the banded and exact similarity
    strategies."""
    for strategy in ("minhash", "exact"):
        res = run_pipeline(
            spark, small_corpus,
            PipelineConfig(
                similarity_strategy=strategy,
                with_clusters=(strategy == "minhash"),
            ),
            id_col="doc_id", text_col="content", lang_col="lang",
        )
        names = ["similarities", "triples"]
        if strategy == "minhash":
            names.append("clusters")
        for name in names:
            plan = _plan(res[name])
            assert "BatchEvalPython" not in plan, (
                f"row-at-a-time Python UDF in {name} plan ({strategy})"
            )


def test_filter_pushdown_to_scan(spark):
    df = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .filter(F.col("doc_id") > 100)
        .select("doc_id", "n_chars")
    )
    plan = _plan(df)
    assert "PushedFilters: [IsNotNull(doc_id), GreaterThan(doc_id,100)]" in plan
    # column pruning: text column must not be read
    assert "ReadSchema: struct<doc_id:bigint,n_chars:bigint>" in plan


def test_small_dim_join_broadcasts(spark):
    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    nation = spark.read.parquet("/root/testdata/sf0.001/nation.parquet")
    orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    customer = spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
    j = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .count()
    )
    plan = _plan(j)
    assert "BroadcastHashJoin" in plan


def test_candidate_path_sort_free(spark, small_corpus):
    """The 1.2M-row octave profile pinned the non-scaling component to
    sort-merge machinery on the candidate pair stream (15-17 GB of
    sort spill serializing on one shared disk at 8 executor JVMs).
    Guard the fix: the banded similarity plan must hash-join end to
    end (no SortMergeJoin, no Sort of the pair stream) and exchange
    the pair stream ONCE - the doc1_id repartition that serves both
    the dedup aggregate and the doc1-keyed vector join."""
    from pyspark.sql import functions as F

    from pdf_knowledge_extractor_spark.operators.similarity import (
        minhash_blocked_cosine_pairs,
    )
    from pdf_knowledge_extractor_spark.operators.tfidf import tfidf_longform
    from pdf_knowledge_extractor_spark.operators.mentions import (
        keyword_mentions,
    )
    from pdf_knowledge_extractor_spark.plans.pipeline import enrich_documents

    enriched = enrich_documents(small_corpus, "doc_id", "content")
    kw = keyword_mentions(enriched, "doc_id", "content")
    tfidf = tfidf_longform(
        kw.select("doc_id", F.col("text")), n_docs=200, normalize=True
    )
    # uncapped path stays lazy (no _finalize checkpoint), so the full
    # candidate plan is inspectable
    pairs = minhash_blocked_cosine_pairs(tfidf, max_bucket_size=None)
    plan = _plan(pairs)
    assert "SortMergeJoin" not in plan, "candidate path regressed to SMJ"
    assert "ShuffledHashJoin" in plan
    assert plan.count("Exchange hashpartitioning(doc1_id") == 1, (
        "pair stream must shuffle exactly once (repartition(doc1_id) "
        "reused by dedup + vector join)"
    )


def test_ngram_jaccard_sort_free(spark, small_corpus, monkeypatch):
    from pdf_knowledge_extractor_spark.operators import dedup
    from pdf_knowledge_extractor_spark.operators.dedup import (
        ngram_jaccard_pairs,
    )

    pairs = ngram_jaccard_pairs(
        small_corpus, threshold=0.5, id_col="doc_id", text_col="content"
    )
    plan = _plan(pairs)
    assert "SortMergeJoin" not in plan, (
        "posting self-join regressed to SMJ"
    )
    # the prefix path, forced; its lazy result's plan is read before
    # _finalize checkpoints it (the checkpoint's plan shows no join)
    # and releases the operator's caches
    plans = []
    finalize = dedup._finalize

    def planned(result, *cached):
        plans.append(_plan(result))
        return finalize(result, *cached)

    monkeypatch.setattr(dedup, "_PREFIX_PATH_MIN_POSTS", 0)
    monkeypatch.setattr(dedup, "_finalize", planned)
    ngram_jaccard_pairs(
        small_corpus, threshold=0.5, id_col="doc_id", text_col="content"
    )
    plan, = plans
    assert "ShuffledHashJoin" in plan
    assert "SortMergeJoin" not in plan, "prefix path regressed to SMJ"


def test_unbounded_concepts_not_broadcast(spark, small_corpus):
    """Without max_concepts the fused aggregate's winners and their
    variants are unbounded relations, so it must not broadcast them;
    under the pipeline's cap of 100 its broadcasts stay. Size-based
    auto-broadcast is off while planning, so the plans show the
    operator's own hints; the checkpointed mentions keep the mention
    plan's joins out of the tree."""
    from pdf_knowledge_extractor_spark.operators.concepts import (
        aggregate_concepts_canonical,
    )
    from pdf_knowledge_extractor_spark.operators.mentions import all_mentions

    mentions = all_mentions(
        small_corpus, id_col="doc_id", text_col="content", lang_col="lang"
    ).localCheckpoint()
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        unbounded = _plan(aggregate_concepts_canonical(mentions, 1, None))
        capped = _plan(aggregate_concepts_canonical(mentions, 2, 100))
    finally:
        spark.conf.set(key, old)
    assert "BroadcastExchange" not in unbounded
    assert "BroadcastExchange" in capped


def test_concepts_agg_bounded_memory_shape(spark, small_corpus):
    """The 1.2M octave OOM'd (executor exit 52) when the concepts
    partial aggregate held every mention's context string in per-key
    object-agg list buffers — memory proportional to mention
    multiplicity, invisible to the key-count fallback threshold.
    Mention rows carry no context now (concepts take theirs after
    aggregation, concepts.with_concept_contexts).
    Guard the bounded shape: the raw mention stream must be consumed
    by a codegen HashAggregate keyed per (concept, doc) BEFORE any
    object-hash collect, the tf-idf df/norm lookups must hash-join,
    and no SortAggregate / SortMergeJoin may appear anywhere."""
    from pdf_knowledge_extractor_spark.operators.concepts import (
        aggregate_concepts,
    )
    from pdf_knowledge_extractor_spark.operators.mentions import all_mentions
    from pdf_knowledge_extractor_spark.plans.pipeline import enrich_documents

    enriched = enrich_documents(small_corpus, "doc_id", "content")
    mentions = all_mentions(
        enriched, id_col="doc_id", text_col="content", lang_col="lang",
    )
    c = aggregate_concepts(mentions, min_frequency=2, max_concepts=None)
    plan = _plan(c)
    assert "ObjectHashAggregate" in plan  # the capped collects exist
    assert "SortAggregate" not in plan, "concepts agg fell back to sort"
    # the per-(concept, doc) pre-reduction is the stream's single
    # consumer: a HashAggregate keyed on text + doc_id sits in the plan
    import re
    assert re.search(r"HashAggregate\(keys=\[text\S*, concept_type\S*, "
                     r"doc_id", plan), (
        "per-doc codegen pre-reduction missing below the collects"
    )
    # single chain: per-doc exchange, salt exchange, merge exchange —
    # a 4th would mean Catalyst elided the per-doc agg under the
    # collects (RemoveRedundantAggregates) and re-read the raw mention
    # stream in a second branch, OR the explicit salt repartition
    # failed to satisfy the salted agg's distribution (attribute
    # mismatch) and EnsureRequirements added its exchange back
    assert plan.count("+- Exchange") == 3, (
        f"expected 3 exchanges, plan has {plan.count('+- Exchange')} "
        "(duplicate mention pass, or redundant salt exchange?)"
    )
    # the salted object agg must run REDUCE-side: its partial sits
    # above the explicit REPARTITION_BY_COL exchange (tree prints
    # top-down, so parent index < child index). If the partial were
    # planned map-side it would share a stage with the per-doc codegen
    # final and hold the GLOBAL n_concepts x n_salts key space per
    # task — the r6 2.4M-row ladder OOM (1 GB executor, stage 13)
    assert "REPARTITION_BY_COL" in plan, (
        "explicit salt repartition missing below the object agg"
    )
    assert plan.index("partial_collect_set") < plan.index(
        "REPARTITION_BY_COL"
    ), "salted object-agg partial planned map-side (below the salt "
    "exchange) — global key space per task, the 1-GB-executor OOM shape"


def test_tfidf_lookups_hash_join(spark, small_corpus):
    from pdf_knowledge_extractor_spark.operators.mentions import (
        keyword_mentions,
    )
    from pdf_knowledge_extractor_spark.operators.tfidf import tfidf_longform

    kw = keyword_mentions(small_corpus, "doc_id", "content")
    tfidf = tfidf_longform(
        kw.select("doc_id", F.col("text")), n_docs=200, normalize=True
    )
    plan = _plan(tfidf)
    assert "SortMergeJoin" not in plan, (
        "df/norm lookups regressed to SMJ (sorts the tf long form twice)"
    )


def test_join_hint_gate_reverts_to_catalyst(spark, small_corpus, monkeypatch):
    """ADVICE r5 #4: the pinned ShuffledHashJoin hints are gated behind
    PKE_JOIN_HINT. Default pins SHJ on the candidate joins; =none hands
    the physical choice back to Catalyst/AQE (deployments whose
    shuffle partitioning is not sized to the data revert without a
    code change) — and the answer must not change either way."""
    from pdf_knowledge_extractor_spark.operators.similarity import (
        minhash_blocked_cosine_pairs,
    )
    from pdf_knowledge_extractor_spark.operators.tfidf import tfidf_longform
    from pdf_knowledge_extractor_spark.operators.mentions import (
        keyword_mentions,
    )

    def _tfidf():
        # rebuilt per arm: tfidf_longform embeds the hint at PLAN BUILD
        # time, so the env must be read before every operator call
        km = keyword_mentions(small_corpus, "doc_id", "content")
        return tfidf_longform(
            km.select("doc_id", "text"), n_docs=small_corpus.count()
        )

    def _analyzed(df) -> str:
        return df._jdf.queryExecution().analyzed().toString()

    monkeypatch.delenv("PKE_JOIN_HINT", raising=False)
    pinned = minhash_blocked_cosine_pairs(_tfidf(), 0.7)
    assert "ShuffledHashJoin" in _plan(pinned)
    assert "ResolvedHint (strategy=shuffle_hash)" in _analyzed(pinned)
    base = {(r["doc1_id"], r["doc2_id"]): r["similarity_score"]
            for r in pinned.collect()}

    monkeypatch.setenv("PKE_JOIN_HINT", "none")
    unhinted = minhash_blocked_cosine_pairs(_tfidf(), 0.7)
    # the gate removes the HINTS (Catalyst/AQE may still legitimately
    # pick SHJ on its own — e.g. AQE's small-partition SMJ->SHJ
    # rewrite — so assert on the logical plan, not the physical op)
    assert "ResolvedHint" not in _analyzed(unhinted)
    got = {(r["doc1_id"], r["doc2_id"]): r["similarity_score"]
           for r in unhinted.collect()}
    assert set(got) == set(base)
    for k in got:
        assert abs(got[k] - base[k]) < 1e-9


def _own_nodes(plan):
    """A physical plan's nodes, through the adaptive wrappers, but not
    into the cached plan below an InMemoryTableScan."""
    cls = plan.getClass().getSimpleName()
    if cls == "AdaptiveSparkPlanExec":
        yield from _own_nodes(plan.executedPlan())
        return
    if cls.endswith("QueryStageExec"):
        yield from _own_nodes(plan.plan())
        return
    yield plan
    kids = plan.children()
    for i in range(kids.size()):
        yield from _own_nodes(kids.apply(i))


def _cached_build(df) -> list[str]:
    """The node strings of the plan that fills ``df``'s cache."""
    cached = df._jdf.queryExecution().withCachedData()
    assert cached.nodeName() == "InMemoryRelation", "not cached"
    return [n.simpleString(10_000) for n in _own_nodes(cached.cachedPlan())]


def test_pipeline_tokenizes_once(spark, small_corpus):
    """The shipped-config pipeline runs the keyword regex once per
    document: one node of the cached mention stream evaluates it (the
    phrases are pairs of the same token array), and tf-idf reads that
    cache's keyword rows with no tokenizer of its own."""
    res = run_pipeline(spark, small_corpus, PipelineConfig(),
                       id_col="doc_id", text_col="content", lang_col="lang")
    keyword_regex = "regexp_extract_all(lower(content"
    mentions = _cached_build(res["mentions"])
    assert sum(n.count(keyword_regex) for n in mentions) == 1, mentions
    tfidf = _cached_build(res["tfidf"])
    assert not [n for n in tfidf if "regexp_extract_all" in n]
    assert [n for n in tfidf if n.startswith("InMemoryTableScan")
            and "(concept_type" in n and "= keyword)" in n]
