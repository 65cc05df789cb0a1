"""Concept aggregation — the salted groupBy at the heart of the
pipeline.

Semantics reproduced from _extract_concepts
(semantic_analyzer.py:391-448): group mentions by
(lower(text), concept_type); frequency = mention count; importance =
mean of mention scores; document_ids = distinct doc list; drop groups
with frequency < min_concept_frequency (default 2,
semantic_analyzer.py:101); keep top ``max_concepts`` (default 100)
ordered by (importance desc, frequency desc)
(semantic_analyzer.py:446-448).

Scale design (three bounded hops):
1. per-(concept, doc) reduction — a spillable codegen HashAggregate
   (count/sum only) is the single consumer of the raw mention stream;
   no collect buffer anywhere grows with mention multiplicity.
2. salted partial — per-salt sums plus capped distinct collects over
   the deduped table on (concept, pmod(hash(doc_id), n_salts)), so a
   hot entity owning >30% of the stream splits across n_salts
   reducers, with per-salt slice() caps bounding what crosses the
   merge shuffle. Per-salt smallest-K caps compose exactly to the
   global smallest-K.
3. merge — sums the per-salt sums, flattens/dedups/re-caps the
   per-salt lists; ~n_salts rows per concept.
Every buffer is bounded by its partition's input size — the normal
Spark memory contract — instead of by per-key mention multiplicity,
which is what OOMs (hash path) or spill-storms (sort fallback) a
fixed-memory executor at the 100 TB end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pdf_knowledge_extractor_spark.operators.ann import _finalize

DEFAULT_SALTS = 16
MAX_DOC_IDS_PER_CONCEPT = 10_000  # bound list size; counts stay exact

# alias-normalization char set: the canonical form strips [-_.\s]
# (Java \s = space \t \n \x0b \f \r). translate() deletes the same
# chars the old regexp_replace(r"[-_.\s]+", "") run-replace did —
# value-identical, but a char map instead of a regex replace (the
# same 27x regexp_replace pathology measured on the enrich alnum
# projection; this expression keys the canonical window over every
# distinct mention variant)
_CANON_STRIP = "-_. \t\n\x0b\f\r"


def _canon_norm(col) -> F.Column:
    return F.translate(F.lower(col), _CANON_STRIP, "")


def aggregate_concepts(
    mentions: DataFrame,
    min_frequency: int = 2,
    max_concepts: int | None = 100,
    n_salts: int = DEFAULT_SALTS,
    doc_id_cap: int = MAX_DOC_IDS_PER_CONCEPT,
) -> DataFrame:
    """mentions(doc_id, text, concept_type, importance) ->
    concepts(text, concept_type, frequency, importance, document_ids,
    n_documents).
    """
    base = mentions.select(
        F.lower(F.col("text")).alias("text"),
        "concept_type",
        "importance",
        "doc_id",
    )
    # Stage 1 — per-(concept, doc) reduction. This is the ONLY
    # operator that consumes the full mention stream, and it is a
    # codegen HashAggregate with fixed-width buffers (count/sum):
    # spillable under memory pressure, unlike an object-hash collect
    # whose per-key list buffers grow with input multiplicity and whose
    # sort-based fallback re-spills the full payload (the OOM /
    # shared-disk-spill mode the 1.2M octave hit).
    per_doc = base.groupBy("text", "concept_type", "doc_id").agg(
        F.count("*").alias("_cnt"),
        F.sum("importance").alias("_imp_sum"),
    )
    # Stage 2 — salted partial: per-salt sums AND capped distinct
    # lists in one object agg over the deduped table. The sums are
    # duplicate-SENSITIVE consumers of the per-doc aggregate's output,
    # which keeps Catalyst's RemoveRedundantAggregates from eliding
    # stage 1 under the collects (collect_set alone is duplicate-
    # agnostic, and a collects-only branch would re-read the raw
    # mention stream) — one mention pass, no second branch. Object-agg
    # buffers are bounded by the reduce partition's input (salting
    # splits hot concepts across n_salts reducers) and the per-salt
    # slice caps what crosses the merge shuffle. A per-salt smallest-K
    # cap composes exactly: any globally-K-smallest element is among
    # the K smallest of its own salt bucket, so the merged slice equals
    # the unsalted global slice.
    salted = per_doc.withColumn(
        "_salt", F.pmod(F.hash("doc_id"), F.lit(n_salts))
    )
    # Pre-position the salted agg's exchange BELOW its object-hash
    # partial. Without this, Catalyst plans the partial map-side — in
    # the SAME stage as the per-doc codegen final (whose hash map holds
    # that partition's full (concept, doc) key space), and the partial
    # map's key space is the GLOBAL n_concepts x n_salts (every
    # pre-shuffle partition sees every concept): at 2.4M rows with a
    # live Heaps vocabulary that is ~744k object-agg keys per task next
    # to a multi-million-key codegen map, which OOMs a 1 GB executor
    # (the r6 ladder's stage-13 failure; the raised objectHashAggregate
    # fallbackThreshold deliberately disables the sort valve because
    # sort fallback re-spills the whole payload — see session.py).
    # Repartitioning on the exact grouping keys makes EnsureRequirements
    # skip the agg's own exchange, so the object agg runs in its own
    # reduce stage where each task holds only total_keys / n_partitions
    # keys and only its partition's share of doc-id buffers — per-task
    # memory is then set by partition sizing (rows/partition), the
    # normal Spark contract, independent of vocabulary size.
    salted = salted.repartition(
        F.col("text"), F.col("concept_type"), F.col("_salt")
    )
    partial = salted.groupBy("text", "concept_type", "_salt").agg(
        F.sum("_cnt").alias("_cnt"),
        F.sum("_imp_sum").alias("_imp_sum"),
        # distinct docs per (concept, salt): the stage-1 input is
        # deduped per (concept, doc), so count(*) IS the per-salt
        # distinct-doc count; summing it across salts gives the global
        # distinct count exactly (each doc lives in exactly one salt)
        F.count("*").alias("_docs_n"),
        F.slice(
            F.array_sort(F.collect_set("doc_id")), 1, doc_id_cap
        ).alias("_docs"),
    )
    merged = partial.groupBy("text", "concept_type").agg(
        F.sum("_cnt").alias("frequency"),
        (F.sum("_imp_sum") / F.sum("_cnt")).alias("importance"),
        F.sum("_docs_n").alias("_n_docs_total"),
        F.slice(
            F.array_sort(F.array_distinct(F.flatten(F.collect_list("_docs")))),
            1,
            doc_id_cap,
        ).alias("document_ids"),
    )
    # n_documents from the count aggregates, NOT size(document_ids):
    # equal by the smallest-K composition (the merged capped list has
    # min(total_distinct, cap) elements), and — the point — it frees
    # Catalyst's column pruning to DROP the collect_set machinery
    # entirely for consumers that never read document_ids (the
    # concepts_agg driver query selects text/frequency/n_documents
    # only; with n_documents tied to size(document_ids) the object
    # aggs always ran)
    merged = merged.withColumn(
        "n_documents",
        F.least(F.col("_n_docs_total"), F.lit(doc_id_cap)).cast("int"),
    ).drop("_n_docs_total")
    if min_frequency and min_frequency > 1:
        merged = merged.filter(F.col("frequency") >= min_frequency)
    if max_concepts:
        # global top-k: rank then limit (tiny after the HAVING filter).
        # importance is rounded in the sort key only: averaged doubles
        # differ in the last ulp between summation trees, which must not
        # flip the cut.
        merged = (
            merged.orderBy(
                F.desc(F.round("importance", 9)),
                F.desc("frequency"),
                F.asc("text"),
            ).limit(max_concepts)
        )
    return merged


def aggregate_concepts_canonical(
    mentions: DataFrame,
    min_frequency: int = 2,
    max_concepts: int | None = 100,
    n_salts: int = DEFAULT_SALTS,
    doc_id_cap: int = MAX_DOC_IDS_PER_CONCEPT,
    materialize: bool = False,
) -> DataFrame:
    """Fused, two-phase form of
    ``canonical_merge(aggregate_concepts(mentions, 1, None), ...)`` —
    byte-identical output, a fraction of the cost (round-7 headline:
    the composition was 40% of kg_pipeline wall at 500k rows).

    Why the composition is slow: aggregate_concepts(min_frequency=1,
    max_concepts=None) materializes the capped ``document_ids`` list
    for EVERY distinct mention text — tens of millions of phrase
    variants at 500k docs — through a per-(concept, doc) dedup
    exchange plus a salted object-agg exchange, both carrying long
    doc-id strings, only for canonical_merge to keep the top
    ``max_concepts`` canonicals. The lists of the losers are pure
    waste.

    Two phases instead:

    1. STATS pass — frequency (count) and importance-sum per variant:
       a fixed-width codegen hash aggregate with map-side partial
       combine (no salting needed — hot keys partial-reduce before the
       exchange), then the alias-canonical window and the merged
       (frequency, importance) ranking that picks the winners. The
       heavy mention stream crosses ONE exchange carrying
       (text, type, count, sum) — no doc ids, no object aggs. With
       ``materialize`` and a cap, the winners are checkpointed once
       for pass 2's three readers (``ann._finalize``, like the
       result: ``release_checkpointed_results`` frees both).
    2. LIST pass — ``document_ids`` are collected ONLY for the
       winners' alias variants: a broadcast semi-join filters the
       mention stream to those (~max_concepts · alias-fanout) texts,
       and the exact salted slice/merge machinery of
       :func:`aggregate_concepts` runs on that sliver, reproducing the
       capped lists byte-for-byte (the per-salt smallest-K caps
       compose to the global smallest-K, as before)
       (``test_canonical_aggregate_equals_composition``).

    Value notes: frequency merges are integer-exact. importance is
    Σimportance/Σcount per canonical — the same value the composition
    computes up to float summation order (each mention stream carries
    a constant importance per concept_type, and every consumer guards
    the last ulp: ranking rounds to 9 dp, the relationship threshold
    compares means of cross-type constants far from the cut, and the
    parity suite rounds to 6 dp)."""
    base = mentions.select(
        F.lower(F.col("text")).alias("text"),
        "concept_type",
        "importance",
        "doc_id",
    )
    # ---- pass 1: stats, canonical, winners --------------------------
    stats = base.groupBy("text", "concept_type").agg(
        F.count("*").alias("frequency"),
        F.sum("importance").alias("_imp_sum"),
    )
    w = Window.partitionBy(_canon_norm(F.col("text")), "concept_type")
    with_canon = stats.withColumn("canonical", F.min("text").over(w))
    # persisted: pass 2 re-reads the variant->canonical mapping for
    # the winners; recomputing it would re-run the stats aggregation
    with_canon = with_canon.persist()
    merged = with_canon.groupBy(
        F.col("canonical").alias("text"), "concept_type"
    ).agg(
        F.sum("frequency").alias("frequency"),
        (F.sum("_imp_sum") / F.sum("frequency")).alias("importance"),
    )
    if min_frequency and min_frequency > 1:
        merged = merged.filter(F.col("frequency") >= min_frequency)
    if max_concepts:
        merged = merged.orderBy(
            F.desc(F.round("importance", 9)),
            F.desc("frequency"),
            F.asc("text"),
        ).limit(max_concepts)
    winners = merged
    # the winners and their variants are small only under a cap; an
    # unbounded relation is never broadcast
    small = F.broadcast if max_concepts else (lambda df: df)
    if materialize and max_concepts:
        # <= max_concepts rows. Not createDataFrame(collect()): a
        # local list re-enters through a Python RDD scan
        winners = _finalize(winners)

    # ---- pass 2: capped lists for the winners' variants only --------
    variants = with_canon.join(
        small(
            winners.select(F.col("text").alias("canonical"), "concept_type")
        ),
        ["canonical", "concept_type"],
        "left_semi",
    ).select("text", "concept_type", "canonical")
    doc_keys = ["text", "concept_type", "doc_id"]
    per_doc = (
        base.join(
            small(variants.select("text", "concept_type")),
            ["text", "concept_type"],
            "left_semi",
        )
        .select(*doc_keys)
        .dropDuplicates(doc_keys)
    )
    salted = per_doc.withColumn(
        "_salt", F.pmod(F.hash("doc_id"), F.lit(n_salts))
    )
    partial = salted.groupBy("text", "concept_type", "_salt").agg(
        F.slice(
            F.array_sort(F.collect_set("doc_id")), 1, doc_id_cap
        ).alias("_docs"),
    )
    variant_lists = partial.groupBy("text", "concept_type").agg(
        F.slice(
            F.array_sort(F.array_distinct(F.flatten(F.collect_list("_docs")))),
            1,
            doc_id_cap,
        ).alias("document_ids"),
    )
    lists = (
        variant_lists.join(
            small(variants), ["text", "concept_type"]
        )
        .groupBy(F.col("canonical").alias("text"), "concept_type")
        .agg(
            F.array_sort(
                F.array_distinct(F.flatten(F.collect_list("document_ids")))
            ).alias("document_ids"),
        )
    )
    out = (
        winners.join(lists, ["text", "concept_type"], "left")
        .select("text", "concept_type", "frequency", "importance",
                "document_ids")
        .withColumn("n_documents", F.size("document_ids"))
    )
    if materialize:
        # eager mode (the pipeline's): checkpoint the
        # (<= max_concepts)-row result and release the variant-stats
        # cache at once. with_canon (millions of rows at scale) then
        # stops pressuring executor storage (the shared-session sim
        # rows regressed ~20% before the release), and the truncated
        # lineage keeps every downstream consumer from re-analyzing
        # this plan, which holds the mention x corpus subtree twice
        # (~12 s of driver plan time per run before; guide §3.3).
        out = _finalize(out, with_canon)
    return out


def canonical_merge(
    concepts: DataFrame,
    min_frequency: int = 2,
    max_concepts: int | None = 100,
) -> DataFrame:
    """Alias canonicalization (north-rule stage): collapse concept
    texts whose normalized form (lowercase, [-_.\\s] stripped) matches
    — e.g. DataLoader / Data_Loader / data_loader — onto the
    lexicographically smallest variant, merging frequency (sum),
    importance (frequency-weighted mean) and document_ids (union).
    Every alias component is a star around its normalized form, so
    the collapse is one window over that key.

    Apply BEFORE the min-frequency / top-k cuts so alias variants pool
    their evidence.
    """
    w = Window.partitionBy(_canon_norm(F.col("text")), "concept_type")
    with_canon = concepts.withColumn("canonical", F.min("text").over(w))
    merged = (
        with_canon
        .groupBy(F.col("canonical").alias("text"), "concept_type")
        .agg(
            F.sum("frequency").alias("frequency"),
            (
                F.sum(F.col("importance") * F.col("frequency"))
                / F.sum("frequency")
            ).alias("importance"),
            F.array_sort(
                F.array_distinct(F.flatten(F.collect_list("document_ids")))
            ).alias("document_ids"),
        )
        .withColumn("n_documents", F.size("document_ids"))
    )
    if min_frequency and min_frequency > 1:
        merged = merged.filter(F.col("frequency") >= min_frequency)
    if max_concepts:
        merged = merged.orderBy(
            F.desc(F.round("importance", 9)),
            F.desc("frequency"),
            F.asc("text"),
        ).limit(max_concepts)
    return merged


def with_concept_contexts(
    concepts: DataFrame,
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_docs: int = 5,
    n_sentences: int = 5,
) -> DataFrame:
    """Attach ``context_sentences`` (<= n_sentences, reference cap at
    semantic_analyzer.py:442) to an aggregated concepts table — the
    one place a concept's context sentences are decided.

    Why post-aggregation: carrying a context string on every mention
    row multiplies the mention shuffle by the sentence length — and on
    punctuation-less content (source code) the \"first sentence\" IS
    the whole document, a ~tokens× text blowup through the salted agg
    (measured: the per-mention variant stalled the 300k-row bench).
    Instead, after the frequency/importance aggregation, each concept
    looks up its ``n_docs`` SMALLEST document ids (document_ids is
    kept sorted) and extracts the first containing sentence per doc —
    a broadcast join of <= max_concepts * n_docs rows against a
    two-column doc scan, the same deterministic min-doc pattern as
    triples.concept_definition_triples.

    Each context is the first sentence (split on ``[.!?]\\s+``: RE2-safe
    for the DuckDB oracle, so terminal punctuation is dropped) whose
    lowercase form contains the concept text; a concept with no such
    sentence in its first ``n_docs`` documents gets an empty list (the
    reference stores nothing then, semantic_analyzer.py:427-428). The
    list is the ``n_sentences`` smallest distinct sentences —
    deterministic under any partitioning, where the reference's
    "first 5 encountered" depends on scan order."""
    tgt = concepts.select(
        "text",
        "concept_type",
        F.explode(F.slice("document_ids", 1, n_docs)).alias("_mdoc"),
    )
    joined = F.broadcast(tgt).join(
        docs.select(
            F.col(id_col).alias("_mdoc"), F.col(text_col).alias("_doctext")
        ),
        "_mdoc",
    )
    sents = F.split(F.col("_doctext"), r"[.!?]\s+")
    ctx = F.try_element_at(
        F.filter(sents, lambda s: F.contains(F.lower(s), F.col("text"))),
        F.lit(1),
    )
    grouped = (
        joined.select("text", "concept_type", ctx.alias("_ctx"))
        .filter(F.col("_ctx").isNotNull())
        .groupBy("text", "concept_type")
        .agg(
            F.slice(
                F.array_distinct(F.array_sort(F.collect_list("_ctx"))),
                1,
                n_sentences,
            ).alias("context_sentences")
        )
    )
    return concepts.join(grouped, ["text", "concept_type"], "left").withColumn(
        "context_sentences",
        F.coalesce(
            "context_sentences", F.array().cast("array<string>")
        ),
    )


def concept_id(text_col, type_col=None) -> F.Column:
    """Stable concept node id: 'concept_<text with non-word -> _>'
    (semantic_analyzer.py:531-543 minting rule)."""
    base = F.regexp_replace(F.lower(text_col), r"[^\w]", "_")
    return F.concat(F.lit("concept_"), base)


def per_doc_top_keywords(
    mentions: DataFrame, k: int = 20
) -> DataFrame:
    """Per-doc keyword frequency top-k (claude_integration.py:1291-1326):
    count mentions per (doc, word); keep top-k by (count desc, word asc)."""
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("cnt"), F.asc("text")
    )
    return (
        mentions.filter(F.col("concept_type") == "keyword")
        .groupBy("doc_id", "text")
        .agg(F.count("*").alias("cnt"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )
