"""End-to-end KG construction pipeline (EP3 analog,
semantic_analyzer.analyze_document_collection at
semantic_analyzer.py:134-191, re-planned as one Spark lineage DAG):

docs -> enrich (stats/quality/sentiment/type)
     -> mentions (keywords + phrases [+ code entities])
     -> tfidf (long form)
     -> {concepts (salted agg), similarity pairs (exact, prefix or
        MinHash-blocked)}
     -> [clusters]
     -> nodes/edges -> triples

Shuffle budget (what actually moves at 100 TB): one shuffle into
groupBy(doc_id, term) for TF (map-side combined), one into
groupBy(term) for DF, one for the similarity join on hash(term) (or
the MinHash bucket aggregate), one for the salted concept agg, and
the final repartition for the triple write. Every doc-level
enrichment is a narrow map over the scan. Related documents
(operators.related.related_documents) feed no triple and are not
built here.

The DAG is walked as five stages in order (``STAGES``: documents,
concepts, similarities, edges, triples); each stage's Spark jobs carry
the label ``pke: <stage>``. ``sources.checkpoint`` stores every stage,
and a resume reads a stored stage back instead of building it.
"""

from __future__ import annotations

from contextlib import contextmanager
from dataclasses import dataclass, field
from functools import cached_property

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pdf_knowledge_extractor_spark.functions.text import (
    alnum_len,
    char_count,
    sha256,
)
from pdf_knowledge_extractor_spark.operators.ann import _finalize
from pdf_knowledge_extractor_spark.operators.concepts import (
    aggregate_concepts_canonical,
    with_concept_contexts,
)
from pdf_knowledge_extractor_spark.operators.graph import build_graph
from pdf_knowledge_extractor_spark.operators.mentions import all_mentions
from pdf_knowledge_extractor_spark.operators.related import (
    entity_relationships,
)
from pdf_knowledge_extractor_spark.operators.similarity import (
    exact_cosine_pairs,
    minhash_blocked_cosine_pairs,
    prefix_cosine_pairs,
    with_similarity_metadata,
)
from pdf_knowledge_extractor_spark.operators.tfidf import (
    tfidf_longform,
    to_ml_vectors,
)
from pdf_knowledge_extractor_spark.plans import triples as T3


@dataclass
class PipelineConfig:
    """Defaults mirror the reference's (semantic_analyzer.py:95-101,
    exporters/base.py:32-34)."""

    similarity_threshold: float = 0.7
    min_concept_frequency: int = 2
    max_concepts: int = 100
    # related_documents' parameters, for callers that build that
    # relation themselves (run_pipeline does not: no triple reads it)
    min_shared_keywords: int = 3
    related_top_k: int = 10
    related_max_df: int = 500       # posting-list hard cap (join is Σ df²)
    per_doc_keywords: int = 20
    # similarity-join physical strategy:
    #  "exact"   — full term self-join (small corpora / oracle parity)
    #  "prefix"  — prefix-filtered exact join (Bayardo WWW'07: exact
    #              results, Σ prefix_df² cost — quadratic on
    #              flat-weight content)
    #  "minhash" — MinHash-Jaccard banding blocker + exact cosine
    #              rescore (default scale path: near-linear candidates,
    #              recall approximate but >= 0.95 on near-dup corpora)
    similarity_strategy: str = "minhash"
    # degenerate-bucket cap for the minhash blocker: a (band, band_hash)
    # bucket larger than this holds |bucket|² candidate pairs — the
    # measured superlinear blowup at 600k rows. None disables (full
    # banding recall, oracle setting).
    similarity_max_bucket: int | None = 400
    # what to do with a bucket over the cap (see
    # similarity.minhash_blocked_cosine_pairs): "verify" density-probes
    # each hot bucket and keeps the ones whose sampled pairs really are
    # similar (true mutated-boilerplate families — their pairs are
    # output, not waste), dropping only false-positive pile-ups;
    # "drop" drops all hot buckets (round-3 behavior — faster, but
    # silently loses true pairs on boilerplate-heavy corpora; recall
    # cost quantified in BENCH/BASELINE.md). Either way the bucket
    # census lands in result["similarity_stats"] and the log.
    similarity_hot_mode: str = "verify"
    # banding-signature head-term treatment: "auto" (default, round 6)
    # probe-verifies each head term's posting list and stop-lists only
    # verified Zipf-head NOISE — boilerplate-family base words keep
    # their signal (recall-safe; the probe is the same machinery as
    # the hot-bucket density verify). None disables (full-signature
    # banding — the measurement baseline). See
    # minhash_blocked_cosine_pairs.
    similarity_signature_max_df: str | None = "auto"
    # probe ENGAGEMENT gate for the "auto" stop-list: skip the probe
    # entirely when sampling the head terms would touch more than
    # this fraction of the corpus (small-N regime — there the probe
    # costs more than the collisions it could prevent, measured
    # +11.5s at 50k docs for a byte-identical result; at 1.2M the
    # footprint is ~1% and the stop-list engages). Skipping keeps
    # ALL terms in signatures, so output is unchanged by
    # construction. 1.0 forces the probe at any size.
    similarity_signature_probe_max_frac: float = 0.05
    # banding shape for the minhash blocker: candidate recall for a
    # pair with term-set Jaccard j is 1-(1-j^r)^b with r =
    # num_hashes/bands. The default (60/12 -> r=5) holds recall
    # >= 0.95 down to j ≈ 0.7; corpora whose true near-dups live at
    # lower Jaccard (heavily-mutated boilerplate — see the
    # recall-boundary sweep in BENCH/BASELINE.md) should raise bands
    # (e.g. 64/16 -> r=4) at the cost of more candidate collisions
    similarity_num_hashes: int = 60
    similarity_bands: int = 12
    with_clusters: bool = False     # KMeans adds driver-side loop; opt-in
    # pin k to skip the silhouette search loop (one distributed fit
    # instead of up to 9 — what a production run at known k does);
    # None searches k in 2..10 by silhouette like the reference
    cluster_k: int | None = None
    # test/oracle hook: inject deterministic (doc_id, cluster_id)
    # assignments instead of running KMeans, so the ENTIRE clustered
    # composition (summaries + coherence join + in_cluster triples) is
    # SQL-derivable and oracle-gated (entry_queries kg_pipeline_clustered
    # / cluster_relation_fixed). None (default) clusters for real.
    fixed_cluster_assignments: DataFrame | None = None
    # how to compute cluster coherence (reference semantics: mean of
    # ALL positive intra-cluster pairwise cosines, singletons 1.0 —
    # semantic_analyzer.py:755-771):
    #  "exact"    — within-cluster term join; bit-exact reference
    #               semantics, cost Σ_c Σ_t df² (small/medium corpora,
    #               the oracle setting)
    #  "centroid" — O(nnz) centroid identity; equals "exact" whenever
    #               every vectorized pair shares a term, lower bound
    #               otherwise (the 100-TB setting)
    coherence_mode: str = "exact"
    n_salts: int = 16
    # populate concept.context_sentences (<=5 per concept, reference
    # semantic_analyzer.py:442) via the post-aggregation min-doc
    # lookup (concepts.with_concept_contexts) — a broadcast join of
    # <= max_concepts*5 rows. Feeds the concepts relation + the
    # JSON-LD description field.
    with_context: bool = True
    # dct:created timestamp. None (default) = a deterministic sentinel
    # derived from the input snapshot (triples.snapshot_created_at), so
    # two builds of the same input are byte-identical without opting
    # in; pass an explicit ISO string for wall-clock export provenance
    # (the reference stamps now() at export time,
    # data_analysis.py:1135-1137 — that behavior is opt-in here)
    created_at: str | None = None
    # round similarity scores to this many dp before thresholding
    # (None = raw compare); the driver contract pins 6 so borderline
    # float noise cannot flip pairs vs the SQL oracle
    similarity_round_dp: int | None = None
    extra: dict = field(default_factory=dict)


def enrich_documents(docs: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text",
                     page_count_col: str | None = None) -> DataFrame:
    """Narrow per-doc projections: counts, quality, sentiment, type,
    sha256 invariant.

    Performance note: the metric expressions share costly subtrees
    (word arrays, lexicon scans) that use higher-order functions —
    which whole-stage codegen cannot compile, so Spark evaluates the
    projection interpreted and WITHOUT common-subexpression
    elimination. A single collapsed projection re-evaluates the shared
    subtrees dozens of times (measured 101s vs 12s for 100k rows). We
    therefore materialize the shared intermediates once behind a
    single-element explode (a Generate node, which CollapseProject
    cannot merge across) and compute the metrics from the generated
    columns.
    """
    from pdf_knowledge_extractor_spark.functions.doctype import _category_hits
    from pdf_knowledge_extractor_spark.functions.quality import (
        QUALITY_WEIGHTS,
        band_content_density,
        band_extraction_ratio,
        band_language_quality,
        band_text_quality,
        split_words,
        structure_quality_metric,
    )
    from pdf_knowledge_extractor_spark.functions.sentiment import (
        hit_count_words,
    )
    from pdf_knowledge_extractor_spark.lexicons import (
        DOC_TYPE_LEXICONS,
        DOC_TYPE_ORDER,
        NEGATIVE_WORDS,
        POSITIVE_WORDS,
    )

    text = F.col(text_col)
    pages = (
        F.col(page_count_col)
        if page_count_col
        else F.greatest(
            (F.length(text) / 2500.0).cast("int") + 1, F.lit(1)
        )
    )
    # barrier 1: shared string intermediates, each computed once per
    # row (interpreted eval has no common-subexpression elimination,
    # and HOF lambdas would otherwise recompute lower()/split() per
    # array element)
    pre = docs.select(
        "*",
        F.explode(
            F.array(
                F.struct(
                    F.lower(text).alias("tl"),
                    split_words(F.lower(text)).alias("words"),
                    # translate-based count: value-identical to the
                    # regexp_replace form, 27x faster (functions.text
                    # .alnum_len — this projection alone was 35s of
                    # the 40s enrich phase at 500k rows)
                    alnum_len(text).alias("alnum"),
                )
            )
        ).alias("_pre"),
    )
    tl = F.col("_pre.tl")
    words = F.col("_pre.words")
    n = F.length(text)
    blank = F.length(F.trim(text)) == 0
    ar = F.when(n > 0, F.col("_pre.alnum") / n).otherwise(F.lit(0.0))
    # barrier 2: banded metrics + lexicon counts over the cheap
    # intermediates
    raw = F.struct(
        F.when(blank, 0.0).otherwise(band_text_quality(ar)).alias("tq"),
        F.when(blank, 0.0)
        .otherwise(band_extraction_ratio(n, pages))
        .alias("er"),
        F.when(blank, 0.0).otherwise(band_content_density(words)).alias("cd"),
        F.when(blank, 0.0)
        .otherwise(band_language_quality(words))
        .alias("lq"),
        F.when(blank, 0.0)
        .otherwise(structure_quality_metric(text))
        .alias("sq"),
        hit_count_words(words, POSITIVE_WORDS).alias("pos"),
        hit_count_words(words, NEGATIVE_WORDS).alias("neg"),
        *[
            _category_hits(tl, DOC_TYPE_LEXICONS[cat]).alias(f"tc_{cat}")
            for cat in DOC_TYPE_ORDER
        ],
    )
    base = pre.select(
        *[c for c in docs.columns],
        sha256(text).alias("content_sha256"),
        F.size(words).cast("int").alias("word_count"),
        char_count(text).alias("char_count"),
        F.explode(F.array(raw)).alias("_m"),
    )
    m = F.col("_m")
    overall = (
        m["tq"] * QUALITY_WEIGHTS["text_quality"]
        + m["er"] * QUALITY_WEIGHTS["extraction_ratio"]
        + m["cd"] * QUALITY_WEIGHTS["content_density"]
        + m["lq"] * QUALITY_WEIGHTS["language_quality"]
        + m["sq"] * QUALITY_WEIGHTS["structure_quality"]
    )
    pos, neg = m["pos"], m["neg"]
    total = pos + neg
    sentiment = F.struct(
        F.when(total == 0, "neutral")
        .when(pos > neg, "positive")
        .when(neg > pos, "negative")
        .otherwise("neutral")
        .alias("sentiment"),
        F.when(total == 0, F.lit(0.0))
        .when(pos > neg, pos / total)
        .when(neg > pos, neg / total)
        .otherwise(F.lit(0.0))
        .cast("double")
        .alias("score"),
        pos.alias("positive_indicators"),
        neg.alias("negative_indicators"),
    )
    counts = {cat: m[f"tc_{cat}"] for cat in DOC_TYPE_ORDER}
    best = F.greatest(*counts.values())
    pick = None
    for cat in reversed(DOC_TYPE_ORDER):
        cond = F.when(counts[cat] == best, F.lit(cat))
        pick = cond.otherwise(pick) if pick is not None else cond
    document_type = (
        F.when(F.length(F.coalesce(text, F.lit(""))) == 0, "unknown")
        .when(best == 0, "general")
        .otherwise(pick)
    )
    return base.select(
        *[c for c in docs.columns],
        "content_sha256",
        "word_count",
        "char_count",
        F.struct(
            m["tq"].alias("text_quality"),
            m["er"].alias("extraction_ratio"),
            m["cd"].alias("content_density"),
            m["lq"].alias("language_quality"),
            m["sq"].alias("structure_quality"),
            overall.alias("overall_score"),
        ).alias("quality"),
        sentiment.alias("sentiment"),
        document_type.alias("document_type"),
    )


# feature-hash dims for the clustering vectors (KMeans centroids are
# dense: the broadcast model is k * dims * 8 bytes, and every distance
# eval scans dims — 2^14 keeps the model ~1 MB at k=8 with negligible
# collisions for vocabularies << 16k terms)
_CLUSTER_DIMS = 1 << 14

# the stored stages, in build order (sources.checkpoint stores each)
STAGES = ("documents", "concepts", "similarities", "edges", "triples")


@contextmanager
def label_jobs(spark: SparkSession, name: str):
    """Label the Spark jobs run inside the block ``pke: <name>``."""
    sc = spark.sparkContext
    sc.setJobDescription(f"pke: {name}")
    try:
        yield
    finally:
        sc.setJobDescription(None)


def run_pipeline(
    spark: SparkSession,
    docs: DataFrame,
    cfg: PipelineConfig | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    lang_col: str | None = None,
) -> dict[str, DataFrame]:
    """Run the full KG-construction DAG; returns every relation."""
    walk = _StageWalk(spark, docs, cfg, id_col, text_col, lang_col)
    result: dict[str, DataFrame] = {  # type: ignore[assignment]
        "documents": walk.documents,
        "mentions": walk.mentions,
        "tfidf": walk.tfidf,
        "concepts": walk.concepts,
        "similarities": walk.similarities,
        "nodes": walk.nodes,
        "edges": walk.edges,
        "triples": walk.triples,
    }
    if walk.sim_stats is not None:
        # plain dict, not a DataFrame: the banding-cap census (no
        # silent caps — empty when the cap never engaged)
        result["similarity_stats"] = walk.sim_stats
    if walk.cfg.with_clusters:
        result["clusters"] = walk.clusters()
        result["cluster_assignments"] = walk.cluster_assignments
    return result


class _StageWalk:
    """``run_pipeline``'s DAG as its ``STAGES``, built in order.

    Every stage goes through one step, ``_stage(name, build, write)``:
    it labels the stage's Spark jobs ``pke: <name>`` and returns
    ``build()``, or, when ``store`` is given, ``store(name, thunk,
    write)`` — ``CheckpointManager.stage``, which reads a stored stage
    back instead of calling the thunk. The thunk returns the build and
    the stage's counters (``_metrics``); ``write`` is the stage's file
    layout (``triples.write_triples`` for the triples, plain parquet
    for the rest). Every later stage consumes what the step returned.
    The intermediates that only builds read (mentions, tf-idf with the
    signature head census, the corpus scalars, the cluster assignments)
    are cached properties: computed once, and only when a stage that is
    built needs them.

    In memory (no ``store``) the documents are cached, and the job that
    fills the cache aggregates the corpus scalars (tf-idf's N and the
    unpinned ``dct:created`` stamp), so the triples run no job. The
    built-in mention stream is cached for its three readers (the
    concepts' two passes and tf-idf), tf-idf is cached and materialized
    in the job that folds the head census, the concepts are
    materialized, and the similarities are cached lazily. A stored
    stage is materialized by its write instead."""

    def __init__(self, spark, docs, cfg, id_col, text_col, lang_col,
                 store=None):
        self.cfg = cfg = cfg or PipelineConfig()
        if cfg.similarity_strategy not in ("exact", "prefix", "minhash"):
            raise ValueError(
                f"unknown similarity_strategy: {cfg.similarity_strategy!r}"
            )
        self.spark, self.docs, self.store = spark, docs, store
        self.id_col, self.text_col, self.lang_col = id_col, text_col, lang_col
        self.sim_stats: dict | None = None
        self.nodes: DataFrame | None = None
        self.documents = self._stage("documents", self._documents)
        self.concepts = self._stage("concepts", self._concepts)
        self.similarities = self._stage("similarities", self._similarities)
        self.edges = self._stage("edges", self._edges)
        self.triples = self._stage("triples", self._triples,
                                   T3.write_triples)

    def _stage(self, name: str, build, write=None) -> DataFrame:
        with label_jobs(self.spark, name):
            if self.store is None:
                return build()
            return self.store(name, lambda: (build(), self._metrics(name)),
                              write)

    def _metrics(self, name: str) -> dict:
        """A built stage's counters, for its checkpoint record: the
        similarities stage's numeric banding census, so a capped run is
        told from a full-recall run in the durable record."""
        stats = self.sim_stats if name == "similarities" else None
        return {f"banding_{k}": v for k, v in (stats or {}).items()
                if isinstance(v, (int, float))}

    # -- builds, one per stage ----------------------------------------
    def _documents(self) -> DataFrame:
        docs = self.docs
        # §2.9 custom hooks (config.yaml.example:176-181 analog): named
        # preprocessors rewrite the text column before enrichment
        pre_hooks = self.cfg.extra.get("preprocessing_pipeline") or []
        if pre_hooks:
            from pdf_knowledge_extractor_spark.hooks import (
                apply_preprocessors,
            )

            docs = docs.withColumn(
                self.text_col,
                apply_preprocessors(F.col(self.text_col), pre_hooks),
            )
        # under-split sources (one small parquet file = one input
        # split) would run the whole enrich projection on one core
        from pdf_knowledge_extractor_spark.sources.readers import (
            spread_input,
        )

        enriched = enrich_documents(spread_input(docs), self.id_col,
                                    self.text_col)
        if self.store is None:
            # the corpus scalars, aggregated over ENRICHED so this one
            # job also fills the enrich cache. Counting raw `docs`
            # re-ran the full source expression tree a second time
            # (29 s of a 179 s 300k run). N spares tf-idf a broadcast
            # subquery that would recompute tokenize+tf.
            enriched = enriched.persist()
            self.corpus = enriched.agg(*T3.snapshot_aggregates()).first()
        return enriched

    def _concepts(self) -> DataFrame:
        cfg = self.cfg
        # alias canonicalization before the cuts, the fused form of
        # canonical_merge(aggregate_concepts(mentions, 1, None));
        # materialize=True checkpoints and releases as it goes
        concepts = aggregate_concepts_canonical(
            self.mentions,
            min_frequency=cfg.min_concept_frequency,
            max_concepts=cfg.max_concepts,
            n_salts=cfg.n_salts,
            materialize=True,
        )
        if cfg.with_context:
            # eager checkpoint: tiny (<= max_concepts rows), and the
            # truncated lineage keeps every later consumer from
            # re-analyzing the context join's plan on the driver
            concepts = _finalize(with_concept_contexts(
                concepts, self.documents, id_col=self.id_col,
                text_col=self.text_col,
            ))
        return concepts

    def _similarities(self) -> DataFrame:
        cfg = self.cfg
        tfidf = self.tfidf
        if cfg.similarity_strategy == "prefix":
            pairs = prefix_cosine_pairs(tfidf,
                                        threshold=cfg.similarity_threshold)
        elif cfg.similarity_strategy == "minhash":
            self.sim_stats = {}
            pairs = minhash_blocked_cosine_pairs(
                tfidf,
                threshold=cfg.similarity_threshold,
                num_hashes=cfg.similarity_num_hashes,
                bands=cfg.similarity_bands,
                max_bucket_size=cfg.similarity_max_bucket,
                hot_bucket_mode=cfg.similarity_hot_mode,
                stats=self.sim_stats,
                signature_max_df=cfg.similarity_signature_max_df,
                signature_probe_max_frac=(
                    cfg.similarity_signature_probe_max_frac
                ),
                n_docs=self.corpus["n"],  # skips the stop-list's own count
                signature_heads=self.signature_heads,
            )
        else:
            pairs = exact_cosine_pairs(
                tfidf,
                threshold=cfg.similarity_threshold,
                round_dp=cfg.similarity_round_dp,
            )
        similarities = with_similarity_metadata(pairs)
        return similarities if self.store else similarities.persist()

    def _edges(self) -> DataFrame:
        self.nodes, edges = build_graph(
            self.documents, self.concepts, self.similarities,
            id_col=self.id_col,
        )
        rel = entity_relationships(self.concepts)
        return edges.unionByName(rel.select(
            F.col("entity1").alias("src"),
            F.col("pred").alias("edge_type"),
            F.col("entity2").alias("dst"),
            F.col("strength").alias("weight"),
        ))

    def _triples(self) -> DataFrame:
        parts = [
            T3.edge_triples(self.edges),
            T3.document_property_triples(
                self.documents, id_col=self.id_col,
                created_at=(T3.snapshot_stamp(self.corpus)
                            if self.cfg.created_at is None
                            else self.cfg.created_at),
            ),
            T3.concept_property_triples(self.concepts),
            T3.concept_definition_triples(
                self.concepts, self.documents, id_col=self.id_col,
                text_col=self.text_col,
            ),
        ]
        if self.cfg.with_clusters:
            parts.append(T3.cluster_triples(self.cluster_assignments))
        triples = parts[0]
        for p in parts[1:]:
            triples = triples.unionByName(p)
        return triples

    # -- intermediates, computed on first use --------------------------
    @cached_property
    def corpus(self):
        """One row: N (``n``) and the ``dct:created`` fingerprint."""
        return self.documents.agg(*T3.snapshot_aggregates()).first()

    @cached_property
    def builtin_mentions(self) -> DataFrame:
        """``all_mentions``, persisted: both concept passes and tf-idf
        (its keyword rows) read it, so each document is tokenized once."""
        return all_mentions(
            self.documents, id_col=self.id_col, text_col=self.text_col,
            lang_col=self.lang_col,
        ).persist()

    @cached_property
    def mentions(self) -> DataFrame:
        mentions = self.builtin_mentions
        # named feature extractors (§2.9 hooks) add concept-only streams
        extractor_hooks = self.cfg.extra.get("feature_extractors") or []
        if extractor_hooks:
            from pdf_knowledge_extractor_spark.hooks import detector_mentions

            for extra_stream in detector_mentions(
                self.documents, extractor_hooks, id_col=self.id_col,
                text_col=self.text_col,
            ):
                mentions = mentions.unionByName(extra_stream)
        return mentions

    @cached_property
    def tfidf(self) -> DataFrame:
        keywords = self.builtin_mentions.filter(
            F.col("concept_type") == "keyword")
        tfidf = tfidf_longform(
            keywords.select("doc_id", "text"),
            n_docs=self.corpus["n"],
            normalize=True,
        ).persist()
        # materialize the cache (downstream broadcasts must hit it)
        # and, when the minhash blocker's AUTO stop-list will need a
        # head-term census, fold that census into this SAME job
        # (VERDICT r6 item 1: zero extra jobs)
        self.signature_heads = None
        if (self.cfg.similarity_strategy == "minhash"
                and self.cfg.similarity_signature_max_df == "auto"):
            from pdf_knowledge_extractor_spark.operators.similarity import (
                collect_signature_head_census,
            )

            self.signature_heads = collect_signature_head_census(tfidf)
        else:
            tfidf.count()
        return tfidf

    @cached_property
    def cluster_assignments(self) -> DataFrame:
        if self.cfg.fixed_cluster_assignments is not None:
            return self.cfg.fixed_cluster_assignments
        from pdf_knowledge_extractor_spark.operators.clustering import (
            cluster_documents,
        )

        vectors = to_ml_vectors(self.tfidf, vocab_size=_CLUSTER_DIMS)
        assignments, _k, _sil = cluster_documents(
            vectors, k=self.cfg.cluster_k,
            unpersist_input=False,
            # the pipeline discards the silhouette; at pinned k the
            # evaluation is a pure extra corpus sweep (the k-search
            # always scores: the score picks k)
            evaluate=False,
        )
        # materialize ONCE (VERDICT r6 item 3): the summaries, the
        # coherence aggregate and the in_cluster triples each consume
        # assignments, and the lazy KMeans transform re-ran
        # to_ml_vectors + the model scan per consumer
        assignments = assignments.persist()
        assignments.count()
        # cluster_documents kept the kmeans input cache alive for the
        # count above; assignments are materialized now, so release it
        vectors.unpersist()
        return assignments

    def clusters(self) -> DataFrame:
        """Cluster summaries with coherence = mean of all positive
        intra-cluster pairwise cosines, singletons 1.0 (reference
        :755-771); see PipelineConfig.coherence_mode."""
        from pdf_knowledge_extractor_spark.operators.clustering import (
            cluster_coherence,
            cluster_coherence_centroid,
            cluster_summaries,
        )

        assignments, tfidf = self.cluster_assignments, self.tfidf
        if self.cfg.coherence_mode == "centroid":
            coherence = cluster_coherence_centroid(assignments, tfidf)
        else:
            coherence = cluster_coherence(
                assignments, tfidf, round_dp=self.cfg.similarity_round_dp
            )
        return (
            cluster_summaries(assignments, tfidf)
            .join(coherence, "cluster_id", "left")
            .withColumn(
                "coherence_score",
                F.coalesce("coherence_score", F.lit(0.0)),
            )
        )
