"""Document clustering (C1/C2): KMeans + silhouette-chosen k.

Semantics reproduced from _perform_clustering / _find_optimal_clusters
(semantic_analyzer.py:450-509, 726-747): k searched over
2..min(10, n/2) by silhouette (seed 42), clusters labeled by top-3
centroid terms joined with " & " and title-cased
(semantic_analyzer.py:749-753); coherence = mean pairwise intra-cluster
cosine (:755-771); main_topics = top-5 centroid terms.

Spark-first: pyspark.ml KMeans over the hashed TF-IDF vectors;
the k-search loop is a driver-side loop of distributed fits (the model
state per k is tiny; the data never leaves executors).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def cluster_documents(
    vectors: DataFrame,
    k: int | None = None,
    k_min: int = 2,
    k_max: int = 10,
    seed: int = 42,
    unpersist_input: bool = True,
    evaluate: bool = True,
) -> tuple[DataFrame, int, float]:
    """vectors(doc_id, features) -> (assignments(doc_id, cluster_id),
    chosen_k, silhouette). ``k=None`` runs the silhouette search.

    ``unpersist_input=False`` keeps the internal vectors cache alive,
    on every path, for the RETURNED (lazy) assignments' first action —
    the returned transform re-reads vectors, and releasing the cache
    before the caller materializes assignments forces one more full
    to_ml_vectors recompute (the caller then owns the release via
    ``vectors.unpersist()``)."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.evaluation import ClusteringEvaluator

    # persist BEFORE the size count so the count job also materializes
    # the kmeans input cache (the r6 order counted first and persisted
    # after — one full wasted to_ml_vectors pass)
    vectors = vectors.persist()
    n = vectors.count()
    if n < 4:
        if unpersist_input:
            vectors.unpersist()
        return (
            vectors.select("doc_id", F.lit(0).alias("cluster_id")),
            1,
            0.0,
        )
    evaluator = ClusteringEvaluator(
        predictionCol="cluster_id", featuresCol="features", metricName="silhouette"
    )

    def fit(kk: int, score_it: bool = True):
        km = KMeans(
            k=kk, seed=seed, featuresCol="features", predictionCol="cluster_id"
        )
        model = km.fit(vectors)
        preds = model.transform(vectors)
        score = evaluator.evaluate(preds) if score_it else float("nan")
        return preds, score

    if k is not None:
        # ``evaluate=False`` skips the silhouette pass entirely — a
        # production run at pinned k discards the score, and the
        # evaluation is a full O(n·k·nnz) distance sweep over the
        # corpus (guide §1.2: don't compute what you throw away). The
        # k-search path below always evaluates (the score IS the
        # selection criterion).
        preds, score = fit(k, score_it=evaluate)
        if unpersist_input:
            vectors.unpersist()
        return preds.select("doc_id", "cluster_id"), k, score

    best = None
    upper = min(k_max, max(k_min, n // 2))
    for kk in range(k_min, upper + 1):
        try:
            preds, score = fit(kk)
        except Exception:  # noqa: BLE001 — k > distinct points etc.
            continue
        if best is None or score > best[2]:
            best = (preds, kk, score)
    if unpersist_input:
        vectors.unpersist()
    if best is None:
        return (
            vectors.select("doc_id", F.lit(0).alias("cluster_id")), 1, 0.0
        )
    preds, kk, score = best
    return preds.select("doc_id", "cluster_id"), kk, score


def cluster_summaries(
    assignments: DataFrame,
    tfidf: DataFrame,
    top_terms: int = 10,
) -> DataFrame:
    """Per-cluster: centroid top terms (mean tfidf weight), label from
    top-3 (' & '-joined, initcap), main_topics = top-5, document_ids."""
    from pyspark.sql import Window

    joined = assignments.join(tfidf, "doc_id")
    term_means = joined.groupBy("cluster_id", "term").agg(
        F.avg("weight").alias("mean_w")
    )
    # rank on round(mean_w, 9): averaged doubles differ in the last ulp
    # between summation trees/engines, which must not reorder the top-k
    # (the concepts-agg convention; makes the derivation oracle-checkable)
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc(F.round("mean_w", 9)), F.asc("term")
    )
    top = (
        term_means.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_terms)
        .groupBy("cluster_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("rank", "term", "mean_w"))
            ).alias("_top")
        )
    )
    members = assignments.groupBy("cluster_id").agg(
        F.array_sort(F.collect_set(F.col("doc_id").cast("string"))).alias(
            "document_ids"
        ),
        F.count("*").alias("n_documents"),
    )
    return (
        members.join(top, "cluster_id", "left")
        .select(
            "cluster_id",
            F.initcap(
                F.concat_ws(
                    " & ",
                    F.transform(
                        F.slice(F.col("_top"), 1, 3), lambda s: s["term"]
                    ),
                )
            ).alias("cluster_label"),
            "document_ids",
            "n_documents",
            F.map_from_entries(
                F.transform(
                    F.col("_top"), lambda s: F.struct(s["term"], s["mean_w"])
                )
            ).alias("centroid_features"),
            F.transform(F.slice(F.col("_top"), 1, 5), lambda s: s["term"]).alias(
                "main_topics"
            ),
        )
    )


def cluster_coherence(
    assignments: DataFrame,
    tfidf: DataFrame,
    round_dp: int | None = None,
    max_df: int | None = None,
) -> DataFrame:
    """Exact reference semantics (_calculate_cluster_coherence,
    semantic_analyzer.py:755-771), A10:

    - a cluster with < 2 documents scores 1.0;
    - otherwise the mean of ALL strictly-positive intra-cluster
      pairwise cosines over the TF-IDF vectors (zero-cosine pairs —
      no shared term — are excluded from the mean, exactly like the
      reference's ``upper_tri[upper_tri > 0]``);
    - 0.0 when no pair is positive.

    Every cluster in ``assignments`` gets a row (no missing-key
    fallback — the reference analyzer always computes the score).

    Spark shape: a term self-join RESTRICTED within each cluster
    (join keys (cluster_id, term)), so the pair enumeration is
    block-diagonal — cost Σ_c Σ_t df²_{c,t}, the within-cluster
    analog of the exact θ-join; a pair with a shared term always has
    dot > 0 (tf-idf weights are positive), so the inner join IS the
    positive-pair filter. ``max_df`` stop-lists ultra-common terms
    from the pair join for corpora whose clusters are huge; ``round_dp`` rounds each pair
    cosine before averaging (the cross-engine oracle convention).
    A hot term inside a large cluster makes this join quadratic — at
    scale use ``cluster_coherence_centroid`` (O(nnz), equal to this
    whenever every pair shares a term; the pipeline exposes the
    choice as PipelineConfig.coherence_mode).

    Docs in ``assignments`` with no tfidf row (empty docs) count
    toward cluster size but contribute no pairs — mirroring the
    reference, whose vectorizer rows for such docs are all-zero and
    produce only zero cosines.
    """
    t = tfidf
    if max_df is not None and "df" in t.columns:
        t = t.filter(F.col("df") <= max_df)
    t = t.join(assignments, "doc_id")
    a = t.select(
        "cluster_id", F.col("doc_id").alias("doc1_id"),
        "term", F.col("weight").alias("w1"),
    )
    b = t.select(
        "cluster_id", F.col("doc_id").alias("doc2_id"),
        "term", F.col("weight").alias("w2"),
    )
    sim = F.sum(F.col("w1") * F.col("w2"))
    if round_dp is not None:
        sim = F.round(sim, round_dp)
    pair_sims = (
        a.join(b, ["cluster_id", "term"])
        .filter(F.col("doc1_id") < F.col("doc2_id"))
        .groupBy("cluster_id", "doc1_id", "doc2_id")
        .agg(sim.alias("_s"))
        .filter(F.col("_s") > 0)
    )
    means = pair_sims.groupBy("cluster_id").agg(
        F.avg("_s").alias("_mean")
    )
    sizes = assignments.groupBy("cluster_id").agg(F.count("*").alias("_n"))
    return sizes.join(means, "cluster_id", "left").select(
        "cluster_id",
        F.when(F.col("_n") < 2, F.lit(1.0))
        .otherwise(F.coalesce(F.col("_mean"), F.lit(0.0)))
        .alias("coherence_score"),
    )


def cluster_coherence_centroid(
    assignments: DataFrame, tfidf: DataFrame
) -> DataFrame:
    """O(nnz) scale path for cluster coherence via the centroid
    identity: for L2-normalized member vectors u_i,

        Σ_{i<j} u_i·u_j = (||Σ_i u_i||² − Σ_i ||u_i||²) / 2

    so the mean over ALL C(m,2) vectorized-member pairs is computable
    from one groupBy(cluster, term) + one groupBy(cluster) — no pair
    enumeration, no df² blowup; this is the plan that survives 100×
    (the exact `cluster_coherence` join costs Σ_c Σ_t df²_{c,t},
    which a hot term in a large cluster turns quadratic).

    Relation to the reference (semantic_analyzer.py:755-771): the
    reference averages over strictly-POSITIVE pairs only. tf-idf
    cosines are never negative, so this mean equals the reference's
    exactly whenever every vectorized pair shares >= 1 term (the
    common case on natural-language/code corpora with hot terms), and
    is a LOWER BOUND otherwise (zero-cosine pairs stay in the
    denominator). Singleton clusters score 1.0; clusters with < 2
    vectorized members 0.0 — matching the exact operator."""
    t = tfidf.join(assignments, "doc_id")
    term_sums = t.groupBy("cluster_id", "term").agg(
        F.sum("weight").alias("_sw")
    )
    ssq = term_sums.groupBy("cluster_id").agg(
        F.sum(F.col("_sw") * F.col("_sw")).alias("_ssq")
    )
    per_doc = t.groupBy("cluster_id", "doc_id").agg(
        F.sum(F.col("weight") * F.col("weight")).alias("_n2")
    )
    norms = per_doc.groupBy("cluster_id").agg(
        F.sum("_n2").alias("_snorm"),
        F.count("*").alias("_mv"),  # vectorized members
    )
    sizes = assignments.groupBy("cluster_id").agg(F.count("*").alias("_n"))
    mv = F.col("_mv")
    return (
        sizes.join(ssq, "cluster_id", "left")
        .join(norms, "cluster_id", "left")
        .select(
            "cluster_id",
            F.when(F.col("_n") < 2, F.lit(1.0))
            .when(F.coalesce(mv, F.lit(0)) < 2, F.lit(0.0))
            .otherwise(
                (F.col("_ssq") - F.col("_snorm")) / (mv * (mv - 1))
            )
            .alias("coherence_score"),
        )
    )
