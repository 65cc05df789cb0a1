"""Document-similarity θ self-join (J1): exact, prefix and
MinHash-blocked paths.

Semantics reproduced from _compute_document_similarities
(semantic_analyzer.py:255-389): all-pairs cosine over L2-normalized
TF-IDF, keep pairs with score >= threshold (default 0.7,
semantic_analyzer.py:99), emit (doc1, doc2) once with doc1 < doc2;
``shared_concepts`` ships empty (reference leaves it deferred,
semantic_analyzer.py:353-354).

Scale design:
- exact path: long-form self-join on term — sum(w_a * w_b) per pair.
  Right at small scale and for oracle checking; O(sum df^2) at 100 TB.
- prefix path: Bayardo prefix filtering — exact output; the terms of
  the rare-term prefixes are the keys of ``setjoin.prefix_pairs``.
- scale path (default): MinHash banding over each doc's term set
  (``_banded_rows``, then ``setjoin``'s band-bucket kernel).
The prefix and banded candidates are re-scored with the exact dot
product, so emitted scores are exact and only the banded path's
recall is approximate.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pdf_knowledge_extractor_spark.operators.ann import _finalize
from pdf_knowledge_extractor_spark.operators.setjoin import (
    band_buckets,
    band_rows,
    bucket_census,
    bucket_pairs,
    distinct_pairs,
    prefix_pairs,
)

DEFAULT_THRESHOLD = 0.7

_LOG = logging.getLogger(__name__)


def exact_cosine_pairs(
    tfidf: DataFrame,
    threshold: float = DEFAULT_THRESHOLD,
    round_dp: int | None = None,
) -> DataFrame:
    """(doc_id, term, weight) L2-normalized -> pairs
    (doc1_id, doc2_id, similarity_score) with doc1 < doc2 and score >=
    threshold. ``round_dp`` applies the threshold to round(score, dp)
    instead of the raw double, so last-ulp summation-order noise
    cannot flip borderline pairs (the oracle-parity convention)."""
    a = tfidf.select(F.col("doc_id").alias("doc1_id"), "term",
                     F.col("weight").alias("w1"))
    b = tfidf.select(F.col("doc_id").alias("doc2_id"), "term",
                     F.col("weight").alias("w2"))
    score = F.col("similarity_score")
    if round_dp is not None:
        score = F.round(score, round_dp)
    return (
        a.join(b, "term")
        .filter(F.col("doc1_id") < F.col("doc2_id"))
        .groupBy("doc1_id", "doc2_id")
        .agg(F.sum(F.col("w1") * F.col("w2")).alias("similarity_score"))
        .filter(score >= threshold)
    )


def _doc_vectors(tfidf: DataFrame) -> DataFrame:
    """(doc_id, m: map<bigint,weight>) — compact per-doc vector for
    map-side rescoring.

    Term keys are xxhash64(term), not the term string: the pair ×
    vector intermediate is the single largest stream in the banded
    pipeline (14 GB at 1.2M rows — the one stage the 1→4 octave shows
    not scaling), and 8-byte keys both shrink it ~35% and turn every
    dot-product probe into a long compare. Dot products are
    bit-identical to the string-keyed form: weights are untouched and
    a within-corpus 64-bit collision (which could only ADD a spurious
    product term) has probability ~V²/2⁶⁵ < 1e-10 at V = 33k terms."""
    return tfidf.groupBy("doc_id").agg(
        F.map_from_entries(
            F.collect_list(
                F.struct(F.xxhash64("term").alias("key"),
                         F.col("weight").alias("value"))
            )
        ).alias("m")
    )


def _rescore_candidates(
    candidates: DataFrame,
    tfidf: DataFrame,
    threshold: float,
    keep_cols: tuple[str, ...] = (),
    vec_join: str | None = "default",
    vec: DataFrame | None = None,
) -> DataFrame:
    """Exact dot product for candidate pairs via map-side lookups:
    join the two compact doc vectors onto each candidate row, then
    aggregate over the smaller map's entries —
    O(candidates * avg_terms) with no exploded shuffle, versus the
    naive candidate x term join that materializes |cand| * |terms|
    rows. ``keep_cols`` are passed through (used by the hot-bucket
    density probe to keep the bucket key on sampled pairs).

    ``vec_join`` picks the physical join of candidates x vectors:
    the default ``shuffle_hash`` builds a per-partition hash map of
    the doc vectors and STREAMS the (much larger) candidate side —
    a sort-merge join would sort the candidate stream twice (once
    per vector side, the second time carrying the first map column
    as payload), which is pure disk spill at scale. The build side
    is |docs|/P maps; size ``spark.sql.shuffle.partitions`` to the
    corpus (the documented knob) to keep it tens of MB. Pass
    ``broadcast`` when the vector table is known-tiny (the density
    probe's sampled docs) or ``None`` to let Catalyst choose;
    ``"default"`` resolves through tuning.join_hint_name(), so
    PKE_JOIN_HINT=none reverts this join to Catalyst/AQE too
    (ADVICE r5 #4 — the SHJ build side must fit executor memory and
    cannot spill; see tuning.py for the sizing rule)."""
    from pdf_knowledge_extractor_spark.tuning import join_hint_name

    if vec_join == "default":
        vec_join = join_hint_name()
    if vec is None:
        vec = _doc_vectors(tfidf)
    # ``vec``: callers that rescore repeatedly over the same doc set
    # (the stop-list and hot-bucket probes) pass a PERSISTED
    # _doc_vectors table here — the v1/v2 sides below are two separate
    # broadcast/build subtrees, and without the cache each one re-ran
    # the full tfidf scan + map-assembly object agg (the probe paid
    # three 18M-row passes at 500k docs for a 117k-pair sample).
    v1 = vec.select(F.col("doc_id").alias("doc1_id"), F.col("m").alias("m1"))
    v2 = vec.select(F.col("doc_id").alias("doc2_id"), F.col("m").alias("m2"))
    if vec_join == "broadcast":
        v1, v2 = F.broadcast(v1), F.broadcast(v2)
    elif vec_join:
        v1, v2 = v1.hint(vec_join), v2.hint(vec_join)
    def _dot(entries: str, probe: str):
        return F.aggregate(
            F.map_entries(entries),
            F.lit(0.0),
            lambda acc, e: acc
            + F.coalesce(F.element_at(F.col(probe), e["key"]), F.lit(0.0))
            * e["value"],
        )

    # Iterate the SMALLER map, probe the larger: the dot product is
    # symmetric, and on length-skewed corpora (a 10k-term doc paired
    # with a 10-term doc) iterating the short side is orders of
    # magnitude less work per pair. Summation order differs between
    # the two branches only in float last-ulps, which the pipeline's
    # round-before-threshold/round-before-hash convention absorbs
    # (the DuckDB oracle's own sum order already differs).
    dot = F.when(F.size("m1") <= F.size("m2"), _dot("m1", "m2")).otherwise(
        _dot("m2", "m1")
    )
    return (
        candidates.join(v1, "doc1_id")
        .join(v2, "doc2_id")
        .withColumn("similarity_score", dot)
        .filter(F.col("similarity_score") >= threshold)
        .select("doc1_id", "doc2_id", "similarity_score", *keep_cols)
    )


def prefix_cosine_pairs(
    tfidf: DataFrame,
    threshold: float = DEFAULT_THRESHOLD,
    eps: float = 1e-9,
) -> DataFrame:
    """Exact threshold cosine self-join via prefix filtering
    (all-pairs similarity search, Bayardo/Ma/Srikant, WWW'07 — public
    algorithm): exact results, and the candidate join touches only
    *prefix* posting lists.

    Terms are canonically ordered rare-first (df asc). For an
    L2-normalized doc, once the cumulative squared weight of its
    rarest terms reaches 1 - t², the remaining (common) terms alone
    cannot push any pair's dot product to t — so only the rare-term
    prefix participates in the candidate join; candidates that share a
    term in BOTH prefixes are re-scored exactly over the full term
    lists (``setjoin.prefix_pairs`` on the terms). Cost drops from
    Σ df² to Σ prefix_df², which removes the hot common terms from the
    quadratic join at 100 TB scale.

    Requires ``df`` column (kept by tfidf_longform) and normalized
    weights.
    """
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy(F.asc("df"), F.asc("term"))
    with_cum = tfidf.withColumn(
        "_cum_before",
        F.coalesce(
            F.sum(F.col("weight") * F.col("weight")).over(
                w.rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0.0),
        ),
    )
    # row is in the prefix while the mass at-or-after it can still
    # reach the threshold: 1 - cum_before >= t^2
    prefix = with_cum.filter(
        (1.0 - F.col("_cum_before")) >= (threshold * threshold - eps)
    ).select("doc_id", F.col("term").alias("_k"))
    return _rescore_candidates(prefix_pairs(prefix), tfidf, threshold)


# bound on the head-term list shipped through the driver by the AUTO
# signature stop-list: #terms with df > frac·N is at most
# avg_doc_len / frac (Σ df = N·L), i.e. ~32k at L=160, frac=0.005 —
# comfortably local; a corpus that overflows this bound skips the
# stop-list entirely (recall-safe: identical output, just slower)
_HEAD_TERMS_LOCAL_MAX = 100_000

# df floor for the AUTO stop-list's head census (shared with
# head_term_census_agg so a caller-folded census uses the same floor)
SIGNATURE_HEAD_DF_FLOOR = 256

# postings sampled per head term, by the census and the stop-list's
# probe alike — one constant, so a census the pipeline folds into its
# tfidf job always carries the samples the probe reads
SIGNATURE_HEAD_SAMPLE_DOCS = 16

# share of a head term's sampled pairs that must be genuinely similar
# for the term to stay in signatures (see _auto_signature_stoplist)
_SIGNATURE_HEAD_MIN_PRECISION = 0.2


def collect_signature_head_census(
    tfidf: DataFrame,
    df_floor: int = SIGNATURE_HEAD_DF_FLOOR,
) -> list:
    """ONE job over the tfidf long form returning the AUTO stop-list's
    head-term census (term, df) AND each head's deterministic posting
    sample — everything `_auto_signature_stoplist` needs before its
    probe, so the operator pays no further full-corpus scans for
    sampling. The sample is the first SIGNATURE_HEAD_SAMPLE_DOCS
    postings in (xxhash64(term, doc_id), doc_id) order that survive a
    hash pre-filter (hash mod df < 4·that count), which keeps the
    collected set small on a term whose posting list is up to N rows.

    Callers that must materialize the tfidf cache anyway (the
    pipeline) use THIS action as the materialization job and pass the
    rows to ``minhash_blocked_cosine_pairs(signature_heads=...)`` —
    zero extra stop-list jobs on that path (VERDICT r6 item 1); the
    operator runs it internally otherwise. Driver memory stays
    bounded: <= SIGNATURE_HEAD_SAMPLE_DOCS structs per head term
    survive the slice and the limit caps the row count at the overflow
    bound."""
    surv = F.pmod(
        F.xxhash64("term", "doc_id"), F.col("df")
    ) < F.least(F.lit(4 * SIGNATURE_HEAD_SAMPLE_DOCS), F.col("df"))
    return (
        tfidf.filter(F.col("df") > df_floor)
        .groupBy("term")
        .agg(
            F.first("df").alias("df"),
            F.slice(
                F.array_sort(
                    F.collect_set(
                        F.when(
                            surv,
                            F.struct(
                                F.xxhash64("term", "doc_id").alias("h"),
                                F.col("doc_id").alias("doc_id"),
                            ),
                        )
                    )
                ),
                1,
                SIGNATURE_HEAD_SAMPLE_DOCS,
            ).alias("sampled"),
        )
        .limit(_HEAD_TERMS_LOCAL_MAX + 1)
        .collect()
    )


def _auto_signature_stoplist(
    tfidf: DataFrame,
    threshold: float,
    n_docs: int | None = None,
    head_df_frac: float = 0.005,
    head_df_floor: int = 256,
    probe_max_frac: float = 0.05,
    stats: dict | None = None,
    head_rows: list | None = None,
) -> DataFrame | None:
    """Probe-verified head-term stop-list for the banding SIGNATURE
    (round-6 headline: the recall-safe replacement of the r5 absolute
    df cap).

    Head terms (df > max(floor, frac·N)) drive the blocker's sub-cap
    random-collision volume — the measured cause of the superlinear
    fixed-cluster data-size exponent (1.30 at 1.2M→2.4M; three-arm
    census controls, BENCH/census_scale_controls_r5). Excluding them
    from signatures cut candidates ~19× with byte-identical output on
    the Zipf corpus — but a blanket df cap silently erases the banding
    signal of mutated-boilerplate families LARGER than the cap (their
    shared base words ARE high-df; a cap of 50 lost >85% of a
    200-member family's pairs). This is the identical dichotomy the hot-bucket cap
    already solved with its density probe (false-positive pile-ups vs
    true-dense families), so the same machinery decides per TERM:

    - sample SIGNATURE_HEAD_SAMPLE_DOCS docs from the term's posting
      list (deterministic hash order), exactly rescore the ≤ C(s,2)
      sample pairs (broadcast vectors — the sampled-doc table is tiny);
    - if at least _SIGNATURE_HEAD_MIN_PRECISION of the sampled pairs
      are genuinely
      similar (cosine ≥ threshold), the term's high df IS signal — a
      boilerplate family sharing it — so it STAYS in signatures (its
      dense buckets then flow to the hot-bucket verify path, which
      keeps output-bound families);
    - otherwise its df is Zipf-head noise: random co-occurrence whose
      band collisions the rescore would reject — exclude it.

    The precision floor is deliberately LOW (0.2 vs the bucket probe's
    0.5): the asymmetry is that falsely KEEPING a noise term only
    costs wasted candidates (recall-safe), while falsely excluding a
    family term loses output — mixed posting lists (one family + Zipf-
    head random docs) must err toward keep.

    Driver-job budget: one head-census job (plus one n_docs count when
    the caller didn't pass it — the pipeline does), plus ONE probe job
    when any head exists. Returns a local-relation DataFrame of terms
    to exclude, or None (no heads / probe kept everything / head list
    overflow / small-corpus probe-budget gate).

    ``probe_max_frac`` — the ENGAGEMENT gate (round-6 refinement):
    the stop-list is a large-N device. Its payoff is the head terms'
    banding-collision volume, which only dominates when posting lists
    are huge RELATIVE to a fixed-size probe; when sampling the heads
    would touch more than this fraction of the corpus (estimated
    locally from the head census as Σ min(sample, df) — an upper
    bound, so the gate errs toward skipping), the collision volume
    the exclusions could prevent is the same order as the probe
    itself, and the probe becomes pure overhead: measured +11.5 s on
    the 50 k-doc bench corpus (946 heads at the floor cap, 30% of the
    corpus sampled, byte-identical output) vs ~1% of corpus sampled
    and a net 19× candidate cut at 1.2 M docs. Skipping keeps ALL
    terms in signatures — recall-safe by construction; pathological
    small-corpus families stay guarded by the hot-bucket verify path.
    The gate self-scales: it disengages exactly when the per-term
    sample stops being a rounding error against N.
    """
    spark = tfidf.sparkSession
    if n_docs is None:
        n_docs = int(
            tfidf.agg(F.count_distinct(F.col("doc_id")).alias("n"))
            .first()["n"]
        )
    if head_rows is None:
        # ONE job: head census AND per-term posting samples together
        # (round 7 — the r6 form ran the census, then a second full
        # posting scan + window job just to draw the per-term samples)
        head_rows = collect_signature_head_census(
            tfidf, df_floor=head_df_floor
        )
    cap = max(head_df_floor, int(head_df_frac * n_docs))
    heads = [
        (str(r["term"]), int(r["df"]))
        for r in head_rows
        if int(r["df"]) > cap
    ]
    if stats is not None:
        stats["signature_df_cap"] = cap
        stats["signature_head_terms"] = len(heads)
        stats["signature_heads_excluded"] = 0
        stats["signature_heads_kept_family"] = 0
    if not heads:
        return None
    if len(head_rows) > _HEAD_TERMS_LOCAL_MAX:
        _LOG.warning(
            "signature stop-list: >%d head terms over df floor %d — "
            "head census overflowed the local bound; skipping the "
            "stop-list (output unchanged, banding keeps all terms)",
            _HEAD_TERMS_LOCAL_MAX, head_df_floor,
        )
        return None
    # engagement gate: estimated probe footprint (upper bound — the
    # per-term samples overlap, so clamp at "the whole corpus") as a
    # fraction of the corpus; a non-positive n_docs hint is treated as
    # the documented skip (ADVICE r6: no ZeroDivisionError on an
    # inconsistent n_docs=0 alongside a non-empty tfidf)
    if n_docs <= 0:
        if stats is not None:
            stats["signature_probe_skipped_small_corpus"] = True
        return None
    probe_frac = min(
        1.0,
        sum(min(SIGNATURE_HEAD_SAMPLE_DOCS, d) for _, d in heads) / n_docs,
    )
    if stats is not None:
        stats["signature_probe_frac"] = round(probe_frac, 4)
    if probe_frac > probe_max_frac:
        if stats is not None:
            stats["signature_probe_skipped_small_corpus"] = True
        _LOG.info(
            "signature stop-list: probing %d heads would sample "
            "%.1f%% of the %d-doc corpus (> %.1f%% budget) — small-N "
            "regime, stop-list disengaged (output unchanged, banding "
            "keeps all terms; hot-bucket verify guards dense families)",
            len(heads), 100 * probe_frac, n_docs, 100 * probe_max_frac,
        )
        return None

    # the fused census already drew the samples — ship them back as a
    # LOCAL relation (no job, broadcasts for free below)
    from pyspark.sql import types as T

    sampled = {str(r["term"]): r["sampled"] for r in head_rows}
    sample = spark.createDataFrame(
        [(t, x["doc_id"]) for t, _d in heads for x in sampled[t]],
        schema=T.StructType([
            T.StructField("term", T.StringType()),
            T.StructField("doc_id", tfidf.schema["doc_id"].dataType),
        ]),
    )
    s1 = sample.select("term", F.col("doc_id").alias("doc1_id"))
    s2 = sample.select("term", F.col("doc_id").alias("doc2_id"))
    sample_pairs = s1.join(s2, "term").filter(
        F.col("doc1_id") < F.col("doc2_id")
    )
    probe_tfidf = tfidf.join(
        F.broadcast(sample.select("doc_id").distinct()), "doc_id",
        "left_semi",
    )
    # materialize the sampled docs' vectors ONCE: the rescore's two
    # broadcast sides would otherwise each re-run the tfidf semi-join
    # + map-assembly agg (measured 3 full long-form passes for the
    # probe at 500k docs — the probe was the single largest stage of
    # the similarity operator)
    probe_vec = _doc_vectors(probe_tfidf).persist()
    scored = _rescore_candidates(
        sample_pairs, probe_tfidf, 0.0,
        keep_cols=("term",), vec_join="broadcast", vec=probe_vec,
    )
    verdicts = scored.groupBy("term").agg(
        F.count("*").alias("_tot"),
        F.sum((F.col("similarity_score") >= threshold).cast("long"))
        .alias("_ok"),
    ).collect()
    probe_vec.unpersist()
    excluded = [
        (r["term"],)
        for r in verdicts
        if r["_ok"] < _SIGNATURE_HEAD_MIN_PRECISION * r["_tot"]
    ]
    kept = len(verdicts) - len(excluded)
    if stats is not None:
        stats["signature_heads_excluded"] = len(excluded)
        stats["signature_heads_kept_family"] = kept
        stats["signature_probe_pairs"] = sum(r["_tot"] for r in verdicts)
    _LOG.info(
        "signature stop-list (auto, df cap %d): %d head terms probed, "
        "%d excluded as Zipf-head noise, %d kept (family signal)",
        cap, len(verdicts), len(excluded), kept,
    )
    if not excluded:
        return None
    return F.broadcast(
        spark.createDataFrame(excluded, schema="term string")
    )


def minhash_blocked_cosine_pairs(
    tfidf: DataFrame,
    threshold: float = DEFAULT_THRESHOLD,
    num_hashes: int = 60,
    bands: int = 12,
    max_bucket_size: int | None = None,
    hot_bucket_mode: str = "verify",
    hot_sample_docs: int = 24,
    hot_min_precision: float = 0.5,
    stats: dict | None = None,
    signature_max_df: str | None = "auto",
    n_docs: int | None = None,
    signature_head_df_frac: float = 0.005,
    signature_head_df_floor: int = SIGNATURE_HEAD_DF_FLOOR,
    signature_probe_max_frac: float = 0.05,
    signature_heads: list | None = None,
) -> DataFrame:
    """Scale path for the θ self-join: MinHash-Jaccard banding over
    each doc's TERM SET as the candidate blocker, exact cosine rescore
    (map-side dot product) as the scorer.

    ``signature_max_df`` — head-term treatment for the banding
    SIGNATURE only (the rescore always dots the full vectors, so every
    emitted score stays the exact cosine):

    - ``"auto"`` (DEFAULT, round 6): probe-verified stop-list — head
      terms (df > max(floor, 0.5%·N)) are each density-probed on a
      sample of their posting list; only terms whose sampled pairs are
      NOT genuinely similar (Zipf-head noise) are excluded, so
      boilerplate-family base words keep their banding signal and flow
      to the hot-bucket verify path. Recall-safe by construction; see
      :func:`_auto_signature_stoplist`. The measured win of head
      removal: a 0.5%·N cap cut candidate pairs ~19× (32.5M → 1.7M at
      1.2M rows) with byte-identical output, dropping the fixed-
      cluster data-size exponent 1.30 → 1.17
      (BENCH/census_scale_r5.json). Engages only when the probe's
      sampled-doc footprint is ≤ ``signature_probe_max_frac`` of the
      corpus (small corpora skip the machinery with output unchanged
      — the probe was pure overhead there; see
      :func:`_auto_signature_stoplist` ``probe_max_frac``).
    - ``None``: band over the full term set (the oracle-parity /
      measurement-baseline setting).

    Anything else raises ValueError.

    Why this beats prefix filtering at 100 TB: the banding collision
    curve 1-(1-j^r)^b is far sharper in Jaccard than any hyperplane
    scheme is in cosine — r=5, b=12 gives ~1e-5 collision probability
    for unrelated pairs (j≈0.1) and >=0.99 for near-duplicates
    (j>=0.85), so the candidate set stays near-linear where the exact
    prefix join went quadratic (658M candidates at 100k docs on
    flat-weight content). Recall at the cosine threshold is
    approximate and data-dependent (pairs with cosine>=0.7 but low
    term-set Jaccard can be missed); tests validate recall >= 0.95 on
    the near-duplicate-structured corpus. Precision is exact (every
    emitted score is the true cosine).

    ``max_bucket_size``: the quadratic failure mode of banding is a
    DEGENERATE bucket — one (band, band_hash) shared by thousands of
    docs contributes |bucket|² candidate pairs; measured superlinear
    at 600k rows on a 500-word vocabulary before the cap existed. Hot
    buckets come in two kinds with OPPOSITE correct treatments:

    - FALSE-POSITIVE buckets (tiny vocabularies / hash pile-ups):
      members are not actually similar, so the |bucket|² candidates
      are wasted work — drop them (the 600k attribution control:
      capped vs uncapped produced byte-identical triples because every
      hot bucket was of this kind).
    - TRUE-DENSE buckets (mutated-boilerplate families): members ARE
      pairwise similar, so the |bucket|² pairs are real OUTPUT — the
      quadratic work is output-bound and unavoidable for a complete
      pair list; dropping silently loses true `similar_to` pairs that
      exact-fingerprint dedup CANNOT recover (the texts differ).

    ``hot_bucket_mode`` picks the treatment once a bucket exceeds
    ``max_bucket_size``:

    - "verify" (default): a density probe distinguishes the kinds —
      sample ``hot_sample_docs`` members per hot bucket
      (deterministic hash order), exactly rescore the ≤ C(s,2) sample
      pairs, and keep the bucket's full pair set only when the sampled
      fraction ≥ threshold is at least ``hot_min_precision``. Dense
      buckets then contribute their (output-bound) pairs; sparse
      buckets are dropped. Probe cost per hot bucket is O(s²) exact
      rescores — bounded and tiny relative to either outcome.
    - "drop": drop every hot bucket (round-3 behavior). Fastest, but
      silently loses true pairs on corpora with dense near-dup
      families; the recall cost is quantified in BENCH/BASELINE.md
      (capped-vs-uncapped P/R on a boilerplate-heavy corpus).

    None keeps full banding recall (the oracle-parity setting); the
    pipeline default caps at a few hundred with mode "verify"
    (PipelineConfig.similarity_max_bucket / similarity_hot_mode).

    No silent caps: whenever the cap is active, the bucket census
    (total / over-cap / kept-dense / dropped buckets, banded rows in
    hot buckets) is logged and, if ``stats`` (a dict) is passed,
    written into it — so capped runs are always distinguishable from
    full-recall runs (the run_pipeline result carries this dict as
    result["similarity_stats"]).

    Plan: candidates come from the band-bucket kernel (``setjoin``).
    The capped path persists the bucket lists and runs ONE census job,
    then, with a bucket over the cap in "verify" mode, ONE probe job:
    each hot bucket's sample is cut from its member list and rescored,
    and the per-bucket verdicts stay distributed — dense buckets join
    back on the bucket key, and the driver collects only scalar stats.
    The probe's sampled cosines feed ``stats``: probe_sampled_pairs, probe_pairs_near_threshold,
    probe_near_threshold_frac, and ``banding_boundary_hint`` — True
    when >=30% of sampled in-bucket pair cosines lie within ±0.1 of
    the threshold, the online form of the offline recall-sweep finding
    that recall falls on the banding collision curve (raise ``bands``
    in that regime).

    Cache lifecycle: the capped path localCheckpoints the (small)
    result and releases its caches (`_finalize`); call
    `ann.release_checkpointed_results` once the pairs are consumed, as
    `clearCache()` cannot see checkpoint blocks. The uncapped path
    caches nothing and stays lazy.
    """
    if signature_max_df not in ("auto", None):
        raise ValueError(
            "signature_max_df must be 'auto' or None, got "
            f"{signature_max_df!r}"
        )
    exclude = None
    if signature_max_df == "auto" and "df" in tfidf.columns:
        exclude = _auto_signature_stoplist(
            tfidf, threshold, n_docs=n_docs,
            head_df_frac=signature_head_df_frac,
            head_df_floor=signature_head_df_floor,
            probe_max_frac=signature_probe_max_frac,
            stats=stats,
            head_rows=signature_heads,
        )
    buckets = band_buckets(
        _banded_rows(tfidf, num_hashes, bands, signature_exclude=exclude)
    )
    if max_bucket_size is None:
        return _rescore_candidates(
            distinct_pairs(bucket_pairs(buckets)), tfidf, threshold
        )
    return _capped_pairs(buckets, tfidf, threshold, max_bucket_size,
                         hot_bucket_mode, hot_sample_docs,
                         hot_min_precision, stats)


def _banded_rows(
    tfidf: DataFrame,
    num_hashes: int,
    bands: int,
    signature_exclude: DataFrame | None = None,
) -> DataFrame:
    """(doc_id, band, band_hash) MinHash-banding rows for a tfidf
    long form — the blocker shared by the pair join and the
    standalone census.

    ``signature_exclude``: a (small) term table to exclude from
    signatures — the probe-verified AUTO stop-list
    (_auto_signature_stoplist), broadcast-joined onto the long form.
    A doc whose every term is excluded FALLS BACK to its full term
    set: an all-head-word doc would otherwise have an empty signature
    and silently fall out of the blocker entirely (measured: ~1 doc
    in 24k on the 1.2M Zipf corpus, 40 lost triples). The fallback
    docs band among themselves, where the ordinary cap+probe machinery
    applies. Same single groupBy either way.

    Physical shape (round 7): ONE groupBy(doc) computing the K
    minhashes as K flat ``min(xxhash64(term, k))`` aggregate columns —
    a fixed-width codegen hash aggregate. The r2-r6 form collected the
    term array per doc and evaluated the signature as nested HOF
    transforms, whose interpreted per-element overhead dominated the
    stage (measured 8.2s vs 3.4s for the flat form at 500k docs,
    bit-identical signatures — same xxhash64(term, k) stream feeding
    the same min). With a stop-list, each k carries a kept-only min
    plus an all-terms min and coalesces — per-doc all-or-nothing
    fallback semantics are preserved exactly (a doc with any kept term
    has every kept-min non-null; an all-head doc falls back to the
    full-set signature for every k)."""
    t = tfidf

    def h(k: int):
        return F.xxhash64(F.col("term"), F.lit(k))

    if signature_exclude is not None:
        t = tfidf.join(
            F.broadcast(
                signature_exclude.select("term")
                .withColumn("_x", F.lit(True))
            ),
            "term",
            "left",
        )
        kept = F.col("_x").isNull()
        aggs = []
        for k in range(num_hashes):
            aggs.append(F.min(F.when(kept, h(k))).alias(f"_mk{k}"))
            aggs.append(F.min(h(k)).alias(f"_ma{k}"))
        sig_cols = [
            F.coalesce(F.col(f"_mk{k}"), F.col(f"_ma{k}"))
            for k in range(num_hashes)
        ]
    else:
        aggs = [F.min(h(k)).alias(f"_mk{k}") for k in range(num_hashes)]
        sig_cols = [F.col(f"_mk{k}") for k in range(num_hashes)]
    return band_rows(t.groupBy("doc_id").agg(*aggs), sig_cols, bands)


def banding_census(
    tfidf: DataFrame,
    num_hashes: int = 60,
    bands: int = 12,
    max_bucket_size: int = 400,
    signature_exclude: DataFrame | None = None,
) -> dict:
    """Candidate-volume census of the MinHash blocker WITHOUT running
    the rescore: bucket count, over-cap tail, and the sub-cap
    candidate-pair volume Σ n·(n−1)/2 that drives rescore cost. Used
    by tools/census_scale.py to attribute data-size scaling.
    ``signature_exclude`` censuses the df-stop-listed blocker (pass
    _auto_signature_stoplist's result to measure the AUTO default)."""
    buckets = band_buckets(
        _banded_rows(tfidf, num_hashes, bands,
                     signature_exclude=signature_exclude)
    )
    return {"cap": max_bucket_size,
            **bucket_census(buckets, max_bucket_size)}


def _capped_pairs(buckets, tfidf, threshold, max_bucket_size,
                  hot_bucket_mode, hot_sample_docs, hot_min_precision,
                  stats):
    if hot_bucket_mode not in ("verify", "drop"):
        raise ValueError(f"unknown hot_bucket_mode: {hot_bucket_mode!r}")
    # persisted: the census, the probe and the pair emission all read
    # the bucket lists; recomputing the signature aggregate per
    # consumer would multiply the operator's cost. Released via
    # _finalize below.
    buckets = buckets.persist()
    caches = [buckets]
    # ONE eager job materializes the bucket cache and returns the
    # census scalars — the cap must never be silent (see the docstring)
    census = bucket_census(buckets, max_bucket_size)
    n_over = census["buckets_over_cap"]
    info = {
        "cap": max_bucket_size,
        "mode": hot_bucket_mode,
        **census,
        "dense_buckets_kept": 0,
        "buckets_dropped": n_over,
    }
    size = F.size("_m")
    kept = buckets.filter(size <= max_bucket_size)
    if hot_bucket_mode == "verify" and n_over > 0:
        hot = buckets.filter(size > max_bucket_size)
        verdicts, n_dense, n_sampled, n_near = _density_probe(
            hot, tfidf, threshold, hot_sample_docs, hot_min_precision
        )
        caches.append(verdicts)
        near_frac = n_near / n_sampled if n_sampled else 0.0
        info.update(
            dense_buckets_kept=n_dense,
            buckets_dropped=n_over - n_dense,
            probe_sampled_pairs=n_sampled,
            probe_pairs_near_threshold=n_near,
            probe_near_threshold_frac=round(near_frac, 4),
            # the recall sweep (BENCH/BASELINE.md) pinned recall loss
            # to the banding collision curve as family similarity
            # approaches the threshold; when >=30% of sampled
            # in-bucket mass sits within ±0.1 of it, the same loss is
            # likely happening OUTSIDE hot buckets too — surface the
            # tuning hint online
            banding_boundary_hint=bool(n_sampled and near_frac >= 0.30),
        )
        if info["banding_boundary_hint"]:
            _LOG.warning(
                "similarity probe: %.0f%% of sampled in-bucket pair "
                "cosines lie within ±0.1 of threshold %.2f — corpus "
                "similarity mass sits near the banding collision "
                "boundary; consider raising similarity_bands (e.g. "
                "64 hashes / 16 bands) for fuller recall",
                100 * near_frac, threshold,
            )
        if n_dense > 0:
            dense = verdicts.filter("_dense").select("band", "band_hash")
            kept = kept.unionByName(
                hot.join(dense, ["band", "band_hash"], "left_semi")
            )

    log = _LOG.warning if info["buckets_dropped"] > 0 else _LOG.info
    log(
        "similarity banding cap %d (mode=%s): %d/%d buckets over cap "
        "(%d banded rows), %d kept as verified-dense, %d dropped",
        max_bucket_size,
        hot_bucket_mode,
        n_over,
        info["buckets_total"],
        info["banded_rows_in_hot_buckets"],
        info["dense_buckets_kept"],
        info["buckets_dropped"],
    )
    if stats is not None:
        stats.update(info)
    out = _rescore_candidates(
        distinct_pairs(bucket_pairs(kept)), tfidf, threshold
    )
    return _finalize(out, *caches)


def _density_probe(hot, tfidf, threshold, sample_docs, min_precision):
    """ONE job deciding each hot bucket's density from the exact
    cosines of its sampled member pairs. Returns the persisted
    per-bucket verdicts (band, band_hash, _tot, _near, _dense) — they
    stay distributed, only the scalars reach the driver — and the
    scalars n_dense, n_sampled (pairs scored) and n_near (pairs within
    ±0.1 of the threshold).

    The sample is the first ``sample_docs`` members in
    (xxhash64(doc_id), doc_id) order, cut straight from the bucket's
    member list."""
    by_hash = F.array_sort(F.transform(
        "_m", lambda d: F.struct(F.xxhash64(d).alias("h"), d.alias("d"))
    ))
    sample = hot.select(
        "band", "band_hash",
        # back in id order, which the pair emitter expects
        F.array_sort(F.transform(
            F.slice(by_hash, 1, sample_docs), lambda x: x["d"]
        )).alias("_m"),
    )
    # restrict the probe rescore's doc-vector build to the SAMPLED
    # docs (<= sample_docs * n_hot rows, broadcastable): building maps
    # for the whole corpus to score a few thousand sample pairs was a
    # parallelism-independent fixed cost
    probe_tfidf = tfidf.join(
        F.broadcast(
            sample.select(F.explode("_m").alias("doc_id")).distinct()
        ),
        "doc_id",
        "left_semi",
    )
    # one materialized vector build for both broadcast sides (the
    # same fix as the stop-list probe)
    probe_vec = _doc_vectors(probe_tfidf).persist()
    # threshold 0.0 keeps EVERY sampled pair's exact cosine (tf-idf
    # weights are non-negative): the same scores decide bucket density
    # AND measure how close the corpus's in-bucket similarity mass
    # sits to the threshold
    scored = _rescore_candidates(
        bucket_pairs(sample, carry=("band", "band_hash")), probe_tfidf,
        0.0, keep_cols=("band", "band_hash"), vec_join="broadcast",
        vec=probe_vec,
    )
    s = F.col("similarity_score")
    verdicts = scored.groupBy("band", "band_hash").agg(
        F.count("*").alias("_tot"),
        F.sum((s >= threshold).cast("long")).alias("_ok"),
        F.sum(
            ((s >= threshold - 0.1) & (s < threshold + 0.1)).cast("long")
        ).alias("_near"),
    ).select(
        "band", "band_hash", "_tot", "_near",
        (F.col("_ok") >= F.lit(min_precision) * F.col("_tot"))
        .alias("_dense"),
    ).persist()
    n_dense, n_sampled, n_near = (
        int(v or 0)
        for v in verdicts.agg(
            F.sum(F.col("_dense").cast("long")),
            F.sum("_tot"),
            F.sum("_near"),
        ).first()
    )
    probe_vec.unpersist()
    return verdicts, n_dense, n_sampled, n_near


def with_similarity_metadata(pairs: DataFrame) -> DataFrame:
    """Attach the reference record shape (similarity_type='cosine',
    shared_concepts=[] — semantic_analyzer.py:42-49, 353-354)."""
    return pairs.select(
        "doc1_id",
        "doc2_id",
        "similarity_score",
        F.lit("cosine").alias("similarity_type"),
        F.array().cast("array<string>").alias("shared_concepts"),
    )


def top_similar_per_doc(pairs: DataFrame, k: int = 5) -> DataFrame:
    """Top-k similar docs per target (semantic_analyzer.py:574-587):
    symmetrize then window top-k."""
    from pyspark.sql import Window

    sym = pairs.select(
        F.col("doc1_id").alias("doc_id"),
        F.col("doc2_id").alias("other_id"),
        "similarity_score",
    ).unionByName(
        pairs.select(
            F.col("doc2_id").alias("doc_id"),
            F.col("doc1_id").alias("other_id"),
            "similarity_score",
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("similarity_score"), F.asc("other_id")
    )
    return (
        sym.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )
