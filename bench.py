#!/usr/bin/env python
"""Benchmark harness (driver contract).

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] plus the flagship
end-to-end KG pipeline over the deterministic synthetic source-code
corpus, and prints ONE JSON line:

{"metric": "...", "value": <total sec>, "unit": "sec",
 "queries": {...per-query sec...}, "sf": ..., "triples": N,
 "triples_per_sec": N}

NOISE CONTROL (round 3): this host shows ±40% cold-run variance (~6%
steal, VM neighbors), which made BENCH_rN files incomparable across
rounds. Every headline query now runs $PKE_BENCH_REPEATS times
(default 3) and reports the MEDIAN; the flagship pipeline runs
$PKE_BENCH_PIPELINE_REPEATS times (default 2) and reports the final
WARM pass (a real cluster pays JVM/codegen warmup once per executor
lifetime, not per job). All raw runs ship in "queries_runs" so the
distribution is on the record.

HOST-LOAD CENSUS (round 6, VERDICT r5 item 2): every row carries a
"host_census" stamp taken right after its runs — loadavg plus the
foreign-compute-process census (hostload.py). The field that PROVES a
row clean is host_census[row]["foreign_compute_procs"] == [] — loadavg
alone cannot attribute load to a neighbor vs the bench itself. The
round-5 driver bench was contaminated by neighbor load and the
artifact could not prove it either way; now it can. Non-empty
entries carry an instantaneous "[cpu N%]" prefix: a 0% entry is a
keyword false-positive (e.g. an idle shell whose command line names
a bench log), not contamination.

FRESH-SESSION MODE (round 6, VERDICT r5 item 7): --fresh-session-per-row
(or PKE_BENCH_FRESH_SESSION=1) runs every row in its own subprocess
JVM — the reusable form of the round-5 fresh-session attribution arm
(BENCH/attrib_regression_r5.json), separating per-row regressions from session-accumulated state
(storage leaks, GC pressure, codegen cache) in one command. Rows that
need the pipeline's tfidf rebuild it untimed in their own JVM, so
fresh-mode rows are directly comparable to the same row's shared-mode
median. Internal: `bench.py --one-row NAME` runs one row and prints
its JSON fragment.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pdf_knowledge_extractor_spark import entry_queries
from pdf_knowledge_extractor_spark.corpus import generate_corpus
from pdf_knowledge_extractor_spark.hostload import load_snapshot
from pdf_knowledge_extractor_spark.operators.ann import (
    release_checkpointed_results,
)
from pdf_knowledge_extractor_spark.plans.pipeline import (
    PipelineConfig,
    run_pipeline,
)
from pdf_knowledge_extractor_spark.session import default_cpus, get_spark

# headline per-operator queries (similar_pairs excluded here: the
# driver documents table has a 24-word vocabulary, making all-pairs
# output O(n^2) by construction; the exact path is correctness-gated
# at sf0.01 via the oracle and the scale path is benched in the
# pipeline below)
HEADLINE = (
    "tpch_q1",
    "revenue_by_nation",
    "events_hourly",
    "sessionize",
    "doc_stats",
    "quality_scores",
    "doc_type",
    "sentiment",
    "keywords_topk",
    "concepts_agg",
    "tfidf_topk",
    # related_docs excluded: the driver documents table has a 24-word
    # vocabulary where every keyword appears in ~70% of docs, making the
    # posting self-join Sigma df^2 ~ n^2 by construction; the operator is
    # correctness-gated at sf0.01 and benched on the realistic-vocabulary
    # corpus inside kg_pipeline
    "contains_triples",
    "exact_dedup",
    # training-data-pipeline extensions (cheap at sf0.1; ann_topk's
    # brute-force path is excluded — it is the rescoring primitive,
    # benched indirectly via the blocked variants)
    "minhash_dedup",
    "simhash_pairs",
    "ngram_jaccard",
    "lang_id",
    "text_validity",
    "doc_chunks",
    "rolling_trend",
    "events_pivot",
)

# corpus-backed rows (need the synthetic-code corpus / pipeline state)
CORPUS_ROWS_ORDER = (
    "kg_pipeline",
    "sim_minhash_corpus",
    "sim_minhash_fullsig_corpus",
    "sim_minhash_capped_corpus",
    "sim_prefix_corpus_10k",
    "kg_pipeline_clustered",
)


def _env():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = default_cpus()
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else 0.1
    corpus_rows = int(
        os.environ.get("PKE_BENCH_CORPUS_ROWS", str(int(500_000 * sf)))
    )
    profile = os.environ.get("PKE_BENCH_PROFILE", "production")
    repeats = int(os.environ.get("PKE_BENCH_REPEATS", "3"))
    pipe_repeats = int(os.environ.get("PKE_BENCH_PIPELINE_REPEATS", "2"))
    return sf_dir, cpus, sf, corpus_rows, profile, repeats, pipe_repeats


def _session(cpus: int, profile: str):
    # PRODUCTION confs by default (the engine's own session defaults:
    # AQE on, whole-stage codegen on) — what a real cluster would run,
    # where janino compile cost amortizes over 100x more data per
    # stage. PKE_BENCH_PROFILE=tuned re-enables the local-only
    # NO_CODEGEN/AQE-off profile for comparison; the measured delta per
    # profile lives in BENCH/BASELINE.md.
    extra_conf = (
        {
            "spark.sql.adaptive.enabled": "false",
            "spark.sql.codegen.wholeStage": "false",
            "spark.sql.codegen.factoryMode": "NO_CODEGEN",
        }
        if profile == "tuned"
        else {}
    )
    return get_spark("pke-bench", cpus=cpus, extra_conf=extra_conf)


def _warmup(spark, sf_dir: str) -> None:
    # untimed warmup: one small scan+agg job to load JVM/codegen/
    # parquet-reader classes. Measured: the first job of a fresh JVM
    # pays ~5s of class loading regardless of query (tpch_q1 5.5s cold
    # vs 0.75s warm); a real cluster amortizes this once per executor
    # lifetime, not per query.
    from pyspark.sql import functions as F

    spark.read.parquet(f"{sf_dir}/lineitem.parquet").agg(
        F.sum("l_quantity")
    ).collect()


class _Bench:
    """Row registry: each row = (thunk, n_repeats, record_mode), built
    lazily against a shared context so the shared-session path keeps
    its exact historical execution order while --one-row can set up
    any single row in a fresh JVM."""

    def __init__(self):
        (self.sf_dir, self.cpus, self.sf, self.corpus_rows, self.profile,
         self.repeats, self.pipe_repeats) = _env()
        self.spark = _session(self.cpus, self.profile)
        _warmup(self.spark, self.sf_dir)
        self.qs = entry_queries.get_queries()
        self.timings: dict[str, float] = {}
        self.all_runs: dict[str, list[float]] = {}
        self.host_census: dict[str, dict] = {}
        self.state: dict = {}
        self._corpus = None

    @property
    def corpus(self):
        if self._corpus is None:
            self._corpus = generate_corpus(self.spark, self.corpus_rows)
        return self._corpus

    def measure(self, name: str, thunk, n: int, record: str = "median"):
        runs = []
        out = None
        for _ in range(max(n, 1)):
            t0 = time.perf_counter()
            out = thunk()
            runs.append(round(time.perf_counter() - t0, 3))
        self.all_runs[name] = runs
        self.timings[name] = round(
            statistics.median(runs) if record == "median" else runs[-1], 3
        )
        # per-row host stamp: foreign_compute_procs == [] proves the
        # row ran without compute neighbors (hostload.py)
        self.host_census[name] = load_snapshot()
        return out

    # --- corpus-backed rows -------------------------------------------
    def run_kg(self):
        if self.state:
            self.spark.catalog.clearCache()
            release_checkpointed_results()
        cfg = PipelineConfig(similarity_strategy="minhash")
        res = run_pipeline(
            self.spark, self.corpus, cfg, id_col="doc_id",
            text_col="content", lang_col="lang",
        )
        self.state["res"] = res
        self.state["triples"] = res["triples"].count()
        return res

    def _ensure_pipeline(self):
        """Fresh-JVM setup for the sim rows: the pipeline's persisted
        tfidf, built untimed (the shared path reuses run_kg's)."""
        if "res" not in self.state:
            self.run_kg()
        return self.state["res"]["tfidf"]

    def row_kg_pipeline(self):
        # flagship: full KG pipeline over the synthetic code corpus.
        # Repeated runs re-plan and re-execute everything (fresh
        # lineage); the recorded number is the final WARM pass, with
        # the cold pass on the record in queries_runs. Caches are
        # cleared between passes so repeated persists don't accumulate;
        # the LAST pass keeps its cache so the sim rows reuse its tfidf.
        self.measure("kg_pipeline", self.run_kg, self.pipe_repeats,
                     record="last")

    def row_sim_minhash_corpus(self):
        from pdf_knowledge_extractor_spark.operators.similarity import (
            minhash_blocked_cosine_pairs,
        )

        tfidf = self._ensure_pipeline()
        self.measure(
            "sim_minhash_corpus",
            lambda: minhash_blocked_cosine_pairs(
                tfidf, threshold=0.7
            ).count(),
            self.repeats,
        )

    def row_sim_minhash_fullsig_corpus(self):
        # the pre-r6 uncapped blocker (signature_max_df=None): kept on
        # the board so the AUTO-default row above stays comparable to
        # r1-r5 history — the default changed in r6, the full-signature
        # measurement did not
        from pdf_knowledge_extractor_spark.operators.similarity import (
            minhash_blocked_cosine_pairs,
        )

        tfidf = self._ensure_pipeline()
        self.measure(
            "sim_minhash_fullsig_corpus",
            lambda: minhash_blocked_cosine_pairs(
                tfidf, threshold=0.7, signature_max_df=None
            ).count(),
            self.repeats,
        )

    def row_sim_minhash_capped_corpus(self):
        # the same blocker with the pipeline's production bucket cap —
        # the round-3 scale guard; on this corpus the near-dup clusters
        # are small so the cap is recall-neutral and the row isolates
        # its cost
        from pdf_knowledge_extractor_spark.operators.similarity import (
            minhash_blocked_cosine_pairs,
        )

        tfidf = self._ensure_pipeline()
        self.measure(
            "sim_minhash_capped_corpus",
            lambda: minhash_blocked_cosine_pairs(
                tfidf, threshold=0.7, max_bucket_size=400
            ).count(),
            self.repeats,
        )

    def row_sim_prefix(self):
        # prefix filtering is EXACT but Σ prefix_df² — measured 225s on
        # the full 50k corpus (the flat-weight content defeats the
        # prefix bound; that is why minhash banding is the default
        # scale path). Bench it on a 10k-doc slice so the row tracks
        # regressions without dominating the suite.
        from pyspark.sql import functions as F

        from pdf_knowledge_extractor_spark.operators.similarity import (
            prefix_cosine_pairs,
        )

        tfidf = self._ensure_pipeline()
        prefix_docs = 10_000
        sub = tfidf.join(
            F.broadcast(
                self.corpus.select("doc_id").orderBy("doc_id")
                .limit(prefix_docs)
            ),
            "doc_id",
        )
        self.measure(
            f"sim_prefix_corpus_{prefix_docs // 1000}k",
            lambda: prefix_cosine_pairs(sub, threshold=0.7).count(),
            self.repeats,
        )

    def row_kg_pipeline_clustered(self):
        # the CLUSTERED pipeline end-to-end (VERDICT r3 item 2): real
        # KMeans (k pinned to 8 — production runs at known k; the
        # silhouette search is a k-fold driver loop benched in pytest)
        # + cluster summaries + the O(nnz) centroid coherence +
        # in_cluster triples. Median of `repeats` fresh passes.
        def run():
            self.spark.catalog.clearCache()
            release_checkpointed_results()
            cfg = PipelineConfig(
                similarity_strategy="minhash",
                with_clusters=True,
                cluster_k=8,
                coherence_mode="centroid",
            )
            res = run_pipeline(
                self.spark, self.corpus, cfg, id_col="doc_id",
                text_col="content", lang_col="lang",
            )
            self.state["clustered_triples"] = res["triples"].count()
            res["clusters"].count()
            return res

        self.measure("kg_pipeline_clustered", run, self.repeats)

    def corpus_row(self, name: str):
        return {
            "kg_pipeline": self.row_kg_pipeline,
            "sim_minhash_corpus": self.row_sim_minhash_corpus,
            "sim_minhash_fullsig_corpus": self.row_sim_minhash_fullsig_corpus,
            "sim_minhash_capped_corpus": self.row_sim_minhash_capped_corpus,
            "sim_prefix_corpus_10k": self.row_sim_prefix,
            "kg_pipeline_clustered": self.row_kg_pipeline_clustered,
        }[name]


def run_one_row(name: str) -> None:
    """Fresh-JVM single row (--one-row): warmup + that row only,
    emitting the row's JSON fragment on stdout's last line."""
    b = _Bench()
    if name in HEADLINE:
        b.measure(
            name, lambda: b.qs[name](b.spark, b.sf_dir).count(), b.repeats
        )
        release_checkpointed_results()
    else:
        b.corpus_row(name)()
    print(json.dumps({
        "timings": b.timings,
        "runs": b.all_runs,
        "host_census": b.host_census,
        "triples": b.state.get("triples"),
        "clustered_triples": b.state.get("clustered_triples"),
    }))


def run_fresh_sessions() -> None:
    """--fresh-session-per-row orchestrator: one subprocess JVM per
    row, same output schema as the shared path plus
    "fresh_session": true."""
    sf_dir, cpus, sf, corpus_rows, profile, repeats, pipe_repeats = _env()
    timings: dict[str, float] = {}
    all_runs: dict[str, list[float]] = {}
    host_census: dict[str, dict] = {}
    extras: dict = {}
    t0 = time.perf_counter()
    names = list(HEADLINE) + list(CORPUS_ROWS_ORDER)
    for name in names:
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--one-row", name],
            capture_output=True, text=True,
        )
        if proc.returncode != 0:
            print(proc.stderr[-2000:], file=sys.stderr)
            raise SystemExit(f"row {name} failed in fresh session")
        frag = json.loads(proc.stdout.strip().splitlines()[-1])
        timings.update(frag["timings"])
        all_runs.update(frag["runs"])
        host_census.update(frag["host_census"])
        for k in ("triples", "clustered_triples"):
            if frag.get(k) is not None:
                extras[k] = frag[k]
    total = round(time.perf_counter() - t0, 3)
    print(json.dumps({
        "metric": "headline_queries_plus_kg_pipeline",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "queries_runs": all_runs,
        "host_census": host_census,
        "fresh_session": True,
        "repeats": repeats,
        "pipeline_repeats": pipe_repeats,
        "sf": sf,
        "corpus_rows": corpus_rows,
        "triples": extras.get("triples"),
        "triples_per_sec": round(
            extras.get("triples", 0) / timings["kg_pipeline"], 1
        ),
        "clustered_triples": extras.get("clustered_triples"),
        "cpus": cpus,
        "profile": profile,
    }))


def main() -> None:
    if "--one-row" in sys.argv:
        run_one_row(sys.argv[sys.argv.index("--one-row") + 1])
        return
    if ("--fresh-session-per-row" in sys.argv
            or os.environ.get("PKE_BENCH_FRESH_SESSION") == "1"):
        run_fresh_sessions()
        return

    b = _Bench()
    t_total0 = time.perf_counter()
    for name in HEADLINE:
        b.measure(
            name, lambda q=b.qs[name]: q(b.spark, b.sf_dir).count(),
            b.repeats,
        )
    # the dedup/similarity rows above localCheckpoint their result pair
    # tables (_finalize); release the blocks now that they're counted —
    # leftover checkpoint storage measurably taxed later rows (the
    # round-4 sim_minhash_corpus 5.3->9.5s regression; attribution in
    # BENCH/attrib_regression_r5.json)
    release_checkpointed_results()

    for name in CORPUS_ROWS_ORDER:
        b.corpus_row(name)()

    total = round(time.perf_counter() - t_total0, 3)
    print(
        json.dumps(
            {
                "metric": "headline_queries_plus_kg_pipeline",
                "value": total,
                "unit": "sec",
                "queries": b.timings,
                "queries_runs": b.all_runs,
                "host_census": b.host_census,
                "repeats": b.repeats,
                "pipeline_repeats": b.pipe_repeats,
                "sf": b.sf,
                "corpus_rows": b.corpus_rows,
                "triples": b.state["triples"],
                "triples_per_sec": round(
                    b.state["triples"] / b.timings["kg_pipeline"], 1
                ),
                "clustered_triples": b.state.get("clustered_triples"),
                "cpus": b.cpus,
                "profile": b.profile,
            }
        )
    )


if __name__ == "__main__":
    main()
