"""Round-7 kg_pipeline phase decomposition.

Runs the bench-identical kg_pipeline (and optionally the clustered
variant) at a given corpus size and prints per-phase wall times:
internal run_pipeline phases are captured by intercepting
sc.setJobDescription (run_pipeline brackets each materialization with
a description), and the lazily-evaluated tail (similarity join,
related, graph, triples) is decomposed by timing the persisted
intermediates' first actions in dependency order.

Usage: python tools/profile_pipeline_r07.py [rows] [--clustered] [--passes N]
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

ROOT = str(Path(__file__).resolve().parents[1])
sys.path.insert(0, ROOT)
# the Python workers (UDF queries) must import the same tree; they
# inherit PYTHONPATH from the JVM that get_spark starts below
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
)

from pdf_knowledge_extractor_spark.corpus import generate_corpus  # noqa: E402
from pdf_knowledge_extractor_spark.operators.ann import (  # noqa: E402
    release_checkpointed_results,
)
from pdf_knowledge_extractor_spark.plans.pipeline import (  # noqa: E402
    PipelineConfig,
    run_pipeline,
)
from pdf_knowledge_extractor_spark.session import get_spark  # noqa: E402


def main() -> None:
    rows = int(sys.argv[1]) if len(sys.argv) > 1 else 500_000
    clustered = "--clustered" in sys.argv
    passes = 2
    if "--passes" in sys.argv:
        passes = int(sys.argv[sys.argv.index("--passes") + 1])
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark("pke-profile-r07", cpus=cpus)
    sc = spark.sparkContext

    corpus = generate_corpus(spark, rows)

    # intercept setJobDescription to timestamp phase boundaries
    marks: list[tuple[float, str | None]] = []
    orig = sc.setJobDescription

    def patched(desc):
        marks.append((time.perf_counter(), desc))
        return orig(desc)

    sc.setJobDescription = patched

    for p in range(passes):
        spark.catalog.clearCache()
        release_checkpointed_results()
        marks.clear()
        phases: dict[str, float] = {}
        t0 = time.perf_counter()
        cfg = PipelineConfig(
            similarity_strategy="minhash",
            **(
                dict(with_clusters=True, cluster_k=8,
                     coherence_mode="centroid")
                if clustered
                else {}
            ),
        )
        marks.append((t0, "plan"))
        res = run_pipeline(
            spark, corpus, cfg, id_col="doc_id", text_col="content",
            lang_col="lang",
        )
        t_planned = time.perf_counter()
        # internal phase deltas from the description marks
        seq = [(t, d) for t, d in marks]
        for (ta, da), (tb, _db) in zip(seq, seq[1:]):
            if da:
                phases[da] = phases.get(da, 0.0) + (tb - ta)
        if seq:
            last_t, last_d = seq[-1]
            if last_d:
                phases[last_d] = phases.get(last_d, 0.0) + (
                    t_planned - last_t
                )
        # tail decomposition: persisted sims first, then the full
        # triple count (which reuses the sim cache)
        t = time.perf_counter()
        orig("pke-prof: materialize similarities")
        n_pairs = res["similarities"].count()
        phases["tail: similarities"] = time.perf_counter() - t
        if clustered:
            t = time.perf_counter()
            orig("pke-prof: clusters relation")
            n_clusters = res["clusters"].count()
            phases["tail: clusters"] = time.perf_counter() - t
        t = time.perf_counter()
        orig("pke-prof: triples count")
        n_triples = res["triples"].count()
        phases["tail: triples"] = time.perf_counter() - t
        orig(None)
        total = time.perf_counter() - t0
        out = {
            "pass": p,
            "rows": rows,
            "clustered": clustered,
            "total_s": round(total, 2),
            "n_pairs": n_pairs,
            "n_triples": n_triples,
            "phases": {k: round(v, 2) for k, v in phases.items()},
        }
        print(json.dumps(out), flush=True)


if __name__ == "__main__":
    main()
