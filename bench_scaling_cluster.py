#!/usr/bin/env python
"""Scaling evidence on SEPARATE executor JVMs (local-cluster mode).

`local[K]` puts all executor threads in ONE JVM — they share a heap,
an allocator and a GC, which a real `spark-submit` deployment does
not (BASELINE.json contemplates N executors -> 4N executors, each its
own JVM). Spark's local-cluster[N, cores, mem] test master launches N
genuine executor processes, so this harness is the faithful sandbox
proxy for the two-cluster-size criterion:

    python bench_scaling_cluster.py --run 2     # N  = 2 executors x 1 core
    python bench_scaling_cluster.py --run 8     # 4N = 8 executors x 1 core
    python bench_scaling_cluster.py             # both + efficiency report

Per-executor memory is constant across levels (scale out, not up).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

ROWS = int(os.environ.get("PKE_SCALE_ROWS", "300000"))
# degenerate-bucket cap for the similarity blocker; 0 = uncapped
# (the round-2 configuration — used as the attribution control)
MAX_BUCKET = int(os.environ.get("PKE_SCALE_MAX_BUCKET", "400")) or None
# hot-bucket treatment: "verify" (round-4 default: density-probed) or
# "drop" (round-3 behavior, the attribution-comparable setting)
HOT_MODE = os.environ.get("PKE_SCALE_HOT_MODE", "verify")
# banding-signature head-term treatment: "auto" (the round-6 engine
# DEFAULT — probe-verified stop-list) or "none" (full signatures, the
# measurement baseline)
_sig_raw = os.environ.get("PKE_SCALE_SIG_MAX_DF", "auto").strip().lower()
if _sig_raw not in ("auto", "none"):
    raise SystemExit("PKE_SCALE_SIG_MAX_DF must be 'auto' or 'none'")
SIG_MAX_DF = "auto" if _sig_raw == "auto" else None
EXEC_MEM_MB = int(os.environ.get("PKE_SCALE_EXEC_MEM", "8192"))
# body-vocabulary policy for the synthetic corpus: "fixed" (legacy
# 4,000-word vocabulary — densifies as N grows: df ∝ N, bucket
# occupancy ∝ N, candidates ∝ N², a corpus artifact), "heaps"
# (V = 30·√N — vocabulary grows with N like real corpora), or an
# explicit integer size
VOCAB = os.environ.get("PKE_SCALE_VOCAB", "fixed")
# uncompressed event logs for per-stage profiling (tools/profile_scaling.py)
EVENTLOG_DIR = os.environ.get("PKE_SCALE_EVENTLOG", "")
# override the per-level max(executors, 4) shuffle-partition policy with a
# CONSTANT count at both levels (partitioning sized to the DATA, as a real
# deployment does, so the octave varies only executor count)
SHUFFLE_PARTITIONS = int(os.environ.get("PKE_SCALE_SHUFFLE_PARTS", "0")) or None
# source partition count for the generated corpus (0 = follow
# SHUFFLE_PARTITIONS, else the generator's own default)
SOURCE_PARTITIONS = int(os.environ.get("PKE_SCALE_SOURCE_PARTS", "0")) or None
LEVELS = (
    int(os.environ.get("PKE_SCALE_N", "2")),
    int(os.environ.get("PKE_SCALE_4N", "8")),
)


def _foreign_compute_procs() -> list[str]:
    """Foreign-process census — shared impl (hostload.py); see that
    module for why every leg records it."""
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from pdf_knowledge_extractor_spark.hostload import foreign_compute_procs

    return foreign_compute_procs()


def measured_run(n_exec: int) -> dict:
    from pyspark.sql import SparkSession

    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from pdf_knowledge_extractor_spark.corpus import (
        generate_corpus,
        heaps_vocab,
    )
    from pdf_knowledge_extractor_spark.plans.pipeline import (
        PipelineConfig,
        run_pipeline,
    )

    if VOCAB == "heaps":
        n_vocab = heaps_vocab(ROWS)
    elif VOCAB == "fixed":
        n_vocab = None
    else:
        n_vocab = int(VOCAB)

    builder = (
        SparkSession.builder
        .master(f"local-cluster[{n_exec},1,{EXEC_MEM_MB}]")
        .appName(f"scale-cluster-{n_exec}")
        .config("spark.sql.shuffle.partitions",
                str(SHUFFLE_PARTITIONS or max(n_exec, 4)))
        .config("spark.default.parallelism", str(n_exec))
        # AQE off for the measurement: fixed plan across levels
        .config("spark.sql.adaptive.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # match session.py: keep collect_list aggregates hash-based
        # (the 128-key default falls back to a sort that spills the
        # doc-vector and concept-context builds against the shared
        # disk — a parallelism-independent cost the octave profiles
        # measured)
        .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
                "2000000")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "8g")
        # LADDER-ONLY zstd shuffle/spill blocks (the engine default
        # stays lz4 — see session.py for the measured trade): the 4.8M
        # leg's live shuffle peaks at 81 GB under lz4, which filled the
        # ~81 GB sandbox disk twice
        # (BENCH/disk_census_4800000_lz4_diskfull_r6.log). zstd's ~19%
        # disk cut buys the margin the sandbox needs, at +25% wall on
        # these 1-core executors; the WHOLE ladder runs one codec so
        # the fitted exponent compares like with like, and the lz4
        # 1.2M/2.4M legs stay on the record as the codec A/B.
        .config("spark.io.compression.codec",
                os.environ.get("PKE_SCALE_IO_CODEC", "zstd"))
    )
    if EVENTLOG_DIR:
        os.makedirs(EVENTLOG_DIR, exist_ok=True)
        builder = (
            builder
            .config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", f"file://{EVENTLOG_DIR}")
            .config("spark.eventLog.compress", "false")
        )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    # warm-up outside the window: executor JVM launch, codegen, Arrow
    generate_corpus(spark, 2000).count()

    t0 = time.perf_counter()
    # source partitions sized to the DATA (constant across levels, like
    # SHUFFLE_PARTITIONS): defaultParallelism=2 would hand each fused
    # extract+partial-aggregate task ~ROWS/4 documents regardless of
    # executor count — a per-task memory footprint no real deployment
    # would configure
    corpus = generate_corpus(
        spark, ROWS, n_vocab=n_vocab,
        partitions=SOURCE_PARTITIONS or SHUFFLE_PARTITIONS or None,
    )
    res = run_pipeline(
        spark, corpus,
        PipelineConfig(similarity_strategy="minhash",
                       similarity_max_bucket=MAX_BUCKET,
                       similarity_hot_mode=HOT_MODE,
                       similarity_signature_max_df=SIG_MAX_DF),
        id_col="doc_id", text_col="content", lang_col="lang",
    )
    n_triples = res["triples"].count()
    dt = time.perf_counter() - t0
    spark.stop()
    return {
        "executors": n_exec,
        "shuffle_partitions": SHUFFLE_PARTITIONS or max(n_exec, 4),
        "rows": ROWS,
        "vocab": VOCAB,
        "n_vocab": n_vocab or 4000,
        "max_bucket": MAX_BUCKET,
        "hot_mode": HOT_MODE if MAX_BUCKET else None,
        "signature_max_df": SIG_MAX_DF,
        "similarity_stats": res.get("similarity_stats") or {},
        "triples": n_triples,
        "seconds": round(dt, 2),
        "triples_per_sec": round(n_triples / dt, 1),
        "foreign_compute_procs": _foreign_compute_procs(),
    }


def main() -> None:
    if len(sys.argv) > 2 and sys.argv[1] == "--run":
        print(json.dumps(measured_run(int(sys.argv[2]))))
        return

    results = {}
    for n in LEVELS:
        out = subprocess.run(
            [sys.executable, __file__, "--run", str(n)],
            capture_output=True, text=True,
            cwd=os.path.dirname(os.path.abspath(__file__)) or ".",
        )
        if out.returncode != 0:
            sys.stderr.write(out.stderr[-20000:])
            raise SystemExit(
                f"--run {n} failed with code {out.returncode} "
                "(inner stderr above)"
            )
        results[n] = json.loads(out.stdout.strip().splitlines()[-1])
        print(results[n], flush=True)

    n_lo, n_hi = LEVELS
    lo, hi = results[n_lo], results[n_hi]
    factor = n_hi / n_lo
    efficiency = round((lo["seconds"] / hi["seconds"]) / factor, 3)
    print(json.dumps({"efficiency": efficiency, "lo": lo, "hi": hi}))


if __name__ == "__main__":
    main()
