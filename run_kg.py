#!/usr/bin/env python
"""spark-submit entry point for the KG-construction pipeline.

Cluster usage (the north-rule deployment shape):

    spark-submit --py-files pke.zip run_kg.py \
        --input  <parquet/iceberg path or table of (repo,path,commit,lang,content)> \
        --output <triples output path> \
        --checkpoint <resumable stage dir> \
        --strategy minhash

Local smoke:

    python run_kg.py --synthetic 10000 --output /tmp/kg_out
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", help="parquet path with the corpus table")
    ap.add_argument("--synthetic", type=int, default=0,
                    help="generate N synthetic corpus rows instead of --input")
    ap.add_argument("--output", required=True, help="triples output dir")
    ap.add_argument("--checkpoint", help="resumable checkpoint dir")
    ap.add_argument("--id-col", default="doc_id")
    ap.add_argument("--text-col", default="content")
    ap.add_argument("--lang-col", default="lang")
    ap.add_argument("--strategy", default="minhash",
                    choices=["exact", "prefix", "minhash"])
    ap.add_argument("--threshold", type=float, default=0.7)
    ap.add_argument("--max-bucket", type=int, default=400,
                    help="minhash blocker degenerate-bucket cap "
                         "(0 disables)")
    ap.add_argument("--sig-max-df", default="auto",
                    choices=["auto", "none"],
                    help="banding-signature head-term treatment: "
                         "'auto' (default: probe-verified stop-list) "
                         "or 'none' (full signatures)")
    ap.add_argument("--hot-mode", default="verify",
                    choices=["verify", "drop"],
                    help="over-cap bucket treatment: 'verify' "
                         "density-probes and keeps genuinely dense "
                         "buckets (full pair recall on real near-dup "
                         "families); 'drop' removes them outright")
    ap.add_argument("--no-context", action="store_true",
                    help="skip concept context-sentence extraction")
    ap.add_argument("--with-clusters", action="store_true")
    ap.add_argument("--cluster-k", type=int, default=None,
                    help="pin KMeans k (skips the silhouette search)")
    ap.add_argument("--coherence", default="exact",
                    choices=["exact", "centroid"],
                    help="cluster coherence mode (centroid = O(nnz) "
                         "scale path)")
    ap.add_argument("--cpus", type=int, default=None,
                    help="local[] cores; omit under spark-submit")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    if args.cpus is not None:
        from pdf_knowledge_extractor_spark.session import get_spark

        spark = get_spark("pke-run", cpus=args.cpus)
    else:
        # under spark-submit the cluster config owns master/resources
        spark = SparkSession.builder.appName("pke-run").getOrCreate()

    from pdf_knowledge_extractor_spark.corpus import generate_corpus
    from pdf_knowledge_extractor_spark.plans.pipeline import (
        PipelineConfig,
        run_pipeline,
    )
    from pdf_knowledge_extractor_spark.plans.triples import write_triples

    if args.synthetic:
        docs = generate_corpus(spark, args.synthetic)
    elif args.input:
        docs = spark.read.parquet(args.input)
    else:
        ap.error("need --input or --synthetic")
        return

    cfg = PipelineConfig(
        similarity_strategy=args.strategy,
        similarity_threshold=args.threshold,
        similarity_max_bucket=args.max_bucket or None,
        similarity_hot_mode=args.hot_mode,
        similarity_signature_max_df=(
            "auto" if args.sig_max_df == "auto" else None
        ),
        with_context=not args.no_context,
        with_clusters=args.with_clusters,
        cluster_k=args.cluster_k,
        coherence_mode=args.coherence,
    )
    t0 = time.perf_counter()
    if args.checkpoint:
        from pdf_knowledge_extractor_spark.sources.checkpoint import (
            run_pipeline_checkpointed,
        )

        res = run_pipeline_checkpointed(
            spark, docs, args.checkpoint, cfg,
            id_col=args.id_col, text_col=args.text_col,
            lang_col=args.lang_col,
        )
    else:
        res = run_pipeline(
            spark, docs, cfg, id_col=args.id_col, text_col=args.text_col,
            lang_col=args.lang_col,
        )
    write_triples(res["triples"], args.output)
    n = spark.read.parquet(args.output).count()
    dt = time.perf_counter() - t0
    print(json.dumps({
        "triples": n,
        "seconds": round(dt, 2),
        "triples_per_sec": round(n / dt, 1),
        "output": args.output,
    }))


if __name__ == "__main__":
    sys.exit(main())
