#!/usr/bin/env python
"""Where should a document stop emitting 2-subset prefix keys?

``dedup.ngram_jaccard_pairs``' prefix path joins a document on the
2-subsets of its prefix while the prefix has at most
``dedup._SUBSET_PREFIX_MAX`` elements (C(p, 2) key rows), and on its
single prefix elements past that (p key rows). This script times the
forced prefix path (``_PREFIX_PATH_MIN_POSTS`` = 0) at several values
of that bound on a corpus of mixed document lengths, one fresh JVM per
(threshold, bound) point, and reports per point:

- ``seconds``: wall of the ``ngram_jaccard_pairs`` call (the result is
  materialized inside it);
- ``candidate_s`` / ``candidates``: wall and output of the candidate
  step alone (prefix rows, keys, ``setjoin.prefix_pairs``) over
  cached postings;
- ``rows`` / ``md5``: the output, which must not depend on the bound;
- ``key_rows``: rows entering the key join;
- ``docs_subset`` / ``docs_both`` / ``docs_single``: documents that
  emit only 2-subset keys, both shapes, or only single keys.

``inf`` is the all-2-subset shape (single keys only for documents of
at most floor(1/t) shingles). The corpus is ``generate_corpus`` bodies
of each length in ``--body-words``, ``--rows`` rows each, with 10% of
rows in mutated near-duplicate families; it is written once to
``OUT_DIR/corpus`` so no point times its generation. ``--corpus``
reads an existing (doc_id, text) parquet instead;
``--candidates-only`` times only the candidate step.

    python tools/bench_prefix_bound.py OUT_DIR
    python tools/bench_prefix_bound.py OUT_DIR --bounds 0,64,256,inf \\
        --thresholds 0.5,0.8 --repeats 2
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def _spark(name: str):
    from pdf_knowledge_extractor_spark.session import get_spark

    return get_spark(name, cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "4")))


def write_corpus(path: str, rows: int, body_words: list[int]) -> None:
    from pdf_knowledge_extractor_spark.corpus import generate_corpus
    from pyspark.sql import functions as F

    spark = _spark("prefix-bound-corpus")
    parts = [
        generate_corpus(spark, rows, body_words=w, boilerplate_fraction=0.1)
        .select(F.xxhash64(F.lit(w), "doc_id").alias("doc_id"),
                F.col("content").alias("text"))
        for w in body_words
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    out.write.mode("overwrite").parquet(path)
    spark.stop()


def run_point(corpus: str, threshold: float, bound: float,
              whole: bool = True) -> dict:
    from pyspark.sql import functions as F

    from pdf_knowledge_extractor_spark.operators import dedup
    from pdf_knowledge_extractor_spark.operators.setjoin import prefix_pairs

    spark = _spark("prefix-bound")
    docs = spark.read.parquet(corpus).select("doc_id", "text")
    docs.count()
    dedup._PREFIX_PATH_MIN_POSTS = 0
    dedup._SUBSET_PREFIX_MAX = bound
    seconds, rows = None, []
    if whole:
        t0 = time.perf_counter()
        pairs = dedup.ngram_jaccard_pairs(docs, threshold=threshold, n=3,
                                          max_df=None)
        seconds = round(time.perf_counter() - t0, 2)
        rows = sorted(
            (r["doc1_id"], r["doc2_id"], r["inter"], r["sz1"], r["sz2"])
            for r in pairs.collect()
        )
    # the candidate step alone, over cached postings
    posts = dedup.shingle_posting(docs).persist()
    posts.count()
    t0 = time.perf_counter()
    prefix = dedup._jaccard_prefix(posts, threshold).persist()
    candidates = prefix_pairs(dedup._jaccard_keys(prefix)).count()
    candidate_s = time.perf_counter() - t0
    key_rows = dedup._jaccard_keys(prefix).count()
    shapes = {
        (r["_single"], r["_subset"]): r["n"]
        for r in prefix.groupBy("doc_id", "_single", "_subset").count()
        .groupBy("_single", "_subset").agg(F.count("*").alias("n"))
        .collect()
    }
    spark.stop()
    return {
        "threshold": threshold,
        "bound": "inf" if bound == float("inf") else int(bound),
        "seconds": seconds,
        "candidate_s": round(candidate_s, 2),
        "rows": len(rows),
        "md5": hashlib.md5(repr(rows).encode()).hexdigest()[:12],
        "candidates": candidates,
        "key_rows": key_rows,
        "docs_subset": shapes.get((False, True), 0),
        "docs_both": shapes.get((True, True), 0),
        "docs_single": shapes.get((True, False), 0),
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("out_dir")
    ap.add_argument("--rows", type=int, default=400)
    ap.add_argument("--body-words", default="150,300,600,1200")
    ap.add_argument("--bounds", default="0,64,256,inf")
    ap.add_argument("--thresholds", default="0.5,0.8")
    ap.add_argument("--repeats", type=int, default=1)
    ap.add_argument("--corpus")
    ap.add_argument("--candidates-only", action="store_true",
                    help="skip the whole-operator timing and output")
    ap.add_argument("--point", nargs=2, metavar=("THRESHOLD", "BOUND"))
    args = ap.parse_args()
    corpus = args.corpus or os.path.join(args.out_dir, "corpus")
    if args.point:
        print(json.dumps(run_point(corpus, float(args.point[0]),
                                   float(args.point[1]),
                                   not args.candidates_only)))
        return
    if not os.path.exists(corpus):
        write_corpus(corpus, args.rows,
                     [int(w) for w in args.body_words.split(",")])
    bounds = args.bounds.split(",")
    for rep in range(args.repeats):
        for t in args.thresholds.split(","):
            # alternate the order so no bound always runs first
            for b in (bounds if rep % 2 == 0 else bounds[::-1]):
                out = subprocess.run(
                    [sys.executable, __file__, args.out_dir,
                     "--corpus", corpus, "--point", t, b]
                    + ["--candidates-only"] * args.candidates_only,
                    capture_output=True, text=True, check=True,
                )
                print(out.stdout.strip().splitlines()[-1], flush=True)


if __name__ == "__main__":
    main()
