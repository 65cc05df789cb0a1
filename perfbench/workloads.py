"""The benchmark's workloads: input generation, the timed pass, the
traced pass and the output checks.

Each workload builds its input table from the seed, writes it to
parquet and hands the engine only what it reads back. See README.md
for why each workload and each size was chosen.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from pdf_knowledge_extractor_spark.corpus import generate_corpus
from pdf_knowledge_extractor_spark.operators.ann import (
    release_checkpointed_results,
)
from pdf_knowledge_extractor_spark.operators.concepts import (
    aggregate_concepts_canonical,
    with_concept_contexts,
)
from pdf_knowledge_extractor_spark.operators.dedup import (
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_near_dup_pairs,
)
from pdf_knowledge_extractor_spark.operators.graph import build_graph
from pdf_knowledge_extractor_spark.operators.mentions import (
    all_mentions,
    keyword_mentions,
)
from pdf_knowledge_extractor_spark.operators.related import (
    entity_relationships,
    related_documents,
)
from pdf_knowledge_extractor_spark.operators.similarity import (
    collect_signature_head_census,
    minhash_blocked_cosine_pairs,
    with_similarity_metadata,
)
from pdf_knowledge_extractor_spark.operators.tfidf import tfidf_longform
from pdf_knowledge_extractor_spark.plans import triples as T3
from pdf_knowledge_extractor_spark.plans.pipeline import (
    PipelineConfig,
    enrich_documents,
    run_pipeline,
)
from pdf_knowledge_extractor_spark.sources.checkpoint import (
    run_pipeline_checkpointed,
)
from pdf_knowledge_extractor_spark.sources.readers import spread_input

from probes import digest

HERE = os.path.dirname(os.path.abspath(__file__))

# The corpus generator is a pure function of the row id. Its near-dup
# rows repeat every 23 ids and its empty / punctuation-only rows every
# 199, so a window of ids that starts on a multiple of 23*199 has
# exactly the shape of the window at id 0. The seed picks the window.
ALIGN = 23 * 199
SEED_STRIDE = 16 * ALIGN
SEED_WINDOWS = 1 << 16

ID, TEXT, LANG = "doc_id", "content", "lang"


def row_id():
    """The generator's row id, which it writes into the file path."""
    return F.regexp_extract("path", r"file(\d+)\.", 1).cast("long")


# the traced kg_code run's checkpoint: its rows, and the seconds the
# write and resume (~134 and ~85 jobs), and related_documents, take at
# most on a 4-core host; a step that would pass the deadline is skipped
CHECKPOINT_ROWS = 200
CHECKPOINT_NEEDS_S = 80
RELATED_NEEDS_S = 20


class _ShiftedRange:
    """Passed to ``generate_corpus`` in place of the session: its row
    ids start at ``offset`` instead of 0. The generator calls nothing
    on the session but ``range``."""

    def __init__(self, spark, offset: int):
        self._spark, self._offset = spark, offset

    def range(self, start, end, step, partitions):
        return self._spark.range(start + self._offset, end + self._offset,
                                 step, partitions)


def near_dup_pairs_expected(offset: int, n_rows: int) -> int:
    """Rows whose body the generator copies from the previous row
    (id % 23 == 1), where neither row is emptied (id % 199 in {7, 8})."""
    return sum(
        1 for i in range(offset + 1, offset + n_rows)
        if i % 23 == 1 and i % 199 not in (7, 8) and (i - 1) % 199 not in (7, 8)
    )


def recorded_digests() -> dict:
    with open(os.path.join(HERE, "digests.json")) as f:
        return json.load(f)


class Workload:
    """One workload: ``make_inputs`` builds the input table from the
    seed, ``timed_pass`` is the measured pass, ``check`` verifies its
    output, and ``traced_pass`` is the same work split into layers."""

    name = ""
    rows = 0
    corpus_args: dict = {}

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.pass_no = 0

    def make_inputs(self, seed: int) -> None:
        self.offset = (seed % SEED_WINDOWS) * SEED_STRIDE
        path = os.path.join(self.ctx.work, "input")
        generate_corpus(
            _ShiftedRange(self.spark, self.offset), self.rows,
            partitions=self.ctx.cpus, **self.corpus_args,
        ).drop("bp_family").write.parquet(path)
        self.docs = self.spark.read.parquet(path)

    def _out(self, tag: str) -> str:
        self.pass_no += 1
        return os.path.join(self.ctx.work, f"out_{tag}_{self.pass_no}")

    def reset(self) -> None:
        """Drop what a pass cached, so the next one starts equal."""
        self.spark.catalog.clearCache()
        release_checkpointed_results()

    def expected_digest(self, seed: int) -> str | None:
        return recorded_digests().get(self.name, {}).get(
            f"{seed}:{self.rows}"
        )

    def traced_extra(self, tracer, report) -> None:
        """Layers measured after the traced pass; none by default."""


# -- kg_code ------------------------------------------------------------

def _rounded_triples(df):
    """Triples with their numbers rounded to 6 places. A numeric object
    such as a concept's importance score is written with all the digits
    of its double, and those change with the order of summation, that
    is with the input's partitioning."""
    num = F.round(F.expr("try_cast(obj AS DOUBLE)"), 6).cast("string")
    return df.select("subj", "pred", F.coalesce(num, "obj").alias("obj"),
                     F.round("weight", 6).alias("weight"), "prov")


class KgCode(Workload):
    """``run_pipeline`` with the shipped config, then ``write_triples``."""

    name = "kg_code"
    rows = 600

    def timed_pass(self) -> str:
        res = run_pipeline(self.spark, self.docs, PipelineConfig(),
                           id_col=ID, text_col=TEXT, lang_col=LANG)
        path = self._out("timed")
        T3.write_triples(res["triples"], path)
        return path

    def check(self, path: str, seed: int) -> tuple[str, list[str]]:
        triples = self.spark.read.parquet(path)
        got = digest(_rounded_triples(triples))
        counts = {
            r["pred"]: r["count"]
            for r in triples.groupBy("pred").count().collect()
        }
        errors = []
        if counts.get("dc:title") != self.rows:
            errors.append(f"dc:title {counts.get('dc:title')} != {self.rows}")
        want_sim = near_dup_pairs_expected(self.offset, self.rows)
        if counts.get("similar_to", 0) < want_sim:
            errors.append(
                f"similar_to {counts.get('similar_to', 0)} < {want_sim} "
                "generated near-duplicate pairs"
            )
        if not counts.get("contains"):
            errors.append("no contains triples")
        want = self.expected_digest(seed)
        if want is not None and got != want:
            errors.append(f"digest {got} != recorded {want}")
        return got, errors

    def traced_pass(self, tracer) -> str:
        """``run_pipeline``'s calls in its order, each layer's output
        persisted and counted before the next call."""
        cfg, span = PipelineConfig(), tracer.span
        with span("pipeline.enrich_documents") as sp:
            enriched = enrich_documents(spread_input(self.docs), ID, TEXT)
            enriched = enriched.persist()
            n_docs = sp.counters["rows_out"] = enriched.count()
        with span("mentions") as sp:
            mentions = all_mentions(enriched, id_col=ID, text_col=TEXT,
                                    lang_col=LANG).persist()
            kw = keyword_mentions(enriched, ID, TEXT).persist()
            sp.counters["rows_out"] = mentions.count() + kw.count()
        with span("tfidf.tfidf_longform") as sp:
            tfidf = tfidf_longform(kw.select(ID, F.col("text")),
                                   n_docs=n_docs, normalize=True).persist()
            heads = collect_signature_head_census(tfidf)
            sp.counters["rows_out"] = tfidf.count()
        with span("concepts") as sp:
            concepts = aggregate_concepts_canonical(
                mentions, min_frequency=cfg.min_concept_frequency,
                max_concepts=cfg.max_concepts, n_salts=cfg.n_salts,
                materialize=True,
            )
            concepts = with_concept_contexts(
                concepts, enriched, id_col=ID, text_col=TEXT
            ).localCheckpoint(eager=True)
            sp.counters["rows_out"] = concepts.count()
        with span("similarity.minhash_blocked_cosine_pairs") as sp:
            stats: dict = {}
            pairs = minhash_blocked_cosine_pairs(
                tfidf, threshold=cfg.similarity_threshold,
                num_hashes=cfg.similarity_num_hashes,
                bands=cfg.similarity_bands,
                max_bucket_size=cfg.similarity_max_bucket,
                hot_bucket_mode=cfg.similarity_hot_mode, stats=stats,
                signature_max_df=cfg.similarity_signature_max_df,
                signature_probe_max_frac=(
                    cfg.similarity_signature_probe_max_frac
                ),
                n_docs=n_docs, signature_heads=heads,
            )
            sims = with_similarity_metadata(pairs).persist()
            n_pairs = sp.counters["rows_out"] = sims.count()
            cand = stats.get("candidate_pairs_subcap", 0)
            sp.counters.update(
                candidate_pairs=cand, pairs_out=n_pairs,
                useful_frac=n_pairs / cand if cand else 0.0,
                buckets_over_cap=stats.get("buckets_over_cap", 0),
            )
        with span("graph") as sp:
            nodes, edges = build_graph(enriched, concepts, sims, id_col=ID)
            rel = entity_relationships(concepts)
            edges = edges.unionByName(rel.select(
                F.col("entity1").alias("src"),
                F.col("pred").alias("edge_type"),
                F.col("entity2").alias("dst"),
                F.col("strength").alias("weight"),
            )).persist()
            sp.counters["rows_out"] = nodes.count() + edges.count()
        with span("triples") as sp:
            parts = [
                T3.edge_triples(edges),
                T3.document_property_triples(enriched, id_col=ID),
                T3.concept_property_triples(concepts),
                T3.concept_definition_triples(concepts, enriched,
                                              id_col=ID, text_col=TEXT),
            ]
            triples = parts[0]
            for p in parts[1:]:
                triples = triples.unionByName(p)
            path = self._out("traced")
            T3.write_triples(triples, path)
            sp.counters["rows_out"] = self.spark.read.parquet(path).count()
        self.tfidf = tfidf
        return path

    def traced_extra(self, tracer, report) -> None:
        """Layers that are not part of the pass, each run only if it can
        end before the deadline: the resume of a checkpoint, then
        ``related_documents`` (``run_pipeline`` returns it, but no triple
        consumes it)."""
        if self.ctx.time_left() > CHECKPOINT_NEEDS_S:
            self._checkpoint_and_resume(tracer, report)
        else:
            report["skipped"].append("checkpoint")
        if self.ctx.time_left() > RELATED_NEEDS_S:
            self._related(tracer)
        else:
            report["skipped"].append("related_documents")

    def _checkpoint_and_resume(self, tracer, report) -> None:
        # a checkpointed run writes every stage, then the resume reads
        # them back and must give the same triples; on the first rows
        # of the corpus, because both cost mostly a fixed number of jobs
        docs = self.docs.where(row_id() < self.offset + CHECKPOINT_ROWS)
        ckpt = os.path.join(self.ctx.work, "ckpt")
        got = {}
        for label in ("checkpoint.write",
                      "checkpoint.run_pipeline_checkpointed"):
            with tracer.span(label) as sp:
                out = run_pipeline_checkpointed(
                    self.spark, docs, ckpt,
                    id_col=ID, text_col=TEXT, lang_col=LANG,
                )
                got[label] = digest(_rounded_triples(out["triples"]))
                sp.counters["rows_out"] = int(got[label].split(":")[0])
            self.reset()
        report["checkpoint_digests"] = got
        if len(set(got.values())) != 1:
            report["errors"].append(f"resume disagrees with the write: {got}")

    def _related(self, tracer) -> None:
        from pyspark.sql import Window

        cfg = PipelineConfig()
        with tracer.span("related.related_documents") as sp:
            w = Window.partitionBy(ID).orderBy(F.desc("tf"), F.asc("term"))
            doc_kw = (
                self.tfidf.withColumn("_r", F.row_number().over(w))
                .filter(F.col("_r") <= cfg.per_doc_keywords)
                .select(ID, F.col("term").alias("text"))
            )
            related = related_documents(
                doc_kw, min_shared=cfg.min_shared_keywords,
                top_k=cfg.related_top_k, max_df_abs=cfg.related_max_df,
            ).persist()
            sp.counters["rows_out"] = related.count()


# -- dedup ---------------------------------------------------------------

DEDUP_OPS = (
    ("minhash_lsh_pairs", "jaccard", lambda d: minhash_lsh_pairs(
        d, threshold=0.8, text_col=TEXT, max_bucket_size=10)),
    ("simhash_near_dup_pairs", "hamming", lambda d: simhash_near_dup_pairs(
        d, max_hamming=3, text_col=TEXT)),
    ("ngram_jaccard_pairs", "jaccard", lambda d: ngram_jaccard_pairs(
        d, threshold=0.8, text_col=TEXT)),
)


class Dedup(Workload):
    """The three near-duplicate operators over a corpus with families
    of mutated boilerplate."""

    name = "dedup"
    rows = 600
    corpus_args = {"boilerplate_fraction": 0.2, "boilerplate_families": 4}

    def _run(self, docs, tracer=None) -> dict:
        out = {}
        for name, _score, op in DEDUP_OPS:
            # some operators return their pairs lazily: the count runs them
            if tracer is None:
                out[name] = op(docs)
                out[name].count()
                continue
            with tracer.span(f"dedup.{name}") as sp:
                out[name] = op(docs)
                sp.counters["rows_out"] = out[name].count()
        return out

    def timed_pass(self) -> dict:
        return self._run(self.docs)

    def traced_pass(self, tracer) -> dict:
        return self._run(self.docs, tracer)

    def check(self, results: dict, seed: int) -> tuple[str, list[str]]:
        errors, parts = [], []
        rows = {}
        for name, score, _op in DEDUP_OPS:
            df = results[name].select(
                "doc1_id", "doc2_id", F.round(score, 6).alias("score")
            )
            rows[name] = df
            d = digest(df)
            parts.append(d)
            if d.startswith("0:"):
                errors.append(f"{name}: no pairs")
        bad = rows["minhash_lsh_pairs"].join(
            rows["ngram_jaccard_pairs"], ["doc1_id", "doc2_id", "score"],
            "left_anti",
        ).count()
        if bad:
            errors.append(
                f"{bad} minhash pairs are not exact 3-gram Jaccard pairs"
            )
        got = "|".join(parts)
        want = self.expected_digest(seed)
        if want is not None and got != want:
            errors.append(f"digest {got} != recorded {want}")
        return got, errors


WORKLOADS = {w.name: w for w in (KgCode, Dedup)}
