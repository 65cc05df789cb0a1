"""Triple materialization — the engine's target output.

The (subj, pred, obj) triple set reproduces the reference's RDF export
vocabulary (exporters/data_analysis.py:1016-1196) plus the knowledge
graph edge set (semantic_analyzer.py:511-572):

edge triples:
  (doc,       'contains',   concept)   weight = concept importance
  (doc1,      'similar_to', doc2)      weight = cosine score
  (entity1,   'related_to', entity2)   weight = mean importance
  (doc,       'in_cluster', cluster)   weight = 1.0
node-property triples (K5 predicates):
  (doc,     'pdf:wordCount',       n)        (doc, 'pdf:characterCount', n)
  (doc,     'pdf:sentimentScore',  s)        (doc, 'pdf:sentimentLabel', l)
  (doc,     'pdf:documentType',    t)
  (doc,     'dc:title',            doc id)   (exporters/data_analysis.py:1117-1119)
  (doc,     'dct:created',         iso ts)   (exporters/data_analysis.py:1135-1137)
  (concept, 'pdf:conceptType',     t)        (concept, 'pdf:importanceScore', s)
  (concept, 'pdf:frequency',       n)        (concept, 'skos:prefLabel', text)
  (concept, 'skos:definition',     first context sentence[:200])
                                             (exporters/data_analysis.py:1159-1164)

Output schema: triples(subj, pred, obj, weight, prov) — partitioned by
pred (then bucketable by subj at real scale; plain parquet partitioning
here since Iceberg jars are not in the image).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pdf_knowledge_extractor_spark.operators.concepts import concept_id

TRIPLE_COLS = ("subj", "pred", "obj", "weight", "prov")


def _shape(df: DataFrame) -> DataFrame:
    return df.select(
        F.col("subj").cast("string"),
        F.col("pred").cast("string"),
        F.col("obj").cast("string"),
        F.col("weight").cast("double"),
        F.col("prov").cast("string"),
    )


def edge_triples(edges: DataFrame) -> DataFrame:
    return _shape(
        edges.select(
            F.col("src").alias("subj"),
            F.col("edge_type").alias("pred"),
            F.col("dst").alias("obj"),
            F.col("weight"),
            F.lit("graph").alias("prov"),
        )
    )


def snapshot_created_at(docs: DataFrame) -> str:
    """Deterministic dct:created default for ``docs`` (the enriched
    documents, which carry ``content_sha256``). The reference stamps
    export wall time (data_analysis.py:1136), so two builds of
    identical input differ unless the caller pins a timestamp (VERDICT
    r4 item 7). This stamp is an ISO-8601 UTC rendering (epoch seconds
    in [0, 2^31)) of a fingerprint of the input instead: same input,
    same stamp; changed input, (almost surely) another stamp. It is
    not a wall-clock claim, and provenance-grade exports pin
    ``PipelineConfig.created_at``."""
    return snapshot_stamp(docs.agg(*snapshot_aggregates()).first())


def snapshot_aggregates() -> list:
    """The fingerprint: three order-independent aggregates of the
    per-doc content hashes, ``x`` (bit_xor), ``n`` (count, which is
    the row count: xxhash64 is never null) and ``s`` (a wrapping sum).
    bit_xor alone cancels identical contents pairwise, so adding an
    even number of duplicates went unseen (ADVICE r5 #3); the count
    catches cardinality changes, the sum equal-cardinality
    multiplicity swaps (a dup of A and one of B -> two of A)."""
    h64 = F.xxhash64(F.col("content_sha256"))
    return [
        F.bit_xor(h64).alias("x"),
        F.count(h64).alias("n"),
        # pre-reduced to 32 bits, the 64-bit accumulator cannot
        # overflow under ANSI until ~2^32 rows
        (F.sum(F.pmod(h64, F.lit(1 << 32))) % F.lit(1 << 32)).alias("s"),
    ]


def snapshot_stamp(row) -> str:
    """The ISO stamp of a row of :func:`snapshot_aggregates`."""
    import datetime as _dt

    mixed = (
        (int(row["x"] or 0) & 0xFFFFFFFFFFFFFFFF)
        ^ (int(row["n"] or 0) * 0x9E3779B97F4A7C15)
        ^ (int(row["s"] or 0) * 0xC2B2AE3D27D4EB4F)
    ) & 0xFFFFFFFFFFFFFFFF
    h = mixed & 0x7FFFFFFF
    return _dt.datetime.fromtimestamp(h, _dt.timezone.utc).replace(
        tzinfo=None
    ).isoformat()


def document_property_triples(enriched_docs: DataFrame,
                              id_col: str = "doc_id",
                              created_at: str | None = None) -> DataFrame:
    """enriched docs with word_count/char_count/sentiment/doc_type ->
    one triple per property (K5 document block,
    exporters/data_analysis.py:1117-1137).

    ``created_at``: the dct:created timestamp (reference stamps
    datetime.now().isoformat() at export time, data_analysis.py:1136).
    Pass a fixed ISO string for explicit provenance (the driver
    contract does); None derives a deterministic snapshot sentinel
    (:func:`snapshot_created_at`, one agg job), so two builds of the
    same input are byte-identical by default. dc:title = the document
    id, as in _create_document_rdf (data_analysis.py:1118-1119)."""
    if created_at is None:
        created_at = snapshot_created_at(enriched_docs)
    # single scan: build an array of (pred, obj, weight) structs and
    # explode — one stage instead of seven unioned scans
    d = enriched_docs
    subj = F.col(id_col).cast("string")
    entries = F.array(
        F.struct(
            F.lit("dc:title").alias("pred"),
            F.col(id_col).cast("string").alias("obj"),
            F.lit(1.0).alias("weight"),
        ),
        F.struct(
            F.lit("dct:created").alias("pred"),
            F.lit(created_at).alias("obj"),
            F.lit(1.0).alias("weight"),
        ),
        F.struct(
            F.lit("pdf:wordCount").alias("pred"),
            F.col("word_count").cast("string").alias("obj"),
            F.lit(1.0).alias("weight"),
        ),
        F.struct(
            F.lit("pdf:characterCount").alias("pred"),
            F.col("char_count").cast("string").alias("obj"),
            F.lit(1.0).alias("weight"),
        ),
        F.struct(
            F.lit("pdf:sentimentScore").alias("pred"),
            F.col("sentiment.score").cast("string").alias("obj"),
            F.col("sentiment.score").cast("double").alias("weight"),
        ),
        F.struct(
            F.lit("pdf:sentimentLabel").alias("pred"),
            F.col("sentiment.sentiment").alias("obj"),
            F.lit(1.0).alias("weight"),
        ),
        F.struct(
            F.lit("pdf:documentType").alias("pred"),
            F.col("document_type").alias("obj"),
            F.lit(1.0).alias("weight"),
        ),
    )
    out = d.select(subj.alias("subj"), F.explode(entries).alias("e")).select(
        "subj",
        F.col("e.pred").alias("pred"),
        F.col("e.obj").alias("obj"),
        F.coalesce(F.col("e.weight"), F.lit(1.0)).alias("weight"),
        F.lit("doc_props").alias("prov"),
    )
    return _shape(out)


def concept_property_triples(concepts: DataFrame) -> DataFrame:
    """K5 concept block (exporters/data_analysis.py:1149-1164)."""
    c = concepts.withColumn("_id", concept_id(F.col("text")))
    entries = F.array(
        F.struct(
            F.lit("skos:prefLabel").alias("pred"),
            F.col("text").alias("obj"),
            F.lit(1.0).alias("weight"),
        ),
        F.struct(
            F.lit("pdf:conceptType").alias("pred"),
            F.col("concept_type").alias("obj"),
            F.lit(1.0).alias("weight"),
        ),
        F.struct(
            F.lit("pdf:importanceScore").alias("pred"),
            F.col("importance").cast("string").alias("obj"),
            F.col("importance").cast("double").alias("weight"),
        ),
        F.struct(
            F.lit("pdf:frequency").alias("pred"),
            F.col("frequency").cast("string").alias("obj"),
            F.col("frequency").cast("double").alias("weight"),
        ),
    )
    out = c.select(
        F.col("_id").alias("subj"), F.explode(entries).alias("e")
    ).select(
        "subj",
        F.col("e.pred").alias("pred"),
        F.col("e.obj").alias("obj"),
        F.col("e.weight").alias("weight"),
        F.lit("concept_props").alias("prov"),
    )
    return _shape(out)


def concept_definition_triples(
    concepts: DataFrame,
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """skos:definition per concept: ONE context sentence, truncated to
    200 chars (exporters/data_analysis.py:1159-1164; extraction
    mirrors _extract_context, semantic_analyzer.py:703-711 — first
    sentence whose lowercase form contains the concept text).

    The reference stores whichever doc's context it encountered first
    (dict order); this engine makes that deterministic AND scale-free:
    the context comes from the concept's MINIMUM document id
    (document_ids is kept sorted by the aggregation), so only
    |concepts| rows join against the doc table — the concept side
    broadcasts, the doc scan prunes to two columns, and no per-mention
    context computation exists anywhere in the plan."""
    tgt = concepts.select(
        F.col("text"),
        F.element_at("document_ids", 1).alias("_mdoc"),
    )
    joined = F.broadcast(tgt).join(
        docs.select(
            F.col(id_col).alias("_mdoc"), F.col(text_col).alias("_doctext")
        ),
        "_mdoc",
    )
    sents = F.split(F.col("_doctext"), r"[.!?]\s+")
    # try_element_at: the filter is legitimately empty for phrase
    # concepts whose tokens are non-adjacent in the raw text (ANSI
    # element_at would throw)
    ctx = F.try_element_at(
        F.filter(sents, lambda s: F.contains(F.lower(s), F.col("text"))),
        F.lit(1),
    )
    out = (
        joined.select("text", ctx.alias("_def"))
        .filter(F.col("_def").isNotNull())
        .select(
            concept_id(F.col("text")).alias("subj"),
            F.lit("skos:definition").alias("pred"),
            F.substring(F.col("_def"), 1, 200).alias("obj"),
            F.lit(1.0).alias("weight"),
            F.lit("concept_props").alias("prov"),
        )
    )
    return _shape(out)


def cluster_triples(assignments: DataFrame) -> DataFrame:
    return _shape(
        assignments.select(
            F.col("doc_id").cast("string").alias("subj"),
            F.lit("in_cluster").alias("pred"),
            F.concat(F.lit("cluster_"), F.col("cluster_id").cast("string")).alias(
                "obj"
            ),
            F.lit(1.0).alias("weight"),
            F.lit("clustering").alias("prov"),
        )
    )


def write_triples(triples: DataFrame, path: str) -> None:
    """Write ``triples`` as parquet partitioned by pred.

    Rows are hash-clustered on (pred, subj), so every (pred, subj)
    lands in exactly one file (the parquet analog of
    partitionedBy(pred, bucket(subj)) on Iceberg). The number of files
    per pred is not fixed: AQE coalesces the shuffle to the data's
    size (with AQE off, ``spark.sql.shuffle.partitions`` sets it), so
    a small input is written as a few files per pred."""
    (
        triples.repartition("pred", "subj")
        .write.mode("overwrite")
        .partitionBy("pred")
        .parquet(path)
    )
