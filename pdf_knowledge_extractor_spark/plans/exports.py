"""Export sinks (SURVEY.md §2.1 K4-K7): thin rendering projections
over the engine's relations.

The reference ships ~20 exporter classes (exporters/*.py, ~6000 LoC of
string templating). Engine-side, every one of them is a projection or
`to_json` aggregation over the six core relations — so the engine
exposes the relations plus the three renderers that define the triple
vocabulary:

- RDF N-Triples lines (K5 vocabulary, exporters/data_analysis.py:
  1016-1196): one line per (subj, pred, obj) with URI minting.
- JSON-LD @graph objects (K6, :791-1013): per-subject grouped JSON.
- Multi-CSV relations (K7, :36-342): documents/concepts/
  relationships/clusters/mapping/statistics — direct df.write.csv.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pdf_knowledge_extractor_spark.functions.text import uri_encode

BASE_URI = "http://pdf-extractor.example.org/"


def rdf_ntriples_lines(triples: DataFrame) -> DataFrame:
    """(subj,pred,obj) -> one N-Triples line per row. Predicates keep
    their prefix form (pdf:/skos:/dct: vocabularies per K5); subjects
    and node objects are URI-minted with the reference's encoding rule
    (non-word -> _, collapsed, capped 100)."""
    subj_uri = F.concat(F.lit("<" + BASE_URI), uri_encode(F.col("subj")), F.lit(">"))
    is_node_ref = F.col("pred").isin("contains", "similar_to", "related_to",
                                     "in_cluster")
    obj_part = F.when(
        is_node_ref,
        F.concat(F.lit("<" + BASE_URI), uri_encode(F.col("obj")), F.lit(">")),
    ).otherwise(
        F.concat(F.lit('"'), F.regexp_replace(F.col("obj"), '"', '\\\\"'),
                 F.lit('"'))
    )
    return triples.select(
        F.concat_ws(
            " ",
            subj_uri,
            F.concat(F.lit("<" + BASE_URI + "vocab/"),
                     uri_encode(F.col("pred")), F.lit(">")),
            obj_part,
            F.lit("."),
        ).alias("ntriple")
    )


# reference JSON-LD envelope (exporters/data_analysis.py:842-860)
JSONLD_BASE_URI = "https://pdfextractor.ai/kb/"
JSONLD_CONTEXT = {
    "@vocab": "https://schema.org/",
    "pdf": "https://pdfextractor.ai/ontology/",
    "dct": "http://purl.org/dc/terms/",
    "skos": "http://www.w3.org/2004/02/skos/core#",
    "foaf": "http://xmlns.com/foaf/0.1/",
    "rdfs": "http://www.w3.org/2000/01/rdf-schema#",
}


def _uri(kind: str, col) -> F.Column:
    return F.concat(F.lit(JSONLD_BASE_URI + kind + "/"), uri_encode(col))


def jsonld_document_objects(enriched_docs: DataFrame,
                            id_col: str = "doc_id",
                            analyzed_at: str | None = None) -> DataFrame:
    """Typed @graph objects for documents
    (_create_document_jsonld, exporters/data_analysis.py:893-923):
    @type [DigitalDocument, pdf:AnalyzedDocument] + word/char counts +
    dateAnalyzed (unconditional in the reference, :903) + sentiment.
    ``analyzed_at`` = None stamps the current time at plan build like
    the reference's datetime.now(); pass the pinned created timestamp
    for reproducible output. to_json drops null fields, mirroring the
    reference's conditional property adds."""
    import datetime as _dt

    if analyzed_at is None:
        analyzed_at = _dt.datetime.now().isoformat()
    did = F.col(id_col).cast("string")
    obj = F.struct(
        _uri("document", did).alias("@id"),
        F.array(F.lit("DigitalDocument"), F.lit("pdf:AnalyzedDocument")).alias(
            "@type"
        ),
        did.alias("name"),
        did.alias("dct:title"),
        F.col("word_count").cast("long").alias("wordCount"),
        F.col("char_count").cast("long").alias("characterCount"),
        F.lit(analyzed_at).alias("dateAnalyzed"),
        F.col("sentiment.score").cast("double").alias("pdf:sentimentScore"),
        F.col("sentiment.sentiment").alias("pdf:sentimentLabel"),
    )
    return enriched_docs.select(F.to_json(obj).alias("jsonld"))


def jsonld_concept_objects(concepts: DataFrame) -> DataFrame:
    """Typed @graph objects for concepts (_create_concept_jsonld,
    data_analysis.py:925-950): skos:Concept with importance/frequency/
    documentCount and pdf:appearsIn document refs."""
    has_ctx = "context_sentences" in concepts.columns
    fields = [
        _uri("concept", F.col("text")).alias("@id"),
        F.array(F.lit("DefinedTerm"), F.lit("skos:Concept")).alias("@type"),
        F.col("text").alias("name"),
        F.col("text").alias("skos:prefLabel"),
        F.col("concept_type").alias("pdf:conceptType"),
        F.col("importance").cast("double").alias("pdf:importanceScore"),
        F.col("frequency").cast("long").alias("pdf:frequency"),
        F.size("document_ids").cast("long").alias("pdf:documentCount"),
        F.transform(
            F.col("document_ids"),
            lambda d: F.struct(
                _uri("document", d.cast("string")).alias("@id")
            ),
        ).alias("pdf:appearsIn"),
    ]
    if has_ctx:
        # try_element_at: a concept whose text is in no sentence of
        # its first documents legitimately carries an empty context
        # list; the null description is then dropped by to_json,
        # mirroring the reference's conditional add
        # (data_analysis.py:943-944)
        fields.insert(
            8,
            F.substring(
                F.try_element_at("context_sentences", F.lit(1)), 1, 200
            ).alias("description"),
        )
    return concepts.select(F.to_json(F.struct(*fields)).alias("jsonld"))


def jsonld_relationship_objects(similarities: DataFrame) -> DataFrame:
    """Typed @graph objects for similarity relationships
    (_create_relationship_jsonld, data_analysis.py:952-975); the
    reference's enumeration index becomes a deterministic (doc1, doc2)
    pair key so output is stable under distributed ordering."""
    obj = F.struct(
        F.concat(
            F.lit(JSONLD_BASE_URI + "relationship/"),
            uri_encode(
                F.concat_ws(
                    "_",
                    F.col("doc1_id").cast("string"),
                    F.col("doc2_id").cast("string"),
                )
            ),
        ).alias("@id"),
        F.lit("pdf:DocumentSimilarity").alias("@type"),
        F.struct(
            _uri("document", F.col("doc1_id").cast("string")).alias("@id")
        ).alias("pdf:document1"),
        F.struct(
            _uri("document", F.col("doc2_id").cast("string")).alias("@id")
        ).alias("pdf:document2"),
        F.col("similarity_score").cast("double").alias("pdf:similarityScore"),
        F.col("similarity_type").alias("pdf:similarityType"),
    )
    return similarities.select(F.to_json(obj).alias("jsonld"))


def jsonld_cluster_objects(clusters: DataFrame) -> DataFrame:
    """Typed @graph objects for clusters (_create_cluster_jsonld,
    data_analysis.py:977-1013), incl. pdf:coherenceScore (:989 — the
    reference defaults missing coherence to 0)."""
    obj = F.struct(
        _uri(
            "cluster", F.concat(F.lit("cluster_"),
                                F.col("cluster_id").cast("string"))
        ).alias("@id"),
        F.lit("pdf:DocumentCluster").alias("@type"),
        F.col("cluster_label").alias("name"),
        (
            F.coalesce(F.col("coherence_score"), F.lit(0.0))
            if "coherence_score" in clusters.columns
            else F.lit(0.0)
        ).cast("double").alias("pdf:coherenceScore"),
        F.col("n_documents").cast("long").alias("pdf:documentCount"),
        F.transform(
            F.col("document_ids"),
            lambda d: F.struct(_uri("document", d).alias("@id")),
        ).alias("pdf:contains"),
        F.transform(
            F.slice(F.col("main_topics"), 1, 5),
            lambda t: F.struct(
                F.lit("DefinedTerm").alias("@type"), t.alias("name")
            ),
        ).alias("about"),
    )
    return clusters.select(F.to_json(obj).alias("jsonld"))


def jsonld_structure(
    relations: dict[str, DataFrame],
    created: str = "1970-01-01T00:00:00",
    graph_limit: int | None = None,
) -> dict:
    """The reference's full JSON-LD document
    (_create_jsonld_structure, data_analysis.py:837-891):
    @context + Dataset envelope + typed @graph. Driver-side assembly —
    for small/debug exports only; at scale use write_jsonld (the
    @graph streams to distributed JSONL part files and only the
    envelope is driver-side)."""
    import json

    parts = []
    if "documents" in relations:
        parts.append(
            jsonld_document_objects(relations["documents"], analyzed_at=created)
        )
    if "concepts" in relations:
        parts.append(jsonld_concept_objects(relations["concepts"]))
    if "similarities" in relations:
        parts.append(jsonld_relationship_objects(relations["similarities"]))
    if "clusters" in relations:
        parts.append(jsonld_cluster_objects(relations["clusters"]))
    graph = []
    for p in parts:
        if graph_limit is not None:
            p = p.limit(graph_limit)
        graph.extend(json.loads(r["jsonld"]) for r in p.collect())
    return {
        "@context": dict(JSONLD_CONTEXT),
        "@id": JSONLD_BASE_URI + "knowledge-base",
        "@type": "Dataset",
        "name": "PDF Knowledge Base",
        "description": (
            "Knowledge extracted from PDF documents using semantic analysis"
        ),
        "dateCreated": created,
        "creator": {
            "@type": "SoftwareApplication",
            "name": "pdf-knowledge-extractor-spark",
            "version": "v2.2",
        },
        "@graph": graph,
    }


def write_jsonld(
    relations: dict[str, DataFrame],
    out_dir: str,
    created: str = "1970-01-01T00:00:00",
) -> None:
    """Scale path for K6: the @graph objects stream to JSONL part
    files (one line per typed object, distributed write); the tiny
    @context/Dataset envelope lands in envelope.json on the driver."""
    import json

    parts = []
    if "documents" in relations:
        parts.append(
            jsonld_document_objects(relations["documents"], analyzed_at=created)
        )
    if "concepts" in relations:
        parts.append(jsonld_concept_objects(relations["concepts"]))
    if "similarities" in relations:
        parts.append(jsonld_relationship_objects(relations["similarities"]))
    if "clusters" in relations:
        parts.append(jsonld_cluster_objects(relations["clusters"]))
    if not parts:
        raise ValueError(
            "write_jsonld: relations must contain at least one of "
            "documents/concepts/similarities/clusters (got "
            f"{sorted(relations)})"
        )
    graph = parts[0]
    for p in parts[1:]:
        graph = graph.unionByName(p)
    graph.write.mode("overwrite").text(f"{out_dir}/graph")
    envelope = jsonld_structure({}, created)
    with open(f"{out_dir}/envelope.json", "w", encoding="utf-8") as f:
        json.dump(envelope, f, indent=2, ensure_ascii=False)


def jsonld_graph(triples: DataFrame) -> DataFrame:
    """Per-subject JSON-LD object: {"@id": subj, pred: [obj...]}
    rendered with to_json over grouped predicate maps (K6 @graph)."""
    grouped = (
        triples.groupBy("subj", "pred")
        .agg(F.array_sort(F.collect_list("obj")).alias("objs"))
        .groupBy("subj")
        .agg(
            F.map_from_entries(
                F.array_sort(F.collect_list(F.struct("pred", "objs")))
            ).alias("props")
        )
    )
    return grouped.select(
        "subj",
        F.to_json(
            F.struct(F.col("subj").alias("@id"), F.col("props"))
        ).alias("jsonld"),
    )


def export_graph(
    nodes: DataFrame,
    edges: DataFrame,
    output_path: str,
    format_type: str = "graphml",
    max_nodes: int = 100_000,
) -> None:
    """K4 graph debug sinks (export_knowledge_graph,
    semantic_analyzer.py:593-604): GraphML / node-link JSON / GEXF.

    Driver-side renderer over collected nodes/edges — these formats
    are single-document XML/JSON, inherently non-distributed, and the
    reference uses them for debug-size graphs only. ``max_nodes``
    guards against accidentally collecting a 100-TB graph; the scale
    sink remains write_triples (partitioned parquet)."""
    import json
    from xml.sax.saxutils import escape, quoteattr

    n = nodes.count()
    if n > max_nodes:
        raise ValueError(
            f"graph debug export capped at {max_nodes} nodes (got {n}); "
            "use write_triples for full-scale output"
        )
    has_props = "props" in nodes.columns
    node_rows = nodes.collect()
    edge_rows = edges.collect()

    if format_type == "json":
        data = {
            "directed": False,
            "multigraph": False,
            "graph": {},
            "nodes": [
                {
                    "id": r["id"],
                    "node_type": r["node_type"],
                    "label": r["label"],
                    **(dict(r["props"]) if has_props and r["props"] else {}),
                }
                for r in node_rows
            ],
            "links": [
                {
                    "source": r["src"],
                    "target": r["dst"],
                    "edge_type": r["edge_type"],
                    "weight": r["weight"],
                }
                for r in edge_rows
            ],
        }
        with open(output_path, "w", encoding="utf-8") as f:
            json.dump(data, f, indent=2)
        return

    if format_type == "graphml":
        lines = [
            '<?xml version="1.0" encoding="UTF-8"?>',
            '<graphml xmlns="http://graphml.graphdrawing.org/xmlns">',
            '  <key id="d0" for="node" attr.name="node_type" attr.type="string"/>',
            '  <key id="d1" for="node" attr.name="label" attr.type="string"/>',
            '  <key id="d2" for="edge" attr.name="edge_type" attr.type="string"/>',
            '  <key id="d3" for="edge" attr.name="weight" attr.type="double"/>',
            '  <key id="d4" for="node" attr.name="props" attr.type="string"/>',
            '  <graph edgedefault="undirected">',
        ]
        for r in node_rows:
            lines.append(f"    <node id={quoteattr(r['id'])}>")
            lines.append(f'      <data key="d0">{escape(r["node_type"])}</data>')
            lines.append(f'      <data key="d1">{escape(r["label"])}</data>')
            if has_props and r["props"]:
                lines.append(
                    '      <data key="d4">'
                    + escape(json.dumps(dict(sorted(r["props"].items()))))
                    + "</data>"
                )
            lines.append("    </node>")
        for r in edge_rows:
            lines.append(
                f"    <edge source={quoteattr(r['src'])} "
                f"target={quoteattr(r['dst'])}>"
            )
            lines.append(f'      <data key="d2">{escape(r["edge_type"])}</data>')
            lines.append(f'      <data key="d3">{r["weight"]}</data>')
            lines.append("    </edge>")
        lines += ["  </graph>", "</graphml>"]
        with open(output_path, "w", encoding="utf-8") as f:
            f.write("\n".join(lines))
        return

    if format_type == "gexf":
        lines = [
            '<?xml version="1.0" encoding="UTF-8"?>',
            '<gexf xmlns="http://gexf.net/1.2" version="1.2">',
            '  <graph mode="static" defaultedgetype="undirected">',
            "    <nodes>",
        ]
        for r in node_rows:
            lines.append(
                f"      <node id={quoteattr(r['id'])} "
                f"label={quoteattr(r['label'])}/>"
            )
        lines.append("    </nodes>")
        lines.append("    <edges>")
        for i, r in enumerate(edge_rows):
            lines.append(
                f'      <edge id="{i}" source={quoteattr(r["src"])} '
                f"target={quoteattr(r['dst'])} weight=\"{r['weight']}\"/>"
            )
        lines += ["    </edges>", "  </graph>", "</gexf>"]
        with open(output_path, "w", encoding="utf-8") as f:
            f.write("\n".join(lines))
        return

    raise ValueError(f"Unsupported format: {format_type}")


def export_csv_relations(relations: dict[str, DataFrame], out_dir: str) -> None:
    """K7 multi-CSV sink: one CSV directory per relation (documents,
    concepts, similarities, related, clusters, triples). Array/map/
    struct columns are JSON-encoded (CSV cannot nest)."""
    import pyspark.sql.types as T

    for name, df in relations.items():
        if not isinstance(df, DataFrame):  # e.g. similarity_stats dict
            continue
        flat = df
        for field in df.schema.fields:
            if isinstance(field.dataType, (T.ArrayType, T.MapType, T.StructType)):
                flat = flat.withColumn(field.name, F.to_json(F.col(field.name)))
        flat.write.mode("overwrite").option("header", True).csv(
            f"{out_dir}/{name}"
        )


def statistics_relation(relations: dict[str, DataFrame]) -> DataFrame:
    """K7 statistics.csv analog: one row per relation with its row
    count (computed distributed, unioned on the driver)."""
    dfs = {n: d for n, d in relations.items() if isinstance(d, DataFrame)}
    spark = next(iter(dfs.values())).sparkSession
    rows = [(name, df.count()) for name, df in dfs.items()]
    return spark.createDataFrame(rows, "relation string, rows long")
