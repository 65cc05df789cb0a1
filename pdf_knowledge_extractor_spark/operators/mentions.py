"""Mention extraction: keywords, phrases, code entities.

The reference extracts three mention streams per document
(semantic_analyzer.py:399-406): NLTK entities (:624-651), TF-IDF
keywords (:653-674), and POS-pattern phrases (:676-701). This engine
re-expresses them Spark-first:

- keyword mentions: pure column expressions (explode of the token
  array; stopword removal by array_except against a literal array).
- phrase mentions: consecutive-bigram composition, pure column
  expressions (importance 0.4 + 0.1 * n_words, mirroring the
  reference's 0.4 + 0.1*len rule at semantic_analyzer.py:699).
- code entity mentions (the graft's per-``lang`` detectors: imports,
  definitions, CamelCase symbols): Arrow-batched pandas UDF with
  vectorized ``Series.str.findall`` — never row-at-a-time Python.

Entity importance mirrors the reference's per-type table
(semantic_analyzer.py:636-645: PERSON .8, ORG .7, GPE .6, MONEY .5,
DATE .4, default .3) re-mapped to code entity types.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pdf_knowledge_extractor_spark.functions.text import (
    keyword_tokens_nostop,
)

# code-entity importance by type (analog of semantic_analyzer.py:636-645)
ENTITY_IMPORTANCE = {
    "module": 0.8,      # imported module / package
    "definition": 0.7,  # def/class/func/type definition
    "symbol": 0.6,      # CamelCase / dotted symbol reference
    "reference": 0.5,   # cross-repo reference
}

MENTION_SCHEMA = T.ArrayType(
    T.StructType(
        [
            T.StructField("text", T.StringType()),
            T.StructField("concept_type", T.StringType()),
            T.StructField("importance", T.DoubleType()),
        ]
    )
)

_IMPORT_PATTERNS = {
    # lang -> regex whose group 1 is the imported module
    "python": r"(?:^|\n)\s*(?:from|import)\s+([A-Za-z_][\w.]*)",
    "go": r'(?:^|\n)\s*import\s+(?:\w+\s+)?"([^"]+)"',
    "java": r"(?:^|\n)\s*import\s+(?:static\s+)?([A-Za-z_][\w.]*)",
    "js": r"""(?:from|require\()\s*['"]([^'"]+)['"]""",
}
_DEF_PATTERNS = {
    "python": r"(?:^|\n)\s*(?:def|class)\s+([A-Za-z_]\w*)",
    "go": r"(?:^|\n)\s*(?:func|type)\s+(?:\(\s*\w+\s+\*?\w+\s*\)\s*)?([A-Za-z_]\w*)",
    "java": r"(?:class|interface|enum)\s+([A-Za-z_]\w*)",
    "js": r"(?:function|class)\s+([A-Za-z_]\w*)|const\s+([A-Za-z_]\w*)\s*=",
}
_SYMBOL_PATTERN = r"\b([A-Z][a-z0-9]+(?:[A-Z][a-z0-9]+)+)\b"  # CamelCase


@F.pandas_udf(MENTION_SCHEMA)
def _code_entities(content: pd.Series, lang: pd.Series) -> pd.Series:
    """Vectorized per-lang code entity detection (imports, defs,
    CamelCase symbols)."""
    out = []
    # vectorize by grouping rows per language value within the batch
    frame = pd.DataFrame({"content": content.fillna(""), "lang": lang.fillna("")})
    results = [None] * len(frame)
    for lg, grp in frame.groupby("lang", sort=False):
        imp_pat = _IMPORT_PATTERNS.get(lg)
        def_pat = _DEF_PATTERNS.get(lg)
        imports = (
            grp["content"].str.findall(imp_pat)
            if imp_pat
            else pd.Series([[]] * len(grp), index=grp.index)
        )
        defs = (
            grp["content"].str.findall(def_pat)
            if def_pat
            else pd.Series([[]] * len(grp), index=grp.index)
        )
        symbols = grp["content"].str.findall(_SYMBOL_PATTERN)
        for idx in grp.index:
            ments = []
            for m in imports.at[idx]:
                name = m if isinstance(m, str) else next((g for g in m if g), "")
                if name:
                    ments.append((name, "module", ENTITY_IMPORTANCE["module"]))
            for m in defs.at[idx]:
                name = m if isinstance(m, str) else next((g for g in m if g), "")
                if name:
                    ments.append((name, "definition", ENTITY_IMPORTANCE["definition"]))
            for s in symbols.at[idx]:
                ments.append((s, "symbol", ENTITY_IMPORTANCE["symbol"]))
            results[frame.index.get_loc(idx)] = ments
    out = pd.Series(results)
    return out


def keyword_mentions(docs: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """Per-doc keyword mention stream: (doc_id, text, concept_type,
    importance). importance = 0.5 flat pre-TFIDF (re-scored by the
    concept aggregation / tfidf stage). Context sentences are attached
    after aggregation, per concept (concepts.with_concept_contexts)."""
    return (
        # NOT spread here: tokenization is light enough that a
        # round-robin text shuffle costs more than it parallelizes
        # (measured at sf0.1); heavy projections (shingling, enrich)
        # spread at their own entry points instead
        docs.select(
            F.col(id_col).alias("doc_id"),
            F.explode(keyword_tokens_nostop(F.col(text_col))).alias("text"),
        )
        .withColumn("concept_type", F.lit("keyword"))
        .withColumn("importance", F.lit(0.5))
    )


def phrase_mentions(docs: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text") -> DataFrame:
    """Consecutive-token bigram phrases; importance = 0.4 + 0.1*2."""
    toks = keyword_tokens_nostop(F.col(text_col))
    n = F.size(toks)
    pairs = F.zip_with(
        F.slice(toks, 1, F.greatest(n - 1, F.lit(0))),
        F.slice(toks, 2, F.greatest(n - 1, F.lit(0))),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    return (
        docs.select(F.col(id_col).alias("doc_id"), F.explode(pairs).alias("text"))
        .withColumn("concept_type", F.lit("phrase"))
        .withColumn("importance", F.lit(0.4 + 0.1 * 2))
    )


def entity_mentions(docs: DataFrame, id_col: str = "doc_id",
                    text_col: str = "content",
                    lang_col: str = "lang") -> DataFrame:
    """Code entity mention stream via the Arrow-batched detector."""
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(_code_entities(F.col(text_col), F.col(lang_col))).alias("m"),
    ).select("doc_id", "m.text", "m.concept_type", "m.importance")


def all_mentions(docs: DataFrame, id_col: str = "doc_id",
                 text_col: str = "text",
                 lang_col: str | None = None) -> DataFrame:
    """Union of the mention streams (semantic_analyzer.py:399-406)."""
    out = keyword_mentions(docs, id_col, text_col).unionByName(
        phrase_mentions(docs, id_col, text_col)
    )
    if lang_col is not None and lang_col in docs.columns:
        out = out.unionByName(entity_mentions(docs, id_col, text_col, lang_col))
    return out
