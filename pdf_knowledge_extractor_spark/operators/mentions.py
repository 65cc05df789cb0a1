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
  definitions, CamelCase symbols): ``regexp_extract_all`` column
  expressions on the JVM, the lang's pattern picked per row by a CASE.
  The patterns keep Python ``re`` semantics (the golden reference's);
  ``_JAVA_CLASSES`` spells out the classes where java.util.regex
  differs.
  No Python worker runs.

Entity importance mirrors the reference's per-type table
(semantic_analyzer.py:636-645: PERSON .8, ORG .7, GPE .6, MONEY .5,
DATE .4, default .3) re-mapped to code entity types.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pdf_knowledge_extractor_spark.functions.text import (
    keyword_tokens_nostop,
)

# code-entity importance by type (analog of semantic_analyzer.py:636-645)
ENTITY_IMPORTANCE = {
    "module": 0.8,      # imported module / package
    "definition": 0.7,  # def/class/func/type definition
    "symbol": 0.6,      # CamelCase / dotted symbol reference
}

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
    # two groups; a match fills exactly one
    "js": r"(?:function|class)\s+([A-Za-z_]\w*)|const\s+([A-Za-z_]\w*)\s*=",
}
_SYMBOL_PATTERN = r"\b([A-Z][a-z0-9]+(?:[A-Z][a-z0-9]+)+)\b"  # CamelCase

# The patterns above are written, and pinned by tests, in Python ``re``
# semantics, where \w is str.isalnum() or "_" and \s is str.isspace().
# java.util.regex reads \w, \s and \b as ASCII, so each is spelled out:
# \p{L}\p{N} is Python's alnum set (equal up to the two runtimes'
# Unicode versions), and Python's whitespace is Unicode White_Space
# plus the \x1c-\x1f separators.
_W = r"[\p{L}\p{N}_]"
_JAVA_CLASSES = {r"\w": _W, r"\s": r"[\p{IsWhite_Space}\x1c-\x1f]",
                 r"\b": f"(?:(?<={_W})(?!{_W})|(?<!{_W})(?={_W}))"}


def _names(content: F.Column, pattern: str) -> F.Column:
    """Every match's name (its non-empty group), in match order."""
    java = pattern
    for py, cls in _JAVA_CLASSES.items():
        java = java.replace(py, cls)
    groups = [F.regexp_extract_all(content, F.lit(java), F.lit(g))
              for g in range(1, re.compile(pattern).groups + 1)]
    # an unmatched group extracts as "": keep the group that matched
    return groups[0] if len(groups) == 1 else F.zip_with(
        *groups, lambda a, b: F.when(a == "", b).otherwise(a))


def _per_lang(content: F.Column, lang: F.Column, patterns: dict) -> F.Column:
    """Names by the row's lang pattern; none for another or a null lang."""
    out = None
    for lg, pattern in patterns.items():
        when = F.when if out is None else out.when
        out = when(lang == lg, _names(content, pattern))
    return out.otherwise(F.array().cast("array<string>"))


def _tagged(names: F.Column, concept_type: str) -> F.Column:
    return F.transform(names, lambda name: F.struct(
        name.alias("text"),
        F.lit(concept_type).alias("concept_type"),
        F.lit(ENTITY_IMPORTANCE[concept_type]).alias("importance"),
    ))


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
    """Code entity mention stream: imports and definitions by the
    row's lang, then CamelCase symbols on every row. A null content
    gives no mentions."""
    content, lang = F.col(text_col), F.col(lang_col)
    mentions = F.concat(
        _tagged(_per_lang(content, lang, _IMPORT_PATTERNS), "module"),
        _tagged(_per_lang(content, lang, _DEF_PATTERNS), "definition"),
        _tagged(_names(content, _SYMBOL_PATTERN), "symbol"),
    )
    return docs.select(F.col(id_col).alias("doc_id"), F.inline(mentions))


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
