"""Mention extraction: keywords, phrases, code entities.

The reference extracts three mention streams per document
(semantic_analyzer.py:399-406): NLTK entities (:624-651), TF-IDF
keywords (:653-674), and POS-pattern phrases (:676-701). This engine
re-expresses them Spark-first:

- keyword and phrase mentions from one token array per document
  (``keyword_tokens_nostop``): the phrases are its consecutive pairs
  (importance 0.4 + 0.1 * n_words, the reference's 0.4 + 0.1*len rule
  at semantic_analyzer.py:699); pure column expressions.
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
    PY_WORD,
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
# semantics; java.util.regex differs on \w, \s and \b, so each is
# spelled out (Python's whitespace is Unicode White_Space plus the
# \x1c-\x1f separators).
_W = PY_WORD
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


def _tagged(names: F.Column, concept_type: str,
            importance: float) -> F.Column:
    return F.transform(names, lambda name: F.struct(
        name.alias("text"),
        F.lit(concept_type).alias("concept_type"),
        F.lit(importance).alias("importance"),
    ))


def _entities(content: F.Column, lang: F.Column) -> F.Column:
    return F.concat(*(
        _tagged(names, kind, ENTITY_IMPORTANCE[kind]) for names, kind in (
            (_per_lang(content, lang, _IMPORT_PATTERNS), "module"),
            (_per_lang(content, lang, _DEF_PATTERNS), "definition"),
            (_names(content, _SYMBOL_PATTERN), "symbol"),
        )
    ))


def keyword_mentions(docs: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """Per-doc keyword mention stream: (doc_id, text, concept_type,
    importance), importance 0.5 flat pre-TFIDF (re-scored by the concept
    aggregation / tfidf stage); contexts come after aggregation."""
    toks = keyword_tokens_nostop(F.col(text_col))
    return docs.select(F.col(id_col).alias("doc_id"),
                       F.inline(_tagged(toks, "keyword", 0.5)))


def entity_mentions(docs: DataFrame, id_col: str = "doc_id",
                    text_col: str = "content",
                    lang_col: str = "lang") -> DataFrame:
    """Code entity mention stream: imports and definitions by the
    row's lang, then CamelCase symbols on every row. A null content
    gives no mentions."""
    return docs.select(F.col(id_col).alias("doc_id"),
                       F.inline(_entities(F.col(text_col), F.col(lang_col))))


def all_mentions(docs: DataFrame, id_col: str = "doc_id",
                 text_col: str = "text",
                 lang_col: str | None = None) -> DataFrame:
    """Each row's mention streams (semantic_analyzer.py:399-406) from
    one token array: keywords, phrases (its consecutive pairs) and,
    with ``lang_col``, code entities, through one ``inline``."""
    # the tokens are projected below the Generate, so the regex runs
    # once per row. NOT spread: tokenizing is light enough that a
    # round-robin text shuffle costs more than it parallelizes (sf0.1)
    toks = F.col("_toks")
    n_pairs = F.greatest(F.size(toks) - 1, F.lit(0))
    pairs = F.zip_with(F.slice(toks, 1, n_pairs), F.slice(toks, 2, n_pairs),
                       lambda a, b: F.concat_ws(" ", a, b))
    streams = [_tagged(toks, "keyword", 0.5),
               _tagged(pairs, "phrase", 0.4 + 0.1 * 2)]
    if lang_col is not None and lang_col in docs.columns:
        streams.append(_entities(F.col(text_col), F.col(lang_col)))
    return docs.withColumn(
        "_toks", keyword_tokens_nostop(F.col(text_col))
    ).select(F.col(id_col).alias("doc_id"), F.inline(F.concat(*streams)))
