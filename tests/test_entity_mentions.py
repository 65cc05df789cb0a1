"""The mention stream (keywords, phrases and code entities, the
entities as JVM regexes) must give, per document, the golden
reference's ``mentions_for_doc``: Python ``re.findall`` with its
patterns, Python's Unicode ``\\w``, ``\\s`` and ``\\b`` included."""

from __future__ import annotations

from collections import Counter

from pdf_knowledge_extractor_spark.operators.mentions import (
    all_mentions,
    entity_mentions,
)
from tests.golden_reference import mentions_for_doc

EDGE_ROWS = [
    ("null_lang", "import os\nclass FooBar:\n    pass  # SomeName", None),
    ("null_content_python", None, "python"),
    ("null_content_lang", None, None),
    ("empty_go", "", "go"),
    ("js", "import a from 'lib/a'\nconst x = require(\"b\")\n"
           "function f() {}\nconst yZ=2\nclass Widget extends BaseView {}\n"
           "const notDef + 1", "js"),
    ("go_receiver", 'package main\nimport fmt "fmt"\nimport "net/http"\n'
                    "func (s *Server) Handle() {}\nfunc main() {}\n"
                    "type HttpClient struct{}", "go"),
    ("non_ascii", "import café\nfrom ñandú.sub import x\nclass Ünïcode:\n"
                  "    def naïve(self): pass\nclass Caféine: pass\n"
                  "ÜberFoo FooBar éFooBar FooBaré FooBaŕ Foo2Bar",
     "python"),
    ("nbsp", "import\u00a0numpy\nclass\u2003NbspClass:\n"
             "\u00a0def\u00a0spaced(): pass\nimport\x1cseparated\n"
             "FooBar\u00a0BazQux", "python"),
    ("java", "import static org.junit.Assert;\nimport java.util.List;\n"
             "public class MyTest implements FooBar {}\ninterface Café {}",
     "java"),
    ("other_lang", "import sys\nfn main() {}\nFooBar", "rust"),
    ("no_tokens", "a b cd 42 the", None),
    ("one_token", "to Spark, 7", "python"),
    ("two_tokens", "Spark shuffle", "go"),
]


def _counted(rows) -> Counter:
    # the golden phrase importance is 0.6, the engine's 0.4 + 0.1 * 2
    return Counter((r[0], r[1], round(r[2], 9)) for r in rows)


def _expected(rows) -> dict:
    return {doc_id: _counted(mentions_for_doc(doc_id, text, lang))
            for doc_id, text, lang in rows}


def _detected(docs, mentions=all_mentions) -> dict:
    got = {r["doc_id"]: [] for r in docs.select("doc_id").collect()}
    for r in mentions(docs, text_col="content", lang_col="lang").collect():
        got[r["doc_id"]].append((r["text"], r["concept_type"],
                                 r["importance"]))
    return {doc_id: _counted(rows) for doc_id, rows in got.items()}


def _entities(counts: Counter) -> Counter:
    return Counter({m: n for m, n in counts.items()
                    if m[1] not in ("keyword", "phrase")})


def test_entity_detector_equals_python_re(spark):
    want = _expected(EDGE_ROWS)
    # the fixture reaches the classes where java.util.regex differs
    assert want["non_ascii"][("café", "module", 0.8)] == 1
    assert want["non_ascii"][("naïve", "definition", 0.7)] == 1
    assert want["nbsp"][("numpy", "module", 0.8)] == 1
    assert want["nbsp"][("separated", "module", 0.8)] == 1
    assert want["js"][("yZ", "definition", 0.7)] == 1
    assert want["go_receiver"][("Handle", "definition", 0.7)] == 1
    # a null lang gives symbols only among the entities
    assert _entities(want["null_lang"]) == Counter(
        {("FooBar", "symbol", 0.6): 1, ("SomeName", "symbol", 0.6): 1})
    # the phrase edge: 0, 1 and 2 keyword tokens give 0, 0 and 1 phrase
    assert want["no_tokens"] == Counter()
    assert want["one_token"] == Counter({("spark", "keyword", 0.5): 1})
    assert want["two_tokens"] == Counter({
        ("spark", "keyword", 0.5): 1, ("shuffle", "keyword", 0.5): 1,
        ("spark shuffle", "phrase", 0.6): 1})
    docs = spark.createDataFrame(
        EDGE_ROWS, "doc_id string, content string, lang string"
    )
    got = _detected(docs)
    assert got == want
    assert _detected(docs, entity_mentions) == {
        doc_id: _entities(counts) for doc_id, counts in got.items()}


def test_entity_detector_equals_python_re_on_corpus(spark, small_corpus):
    got = _detected(small_corpus)
    assert sum(map(len, got.values())) > 0
    assert got == _expected(
        small_corpus.select("doc_id", "content", "lang").collect())
