"""The code-entity detector runs as JVM regexes and must give, per
document, the same mentions as Python ``re.findall`` with the golden
reference's patterns: Python's Unicode ``\\w``, ``\\s`` and ``\\b``
included."""

from __future__ import annotations

from collections import Counter

from pdf_knowledge_extractor_spark.operators.mentions import entity_mentions
from tests.golden_reference import (
    DEF_RES,
    ENTITY_IMPORTANCE,
    IMPORT_RES,
    SYMBOL_RE,
)

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
]


def _expected(text, lang) -> Counter:
    """The detector's contract in Python ``re``: imports and definitions
    by the row's lang, CamelCase symbols on every row (null lang
    included), nothing for a null content."""
    if text is None:
        return Counter()
    out = []
    for patterns, kind in ((IMPORT_RES, "module"), (DEF_RES, "definition")):
        pattern = patterns.get(lang)
        for m in pattern.findall(text) if pattern else []:
            name = m if isinstance(m, str) else next(g for g in m if g)
            out.append((name, kind, ENTITY_IMPORTANCE[kind]))
    out += [(s, "symbol", ENTITY_IMPORTANCE["symbol"])
            for s in SYMBOL_RE.findall(text)]
    return Counter(out)


def _detected(docs) -> dict:
    got = {r["doc_id"]: Counter() for r in docs.select("doc_id").collect()}
    for r in entity_mentions(docs).collect():
        got[r["doc_id"]][(r["text"], r["concept_type"], r["importance"])] += 1
    return got


def test_entity_detector_equals_python_re(spark):
    want = {doc_id: _expected(text, lang) for doc_id, text, lang in EDGE_ROWS}
    # the fixture reaches the classes where java.util.regex differs
    assert want["non_ascii"][("café", "module", 0.8)] == 1
    assert want["non_ascii"][("naïve", "definition", 0.7)] == 1
    assert want["nbsp"][("numpy", "module", 0.8)] == 1
    assert want["nbsp"][("separated", "module", 0.8)] == 1
    assert want["js"][("yZ", "definition", 0.7)] == 1
    assert want["go_receiver"][("Handle", "definition", 0.7)] == 1
    # a null lang gives symbols only
    assert want["null_lang"] == Counter({("FooBar", "symbol", 0.6): 1,
                                         ("SomeName", "symbol", 0.6): 1})
    docs = spark.createDataFrame(
        EDGE_ROWS, "doc_id string, content string, lang string"
    )
    assert _detected(docs) == want


def test_entity_detector_equals_python_re_on_corpus(spark, small_corpus):
    got = _detected(small_corpus)
    assert sum(map(len, got.values())) > 0
    assert got == {
        r["doc_id"]: _expected(r["content"], r["lang"])
        for r in small_corpus.select("doc_id", "content", "lang").collect()
    }
