"""Single-process, pure-Python restatement of the reference semantics
(SURVEY.md §5 test strategy item 2).

This is the GOLDEN oracle for the pipeline-parity test: a faithful,
independent re-derivation of what the reference computes (re-derived
from its observable behavior — no code copied), written row-at-a-time
with dicts/regex/numpy exactly as a single-node implementation would.
The Spark pipeline must reproduce its triple set at P/R >= 0.95
(BASELINE.json north rule).
"""

from __future__ import annotations

import math
import re
from collections import Counter, defaultdict

STOP_WORDS = None  # filled from engine lexicons at import (shared constant)
from pdf_knowledge_extractor_spark.lexicons import (  # noqa: E402
    DOC_TYPE_LEXICONS,
    DOC_TYPE_ORDER,
    NEGATIVE_WORDS,
    POSITIVE_WORDS,
    STOP_WORDS,
)

KEYWORD_RE = re.compile(r"\b[a-z]{4,}\b")
IMPORT_RES = {
    "python": re.compile(r"(?:^|\n)\s*(?:from|import)\s+([A-Za-z_][\w.]*)"),
    "go": re.compile(r'(?:^|\n)\s*import\s+(?:\w+\s+)?"([^"]+)"'),
    "java": re.compile(r"(?:^|\n)\s*import\s+(?:static\s+)?([A-Za-z_][\w.]*)"),
    "js": re.compile(r"""(?:from|require\()\s*['"]([^'"]+)['"]"""),
}
DEF_RES = {
    "python": re.compile(r"(?:^|\n)\s*(?:def|class)\s+([A-Za-z_]\w*)"),
    "go": re.compile(
        r"(?:^|\n)\s*(?:func|type)\s+(?:\(\s*\w+\s+\*?\w+\s*\)\s*)?([A-Za-z_]\w*)"
    ),
    "java": re.compile(r"(?:class|interface|enum)\s+([A-Za-z_]\w*)"),
    "js": re.compile(
        r"(?:function|class)\s+([A-Za-z_]\w*)|const\s+([A-Za-z_]\w*)\s*="
    ),
}
SYMBOL_RE = re.compile(r"\b([A-Z][a-z0-9]+(?:[A-Z][a-z0-9]+)+)\b")

ENTITY_IMPORTANCE = {"module": 0.8, "definition": 0.7, "symbol": 0.6}


def keyword_tokens(text: str) -> list[str]:
    return [t for t in KEYWORD_RE.findall(text.lower()) if t not in STOP_WORDS]


def mentions_for_doc(doc_id: str, text: str | None, lang: str | None):
    """(text, concept_type, importance) mention stream for one doc:
    keywords, their consecutive pairs as phrases, imports and
    definitions by the doc's lang, and CamelCase symbols on every doc
    (a null lang included). A null text gives no mentions."""
    if text is None:
        return []
    out = []
    toks = keyword_tokens(text)
    out += [(t, "keyword", 0.5) for t in toks]
    out += [
        (f"{a} {b}", "phrase", 0.6) for a, b in zip(toks, toks[1:])
    ]
    for patterns, kind in ((IMPORT_RES, "module"), (DEF_RES, "definition")):
        pattern = patterns.get(lang)
        for m in pattern.findall(text) if pattern else []:
            name = m if isinstance(m, str) else next((g for g in m if g), "")
            if name:
                out.append((name, kind, ENTITY_IMPORTANCE[kind]))
    for s in SYMBOL_RE.findall(text):
        out.append((s, "symbol", ENTITY_IMPORTANCE["symbol"]))
    return out


def golden_concepts(docs, min_freq=2, max_concepts=100, canonicalize=True):
    """docs: list of (doc_id, text, lang). Returns list of concept
    dicts after aggregation (+ optional alias canonicalization) and
    the top-k cut, mirroring the reference's _extract_concepts plus the
    north rule's canonicalization."""
    groups = defaultdict(lambda: {"freq": 0, "imp_sum": 0.0, "docs": set()})
    for doc_id, text, lang in docs:
        for mtext, mtype, imp in mentions_for_doc(doc_id, text, lang):
            g = groups[(mtext.lower(), mtype)]
            g["freq"] += 1
            g["imp_sum"] += imp
            g["docs"].add(doc_id)
    concepts = [
        {
            "text": text,
            "concept_type": ctype,
            "frequency": g["freq"],
            "importance": g["imp_sum"] / g["freq"],
            "docs": g["docs"],
        }
        for (text, ctype), g in groups.items()
    ]
    if canonicalize:
        by_norm = defaultdict(list)
        for c in concepts:
            norm = re.sub(r"[-_.\s]+", "", c["text"].lower())
            by_norm[(norm, c["concept_type"])].append(c)
        merged = []
        for variants in by_norm.values():
            canonical = min(v["text"] for v in variants)
            freq = sum(v["frequency"] for v in variants)
            imp = (
                sum(v["importance"] * v["frequency"] for v in variants) / freq
            )
            docs_u = set().union(*[v["docs"] for v in variants])
            merged.append(
                {
                    "text": canonical,
                    "concept_type": variants[0]["concept_type"],
                    "frequency": freq,
                    "importance": imp,
                    "docs": docs_u,
                }
            )
        concepts = merged
    concepts = [c for c in concepts if c["frequency"] >= min_freq]
    concepts.sort(
        key=lambda c: (-round(c["importance"], 9), -c["frequency"], c["text"])
    )
    if max_concepts:
        concepts = concepts[:max_concepts]
    return concepts


def concept_id(text: str) -> str:
    return "concept_" + re.sub(r"[^\w]", "_", text.lower())


def golden_similarities(docs, threshold=0.7):
    """Exact TF-IDF cosine pairs via numpy (sublinear tf, idf=ln(N/df),
    L2 rows)."""
    import numpy as np

    n = len(docs)  # N = corpus size (matches the reference vectorizer,
    # which is fit on every document, tokenized-empty or not)
    tokens = {d: keyword_tokens(t) for d, t, _ in docs}
    tokens = {d: t for d, t in tokens.items() if t}
    vocab = sorted({w for ts in tokens.values() for w in ts})
    vidx = {w: i for i, w in enumerate(vocab)}
    ids = sorted(tokens)
    mat = np.zeros((n, len(vocab)))
    df = Counter()
    for d in ids:
        for w in set(tokens[d]):
            df[w] += 1
    for r, d in enumerate(ids):
        for w, tf in Counter(tokens[d]).items():
            mat[r, vidx[w]] = (1.0 + math.log(tf)) * math.log(n / df[w])  # noqa: E501
    norms = np.linalg.norm(mat, axis=1, keepdims=True)
    keep = norms[:, 0] > 0
    mat = np.divide(mat, norms, out=np.zeros_like(mat), where=norms > 0)
    sims = mat @ mat.T
    out = {}
    for i in range(n):
        if not keep[i]:
            continue
        for j in range(i + 1, n):
            if keep[j] and sims[i, j] >= threshold:
                a, b = ids[i], ids[j]
                if a > b:
                    a, b = b, a
                out[(a, b)] = sims[i, j]
    return out


def golden_cluster_coherence(docs, assignments):
    """Reference _calculate_cluster_coherence
    (semantic_analyzer.py:755-771), independently re-derived: per
    cluster, 1.0 when < 2 docs; else the mean of the strictly-positive
    upper-triangle pairwise cosines of the member TF-IDF vectors
    (token-less docs are all-zero rows -> only zero cosines, which the
    positive filter excludes); 0.0 when no positive pair exists.

    ``docs``: [(doc_id, text, lang)], ``assignments``:
    {doc_id: cluster_id}. Returns {cluster_id: coherence}."""
    import numpy as np

    n = len(docs)
    tokens = {d: keyword_tokens(t) for d, t, _ in docs}
    nonempty = {d: t for d, t in tokens.items() if t}
    vocab = sorted({w for ts in nonempty.values() for w in ts})
    vidx = {w: i for i, w in enumerate(vocab)}
    df = Counter()
    for ts in nonempty.values():
        for w in set(ts):
            df[w] += 1
    vecs = {}
    for d, _, _ in docs:
        v = np.zeros(len(vocab))
        for w, tf in Counter(tokens.get(d, [])).items():
            v[vidx[w]] = (1.0 + math.log(tf)) * math.log(n / df[w])
        nrm = np.linalg.norm(v)
        vecs[d] = v / nrm if nrm > 0 else v
    clusters = {}
    for d, c in assignments.items():
        clusters.setdefault(c, []).append(d)
    out = {}
    for c, members in clusters.items():
        if len(members) < 2:
            out[c] = 1.0
            continue
        sims = []
        for i in range(len(members)):
            for j in range(i + 1, len(members)):
                cos = float(vecs[members[i]] @ vecs[members[j]])
                if cos > 0:
                    sims.append(cos)
        out[c] = float(np.mean(sims)) if sims else 0.0
    return out


def golden_sentiment(text: str):
    words = text.lower().split()
    pos = sum(1 for w in words if w in POSITIVE_WORDS)
    neg = sum(1 for w in words if w in NEGATIVE_WORDS)
    if pos + neg == 0 or pos == neg:
        return "neutral", 0.0
    if pos > neg:
        return "positive", pos / (pos + neg)
    return "negative", neg / (pos + neg)


def golden_doc_type(text: str):
    if not text:
        return "unknown"
    tl = text.lower()
    counts = {
        cat: sum(1 for kw in DOC_TYPE_LEXICONS[cat] if kw in tl)
        for cat in DOC_TYPE_ORDER
    }
    if max(counts.values()) == 0:
        return "general"
    return max(counts.items(), key=lambda x: x[1])[0]


def golden_definitions(docs, concepts):
    """skos:definition per concept: the first sentence (split on
    [.!?]\\s+) of the concept's MINIMUM document id whose lowercase
    form contains the concept text, truncated to 200 chars — restating
    exporters/data_analysis.py:1159-1164 +
    semantic_analyzer._extract_context with the engine's deterministic
    choice of doc (the reference takes dict-order-first)."""
    text_by_id = {d: t for d, t, _l in docs}
    out = {}
    for c in concepts:
        mdoc = min(c["docs"])
        sentences = re.split(r"[.!?]\s+", text_by_id[mdoc])
        for s in sentences:
            if c["text"] in s.lower():
                out[c["text"]] = s[:200]
                break
    return out


def golden_triples(docs, threshold=0.7, min_freq=2, max_concepts=100,
                   created_at=None):
    """The full golden (subj, pred, obj) set (weights ignored for P/R).

    docs: list of (doc_id, text, lang). ``created_at``: the pinned
    dct:created value (pass the same string as PipelineConfig).
    """
    triples = set()
    concepts = golden_concepts(docs, min_freq, max_concepts)
    definitions = golden_definitions(docs, concepts)
    for c in concepts:
        cid = concept_id(c["text"])
        for d in c["docs"]:
            triples.add((str(d), "contains", cid))
        triples.add((cid, "skos:prefLabel", c["text"]))
        triples.add((cid, "pdf:conceptType", c["concept_type"]))
        triples.add((cid, "pdf:importanceScore", repr_float(c["importance"])))
        triples.add((cid, "pdf:frequency", str(c["frequency"])))
        if c["text"] in definitions:
            triples.add((cid, "skos:definition", definitions[c["text"]]))
    for (a, b), s in golden_similarities(docs, threshold).items():
        triples.add((str(a), "similar_to", str(b)))
    # entity-pair related_to (cross-type, mean importance > 0.5)
    for i, c1 in enumerate(concepts):
        for c2 in concepts[i + 1 :]:
            if c1["concept_type"] != c2["concept_type"]:
                e1, e2 = sorted([c1["text"], c2["text"]])
                s = (c1["importance"] + c2["importance"]) / 2
                if s > 0.5:
                    triples.add((e1, "related_to", e2))
    for doc_id, text, lang in docs:
        d = str(doc_id)
        words = [w for w in re.split(r"\s+", text.strip()) if w]
        triples.add((d, "pdf:wordCount", str(len(words))))
        triples.add((d, "pdf:characterCount", str(len(text))))
        label, score = golden_sentiment(text)
        triples.add((d, "pdf:sentimentLabel", label))
        triples.add((d, "pdf:sentimentScore", repr_float(score)))
        triples.add((d, "pdf:documentType", golden_doc_type(text)))
        triples.add((d, "dc:title", d))
        if created_at is not None:
            triples.add((d, "dct:created", created_at))
    return triples


def repr_float(x: float) -> str:
    """Match Spark's string cast of doubles (shortest repr; '1.0' etc)."""
    return repr(round(x, 10))
