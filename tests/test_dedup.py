"""Deduplication operators: exact groups, MinHash-LSH recall vs exact
Jaccard, SimHash near-dup detection."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from pdf_knowledge_extractor_spark.operators.dedup import (
    exact_duplicates,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_near_dup_pairs,
)


def test_exact_duplicates_groups(spark):
    df = spark.createDataFrame(
        [
            ("a", "Hello   world"),
            ("b", "hello world"),      # same after normalization
            ("c", " HELLO\tWORLD "),   # same after normalization
            ("d", "something else"),
        ],
        "doc_id string, content string",
    )
    res = exact_duplicates(df, "doc_id", "content").persist()
    rows = {r["doc_id"]: r for r in res.collect()}
    assert rows["a"]["group_size"] == 3
    assert rows["a"]["canonical_id"] == "a"
    assert not rows["a"]["is_duplicate"]
    assert rows["b"]["is_duplicate"] and rows["b"]["canonical_id"] == "a"
    assert rows["c"]["is_duplicate"]
    assert rows["d"]["group_size"] == 1 and not rows["d"]["is_duplicate"]


def test_exact_duplicates_no_false_positives(spark, small_corpus):
    res = exact_duplicates(small_corpus, "doc_id", "content")
    # every non-empty content row is unique in the generated corpus
    dups = res.filter(F.col("is_duplicate")).count()
    empties = small_corpus.filter(F.length("content") == 0).count()
    assert dups <= max(empties - 1, 0) + small_corpus.filter(
        F.col("content").startswith("!!!")
    ).count()


def test_minhash_recall_vs_exact_jaccard(spark, small_corpus):
    exact = {
        (r["doc1_id"], r["doc2_id"]): r["jaccard"]
        for r in ngram_jaccard_pairs(
            small_corpus, threshold=0.5, n=3, id_col="doc_id",
            text_col="content", max_df=None,
        ).collect()
    }
    assert exact, "corpus must contain near-dup bodies (id %% 23 == 1)"
    got = {
        (r["doc1_id"], r["doc2_id"]): r["jaccard"]
        for r in minhash_lsh_pairs(
            small_corpus, threshold=0.5, id_col="doc_id", text_col="content"
        ).collect()
    }
    # precision exact (candidates verified with true Jaccard)
    for k, v in got.items():
        assert abs(v - exact[k]) < 1e-9
    recall = len(set(got) & set(exact)) / len(exact)
    assert recall >= 0.95, f"minhash recall {recall}"


def test_simhash_finds_near_dups(spark, small_corpus):
    pairs = {
        (r["doc1_id"], r["doc2_id"])
        for r in simhash_near_dup_pairs(
            small_corpus, max_hamming=10, id_col="doc_id", text_col="content"
        ).collect()
    }
    exact = {
        (r["doc1_id"], r["doc2_id"])
        for r in ngram_jaccard_pairs(
            small_corpus, threshold=0.8, n=3, id_col="doc_id",
            text_col="content", max_df=None,
        ).collect()
    }
    assert exact
    found = len(pairs & exact) / len(exact)
    assert found >= 0.9, f"simhash found only {found:.2f} of strong near-dups"


# 20 identical boilerplate docs (one degenerate bucket per band) + 2
# distinct near-dup docs
HOT_BUCKET_ROWS = [
    (i, "alpha beta gamma delta epsilon zeta eta theta") for i in range(20)
] + [
    (100, "red green blue cyan magenta yellow black white"),
    (101, "red green blue cyan magenta yellow black gray"),
]


def _hot_bucket_docs(spark):
    return spark.createDataFrame(HOT_BUCKET_ROWS, "doc_id long, text string")


def _pairs(df):
    return {(r["doc1_id"], r["doc2_id"]) for r in df.collect()}


def test_minhash_bucket_cap(spark):
    """max_bucket_size bounds degenerate band buckets (the |bucket|^2
    candidate blowup guard) without touching normal pairs: each
    hot-bucket member stays connected to the bucket's min-id
    representative (dedup grouping via connected components stays
    intact, O(|bucket|) candidates)."""
    import pyspark.sql.functions as F

    from pdf_knowledge_extractor_spark.operators.dedup import (
        minhash_lsh_pairs,
    )

    docs = _hot_bucket_docs(spark)

    uncapped = minhash_lsh_pairs(docs, threshold=0.5)
    n_unc = uncapped.count()
    assert n_unc >= 20 * 19 // 2 + 1  # boilerplate clique + the dup pair

    starred = minhash_lsh_pairs(docs, threshold=0.5, max_bucket_size=10)
    got = {(r["doc1_id"], r["doc2_id"]) for r in starred.collect()}
    assert (100, 101) in got
    # every clique member pairs with the representative (doc 0): the
    # family remains ONE connected component...
    assert {(0, i) for i in range(1, 20)} <= got
    # ...while the quadratic non-representative pair list is gone
    assert not any(a != 0 and b < 100 for a, b in got), got


def _long_doc_words(n_words):
    return [f"w{i}" for i in range(n_words)]


def _jaccard_rows(docs, threshold, **kw):
    from pdf_knowledge_extractor_spark.operators import dedup

    return sorted(
        (r["doc1_id"], r["doc2_id"], r["inter"], r["sz1"], r["sz2"],
         round(r["jaccard"], 9))
        for r in dedup.ngram_jaccard_pairs(
            docs, threshold=threshold, n=3, max_df=None, **kw
        ).collect()
    )


def test_ngram_prefix_path_matches_direct(spark, small_corpus, monkeypatch):
    """Round 7: ngram_jaccard_pairs picks its physical plan by posting
    volume (direct self-join below _PREFIX_PATH_MIN_POSTS, the
    prefix-pair candidate path above). Small fixtures always take the
    direct path, so pin the prefix path's exactness explicitly by
    forcing it onto the same corpus and comparing full rows — the
    prefix machinery (2-subset and single keys + string-array
    intersection verify) must reproduce the direct join's output
    byte-for-byte at several thresholds.

    The second input crosses the 128-element 2-subset bound at t=0.5:
    a 600-shingle doc (302-element prefix) emits single keys only, its
    near-duplicate and a 300-shingle prefix of both (Jaccard exactly
    0.5 with each) too, a 150-shingle prefix of that one both shapes,
    and a 125-shingle prefix of that one 2-subsets only."""
    from pdf_knowledge_extractor_spark.operators import dedup

    assert dedup._SUBSET_PREFIX_MAX == 128
    w = _long_doc_words(602)
    near = list(w)
    near[450] = "changed"
    long_docs = spark.createDataFrame(
        [(1, " ".join(w)), (2, " ".join(near)), (3, " ".join(w[:302])),
         (4, " ".join(w[:152])), (5, " ".join(w[:127]))],
        "doc_id long, content string",
    )
    inputs = (("small_corpus", small_corpus), ("long docs", long_docs))
    for name, docs in inputs:
        for t in (0.5, 0.8):
            direct = _jaccard_rows(docs, t, text_col="content")
            monkeypatch.setattr(dedup, "_PREFIX_PATH_MIN_POSTS", 0)
            prefix = _jaccard_rows(docs, t, text_col="content")
            monkeypatch.setattr(dedup, "_PREFIX_PATH_MIN_POSTS", 1_000_000)
            assert direct, f"{name} produced no pairs at t={t}"
            assert prefix == direct, (
                f"prefix path diverged from direct on {name} at t={t}"
            )


def test_ngram_prefix_keys_linear_past_bound(spark, monkeypatch):
    """A 20,000-shingle doc at t=0.8 has a 4,002-element prefix, past
    the 128-element 2-subset bound: it emits that prefix as single
    keys — at most 4,002 key rows, where its 2-subsets would be
    C(4002, 2) ≈ 8.0M — and the pairs still equal the direct path's."""
    from pdf_knowledge_extractor_spark.operators import dedup

    w = _long_doc_words(20_002)
    near = list(w)
    near[10_000] = "changed"
    docs = spark.createDataFrame(
        [(1, " ".join(w)), (2, " ".join(near)), (3, "a short other doc")],
        "doc_id long, text string",
    )
    prefix = dedup._jaccard_prefix(dedup.shingle_posting(docs), 0.8)
    keys = dedup._jaccard_keys(prefix)
    per_doc = {
        r["doc_id"]: r["count"] for r in keys.groupBy("doc_id").count()
        .collect()
    }
    assert per_doc[1] <= 4002 and per_doc[2] <= 4002, per_doc

    direct = _jaccard_rows(docs, 0.8)
    monkeypatch.setattr(dedup, "_PREFIX_PATH_MIN_POSTS", 0)
    assert direct and _jaccard_rows(docs, 0.8) == direct


def test_banded_sets_equal_flat_banded_rows(spark, small_corpus):
    """dedup's array-signature front end and similarity's flat
    min-aggregate front end band the same sets into the same rows."""
    from pdf_knowledge_extractor_spark.operators.dedup import (
        _banded_sets,
        word_shingles,
    )
    from pdf_knowledge_extractor_spark.operators.similarity import (
        _banded_rows,
    )

    sets = small_corpus.select(
        "doc_id",
        F.array_distinct(word_shingles(F.col("content"))).alias("_sh"),
    )
    long_form = sets.select("doc_id", F.explode("_sh").alias("term"))

    def rows(df):
        return sorted(
            (r["doc_id"], r["band"], r["band_hash"]) for r in df.collect()
        )

    got = rows(_banded_sets(sets, 60, 12))
    assert got and got == rows(_banded_rows(long_form, 60, 12))


def test_minhash_hot_bucket_modes_exact(spark):
    """Over-cap buckets emit exactly the star on the bucket minimum,
    and under-cap buckets their full pair list."""
    docs = _hot_bucket_docs(spark)
    star = minhash_lsh_pairs(docs, threshold=0.5, max_bucket_size=10)
    assert _pairs(star) == {(0, i) for i in range(1, 20)} | {(100, 101)}


def test_minhash_jaccard_is_exact(spark):
    """Every emitted jaccard equals the 3-word-shingle Jaccard of the
    two docs, recomputed in Python."""
    text = dict(HOT_BUCKET_ROWS)

    def shingles(doc_id):
        w = text[doc_id].split(" ")
        return {" ".join(w[i:i + 3]) for i in range(len(w) - 2)}

    docs = _hot_bucket_docs(spark)
    for cap in (None, 10):
        rows = minhash_lsh_pairs(
            docs, threshold=0.5, max_bucket_size=cap
        ).collect()
        assert rows
        for r in rows:
            a, b = shingles(r["doc1_id"]), shingles(r["doc2_id"])
            assert r["jaccard"] == len(a & b) / len(a | b), r


def test_simhash_rejects_unblockable_hamming(spark):
    """64 one-bit blocks cannot cover a distance of 64 by pigeonhole:
    the operator refuses instead of silently missing pairs."""
    docs = _hot_bucket_docs(spark)
    with pytest.raises(ValueError, match="max_hamming"):
        simhash_near_dup_pairs(docs, max_hamming=64)


def test_word_shingles_equal_inline_word_expression(spark):
    """word_shingles binds the word array once per row; its shingles
    equal the expression that re-split the text for every shingle, on a
    1,500-word document, a 2-word one (under n) and an empty one."""
    from pdf_knowledge_extractor_spark.operators.dedup import (
        normalized_text,
        word_shingles,
    )

    def inline(col, n=3):
        words = F.split(normalized_text(col), " ")
        cnt = F.greatest(F.size(words) - (n - 1), F.lit(0))
        idx = F.sequence(F.lit(1), F.greatest(cnt, F.lit(1)))
        shingle = F.transform(
            idx, lambda i: F.concat_ws(" ", F.slice(words, i, n))
        )
        return F.when(cnt > 0, shingle).otherwise(F.array())

    long_text = " ".join(
        f"Word{i % 37}, x_{i % 11}." for i in range(750)
    )
    docs = spark.createDataFrame(
        [(1, long_text), (2, "two words"), (3, "")],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["new"], r["old"])
        for r in docs.select(
            "doc_id",
            word_shingles(F.col("text")).alias("new"),
            inline(F.col("text")).alias("old"),
        ).collect()
    }
    assert len(got[1][1]) >= 1_200
    for doc_id, (new, old) in got.items():
        assert new == old, doc_id
