"""Deduplication operators for large-scale training-data pipelines.

All four standard flavors, DataFrame-first:

- exact: md5 fingerprint of normalized text (groupBy — one shuffle)
- n-gram Jaccard (exact): word-shingle posting-list self-join, or
  ``setjoin.prefix_pairs`` candidates on large posting lists
- MinHash + LSH banding: shingle set -> K minhashes -> ``setjoin``
  band rows and bucket pairs -> exact Jaccard verify. All column
  expressions (xxhash64 with per-function salts); no UDFs, no ML fit.
- SimHash: 64-bit signature from per-token hash bits weighted by tf;
  hamming-ball candidates via block equality.

Scale design: each join is a front end and an exact verify around the
shared set-join kernel (``setjoin``); a MinHash bucket over the cap
emits a star; the verify (``_verify_jaccard``, shared by MinHash and
the n-gram prefix path) touches only candidates. MinHash signatures
use the standard min-over-permutations estimator (Broder '97).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pdf_knowledge_extractor_spark.tuning import hinted

from pdf_knowledge_extractor_spark.functions.text import clean_text
from pdf_knowledge_extractor_spark.operators.ann import _finalize
from pdf_knowledge_extractor_spark.operators.setjoin import (
    band_buckets,
    band_rows,
    bucket_pairs,
    distinct_pairs,
    prefix_pairs,
)

# under-split sources serialize the shingling/signature projections
# onto one core (profiled: 6 of minhash_dedup's 9.5s at sf0.1 were a
# 1-task stage with 31 idle cores) — spread before the heavy maps
from pdf_knowledge_extractor_spark.sources.readers import (
    spread_input as _spread_input,
)


def normalized_text(col):
    return F.lower(clean_text(col))


def exact_duplicates(docs: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """(doc_id, fingerprint, canonical_id, group_size, is_duplicate)."""
    fp = _spread_input(docs).select(
        F.col(id_col).alias("doc_id"),
        F.md5(normalized_text(F.col(text_col))).alias("fingerprint"),
    )
    grp = fp.groupBy("fingerprint").agg(
        F.min("doc_id").alias("canonical_id"),
        F.count("*").alias("group_size"),
    )
    return fp.join(grp, "fingerprint").select(
        "doc_id",
        "fingerprint",
        "canonical_id",
        "group_size",
        (F.col("doc_id") != F.col("canonical_id")).alias("is_duplicate"),
    )


def word_shingles(col, n: int = 3):
    """Array of word n-gram shingles over normalized text.

    The word array is bound to a lambda variable (a transform over a
    one-element array) before the per-shingle transform reads it.
    Referenced as an expression inside that transform, it would be
    re-evaluated for every shingle (interpreted higher-order functions
    have no common-subexpression elimination), making a document's cost
    quadratic in its length."""

    def shingles(words):
        cnt = F.greatest(F.size(words) - (n - 1), F.lit(0))
        idx = F.sequence(F.lit(1), F.greatest(cnt, F.lit(1)))
        shingle = F.transform(
            idx, lambda i: F.concat_ws(" ", F.slice(words, i, n))
        )
        return F.when(cnt > 0, shingle).otherwise(F.array())

    words = F.split(normalized_text(col), " ")
    return F.transform(F.array(words), shingles)[0]


def shingle_posting(docs: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text", n: int = 3) -> DataFrame:
    """(doc_id, shingle) distinct posting list."""
    return (
        _spread_input(docs)
        .select(
            F.col(id_col).alias("doc_id"),
            F.explode(word_shingles(F.col(text_col), n)).alias("shingle"),
        )
        .distinct()
    )


# posting-volume crossover for ngram_jaccard_pairs' physical plan:
# the direct posting self-join costs ~Sigma df^2 join rows (quadratic
# in posting density) but has minimal fixed overhead; the prefix-pair
# path bounds candidates near-linearly but adds ~10 stages. Measured
# crossover sits between 2.6e5 postings (direct faster by ~3s) and
# 2.6e6 (prefix faster by ~9s) on the driver tables; at 100-TB scale
# the prefix path always engages.
_PREFIX_PATH_MIN_POSTS = 1_000_000

# a doc emits 2-subset prefix keys while its prefix has at most this
# many elements — C(128, 2) = 8,128 key rows; past it, its prefix
# elements become single keys, linear in the prefix length. Measured
# with tools/bench_prefix_bound.py (4 vCPUs): on sf0.1 (prefixes
# <= 51) 2-subsets cut the candidates 78x at t=0.8 and 2.8x at t=0.5
# against single keys; on page-length docs (150-1,200 words) they cut
# almost none, and the candidate step grows with the bound (t=0.5:
# 2.6 s at 0, 4.1 s at 128, 4.9 s at 256, 15.9 s with no bound; 128
# vs 256 over 3 fresh JVMs: 6.4 vs 7.6 s at t=0.5, 6.9 vs 7.8 s at
# t=0.8). 128 is the lowest bound that keeps every sf0.1 doc on
# 2-subsets.
_SUBSET_PREFIX_MAX = 128


def _jaccard_prefix(posts: DataFrame, threshold: float) -> DataFrame:
    """(doc_id, _h, rank, _single, _subset) prefix rows of distinct
    (doc_id, shingle) postings: each doc's first |X| - ceil(t·|X|) + 2
    shingles in the global order (df asc, shingle asc),
    _h = xxhash64(shingle), and the key shapes the doc emits
    (``_jaccard_keys``).

    Completeness: a pair with J >= t shares I >= ceil(t·|X|) elements,
    so the q-th smallest shared element sits at position
    <= |X| - ceil(t·|X|) + q in each doc X, and the two sizes lie
    within a factor t of each other.

    - I >= 2: the TWO smallest shared elements lie in both prefixes
      and form a shared 2-subset key. A doc emits these while its
      prefix has <= _SUBSET_PREFIX_MAX elements.
    - a doc also emits single keys when its largest possible partner
      (|X|/t shingles) is past that bound. If either doc of a pair is
      past it, so is each doc's largest possible partner; both then
      emit the smallest shared element as a single key.
    - I = 1 qualifies only when |A| + |B| <= 1 + 1/t, so docs of
      <= floor(1/t) shingles emit single keys too (their prefix is
      the whole doc).

    Joining on 2-subsets instead of single shingles cuts the
    candidate join volume 33x at the 50k-doc driver table
    (128M -> 3.9M) because two random docs almost never share TWO
    rare shingles."""

    def plen(size):
        # ceil of t·|X| - 1e-9: float error only LENGTHENS the prefix
        return size - F.ceil(threshold * size - 1e-9) + 2

    dfs = posts.groupBy("shingle").agg(F.count("*").alias("_df"))
    wdoc = Window.partitionBy("doc_id")
    wrank = wdoc.orderBy(F.asc("_df"), F.asc("shingle"))
    ranked = (
        posts.join(dfs.transform(hinted), "shingle")
        .withColumn("rank", F.row_number().over(wrank))
        .withColumn("_sz", F.count("*").over(wdoc))
    )
    sz = F.col("_sz")
    single = F.lit(True)
    if threshold > 0:
        single = (sz <= int(1.0 / threshold)) | (
            plen(F.floor(sz / threshold + 1e-9)) > _SUBSET_PREFIX_MAX
        )
    return ranked.filter(F.col("rank") <= plen(sz)).select(
        "doc_id", F.xxhash64("shingle").alias("_h"), "rank",
        single.alias("_single"),
        (plen(sz) <= _SUBSET_PREFIX_MAX).alias("_subset"),
    )


def _jaccard_keys(prefix: DataFrame) -> DataFrame:
    """(doc_id, _k) keys of ``_jaccard_prefix`` rows for
    ``setjoin.prefix_pairs``: _h of each element of a ``_single`` doc,
    and xxhash64 of the rank-ordered _h of every two elements of a
    ``_subset`` doc's prefix, so two docs sharing both elements emit
    the same key. A hash collision, within or across the two shapes,
    only adds a candidate."""
    singles = prefix.filter("_single").select(
        "doc_id", F.col("_h").alias("_k")
    )
    # a doc-keyed self-join of the short prefix lists; the rank
    # inequality both dedups and orients the key
    two = prefix.filter("_subset")
    a = two.select("doc_id", F.col("_h").alias("_h1"),
                   F.col("rank").alias("_r1"))
    b = two.select("doc_id", F.col("_h").alias("_h2"),
                   F.col("rank").alias("_r2"))
    subsets = (
        a.join(b.transform(hinted), "doc_id")
        .filter(F.col("_r1") < F.col("_r2"))
        .select("doc_id", F.xxhash64("_h1", "_h2").alias("_k"))
    )
    return singles.unionByName(subsets)


def ngram_jaccard_pairs(
    docs: DataFrame,
    threshold: float = 0.8,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_df: int | None = 100_000,
) -> DataFrame:
    """Exact n-gram Jaccard self-join:
    |A ∩ B| / |A ∪ B| >= threshold. ``max_df`` stop-lists boilerplate
    shingles.

    Physical shape (round 7): prefix candidates (Bayardo WWW'07 / Xiao
    PPJoin, extended to 2-subset keys; ``_jaccard_prefix``,
    ``_jaccard_keys``) + exact set-intersection verify, replacing the
    full posting self-join + per-pair count aggregation — at the
    50k-doc driver table a 128M-row join feeding a 114M-group exchange,
    nearly all of it for pairs sharing a single boilerplate shingle
    that the threshold then rejects. Join keys are xxhash64 of the shingles — a collision can
    only ADD a candidate, and the verify intersects the docs' actual
    sorted shingle-string arrays, so every emitted (inter, jaccard) is
    exact and the output is identical to the full self-join's.

    ADAPTIVE: below ``_PREFIX_PATH_MIN_POSTS`` posting rows the
    direct self-join runs instead — the prefix machinery is ~10 extra
    stages of fixed overhead that dominate small corpora (measured
    +3s at the 5k-doc table where the full join is 1.3e6 rows, vs
    −9s at the 50k table where it is 1.28e8). The materializing
    count that decides is the same job both paths need to populate
    the posting cache. Output is identical on either path, so the
    switch is a pure physical-plan choice."""
    posts = shingle_posting(docs, id_col, text_col, n).persist()
    if max_df:
        hot = (
            posts.groupBy("shingle")
            .count()
            .filter(F.col("count") > max_df)
            .select("shingle")
        )
        posts = posts.join(F.broadcast(hot), "shingle", "left_anti")
    n_posts = posts.count()  # materializes the cache for either path
    if n_posts < _PREFIX_PATH_MIN_POSTS:
        sizes = posts.groupBy("doc_id").agg(F.count("*").alias("sz"))
        a = posts.select(F.col("doc_id").alias("doc1_id"), "shingle")
        b = posts.select(F.col("doc_id").alias("doc2_id"), "shingle")
        inter = (
            a.join(b.transform(hinted), "shingle")
            .filter(F.col("doc1_id") < F.col("doc2_id"))
            .groupBy("doc1_id", "doc2_id")
            .agg(F.count("*").alias("inter"))
        )
        s1 = sizes.select(F.col("doc_id").alias("doc1_id"),
                          F.col("sz").alias("sz1"))
        s2 = sizes.select(F.col("doc_id").alias("doc2_id"),
                          F.col("sz").alias("sz2"))
        return (
            inter.join(s1.transform(hinted), "doc1_id")
            .join(s2.transform(hinted), "doc2_id")
            .withColumn(
                "jaccard",
                F.col("inter")
                / (F.col("sz1") + F.col("sz2") - F.col("inter")),
            )
            .filter(F.col("jaccard") >= threshold)
            .select("doc1_id", "doc2_id", "inter", "sz1", "sz2",
                    "jaccard")
        )
    # cached: both sides of the key join read the single and the
    # 2-subset keys, and each read would re-run the ranking window
    prefix = _jaccard_prefix(posts, threshold).persist()
    # cached: the verify reads the candidates three times (the pairs
    # and the doc ids that bound each side's shingle arrays)
    candidates = prefix_pairs(_jaccard_keys(prefix)).persist()
    return _finalize(
        _verify_jaccard(candidates, threshold, posts=posts), candidates,
        prefix,
    )


def _verify_jaccard(candidates: DataFrame, threshold: float, *,
                    sets: DataFrame | None = None,
                    posts: DataFrame | None = None) -> DataFrame:
    """Exact Jaccard of distinct candidate pairs: (doc1_id, doc2_id,
    inter, sz1, sz2, jaccard) with jaccard >= ``threshold``.

    The shingles come either as ``sets`` — (doc_id, _sh), each doc's
    distinct shingles as an array — or as distinct (doc_id, shingle)
    ``posts``. Postings are first cut to the candidates' docs with a
    left-semi join and only then collected into sorted arrays, so the
    collect is bounded by the candidate docs, not the corpus; the
    semi join reads the candidates again, so the caller caches them.
    ``sets`` are joined whole: on the 600-row dedup benchmark (4 vCPUs)
    a semi join there added 8 Spark jobs and ~2.5 s to MinHash's 6.7 s.
    The intersection size comes from ``array_intersect`` on the pair's
    two arrays — no count aggregate over a pair x shingle fan-out — and
    each size from the array length."""
    if sets is None:
        ids = candidates.select(
            F.explode(F.array("doc1_id", "doc2_id")).alias("doc_id")
        )
        sets = (
            posts.join(ids.transform(hinted), "doc_id", "left_semi")
            .groupBy("doc_id")
            .agg(F.array_sort(F.collect_list("shingle")).alias("_sh"))
        )
    s1 = sets.select(F.col("doc_id").alias("doc1_id"),
                     F.col("_sh").alias("_sh1"))
    s2 = sets.select(F.col("doc_id").alias("doc2_id"),
                     F.col("_sh").alias("_sh2"))
    return (
        candidates.join(s1.transform(hinted), "doc1_id")
        .join(s2.transform(hinted), "doc2_id")
        .withColumn(
            "inter",
            F.size(F.array_intersect("_sh1", "_sh2")).cast("long"),
        )
        .withColumn("sz1", F.size("_sh1").cast("long"))
        .withColumn("sz2", F.size("_sh2").cast("long"))
        .withColumn(
            "jaccard",
            F.col("inter") / (F.col("sz1") + F.col("sz2") - F.col("inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc1_id", "doc2_id", "inter", "sz1", "sz2", "jaccard")
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    threshold: float = 0.8,
    num_hashes: int = 64,
    bands: int = 16,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_bucket_size: int | None = None,
) -> DataFrame:
    """MinHash banding dedup: K=num_hashes minhashes split into
    ``bands`` bands of K/bands rows; docs sharing any band hash become
    candidates; candidates verified with EXACT Jaccard over shingle
    sets. Precision exact; recall = 1-(1-t^r)^b (t=0.8, r=4, b=16:
    0.9997).

    Plan: the per-doc shingle SET stays an array column and is
    persisted — signatures and band hashes are narrow expressions over
    it (``_banded_sets``). Then ONE aggregate on (band, band_hash)
    gathers each bucket's members and emits the candidate pairs
    (``setjoin.bucket_pairs``), one exchange on doc1_id dedups them,
    and each pair joins the shingle arrays of its two docs for the
    exact verify (``_verify_jaccard``). The cap needs
    no census, broadcast or join of its own: each bucket sees its own
    size.

    ``max_bucket_size``: the quadratic failure mode of banding is a
    DEGENERATE bucket — a band hash shared by thousands of docs
    (boilerplate shingles, tiny vocabularies) contributes |bucket|²
    candidate pairs. Each member of a bucket over the cap pairs with
    the bucket's MINIMUM doc id only (a star) — O(|bucket|) candidates
    instead of |bucket|². Dedup consumes these pairs as CONNECTIVITY
    (the duplicate-group step is a connected-components pass over
    them), and a star on the representative preserves exactly that: a
    true near-dup family stays one component; a false-positive pile-up
    costs |bucket| exact-Jaccard verifications that then fail — linear
    waste, not quadratic. What the star gives up is only the
    non-representative PAIR list inside hot buckets, which dedup never
    needed. (The similarity θ-join, whose contract IS the pair list,
    density-probes hot buckets instead — see
    similarity.minhash_blocked_cosine_pairs.)

    None (default cap) keeps full banding recall for the oracle gate;
    set a few hundred at 100-TB scale."""
    sets = _spread_input(docs).select(
        F.col(id_col).alias("doc_id"),
        F.array_distinct(word_shingles(F.col(text_col), n)).alias("_sh"),
    ).persist()
    banded = _banded_sets(sets, num_hashes, bands)
    candidates = distinct_pairs(
        bucket_pairs(band_buckets(banded), star_over=max_bucket_size)
    )
    return _finalize(
        _verify_jaccard(candidates, threshold, sets=sets).select(
            "doc1_id", "doc2_id", "jaccard"
        ),
        sets,
    )


def _banded_sets(sets: DataFrame, num_hashes: int,
                 bands: int) -> DataFrame:
    """(doc_id, band, band_hash) rows of (doc_id, _sh) shingle-set
    arrays: the K-minhash signature min(xxhash64(s, k)) of each
    non-empty set, banded by ``setjoin.band_rows``. The signature is
    materialized behind a single-element explode barrier: interpreted
    HOF eval has no common-subexpression elimination, so the band
    hashes would otherwise each recompute all K minhashes. The rows
    equal ``similarity._banded_rows`` over the same sets in long form,
    but that flat-aggregate form measured +18% ``wall_s`` on the
    600-row dedup benchmark, so both front ends stay."""
    sig = F.transform(
        F.sequence(F.lit(0), F.lit(num_hashes - 1)),
        lambda k: F.array_min(
            F.transform(F.col("_sh"), lambda s: F.xxhash64(s, k))
        ),
    )
    with_sig = sets.filter(F.size("_sh") > 0).select(
        "doc_id", F.explode(F.array(sig)).alias("_sig")
    )
    return band_rows(
        with_sig, [F.col("_sig")[k] for k in range(num_hashes)], bands
    )


def simhash_signatures(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """64-bit SimHash over word tokens weighted by tf (Charikar,
    STOC'02 — public algorithm): bit_j = sign(Σ_tokens tf * ±1 where
    the sign is bit j of hash(token)). Signature carried as two 32-bit
    halves (sh_hi, sh_lo) — overflow-free under ANSI mode.

    One shuffle only (the (doc, token) tf groupBy); the 64 bit-sums
    are array expressions over the per-doc token list — the old
    per-bit explode moved 64x the token table through a second
    shuffle for the exact same arithmetic.

    ``hash_fn``: "xxhash64" (default, fastest) or "md5" — two 32-bit
    halves parsed from the md5 hex digest. md5 exists identically in
    DuckDB, which makes the whole signature (and therefore the pair
    set) reproducible in the SQL oracle — the driver-contract gate
    uses it."""
    words = F.split(normalized_text(F.col(text_col)), " ")
    if hash_fn == "md5":
        lo = F.conv(F.substring(F.md5("w"), 1, 8), 16, 10).cast("long")
        hi = F.conv(F.substring(F.md5("w"), 9, 8), 16, 10).cast("long")
    else:
        lo = F.xxhash64("w").bitwiseAND(F.lit(4294967295))
        hi = F.shiftrightunsigned(F.xxhash64("w"), 32).bitwiseAND(
            F.lit(4294967295)
        )
    tf = (
        _spread_input(docs)
        .select(F.col(id_col).alias("doc_id"), F.explode(words).alias("w"))
        .filter(F.length("w") > 0)
        .groupBy("doc_id", "w")
        .agg(F.count("*").alias("tf"))
        .select("doc_id", "tf", lo.alias("lo"), hi.alias("hi"))
    )
    toks = tf.groupBy("doc_id").agg(
        F.collect_list(F.struct("tf", "lo", "hi")).alias("_t")
    )
    # bits[b] = 1 iff Σ tf * (bit b of token hash ? +1 : -1) > 0.
    # SQL-expr HOF so the per-bit shift amount can be the lambda var.
    bits = F.expr(
        "transform(sequence(0, 63), b -> CASE WHEN aggregate(_t, 0L,"
        " (acc, t) -> acc + CASE WHEN"
        " (shiftright(CASE WHEN b < 32 THEN t.lo ELSE t.hi END, b % 32) & 1)"
        " = 1 THEN t.tf ELSE -t.tf END) > 0 THEN 1L ELSE 0L END)"
    )
    packed = toks.select("doc_id", bits.alias("_bits")).select(
        "doc_id",
        F.expr(
            "aggregate(sequence(0, 31), 0L,"
            " (acc, i) -> acc + shiftleft(element_at(_bits, i + 1), i))"
        ).alias("sh_lo"),
        F.expr(
            "aggregate(sequence(0, 31), 0L,"
            " (acc, i) -> acc + shiftleft(element_at(_bits, i + 33), i))"
        ).alias("sh_hi"),
    )
    return packed


def _block_layout(blocks: int) -> list[tuple[int, int]]:
    """Split 64 signature bits into ``blocks`` near-equal blocks:
    (start, width) per block, widths differing by at most 1, so the
    pigeonhole-minimal d+1 need not divide 64."""
    base, rem = divmod(64, blocks)
    layout, start = [], 0
    for b in range(blocks):
        w = base + (1 if b < rem else 0)
        layout.append((start, w))
        start += w
    return layout


def _block_value(start: int, width: int) -> F.Column:
    """Bits [start, start+width) of the signature carried as 32-bit
    halves (sh_lo = bits 0..31, sh_hi = bits 32..63), as a long.
    Handles blocks straddling the half boundary."""
    lo, hi = F.col("sh_lo"), F.col("sh_hi")
    end = start + width
    if end <= 32:
        return F.shiftright(lo, start).bitwiseAND(F.lit((1 << width) - 1))
    if start >= 32:
        return F.shiftright(hi, start - 32).bitwiseAND(
            F.lit((1 << width) - 1)
        )
    lo_w = 32 - start
    lo_part = F.shiftright(lo, start).bitwiseAND(F.lit((1 << lo_w) - 1))
    hi_part = hi.bitwiseAND(F.lit((1 << (end - 32)) - 1))
    return lo_part.bitwiseOR(F.shiftleft(hi_part, lo_w))


def simhash_near_dup_pairs(
    docs: DataFrame,
    max_hamming: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Near-dup pairs with Hamming distance <= max_hamming via the
    pigeonhole trick: split 64 bits into max_hamming + 1 blocks — any
    pair within distance d shares at least one identical block;
    block-equality equi-join, then exact popcount verify on
    candidates only.

    d + 1 is the pigeonhole-minimal block count, which maximizes block
    WIDTH (64/(d+1) bits) and therefore the bucket key space. Recall
    is EXACTLY 1.0 (the output is the complete hamming ball, which is
    what the DuckDB oracle checks); blocks need not divide 64 evenly —
    widths differ by at most one bit (_block_layout). The round-6
    form rounded the count UP to the next divisor of 64 (d=8 -> 16
    four-bit blocks, 16 bucket values each); d+1=9 seven/eight-bit
    blocks give 128-256 values per block, measured 5.6x fewer
    candidate pairs at the 50k-doc driver table (4.32e9 -> 0.77e9)
    for the identical output. ``max_hamming >= 64`` raises
    ValueError: 64 one-bit blocks cannot hold the pigeonhole for it.

    Scale note: candidates per block scale with sum over bucket values
    of n_v^2 — wider blocks spread docs over more values. At 100-TB
    scale use the production setting d<=3 with 4 sixteen-bit blocks
    (Manku et al., WWW'07); boilerplate clusters belong to the
    exact-fingerprint path."""
    if max_hamming >= 64:
        # the pigeonhole needs max_hamming + 1 blocks of >= 1 bit;
        # 64 blocks would silently miss pairs at distance 64
        raise ValueError(
            f"max_hamming={max_hamming} needs more than 64 blocks; "
            "use max_hamming <= 63"
        )
    sigs = simhash_signatures(docs, id_col, text_col, hash_fn).persist()
    blk_vals = F.array(
        *[_block_value(s, w) for s, w in _block_layout(max_hamming + 1)]
    )
    blocks = (
        sigs.select("doc_id", "sh_lo", "sh_hi", F.posexplode(blk_vals))
        .withColumnRenamed("pos", "blk")
        .withColumnRenamed("col", "blk_val")
    )
    c1 = blocks.select(
        F.col("doc_id").alias("doc1_id"), "blk", "blk_val",
        F.col("sh_lo").alias("lo1"), F.col("sh_hi").alias("hi1"),
    )
    c2 = blocks.select(
        F.col("doc_id").alias("doc2_id"), "blk", "blk_val",
        F.col("sh_lo").alias("lo2"), F.col("sh_hi").alias("hi2"),
    )
    hamming = F.bit_count(
        F.col("lo1").bitwiseXOR(F.col("lo2"))
    ) + F.bit_count(F.col("hi1").bitwiseXOR(F.col("hi2")))
    # hash join for the block self-join (no sorts of the pair fan-out),
    # and the popcount verify runs MAP-SIDE on the raw join output,
    # BEFORE the distinct: the filter is a pure function of the pair,
    # so distinct(filter(x)) == filter(distinct(x)), and the dedup
    # exchange then carries only ball members x blocks (<= d+1 x
    # |output| rows) instead of the full candidate volume — at the
    # 50k-doc driver table that is 39M rows shuffled instead of 770M
    return _finalize(
        c1.join(c2.transform(hinted), ["blk", "blk_val"])
        .filter(F.col("doc1_id") < F.col("doc2_id"))
        .withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select("doc1_id", "doc2_id", "hamming")
        .distinct(),
        sigs,
    )
