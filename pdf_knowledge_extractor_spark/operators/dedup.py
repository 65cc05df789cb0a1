"""Deduplication operators for large-scale training-data pipelines.

All four standard flavors, DataFrame-first:

- exact: md5 fingerprint of normalized text (groupBy — one shuffle)
- n-gram Jaccard (exact): word-shingle posting-list self-join, or
  prefix-pair candidates on large posting lists
- MinHash + LSH banding: shingle -> K minhashes -> bands -> one
  aggregate per (band, band_hash) bucket that emits the candidate
  pairs -> exact Jaccard verify. All column expressions (xxhash64
  with per-function salts); no UDFs, no ML fit.
- SimHash: 64-bit signature from per-token hash bits weighted by tf;
  hamming-ball candidates via band equality.

Scale design: candidates come from equi-joins or aggregates on a
hash/bucket key; a MinHash bucket over the cap emits a star or
nothing; the verify step (``_verify_jaccard``, shared by MinHash and
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
    bucket_pairs,
    distinct_pairs,
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
    """Array of word n-gram shingles over normalized text."""
    words = F.split(normalized_text(col), " ")
    m = F.size(words)
    cnt = F.greatest(m - (n - 1), F.lit(0))
    idx = F.sequence(F.lit(1), F.greatest(cnt, F.lit(1)))
    shingle = F.transform(
        idx, lambda i: F.concat_ws(" ", F.slice(words, i, n))
    )
    return F.when(cnt > 0, shingle).otherwise(F.array())


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

    Physical shape (round 7): prefix-pair candidate generation + exact
    set-intersection verify, replacing the full posting self-join +
    per-pair count aggregation. The r1-r6 plan joined the complete
    posting lists and aggregated a count per (doc1, doc2) — at the
    50k-doc driver table that is a 128M-row join feeding a 114M-group
    exchange, nearly all of it for pairs sharing a single boilerplate
    shingle that the threshold then rejects.

    Candidate completeness (prefix filtering, Bayardo WWW'07 /
    Xiao PPJoin, extended to 2-subset keys):

    - order shingles globally by (df asc, shingle asc); each doc's
      PREFIX is its first p+1 shingles where p = |A| - ceil(t·|A|) + 1
      (ceil taken on t·|A| - 1e-9 so float error can only LENGTHEN the
      prefix — conservative).
    - a pair with J >= t shares I >= max(2, ceil(t·|A|), ceil(t·|B|))
      elements whenever I >= 2; the q-th smallest shared element sits
      at position <= |X| - I + q <= |X| - ceil(t·|X|) + q in each
      doc's order, so the TWO smallest shared elements both lie in
      both docs' (p+1)-prefixes, and the ordered pair of them is a
      shared 2-subset KEY. Joining on prefix 2-subsets instead of
      single prefix shingles cuts the candidate join volume 33x at
      the driver table (128M -> 3.9M) because two random docs almost
      never share TWO rare shingles.
    - pairs with I = 1 can only qualify when |A| + |B| <= 1 + 1/t
      (J = 1/(|A|+|B|-1) >= t), so docs with |X| <= floor(1/t) also
      join on single shingles among themselves — a tiny side channel
      that restores exactness for near-empty docs.

    Join keys are xxhash64 pairs of the two shingles — a hash
    collision can only ADD a candidate (equal strings always collide),
    never lose one, and the verify is collision-free: it intersects
    the docs' actual sorted shingle-string arrays, so every emitted
    (inter, jaccard) is exact and the output is identical to the full
    self-join's.

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
    dfs = posts.groupBy("shingle").agg(F.count("*").alias("_df"))
    wdoc = Window.partitionBy("doc_id")
    wrank = wdoc.orderBy(F.asc("_df"), F.asc("shingle"))
    ranked = (
        posts.join(dfs.transform(hinted), "shingle")
        .withColumn("_rn", F.row_number().over(wrank))
        .withColumn("_sz", F.count("*").over(wdoc))
    )
    prefix_len = (
        F.col("_sz")
        - F.ceil(F.lit(threshold) * F.col("_sz") - 1e-9)
        + 2
    )
    prefix = ranked.filter(F.col("_rn") <= prefix_len).select(
        "doc_id", F.xxhash64("shingle").alias("_h"), "_rn"
    )
    # per-doc 2-subsets of the prefix (a doc-keyed self-join of the
    # short prefix lists; _rn inequality both dedups and fixes the
    # global-order orientation of the key so both docs emit the same
    # ordered pair)
    k1 = prefix.select("doc_id", F.col("_h").alias("_k1"),
                       F.col("_rn").alias("_r1"))
    k2 = prefix.select("doc_id", F.col("_h").alias("_k2"),
                       F.col("_rn").alias("_r2"))
    keys = (
        k1.join(k2.transform(hinted), "doc_id")
        .filter(F.col("_r1") < F.col("_r2"))
        .select("doc_id", "_k1", "_k2")
    )
    a = keys.select(F.col("doc_id").alias("doc1_id"), "_k1", "_k2")
    b = keys.select(F.col("doc_id").alias("doc2_id"), "_k1", "_k2")
    candidates = (
        a.join(b.transform(hinted), ["_k1", "_k2"])
        .filter(F.col("doc1_id") < F.col("doc2_id"))
        .select("doc1_id", "doc2_id")
    )
    # I=1 side channel: single-shingle join restricted to docs small
    # enough that one shared shingle can reach the threshold
    small_cap = int(1.0 / threshold) if threshold > 0 else None
    if small_cap and small_cap >= 1:
        small_docs = (
            posts.groupBy("doc_id")
            .agg(F.count("*").alias("_sz"))
            .filter(F.col("_sz") <= small_cap)
            .select("doc_id")
        )
        small = posts.join(
            F.broadcast(small_docs), "doc_id", "left_semi"
        ).select("doc_id", F.xxhash64("shingle").alias("_h"))
        sa = small.select(F.col("doc_id").alias("doc1_id"), "_h")
        sb = small.select(F.col("doc_id").alias("doc2_id"), "_h")
        candidates = candidates.unionByName(
            sa.join(sb, "_h")
            .filter(F.col("doc1_id") < F.col("doc2_id"))
            .select("doc1_id", "doc2_id")
        )
    # cached: the verify reads the candidates three times (the pairs
    # and the doc ids that bound each side's shingle arrays)
    candidates = distinct_pairs(candidates).persist()
    return _finalize(
        _verify_jaccard(candidates, threshold, posts=posts), candidates
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
            posts.join(ids, "doc_id", "left_semi")
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
    persisted — signatures and band hashes are narrow array
    expressions over it (the K-minhash signature is materialized
    behind a single-element explode barrier first: interpreted HOF
    eval has no common-subexpression elimination, so the 16 band
    hashes would otherwise each recompute all 64 minhashes). Then ONE
    aggregate on (band, band_hash) gathers each bucket's members and
    emits the candidate pairs (``setjoin.bucket_pairs``), one exchange
    on doc1_id dedups them, and each pair joins the shingle arrays of its
    two docs for the exact verify (``_verify_jaccard``). The cap needs
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
    rows_per_band = num_hashes // bands
    sets = _spread_input(docs).select(
        F.col(id_col).alias("doc_id"),
        F.array_distinct(word_shingles(F.col(text_col), n)).alias("_sh"),
    ).persist()
    sig = F.transform(
        F.sequence(F.lit(0), F.lit(num_hashes - 1)),
        lambda k: F.array_min(
            F.transform(F.col("_sh"), lambda s: F.xxhash64(s, k))
        ),
    )
    # Generate barrier: materialize the signature once per doc
    # (CollapseProject cannot merge across explode)
    with_sig = sets.filter(F.size("_sh") > 0).select(
        "doc_id", F.explode(F.array(sig)).alias("_sig")
    )
    band_hashes = F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda b: F.xxhash64(
            F.concat_ws(
                "_",
                F.transform(
                    F.slice(F.col("_sig"), b * rows_per_band + 1, rows_per_band),
                    lambda x: x.cast("string"),
                ),
            )
        ),
    )
    banded = (
        with_sig.select("doc_id", F.posexplode(band_hashes))
        .withColumnRenamed("pos", "band")
        .withColumnRenamed("col", "band_hash")
    )
    candidates = distinct_pairs(
        bucket_pairs(band_buckets(banded), star_over=max_bucket_size)
    )
    return _finalize(
        _verify_jaccard(candidates, threshold, sets=sets).select(
            "doc1_id", "doc2_id", "jaccard"
        ),
        sets,
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


def _block_layout(bands: int) -> list[tuple[int, int]]:
    """Split 64 signature bits into ``bands`` near-equal blocks:
    (start, width) per block, widths differing by at most 1. Any
    divisor-of-64 count reproduces the classic uniform split; other
    counts (e.g. the pigeonhole-minimal d+1) are first-class."""
    base, rem = divmod(64, bands)
    layout, start = [], 0
    for b in range(bands):
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
    bands: int | None = None,
    hash_fn: str = "xxhash64",
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Near-dup pairs with Hamming distance <= max_hamming via the
    pigeonhole band trick: split 64 bits into ``bands`` blocks —
    any pair within distance d < bands shares at least one identical
    block; block-equality equi-join, then exact popcount verify on
    candidates only.

    ``bands`` defaults to ``max_hamming + 1`` — the pigeonhole-minimal
    block count, which maximizes block WIDTH (64/(d+1) bits) and
    therefore the bucket key space. Recall stays EXACTLY 1.0 (the
    output is the complete hamming ball, which is what the DuckDB
    oracle checks) for any bands > max_hamming; blocks need not divide
    64 evenly — widths differ by at most one bit (_block_layout). The
    round-6 form rounded bands UP to the next divisor of 64 (d=8 ->
    16 four-bit blocks, 16 bucket values each); d+1=9 seven/eight-bit
    blocks give 128-256 values per block, measured 5.6x fewer
    candidate pairs at the 50k-doc driver table (4.32e9 -> 0.77e9)
    for the identical output. Pass a smaller ``bands`` to trade
    recall for fewer candidates at scale. With ``bands`` left to its
    default, ``max_hamming >= 64`` raises ValueError: 64 one-bit
    blocks cannot hold the pigeonhole for it.

    Scale note: candidates per block scale with sum over bucket values
    of n_v^2 — wider blocks spread docs over more values. At 100-TB
    scale use the production setting d<=3 with 4 sixteen-bit blocks
    (Manku et al., WWW'07) and/or ``max_bucket_size`` to drop
    degenerate buckets (boilerplate clusters belong to the
    exact-fingerprint path)."""
    if bands is None:
        if max_hamming >= 64:
            # the pigeonhole needs max_hamming + 1 blocks of >= 1 bit;
            # 64 blocks would silently miss pairs at distance 64
            raise ValueError(
                f"max_hamming={max_hamming} needs more than 64 blocks; "
                "use max_hamming <= 63 or pass bands explicitly"
            )
        bands = max_hamming + 1
    sigs = simhash_signatures(docs, id_col, text_col, hash_fn).persist()
    blk_vals = F.array(
        *[_block_value(s, w) for s, w in _block_layout(bands)]
    )
    blocks = (
        sigs.select("doc_id", "sh_lo", "sh_hi", F.posexplode(blk_vals))
        .withColumnRenamed("pos", "blk")
        .withColumnRenamed("col", "blk_val")
    )
    if max_bucket_size is not None:
        hot = (
            blocks.groupBy("blk", "blk_val")
            .count()
            .filter(F.col("count") > max_bucket_size)
            .select("blk", "blk_val")
        )
        blocks = blocks.join(F.broadcast(hot), ["blk", "blk_val"], "left_anti")
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
    # exchange then carries only ball members x blocks (<= bands x
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
