"""Set-similarity join kernel shared by the MinHash, cosine-prefix
and n-gram-prefix joins.

Each join blocks pairs, generates candidates, then verifies exactly.
The operators keep their input-shaped front end and their verify;
this module owns the candidate step:

- ``band_rows``: signature columns -> (doc_id, band, band_hash) rows;
- ``band_buckets``: ONE aggregate gathers each (band, band_hash)
  bucket's sorted member list; ``bucket_census``: one job over those
  lists gives the bucket count, the over-cap tail and the sub-cap
  candidate volume; ``bucket_pairs``: member i pairs with every later
  member of its list in place — no self-join of the banded rows, and
  every bucket sees its own size, which is all a cap decision needs.
  A hot bucket's member list is still gathered whole; a cap bounds
  the pairs, not that list;
- ``prefix_pairs``: prefix filtering (Bayardo et al., WWW'07) — ONE
  self-join of the (doc_id, key) rows a front end builds from its
  prefixes;
- ``distinct_pairs``: one exchange on doc1_id dedups a pair stream.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pdf_knowledge_extractor_spark.tuning import hinted


def band_rows(sigs: DataFrame, sig_cols: list[Column],
              bands: int) -> DataFrame:
    """(doc_id, band, band_hash) rows of a (doc_id, ...) signature
    relation: band b hashes signature columns [b·r, (b+1)·r),
    r = len(sig_cols) // bands, joined as decimal strings. The two
    MinHash front ends (dedup's array signature, similarity's flat
    ``min`` columns) give identical rows for the same sets."""
    r = len(sig_cols) // bands
    band_hashes = F.array(*[
        F.xxhash64(F.concat_ws(
            "_", *[c.cast("string") for c in sig_cols[b * r:(b + 1) * r]]
        ))
        for b in range(bands)
    ])
    return sigs.select(
        "doc_id", F.posexplode(band_hashes).alias("band", "band_hash")
    )


def band_buckets(banded: DataFrame) -> DataFrame:
    """(band, band_hash, _m): one row per bucket of banded (doc_id,
    band, band_hash) rows, ``_m`` its member ids in ascending order.
    Callers that read the buckets more than once (census, probe,
    pairs) persist them."""
    return banded.groupBy("band", "band_hash").agg(
        F.array_sort(F.collect_list("doc_id")).alias("_m")
    )


def bucket_census(buckets: DataFrame, cap: int) -> dict:
    """One job over the bucket lists: bucket count, buckets over
    ``cap``, banded rows in them, and the sub-cap candidate volume
    Σ n·(n−1)/2 — the direct driver of verify cost, recorded so
    data-size scaling runs can attribute wall growth to blocking-key
    densification."""
    n = F.size("_m")
    hot = n > cap
    row = buckets.agg(
        F.count("*"),
        F.sum(hot.cast("long")),
        F.sum(F.when(hot, n)),
        # n·(n−1) is even, so halving the sum is exact
        F.sum(F.when(~hot, n.cast("long") * (n - 1))),
    ).first()
    total, over, hot_rows, twice_pairs = (int(v or 0) for v in row)
    return {
        "buckets_total": total,
        "buckets_over_cap": over,
        "banded_rows_in_hot_buckets": hot_rows,
        "candidate_pairs_subcap": twice_pairs // 2,
    }


def bucket_pairs(buckets: DataFrame, star_over: int | None = None,
                 carry: tuple[str, ...] = ()) -> DataFrame:
    """Candidate (doc1_id, doc2_id, *carry) pairs, duplicates
    included, from bucket member lists: member i pairs with every
    later member (``slice``). A bucket larger than ``star_over`` emits
    only its first member's row — the star on the bucket minimum.
    ``carry`` columns of the bucket row ride along on its pairs."""
    members = buckets.filter(F.size("_m") > 1).select(
        *carry, "_m", F.posexplode("_m").alias("_i", "doc1_id")
    )
    if star_over is not None:
        members = members.filter(
            (F.size("_m") <= star_over) | (F.col("_i") == 0)
        )
    later = F.slice("_m", F.col("_i") + 2, F.size("_m") - F.col("_i") - 1)
    return (
        members.select("doc1_id", F.explode(later).alias("doc2_id"), *carry)
        # equal ids (a doc id repeated in the input) pair with nothing
        .filter(F.col("doc1_id") < F.col("doc2_id"))
    )


def distinct_pairs(pairs: DataFrame) -> DataFrame:
    """Dedup (doc1_id, doc2_id) pairs in ONE shuffle of the raw pair
    stream.

    ``distinct()`` would exchange the stream on (doc1_id, doc2_id) and
    the verify join would then re-exchange it on doc1_id — and a
    sort-merge join sorts it, the disk-spill hot spot of the 1.2M-row
    profile. Hash-partitioning on doc1_id alone already co-locates
    every copy of a pair (a subset of the grouping keys satisfies the
    aggregate's clustering requirement), and it is exactly the
    distribution the doc1-keyed verify join needs, so the deduped
    pairs flow into it with no further exchange."""
    return pairs.repartition(F.col("doc1_id")).dropDuplicates(
        ["doc1_id", "doc2_id"]
    )


def prefix_pairs(keys: DataFrame) -> DataFrame:
    """Distinct (doc1_id, doc2_id) candidates, doc1 < doc2, from ONE
    self-join of (doc_id, _k) prefix keys: two docs pair when they
    emit a common key. The front end decides what a key is (a prefix
    element, or a 2-subset of one); a hashed key is fine, since a
    collision only adds a candidate and the callers verify exactly."""
    a = keys.select(F.col("doc_id").alias("doc1_id"), "_k")
    b = keys.select(F.col("doc_id").alias("doc2_id"), "_k")
    return distinct_pairs(
        a.join(b.transform(hinted), "_k")
        .filter(F.col("doc1_id") < F.col("doc2_id"))
        .select("doc1_id", "doc2_id")
    )
