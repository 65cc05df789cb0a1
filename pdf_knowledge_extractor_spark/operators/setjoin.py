"""Band-bucket kernel shared by the MinHash operators.

Banding turns each document into (doc_id, band, band_hash) rows, and
two documents are candidates when they share a (band, band_hash)
bucket. Both ``dedup.minhash_lsh_pairs`` (Jaccard over word shingles)
and ``similarity.minhash_blocked_cosine_pairs`` (cosine over tf-idf
terms) run their candidate step here:

- ``band_buckets``: ONE aggregate gathers each bucket's sorted member
  list;
- ``bucket_census``: one job over those lists gives the bucket count,
  the over-cap tail and the sub-cap candidate volume;
- ``bucket_pairs``: the pairs come from each member list in place —
  member i pairs with every later member — so no join of the banded
  rows with themselves, and every bucket sees its own size, which is
  all a cap decision needs;
- ``distinct_pairs``: one exchange on doc1_id dedups the pairs.

A hot (over-cap) bucket's member list is still gathered whole; a cap
bounds the pairs, not that list.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


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
