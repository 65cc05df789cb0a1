"""Tests for the benchmark's own helpers.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

from probes import Span, StageRec, covered, self_time, stage_delta  # noqa: E402


def test_covered_merges_overlaps_and_clips():
    assert covered([(1, 3), (2, 5), (7, 8)], 0, 10) == 5
    assert covered([(-5, 2), (9, 20)], 0, 10) == 3
    assert covered([], 0, 10) == 0


def test_self_time_subtracts_children_once():
    parent = Span("pass", 0.0, 10.0)
    spans = [
        parent,
        Span("a", 1.0, 4.0, parent="pass"),
        Span("b", 3.0, 6.0, parent="pass"),     # overlaps a
        Span("a.inner", 1.5, 2.0, parent="a"),  # grandchild: not subtracted twice
        Span("other", 2.0, 9.0),                # not a child
    ]
    assert self_time(parent, spans) == pytest.approx(5.0)
    assert self_time(spans[1], spans) == pytest.approx(2.5)


def test_stage_delta_counts_only_stages_after_the_mark():
    newest_first = [
        StageRec(12, run_ms=1500, shuffle_bytes=10, shuffle_records=2,
                 spill_bytes=7, peak_mem_bytes=300),
        StageRec(11),                              # skipped: all zero
        StageRec(10, run_ms=500, shuffle_bytes=5, shuffle_records=1,
                 peak_mem_bytes=900),
        StageRec(9, run_ms=10_000, shuffle_bytes=1000),  # before the mark
        StageRec(3, run_ms=10_000),
    ]
    d = stage_delta(newest_first, since_stage_id=9)
    assert d == {"stages": 3, "busy_s": 2.0, "shuffle_bytes": 15,
                 "shuffle_records": 3, "spill_bytes": 7,
                 "peak_mem_bytes": 900}
    assert stage_delta(newest_first, since_stage_id=12)["stages"] == 0


def test_stage_delta_stops_at_the_mark():
    def stages():
        yield StageRec(5, run_ms=1000)
        yield StageRec(4)
        raise AssertionError("walked past the mark")

    assert stage_delta(stages(), since_stage_id=4)["busy_s"] == 1.0


@pytest.fixture(scope="module")
def spark():
    from pdf_knowledge_extractor_spark.session import get_spark

    s = get_spark("perfbench-tests", cpus=2,
                  extra_conf={"spark.driver.memory": "1g",
                              "spark.ui.showConsoleProgress": "false"})
    yield s
    s.stop()


def test_digest_ignores_row_order_partitioning_and_column_order(spark):
    from probes import digest

    rows = [(i, f"s{i % 7}", i * 0.5) for i in range(200)]
    df = spark.createDataFrame(rows, "a long, b string, c double")
    d = digest(df)
    assert d.startswith("200:")
    shuffled = spark.createDataFrame(rows[::-1], "a long, b string, c double")
    assert digest(shuffled.repartition(7)) == d
    assert digest(df.select("c", "a", "b")) == d
    assert digest(df.limit(199)) != d
    changed = spark.createDataFrame(rows[:-1] + [(199, "x", 99.5)],
                                    "a long, b string, c double")
    assert digest(changed) != d


def test_seed_window_keeps_the_corpus_shape(spark):
    from pyspark.sql import functions as F

    from pdf_knowledge_extractor_spark.corpus import generate_corpus
    from workloads import ALIGN, _ShiftedRange, near_dup_pairs_expected, row_id

    def shape(offset):
        df = generate_corpus(_ShiftedRange(spark, offset), 600, partitions=2)
        rid = row_id()
        return df.agg(
            F.min(rid).alias("first"),
            F.sum((F.col("content") == "").cast("int")).alias("empty"),
            F.sum(F.col("content").startswith("!!!").cast("int")).alias("punct"),
            F.sum((rid % 23 == 1).cast("int")).alias("near_dup_rows"),
        ).first()

    base, moved = shape(0), shape(7 * ALIGN)
    assert base["first"] == 0 and moved["first"] == 7 * ALIGN
    for k in ("empty", "punct", "near_dup_rows"):
        assert base[k] == moved[k] > 0
    assert near_dup_pairs_expected(0, 600) == near_dup_pairs_expected(
        7 * ALIGN, 600) > 0
