"""Unit tests of the benchmark's helpers.

    python3 -m pytest perfbench -q -p no:cacheprovider

The Spark fingerprint test starts a one-core local session (about 10 s);
every other test is pure Python."""

from __future__ import annotations

import random
import statistics
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from perfbench.stats import (  # noqa: E402
    HASH_MOD,
    covered_seconds,
    driver_gap_s,
    fingerprint,
    interval_union,
    iqr_share,
    median,
    quartiles,
)


def test_interval_union_merges_overlapping_and_touching():
    assert interval_union([(5, 6), (1, 3), (2, 4), (4, 4.5)]) == [(1, 4.5), (5, 6)]


def test_interval_union_keeps_contained_and_drops_reversed():
    assert interval_union([(0, 10), (2, 3), (7, 6)]) == [(0, 10)]
    assert interval_union([]) == []


def test_covered_seconds_clips_to_window():
    # jobs that start before or end after the op only count inside it
    assert covered_seconds([(-1, 1), (2, 3), (2.5, 5)], 0, 4) == pytest.approx(1 + 2)


def test_driver_gap_counts_time_outside_every_job():
    # 10 s op; concurrent jobs overlap (edge probe next to the fill)
    jobs = [(1, 3), (2, 4), (6, 7)]
    assert driver_gap_s(0, 10, jobs) == pytest.approx(10 - 3 - 1)
    assert driver_gap_s(0, 10, []) == pytest.approx(10)
    assert driver_gap_s(0, 10, [(-5, 15)]) == pytest.approx(0)


def test_median_and_quartiles_match_statistics_module():
    vals = [3.1, 9.0, 4.4, 5.5, 7.2, 1.0, 6.6, 8.3, 2.9, 10.4]
    assert median(vals) == statistics.median(vals)
    assert quartiles(vals) == tuple(statistics.quantiles(vals, n=4))
    q1, _, q3 = statistics.quantiles(vals, n=4)
    assert iqr_share(vals) == pytest.approx((q3 - q1) / statistics.median(vals))


def test_median_and_quartiles_reject_too_few_values():
    with pytest.raises(ValueError):
        median([])
    with pytest.raises(ValueError):
        quartiles([1.0])


def test_fingerprint_is_order_independent_and_multiset_sensitive():
    hashes = [random.Random(7).getrandbits(64) - (1 << 63) for _ in range(200)]
    shuffled = hashes[:]
    random.Random(8).shuffle(shuffled)
    assert fingerprint(hashes) == fingerprint(shuffled)
    assert fingerprint(hashes) != fingerprint(hashes[1:])
    assert fingerprint(hashes) != fingerprint(hashes + hashes[:1])
    changed = hashes[:]
    changed[5] += 1
    assert fingerprint(hashes) != fingerprint(changed)
    assert fingerprint([]) == (0, 0)


def test_fingerprint_sum_stays_in_long_range():
    # the Spark side sums the same terms in a signed long
    n, total = fingerprint([-1] * 1000)
    assert n == 1000 and total == 1000 * (HASH_MOD - 1) < (1 << 63)


@pytest.fixture(scope="module")
def spark():
    pytest.importorskip("pyspark")
    from pyspark.sql import SparkSession

    s = (
        SparkSession.builder.master("local[1]")
        .appName("perfbench-tests")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "2")
        .getOrCreate()
    )
    yield s
    s.stop()


def test_spark_fingerprint_equals_python_fingerprint(spark):
    from pyspark.sql import functions as F

    from perfbench.sparkstats import fingerprint_cols

    rows = [(f"d{i % 7}", i, i % 4) for i in range(500)]
    df = spark.createDataFrame(rows, "doc_id string, offset int, phase int")
    got = df.agg(*fingerprint_cols("doc_id", "offset", "phase")).first()
    hashes = [r[0] for r in df.select(F.xxhash64("doc_id", "offset", "phase")).collect()]
    assert (got["fp_rows"], got["fp_sum"]) == fingerprint(hashes)
    # the same rows in another partitioning and order
    again = df.repartition(5).orderBy(F.rand(3)).agg(*fingerprint_cols("doc_id", "offset", "phase")).first()
    assert again == got
    # one changed row changes it
    other = df.withColumn("phase", F.when(F.col("offset") == 17, 9).otherwise(F.col("phase")))
    assert other.agg(*fingerprint_cols("doc_id", "offset", "phase")).first() != got
