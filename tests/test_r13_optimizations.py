"""Round-13 optimization equivalence gates.

1. batched multi-column KMV sketches (puffin.column_theta_sketches) ==
   the single-column builder, per column — including hash-set identity
   in exact mode and the serialized bytes;
2. the ts_theil_sen_trend two-pass bucketed rank selection == the old
   single-partition global median window, on the real orders table;
3. (see tests/test_footer_stats.py for the footer-stats lever's gates.)
"""

from __future__ import annotations

import pytest
from pyspark.sql import Window, functions as F


def test_multi_column_sketches_match_single(spark, sf_dir):
    from projectdatalake_spark.sources.puffin import (
        column_theta_sketch,
        column_theta_sketches,
    )

    o = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_custkey", "o_orderstatus"
    )
    cols = ["o_orderkey", "o_custkey", "o_orderstatus"]
    batched = column_theta_sketches(o, cols, k=256)
    for c in cols:
        single = column_theta_sketch(o, c, k=256)
        got, want = batched[c], single
        assert got.k == want.k
        assert got.hashes == want.hashes, c
        assert got.to_bytes() == want.to_bytes(), c
        assert got.estimate() == want.estimate(), c


def test_theil_sen_bucketed_selection_matches_global_window(spark, sf_dir):
    # ground truth: the old single-partition global median window
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    daily = o.groupBy(F.to_date("o_orderdate").alias("d")).agg(
        F.count(F.lit(1)).alias("c")
    )
    a = daily.select(F.col("d").alias("d1"), F.col("c").alias("c1"))
    b = daily.select(F.col("d").alias("d2"), F.col("c").alias("c2"))
    slopes = a.join(b, F.col("d1") < F.col("d2")).select(
        (
            (F.col("c2") - F.col("c1")) / F.datediff("d2", "d1").cast("double")
        ).alias("slope"),
        "d1",
        "d2",
    )
    w = Window.orderBy("slope", "d1", "d2")
    ranked = slopes.select(
        "slope",
        F.row_number().over(w).alias("r"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("n"),
    )
    want = (
        ranked.filter(F.col("r") == F.floor((F.col("n") + 1) / 2))
        .select(
            F.col("n").cast("long").alias("n_pairs"),
            F.round("slope", 9).alias("sen_slope"),
        )
        .collect()
    )
    from projectdatalake_spark.queries import QUERIES

    got = QUERIES["ts_theil_sen_trend"](spark, sf_dir).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]


def test_duplicate_sketch_columns_collapse(spark, tmp_path):
    """A repeated column name builds one sketch, the same as naming the
    column once (txlog write_stats over ["a", "a"] vs ["a"])."""
    from projectdatalake_spark.sources.txlog import TxTable

    df = spark.range(0, 500).select(
        (F.col("id") % 37).alias("a"), F.col("id").alias("b")
    )
    once = TxTable.create(spark, str(tmp_path / "once"), df)
    twice = TxTable.create(spark, str(tmp_path / "twice"), df)
    once.write_stats(["a"])
    twice.write_stats(["a", "a"])
    got, want = twice._state()["stats"], once._state()["stats"]
    assert list(got) == ["a"]
    assert got["a"]["sketch"] == want["a"]["sketch"]
    assert got["a"]["ndv"] == want["a"]["ndv"] == 37


@pytest.mark.parametrize("n_days", [0, 1, 2])
def test_theil_sen_degenerate_day_counts(spark, sf_dir, tmp_path, n_days):
    """No slope pairs (0 or 1 distinct day) select no median: an empty
    frame with the declared schema, like the oracle's rank filter. Two
    days give one pair, whose slope is the median."""
    from projectdatalake_spark.queries import QUERIES

    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    days = [
        r[0]
        for r in o.select(F.to_date("o_orderdate").alias("d"))
        .distinct()
        .orderBy("d")
        .limit(n_days)
        .collect()
    ]
    sub = o.filter(F.to_date("o_orderdate").isin(days)) if days else o.limit(0)
    sub.write.parquet(str(tmp_path / "orders.parquet"))
    got = QUERIES["ts_theil_sen_trend"](spark, str(tmp_path))
    assert got.dtypes == [("n_pairs", "bigint"), ("sen_slope", "double")]
    rows = got.collect()
    if n_days < 2:
        assert rows == []
    else:
        counts = dict(
            sub.groupBy(F.to_date("o_orderdate")).count().collect()
        )
        c1, c2 = (counts[d] for d in days)
        slope = (c2 - c1) / (days[1] - days[0]).days
        assert [tuple(r) for r in rows] == [(1, round(slope, 9))]
