"""The shared staged write path (sources/write_path.py).

- a commit on a non-local root takes the Hadoop listing/move branch and
  the Spark stats aggregate (never driver-local pyarrow), and records the
  same per-file stats as the local footer branch, on all three formats;
- a file that lacks a column reports that column all-null;
- the z-order layout is a function of the data, not of how many RDDs the
  session built before (the seed of Spark's range-partition sampling);
- the hash-partition bijection agrees with Spark's own murmur3.
"""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from projectdatalake_spark.sources import atomic as _atomic
from projectdatalake_spark.sources import footer_stats as FS
from projectdatalake_spark.sources import write_path as WP


def _frame(spark):
    # coalesce(1) + partition by `part`: one file per partition with fixed
    # contents, so two writes produce byte-identical files; the ltz
    # timestamp is INT96 (no footer stats) and `s` is bloom-indexed
    return (
        spark.range(0, 600)
        .select(
            F.col("id").alias("k"),
            (F.col("id") % 3).cast("int").alias("part"),
            (F.col("id") % 40).cast("string").alias("s"),
            (F.col("id") * 0.25).alias("dbl"),
            F.timestamp_seconds(F.col("id") * 60).alias("tlz"),
        )
        .coalesce(1)
    )


def _commit_stats(spark, fmt: str, root: str) -> list[str]:
    """Create a table and return its per-file stats, path-free, sorted."""
    df = _frame(spark)
    if fmt == "txlog":
        from projectdatalake_spark.sources.txlog import TxTable

        t = TxTable.create(spark, root, df, partition_by=("part",), bloom_by=("s",))
        assert t.snapshot().count() == 600
        rows = [
            {k: v for k, v in a.items() if k != "path"}
            for a in t.history()[0]["adds"]
        ]
    elif fmt == "delta":
        from projectdatalake_spark.sources.delta_interop import DeltaTable

        t = DeltaTable.create(spark, root, df, partition_by=("part",), bloom_by=("s",))
        assert t.snapshot().count() == 600
        log0 = _atomic.strip_file_scheme(f"{root}/_delta_log/{0:020d}.json")
        rows = [
            {k: v for k, v in a["add"].items() if k not in ("path", "modificationTime")}
            for a in map(json.loads, open(log0).read().splitlines())
            if "add" in a
        ]
    else:
        from projectdatalake_spark.sources.iceberg_interop import IcebergTable

        t = IcebergTable.create(spark, root, df, partition_by=("part",))
        assert t.snapshot().count() == 600
        entries, _ = t._entries_for_snapshot(t.metadata(), None)
        rows = []
        for e in entries:
            d = e["data_file"]
            rows.append({
                "partition": d["partition"],
                "record_count": d["record_count"],
                "size": d["file_size_in_bytes"],
                **{
                    k: {kv["key"]: kv["value"].hex() for kv in d.get(k) or []}
                    for k in ("lower_bounds", "upper_bounds")
                },
            })
    return sorted(json.dumps(r, sort_keys=True, default=str) for r in rows)


@pytest.mark.parametrize("fmt", ["txlog", "delta", "iceberg"])
def test_nonlocal_root_commit_stats_match_local(spark, tmp_path, monkeypatch, fmt):
    local = _commit_stats(spark, fmt, str(tmp_path / "local"))
    assert local and all("numRecords" in r or "record_count" in r for r in local)

    orig = _atomic.is_local_path

    def footer_read(*_a, **_k):
        raise AssertionError("footer read on a non-local root")

    # treat file: roots like hdfs:// ones: Hadoop listing and rename, and
    # every per-file stat from the Spark aggregate
    monkeypatch.setattr(
        _atomic, "is_local_path", lambda p: not p.startswith("file:") and orig(p)
    )
    monkeypatch.setattr(FS, "footer_file_stats", footer_read)
    remote = _commit_stats(spark, fmt, f"file:{tmp_path}/remote")
    assert remote == local


def test_convert_null_count_of_file_missing_a_column(spark, tmp_path):
    """A file without a column reads back all-null: its nullCount is its
    record count, whichever file the listing yields first."""
    from projectdatalake_spark.sources.delta_interop import convert_parquet_to_delta

    root = str(tmp_path / "conv")
    full = spark.createDataFrame(
        [(1, "x"), (2, None), (3, "z")], "k int, extra string"
    )
    full.coalesce(1).write.parquet(root)
    spark.createDataFrame([(4,), (5,)], "k int").coalesce(1).write.mode(
        "append"
    ).parquet(root)
    convert_parquet_to_delta(spark, root, full.schema)
    log0 = tmp_path / "conv" / "_delta_log" / f"{0:020d}.json"
    stats = sorted(
        (json.loads(a["add"]["stats"]) for a in map(json.loads, log0.read_text().splitlines())
         if "add" in a),
        key=lambda s: s["numRecords"],
    )
    assert [s["numRecords"] for s in stats] == [2, 3]
    assert stats[0]["nullCount"] == {"k": 0, "extra": 2}
    assert "extra" not in stats[0]["minValues"]
    assert stats[1]["nullCount"] == {"k": 0, "extra": 1}
    assert stats[1]["minValues"]["extra"] == "x"


def test_zorder_layout_independent_of_session_history(spark):
    df = (
        spark.range(0, 4000)
        .select(
            (F.col("id") % 97).alias("x"),
            ((F.col("id") * 7919) % 101).alias("y"),
        )
        .repartition(4)
    )

    def layout():
        out = WP.range_layout(df, 8, zorder_by=("x", "y"))
        return sorted(
            tuple(r)
            for r in out.groupBy(F.spark_partition_id().alias("p"))
            .agg(
                F.min("x"), F.max("x"), F.min("y"), F.max("y"),
                F.count(F.lit(1)),
            )
            .drop("p")
            .collect()
        )

    first = layout()
    # advance the RDD id counter, which seeds repartitionByRange sampling
    for _ in range(5):
        spark.sparkContext.parallelize([0])
    assert layout() == first
    assert len(first) == 8
    assert sum(r[-1] for r in first) == 4000


def test_partition_keys_match_spark_hash_partitioning(spark):
    vals = list(range(-40, 200))
    got = spark.createDataFrame([(v,) for v in vals], "v int").select(
        F.hash("v")
    ).collect()
    assert [r[0] for r in got] == [WP._murmur3_int(v) for v in vals]
    n = 16
    keys = WP._partition_keys(n)
    df = spark.createDataFrame([(k,) for k in keys], "k int").repartition(n, "k")
    placed = dict(
        df.select("k", F.spark_partition_id().alias("p")).collect()
    )
    assert [placed[k] for k in keys] == list(range(n))

