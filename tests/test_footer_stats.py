"""Footer-stats exactness gates (OPTIMIZATION r13 lever #1).

The per-commit stats re-read was replaced by parquet-footer-derived
stats (sources/footer_stats.py). These tests pin the exactness contract
on ADVERSARIAL data written through the real table writers: NaN / ±Inf /
-0.0 doubles, all-NaN and all-null columns, >64-byte and unicode strings
(truncation probe), timestamps (ntz AND INT96 ltz — the fallback path),
dates, decimals (INT32/FLBA physicals), shorts, booleans, empty tables,
and the distributed (>32 files) branch.

Ground truth is the Spark grouped aggregate, in-tree as the write
path's restricted fallback (write_path.spark_file_stats) — each test
recomputes it over every column and asserts the attached stats are
IDENTICAL.
"""

from __future__ import annotations

import datetime
import decimal
import math

import pytest
from pyspark.sql import Row, functions as F, types as T

from projectdatalake_spark.sources import footer_stats as FS
from projectdatalake_spark.sources import write_path as WP


ADVERSARIAL_ROWS = [
    Row(k=1, dbl=1.5, s="alpha", tsn=datetime.datetime(2020, 1, 2, 3, 4, 5, 123456),
        dt=datetime.date(2020, 1, 2), dec=decimal.Decimal("123.45"),
        bigdec=decimal.Decimal("12345678901234567890.123"), b=True, i16=3,
        allnan=float("nan"), allnull=None),
    Row(k=2, dbl=float("nan"), s="b" * 63, tsn=datetime.datetime(2021, 6, 7),
        dt=datetime.date(2021, 6, 7), dec=decimal.Decimal("-0.01"),
        bigdec=decimal.Decimal("-99999999999999999999.999"), b=False, i16=-32768,
        allnan=float("nan"), allnull=None),
    Row(k=3, dbl=float("inf"), s="c" * 65, tsn=None, dt=None, dec=None,
        bigdec=None, b=None, i16=None, allnan=float("nan"), allnull=None),
    Row(k=4, dbl=-0.0, s="é≠☃ unicode" + "x" * 200,
        tsn=datetime.datetime(1969, 12, 31, 23, 59, 59),
        dt=datetime.date(1969, 12, 31), dec=decimal.Decimal("99999.99"),
        bigdec=decimal.Decimal("0.001"), b=True, i16=32767,
        allnan=float("nan"), allnull=None),
    Row(k=5, dbl=0.0, s="z" * 3000, tsn=datetime.datetime(2030, 12, 31),
        dt=datetime.date(2000, 2, 29), dec=decimal.Decimal("0.00"),
        bigdec=decimal.Decimal("-0.001"), b=False, i16=0,
        allnan=float("nan"), allnull=None),
]

SCHEMA = T.StructType([
    T.StructField("k", T.IntegerType()),
    T.StructField("dbl", T.DoubleType()),
    T.StructField("s", T.StringType()),
    T.StructField("tsn", T.TimestampNTZType()),
    T.StructField("dt", T.DateType()),
    T.StructField("dec", T.DecimalType(7, 2)),
    T.StructField("bigdec", T.DecimalType(23, 3)),
    T.StructField("b", T.BooleanType()),
    T.StructField("i16", T.ShortType()),
    T.StructField("allnan", T.DoubleType()),
    T.StructField("allnull", T.DoubleType()),
])


def _normf(v):
    """NaN-aware, bitwise-strict comparison form: floats to repr (nan ==
    nan for equality purposes, -0.0 distinguished from 0.0)."""
    if isinstance(v, float):
        return ("f", repr(v))
    if isinstance(v, dict):
        return {k: _normf(x) for k, x in v.items()}
    if isinstance(v, (list, tuple)):
        return [_normf(x) for x in v]
    return v


def _adversarial_df(spark, n_copies: int = 1):
    rows = [
        Row(**{**r.asDict(), "k": r.k + 10 * i})
        for i in range(n_copies)
        for r in ADVERSARIAL_ROWS
    ]
    return spark.createDataFrame(rows, SCHEMA)


def test_txlog_footer_stats_match_spark_agg(spark, tmp_path):
    from projectdatalake_spark.sources.txlog import TxTable

    df = _adversarial_df(spark).withColumn("part", F.col("k") % 2)
    t = TxTable.create(
        spark, str(tmp_path / "t"), df, partition_by=("part",)
    )
    adds = t.history()[0]["adds"]
    assert adds, "txlog write produced no adds"
    # ground truth: the original full Spark aggregate over ALL columns
    cols = [f.name for f in df.schema.fields if f.name != "part"]
    dict_types = {"string", "integer", "long", "short", "byte", "boolean"}
    dict_cols = [
        f.name for f in df.schema.fields
        if f.name in cols and f.dataType.typeName() in dict_types
    ]
    from projectdatalake_spark.sources import atomic as _atomic
    from projectdatalake_spark.sources.txlog import _stats_value

    agg = WP.spark_file_stats(
        spark, t.root, [t._data_path(a) for a in adds],
        [f for f in df.schema.fields if f.name in cols], dict_cols,
    )
    for a in adds:
        p = _atomic.strip_file_scheme(t._data_path(a))
        assert a.get("numRecords") == agg[p]["nrec"]
        want_stats = {}
        for c, (mn, mx, _nulls) in agg[p]["stats"].items():
            mn, mx = _stats_value(mn), _stats_value(mx)
            if mn is not None or mx is not None:
                want_stats[c] = {"min": mn, "max": mx}
        got_stats = a.get("stats") or {}
        assert _normf(got_stats) == _normf(want_stats), (
            p, got_stats, want_stats,
        )
        want_dicts = {
            c: [_stats_value(v) for v in vals]
            for c, vals in agg[p]["dicts"].items()
            if 0 < len(vals) <= 64
        }
        got_dicts = a.get("dict") or {}
        assert got_dicts == want_dicts, (p, got_dicts, want_dicts)


def test_delta_footer_stats_match_spark_agg(spark, tmp_path):
    import json

    from projectdatalake_spark.sources.delta_interop import (
        DeltaTable,
        _SIMPLE_TYPES,
        _stats_scalar,
    )

    # delta's simple-type set excludes decimals; add an ltz timestamp to
    # force the INT96 fallback branch
    df = (
        _adversarial_df(spark)
        .drop("dec", "bigdec")
        .withColumn("tlz", F.col("tsn").cast("timestamp"))
        .withColumn("part", F.col("k") % 2)
    )
    t = DeltaTable.create(
        spark, str(tmp_path / "d"), df, partition_by=("part",)
    )
    log0 = tmp_path / "d" / "_delta_log" / f"{0:020d}.json"
    adds = [
        a["add"]
        for a in map(json.loads, log0.read_text().splitlines())
        if "add" in a
    ]
    assert adds
    cols = [
        f.name for f in df.schema.fields
        if f.name != "part" and f.dataType.typeName() in _SIMPLE_TYPES
    ]
    from projectdatalake_spark.sources import atomic as _atomic

    agg = WP.spark_file_stats(
        spark, t.root, [t._abs_data_path(a["path"]) for a in adds],
        [f for f in df.schema.fields if f.name in cols], nulls=True,
    )
    for a in adds:
        p = _atomic.strip_file_scheme(t._abs_data_path(a["path"]))
        want = {
            "numRecords": None,  # filled below
            "minValues": {},
            "maxValues": {},
            "nullCount": {},
        }
        got = json.loads(a["stats"])
        want["numRecords"] = got["numRecords"]  # checked via row count below
        for c in cols:
            mn, mx, nulls = agg[p]["stats"][c]
            if mn is not None:
                want["minValues"][c] = _stats_scalar(mn)
            if mx is not None:
                want["maxValues"][c] = _stats_scalar(mx)
            want["nullCount"][c] = nulls
        assert _normf(got) == _normf(want), (p, got, want)
        # stats are serialized JSON: key ORDER must also match the old
        # read-back aggregate (schema order), not just the values
        assert list(got["minValues"]) == list(want["minValues"])
        assert list(got["nullCount"]) == list(want["nullCount"])
    n_total = sum(json.loads(a["stats"])["numRecords"] for a in adds)
    assert n_total == df.count()


def test_iceberg_footer_bounds_match_sql_minmax(spark, tmp_path):
    from projectdatalake_spark.sources.iceberg_interop import IcebergTable

    df = _adversarial_df(spark).drop("bigdec").coalesce(1)
    t = IcebergTable.create(spark, str(tmp_path / "i"), df)
    metrics = t.inspect("metrics")
    rows = {
        r["column"]: (r["lower"], r["upper"]) for r in metrics.collect()
    }
    # decoded manifest bounds must equal SQL min/max over the data
    # (metrics decodes int/long/float/double/string/bool/decimal types;
    # bool/date/timestamp parity is covered by the byte-equality test
    # below — Python str(True) vs SQL 'true' differ only in casing)
    for col in ("k", "s", "dec", "i16", "dbl"):
        lo, hi = rows[col]
        truth = df.agg(
            F.min(col).cast("string"), F.max(col).cast("string")
        ).collect()[0]
        # case-insensitive: Python repr vs SQL string casing ('nan' vs
        # 'NaN') — numeric identity is what matters here, byte identity
        # is pinned by the fallback-parity test below
        assert str(lo).lower() == truth[0].lower(), (col, lo, truth[0])
        assert str(hi).lower() == truth[1].lower(), (col, hi, truth[1])


def test_iceberg_footer_bounds_byte_equal_spark_fallback(
    spark, tmp_path, monkeypatch
):
    """END-TO-END byte parity for EVERY bound type (incl. date and
    timestamp_ntz, which the metrics view does not decode): create the
    same table twice — once on the footer path, once with every column
    forced through the original Spark aggregate — and compare the raw
    manifest lower/upper bound bytes."""
    import json

    from projectdatalake_spark.sources.iceberg_interop import IcebergTable

    df = _adversarial_df(spark).coalesce(1)

    def bounds_of(t):
        entries, _ = t._entries_for_snapshot(t.metadata(), None)
        out = []
        for e in entries:
            d = e["data_file"]
            out.append(
                (
                    json.dumps(
                        {kv["key"]: kv["value"].hex() if isinstance(kv["value"], (bytes, bytearray)) else kv["value"]
                         for kv in (d.get("lower_bounds") or [])},
                        sort_keys=True,
                    ),
                    json.dumps(
                        {kv["key"]: kv["value"].hex() if isinstance(kv["value"], (bytes, bytearray)) else kv["value"]
                         for kv in (d.get("upper_bounds") or [])},
                        sort_keys=True,
                    ),
                    d["record_count"],
                )
            )
        return sorted(out)

    fast = IcebergTable.create(spark, str(tmp_path / "fast"), df)
    orig = FS.footer_file_stats

    def all_untrusted(spark_arg, paths, want_cols, **kw):
        res = orig(spark_arg, paths, want_cols=want_cols, **kw)
        for st in res.values():
            st["untrusted"] = list(want_cols or [])
            st["min"], st["max"] = {}, {}
        return res

    monkeypatch.setattr(FS, "footer_file_stats", all_untrusted)
    slow = IcebergTable.create(spark, str(tmp_path / "slow"), df)
    assert bounds_of(fast) == bounds_of(slow)


def test_footer_stats_empty_table_attaches_nothing(spark, tmp_path):
    from projectdatalake_spark.sources.txlog import TxTable

    t = TxTable.create(
        spark, str(tmp_path / "e"), spark.createDataFrame([], SCHEMA)
    )
    adds = t.history()[0]["adds"]
    for a in adds:
        assert "stats" not in a and "numRecords" not in a


def test_footer_stats_distributed_branch_matches_driver(spark, tmp_path):
    # force the >32-file branch and assert byte-identical results
    df = _adversarial_df(spark, n_copies=16).repartition(64)
    out = str(tmp_path / "many")
    df.write.parquet(out)
    import os

    paths = sorted(
        os.path.join(out, f) for f in os.listdir(out) if f.endswith(".parquet")
    )
    assert len(paths) > FS._DRIVER_MAX_FILES
    want_cols = ["k", "dbl", "s", "dec"]
    driver = {
        p: FS._one_file_stats(p, want_cols, ("s",), True) for p in paths
    }
    dist = FS.footer_file_stats(
        spark, paths, want_cols=want_cols, dict_cols=("s",), with_nulls=True
    )
    def norm(d):
        return {
            p: (
                st["nrec"],
                {c: repr(v) for c, v in st["min"].items()},
                {c: repr(v) for c, v in st["max"].items()},
                st["nulls"], st["dict"], sorted(st["untrusted"]),
            )
            for p, st in d.items()
        }
    assert norm(driver) == norm(dist)


def test_float_merge_key_total_order():
    # the cross-row-group merge comparator must replicate Java ordering
    vals = [float("nan"), float("inf"), float("-inf"), -0.0, 0.0, 1.5, -1e300]
    s = sorted(vals, key=FS._float_key)
    assert math.isnan(s[-1])
    assert s[0] == float("-inf")
    assert repr(min([-0.0, 0.0], key=FS._float_key)) == "-0.0"
    assert repr(max([-0.0, 0.0], key=FS._float_key)) == "0.0"


def test_decimal_raw_decode():
    assert FS._decode_decimal(-9999999, 2) == decimal.Decimal("-99999.99")
    assert FS._decode_decimal(
        (-12345).to_bytes(3, "big", signed=True), 3
    ) == decimal.Decimal("-12.345")
    assert FS._decode_decimal(None, 2) is None


PROBE_ROWS = [
    # id, dbl, flt, zero, s, long_s, tsn, ts, dec, bigdec
    (1, 1.5, 2.5, 0.0, "alpha", "a", datetime.datetime(2020, 1, 2, 3, 4, 5, 123456),
     datetime.datetime(2020, 1, 2), decimal.Decimal("123.45"),
     decimal.Decimal("12345678901234567890.123")),
    (2, float("nan"), float("nan"), -0.0, "b" * 63, "z" * 3000,
     datetime.datetime(1969, 12, 31, 23, 59, 59), None, decimal.Decimal("-99999.99"),
     decimal.Decimal("-99999999999999999999.999")),
    (3, float("inf"), float("-inf"), 0.0, "é≠☃ unicode", None, None,
     datetime.datetime(2030, 12, 31), None, None),
    (4, -0.0, 0.0, -0.0, None, "m" * 65, datetime.datetime(2030, 12, 31),
     None, decimal.Decimal("0.00"), decimal.Decimal("0.001")),
    (5, None, -1.25, 0.0, "c" * 64, "b", datetime.datetime(2021, 6, 7), None,
     decimal.Decimal("99999.99"), None),
]
PROBE_SCHEMA = (
    "id int, dbl double, flt float, zero double, s string, long_s string, "
    "tsn timestamp_ntz, ts timestamp, dec decimal(7,2), bigdec decimal(23,3)"
)
# footer semantics of the probed edge cases on the shipped writer/reader
# pair (parquet-mr 1.16 / pyarrow 16.1): NaN is the max and -0.0 the min
# of a double column, ±Inf are ordinary bounds, strings are never
# truncated, decimals decode exactly from INT32 and FIXED_LEN_BYTE_ARRAY,
# timestamp_ntz is exact and the INT96 ltz timestamp carries no stats
PROBE_EXPECTED = {
    "id": ("1", "5", 0),
    "dbl": ("-0.0", "nan", 1),
    "flt": ("-inf", "nan", 0),
    "zero": ("-0.0", "0.0", 0),
    "s": ("'alpha'", "'é≠☃ unicode'", 1),
    "long_s": ("'a'", repr("z" * 3000), 1),
    "tsn": (
        "datetime.datetime(1969, 12, 31, 23, 59, 59)",
        "datetime.datetime(2030, 12, 31, 0, 0)",
        1,
    ),
    "dec": ("Decimal('-99999.99')", "Decimal('99999.99')", 1),
    "bigdec": (
        "Decimal('-99999999999999999999.999')",
        "Decimal('12345678901234567890.123')",
        2,
    ),
}


def test_footer_semantics_probe(spark, tmp_path):
    """Pins what a parquet footer says about the probed edge cases —
    fails if a pyarrow or parquet-mr upgrade changes footer min/max/null
    semantics (the premise of the footer stats path) — and checks the
    footer-derived stats against the Spark aggregate."""
    import os

    import pyarrow.parquet as pq

    out = str(tmp_path / "probe")
    df = spark.createDataFrame(PROBE_ROWS, PROBE_SCHEMA).coalesce(1)
    df.write.parquet(out)
    (path,) = [
        os.path.join(out, f) for f in os.listdir(out) if f.endswith(".parquet")
    ]
    cols = df.columns
    st = FS._one_file_stats(path, cols, (), True)
    assert st["nrec"] == len(PROBE_ROWS)
    assert st["untrusted"] == ["ts"]
    got = {
        c: (repr(st["min"][c]), repr(st["max"][c]), st["nulls"][c])
        for c in cols
        if c != "ts"
    }
    assert got == PROBE_EXPECTED
    md = pq.ParquetFile(path).metadata
    ts_idx = [md.row_group(0).column(i).path_in_schema for i in range(len(cols))]
    ts_stats = md.row_group(0).column(ts_idx.index("ts")).statistics
    assert ts_stats is None or not ts_stats.has_min_max

    # the Spark aggregate agrees in value; Spark orders -0.0 and 0.0 as
    # equal (the first seen wins), so only the sign of a zero bound may
    # differ from the footer's
    def same(a, b):
        if isinstance(a, float) and math.isnan(a):
            return isinstance(b, float) and math.isnan(b)
        return a == b

    agg = WP.spark_file_stats(spark, out, [path], df.schema.fields, nulls=True)
    (want,) = agg.values()
    assert want["nrec"] == st["nrec"]
    for c in got:
        mn, mx, nulls = want["stats"][c]
        assert same(mn, st["min"][c]) and same(mx, st["max"][c]), c
        assert nulls == st["nulls"][c], c

    # all-NaN and all-null columns: no bounds for all-null; NaN bounds
    # for all-NaN, as Spark's min/max
    edge = str(tmp_path / "edge")
    spark.createDataFrame(
        [(float("nan"), None), (float("nan"), None)], "allnan double, allnull double"
    ).coalesce(1).write.parquet(edge)
    (epath,) = [
        os.path.join(edge, f) for f in os.listdir(edge) if f.endswith(".parquet")
    ]
    est = FS._one_file_stats(epath, ["allnan", "allnull"], (), True)
    assert est["untrusted"] == []
    assert (repr(est["min"].get("allnan")), repr(est["max"].get("allnan"))) == (
        "nan", "nan",
    )
    assert "allnull" not in est["min"] and est["nulls"] == {"allnan": 0, "allnull": 2}
