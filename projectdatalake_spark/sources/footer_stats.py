"""Parquet-FOOTER-derived per-file statistics (min/max/nullCount/
numRecords, plus value dictionaries) — the metadata-only source of the
commit stats of ``write_path.file_stats`` (the stats of a file just
written are already sitting in its footer; no second read of the data).

Exactness contract, on parquet-mr 1.16 / pyarrow 16.1 (the writer/reader
pair this engine ships). tests/test_footer_stats.py pins it: its probe
test fails if a pyarrow or parquet-mr upgrade changes the footer
semantics of the edge cases below, and its parity tests check these
stats against the Spark aggregate.

- ints / longs / shorts / bytes / booleans / dates / strings: footer
  min/max are EXACT. parquet-mr does NOT truncate footer string stats
  (3000-char value probed byte-identical) and compares strings bytewise
  (= Python str order: UTF-8 byte order is code-point order).
- float/double: parquet-mr computes stats with Java ordering — NaN
  sorts above +Inf and poisons max exactly like Spark's F.max; -0.0
  sorts below +0.0, where Spark's F.min/F.max order the two zeros as
  equal (the first seen wins), so a zero bound may differ from the
  Spark aggregate in sign, never in value (pruning compares -0.0 ==
  0.0). NaN / ±Inf / all-NaN columns match the Spark aggregate. The
  cross-row-group merge below replicates the footer's total order.
- timestamp_ntz (the corpus' working type): INT64 micros, EXACT.
- timestamp (ltz): Spark's default ``outputTimestampType`` is INT96,
  which carries NO footer stats → those columns fall back to the Spark
  aggregate automatically (the stats-missing rule), never guessed.
- decimal: pyarrow cannot logical-cast decimal stats; decoded here from
  the raw physical value (INT32/INT64 unscaled int, or big-endian
  two's-complement FIXED_LEN_BYTE_ARRAY / BYTE_ARRAY bytes).
- all-null columns: has_min_max=False + full null_count → no min/max,
  matching the Spark aggregate's NULL min/max. A requested column the
  file does not have at all reads back all-null and is reported so.

Any file/column that violates an assumption (missing stats with live
rows, missing null counts, unknown physical type) lands in the
``untrusted`` set and the caller re-runs the Spark aggregate FOR THOSE
COLUMNS ONLY — correctness never rides on the fast path.

Scale shape: per-file stats derivation is O(footer) local work — the
same work production table formats do inline in their write tasks. Up
to ``_DRIVER_MAX_FILES`` adds it runs as a driver loop; past that it
ships the path list through ``spark.sparkContext.parallelize`` so each
executor parses its own files' footers — no full-table scan either way.
Both need the files at the same local path on the driver and every
executor; ``write_path._footers_readable`` is that gate.
"""

from __future__ import annotations

import datetime
import decimal
import math
from typing import Iterable

from projectdatalake_spark.sources.atomic import strip_file_scheme

_DRIVER_MAX_FILES = 32

# dictionary cap shared with txlog's equality-skipping metadata
_DICT_CAP = 64


def _decode_decimal(raw, scale: int):
    """Unscaled physical value → Decimal (INT32/INT64 arrive as int,
    FLBA/BYTE_ARRAY as big-endian two's-complement bytes)."""
    if raw is None:
        return None
    if isinstance(raw, bytes):
        raw = int.from_bytes(raw, "big", signed=True)
    return decimal.Decimal(raw).scaleb(-scale)


def _float_key(x):
    """Total order matching Java/parquet-mr float comparison: NaN above
    everything, -0.0 below +0.0."""
    return (math.isnan(x), x, math.copysign(1.0, x))


def _norm_ts(v):
    """pyarrow returns tz-aware datetimes for adjusted-to-UTC stats;
    Spark collect returns naive (session tz = UTC). Normalize."""
    if isinstance(v, datetime.datetime) and v.tzinfo is not None:
        return v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
    return v


class _Untrusted(Exception):
    pass


def _one_file_stats(
    path: str,
    want_cols: list[str] | None,
    dict_cols: Iterable[str],
    with_nulls: bool,
) -> dict:
    """Stats for ONE parquet file. Returns
    {"nrec": int, "min": {c: v}, "max": {c: v}, "nulls": {c: n},
     "dict": {c: [values] or None}, "untrusted": [cols]}.
    min/max/nulls entries exist only for trusted columns with at least
    one non-null value (min/max) / always (nulls). ``dict`` holds the
    sorted ≤64-distinct non-null value list per requested dict column,
    or None when the column overflowed the cap.
    """
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    pf = pq.ParquetFile(path)
    md = pf.metadata
    arrow_schema = pf.schema_arrow
    out: dict = {
        "nrec": md.num_rows,
        "min": {},
        "max": {},
        "nulls": {},
        "dict": {},
        "untrusted": [],
    }
    if md.num_rows == 0:
        return out

    # map physical column index by dotted path (top-level primitives only)
    col_idx = {}
    rg0 = md.row_group(0)
    for i in range(rg0.num_columns):
        col_idx[rg0.column(i).path_in_schema] = i

    # iterate in FILE-SCHEMA order (or the caller's order): downstream
    # stats dicts are serialized to JSON, and key order must match what
    # the old read-back aggregate produced (df.schema order = file order)
    names = list(arrow_schema.names) if want_cols is None else list(want_cols)
    for name in names:
        if name not in arrow_schema.names:
            # the file lacks the column: it reads back all-null
            if with_nulls:
                out["nulls"][name] = md.num_rows
            continue
        if name not in col_idx:  # nested: no single leaf carries stats
            out["untrusted"].append(name)
            continue
        t = arrow_schema.field(name).type
        is_dec = pa.types.is_decimal(t)
        trusted_type = (
            pa.types.is_integer(t)
            or pa.types.is_boolean(t)
            or pa.types.is_floating(t)
            or pa.types.is_string(t)
            or pa.types.is_large_string(t)
            or pa.types.is_date(t)
            or pa.types.is_timestamp(t)
            or is_dec
        )
        if not trusted_type:
            out["untrusted"].append(name)
            continue
        mins, maxs, nulls = [], [], 0
        try:
            for rg in range(md.num_row_groups):
                rgm = md.row_group(rg)
                if rgm.num_rows == 0:
                    continue
                col = rgm.column(col_idx[name])
                st = col.statistics
                if st is None or not st.has_null_count:
                    raise _Untrusted()
                nulls += st.null_count
                if not st.has_min_max:
                    if st.null_count == rgm.num_rows:
                        continue  # all-null row group: no bounds, exact
                    raise _Untrusted()
                if is_dec:
                    mn = _decode_decimal(st.min_raw, t.scale)
                    mx = _decode_decimal(st.max_raw, t.scale)
                else:
                    mn, mx = _norm_ts(st.min), _norm_ts(st.max)
                if mn is None or mx is None:
                    raise _Untrusted()
                mins.append(mn)
                maxs.append(mx)
        except _Untrusted:
            out["untrusted"].append(name)
            continue
        if mins:
            if isinstance(mins[0], float):
                out["min"][name] = min(mins, key=_float_key)
                out["max"][name] = max(maxs, key=_float_key)
            else:
                out["min"][name] = min(mins)
                out["max"][name] = max(maxs)
        if with_nulls:
            out["nulls"][name] = nulls

    for name in dict_cols:
        if name not in col_idx:
            continue
        # exact distinct set, capped: one columnar read of just this
        # column (pyarrow native, no JVM) — the collect_set equivalent
        col_tbl = pf.read(columns=[name])
        u = pc.unique(col_tbl.column(0)).drop_null()
        if 0 < len(u) <= _DICT_CAP:
            vals = sorted(v.as_py() for v in u)
            out["dict"][name] = vals
        else:
            out["dict"][name] = None
    return out


def _stats_worker(paths, want_cols, dict_cols, with_nulls):
    """Executor-side loop for the distributed branch (one partition of
    file paths → one stats dict per path)."""
    return [
        (p, _one_file_stats(p, want_cols, dict_cols, with_nulls))
        for p in paths
    ]


def footer_file_stats(
    spark,
    paths: list[str],
    want_cols: list[str] | None,
    dict_cols: Iterable[str] = (),
    with_nulls: bool = False,
) -> dict[str, dict]:
    """Per-file footer stats for ``paths`` (absolute, scheme-less or
    file:-prefixed). Driver loop for small commits; a parallelize job
    over the path list for large ones (each task opens only its own
    files' footers — never the data, except the requested dict columns).
    Returns {stripped_path: stats-dict} (see _one_file_stats)."""
    paths = [strip_file_scheme(p) for p in paths]
    dict_cols = tuple(dict_cols)
    if len(paths) <= _DRIVER_MAX_FILES or spark is None:
        return {
            p: _one_file_stats(p, want_cols, dict_cols, with_nulls)
            for p in paths
        }
    sc = spark.sparkContext
    n_slices = min(len(paths), sc.defaultParallelism)
    rdd = sc.parallelize(paths, n_slices).mapPartitions(
        lambda it: _stats_worker(list(it), want_cols, dict_cols, with_nulls)
    )
    return dict(rdd.collect())
