"""The one staged write path of the table formats (txlog, Delta, Iceberg).

Every data file the formats commit is produced by ``write_files``, which
runs these steps in this order:

1. **Stage.** ``df`` is written as parquet under a staging directory,
   optionally hive-partitioned (``partitionBy``) and split by
   ``maxRecordsPerFile``. Range or z-order clustering is laid out
   beforehand by ``range_layout``, the one place that decides it.
2. **List.** The staged ``.parquet`` files are enumerated with
   ``atomic.list_local_files`` on a local root (no py4j call per file)
   and with Hadoop ``FileSystem.listFiles`` on any other root.
3. **Move.** With a ``dest_root`` each file moves to the same relative
   path under it (txlog, Delta). Without one the files stay where they
   were staged (Iceberg keeps its files under ``data/<uuid>``).
4. **Per-file stats.** Record counts, min/max, null counts and value
   dictionaries come from the parquet FOOTERS only when the root is
   local AND the executors share the driver's filesystem (a local
   master): the footer reader is pyarrow on the driver (and, past
   ``footer_stats._DRIVER_MAX_FILES`` files, on the executors). On any
   other root, and for every column a file's footer cannot vouch for
   (INT96 timestamps, missing statistics), ONE Spark aggregate grouped
   by file supplies them, restricted to those columns. The same
   aggregate builds the bloom bits, because readers probe them with the
   same Spark ``xxhash64`` expression. Its rows are keyed by the decoded
   full path of ``input_file_name()``, never the basename: partitioned
   writes reuse part-file basenames across partition directories.
5. **Return.** Plain ``DataFile`` records. Each format only encodes them
   (txlog adds, Delta ``add.stats`` JSON and bloom tags, Iceberg
   manifest bounds) and runs its own commit.

Which columns get stats, dictionaries, null counts and blooms is the
caller's choice, passed as arguments; nothing here depends on which
format is writing.
"""

from __future__ import annotations

import contextlib
import os
from dataclasses import dataclass, field
from typing import Collection
from urllib.parse import unquote, urlsplit

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import StructField, StructType

from projectdatalake_spark.functions.clustering import (
    _bucket_rank,
    attach_hilbert_column,
    zorder_column,
)
from projectdatalake_spark.sources import atomic as _atomic
from projectdatalake_spark.sources import footer_stats as _footer

# Per-file bloom filters, probed by readers with the same xxhash64 seeds.
# Sizing: 8192 bits / 2 hash functions → FPR ≈ (1-e^(-2n/8192))², ~2% at
# n=500 distinct values per file, ~15% at n=2000 — the equality-skipping
# regime the 64-entry dictionary can't reach. 1 KiB per (file, column).
_BLOOM_M = 8192
_BLOOM_SEEDS = (0xB100, 0xB101)

# Spark type names that carry per-file min/max stats
_STATS_TYPES = frozenset({
    "byte", "short", "integer", "long", "float", "double", "boolean",
    "string", "date", "timestamp", "timestamp_ntz", "decimal",
})


@dataclass
class DataFile:
    """One parquet file of a write. ``path`` is the absolute scheme-less
    location, ``rel`` the path under the directory the file lives in
    (``dest_root``, or the staging directory when nothing moved), and
    ``partition`` the raw hive segment strings of ``rel``. ``stats`` maps
    each stats column, in file-schema order, to ``(min, max, nulls)``
    (``nulls`` is None unless requested); ``dicts`` holds the sorted
    distinct values of each dictionary column with 1..64 of them, and
    ``bloom`` the hex bloom bits of each bloom column."""

    path: str
    rel: str
    partition: dict[str, str]
    size: int
    mtime: int
    nrec: int = 0
    stats: dict[str, tuple] = field(default_factory=dict)
    dicts: dict[str, list] = field(default_factory=dict)
    bloom: dict[str, str] = field(default_factory=dict)


# --- filesystem steps -------------------------------------------------------


def _hadoop(spark: SparkSession, p: str):
    path = spark.sparkContext._jvm.org.apache.hadoop.fs.Path(p)
    fs = path.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    return fs, fs.makeQualified(path)


def _hive_partition(rel: str) -> dict[str, str]:
    return {
        seg.split("=", 1)[0]: seg.split("=", 1)[1]
        for seg in rel.split("/")[:-1]
        if "=" in seg
    }


def _abs_path(spark: SparkSession, root: str) -> str:
    """``root`` as an absolute scheme-less path."""
    if _atomic.is_local_path(root):
        return _atomic.strip_file_scheme(root)
    return _hadoop(spark, root)[1].toUri().getPath()


def list_files(spark: SparkSession, root: str) -> list[DataFile]:
    """Every ``.parquet`` file under ``root`` (recursive), path-sorted,
    without stats."""
    base = _abs_path(spark, root)
    if _atomic.is_local_path(root):
        found = _atomic.list_local_files(base)
    else:
        fs, root_path = _hadoop(spark, root)
        found = []
        it = fs.listFiles(root_path, True)
        while it.hasNext():
            st = it.next()
            if st.getPath().getName().endswith(".parquet"):
                p = st.getPath().toUri().getPath()
                found.append((p, st.getLen(), st.getModificationTime()))
        found.sort()
    out = []
    for p, size, mtime in found:
        rel = p[len(base):].lstrip("/")
        out.append(DataFile(p, rel, _hive_partition(rel), size, mtime))
    return out


def move_file(spark: SparkSession, src: str, dst: str) -> None:
    """Move one file, creating the destination's parent directories."""
    if _atomic.is_local_path(dst):
        _atomic.move_local_file(src, dst)
        return
    fs, src_path = _hadoop(spark, src)
    _, dst_path = _hadoop(spark, dst)
    fs.mkdirs(dst_path.getParent())
    if not fs.rename(src_path, dst_path):
        raise IOError(f"failed to move staged file {src} -> {dst}")


def delete_tree(spark: SparkSession, p: str) -> None:
    if _atomic.is_local_path(p):
        _atomic.delete_local_tree(p)
    else:
        fs, path = _hadoop(spark, p)
        fs.delete(path, True)


@contextlib.contextmanager
def _field_id_writes(spark: SparkSession, df: DataFrame):
    """Frames whose fields carry ``parquet.field.id`` metadata are written
    with the ids stamped into the files. The conf is read at action
    time, so it is set around the write only, then the prior effective
    value is restored: a leaked conf changes every later write."""
    key = "spark.sql.parquet.fieldId.write.enabled"
    ids = any("parquet.field.id" in (f.metadata or {}) for f in df.schema.fields)
    prior = spark.conf.get(key, None)
    if ids:
        spark.conf.set(key, "true")
    try:
        yield
    finally:
        if ids and prior is None:
            spark.conf.unset(key)
        elif ids:
            spark.conf.set(key, prior)


def stage(
    spark: SparkSession,
    df: DataFrame,
    stage_dir: str,
    partition_by: Collection[str] = (),
    max_records: int | None = None,
) -> list[DataFile]:
    """Steps 1 and 2: write ``df`` under ``stage_dir`` and list the files."""
    writer = df.write.mode("overwrite")
    if max_records:
        writer = writer.option("maxRecordsPerFile", int(max_records))
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    with _field_id_writes(spark, df):
        writer.parquet(stage_dir)
    return list_files(spark, stage_dir)


def write_files(
    spark: SparkSession,
    df: DataFrame,
    stage_dir: str,
    *,
    dest_root: str | None = None,
    partition_by: Collection[str] = (),
    max_records: int | None = None,
    names: Collection[str] | None = None,
    types: Collection[str] | None = None,
    dict_types: Collection[str] = (),
    bloom_cols: Collection[str] = (),
    nulls: bool = False,
) -> list[DataFile]:
    """Stage, list, move and describe the files of one write (module
    docstring). Stats columns are ``df``'s non-partition columns of a
    stats type, narrowed to ``names`` and ``types`` when given;
    ``dict_types`` selects which of them get value dictionaries,
    ``bloom_cols`` which get bloom bits, and ``nulls`` adds null counts."""
    files = stage(spark, df, stage_dir, partition_by, max_records)
    base = stage_dir
    if dest_root is not None:
        root_path = _abs_path(spark, dest_root)
        for f in files:
            move_file(spark, f"{stage_dir}/{f.rel}", f"{dest_root}/{f.rel}")
            f.path = f"{root_path}/{f.rel}"
        delete_tree(spark, stage_dir)
        base = dest_root
    file_stats(
        spark, base, files, df.schema, names=names, types=types,
        dict_types=dict_types, bloom_cols=bloom_cols, nulls=nulls,
    )
    return files


# --- per-file stats ----------------------------------------------------------


def _type_name(data_type) -> str | None:
    name = data_type.typeName()
    return name if name in _STATS_TYPES else None


def _path_key(p: str) -> str:
    """Absolute scheme-less path, the join key between listed files and
    the aggregate's ``input_file_name()`` URIs. Only the URI side is
    percent-decoded: a listed path may legitimately contain ``%XX``
    (hive escaping) while the URI encodes it again."""
    if "://" in p or p.startswith("file:"):
        return unquote(urlsplit(p).path)
    return os.path.abspath(p)


def _footers_readable(spark: SparkSession, root: str) -> bool:
    """Footers are read with driver/executor-local pyarrow: only valid on a
    local root whose files every executor sees at the same path."""
    return _atomic.is_local_path(root) and spark.sparkContext.master.startswith(
        "local"
    )


def spark_file_stats(
    spark: SparkSession,
    base: str,
    locations: list[str],
    fields: list[StructField],
    dict_cols: Collection[str] = (),
    bloom_cols: Collection[str] = (),
    nulls: bool = False,
) -> dict[str, dict]:
    """ONE grouped Spark aggregate over ``locations`` (files under the
    hive root ``base``), reading only the columns ``fields`` (a file
    without one of them reads it as nulls): ``{path key: {"nrec",
    "stats": {c: (min, max, nulls)}, "dicts": {c: values}, "bloom": {c:
    hex}}}``. ``dict_cols`` and ``bloom_cols`` name fields."""
    cols = [f.name for f in fields]
    df = (
        spark.read.schema(StructType(fields))
        .option("basePath", base)
        .parquet(*locations)
    )
    aggs = [F.count(F.lit(1)).alias("__nrec")]
    for c in cols:
        aggs.append(F.min(c).alias(f"min__{c}"))
        aggs.append(F.max(c).alias(f"max__{c}"))
        if nulls:
            aggs.append(F.sum(F.col(c).isNull().cast("long")).alias(f"nulls__{c}"))
    for c in dict_cols:
        aggs.append(
            F.slice(F.sort_array(F.collect_set(c)), 1, _footer._DICT_CAP + 1)
            .alias(f"dict__{c}")
        )
    for c in bloom_cols:
        for i, seed in enumerate(_BLOOM_SEEDS):
            aggs.append(
                F.collect_set(
                    F.pmod(F.xxhash64(F.col(c), F.lit(seed)), F.lit(_BLOOM_M))
                ).alias(f"bloom{i}__{c}")
            )
    rows = (
        df.withColumn("__file", F.input_file_name())
        .groupBy("__file")
        .agg(*aggs)
        .collect()
    )
    out = {}
    for r in rows:
        d = r.asDict()
        stats = {
            c: (d[f"min__{c}"], d[f"max__{c}"], d[f"nulls__{c}"] if nulls else None)
            for c in cols
        }
        bloom = {}
        for c in bloom_cols:
            bits = 0
            for i in range(len(_BLOOM_SEEDS)):
                for p in d[f"bloom{i}__{c}"] or []:
                    bits |= 1 << p
            if bits:
                bloom[c] = f"{bits:x}"
        out[_path_key(d["__file"])] = {
            "nrec": d["__nrec"],
            "stats": stats,
            "dicts": {c: d[f"dict__{c}"] for c in dict_cols},
            "bloom": bloom,
        }
    return out


def file_stats(
    spark: SparkSession,
    base: str,
    files: list[DataFile],
    schema: StructType,
    *,
    names: Collection[str] | None = None,
    types: Collection[str] | None = None,
    dict_types: Collection[str] = (),
    bloom_cols: Collection[str] = (),
    nulls: bool = False,
) -> None:
    """Fill ``nrec``/``stats``/``dicts``/``bloom`` of ``files`` (all under
    the hive root ``base``) for the stats columns of ``schema`` (see
    ``write_files``): footers where ``_footers_readable``, the restricted
    Spark aggregate for everything else."""
    if not files:
        return
    pcols = set().union(*(f.partition for f in files))
    fields, dict_cols = {}, []
    for fld in schema.fields:
        tn = _type_name(fld.dataType)
        if (
            tn is None
            or fld.name in pcols
            or (names is not None and fld.name not in names)
            or (types is not None and tn not in types)
        ):
            continue
        fields[fld.name] = fld
        if tn in dict_types:
            dict_cols.append(fld.name)
    cols = list(fields)
    bloom_cols = [c for c in bloom_cols if c in fields]
    keys = [_path_key(f.path) for f in files]
    footer: dict[str, dict] = {}
    agg_cols, agg_dicts = cols, dict_cols
    if _footers_readable(spark, base):
        by_path = _footer.footer_file_stats(
            spark, [f.path for f in files], want_cols=cols,
            dict_cols=dict_cols, with_nulls=nulls,
        )
        footer = {_path_key(p): st for p, st in by_path.items()}
        agg_cols, agg_dicts = [], []
        for st in footer.values():
            agg_cols += [c for c in st["untrusted"] if c not in agg_cols]
    agg: dict[str, dict] = {}
    if agg_cols or bloom_cols or not footer:
        read = set(agg_cols) | set(agg_dicts) | set(bloom_cols)
        agg = spark_file_stats(
            spark, base, [f"{base}/{f.rel}" for f in files],
            [fld for c, fld in fields.items() if c in read],
            agg_dicts, bloom_cols, nulls,
        )
    for f, key in zip(files, keys):
        st = footer.get(key)
        fb = agg.get(key) or {"nrec": 0, "stats": {}, "dicts": {}, "bloom": {}}
        f.nrec = st["nrec"] if st is not None else fb["nrec"]
        for c in cols:
            if st is not None and c not in st["untrusted"]:
                n = st["nulls"].get(c, 0) if nulls else None
                f.stats[c] = (st["min"].get(c), st["max"].get(c), n)
            else:
                f.stats[c] = fb["stats"].get(c, (None, None, 0 if nulls else None))
        for c in dict_cols:
            vals = (st["dict"] if st is not None else fb["dicts"]).get(c)
            if vals is not None and 0 < len(vals) <= _footer._DICT_CAP:
                f.dicts[c] = vals
        f.bloom = fb["bloom"]


# --- clustering layout ------------------------------------------------------


def _murmur3_int(v: int, seed: int = 42) -> int:
    """Spark's ``Murmur3_x86_32.hashInt`` (what ``F.hash`` and hash
    partitioning compute for an int column)."""
    def rotl(x: int, r: int) -> int:
        return ((x << r) | (x >> (32 - r))) & 0xFFFFFFFF

    k = rotl((v & 0xFFFFFFFF) * 0xCC9E2D51 & 0xFFFFFFFF, 15)
    k = k * 0x1B873593 & 0xFFFFFFFF
    h = rotl(seed ^ k, 13)
    h = (h * 5 + 0xE6546B64) & 0xFFFFFFFF
    h ^= 4
    h ^= h >> 16
    h = h * 0x85EBCA6B & 0xFFFFFFFF
    h ^= h >> 13
    h = h * 0xC2B2AE35 & 0xFFFFFFFF
    h ^= h >> 16
    return h - (1 << 32) if h & 0x80000000 else h


def _partition_keys(n: int) -> list[int]:
    """``keys[i]`` hash-partitions to partition ``i`` of ``n``: a bijection
    from range buckets to output partitions through plain
    ``repartition(n, col)``."""
    keys: list[int | None] = [None] * n
    left, v = n, 0
    while left:
        slot = _murmur3_int(v) % n
        if keys[slot] is None:
            keys[slot] = v
            left -= 1
        v += 1
    return keys


def _exact_range_split(df: DataFrame, key: str, key_bits: int, n: int) -> DataFrame:
    """Range-partition ``df`` on the non-negative integer column ``key``
    into at most ``n`` partitions of near-equal row counts, from an EXACT
    histogram of the key's top 16 bits. ``repartitionByRange`` samples
    with a seed derived from the RDD id, so the same rows got different
    file boundaries depending on how many RDDs the session had built
    before; the histogram makes the layout a function of the data."""
    shift = max(0, key_bits - 16)
    prefix = F.shiftright(F.col(key), shift) if shift else F.col(key)
    hist = sorted(
        (r[0], r[1]) for r in df.groupBy(prefix.alias("p")).count().collect()
    )
    total = sum(c for _, c in hist)
    bounds: list[int] = []
    cum, j = 0, 1
    for (_, c), (nxt, _) in zip(hist, hist[1:]):
        cum += c
        if cum * n >= j * total:
            bounds.append(nxt)
            j = cum * n // total + 1
    keys = F.array(*[F.lit(k) for k in _partition_keys(len(bounds) + 1)])
    bucket = _bucket_rank(prefix, bounds, 0, len(bounds))
    return df.repartition(len(bounds) + 1, F.element_at(keys, bucket + 1))


def range_layout(
    df: DataFrame,
    n: int,
    zorder_by: Collection[str] = (),
    sort_by: Collection[str] = (),
    curve: str = "z",
) -> DataFrame:
    """``df`` range-partitioned into at most ``n`` tasks with rows sorted
    inside each, so every output file covers a narrow key interval:
    along the z or hilbert curve over ``zorder_by`` (exact, data-only
    boundaries), or along ``sort_by``."""
    if zorder_by and sort_by:
        raise ValueError("pass sort_by OR zorder_by, not both")
    if not zorder_by:
        return df.repartitionByRange(n, *sort_by).sortWithinPartitions(*sort_by)
    cols = tuple(zorder_by)
    if curve == "hilbert":
        staged = attach_hilbert_column(df, cols, "__z")
    elif curve == "z":
        staged = df.withColumn("__z", zorder_column(df, cols))
    else:
        raise ValueError(f"unknown clustering curve: {curve!r}")
    # both curves use 8-bit ranks per column
    return (
        _exact_range_split(staged, "__z", 8 * len(cols), n)
        .sortWithinPartitions("__z")
        .drop("__z")
    )
