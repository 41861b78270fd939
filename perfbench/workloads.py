"""The benchmark's workloads, their correctness checks and layer readings.

``headline`` -- registry queries, read-only. The 19 headline queries of
``bench.py``, each built through ``__spark_entry__.queries()`` and written
to the ``noop`` sink, over a generated corpus at ``CORPUS_SF``.
Interactive-scale work where driver-side plan building, py4j and job
scheduling are a large share. Loads ``session``, ``queries``,
``operators.*``, ``streaming.*`` and ``sources.readers`` (parquet); none of
these queries crosses the Python UDF boundary. Writes nothing, so a
commit-path change should not move it.

``lake`` -- the write path. The paper's star-schema ETL
(``pipelines.star_schema``: ``read_json``, the hive-partitioned small-file
sink in ``sources.writers``, the relational dedup and ``deterministic_id``)
followed by one table lifecycle per format (``sources.txlog``,
``sources.delta_interop``, ``sources.iceberg_interop``, with ``footer_stats``,
``atomic`` and ``puffin`` under them; the Python UDFs of ``iceberg_interop``
and ``puffin`` cross the ``udf`` boundary): create, appends, ``merge_upsert`` on a seeded key
subset, ``delete_where_dv``, a stats-skipping merge-on-read
``snapshot(where=...)`` read, compaction, and a full read after compaction.
Reads are interleaved with writes, so a write-path gain that costs read
planning or file layout shows. Registry query plans are not built here, so
a ``queries``-only change should not move it.

The seed generates every input and sets the query order of every
``headline`` pass.
"""

from __future__ import annotations

import contextlib
import glob
import os
import shutil
import time
from dataclasses import dataclass, field

import duckdb
import pyarrow.parquet as pq

import gen

HEADLINE = [
    "q1_pricing_summary",
    "multi_join_snowflake",
    "tpch_q3_shipping",
    "join_inner_orders_customer",
    "dedup_conditional_prefer",
    "time_parts",
    "derive_columns",
    "agg_cube",
    "win_topk_per_group",
    "win_running_sum",
    "asof_join_events_orders",
    "sessionize_events",
    "text_quality",
    "text_fingerprint",
    "dedup_exact_docs",
    "dedup_minhash_lsh",
    "neardup_cosine_pairs",
    "ann_topk_bruteforce",
    "stream_tumbling_agg",
]
# Corpus scale: lineitem = 6,000,000 x CORPUS_SF rows.
CORPUS_SF = 0.002
# Registry queries without a DuckDB oracle: output schema recorded from
# this tree; ``_check_no_oracle`` adds invariants that hold for every seed.
NO_ORACLE_SCHEMA = {
    "dedup_minhash_lsh": "struct<id_a:bigint,id_b:bigint,jaccard:double>",
}

# Star-schema input size: song files (one JSON object each) and log events.
STAR_SONGS = 60
STAR_EVENTS = 3_000
# Lake lifecycle: LAKE_BATCHES batches of LAKE_ROWS rows; the first creates
# the table, the others are appended.
LAKE_ROWS = 4_000
LAKE_BATCHES = 2
LAKE_FORMATS = ("txlog", "delta", "iceberg")
LAKE_KEY = "l_key"
# the columns of ``gen.lake_batches``
LAKE_COLS = ["l_key", "l_orderkey", "l_quantity", "l_extendedprice",
             "l_discount", "l_shipday", "l_part"]
# merge_upsert updates about 2% of the keys and inserts as many new ones;
# delete_where_dv removes about 1/37 of the rows
MERGE_FRACTION = 0.02
DELETE_COND = "l_key % 37 = 5"
# log and metadata directories of the three formats (txlog keeps its
# deletion vectors in ``_dv``)
META_DIRS = ("_txlog", "_dv", "_delta_log", "metadata")
COMMIT_OPS = ("create", "append", "merge", "delete", "compact")
READ_OPS = ("read_skip", "read_compacted")


@dataclass
class Sample:
    """One timed call into the program; ``call_id`` is unique in the run."""

    op: str
    kind: str
    call_id: str
    wall_s: float = 0.0
    build_s: float = 0.0
    phases: list[str] = field(default_factory=list)

    def group(self, phase: str) -> str:
        return f"pb|{self.call_id}|{self.op}|{phase}"

    @property
    def groups(self) -> list[str]:
        return [self.group(p) for p in self.phases]


class Calls:
    """Times every call into the program. In a traced run it also tags the
    call's Spark jobs with a job group (``Sample.group``), which the event
    log carries to ``eventlog.parse``."""

    def __init__(self, spark, traced: bool, tag: str) -> None:
        self.sc = spark.sparkContext
        self.traced = traced
        self.tag = tag
        self.samples: list[Sample] = []

    @contextlib.contextmanager
    def op(self, name: str, kind: str):
        s = Sample(name, kind, f"{self.tag}{len(self.samples)}")
        t0 = time.perf_counter()
        try:
            yield s
        finally:
            s.wall_s = time.perf_counter() - t0
            self.samples.append(s)
            if self.traced:  # the benchmark's own jobs stay ungrouped
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def phase(self, s: Sample, phase: str) -> None:
        s.phases.append(phase)
        if self.traced:
            self.sc.setJobGroup(s.group(phase), s.op)


@dataclass
class Outcome:
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)

    def check(self, label: str, ok: bool, detail: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(f"{label}: {detail}"[:400])

    def merge(self, other: "Outcome") -> None:
        self.attempted += other.attempted
        self.failed += other.failed
        self.errors += other.errors


def _multiset(cols: list[str], rows) -> dict:
    from tools.verify_local import row_multiset

    return row_multiset(cols, [tuple(r) for r in rows])


def dir_stats(path: str, suffix: str = "") -> tuple[int, int]:
    """(file count, bytes) of the files under ``path`` ending in ``suffix``."""
    n = size = 0
    for root, _dirs, files in os.walk(path):
        for name in files:
            if name.endswith(suffix):
                n += 1
                size += os.path.getsize(os.path.join(root, name))
    return n, size


class Headline:
    name = "headline"
    # interactive queries run in a long-lived session: an untimed cold pass
    # (the checked one) precedes the timed passes
    warmup = True

    def __init__(self, root: str, seed: int) -> None:
        self.corpus = gen.write_corpus(os.path.join(root, "corpus"), seed, CORPUS_SF)

    def sizes(self) -> dict:
        return {"corpus_sf": CORPUS_SF}

    def setup_probe(self, spark, queries) -> None:
        queries["q1_pricing_summary"](spark, self.corpus).write.format(
            "noop"
        ).mode("overwrite").save()

    def _call(self, calls: Calls, spark, name: str, fn, collect: bool):
        with calls.op(name, "query") as s:
            calls.phase(s, "build")
            t0 = time.perf_counter()
            df = fn(spark, self.corpus)
            s.build_s = time.perf_counter() - t0
            calls.phase(s, "run")
            if collect:
                return df.columns, df.schema.simpleString(), df.collect()
            df.write.format("noop").mode("overwrite").save()
        return None

    def run_pass(self, spark, calls: Calls, queries, oracles, rng, check: bool) -> Outcome:
        """One pass over the queries in ``rng`` order. With ``check`` each
        query's rows are collected and compared with DuckDB on
        ``oracle_sql()`` (row count, column names, order-insensitive
        multiset of normalized rows); otherwise they go to the noop sink."""
        out = Outcome()
        order = list(HEADLINE)
        rng.shuffle(order)
        con = self._oracle_db() if check else None
        for name in order:
            try:
                got = self._call(calls, spark, name, queries[name], check)
            except Exception as e:  # noqa: BLE001 - a failed query is counted
                out.check(name, False, f"spark error: {e!r}")
                continue
            if not check:
                out.check(name, True)
            elif name not in oracles:
                out.check(name, *_check_no_oracle(name, *got[1:]))
            else:
                out.check(name, *_compare(con.execute(oracles[name]), *got))
        if con is not None:
            con.close()
        return out

    def _oracle_db(self):
        from tools.verify_local import TABLES

        con = duckdb.connect()
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{self.corpus}/{t}.parquet')"
            )
        return con


def _compare(res, cols: list[str], _schema: str, rows) -> tuple[bool, str]:
    dcols = [d[0] for d in res.description]
    drows = res.fetchall()
    if len(rows) != len(drows):
        return False, f"rows spark={len(rows)} duckdb={len(drows)}"
    if sorted(cols) != sorted(dcols):
        return False, f"columns {sorted(cols)} != {sorted(dcols)}"
    return _multiset(cols, rows) == _multiset(dcols, drows), "values differ from DuckDB"


def _check_no_oracle(name: str, schema: str, rows) -> tuple[bool, str]:
    """``dedup_minhash_lsh`` (threshold 0.5): the recorded schema, at least
    one pair (the corpus holds near duplicates), each pair once with
    ``id_a < id_b`` and a verified Jaccard of at least the threshold."""
    want = NO_ORACLE_SCHEMA[name]
    if schema != want:
        return False, f"schema {schema} != recorded {want}"
    if not rows:
        return False, "no rows"
    pairs = [(r[0], r[1]) for r in rows]
    if any(a >= b for a, b in pairs) or len(set(pairs)) != len(pairs):
        return False, "pairs not unique and ordered (id_a < id_b)"
    if any(r[2] < 0.5 for r in rows):
        return False, "pair below the Jaccard threshold"
    return True, ""


class Lake:
    name = "lake"
    # batch ETL and table maintenance run as fresh applications, so users
    # pay the cold pass every time: the first timed pass is the checked one
    warmup = False

    def __init__(self, root: str, seed: int) -> None:
        self.root = root
        self.song_glob, self.log_glob = gen.write_star_inputs(
            os.path.join(root, "star_in"), seed, STAR_SONGS, STAR_EVENTS
        )
        self.batch_dir = os.path.join(root, "lake_in")
        os.makedirs(self.batch_dir, exist_ok=True)
        for i, tbl in enumerate(gen.lake_batches(seed, LAKE_BATCHES + 1, LAKE_ROWS)):
            pq.write_table(tbl, os.path.join(self.batch_dir, f"batch{i}.parquet"))
        # the merge source: MERGE_FRACTION of the existing keys updated plus
        # as many keys of the extra batch inserted
        r = gen.rng_for(seed, "merge")
        n_keys = LAKE_ROWS * LAKE_BATCHES
        n_upd = int(n_keys * MERGE_FRACTION)
        self.update_keys = sorted(int(k) for k in r.choice(n_keys, n_upd, replace=False))
        self.pass_no = 0
        self.last_info: dict = {}

    def sizes(self) -> dict:
        return {"star_songs": STAR_SONGS, "star_events": STAR_EVENTS,
                "lake_rows": LAKE_ROWS, "lake_batches": LAKE_BATCHES}

    def json_files(self) -> int:
        return len(glob.glob(self.song_glob)) + len(glob.glob(self.log_glob))

    def setup_probe(self, spark, queries) -> None:
        spark.read.parquet(self._batch(0)).write.format("noop").mode(
            "overwrite"
        ).save()

    def _batch(self, i: int) -> str:
        return os.path.join(self.batch_dir, f"batch{i}.parquet")

    def _updates(self, spark):
        from pyspark.sql import functions as F

        existing = spark.read.parquet(
            *[self._batch(i) for i in range(LAKE_BATCHES)]
        ).where(F.col(LAKE_KEY).isin(self.update_keys))
        fresh = spark.read.parquet(self._batch(LAKE_BATCHES)).where(
            F.col(LAKE_KEY) < LAKE_ROWS * LAKE_BATCHES + len(self.update_keys)
        )
        return existing.withColumn("l_quantity", F.col("l_quantity") + 100.0).unionByName(fresh)

    def _table_cls(self, fmt: str):
        if fmt == "txlog":
            from projectdatalake_spark.sources.txlog import TxTable

            return TxTable
        if fmt == "delta":
            from projectdatalake_spark.sources.delta_interop import DeltaTable

            return DeltaTable
        from projectdatalake_spark.sources.iceberg_interop import IcebergTable

        return IcebergTable

    def _skip_range(self) -> tuple[int, int]:
        # the keys of the middle batch: files written by other batches (and
        # after compaction, files whose key range does not overlap) are
        # skipped on their min/max stats
        return LAKE_ROWS, 2 * LAKE_ROWS - 1

    def _lifecycle(self, spark, calls: Calls, fmt: str, root: str,
                   check: bool) -> tuple[object, dict, list | None]:
        """The per-format operation sequence on a table at ``root``; returns
        the table, the layer readings taken between the timed calls (traced
        runs only: they cost Spark work) and, with ``check``, the rows of
        the stats-skipping read (collected again outside the timed call)."""
        from pyspark.sql import functions as F

        cls = self._table_cls(fmt)
        lo, hi = self._skip_range()
        info: dict[str, float] = {}

        def commit(op, fn):
            with calls.op(f"{fmt}.{op}", "commit") as s:
                calls.phase(s, "run")
                return fn()

        def read(op, fn):
            with calls.op(f"{fmt}.{op}", "read") as s:
                calls.phase(s, "run")
                fn().write.format("noop").mode("overwrite").save()

        table = commit("create", lambda: cls.create(
            spark, root, spark.read.parquet(self._batch(0)), partition_by=("l_part",)
        ))
        for i in range(1, LAKE_BATCHES):
            commit("append", lambda: table.append(spark.read.parquet(self._batch(i))))
        commit("merge", lambda: table.merge_upsert(self._updates(spark), [LAKE_KEY]))
        commit("delete", lambda: table.delete_where_dv(DELETE_COND))
        skip = F.col(LAKE_KEY).between(lo, hi)

        def skip_read():
            return table.snapshot(where={LAKE_KEY: (lo, hi)}).where(skip)

        read("read_skip", skip_read)
        skip_rows = skip_read().select(*LAKE_COLS).collect() if check else None
        if calls.traced:
            info["skip_files_read"] = len(
                table.snapshot(where={LAKE_KEY: (lo, hi)}).inputFiles()
            )
            info["skip_files_total"] = len(table.snapshot().inputFiles())
        if fmt == "iceberg":
            commit("compact", lambda: table.rewrite_data_files())
        else:
            commit("compact", lambda: table.optimize())
        read("read_compacted", lambda: table.snapshot())
        if not calls.traced:
            return table, info, skip_rows
        live = table.snapshot().inputFiles()
        info["files_live"] = len(live)
        live_bytes = sum(os.path.getsize(p.removeprefix("file:")) for p in live)
        # bytes on disk (all versions, logs, deletion vectors) per live byte
        info["write_amp"] = dir_stats(root)[1] / live_bytes if live_bytes else 0.0
        info["meta_bytes"] = sum(
            dir_stats(os.path.join(root, d))[1] for d in META_DIRS
        )
        return table, info, skip_rows

    def _star(self, spark, calls: Calls, out_dir: str) -> None:
        from projectdatalake_spark.pipelines import star_schema as P

        with calls.op("star.song_phase", "phase") as s:
            calls.phase(s, "run")
            P.process_song_data(spark, self.song_glob, out_dir)
        with calls.op("star.log_phase", "phase") as s:
            calls.phase(s, "run")
            P.process_log_data(spark, self.log_glob, out_dir)

    def run_pass(self, spark, calls: Calls, queries, oracles, rng, check: bool) -> Outcome:
        """One pass: the star ETL, then each format's lifecycle. With
        ``check`` the star tables and each format's final snapshot are
        compared with DuckDB after the pass. The order is fixed: in a cold
        pass the first step pays most of the JIT and code generation, so a
        seeded order would move that cost between per-step metrics."""
        out = Outcome()
        self.pass_no += 1
        base = os.path.join(self.root, f"lake_out{self.pass_no}")
        steps = ["star", *LAKE_FORMATS]
        tables, info, skipped = {}, {}, {}
        n0 = len(calls.samples)
        try:
            for step in steps:
                if step == "star":
                    self._star(spark, calls, os.path.join(base, "star"))
                else:
                    tables[step], info[step], skipped[step] = self._lifecycle(
                        spark, calls, step, os.path.join(base, step), check
                    )
        except Exception as e:  # noqa: BLE001 - a failed operation is counted
            out.check("lake.pass", False, repr(e))
            shutil.rmtree(base, ignore_errors=True)
            return out
        for s in calls.samples[n0:]:
            out.check(s.op, True)
        if check:
            out.merge(self._check_star(os.path.join(base, "star")))
            out.merge(self._check_tables(tables, skipped))
        n, size = dir_stats(os.path.join(base, "star"), ".parquet")
        info["star"] = {"files_written": n, "bytes_written": size}
        self.last_info = info
        shutil.rmtree(base, ignore_errors=True)
        return out

    def _expected_state(self, con) -> str:
        """DuckDB SQL for the table after the lifecycle: the batches, with
        the merge source's rows replacing or adding keys, minus the delete."""
        batches = ", ".join(f"'{self._batch(i)}'" for i in range(LAKE_BATCHES))
        keys = ", ".join(map(str, self.update_keys))
        n_fresh = LAKE_ROWS * LAKE_BATCHES + len(self.update_keys)
        con.execute(f"CREATE VIEW base AS SELECT * FROM read_parquet([{batches}])")
        con.execute(
            "CREATE VIEW upd AS SELECT * REPLACE (l_quantity + 100.0 AS l_quantity) "
            f"FROM base WHERE {LAKE_KEY} IN ({keys}) "
            f"UNION ALL SELECT * FROM read_parquet('{self._batch(LAKE_BATCHES)}') "
            f"WHERE {LAKE_KEY} < {n_fresh}"
        )
        return (
            f"SELECT * FROM (SELECT * FROM base WHERE {LAKE_KEY} NOT IN "
            f"(SELECT {LAKE_KEY} FROM upd) UNION ALL SELECT * FROM upd) "
            f"WHERE NOT ({DELETE_COND})"
        )

    def _check_tables(self, tables: dict, skipped: dict) -> Outcome:
        """Each format's final snapshot equals the DuckDB-computed state,
        and its stats-skipping read (taken before compaction, on the same
        state) equals that state filtered to the skip range."""
        out = Outcome()
        con = duckdb.connect()
        expected = self._expected_state(con)
        lo, hi = self._skip_range()
        cols = ", ".join(LAKE_COLS)
        want = _multiset(LAKE_COLS, con.execute(f"SELECT {cols} FROM ({expected})").fetchall())
        want_skip = _multiset(LAKE_COLS, con.execute(
            f"SELECT {cols} FROM ({expected}) WHERE {LAKE_KEY} BETWEEN {lo} AND {hi}"
        ).fetchall())
        for fmt, table in tables.items():
            try:
                got = _multiset(LAKE_COLS, table.snapshot().select(*LAKE_COLS).collect())
                out.check(f"{fmt}.final_state", got == want,
                          f"{sum(got.values())} rows vs expected {sum(want.values())}")
            except Exception as e:  # noqa: BLE001
                out.check(f"{fmt}.final_state", False, repr(e))
            got_skip = _multiset(LAKE_COLS, skipped[fmt])
            out.check(f"{fmt}.read_skip", got_skip == want_skip,
                      f"{sum(got_skip.values())} rows vs expected {sum(want_skip.values())}")
        con.close()
        return out

    def _check_star(self, out_dir: str) -> Outcome:
        """The five star tables, read back with DuckDB, against DuckDB over
        the generated JSON."""
        out = Outcome()
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW songs_in AS SELECT * FROM read_json("
            f"'{self.song_glob}', format='auto')"
        )
        con.execute(
            "CREATE VIEW plays AS SELECT * FROM read_json("
            f"'{self.log_glob}', format='newline_delimited') WHERE page = 'NextSong'"
        )
        expect = {
            "songs": con.execute("SELECT count(*) FROM songs_in").fetchone()[0],
            "artists": con.execute(
                "SELECT count(*) FROM (SELECT DISTINCT artist_id, artist_name, "
                "artist_location, artist_latitude, artist_longitude FROM songs_in)"
            ).fetchone()[0],
            "time": con.execute("SELECT count(DISTINCT ts) FROM plays").fetchone()[0],
            "songplays": con.execute("SELECT count(*) FROM plays").fetchone()[0],
        }
        users_sql = """
            WITH u AS (SELECT DISTINCT userId AS user_id, firstName AS first_name,
                       lastName AS last_name, gender, level FROM plays)
            SELECT * FROM u WHERE level = 'paid'
               OR user_id NOT IN (SELECT user_id FROM u WHERE level = 'paid')
        """
        want_users = sorted(con.execute(users_sql).fetchall())
        matched = con.execute(
            "SELECT count(*) FROM plays p JOIN songs_in s "
            "ON p.song = s.title AND p.artist = s.artist_name"
        ).fetchone()[0]
        try:
            for table in ("songs", "artists", "users", "time", "songplays"):
                con.execute(
                    f"CREATE VIEW out_{table} AS SELECT * FROM read_parquet("
                    f"'{out_dir}/{table}/**/*.parquet', hive_partitioning = true)"
                )
            for table, n in expect.items():
                got = con.execute(f"SELECT count(*) FROM out_{table}").fetchone()[0]
                out.check(f"star.{table}", got == n, f"{got} rows, expected {n}")
            users = con.execute(
                "SELECT user_id, first_name, last_name, gender, level FROM out_users"
            ).fetchall()
            out.check("star.users", sorted(users) == want_users,
                      "users differ from the paid-over-free oracle")
            got_matched, ids = con.execute(
                "SELECT count(song_id), count(DISTINCT songplay_id) FROM out_songplays"
            ).fetchone()
            out.check("star.songplays_fk", got_matched == matched,
                      f"{got_matched} plays matched a song, expected {matched}")
            out.check("star.songplay_id", ids == expect["songplays"], "songplay_id not unique")
        except duckdb.Error as e:
            out.check("star.read_back", False, repr(e))
        con.close()
        return out


WORKLOADS = {"headline": Headline, "lake": Lake}
