"""The repository benchmark: one workload per run, one JSON result line.

    python3 perfbench/run.py --workload headline|lake --seed N --seconds S --trace 0|1

Run from the root of a checkout. Load model: one driver process, one
client, closed loop; Spark runs ``local[$SPARK_GRAFT_CPUS]`` with
``SPARK_GRAFT_CPUS`` = the CPUs this process may use. A run:

1. generates the workload's inputs from ``--seed`` (``gen.py``);
2. builds the session (JVM launch), imports the query registry and runs a
   first query; these are ``session.jvm_launch_s`` and its neighbours;
3. ``headline`` only: one untimed pass over every query with its
   correctness check (``workloads.py``);
4. ``RESTARTS`` set-ups in the same JVM: stop the session, build it again,
   load the registry, first query; ``setup_s`` is their median;
5. timed passes, in a seeded order, until ``--seconds`` have elapsed (at
   least one): ``pass_s`` is their median, ``op_geomean_s`` the geometric
   mean latency of a single call. A pass holds ~20 calls whose costs differ
   by up to 50x, so their median falls in a gap between cost classes and
   jumps by ~15% from run to run; the geometric mean moves only with the
   calls. The median and the tail (with its percentile and sample count)
   are in the record. ``lake`` checks its first timed pass, which is cold
   by design (see ``workloads.py``).

All end-to-end metrics are wall times as measured. For diagnosis only, a
fixed pure-Python probe runs on every CPU just before and just after the
timed passes; its times are in the record (``host_probe_s``), so a
run taken while the host was slow can be recognised.

``--trace 1`` runs the same protocol with Spark's event log on and a job
group around each call into the program; the log is parsed into the
per-layer metrics (``eventlog.py``). It also takes ``lake``'s file-layout
readings between the timed calls, which cost Spark work. End-to-end metrics come from
``--trace 0`` runs; a traced run reports its ``pass_s`` against the
untraced records of the same workload, tree and CPU count found under
``.perfbench/records/`` as ``trace_overhead_frac`` (0 when there are none,
with ``null`` in the record's detail).

Every run gets its own scratch root under ``.perfbench/`` (``TMPDIR``,
``SPARK_LOCAL_DIRS``, warehouse, JVM temp, tables, event log). What the
program's own ``tempfile`` calls leave there is counted into
``hygiene.*`` before the root is removed. The last stdout line is
``{"correct", "attempted", "failed", "metrics"}``; the line before it, and
a file under ``.perfbench/records/``, hold the full record: host identity,
every metric, the latency tail with its percentile and sample count, and
any correctness errors.
"""

from __future__ import annotations

import argparse
import ctypes
import hashlib
import json
import os
import random
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
CHECKOUT = os.path.dirname(HERE)
RECORDS = os.path.join(CHECKOUT, ".perfbench", "records")
sys.path.insert(0, HERE)

# in-JVM set-ups behind ``setup_s``; the first set-up, which launches the
# JVM, is reported apart as ``session.jvm_launch_s``
RESTARTS = 5
END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "op_geomean_s": "s",
}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric a traced run prints, with its unit; a metric
    that does not apply to the run's workload reads 0. Spark and UDF
    figures are per timed pass. What each family should move:

    - ``session.*`` -> ``setup_s`` (both workloads);
    - ``queries.*``, ``spark.driver_gap_s``, ``headline.*`` -> ``headline``
      ``pass_s`` and ``op_geomean_s``; predicted not to move ``lake``;
    - ``spark.*``, ``udf.*`` -> ``pass_s`` of the workload that runs them;
    - ``star.*``, ``readers.*``, ``writers.*`` -> ``lake`` ``pass_s``;
    - ``lake.<fmt>.*_s``, ``jobs_per_commit``, ``driver_gap_per_commit_s``,
      ``lake.commit_*``, ``lake.read_p50_s`` -> ``lake`` ``pass_s`` and
      ``op_geomean_s``; ``files_live``, ``skip_files_*`` explain read
      times; ``write_amp`` and ``meta_bytes`` are the write and space cost
      and should not rise when a read gain is claimed;
    - ``hygiene.*`` and ``trace_overhead_frac`` are reported only.
    """
    from workloads import COMMIT_OPS, HEADLINE, LAKE_FORMATS, READ_OPS

    units = {
        "session.jvm_launch_s": "s",
        "session.build_s": "s",
        "session.registry_import_s": "s",
        "session.first_query_s": "s",
        "queries.build_s": "s",
        "queries.build_jobs": "count",
    }
    for key, unit in (
        ("jobs", "count"), ("stages", "count"), ("tasks", "count"),
        ("failed_tasks", "count"), ("job_s", "s"), ("executor_run_s", "s"),
        ("driver_gap_s", "s"), ("shuffle_write_bytes", "bytes"),
        ("spill_bytes", "bytes"), ("input_bytes", "bytes"),
    ):
        units[f"spark.{key}"] = unit
    for key, unit in (
        ("python_run_s", "s"), ("python_boot_s", "s"),
        ("bytes_to_python", "bytes"), ("bytes_from_python", "bytes"),
    ):
        units[f"udf.{key}"] = unit
    units["headline.cold_pass_s"] = "s"
    units.update({f"headline.{q}_s": "s" for q in HEADLINE})
    units.update({
        "star.song_phase_s": "s",
        "star.log_phase_s": "s",
        "readers.json_files": "count",
        "readers.input_bytes": "bytes",
        "writers.files_written": "count",
        "writers.bytes_written": "bytes",
    })
    for fmt in LAKE_FORMATS:
        for op in (*COMMIT_OPS, *READ_OPS):
            units[f"lake.{fmt}.{op}_s"] = "s"
        units.update({
            f"lake.{fmt}.jobs_per_commit": "count",
            f"lake.{fmt}.driver_gap_per_commit_s": "s",
            f"lake.{fmt}.files_live": "count",
            f"lake.{fmt}.skip_files_read": "count",
            f"lake.{fmt}.skip_files_total": "count",
            f"lake.{fmt}.write_amp": "ratio",
            f"lake.{fmt}.meta_bytes": "bytes",
        })
    units.update({
        "lake.commit_p50_s": "s",
        "lake.commit_tail_s": "s",
        "lake.read_p50_s": "s",
        "hygiene.tmp_leak_dirs": "count",
        "hygiene.tmp_leak_bytes": "bytes",
        "trace_overhead_frac": "frac",
    })
    return units


def _fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    raise SystemExit(2)


def _cpus() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:  # pragma: no cover - non-Linux
        return os.cpu_count() or 1


def _digest(*roots: str) -> str:
    """sha256 over the ``.py`` files under ``roots`` (relative to the
    checkout): identifies a tree when the checkout is not a git repository."""
    h = hashlib.sha256()
    paths = []
    for top in roots:
        top = os.path.join(CHECKOUT, top)
        if os.path.isfile(top):
            paths.append(top)
        for root, dirs, files in os.walk(top):
            dirs.sort()
            paths += [os.path.join(root, f) for f in sorted(files) if f.endswith(".py")]
    for p in paths:
        h.update(os.path.relpath(p, CHECKOUT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def _git_commit() -> str | None:
    try:
        out = subprocess.run(
            ["git", "-C", CHECKOUT, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10,
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def _scratch_root(workload: str, seed: int, trace: int) -> dict[str, str]:
    run = os.path.join(
        CHECKOUT, ".perfbench", f"run-{workload}-{seed}-{trace}-{os.getpid()}"
    )
    shutil.rmtree(run, ignore_errors=True)
    dirs = {k: os.path.join(run, k) for k in (
        "tmp", "spark_local", "warehouse", "jvm_tmp", "eventlog", "data",
    )}
    for d in dirs.values():
        os.makedirs(d)
    dirs["run"] = run
    return dirs


def _isolate(dirs: dict[str, str], cpus: int) -> None:
    """Point every scratch location of this process, the JVM it launches and
    the Python workers at the run's own root."""
    import tempfile

    os.environ["TMPDIR"] = dirs["tmp"]
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = dirs["spark_local"]
    os.environ["SPARK_WAREHOUSE_DIR"] = dirs["warehouse"]
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    # HotSpot writes /tmp/hsperfdata_<user>/<pid> whatever java.io.tmpdir says
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = CHECKOUT + (os.pathsep + path if path else "")
    sys.path.insert(0, CHECKOUT)


def _confs(dirs: dict[str, str], traced: bool) -> dict[str, str]:
    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={dirs['jvm_tmp']} -XX:-UsePerfData",
        "spark.hadoop.hadoop.tmp.dir": dirs["jvm_tmp"],
    }
    if traced:
        confs.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + dirs["eventlog"],
            "spark.eventLog.compress": "false",
            # one plain file per application (Spark 4 rolls by default)
            "spark.eventLog.rolling.enabled": "false",
        })
    return confs


# Fixed pure-Python work, independent of the program under test, run on
# every CPU at once: its round times show how fast the host ran around the
# timed passes.
_PROBE = "s = 0\nfor i in range(1_000_000):\n    s += i * i % 7\n"


def host_probe(cpus: int) -> float:
    """Wall seconds of ``_PROBE`` run in ``cpus`` parallel interpreters."""
    t0 = time.perf_counter()
    procs = [subprocess.Popen([sys.executable, "-c", _PROBE]) for _ in range(cpus)]
    for p in procs:
        p.wait()
    return time.perf_counter() - t0


def _become_subreaper() -> None:
    """Have orphaned descendants (the Python workers the JVM forks) re-parented
    to this process, so ``_reap_descendants`` can wait for them (Linux)."""
    try:
        prctl = ctypes.CDLL(None, use_errno=True).prctl
    except (OSError, AttributeError):
        return
    prctl.argtypes = [ctypes.c_int, ctypes.c_ulong, ctypes.c_ulong,
                      ctypes.c_ulong, ctypes.c_ulong]
    prctl.restype = ctypes.c_int
    prctl(36, 1, 0, 0, 0)  # PR_SET_CHILD_SUBREAPER


def _children() -> list[int]:
    me = os.getpid()
    pids = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        if ppid == me:
            pids.append(int(entry))
    return pids


def _reap_descendants(timeout: float = 30.0) -> None:
    """Wait until every process this run started has ended; kill what is
    still running after ``timeout`` seconds."""
    deadline = time.monotonic() + timeout
    while True:
        try:
            pid, _status = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid:
            continue
        if time.monotonic() > deadline:
            for child in _children():
                os.kill(child, signal.SIGKILL)
        time.sleep(0.05)


def _stop_jvm() -> None:
    """Stop the session and the JVM that PySpark launched, and wait for it."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway server exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


class Run:
    def __init__(self, args) -> None:
        self.args = args
        self.cpus = _cpus()
        self.dirs = _scratch_root(args.workload, args.seed, args.trace)
        _isolate(self.dirs, self.cpus)
        self.setups: list[dict[str, float]] = []
        self.spark = None

    def session(self):
        from projectdatalake_spark.session import get_spark

        return get_spark(
            f"perfbench-{self.args.workload}",
            extra_confs=_confs(self.dirs, bool(self.args.trace)),
        )

    def stop_session(self) -> None:
        self.spark.stop()
        self.spark = None

    def setup(self, wl) -> None:
        """One set-up: (re)build the session, load the registry, first query."""
        if self.spark is not None:
            self.stop_session()
        t0 = time.perf_counter()
        self.spark = self.session()
        t1 = time.perf_counter()
        import __spark_entry__ as entry

        self.queries = entry.queries()
        self.oracles = entry.oracle_sql()
        t2 = time.perf_counter()
        wl.setup_probe(self.spark, self.queries)
        t3 = time.perf_counter()
        self.setups.append({"build_s": t1 - t0, "registry_s": t2 - t1,
                            "first_query_s": t3 - t2, "total_s": t3 - t0})

    def passes(self, wl, calls, rng, seconds: float,
               check_first: bool = False) -> tuple[list[float], object]:
        """Timed passes until ``seconds`` have elapsed (at least one). A
        pass's time is the summed wall time of its calls into the program;
        the benchmark's own work between calls (layer readings, correctness
        checks) is not in it."""
        from workloads import Outcome

        out = Outcome()
        times: list[float] = []
        start = time.perf_counter()
        while not times or time.perf_counter() - start < seconds:
            n0 = len(calls.samples)
            check = check_first and not times
            out.merge(wl.run_pass(self.spark, calls, self.queries, self.oracles, rng, check))
            times.append(sum(s.wall_s for s in calls.samples[n0:]))
        return times, out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    for need in ("__spark_entry__.py", "projectdatalake_spark", "BENCHMARK.json"):
        if not os.path.exists(os.path.join(CHECKOUT, need)):
            _fail(f"{need} not found in {CHECKOUT}: run from a full checkout")
    from workloads import WORKLOADS, dir_stats

    if args.workload not in WORKLOADS:
        _fail(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
    _become_subreaper()
    run = Run(args)
    try:
        record = measure(run)
    finally:
        _stop_jvm()
        _reap_descendants()
    record["layers"]["hygiene.tmp_leak_dirs"] = len(os.listdir(run.dirs["tmp"]))
    record["layers"]["hygiene.tmp_leak_bytes"] = dir_stats(run.dirs["tmp"])[1]
    shutil.rmtree(run.dirs["run"], ignore_errors=True)
    if args.trace:
        overhead = trace_overhead(record, RECORDS)
        record["detail"]["trace_overhead_frac"] = overhead
        record["layers"]["trace_overhead_frac"] = overhead or 0.0
    emit(record, args.trace)
    return 0


def measure(run: Run) -> dict:
    import workloads as W
    from eventlog import parse, read_events
    from stats import geomean, median, tail

    args = run.args
    t0 = time.perf_counter()
    wl = W.WORKLOADS[args.workload](run.dirs["data"], args.seed)
    inputs_s = time.perf_counter() - t0

    run.setup(wl)
    first = dict(run.setups[0])
    host = host_identity(run, wl)
    rng = random.Random(args.seed)
    outcome = W.Outcome()
    cold_ops: dict[str, float] = {}
    traced = bool(args.trace)
    if wl.warmup:
        warm = W.Calls(run.spark, traced, "warm")
        outcome.merge(wl.run_pass(run.spark, warm, run.queries, run.oracles, rng, True))
        cold_ops = {s.op: s.wall_s for s in warm.samples}
    for _ in range(RESTARTS):
        run.setup(wl)

    calls = W.Calls(run.spark, traced, "timed")
    probes = [host_probe(run.cpus)]
    pass_times, timed = run.passes(
        wl, calls, rng, args.seconds, check_first=not wl.warmup
    )
    outcome.merge(timed)
    probes.append(host_probe(run.cpus))
    samples = calls.samples
    lat = [s.wall_s for s in samples]
    metrics = {
        "setup_s": median([s["total_s"] for s in run.setups[1:]]),
        "pass_s": median(pass_times),
        "op_geomean_s": geomean(lat),
    }
    layers = pass_layers(run, wl, samples, first)
    layers["headline.cold_pass_s"] = sum(cold_ops.values())
    if traced:
        run.stop_session()  # the event log is complete once its context stops
        ledger = parse(read_events(run.dirs["eventlog"]))
        layers.update(ledger_layers(ledger, wl, samples, len(pass_times)))
    return {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "host": host,
        "correct": outcome.failed == 0,
        "attempted": outcome.attempted,
        "failed": outcome.failed,
        "errors": outcome.errors[:20],
        "metrics": metrics,
        "layers": layers,
        "detail": {
            "inputs_s": inputs_s,
            "setups": run.setups,
            "passes": len(pass_times),
            "pass_times_s": pass_times,
            "op_latency_p50_s": median(lat),
            "op_latency_tail_s": tail(lat),
            "cold_ops_s": cold_ops,
            "host_probe_s": probes,
        },
    }


def pass_layers(run: Run, wl, samples, first: dict) -> dict[str, float]:
    """Layer readings that need no trace: set-up phases, per-operation
    latencies and what the benchmark reads from disk between calls."""
    from stats import median, tail

    layers = dict.fromkeys(per_layer_units(), 0.0)
    rest = run.setups[1:]
    layers.update({
        "session.jvm_launch_s": first["build_s"],
        "session.registry_import_s": first["registry_s"],
        "session.build_s": median([s["build_s"] for s in rest]),
        "session.first_query_s": median([s["first_query_s"] for s in rest]),
    })
    by_op: dict[str, list[float]] = {}
    for s in samples:
        by_op.setdefault(s.op, []).append(s.wall_s)
    if wl.name == "headline":
        layers.update({f"headline.{op}_s": median(v) for op, v in by_op.items()})
        return layers
    for op, v in by_op.items():
        if op.startswith("star."):
            layers[f"star.{op.split('.', 1)[1]}_s"] = median(v)
        else:
            layers[f"lake.{op}_s"] = median(v)
    commits = [s.wall_s for s in samples if s.kind == "commit"]
    layers["lake.commit_p50_s"] = median(commits)
    layers["lake.commit_tail_s"] = tail(commits)["value"]
    layers["lake.read_p50_s"] = median([s.wall_s for s in samples if s.kind == "read"])
    for fmt, info in wl.last_info.items():
        if fmt == "star":
            layers["writers.files_written"] = info["files_written"]
            layers["writers.bytes_written"] = info["bytes_written"]
            continue
        for key, value in info.items():
            layers[f"lake.{fmt}.{key}"] = value
    layers["readers.json_files"] = wl.json_files()
    return layers


def ledger_layers(ledger, wl, samples, n: int) -> dict[str, float]:
    """Per-pass Spark, UDF and per-layer job counts from the event log."""
    import workloads as W

    layers: dict[str, float] = {}
    groups = [g for s in samples for g in s.groups]
    for key in ("jobs", "stages", "tasks", "failed_tasks", "job_s",
                "executor_run_s", "shuffle_write_bytes", "spill_bytes", "input_bytes"):
        layers[f"spark.{key}"] = ledger.total(groups, key) / n
    layers["spark.driver_gap_s"] = sum(
        s.wall_s - ledger.busy_s(s.groups) for s in samples
    ) / n
    for key in ("python_run_s", "python_boot_s", "bytes_to_python", "bytes_from_python"):
        layers[f"udf.{key}"] = ledger.total(groups, key) / n
    if wl.name == "headline":
        layers["queries.build_s"] = sum(s.build_s for s in samples) / n
        layers["queries.build_jobs"] = ledger.total(
            [s.group("build") for s in samples], "jobs"
        ) / n
        return layers
    star = [g for s in samples if s.op.startswith("star.") for g in s.groups]
    layers["readers.input_bytes"] = ledger.total(star, "input_bytes") / n
    for fmt in W.LAKE_FORMATS:
        commits = [s for s in samples if s.kind == "commit" and s.op.startswith(fmt + ".")]
        layers[f"lake.{fmt}.jobs_per_commit"] = ledger.total(
            [g for s in commits for g in s.groups], "jobs"
        ) / len(commits)
        layers[f"lake.{fmt}.driver_gap_per_commit_s"] = sum(
            s.wall_s - ledger.busy_s(s.groups) for s in commits
        ) / len(commits)
    return layers


def trace_overhead(record: dict, records_dir: str) -> float | None:
    """Traced ``pass_s`` over the median ``pass_s`` of the untraced records
    of the same workload, program, benchmark and CPU count in
    ``records_dir``, minus one; None when there is no such record."""
    from stats import median

    host = record["host"]
    base = []
    for name in os.listdir(records_dir) if os.path.isdir(records_dir) else ():
        with open(os.path.join(records_dir, name)) as f:
            other = json.load(f)
        same = (other["workload"] == record["workload"] and not other["trace"]
                and other["host"]["cpus"] == host["cpus"]
                and all(other["host"].get(k) == host[k]
                        for k in ("source_digest", "bench_digest")))
        if same:
            base.append(other["metrics"]["pass_s"])
    return record["metrics"]["pass_s"] / median(base) - 1.0 if base else None


def host_identity(run: Run, wl) -> dict:
    import pyspark

    return {
        "cpus": run.cpus,
        "spark": run.spark.version,
        "pyspark": pyspark.__version__,
        "java": run.spark._jvm.java.lang.System.getProperty("java.version"),
        "python": sys.version.split()[0],
        "inputs": wl.sizes(),
        "seed": run.args.seed,
        "commit": _git_commit(),
        "source_digest": _digest("__spark_entry__.py", "projectdatalake_spark"),
        "bench_digest": _digest("perfbench"),
    }


def emit(record: dict, trace: int) -> None:
    units = per_layer_units() if trace else END_TO_END
    values = record["layers"] if trace else record["metrics"]
    result = {
        "correct": record["correct"],
        "attempted": record["attempted"],
        "failed": record["failed"],
        "metrics": {k: {"value": float(values[k]), "unit": u} for k, u in units.items()},
    }
    os.makedirs(RECORDS, exist_ok=True)
    name = f"{record['workload']}-seed{record['seed']}-trace{trace}-{int(time.time())}.json"
    with open(os.path.join(RECORDS, name), "w") as f:
        json.dump(record, f, indent=1, sort_keys=True)
    print(json.dumps(record, sort_keys=True))
    print(json.dumps(result), flush=True)


if __name__ == "__main__":
    raise SystemExit(main())
