"""Closed-loop benchmark for gdalos_spark.

One process, one client, one operation at a time: the benchmark calls the
public ``__spark_entry__.queries()[key](spark, sf_dir)`` callables on
``local[<cores>]`` and forces each result with ``collect()``. Run it from
the repository root:

    python3 perfbench/run.py --workload batch --seed 1 --seconds 20 --trace 0

A run has four phases:

1. input: ``gen.py`` derives the tables from the reference input in
   ``ref/`` with transforms drawn from ``--seed``, into a fresh run
   directory under ``.perfbench/``. All on-disk state of the program
   (``TMPDIR``; the bucketed, COG, overview and GeoPackage roots; Spark's
   local and warehouse dirs; the JVM's temp dir) lives there too;
2. set-up, from a fresh process to ready: start the session,
   ``stage_facts`` (batch workload), load and count every table, one
   untimed pass over the key mix. The set-up is cold (a new JVM), so it
   pays for first executions; ``setup_s`` is its wall time. Then
   ``WARM_SECONDS`` of untimed passes let the JIT settle before the window;
3. the oracle check: every set-up output is compared with
   ``oracle_sql()[key]`` run in DuckDB on the same input, normalised as
   the test suite does. Every timed operation is compared with the same
   oracle rows. A mismatch or an exception counts as a failed operation;
4. the timed window: whole passes over the key mix until ``--seconds``
   have gone by, and at least three. Keys that commit on-disk state get
   fresh state roots before every operation. Passes that the host's CPU
   steal disturbed are left out of the end-to-end metrics (see
   ``least_disturbed``).

With ``--trace 1`` the window is split in three parts: a quarter
untraced, a half traced with Spark's event log on, and a quarter
untraced. Each part starts a new session and re-warms it with one
untimed pass, so the traced and untraced passes differ only in the event
log, and the untraced ones sit on both sides of the traced ones. Each
traced operation is split into build (the query function), plan (forcing
the executed plan) and execution (``collect``); jobs, tasks and streaming
progress are attributed to it from the event log by time window. Spans
(run, pass, op, build/plan/exec) and the per-op layer rows are written to
``.perfbench/trace-<workload>-<seed>.json``.

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. Everything else
goes to standard error.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# untimed passes between the cold set-up and the timed window: this many
# seconds of them, and at least WARM_PASSES
WARM_SECONDS = 8
WARM_PASSES = 2
# steal seconds per second of pass wall, summed over the host's CPUs, above
# which a timed pass is left out of the end-to-end metrics, as long as
# MIN_KEPT passes remain
MAX_STEAL_RATE = 0.1
MIN_KEPT = 3
# a run must end well inside three minutes, whatever the program does
DEADLINE_S = 170


@dataclass(frozen=True)
class Workload:
    keys: tuple[str, ...]
    stage: bool
    tables: tuple[str, ...]  # the generated input holds only these


# Keys from bench.HEADLINE for the batch workload (checked at start-up):
# a scan-bound aggregate, a multi-join that runs jobs while it is built,
# and a text dedup that builds longer than it runs.
HEADLINE_PICK = (
    "pricing_summary",
    "region_volume",
    "dedup_simhash",
)
WORKLOADS = {
    # plus the GeoTIFF encode/decode key: the batch path through Python workers
    "batch": Workload(
        keys=HEADLINE_PICK + ("raster_ingest_tiff",),
        stage=True,
        tables=("region", "nation", "customer", "supplier", "part", "orders",
                "lineitem", "documents"),
    ),
    # state-store and file-sink writes; the file stream source does not
    # read the bucketed store, so there is nothing to stage
    "streaming": Workload(
        keys=("streaming_dedup", "streaming_parquet_sink"),
        stage=False,
        tables=("events",),
    ),
}

# Keys that commit on-disk state a re-run would reuse (stream checkpoints
# and sink output: a sink re-run against its committed checkpoint processes
# nothing): each operation gets fresh roots, so it does a first run's work.
STATEFUL_PREFIXES = ("streaming_",)

END_TO_END_UNITS = {
    "setup_s": "s",
    "pass_s": "s",
    "op_p50_s": "s",
    "geomean_op_s": "s",
    "peak_rss_mb": "MB",
}
PER_LAYER_UNITS = {
    "operators.build_s": "s",
    "operators.build_jobs": "count",
    "operators.build_share": "ratio",
    "spark.plan_s": "s",
    "spark.exec_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.scheduler_delay_s": "s",
    "spark.empty_task_ratio": "ratio",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.input_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "sources.stage_s": "s",
    "sources.staged_bytes": "bytes",
    "sources.python_run_s": "s",
    "sources.python_bytes": "bytes",
    "streaming.batches": "count",
    "streaming.state_rows": "count",
    "streaming.state_memory_bytes": "bytes",
    "streaming.batch_s": "s",
    "streaming.commit_s": "s",
    "datamodel.load_s": "s",
    "datamodel.leaked_rdds": "count",
    "trace.overhead_s": "s",
}


def log(*parts) -> None:
    print(*parts, file=sys.stderr, flush=True)


def loadavg() -> list[float]:
    with open("/proc/loadavg") as fh:
        return [float(x) for x in fh.read().split()[:3]]


def steal_s() -> float:
    """The host's CPU steal so far, summed over its CPUs: time other
    tenants of the machine ran while this one's CPUs had work."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def host_snapshot(spark) -> dict:
    """Counters that tell host noise from program change: the host's CPU
    steal, and the driver JVM's CPU, GC and JIT-compile seconds."""
    jvm = spark.sparkContext._jvm
    mf = jvm.java.lang.management.ManagementFactory
    pid = int(jvm.java.lang.ProcessHandle.current().pid())
    tick = os.sysconf("SC_CLK_TCK")
    with open(f"/proc/{pid}/stat") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    return {
        "wall_s": time.time(),
        "steal_s": steal_s(),
        "jvm_cpu_s": (int(fields[11]) + int(fields[12])) / tick,
        "jvm_gc_s": sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans()) / 1e3,
        "jvm_jit_s": mf.getCompilationMXBean().getTotalCompilationTime() / 1e3,
    }


def host_mem_mb() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def du(path: str) -> int:
    return sum(os.lstat(os.path.join(base, f)).st_size
               for base, _, files in os.walk(path) for f in files)


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        try:
            tasks = os.listdir(f"/proc/{p}/task")
        except OSError:
            continue
        for task in tasks:
            try:
                with open(f"/proc/{p}/task/{task}/children") as fh:
                    kids = [int(x) for x in fh.read().split()]
            except OSError:
                continue
            out.extend(kids)
            todo.extend(kids)
    return out


def digest(cols: list[str], rows) -> str:
    """Order-insensitive fingerprint of a result, normalised as the test
    suite's oracle comparison does (columns by lower-cased name, cells via
    ``tests.conftest._norm``, rows sorted by their string form)."""
    from tests.conftest import _norm

    order = sorted(range(len(cols)), key=lambda i: cols[i].lower())
    canon = sorted(
        (tuple(_norm(r[i]) for i in order) for r in rows),
        key=lambda t: tuple(str(x) for x in t),
    )
    names = [cols[i].lower() for i in order]
    return hashlib.sha256(repr((names, canon)).encode()).hexdigest()


class Spans:
    """In-memory span recorder; rows carry their parent's id."""

    def __init__(self):
        self.rows: list[dict] = []

    def open(self, name: str, parent: int | None = None, **attrs) -> int:
        self.rows.append({"id": len(self.rows), "parent": parent, "name": name,
                          "start": time.time(), "end": None, **attrs})
        return len(self.rows) - 1

    def close(self, sid: int) -> None:
        self.rows[sid]["end"] = time.time()


class Bench:
    def __init__(self, args, wl: Workload):
        self.args = args
        self.wl = wl
        self.cpus = len(os.sched_getaffinity(0))
        self.run_dir = fresh_dir(os.path.join(
            ROOT, ".perfbench", f"run-{args.workload}-{args.seed}-{os.getpid()}"))
        self.input_dir = os.path.join(self.run_dir, "input")
        self.state_dir = os.path.join(self.run_dir, "state")
        self.roots = None
        self.spans = Spans()
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.expected: dict[str, str] = {}
        self.spark = None
        self.jvm_pid = None

    # ---------------------------------------------------------------- env
    def configure_env(self) -> None:
        """Point the session at the run dir and the host's size. Runs
        before pyspark or the program is imported."""
        os.environ["SPARK_LOCAL_DIRS"] = fresh_dir(os.path.join(self.run_dir, "spark-local"))
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p)
        os.environ["SPARK_GRAFT_CPUS"] = str(self.cpus)
        # bench_conf defaults the driver heap to 16g; stay well below the host
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{min(1024, host_mem_mb() // 4)}m"
        # a stuck stream fails its operation instead of the whole run
        os.environ["SPARK_GRAFT_STREAM_TIMEOUT_S"] = "60"
        # every JVM would otherwise write its performance-data file to /tmp
        os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
            p for p in (os.environ.get("JAVA_TOOL_OPTIONS", ""), "-XX:-UsePerfData") if p)
        self.use_roots("jvm")

    def use_roots(self, name: str, fresh: bool = True) -> None:
        """Point TMPDIR and the COG/overview/GeoPackage roots at the state
        dir ``name``, emptied first when ``fresh``."""
        import tempfile

        self.roots = name
        base = os.path.join(self.state_dir, name)
        if fresh:
            fresh_dir(base)
        for var in ("GDALOS_COG_ROOT", "GDALOS_OVR_ROOT", "GDALOS_GPKG_ROOT"):
            os.environ[var] = os.path.join(base, var.lower())
        os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(base, "tmp")
        os.makedirs(tempfile.tempdir, exist_ok=True)

    # ------------------------------------------------------------ session
    def start_session(self, event_log: str | None = None) -> None:
        import bench
        from pyspark.sql import SparkSession

        conf = dict(bench.bench_conf(str(self.cpus)))
        conf.update({
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
            "spark.sql.warehouse.dir": os.path.join(self.run_dir, "warehouse"),
            # a fixed heap: when the heap grows would otherwise move peak RSS
            "spark.driver.extraJavaOptions":
                f"-Xms{os.environ['SPARK_GRAFT_DRIVER_MEM']} "
                f"-Djava.io.tmpdir={os.path.join(self.state_dir, 'jvm', 'tmp')}",
        })
        if event_log:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{event_log}",
                "spark.eventLog.compress": "false",
            })
        b = SparkSession.builder.master(f"local[{self.cpus}]").appName(
            f"gdalos_spark-perfbench-{self.args.workload}")
        for k, v in conf.items():
            b = b.config(k, v)
        self.spark = b.getOrCreate()
        self.spark.sparkContext.setLogLevel("ERROR")
        if self.jvm_pid is None:
            jvm = self.spark.sparkContext._jvm
            self.jvm_pid = int(jvm.java.lang.ProcessHandle.current().pid())

    def stop_session(self) -> None:
        if self.spark is None:
            return
        for q in self.spark.streams.active:
            q.stop()
        self.spark.stop()
        self.spark = None

    def shutdown_jvm(self) -> None:
        """Stop the gateway JVM and wait for it and its Python workers."""
        from pyspark import SparkContext

        gw = SparkContext._gateway
        if gw is None:
            return
        children = descendants(self.jvm_pid) if self.jvm_pid else []
        proc = gw.proc
        gw.shutdown()
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
        SparkContext._gateway = SparkContext._jvm = None
        deadline = time.time() + 20
        while children and time.time() < deadline:
            children = [p for p in children if os.path.exists(f"/proc/{p}")]
            time.sleep(0.1)
        for pid in children:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass

    def peak_rss_mb(self) -> float:
        with open(f"/proc/{self.jvm_pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        raise RuntimeError("VmHWM missing from the JVM's status")

    # -------------------------------------------------------- operations
    def run_op(self, key: str, split: bool = False, parent: int | None = None) -> dict:
        """One operation: build, force and fingerprint the result."""
        from gdalos_spark.datamodel import release_query_caches

        stateful = key.startswith(STATEFUL_PREFIXES)
        if stateful:
            outer = self.roots
            self.use_roots("op")
        fn = self.queries[key]
        sid = self.spans.open("op", parent, key=key) if split else None
        rec: dict = {"key": key, "error": None, "span": sid}
        t0 = time.perf_counter()
        try:
            if split:
                b = self.spans.open("build", sid)
                df = fn(self.spark, self.input_dir)
                tb = time.perf_counter()
                self.spans.close(b)
                p = self.spans.open("plan", sid)
                df._jdf.queryExecution().executedPlan()
                tp = time.perf_counter()
                self.spans.close(p)
                e = self.spans.open("exec", sid)
                rows = df.collect()
                self.spans.close(e)
                rec.update(build_s=tb - t0, plan_s=tp - tb,
                           exec_s=time.perf_counter() - tp)
            else:
                df = fn(self.spark, self.input_dir)
                rows = df.collect()
            rec["wall_s"] = time.perf_counter() - t0
            rec["rows"] = len(rows)
            rec["digest"] = digest(df.columns, rows)
        except Exception as exc:  # noqa: BLE001 - a failed op is counted, not fatal
            rec["wall_s"] = time.perf_counter() - t0
            rec["error"] = f"{type(exc).__name__}: {exc}"[:300]
        if sid is not None:
            self.spans.close(sid)
        release_query_caches()
        if split:
            rec["leaked_rdds"] = int(self.spark.sparkContext._jsc.getPersistentRDDs().size())
        if stateful:
            for q in self.spark.streams.active:
                q.stop()
            self.use_roots(outer, fresh=False)
        return rec

    def check(self, rec: dict) -> None:
        self.attempted += 1
        why = rec["error"]
        if why is None and rec["digest"] != self.expected[rec["key"]]:
            why = "output differs from the oracle"
        if why is not None:
            self.failed += 1
            if len(self.failures) < 20:
                self.failures.append(f"{rec['key']}: {why}")

    def load_oracle(self) -> None:
        """Expected result fingerprints from DuckDB on the same input."""
        import glob

        import duckdb

        import __spark_entry__ as entry

        sqls = entry.oracle_sql()
        con = duckdb.connect()
        try:
            con.execute(f"SET threads TO {self.cpus}")
            for p in sorted(glob.glob(os.path.join(self.input_dir, "*.parquet"))):
                name = os.path.basename(p)[: -len(".parquet")]
                con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
            for key in self.wl.keys:
                cur = con.execute(sqls[key])
                self.expected[key] = digest([d[0] for d in cur.description], cur.fetchall())
        finally:
            con.close()

    def run_pass(self, split: bool = False, parent: int | None = None) -> dict:
        pid = self.spans.open("pass", parent) if split else None
        s0 = steal_s()
        ops = [self.run_op(key, split, pid) for key in self.wl.keys]
        if pid is not None:
            self.spans.close(pid)
        # the pass wall is the sum of op walls: fingerprinting and state
        # clean-up between operations are the benchmark's, not the program's
        return {"wall_s": sum(r["wall_s"] for r in ops), "ops": ops,
                "steal_s": steal_s() - s0}

    def timed_passes(self, seconds: float, min_passes: int,
                     split: bool = False, parent: int | None = None) -> list[dict]:
        """Whole passes until ``seconds`` have gone by and at least
        ``min_passes`` are done; every operation is checked."""
        passes = []
        t_end = time.perf_counter() + seconds
        while len(passes) < min_passes or time.perf_counter() < t_end:
            passes.append(self.run_pass(split, parent))
            for rec in passes[-1]["ops"]:
                self.check(rec)
        return passes

    # -------------------------------------------------------------- set-up
    def setup(self) -> dict:
        """Set the program up from a fresh process: start the session,
        stage, load, one untimed pass."""
        from gdalos_spark.datamodel import load

        self.use_roots("setup")
        os.environ["GDALOS_BUCKETED_ROOT"] = os.path.join(self.state_dir, "setup", "bucketed")
        t0 = time.perf_counter()
        self.start_session()
        import __spark_entry__ as entry

        self.queries = entry.queries()
        t1 = time.perf_counter()
        if self.wl.stage:
            from gdalos_spark.sources.bucketed import stage_facts

            stage_facts(self.spark, self.input_dir)
        t2 = time.perf_counter()
        for t in self.wl.tables:
            load(self.spark, self.input_dir, t).count()
        t3 = time.perf_counter()
        first = self.run_pass()
        return {"session_s": t1 - t0, "stage_s": t2 - t1, "load_s": t3 - t2,
                "pass_s": first["wall_s"], "total_s": t3 - t0 + first["wall_s"],
                "ops": first["ops"]}

    def window(self, seconds: float, event_log: str | None = None,
               parent: int | None = None) -> list[dict]:
        """Timed passes in a new session, re-warmed by one untimed pass."""
        self.stop_session()
        self.start_session(event_log=event_log)
        for rec in self.run_pass()["ops"]:
            self.check(rec)
        return self.timed_passes(seconds, min_passes=2, split=bool(event_log), parent=parent)

    # ----------------------------------------------------------------- run
    def run(self) -> dict:
        import bench
        import gen

        args = self.args
        if not set(HEADLINE_PICK) <= set(bench.HEADLINE):
            raise SystemExit("HEADLINE_PICK must be drawn from bench.HEADLINE")
        info: dict = {"workload": args.workload, "seed": args.seed, "cores": self.cpus,
                      "loadavg_start": loadavg()}
        self.configure_env()
        info["input_rows"] = gen.generate(self.input_dir, args.seed, only=self.wl.tables)

        setup = self.setup()
        staged_bytes = du(os.environ["GDALOS_BUCKETED_ROOT"])
        self.load_oracle()
        for rec in setup.pop("ops"):
            self.check(rec)
        info["setup"] = setup
        # the JVM is still compiling after the cold pass: let it settle
        info["warm_passes"] = len(self.timed_passes(WARM_SECONDS, WARM_PASSES))

        run_span = self.spans.open("run", None, workload=args.workload, seed=args.seed)
        if args.trace:
            # untraced, traced, untraced: a drift over the window cancels
            log_dir = fresh_dir(os.path.join(self.run_dir, "eventlog"))
            untraced = self.window(args.seconds / 4)
            traced = self.window(args.seconds / 2, event_log=log_dir, parent=run_span)
            untraced += self.window(args.seconds / 4)
        else:
            c0 = host_snapshot(self.spark)
            # three passes at least, so the median pass is robust to one outlier
            untraced = self.timed_passes(args.seconds, min_passes=3)
            c1 = host_snapshot(self.spark)
            info["window"] = {k: c1[k] - c0[k] for k in c0}
        peak_mb = self.peak_rss_mb()
        self.spans.close(run_span)
        self.stop_session()
        self.shutdown_jvm()
        info.update(loadavg_end=loadavg(), failures=self.failures,
                    pass_walls_s=[p["wall_s"] for p in untraced],
                    pass_steal_s=[p["steal_s"] for p in untraced])

        if args.trace:
            metrics = self.per_layer(untraced, traced, setup, staged_bytes, log_dir, info)
        else:
            metrics = end_to_end(untraced, setup["total_s"], peak_mb, info)
        log(json.dumps(info))
        return metrics

    def per_layer(self, untraced, traced, setup, staged_bytes, log_dir, info) -> dict:
        from eventlog import EventLog

        ev = EventLog(log_dir)
        rows = [[op_layers(rec, ev, self.spans) for rec in p["ops"]] for p in traced]
        sums = []
        for ops in rows:
            s = {k: sum(r[k] for r in ops) for k in ops[0] if k != "key"}
            s["datamodel.leaked_rdds"] = max(r["datamodel.leaked_rdds"] for r in ops)
            sums.append(s)
        out = {k: statistics.median(s[k] for s in sums) for k in sums[0]}
        out["operators.build_share"] = out["operators.build_s"] / out["wall_s"]
        out["spark.empty_task_ratio"] = (
            out["spark.empty_tasks"] / out["spark.tasks"] if out["spark.tasks"] else 0.0)
        out["sources.stage_s"] = setup["stage_s"]
        out["sources.staged_bytes"] = staged_bytes
        out["datamodel.load_s"] = setup["load_s"]
        traced_s = statistics.median(p["wall_s"] for p in traced)
        untraced_s = statistics.median(p["wall_s"] for p in untraced)
        out["trace.overhead_s"] = traced_s - untraced_s
        info.update(traced_pass_s=traced_s, untraced_pass_s=untraced_s,
                    traced_pass_walls_s=[p["wall_s"] for p in traced])

        path = os.path.join(ROOT, ".perfbench",
                            f"trace-{self.args.workload}-{self.args.seed}.json")
        with open(path, "w") as fh:
            json.dump({"info": info, "ops": rows, "spans": self.spans.rows}, fh, indent=1)
        log(f"per-op layer rows and spans: {path}")
        for ops in rows:
            for r in ops:
                log("  " + " ".join(f"{k}={v:.4g}" if isinstance(v, float) else f"{k}={v}"
                                    for k, v in r.items()))
        return {k: {"value": out[k], "unit": u} for k, u in PER_LAYER_UNITS.items()}


def op_layers(rec: dict, ev, spans: Spans) -> dict:
    """The per-layer row of one traced operation."""
    op = spans.rows[rec["span"]]
    kids = {s["name"]: s for s in spans.rows if s["parent"] == op["id"]}

    def ms(span: dict) -> tuple[float, float]:
        # a span left open by a failed call ends with its operation
        return span["start"] * 1e3, (span["end"] or op["end"]) * 1e3

    row = {"key": rec["key"], "wall_s": rec["wall_s"]}
    row.update(ev.window(*ms(op)))
    row["spark.empty_task_ratio"] = (
        row["spark.empty_tasks"] / row["spark.tasks"] if row["spark.tasks"] else 0.0)
    row["operators.build_s"] = rec.get("build_s", rec["wall_s"])
    row["operators.build_jobs"] = ev.jobs_in(*ms(kids["build"])) if "build" in kids else 0
    row["operators.build_share"] = row["operators.build_s"] / rec["wall_s"]
    row["spark.plan_s"] = rec.get("plan_s", 0.0)
    row["spark.exec_s"] = rec.get("exec_s", 0.0)
    row["datamodel.leaked_rdds"] = rec["leaked_rdds"]
    return row


def least_disturbed(passes: list[dict]) -> list[dict]:
    """The passes during which other tenants of the host took at most
    MAX_STEAL_RATE of its CPUs, or the MIN_KEPT least disturbed ones if
    fewer are left. Steal stretches a pass far beyond the CPU it takes:
    a few percent of the host's CPUs stolen slows a pass by a third."""

    def rate(p: dict) -> float:
        return p["steal_s"] / p["wall_s"]

    kept = [p for p in passes if rate(p) <= MAX_STEAL_RATE]
    return kept if len(kept) >= MIN_KEPT else sorted(passes, key=rate)[:MIN_KEPT]


def end_to_end(passes: list[dict], setup_s: float, peak_mb: float, info: dict) -> dict:
    passes = least_disturbed(passes)
    info["kept_passes"] = len(passes)
    by_key: dict[str, list[float]] = {}
    for p in passes:
        for r in p["ops"]:
            if r["error"] is None:
                by_key.setdefault(r["key"], []).append(r["wall_s"])
    lat = [x for v in by_key.values() for x in v]
    if not lat:
        raise SystemExit("every timed operation failed")
    info["op_samples"] = len(lat)
    values = {
        "setup_s": setup_s,
        "pass_s": statistics.median(p["wall_s"] for p in passes),
        "op_p50_s": statistics.median(lat),
        "geomean_op_s": math.exp(statistics.fmean(
            math.log(statistics.median(v)) for v in by_key.values())),
        "peak_rss_mb": peak_mb,
    }
    return {k: {"value": values[k], "unit": u} for k, u in END_TO_END_UNITS.items()}


def _deadline(signum, frame):
    raise TimeoutError(f"run exceeded {DEADLINE_S} s")


def main() -> int:
    ap = argparse.ArgumentParser(description="gdalos_spark closed-loop benchmark")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    for name in ("__spark_entry__.py", "bench.py", "gdalos_spark", "tests"):
        if not os.path.exists(os.path.join(ROOT, name)):
            log(f"program not found: {os.path.join(ROOT, name)}")
            return 2
    sys.path[:0] = [HERE, ROOT]
    signal.signal(signal.SIGALRM, _deadline)
    signal.alarm(DEADLINE_S)
    # The JVM and Python workers inherit fd 1: point it at stderr so the
    # result line stays the last line of standard output.
    result_fd = os.dup(1)
    os.dup2(2, 1)
    bench = Bench(args, WORKLOADS[args.workload])
    try:
        metrics = bench.run()
    finally:
        try:
            bench.stop_session()
            bench.shutdown_jvm()
        finally:
            shutil.rmtree(bench.run_dir, ignore_errors=True)
    signal.alarm(0)
    result = {"correct": bench.failed == 0, "attempted": bench.attempted,
              "failed": bench.failed, "metrics": metrics}
    os.write(result_fd, (json.dumps(result) + "\n").encode())
    return 0


if __name__ == "__main__":
    sys.exit(main())
