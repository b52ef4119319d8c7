"""Engine benchmark: one closed-loop client running a workload's mix of
registry queries on a local Spark session.

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 11 --trace 0

A run generates its input tables from the seed, starts the session,
runs every prepare hook of the mix against an empty artifact store and
one untimed warm-up pass, then times a fixed number of whole passes
(each op written to the noop sink; ``--seconds`` sets the number,
``mixes.timed_passes``). Afterwards each query's output is
checked once against its DuckDB oracle. The last stdout line is one
JSON object: ``--trace 0`` reports the end-to-end metrics, ``--trace 1``
the per-layer metrics of a traced run. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import platform
import resource
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

import datagen
import duckdb
import metrics
import mixes
import tracing

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
WATCHDOG_S = 170
YARDSTICK_N = 300_000


def process_start() -> float:
    """Wall-clock time at which this process started."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return time.time() - (uptime - start_ticks / os.sysconf("SC_CLK_TCK"))


def yardstick() -> float:
    """Seconds for a fixed pure-Python loop: ambient host speed."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(YARDSTICK_N):
        acc += i * i % 7
    return time.perf_counter() - t0


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs, from /proc/stat."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:9]]
    return fields[7], sum(fields)


def tree_bytes(path: str, prefixes: tuple[str, ...] = ()) -> int:
    """Bytes of the files under ``path`` (only entries whose top-level
    name starts with one of ``prefixes``, when given)."""
    total = 0
    if not os.path.isdir(path):
        return 0
    for top in os.listdir(path):
        if prefixes and not top.startswith(prefixes):
            continue
        full = os.path.join(path, top)
        if os.path.isfile(full):
            total += os.path.getsize(full)
        for dirpath, _, files in os.walk(full):
            for f in files:
                try:
                    total += os.path.getsize(os.path.join(dirpath, f))
                except OSError:
                    pass
    return total


def file_stamps(path: str) -> dict[str, tuple[int, int]]:
    out = {}
    for dirpath, _, files in os.walk(path):
        for f in files:
            full = os.path.join(dirpath, f)
            try:
                st = os.stat(full)
            except OSError:
                continue
            out[full] = (st.st_size, st.st_mtime_ns)
    return out


def written_bytes(before: dict, after: dict) -> int:
    return sum(s for p, (s, m) in after.items() if before.get(p) != (s, m))


def process_tree(pid: int) -> list[int]:
    """``pid`` and every process descended from it."""
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        try:
            for tid in os.listdir(f"/proc/{p}/task"):
                with open(f"/proc/{p}/task/{tid}/children") as fh:
                    todo.extend(int(c) for c in fh.read().split())
        except OSError:
            continue
    return out


def rss_tree_mb(pid: int) -> float:
    """Sum of peak RSS (VmHWM) of ``pid`` and its descendants, in MB."""
    total_kb = 0
    for p in process_tree(pid):
        with contextlib.suppress(OSError), open(f"/proc/{p}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024


def python_workers_cpu_ms(jvm_pid: int) -> float:
    """CPU time the JVM's Python worker processes (the pyspark daemon
    and the workers it forks) have used so far, in ms: user and system
    time of each live one plus that of the exited workers it reaped.
    Other processes the JVM starts (shell helpers) are not counted."""
    ticks = 0
    for p in process_tree(jvm_pid)[1:]:
        try:
            with open(f"/proc/{p}/stat") as fh:
                comm, rest = fh.read().split("(", 1)[1].rsplit(")", 1)
        except OSError:
            continue
        if comm.startswith("python"):
            # utime stime cutime cstime
            ticks += sum(int(x) for x in rest.split()[11:15])
    return ticks * 1000 / os.sysconf("SC_CLK_TCK")


def mismatch(actual, expected, name: str) -> str | None:
    """None when the frames match the way the project's oracle tests
    compare them (``tests/conftest.py``), else the first difference."""
    from tests.conftest import assert_frames_match

    try:
        assert_frames_match(actual, expected, name)
    except AssertionError as exc:
        return str(exc)
    return None


def sweep_dead_runs() -> None:
    """Remove the work directories of runs whose process is gone (a run
    killed with SIGKILL cannot clean up after itself)."""
    if not os.path.isdir(WORK_ROOT):
        return
    for entry in os.listdir(WORK_ROOT):
        pid = entry.rsplit("-", 1)[-1]
        if pid.isdigit() and not os.path.exists(f"/proc/{pid}"):
            shutil.rmtree(os.path.join(WORK_ROOT, entry), ignore_errors=True)


class Run:
    """One benchmark run in its own work directory."""

    def __init__(self, args: argparse.Namespace) -> None:
        self.args = args
        self.ops = mixes.MIXES[args.workload]
        self.work = os.path.join(WORK_ROOT, f"{args.workload}-{os.getpid()}")
        self.tmp = os.path.join(self.work, "tmp")
        self.store = os.path.join(self.work, "store")
        self.warehouse = os.path.join(self.work, "spark-warehouse")
        self.data = os.path.join(self.work, "data", "bench")
        self.spark = None
        self.jvm_pid: int | None = None
        self.tracer = tracing.Tracer()
        self.probe: tracing.SparkProbe | None = None
        self.records: list[dict] = []
        self.diag: dict[str, object] = {}

    # -- isolation ---------------------------------------------------

    def isolate(self) -> None:
        """Private temp, Spark-local and working directories, so a run
        leaves no file outside its work directory and never inherits an
        earlier run's artifacts."""
        sweep_dead_runs()
        for d in (self.tmp, self.store, os.path.join(self.work, "local")):
            os.makedirs(d, exist_ok=True)
        os.environ["TMPDIR"] = self.tmp
        tempfile.tempdir = self.tmp
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "local")
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        )
        sys.path.insert(0, ROOT)
        # the session's JVM and spark-submit's short-lived launcher JVM
        opts = f"-Djava.io.tmpdir={self.tmp} -XX:-UsePerfData"
        for var in ("SPARK_GRAFT_DRIVER_JAVA_OPTIONS", "SPARK_LAUNCHER_OPTS"):
            prior = os.environ.get(var)
            os.environ[var] = f"{prior} {opts}" if prior else opts
        os.chdir(self.work)

    # -- one op --------------------------------------------------------

    def run_op(self, name: str, phase: str, pass_no: int, traced: bool) -> dict:
        spec = self.registry[name]
        rec = {"name": name, "phase": phase, "pass": pass_no, "traced": traced}
        tracer, probe = self.tracer, self.probe
        tracer.enabled = traced
        tracer.op = len(self.records)
        if traced:
            job0 = probe.next_job()
            py0 = python_workers_cpu_ms(self.jvm_pid)
        t0 = time.perf_counter()
        try:
            df = tracer.call("plans.build", spec.fn, self.spark, self.data)
            t1 = time.perf_counter()
            tracer.call("spark.exec", df.write.format("noop").mode("overwrite").save)
            rec["ok"] = True
        except Exception:  # a failed op is counted, and the loop goes on
            traceback.print_exc(file=sys.stderr)
            df, t1, rec["ok"] = None, time.perf_counter(), False
        t2 = time.perf_counter()
        rec.update(latency=t2 - t0, build=t1 - t0, exec=t2 - t1)
        if traced:
            probe.drain()
            rec["spark"] = probe.jobs(job0, probe.next_job())
            rec["python_ms"] = python_workers_cpu_ms(self.jvm_pid) - py0
            if df is not None:
                rec["catalyst"] = tracing.catalyst_phases(df)
        tracer.enabled = False
        self.spark.catalog.clearCache()
        self.records.append(rec)
        return rec

    # -- phases ----------------------------------------------------------

    def setup(self) -> None:
        t = time.perf_counter()
        # the program's modules; the import itself is part of set-up
        from elt_data4transformation_spark import session
        from elt_data4transformation_spark.plans import REGISTRY, dedup

        self.diag["session.import_s"] = time.perf_counter() - t
        self.registry = REGISTRY
        # the artifact store is anchored beside the package; point it
        # at this run's private store so every run starts empty
        dedup._index_root = lambda: os.path.join(self.store, "dedup_index")
        if self.args.trace:
            tracing.instrument(self.tracer)
        self.diag["heap"] = os.environ.get(
            "SPARK_GRAFT_DRIVER_MEM", session._default_heap()
        )
        t = time.perf_counter()
        self.spark = session.get_spark(
            app_name=f"perfbench-{self.args.workload}", cpus=self.diag["nproc"]
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.diag["session.get_spark_s"] = time.perf_counter() - t
        from pyspark import SparkContext

        self.jvm_pid = SparkContext._gateway.proc.pid
        if self.args.trace:
            self.probe = tracing.SparkProbe(self.spark, self.tracer)
        self.diag["prepare"] = {}
        for name in self.ops:
            prepare = self.registry[name].prepare
            if prepare is not None:
                t = time.perf_counter()
                self.tracer.enabled = bool(self.args.trace)
                self.tracer.op = None
                self.tracer.call("plans.prepare", prepare, self.spark, self.data)
                self.tracer.enabled = False
                self.spark.catalog.clearCache()
                self.diag["prepare"][name] = time.perf_counter() - t
        self.diag["plans.prepare_s"] = sum(self.diag["prepare"].values())
        t = time.perf_counter()
        for name in mixes.pass_order(self.ops, self.args.seed, 0):
            self.run_op(name, "warmup", 0, bool(self.args.trace))
        self.diag["warmup.pass_s"] = time.perf_counter() - t

    def timed(self) -> tuple[metrics.OpLog, list[dict]]:
        """A fixed number of whole passes (``mixes.timed_passes``); a
        traced run alternates traced and untraced passes."""
        log, passes = metrics.OpLog(), []
        n = mixes.timed_passes(self.args.workload, self.args.seconds)
        for pass_no in range(1, n + 1):
            traced = bool(self.args.trace) and pass_no % 2 == 1
            before = yardstick()
            if traced and pass_no == 1:
                stamps = self.write_stamps()
            ticks0 = cpu_ticks()
            t0 = time.perf_counter()
            for name in mixes.pass_order(self.ops, self.args.seed, pass_no):
                rec = self.run_op(name, "timed", pass_no, traced)
                log.record(name, rec["latency"], rec["ok"])
            dt = time.perf_counter() - t0
            ticks1 = cpu_ticks()
            if traced and pass_no == 1:
                self.diag["artifacts.bytes_written"] = written_bytes(
                    stamps, self.write_stamps()
                )
            passes.append(
                {"pass": pass_no, "wall": dt, "traced": traced,
                 "yardstick": (before, yardstick()),
                 "steal": (ticks1[0] - ticks0[0]) / max(1, ticks1[1] - ticks0[1])}
            )
        return log, passes

    def write_stamps(self) -> dict[str, tuple[int, int]]:
        """Size and mtime of every file the program may write: the
        artifact store, the table warehouse and the temp dir."""
        stamps = {}
        for d in (self.store, self.warehouse, self.tmp):
            stamps.update(file_stamps(d))
        return stamps

    def check(self) -> set[str]:
        """Names of the mix's queries whose output differs from their
        DuckDB oracle over the same parquet files (or that raised),
        checked once each."""
        from elt_data4transformation_spark.sources import TABLES

        wrong = set()
        con = duckdb.connect()
        try:
            for t in TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.data}/{t}.parquet'")
            for name in sorted(self.ops):
                spec = self.registry[name]
                try:
                    got = spec.fn(self.spark, self.data).toPandas()
                    why = mismatch(got, con.execute(spec.oracle).df(), name)
                except Exception as exc:  # reported and counted as wrong
                    why = f"raised {exc!r}"
                finally:
                    self.spark.catalog.clearCache()
                if why is not None:
                    wrong.add(name)
                    print(f"# check FAILED {name}: {why}"[:2000])
        finally:
            con.close()
        return wrong

    def stop_spark(self) -> None:
        """Stop the session and wait until its JVM has exited."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            self.diag["session.peak_rss_mb"] = rss_tree_mb(proc.pid) + (
                resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
            )
        self.spark.stop()
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:  # it ignored its closed stdin
                proc.kill()
                proc.wait()
        self.spark = None

    # -- whole run ---------------------------------------------------------

    def execute(self, started: float) -> tuple[dict, int]:
        args = self.args
        self.diag["nproc"] = len(os.sched_getaffinity(0))
        self.isolate()
        t = time.perf_counter()
        input_bytes = datagen.write_tables(self.data, args.seed)
        datagen_s = time.perf_counter() - t
        self.setup()
        setup_s = time.time() - started - datagen_s
        log, passes = self.timed()
        t = time.perf_counter()
        wrong = self.check()
        self.diag["check_s"] = time.perf_counter() - t
        self.diag["versions"] = {
            "spark": self.spark.version,
            "java": self.spark.sparkContext._jvm.System.getProperty("java.version"),
            "python": platform.python_version(),
        }
        self.stop_spark()
        store_bytes = tree_bytes(self.store) + tree_bytes(self.warehouse)
        tmp_left = tree_bytes(self.tmp, ("ckpt_", "stream_mat_"))
        wall = sum(p["wall"] for p in passes)
        e2e = metrics.summarize(log, wall, wrong)
        e2e["setup_s"] = setup_s
        self.report_diagnostics(args, e2e, passes, datagen_s, input_bytes)
        if args.trace:
            values = self.layer_metrics(passes, input_bytes, store_bytes, tmp_left)
            units = LAYER_UNITS
        else:
            values = {k: e2e[k] for k in E2E_UNITS}
            units = E2E_UNITS
        result = {
            "correct": not wrong,
            "attempted": log.attempted,
            "failed": log.failed(wrong),
            "metrics": {k: {"value": values[k], "unit": units[k]} for k in units},
        }
        return result, 0 if not wrong else 1

    def report_diagnostics(self, args, e2e, passes, datagen_s, input_bytes) -> None:
        d = self.diag
        print(
            f"# workload={args.workload} seed={args.seed} seconds={args.seconds} "
            f"trace={args.trace} nproc={d['nproc']} heap={d['heap']} "
            f"versions={json.dumps(d['versions'])}"
        )
        print(
            f"# setup_s={e2e['setup_s']:.3f} (import {d['session.import_s']:.3f}, "
            f"get_spark {d['session.get_spark_s']:.3f}, prepare "
            f"{d['plans.prepare_s']:.3f}, warm-up {d['warmup.pass_s']:.3f}; "
            + "".join(f"prepare {k} {v:.3f}, " for k, v in d["prepare"].items())
            + f"input generation {datagen_s:.3f} s excluded, {input_bytes} bytes)"
        )
        for p in passes:
            y0, y1 = p["yardstick"]
            print(
                f"# pass {p['pass']} wall={p['wall']:.3f}s traced={p['traced']} "
                f"yardstick_before={y0:.4f}s after={y1:.4f}s steal={p['steal']:.3f}"
            )
        per_op: dict[str, list[float]] = {}
        for r in self.records:
            if r["phase"] == "timed":
                per_op.setdefault(r["name"], []).append(r["latency"])
        for name, lat in sorted(per_op.items()):
            print(f"# op {name} latency_s=" + ",".join(f"{t:.3f}" for t in lat))
        n = e2e["samples"]
        print(
            f"# ops_per_s={e2e['ops_per_s']:.4f} 1/s, latency_p50_s="
            f"{e2e['latency_p50_s']:.4f} s, latency_tail_s=p{e2e['tail_percentile']}"
            f" {e2e['latency_tail_s']:.4f} s, samples={n}, error_rate="
            f"{e2e['error_rate']:.4f}, output check {d['check_s']:.3f} s"
        )

    def layer_metrics(self, passes, input_bytes, store_bytes, tmp_left) -> dict:
        recs = self.records
        timed = [r for r in recs if r["phase"] == "timed" and r["traced"]]
        first = [r for r in timed if r["pass"] == 1]
        setup_ops = {i for i, r in enumerate(recs) if r["phase"] == "warmup"}
        first_ops = {i for i, r in enumerate(recs) if r["phase"] == "timed" and r["pass"] == 1}
        timed_ops = {i for i, r in enumerate(recs) if r["phase"] == "timed" and r["traced"]}
        spans = self.tracer.spans
        selfs = tracing.self_times(spans)
        n_first, n_timed = len(first), len(timed)

        def per_first(key: str) -> float:
            return sum(r["spark"][key] for r in first) / n_first

        def spans_in(ops: set, prefix: str) -> list[int]:
            return [
                i for i, s in enumerate(spans)
                if s.name.startswith(prefix) and s.op in ops
            ]

        out = {k: self.diag[k] for k in (
            "session.import_s", "session.get_spark_s", "warmup.pass_s",
            "session.peak_rss_mb", "plans.prepare_s", "artifacts.bytes_written",
        )}
        scope = setup_ops | first_ops | {None}
        checks = spans_in(scope, "operators.artifacts.is_current")
        out["artifacts.builds"] = sum(
            1 for i in spans_in(scope, "operators.artifacts.publish") if spans[i].result
        ) + len(spans_in(scope, "operators.artifacts.swap"))
        out["artifacts.reuse_ratio"] = (
            sum(1 for i in checks if spans[i].result) / len(checks) if checks else 0.0
        )
        builds = [r["build"] for r in timed]
        lat = [r["latency"] for r in timed]
        out["plans.build_s"] = statistics.median(builds)
        out["plans.build_share"] = sum(builds) / sum(lat)
        for phase in ("analysis", "optimization", "planning"):
            out[f"catalyst.{phase}_ms"] = statistics.median(
                r["catalyst"][phase] for r in timed if "catalyst" in r
            )
        out["spark.jobs"] = per_first("jobs")
        out["spark.stages"] = per_first("stages")
        out["spark.tasks"] = per_first("numTasks")
        out["spark.failed_tasks"] = per_first("numFailedTasks")
        out["sources.table_calls"] = len(spans_in(first_ops, "sources.table")) / n_first
        out["spark.input_bytes"] = per_first("inputBytes")
        out["spark.exec_s"] = statistics.median(r["exec"] for r in timed)
        out["spark.shuffle_read_bytes"] = per_first("shuffleReadBytes")
        out["spark.shuffle_write_bytes"] = per_first("shuffleWriteBytes")
        out["spark.spill_bytes"] = per_first("memoryBytesSpilled") + per_first(
            "diskBytesSpilled"
        )
        out["spark.gc_ms"] = sum(r["spark"]["jvmGcTime"] for r in timed) / n_timed
        out["spark.core_busy_ratio"] = sum(
            r["spark"]["executorRunTime"] for r in timed
        ) / 1000 / (sum(r["exec"] for r in timed) * self.diag["nproc"])
        out["python.eval_ms"] = sum(r["python_ms"] for r in timed) / n_timed
        for layer in ("dedup_ops", "vectors", "upsert", "multimodal", "artifacts"):
            prefix = f"operators.{layer}."
            ids = spans_in(timed_ops, prefix)
            out[f"{prefix}self_s"] = sum(selfs[i] for i in ids) / n_timed
            out[f"{prefix}calls"] = len(spans_in(first_ops, prefix)) / n_first
        out["artifacts.bytes_written"] /= n_first
        out["artifacts.store_bytes"] = store_bytes
        out["store_bytes_per_input_byte"] = store_bytes / input_bytes
        progress = [d for op, d in self.probe.progress if op in first_ops]
        out["streaming.triggers"] = len(progress) / n_first
        timed_progress = [d for op, d in self.probe.progress if op in timed_ops]
        for key, name in (
            ("triggerExecution", "trigger_ms"),
            ("addBatch", "add_batch_ms"),
            ("queryPlanning", "query_planning_ms"),
            ("walCommit", "wal_commit_ms"),
        ):
            out[f"streaming.{name}"] = (
                sum(d.get(key, 0) for d in timed_progress) / n_timed
            )
        out["tmp.bytes_left"] = tmp_left
        traced_w = [p for p in passes if p["traced"]]
        plain_w = [p for p in passes if not p["traced"]]
        per_pass = len(self.ops)
        traced_rate = per_pass * len(traced_w) / sum(p["wall"] for p in traced_w)
        plain_rate = per_pass * len(plain_w) / sum(p["wall"] for p in plain_w)
        out["trace.ops_per_s"] = traced_rate
        out["trace.overhead_ratio"] = plain_rate / traced_rate
        return out


E2E_UNITS = {
    "setup_s": "s",
    "ops_per_s": "1/s",
    "latency_p50_s": "s",
    "latency_tail_s": "s",
}

LAYER_UNITS = {
    "session.import_s": "s",
    "session.get_spark_s": "s",
    "warmup.pass_s": "s",
    "session.peak_rss_mb": "MB",
    "plans.prepare_s": "s",
    "artifacts.builds": "count",
    "artifacts.reuse_ratio": "ratio",
    "plans.build_s": "s",
    "plans.build_share": "ratio",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.failed_tasks": "count",
    "sources.table_calls": "count",
    "spark.input_bytes": "bytes",
    "spark.exec_s": "s",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.gc_ms": "ms",
    "spark.core_busy_ratio": "ratio",
    "python.eval_ms": "ms",
    "operators.dedup_ops.self_s": "s",
    "operators.dedup_ops.calls": "count",
    "operators.vectors.self_s": "s",
    "operators.vectors.calls": "count",
    "operators.upsert.self_s": "s",
    "operators.upsert.calls": "count",
    "operators.multimodal.self_s": "s",
    "operators.multimodal.calls": "count",
    "operators.artifacts.self_s": "s",
    "operators.artifacts.calls": "count",
    "artifacts.bytes_written": "bytes",
    "artifacts.store_bytes": "bytes",
    "store_bytes_per_input_byte": "ratio",
    "streaming.triggers": "count",
    "streaming.trigger_ms": "ms",
    "streaming.add_batch_ms": "ms",
    "streaming.query_planning_ms": "ms",
    "streaming.wal_commit_ms": "ms",
    "tmp.bytes_left": "bytes",
    "trace.ops_per_s": "1/s",
    "trace.overhead_ratio": "ratio",
}


def _watchdog(signum, frame):
    raise TimeoutError(f"run exceeded {WATCHDOG_S} s")


def _terminate(signum, frame):
    # unwinds through main's cleanup: the session is stopped, its JVM
    # awaited and the work directory removed before the exit
    raise SystemExit(128 + signum)


def main(argv: list[str] | None = None) -> int:
    started = process_start()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(mixes.MIXES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    signal.signal(signal.SIGALRM, _watchdog)
    signal.signal(signal.SIGTERM, _terminate)
    signal.alarm(WATCHDOG_S)
    run = Run(args)
    code = 2
    try:
        result, code = run.execute(started)
        print(json.dumps(result))
    except Exception:  # any set-up or measuring failure: no result line
        traceback.print_exc()
    finally:
        signal.alarm(0)
        try:
            run.stop_spark()
        finally:
            os.chdir(ROOT)
            shutil.rmtree(run.work, ignore_errors=True)
            with contextlib.suppress(OSError):  # another run's dir is there
                os.rmdir(WORK_ROOT)
    sys.stdout.flush()
    sys.stderr.flush()
    return code


if __name__ == "__main__":
    # exit without waiting on interpreter-shutdown hooks: the session and
    # its JVM are already stopped and awaited above
    os._exit(main())
