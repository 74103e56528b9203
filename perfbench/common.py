"""Shared pieces of the benchmark workloads: the run context (work
directory, engine session, tracer), the result record, and small
statistics helpers."""

from __future__ import annotations

import datetime
import math
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: set-ups per run; ``setup_s`` is their median.  Each starts a fresh
#: engine session (the first also starts the JVM).  A third set-up would
#: add 8-12 s to every run of about a minute.
SETUPS = 2

END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "step_p50_s": "s",
    "step_geomean_s": "s",
    "state_mb": "MB",
}


class Context:
    """What a workload needs: its inputs' seed, the run length, a private
    work directory, and the tracer (``None`` when tracing is off)."""

    def __init__(self, workload: str, seed: int, seconds: int, trace: bool, work: str):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.work = work
        self.tracer = None
        if trace:
            from spans import Tracer

            self.tracer = Tracer()
        self.spark = None
        #: set by the workload: the measured epochs or queries as
        #: ``(context id, start, end)``, the count per-layer totals are
        #: divided by (epochs, or passes), and ``fn()`` windows per query
        self.timed_windows: list[tuple[str, float, float]] = []
        self.timed_units = 1
        self.build_windows: dict[str, list[tuple[float, float]]] = {}

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def start_spark(self):
        """A new engine session, with every scratch path inside the work dir
        and the repo on the Python workers' path (the ``cdclog`` data source
        is instantiated in a worker).  After :meth:`stop_spark` this starts
        a fresh session in the same JVM."""
        tmp = self.path("tmp")
        os.makedirs(tmp, exist_ok=True)
        os.environ["TMPDIR"] = tmp
        os.environ["SPARK_LOCAL_DIRS"] = self.path("local")
        paths = os.environ.get("PYTHONPATH", "").split(os.pathsep)
        os.environ["PYTHONPATH"] = os.pathsep.join([ROOT] + [p for p in paths if p and p != ROOT])
        os.environ["SPARK_GRAFT_CPUS"] = str(os.cpu_count() or 1)
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
        conf = {
            "spark.local.dir": self.path("local"),
            "spark.sql.warehouse.dir": self.path("warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.ui.showConsoleProgress": "false",
        }
        if self.tracer is not None:
            os.makedirs(self.path("events"), exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.path("events"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
            self.tracer.install()
        from flink_cdc_log_connectors_spark.session import get_spark

        self.spark = get_spark(f"perfbench-{self.workload}", extra_conf=conf)
        return self.spark

    def peak_rss_mb(self) -> float:
        """VmHWM of the driver JVM plus this Python driver."""
        pids = ["self"]
        try:
            pids.append(str(self.spark._jvm.java.lang.ProcessHandle.current().pid()))
        except Exception:  # noqa: BLE001 — no JVM handle: Python side only
            pass
        total_kb = 0
        for pid in pids:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        return total_kb / 1024.0

    def stop_spark(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None


def adopt_orphans() -> None:
    """Make this process the child subreaper of everything it starts, so a
    grandchild whose parent exits (the Python worker daemon puts itself in a
    process group of its own) is re-parented here and can still be waited
    for.  Linux only; elsewhere a no-op."""
    try:
        import ctypes

        ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)  # PR_SET_CHILD_SUBREAPER
    except (OSError, AttributeError):
        pass


def _descendants() -> list[int]:
    """Pids of every live or unreaped process below this one."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [os.getpid()]
    while todo:
        kids = children.get(todo.pop(), [])
        out += kids
        todo += kids
    return out


def _reap() -> None:
    while True:
        try:
            if os.waitpid(-1, os.WNOHANG)[0] == 0:
                return
        except ChildProcessError:
            return


def stop_processes(grace_s: float = 20.0) -> None:
    """Stop every process the run started and wait until each has ended.

    The engine's JVM exits once its stdin closes; the Python workers it
    started exit when the JVM goes.  Whatever is still alive after a few
    seconds gets SIGTERM, and after ``grace_s`` SIGKILL."""
    import signal

    if not os.path.isdir("/proc"):
        return
    pyspark = sys.modules.get("pyspark")
    proc = getattr(pyspark.SparkContext._gateway, "proc", None) if pyspark else None
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(grace_s)
        except (OSError, subprocess.TimeoutExpired):
            proc.kill()
            proc.wait()
    t0 = time.time()
    while True:
        _reap()
        pids = _descendants()
        if not pids:
            return
        waited = time.time() - t0
        if waited > 2.0:
            sig = signal.SIGKILL if waited > grace_s else signal.SIGTERM
            for pid in pids:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)


class Result:
    """Outcome of one run: units attempted (epochs or queries), failures
    (units that raised, and oracles that failed), oracle verdicts, end-to-end
    and per-layer metrics."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.checks: dict[str, bool] = {}
        self.end_to_end: dict[str, float] = {}
        self.layers: dict[str, tuple[float, str]] = {}
        self.notes: list[str] = []

    def check(self, name: str, ok: bool, detail: str = "") -> None:
        """Record an oracle verdict; a failed oracle counts as a failure."""
        self.checks[name] = bool(ok)
        if not ok:
            self.failed += 1
            self.notes.append(f"oracle {name} FAILED {detail}".rstrip())

    def layer(self, name: str, value: float, unit: str) -> None:
        self.layers[name] = (float(value), unit)

    @property
    def correct(self) -> bool:
        return bool(self.checks) and all(self.checks.values()) and self.failed == 0


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def geomean(xs) -> float:
    xs = [x for x in xs if x > 0]
    return math.exp(sum(math.log(x) for x in xs) / len(xs)) if xs else 0.0


def dir_stats(*paths: str) -> tuple[int, int]:
    """(bytes, files) of every regular file under ``paths``."""
    size = files = 0
    for root in paths:
        for dp, _, fs in os.walk(root):
            for f in fs:
                size += os.path.getsize(os.path.join(dp, f))
                files += 1
    return size, files


def provenance() -> dict:
    try:
        head = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                              text=True, timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        head = "unknown"
    import pyspark

    return {"nproc": os.cpu_count(), "pyspark": pyspark.__version__, "git_head": head,
            "date": datetime.datetime.now(datetime.timezone.utc).isoformat(timespec="seconds"),
            "python": sys.version.split()[0]}


MIX_QUERIES = (
    "q04_count_distinct q05_join_agg q08_wide_agg q09_rollup q10b_running_sum "
    "q14_changelog_materialize q16_tumbling_window text_token_stats "
    "events_session_window_tvf"
).split()

#: spans recorded around program entry points, reported per timed epoch
SPAN_LAYERS = (
    "streaming.joins.process_batch", "streaming.aggregates.process_batch",
    "streaming.statetable.upsert", "streaming.statetable.read",
    "streaming.statetable.read_buckets", "streaming.ttl.stage", "streaming.ttl.finalize",
    "streaming.sink.process_batch", "streaming.sink.compact_epochs",
    "sources.debezium.parse_build",
)

#: every per-layer metric, reported by every workload (0 where the layer
#: does not run); stream figures are per timed epoch, query_mix ones per pass
LAYERS = {
    **{f"{n}_s": "s" for n in SPAN_LAYERS},
    "streaming.joins.self_s": "s",
    "streaming.aggregates.self_s": "s",
    "streaming.statetable.upsert_calls": "count",
    "streaming.statetable.files": "count",
    "streaming.ttl.expired_rows": "count",
    "streaming.sink.folds": "count",
    "stream.rows_per_s": "rows/s",
    "stream.epoch_max_s": "s",
    "engine.source_read_s": "s",
    "engine.offset_log_s": "s",
    "engine.query_planning_s": "s",
    "engine.add_batch_s": "s",
    "spark.jobs_per_epoch": "count",
    "spark.tasks_per_epoch": "count",
    "spark.jobs_per_pass": "count",
    "spark.tasks_per_pass": "count",
    "spark.job_busy_s": "s",
    "spark.driver_gap_s": "s",
    "io.cache_tables_s": "s",
    "caching.release_s": "s",
    "operators.build_s": "s",
    "operators.collect_s": "s",
    **{f"query.{q}_s": "s" for q in MIX_QUERIES},
    **{f"query.{q}.build_jobs": "count" for q in MIX_QUERIES},
    "driver.peak_rss_mb": "MB",
    "trace.pass_s": "s",
    "trace.step_p50_s": "s",
}


def finish_trace(ctx, res) -> None:
    """Per-layer metrics of a traced run, once the session has stopped and
    its event log is complete."""
    from spans import read_jobs, window_jobs

    tr, n = ctx.tracer, ctx.timed_units
    ids = {w[0] for w in ctx.timed_windows}
    for name in SPAN_LAYERS:
        res.layer(f"{name}_s", tr.total(name, ids) / n, "s")
    for name in ("streaming.joins", "streaming.aggregates"):
        res.layer(f"{name}.self_s", tr.self_time(f"{name}.process_batch", ids) / n, "s")
    res.layer("streaming.statetable.upsert_calls",
              tr.count("streaming.statetable.upsert", ids) / n, "count")
    jobs = read_jobs(ctx.path("events"))
    per = [window_jobs(jobs, a, b) for _, a, b in ctx.timed_windows]
    unit = "epoch" if ctx.workload != "query_mix" else "pass"
    res.layer(f"spark.jobs_per_{unit}", sum(p["jobs"] for p in per) / n, "count")
    res.layer(f"spark.tasks_per_{unit}", sum(p["tasks"] for p in per) / n, "count")
    res.layer("spark.job_busy_s", sum(p["busy_s"] for p in per) / n, "s")
    res.layer("spark.driver_gap_s", sum(p["gap_s"] for p in per) / n, "s")
    for q, wins in ctx.build_windows.items():
        counts = [window_jobs(jobs, a, b)["jobs"] for a, b in wins]
        res.layer(f"query.{q}.build_jobs", median(counts), "count")
    res.layer("trace.pass_s", res.end_to_end["pass_s"], "s")
    res.layer("trace.step_p50_s", res.end_to_end["step_p50_s"], "s")
    for k, u in LAYERS.items():
        res.layers.setdefault(k, (0.0, u))
