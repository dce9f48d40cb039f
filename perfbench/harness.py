"""Session, measured windows, traced-run bookkeeping and the result.

One ``Bench`` per process. It starts the pinned Spark session, runs a
workload's repeated set-up, its untraced window and, with tracing on,
a traced window whose spans are tagged as Spark job groups and joined
with the job and stage records of the UI's REST API after the window.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time
import urllib.request
from datetime import datetime, timezone

from . import core

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SETUP_REPEATS = 3  # timed set-ups, after one untimed warm-up set-up
# A window runs at least this many units. A unit that outlasts the
# window on a slow host would otherwise leave a one-unit window (only
# first executions) on some runs and two units on others.
MIN_UNITS = 2


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_mb() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def git_commit() -> str:
    try:
        out = subprocess.run(
            ["git", "-C", REPO, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10, check=True,
        )
        return out.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def _rest_time(s: str | None) -> float | None:
    if not s:
        return None
    dt = datetime.strptime(s, "%Y-%m-%dT%H:%M:%S.%f%Z").replace(tzinfo=timezone.utc)
    return dt.timestamp()


class Bench:
    def __init__(self, workload: str, seed: int, seconds: float, traced: bool, workdir: str):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.traced = traced
        self.workdir = workdir
        self.tracer = core.Tracer(False)
        self.samples = core.Samples()
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.layer: dict[str, float] = {}
        self.layer_samples: dict[str, list[float]] = {}
        self.setup_times: list[float] = []
        self.provenance: dict = {}
        self.after_write = None  # traced runs probe the store after each write
        self.spark = None
        self._jvm = None
        self._clock = time.time() - time.perf_counter()

    # -- session ---------------------------------------------------------
    def start_session(self) -> None:
        local = os.path.join(self.workdir, "spark-local")
        tmp = os.path.join(self.workdir, "tmp")
        for d in (local, tmp):
            os.makedirs(d, exist_ok=True)
        inherited_local_dirs = os.environ.get("SPARK_LOCAL_DIRS")
        # Spark prefers SPARK_LOCAL_DIRS over spark.local.dir: pin both
        # so shuffle and spill files stay inside the run directory.
        os.environ["SPARK_LOCAL_DIRS"] = local
        os.environ["TMPDIR"] = tmp
        # the launcher JVM of spark-submit would otherwise write /tmp/hsperfdata_*
        os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        import tempfile

        tempfile.tempdir = tmp
        cpus = nproc()
        driver_mb = min(2048, mem_total_mb() // 4)
        conf = {
            "spark.driver.memory": f"{driver_mb}m",
            "spark.ui.enabled": "true" if self.traced else "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": local,
            "spark.sql.warehouse.dir": os.path.join(self.workdir, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        }
        if self.traced:
            conf.update({
                "spark.ui.retainedJobs": "1000000",
                "spark.ui.retainedStages": "1000000",
                "spark.ui.retainedTasks": "1000",
                "spark.sql.ui.retainedExecutions": "100",
            })
        from lineage_store_database_management_system_spark import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(
            app_name=f"perfbench-{self.workload}", cpus=cpus,
            shuffle_partitions=cpus, extra_conf=conf,
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.layer["session.get_spark_ms"] = (time.perf_counter() - t0) * 1e3
        self._jvm = self.spark.sparkContext._gateway.proc
        self.provenance = {
            "workload": self.workload,
            "seed": self.seed,
            "seconds": self.seconds,
            "trace": int(self.traced),
            "git_commit": git_commit(),
            "nproc": cpus,
            "master": self.spark.sparkContext.master,
            "shuffle_partitions": self.spark.conf.get("spark.sql.shuffle.partitions"),
            "driver_memory": conf["spark.driver.memory"],
            "spark_local_dirs": local,
            "inherited_spark_local_dirs": inherited_local_dirs,
            "ui_enabled": self.traced,
            "python": sys.version.split()[0],
            "data": {},
        }

    def stop_session(self) -> None:
        """Stop Spark and wait for the JVM (and the Python workers it
        forked) to exit."""
        if self.spark is None:
            return
        gw = self.spark.sparkContext._gateway
        self.spark.stop()
        try:
            gw.shutdown()
        finally:
            proc = self._jvm
            if proc is not None:
                if proc.stdin:
                    proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait(timeout=30)
        self.spark = None

    def peak_rss_mb(self) -> float:
        pids = [os.getpid()] + ([self._jvm.pid] if self._jvm else [])
        return core.peak_rss_mb(pids)

    def record_data(self, name: str, path: str) -> None:
        self.provenance["data"][name] = {"path": os.path.relpath(path, REPO), "bytes": os.path.getsize(path)}

    # -- set-up ----------------------------------------------------------
    def repeated_setup(self, build) -> None:
        """Run ``build(root)`` into fresh store roots: once to warm the
        JVM's code paths, then SETUP_REPEATS times timed. The median
        timed wall is ``setup_s``; the workload keeps the last store."""
        times = []
        for i in range(SETUP_REPEATS + 1):
            root = os.path.join(self.workdir, f"store{i}")
            t0 = time.perf_counter()
            build(root)
            times.append(time.perf_counter() - t0)
        self.setup_times = times[1:]
        self.layer_samples = {k: v[1:] for k, v in self.layer_samples.items()}

    def timed(self, name: str, fn):
        """Call ``fn`` and record its wall ms under ``name`` (set-up
        steps, which run before any traced window)."""
        t0 = time.perf_counter()
        out = fn()
        self.layer_samples.setdefault(name, []).append((time.perf_counter() - t0) * 1e3)
        return out

    # -- ops -------------------------------------------------------------
    def span(self, name: str):
        return self.tracer.span(name)

    def op(self, kind: str, cls: str, fn):
        """Time one operation of the mix. Exceptions count as failures
        and return None; the caller checks the returned value against
        its model outside this timed call."""
        self.attempted += 1
        with self.tracer.span(f"op.{kind}"):
            t0 = time.perf_counter()
            try:
                out = fn()
            except Exception as exc:  # noqa: BLE001 - every error is a counted failure
                self.samples.add(cls, kind, time.perf_counter() - t0)
                self.fail(f"{kind}: {type(exc).__name__}: {exc}")
                return None
            self.samples.add(cls, kind, time.perf_counter() - t0)
        if cls == "write" and self.after_write is not None:
            self.after_write(kind)
        return out

    def fail(self, msg: str) -> None:
        self.failed += 1
        if len(self.failures) < 50:
            self.failures.append(msg)

    def check(self, ok: bool, msg: str) -> None:
        """A correctness check outside the timed windows."""
        if not ok:
            self.fail(msg)

    def window(self, step, seconds: float) -> float:
        """Closed loop, one client: call ``step()`` (one unit of the mix)
        until ``seconds`` have passed and at least MIN_UNITS units have
        run. Returns the wall time of the window."""
        t0 = time.perf_counter()
        units = 0
        while units < MIN_UNITS or time.perf_counter() - t0 < seconds:
            step()
            units += 1
        return time.perf_counter() - t0

    # -- tracing -----------------------------------------------------------
    def enable_tracing(self) -> None:
        sc = self.spark.sparkContext

        def tag(group):
            if group is None:
                sc.setLocalProperty("spark.jobGroup.id", None)
            else:
                sc.setJobGroup(group, group)

        self.tracer = core.Tracer(True, tag)

    def disable_tracing(self) -> None:
        if self.tracer.enabled and self.tracer._tag:
            self.tracer._tag(None)
        self.tracer = core.Tracer(False)

    def fetch_jobs(self) -> dict[str, list[dict]]:
        """job group -> jobs with run interval (perf_counter clock) and
        stage bytes, from the UI's REST API."""
        sc = self.spark.sparkContext
        base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

        def get(path):
            with urllib.request.urlopen(base + path, timeout=60) as r:
                return json.load(r)

        stages: dict[int, dict] = {}
        for s in get("/stages"):
            agg = stages.setdefault(s["stageId"], {"input": 0, "shuffle_read": 0, "shuffle_write": 0, "output": 0, "exec_run_ms": 0})
            agg["input"] += s.get("inputBytes", 0)
            agg["shuffle_read"] += s.get("shuffleReadBytes", 0)
            agg["shuffle_write"] += s.get("shuffleWriteBytes", 0)
            agg["output"] += s.get("outputBytes", 0)
            agg["exec_run_ms"] += s.get("executorRunTime", 0)
        out: dict[str, list[dict]] = {}
        for j in get("/jobs"):
            g = j.get("jobGroup")
            if not g:
                continue
            start = _rest_time(j.get("submissionTime"))
            end = _rest_time(j.get("completionTime"))
            if start is None or end is None:
                continue
            st = [stages[i] for i in j.get("stageIds", []) if i in stages]
            out.setdefault(g, []).append({
                "id": j["jobId"],
                "start": start - self._clock,
                "end": end - self._clock,
                "tasks": j.get("numTasks", 0),
                **{k: sum(s[k] for s in st) for k in ("input", "shuffle_read", "shuffle_write", "output")},
            })
        return out

    # -- result ------------------------------------------------------------
    def latency_metrics(self) -> dict:
        """Median and p90 (where reportable) of all ops, reads and writes."""
        out = {}
        for name, samples in (("op", self.samples.all()), ("read", self.samples.of("read")), ("write", self.samples.of("write"))):
            for q in (0.5, 0.9):
                v = core.reportable_percentile(samples, q)
                out[f"{name}_p{round(q * 100)}_ms"] = None if v is None else v * 1e3
        return out

    def ops_per_s(self) -> float:
        busy = sum(self.samples.all())
        return len(self.samples.all()) / busy
