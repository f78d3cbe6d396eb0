"""Run context shared by the workloads: host facts, the Spark session's
start and stop, set-up timing, memory high-water marks and output
checks."""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time
from contextlib import contextmanager

from . import eventlog
from .tracing import Tracer

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")
EXPECTED = os.path.join(HERE, "expected.json")
DEFAULT_SEED = 42
# Host-speed control.  The shared 4-core host's speed drifts by 20-40%
# over tens of minutes, which moves every wall time of the program with
# it.  A fixed, program-independent CPU burst (pure Python on every core)
# timed just before the session starts and just after it stops tracks
# that drift; the reported times are scaled to CALIB_REF_S, the burst's
# median on the 4-core reference host, i.e. they are seconds at the
# reference host's usual speed.
CALIB_REF_S = 0.078
CALIB_BURSTS = 5
CALIB_ITERS = 100_000


def host_cores() -> int:
    """CPUs this process may run on (the affinity mask, not the machine)."""
    return len(os.sched_getaffinity(0))


def _vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    raise RuntimeError(f"no VmHWM in /proc/{pid}/status")


def _burn(n: int) -> int:
    """The control work: interpreter-bound dict and string operations,
    then hashing."""
    acc, d = 0, {}
    for i in range(n):
        k = i & 1023
        d[k] = d.get(k, 0) + i
        acc ^= hash(str(i))
    h = hashlib.sha256()
    blob = b"x" * 4096
    for _ in range(n // 20):
        h.update(blob)
    return acc


def _burner() -> None:
    """Control-burst worker: reads iteration counts from standard input,
    one a line, burns for each and answers with a line, until end of
    input."""
    for line in sys.stdin:
        print(_burn(int(line)), flush=True)


def calib_bursts(procs: int, bursts: int, iters: int = CALIB_ITERS) -> list[float]:
    """Wall times of ``bursts`` control bursts: ``procs`` processes each
    doing the same fixed CPU work, started together.  The workers are
    fresh interpreters (this process may hold Spark's threads), warmed
    up by an untimed burst so their start-up is not timed, and waited
    for before this returns."""
    cmd = [sys.executable, "-c", "from perfbench.harness import _burner; _burner()"]
    workers = []
    try:
        for _ in range(procs):
            workers.append(subprocess.Popen(
                cmd, cwd=ROOT, stdin=subprocess.PIPE, stdout=subprocess.PIPE,
                text=True, bufsize=1))
        times = []
        for _ in range(bursts + 1):
            t0 = time.perf_counter()
            for w in workers:
                w.stdin.write(f"{iters}\n")
            for w in workers:
                if not w.stdout.readline():
                    raise RuntimeError(f"control-burst worker {w.pid} exited")
            times.append(time.perf_counter() - t0)
        # the first burst warms the fresh processes up and is not kept
        return times[1:]
    finally:
        for w in workers:
            w.stdin.close()
        for w in workers:
            try:
                w.wait(timeout=30)
            except subprocess.TimeoutExpired:
                w.kill()
                w.wait()
            w.stdout.close()


def dir_bytes(path: str) -> int:
    total = 0
    for base, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(base, f))
    return total


def canonical(value):
    """JSON round trip, so checks compare equal to their stored form."""
    return json.loads(json.dumps(value))


class Bench:
    def __init__(self, workload: str, seed: int, seconds: int, trace: bool,
                 cores: int, t_start: float):
        self.workload, self.seed, self.seconds = workload, seed, seconds
        self.trace, self.cores, self.t_start = trace, cores, t_start
        self.cache = os.path.join(WORK, "inputs")
        self.run_dir = os.path.join(WORK, f"run-{os.getpid()}")
        self.tracer = Tracer(trace)
        self.gen_s = 0.0
        self.calib: list[float] = []
        self.calib_s = 0.0  # time spent in calibration before the first operation
        self.inputs: list[str] = []
        self.setup: dict[str, float] = {}
        self.t_first_op: float | None = None
        self.checks: dict[str, object] = {}
        self.attempted = 0
        self.conflicts: set[str] = set()
        self.spark = None
        self.jvm_pid: int | None = None
        self.app_id: str | None = None
        self.host: dict = {"cores": cores}
        shutil.rmtree(self.run_dir, ignore_errors=True)
        os.makedirs(self.run_dir)
        os.makedirs(self.cache, exist_ok=True)

    # -- timing ------------------------------------------------------------
    def gen(self, fn, *args, **kwargs) -> str:
        """Generate (or load cached) inputs; excluded from ``setup_s``.
        The input directory's name (workload, seed, size) keys the
        stored outputs they are checked against."""
        t0 = time.perf_counter()
        try:
            path = fn(*args, **kwargs)
        finally:
            self.gen_s += time.perf_counter() - t0
        self.inputs.append(os.path.basename(path))
        return path

    def calibrate(self) -> None:
        """Time CALIB_BURSTS control bursts, with Spark idle or stopped;
        excluded from ``setup_s``."""
        t0 = time.perf_counter()
        self.calib += calib_bursts(self.cores, CALIB_BURSTS)
        if self.t_first_op is None:
            self.calib_s += time.perf_counter() - t0

    def slowdown(self) -> float:
        """Host slowness against the reference: median burst time over
        CALIB_REF_S (2.0 means everything runs half as fast)."""
        from .tracing import median

        return median(self.calib) / CALIB_REF_S

    @contextmanager
    def setup_phase(self, name: str):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.setup[name] = self.setup.get(name, 0.0) + time.perf_counter() - t0

    def start_timed(self) -> float:
        now = time.perf_counter()
        if self.t_first_op is None:
            self.t_first_op = now
        return now

    @property
    def setup_s(self) -> float:
        """Wall time from process start to the first timed operation,
        minus input generation and calibration."""
        return self.t_first_op - self.t_start - self.gen_s - self.calib_s

    # -- Spark ---------------------------------------------------------------
    def start_spark(self):
        # Python workers are forked by the JVM, which inherits this
        # environment: without the repo on their path every UDF task
        # fails with ModuleNotFoundError.
        paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
        os.environ["PYTHONPATH"] = os.pathsep.join(paths)
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.run_dir, "spark-local")
        # temporary files (the gateway's connection file, the JVM's
        # java.io.tmpdir) stay inside the run directory too
        tmp = os.path.join(self.run_dir, "tmp")
        os.makedirs(tmp)
        os.environ["TMPDIR"] = tempfile.tempdir = tmp
        if ROOT not in sys.path:
            sys.path.insert(0, ROOT)
        from driftmind_spark.session import get_spark

        conf = {
            "spark.sql.warehouse.dir": os.path.join(self.run_dir, "warehouse"),
            # -XX:-UsePerfData: no hsperfdata file under /tmp
            "spark.driver.extraJavaOptions":
                f"-XX:-UsePerfData -Djava.io.tmpdir={tmp} "
                f"-Dderby.system.home={os.path.join(self.run_dir, 'derby')}",
        }
        if self.trace:
            self.eventlog_dir = os.path.join(self.run_dir, "eventlog")
            os.makedirs(self.eventlog_dir)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.eventlog_dir,
                "spark.eventLog.compress": "false",
            })
        spark = get_spark(master=f"local[{self.cores}]",
                          app_name=f"perfbench-{self.workload}", extra_conf=conf)
        spark.sparkContext.setLogLevel("ERROR")
        self.spark = spark
        self.app_id = spark.sparkContext.applicationId
        self.jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
        import pyspark

        self.host = {
            "cores": self.cores,
            "master": f"local[{self.cores}]",
            "java": str(spark._jvm.java.lang.System.getProperty("java.version")),
            "pyspark": pyspark.__version__,
            "python": sys.version.split()[0],
            "driver_memory": spark.sparkContext.getConf().get("spark.driver.memory"),
        }
        return spark

    def peak_rss_mb(self) -> float:
        """High-water RSS of this driver process plus the Spark JVM."""
        return (_vm_hwm_kb(os.getpid()) + _vm_hwm_kb(self.jvm_pid)) / 1024.0

    def stop_spark(self) -> None:
        """Stop the session, shut the JVM down and wait for it to exit
        (its Python worker daemons exit with it)."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        self.spark.stop()
        self.spark = None
        gateway = SparkContext._gateway
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait(timeout=30)
            SparkContext._gateway = None
            SparkContext._jvm = None

    def events(self) -> list[dict]:
        """The finished event log of this run (traced runs only)."""
        return list(eventlog.events(eventlog.find_log(self.eventlog_dir, self.app_id)))

    # -- output checks -------------------------------------------------------
    def check(self, key: str, value, ok: bool = True) -> None:
        """Record one operation's output for :meth:`verify`.  An operation
        repeated within the run must give the same output each time;
        ``ok=False`` marks an output that is wrong on its face (an empty
        result where rows are due)."""
        value = canonical(value)
        self.attempted += 1
        if not ok or (key in self.checks and self.checks[key] != value):
            self.conflicts.add(key)
        self.checks[key] = value

    def verify(self, record: bool = False) -> list[str]:
        """Compare every recorded output with the outputs stored with the
        benchmark (default seed) and with earlier runs on the same
        inputs; returns the keys that differ."""
        with open(EXPECTED) as f:
            expected_all = json.load(f)
        expected = {}
        if self.seed == DEFAULT_SEED and self.workload in expected_all:
            stored = expected_all[self.workload]
            if stored["inputs"] == self.inputs:
                expected = stored["outputs"]
            elif not record:
                raise RuntimeError(
                    f"{EXPECTED} holds {self.workload} outputs for inputs "
                    f"{stored['inputs']}, this run used {self.inputs}; "
                    "re-record them with --record")
        seen_path = os.path.join(WORK, "checks", "+".join(self.inputs) + ".json")
        seen = {}
        if os.path.exists(seen_path):
            with open(seen_path) as f:
                seen = json.load(f)
        bad = sorted(self.conflicts | {
            k for k, v in self.checks.items()
            if any(k in ref and ref[k] != v for ref in (expected, seen))})
        if not bad:
            os.makedirs(os.path.dirname(seen_path), exist_ok=True)
            with open(seen_path, "w") as f:
                json.dump({**self.checks, **seen}, f, indent=0, sort_keys=True)
        if record:
            if self.seed != DEFAULT_SEED:
                raise ValueError(f"--record stores outputs of the default seed {DEFAULT_SEED}")
            expected_all[self.workload] = {
                "inputs": self.inputs, "outputs": {**expected, **self.checks}}
            with open(EXPECTED, "w") as f:
                json.dump(expected_all, f, indent=1, sort_keys=True)
                f.write("\n")
        return bad

    def close(self) -> None:
        self.stop_spark()
        if self.trace:
            os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
            self.tracer.dump(os.path.join(
                WORK, "traces", f"{self.workload}-s{self.seed}.json"))
        shutil.rmtree(self.run_dir, ignore_errors=True)
