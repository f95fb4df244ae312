"""Run-scoped plumbing shared by the workloads: the run directory, child
processes, the Spark session, host facts and the peak-RSS sampler."""

from __future__ import annotations

import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "kinesis_to_opensearch_lambda_spark"
HARD_TIMEOUT_S = 170  # one run, and the longest any child process lives
_T0 = time.time()


def log(msg: str) -> None:
    print(f"# {time.time() - _T0:7.2f}s {msg}", file=sys.stderr, flush=True)


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile (q in [0, 1]) of a non-empty list."""
    xs = sorted(values)
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


class Run:
    """One benchmark run: a fresh directory under the checkout for
    checkpoints, spools, inputs and temp files, and the child processes
    started for it.  ``close()`` stops every child and removes the
    directory."""

    def __init__(self, workload: str, seed: int) -> None:
        self.dir = os.path.join(ROOT, ".perfbench_runs", f"{workload}-{seed}-{os.getpid()}")
        shutil.rmtree(self.dir, ignore_errors=True)
        os.makedirs(self.dir)
        self.tmp = self.path("tmp")
        self.children: list[subprocess.Popen] = []
        self._logs: list = []

    def path(self, *parts: str) -> str:
        p = os.path.join(self.dir, *parts)
        os.makedirs(p, exist_ok=True)
        return p

    def env(self) -> dict[str, str]:
        env = dict(os.environ)
        env["PYTHONPATH"] = os.pathsep.join(
            p for p in (ROOT, env.get("PYTHONPATH")) if p
        )
        env["TMPDIR"] = self.tmp
        return env

    def spawn(self, name: str, module: str, *args: str) -> subprocess.Popen:
        """Start ``python -m module args`` with no inherited stdout, in its
        own session; its stderr goes to a log file in the run directory."""
        err = open(os.path.join(self.dir, f"{name}.log"), "wb")
        self._logs.append(err)
        proc = subprocess.Popen(
            [sys.executable, "-m", module, *args],
            cwd=ROOT,
            env=self.env(),
            stdin=subprocess.DEVNULL,
            stdout=subprocess.DEVNULL,
            stderr=err,
            start_new_session=True,
        )
        self.children.append(proc)
        return proc

    def wait(self, proc: subprocess.Popen, timeout: float, what: str) -> None:
        try:
            rc = proc.wait(timeout)
        except subprocess.TimeoutExpired:
            raise RuntimeError(f"{what} did not finish within {timeout}s") from None
        if rc != 0:
            raise RuntimeError(f"{what} exited with {rc}: {self.child_log(what)}")

    def child_log(self, name: str) -> str:
        try:
            with open(os.path.join(self.dir, f"{name}.log"), errors="replace") as f:
                return f.read()[-2000:]
        except OSError:
            return ""

    def close(self) -> None:
        for proc in self.children:
            if proc.poll() is None:
                proc.terminate()
        for proc in self.children:
            try:
                proc.wait(5)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(5)
        for f in self._logs:
            f.close()
        shutil.rmtree(self.dir, ignore_errors=True)


def read_json_file(path: str, timeout: float, proc: subprocess.Popen | None = None) -> dict:
    """Wait for a JSON file a child writes (atomically, by rename)."""
    deadline = time.time() + timeout
    while not os.path.exists(path):
        if proc is not None and proc.poll() is not None:
            raise RuntimeError(f"child exited with {proc.returncode} before writing {path}")
        if time.time() > deadline:
            raise RuntimeError(f"timed out waiting for {path}")
        time.sleep(0.02)
    with open(path) as f:
        return json.load(f)


def check_package() -> None:
    """The engine must come from this checkout, never from elsewhere."""
    import importlib

    mod = importlib.import_module(PACKAGE)
    where = os.path.dirname(os.path.abspath(mod.__file__))
    if os.path.dirname(where) != ROOT:
        raise ImportError(f"{PACKAGE} imported from {where}, not from {ROOT}")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def start_session(run: Run):
    """The engine's own session factory at local[nproc], with every
    scratch directory inside the run directory."""
    os.environ.update({
        "PYTHONPATH": run.env()["PYTHONPATH"],
        "TMPDIR": run.tmp,
        "SPARK_LOCAL_DIRS": run.path("spark-local"),
    })
    from kinesis_to_opensearch_lambda_spark.session import get_session

    java_opts = f"-Djava.io.tmpdir={run.tmp} -XX:-UsePerfData"
    spark = get_session(
        app_name="perfbench",
        cpus=nproc(),
        extra_conf={
            "spark.driver.extraJavaOptions": java_opts,
            "spark.sql.warehouse.dir": run.path("warehouse"),
            "spark.sql.streaming.numRecentProgressUpdates": "1000",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop the session and wait for its JVM (and so its Python workers)
    to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    try:
        spark.stop()
    finally:
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            if proc is not None:
                if proc.stdin is not None:
                    proc.stdin.close()
                try:
                    proc.wait(15)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait(5)


def host_facts(spark, seed: int) -> dict:
    import pyspark

    return {
        "nproc": nproc(),
        "cpus_effective": spark.sparkContext.defaultParallelism,
        "pyspark": pyspark.__version__,
        "seed": seed,
    }


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:9]]
    return ticks[7], sum(ticks)


def steal_pct(before: tuple[int, int], after: tuple[int, int]) -> float:
    """Share of CPU time the hypervisor gave to other guests in between."""
    total = after[1] - before[1]
    return 100.0 * (after[0] - before[0]) / total if total else 0.0


def jvm_pid() -> int | None:
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def _descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        try:
            for tid in os.listdir(f"/proc/{p}/task"):
                with open(f"/proc/{p}/task/{tid}/children") as f:
                    todo.extend(int(c) for c in f.read().split())
        except OSError:
            pass
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except (OSError, IndexError, ValueError):
        return 0


class RssSampler:
    """Peak summed RSS of the JVM and every process under it (the Python
    workers), sampled every ``interval`` seconds on a daemon thread."""

    def __init__(self, pid: int | None, interval: float = 0.2) -> None:
        self.pid = pid
        self.interval = interval
        self.peak = 0
        self.at_peak: dict = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def sample(self) -> None:
        if self.pid is not None:
            pids = _descendants(self.pid)
            rss = [_rss_bytes(p) for p in pids]
            if sum(rss) > self.peak:
                self.peak = sum(rss)
                self.at_peak = {"jvm_mb": rss[0] / 2**20, "processes": len(pids)}

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def __enter__(self) -> "RssSampler":
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.sample()

    @property
    def peak_mb(self) -> float:
        return self.peak / 2**20
