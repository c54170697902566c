"""Shared machinery: percentiles, work space, host-fit resources, the
server subprocess, HTTP clients and the result line."""

from __future__ import annotations

import http.client
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

# standard percentile levels, lowest first; the helper reports the
# highest one that leaves at least MIN_TAIL samples beyond it
LEVELS = (50.0, 90.0, 95.0, 99.0, 99.9)
MIN_TAIL = 10


def percentile(values, q: float) -> float:
    """Linear-interpolated q-th percentile (0..100) of ``values``."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    k = (len(xs) - 1) * q / 100.0
    lo = math.floor(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def summarize(values, levels=(50.0, 95.0)) -> dict:
    """Percentiles of ``values`` with their sample count ``n`` and
    ``supported``: the highest standard level with at least ten samples
    beyond it (None when even the median lacks them)."""
    n = len(values)
    out = {"n": n}
    for q in levels:
        out[f"p{q:g}"] = percentile(values, q) if n else float("nan")
    supported = None
    for q in LEVELS:
        if n * (1 - q / 100.0) >= MIN_TAIL - 1e-9:
            supported = q
    out["supported"] = supported
    return out


def host_cpus() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


class Task(threading.Thread):
    """``fn(*args)`` in a background thread; ``result()`` waits for it and
    returns its value or raises its exception."""

    def __init__(self, fn, *args):
        super().__init__(daemon=True)
        self._fn, self._args, self._box = fn, args, {}
        self.start()

    def run(self) -> None:
        try:
            self._box["value"] = self._fn(*self._args)
        except BaseException as e:  # re-raised by result()
            self._box["error"] = e

    def result(self):
        self.join()
        if "error" in self._box:
            raise self._box["error"]
        return self._box["value"]


class WorkDir:
    """Per-run scratch space inside the checkout; everything the run
    writes (stores, Spark local dirs, generated tables, logs) lives here
    and is removed by ``close``."""

    def __init__(self, base: str):
        self.path = os.path.join(base, f"run-{os.getpid()}")
        shutil.rmtree(self.path, ignore_errors=True)
        for d in ("spark-local", "tmp"):
            os.makedirs(os.path.join(self.path, d))

    def sub(self, name: str) -> str:
        return os.path.join(self.path, name)

    def env(self, heap: str) -> dict:
        """Environment for a Spark-owning process: all CPUs of the host,
        a heap that fits it, and every temporary file under the run."""
        env = dict(os.environ)
        env["SPARK_GRAFT_CPUS"] = str(host_cpus())
        env["SPARK_GRAFT_DRIVER_MEM"] = heap
        env["SPARK_LOCAL_DIRS"] = self.sub("spark-local")
        env["TMPDIR"] = self.sub("tmp")
        # no hsperfdata file in the system temp dir (a killed JVM leaves it)
        env["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={self.sub('tmp')} -XX:-UsePerfData"
        env["PYTHONDONTWRITEBYTECODE"] = "1"
        return env

    def close(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(self.path))
        except OSError:
            pass


def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out += [int(c) for c in f.read().split()]
    except OSError:
        pass
    return out


def process_tree(pid: int) -> list[int]:
    tree, todo = [], [pid]
    while todo:
        p = todo.pop()
        tree.append(p)
        todo += _children(p)
    return tree


def become_subreaper() -> None:
    """Adopt orphaned descendants. Spark's Python worker daemon leaves the
    JVM's process group and outlives it briefly; as a subreaper this
    process inherits it when its parent dies, so ``stop_descendants``
    finds, stops and reaps it."""
    try:
        import ctypes

        ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)  # PR_SET_CHILD_SUBREAPER
    except (OSError, AttributeError):
        pass


def stop_descendants(timeout_s: float = 60.0) -> None:
    """SIGKILL every process below this one (the server and its JVM, an
    in-process Spark JVM, Python workers) and wait until each has ended."""
    deadline = time.monotonic() + timeout_s
    killed: set[int] = set()
    while True:
        for p in process_tree(os.getpid())[1:]:
            try:
                os.kill(p, signal.SIGKILL)
                killed.add(p)
            except ProcessLookupError:
                pass
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
            children = True
        except ChildProcessError:
            children = False
        # without subreaper rights an orphan is reaped elsewhere: wait
        # for every process killed here to vanish as well
        if not children and not any(os.path.exists(f"/proc/{p}") for p in killed):
            return
        if time.monotonic() > deadline:
            raise RuntimeError(f"processes still running: {sorted(process_tree(os.getpid())[1:])}")
        time.sleep(0.05)


def peak_rss_mb(pid: int) -> float:
    """Sum of the peak resident set (VmHWM) of ``pid`` and its
    descendants — the Python driver plus its Spark JVM."""
    total = 0
    for p in process_tree(pid):
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
        except OSError:
            pass
    return total / 1024.0


class ServerProcess:
    """``python -m logrange_spark.cli serve`` as a separate process
    group, so stopping it also stops its JVM."""

    def __init__(self, root: str, work: WorkDir, heap: str, log_name: str):
        self.log_path = work.sub(log_name)
        self._log = open(self.log_path, "w")
        self.proc = subprocess.Popen(
            [sys.executable, "-m", "logrange_spark.cli", "serve",
             "--root", root, "--port", "0"],
            stdout=subprocess.PIPE, stderr=self._log, env=work.env(heap),
            start_new_session=True, text=True,
        )
        self.port = None

    def wait_ready(self, timeout_s: float = 150.0) -> int:
        box: dict = {}

        def read():
            for line in self.proc.stdout:
                if line.startswith("serving "):
                    box["port"] = int(line.rsplit(":", 1)[1])
                    return

        t = threading.Thread(target=read, daemon=True)
        t.start()
        t.join(timeout_s)
        if "port" not in box:
            raise RuntimeError(f"server did not start; see {self.log_path}: "
                               + self.tail_log())
        self.port = box["port"]
        return self.port

    def tail_log(self, n: int = 600) -> str:
        try:
            with open(self.log_path) as f:
                return f.read()[-n:]
        except OSError:
            return ""

    def peak_rss_mb(self) -> float:
        return peak_rss_mb(self.proc.pid)

    def stop(self) -> None:
        """SIGKILL to the whole group (the server and its JVM), then wait
        for the server. Its store and temporary files live under the run's
        work directory, which the caller removes."""
        try:
            os.killpg(self.proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        self.proc.wait()
        if self.proc.stdout:
            self.proc.stdout.close()
        self._log.close()


class Http:
    """One keep-alive HTTP/1.1 connection (one per client thread)."""

    def __init__(self, port: int, timeout_s: float = 90.0):
        self.conn = http.client.HTTPConnection("127.0.0.1", port, timeout=timeout_s)

    def post(self, path: str, body: dict) -> dict:
        data = json.dumps(body).encode("utf-8")
        self.conn.request("POST", path, body=data,
                          headers={"Content-Type": "application/json"})
        resp = self.conn.getresponse()
        payload = json.loads(resp.read())
        if resp.status != 200:
            raise RuntimeError(f"{path} HTTP {resp.status}: {payload.get('err')}")
        return payload

    def close(self) -> None:
        self.conn.close()


def median(xs) -> float:
    return statistics.median(xs) if xs else float("nan")


class Failures:
    """Failed or wrong operations, by check name; never silenced."""

    def __init__(self):
        self._lock = threading.Lock()
        self.attempted = 0
        self.by_check: dict[str, int] = {}
        self.examples: dict[str, str] = {}

    def attempt(self) -> None:
        with self._lock:
            self.attempted += 1

    def fail(self, check: str, detail: str = "") -> None:
        with self._lock:
            self.by_check[check] = self.by_check.get(check, 0) + 1
            self.examples.setdefault(check, detail[:300])

    @property
    def failed(self) -> int:
        return sum(self.by_check.values())


def report(lines: list[tuple[str, float, str, int | None]]) -> None:
    """Human-readable metric lines: name, value, unit, sample count."""
    for name, value, unit, n in lines:
        ns = "" if n is None else f"  (n={n})"
        print(f"  {name:<34} {value:>14.4f} {unit}{ns}", flush=True)


def result_line(fails: Failures, metrics: dict[str, tuple[float, str]]) -> str:
    return json.dumps({
        "correct": fails.failed == 0,
        "attempted": max(1, fails.attempted),
        "failed": fails.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    })
