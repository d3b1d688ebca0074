"""Shared plumbing for the benchmark workloads: paths, the SUT
environment, the RSS sampler, order statistics, spans and the result
line.

Everything a run writes lives under ``.perfbench_work/`` (scratch, removed
at the end of the run) and ``.perfbench_out/`` (trace JSON) at the root of
the checkout.
"""

from __future__ import annotations

import contextlib
import json
import math
import os
import shutil
import statistics
import sys
import threading
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
OUT_ROOT = os.path.join(ROOT, ".perfbench_out")

#: the program under test: its package and its `queries()` contract module
PROGRAM_FILES = (
    os.path.join(ROOT, "dnstap2clickhouse_spark", "__init__.py"),
    os.path.join(ROOT, "dnstap2clickhouse_spark", "__main__.py"),
    os.path.join(ROOT, "__spark_entry__.py"),
)

#: every end-to-end metric and its unit, in BENCHMARK.json order
E2E_UNITS = {
    "setup_s": "s",
    "latency_s": "s",
    "latency_tail_s": "s",
}


def program_present() -> bool:
    return all(os.path.isfile(p) for p in PROGRAM_FILES)


def nproc() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def sut_env(work: str) -> None:
    """Point every temp/scratch location of Python, the JVM and Spark
    into ``work`` and pin the SUT to ``local[nproc]``. Must run before
    the first pyspark import."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    # session.py defaults to a 16g heap cap; 4g keeps a shared host safe
    # and is what the workload sizes were chosen under
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "4g")
    # no console progress bars: they interleave with the report lines
    os.environ["PYSPARK_SUBMIT_ARGS"] = "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    jto = os.environ.get("JAVA_TOOL_OPTIONS", "")
    os.environ["JAVA_TOOL_OPTIONS"] = f"{jto} -Djava.io.tmpdir={tmp}".strip()
    import tempfile

    tempfile.tempdir = tmp
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def stop_jvm() -> None:
    """Shut the py4j gateway down and wait for the JVM (and with it the
    Python workers it forked) to exit, so no process of a run outlives
    it. The gateway server exits when its stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def make_work(workload: str) -> str:
    path = os.path.join(WORK_ROOT, f"{workload}-{os.getpid()}")
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def remove_work(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
    with contextlib.suppress(OSError):
        os.rmdir(WORK_ROOT)  # only when no other run is using it


# ------------------------------------------------------------- statistics
def quantile(values, q: float) -> float:
    """Linear-interpolated quantile (numpy's default method)."""
    xs = sorted(values)
    if not xs:
        return 0.0
    pos = (len(xs) - 1) * q
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values) -> float:
    return statistics.median(values) if values else 0.0


def geomean(values) -> float:
    return math.exp(sum(math.log(v) for v in values) / len(values)) if values else 0.0


# ------------------------------------------------------------- RSS sampler
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def tree_rss_bytes(root: int, exclude: set[int]) -> int:
    kids = _children()
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        if pid in exclude:
            continue
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:
            pass
        todo.extend(kids.get(pid, ()))
    return total


class RssSampler:
    """Peak summed RSS of this process tree (this Python process, the JVM and
    its Python workers), sampled every ``period`` seconds. Pids in
    ``exclude`` (the load generator) and their children are left out."""

    def __init__(self, period: float = 0.1) -> None:
        self.period = period
        self.exclude: set[int] = set()
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def start(self) -> RssSampler:
        self._thread.start()
        return self

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(me, self.exclude))
            self._stop.wait(self.period)

    def stop(self) -> float:
        """Stop sampling; returns the peak in MB."""
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, tree_rss_bytes(os.getpid(), self.exclude))
        return self.peak / 2**20


# ------------------------------------------------------------------ spans
class Tracer:
    """In-memory spans: name, layer, start, end, parent, trace id.

    Disabled tracers record nothing and cost one attribute check per
    call; ``add`` takes spans whose times were measured elsewhere (the
    generator's send times, Spark's per-trigger ``durationMs``)."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._next = 1

    def add(
        self,
        name: str,
        layer: str,
        start: float,
        end: float,
        parent: int | None = None,
        trace: str | None = None,
        **attrs,
    ) -> int | None:
        if not self.enabled:
            return None
        sid = self._next
        self._next += 1
        self.spans.append(
            {
                "id": sid,
                "name": name,
                "layer": layer,
                "start": start,
                "end": end,
                "parent": parent,
                "trace": trace,
                "attrs": attrs,
            }
        )
        return sid

    @contextlib.contextmanager
    def span(self, name: str, layer: str, parent: int | None = None, trace: str | None = None, **attrs):
        """Time the enclosed block; yields the span id (None when off)."""
        if not self.enabled:
            yield None
            return
        sid = self.add(name, layer, time.time(), 0.0, parent, trace, **attrs)
        try:
            yield sid
        finally:
            self.spans[sid - 1]["end"] = time.time()

    def self_times(self) -> dict[str, float]:
        """Per layer: sum over its spans of duration minus the part of
        the span's interval its child spans cover."""
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            lo, hi = s["start"], s["end"]
            covered, cur_lo, cur_hi = 0.0, None, None
            for c in sorted(kids.get(s["id"], ()), key=lambda c: c["start"]):
                a, b = max(c["start"], lo), min(c["end"], hi)
                if b <= a:
                    continue
                if cur_hi is None or a > cur_hi:
                    if cur_hi is not None:
                        covered += cur_hi - cur_lo
                    cur_lo, cur_hi = a, b
                else:
                    cur_hi = max(cur_hi, b)
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            out[s["layer"]] = out.get(s["layer"], 0.0) + max(hi - lo - covered, 0.0)
        return out

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "self_time_s": self.self_times()}, f)


# ----------------------------------------------------------------- result
_T0 = time.time()


def log(msg: str) -> None:
    print(f"[perfbench {time.time() - _T0:6.1f}s] {msg}", file=sys.stderr, flush=True)


def emit(correct: bool, attempted: int, failed: int, metrics: dict[str, tuple[float, str]]) -> None:
    """Print every metric as a readable line, then the JSON result as the
    last line of stdout."""
    for name, (value, unit) in metrics.items():
        print(f"{name} = {value:.6g} {unit}")
    print(
        json.dumps(
            {
                "correct": bool(correct),
                "attempted": int(attempted),
                "failed": int(failed),
                "metrics": {
                    n: {"value": float(v), "unit": u} for n, (v, u) in metrics.items()
                },
            }
        ),
        flush=True,
    )
