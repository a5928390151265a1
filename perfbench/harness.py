"""Shared machinery of the benchmark: Spark session lifetime, work
directories, order statistics, executor counters and span tracing.

Everything the benchmark writes stays under ``.perfbench/`` at the root
of the checkout: per-run work directories (removed when the run ends)
and the span files of traced runs (kept).
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import subprocess
import threading
import time
import urllib.request
from contextlib import contextmanager
from dataclasses import dataclass, field
from itertools import count
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
STATE = ROOT / ".perfbench"


def work_dir(workload: str) -> Path:
    d = STATE / f"work-{workload}-{os.getpid()}"
    shutil.rmtree(d, ignore_errors=True)
    d.mkdir(parents=True)
    return d


# ------------------------------------------------------------ session


def start_spark(work: Path):
    """The program's own tuned session (``hcdc_spark.session.get_spark``)
    on ``local[nproc]``, with every scratch location inside ``work``.

    The repo goes on the Python workers' PYTHONPATH: the stateful fold
    pickles functions of ``hcdc_spark`` by reference, and a worker that
    cannot import the package fails the batch.
    """
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    # every JVM the launch starts (the launcher too) keeps its temp files
    # and no hsperfdata under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    )
    paths = [str(ROOT)] + [
        p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p
    ]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count() or 4))

    from hcdc_spark.session import get_spark

    spark = get_spark(
        "hcdc-perfbench",
        extra_conf={
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            "spark.driver.extraJavaOptions": f"-Dderby.system.home={tmp}",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


# --------------------------------------------------------- statistics


def describe(values: list[float]) -> dict:
    """Count, quartiles and samples of a timing; past ten samples also
    the highest percentile that has ten samples beyond it."""
    q1, med, q3 = (statistics.quantiles(values, n=4) if len(values) > 1
                   else values * 3)
    out = {"n": len(values), "q1": q1, "median": med, "q3": q3,
           "samples": values}
    if len(values) > 10:
        pct = 100 * (len(values) - 10) / len(values)
        out[f"p{pct:.0f}"] = sorted(values)[len(values) - 11]
    return out


# ---------------------------------------------------- executor counters


class ExecCounters:
    """Cumulative task counters from Spark's status REST API at the
    local driver UI; callers take deltas around a timed phase."""

    def __init__(self, spark):
        sc = spark.sparkContext
        port = (sc.uiWebUrl or "").rsplit(":", 1)[-1]
        self.url = (
            f"http://127.0.0.1:{port}/api/v1/applications/"
            f"{sc.applicationId}/executors"
        )

    def snapshot(self) -> dict[str, float]:
        # task-end events reach the status store asynchronously
        time.sleep(0.3)
        with urllib.request.urlopen(self.url, timeout=10) as resp:
            execs = json.load(resp)
        return {
            "task_s": sum(e["totalDuration"] for e in execs) / 1e3,
            "input_bytes": sum(e["totalInputBytes"] for e in execs),
            "shuffle_write_bytes": sum(e["totalShuffleWrite"] for e in execs),
        }

    @staticmethod
    def delta(before: dict, after: dict) -> dict[str, float]:
        return {k: after[k] - before[k] for k in before}


# ------------------------------------------------------------ tracing


@dataclass
class Span:
    id: int
    parent: int | None
    op: int | None  # spans of one benchmark operation share this id
    name: str
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)


class Tracer:
    """In-memory span recorder around calls into the program's modules.

    ``wrap`` replaces a module attribute that the program resolves at
    call time; while ``enabled`` is false the wrapper only forwards the
    call, so traced and untraced operations can alternate in one run.
    A span opened on a thread with no open span of its own (a streaming
    foreachBatch callback) becomes a child of ``root``, the span of the
    operation the client thread has open.
    """

    def __init__(self):
        self.spans: list[Span] = []
        self.enabled = False
        self.op: int | None = None
        self.root: int | None = None
        self._ids = count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str, parent: int | None = None, **attrs):
        if not self.enabled:
            yield None
            return
        stack = self._local.__dict__.setdefault("stack", [])
        if parent is None:
            parent = stack[-1].id if stack else self.root
        s = Span(next(self._ids), parent, self.op, name, time.perf_counter(),
                 attrs=dict(attrs))
        stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(s)

    def patch(self, module, attr: str, replacement) -> None:
        """Set ``module.attr`` until ``unwrap_all``."""
        self._patches.append((module, attr, getattr(module, attr)))
        setattr(module, attr, replacement)

    def wrap(self, module, attr: str, name: str, after=None) -> None:
        """Record a span around every call of ``module.attr``.
        ``after(span, result, args, kwargs)`` may attach counts to the
        span once it has closed."""
        orig = getattr(module, attr)
        tracer = self

        def traced(*args, **kwargs):
            if not tracer.enabled:
                return orig(*args, **kwargs)
            with tracer.span(name) as s:
                result = orig(*args, **kwargs)
            if after is not None:
                after(s, result, args, kwargs)
            return result

        self.patch(module, attr, traced)

    def unwrap_all(self) -> None:
        for module, attr, orig in reversed(self._patches):
            setattr(module, attr, orig)
        self._patches.clear()

    def self_times(self) -> dict[str, list[float]]:
        """Per span name, each span's duration minus the part of its
        interval that its child spans cover."""
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        out: dict[str, list[float]] = {}
        for s in self.spans:
            covered, cursor = 0.0, s.start
            for c in sorted(children.get(s.id, []), key=lambda c: c.start):
                lo, hi = max(c.start, cursor), min(c.end, s.end)
                if hi > lo:
                    covered += hi - lo
                    cursor = hi
            out.setdefault(s.name, []).append(s.end - s.start - covered)
        return out

    def dump(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps([s.__dict__ for s in self.spans]))
