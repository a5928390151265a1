"""``stream_replicate``: the fused streaming CDC pipeline, closed loop.

``run_cdc_pipeline(..., staging_dir=..., available_now=False)`` runs for
the whole run. One client lands a segment, calls
``processAllAvailable()`` and times it, then lands the next. The lag of
a segment is the time from landing it to the return of that call: by
then its file_state updates are in the state log and its registered,
finalized files are staged with their change_data pointers.

This loads the registry match, the stateful fold, the state-log sink and
materialize. Edit-log decode and the bulk fold do not run.
"""

from __future__ import annotations

import os
import statistics
import sys
import threading
import time
from functools import reduce
from pathlib import Path

from gen_stream import Segment, StreamClient
from harness import ExecCounters, Tracer, describe

#: segments landed before timing starts: the first batch pays for
#: Python worker start-up and code generation (~15 s on local[4]), and
#: the lag keeps falling for about three more before it levels off
WARM_SEGMENTS = 4
#: timed segments at least, whatever the window
MIN_SEGMENTS = 3
#: a segment that is not committed within this many seconds has failed
SEGMENT_TIMEOUT_S = 60
_OVERHEAD_KEYS = ("queryPlanning", "walCommit", "latestOffset", "getBatch",
                  "commitOffsets")


def prepare(seed: int, work: Path) -> StreamClient:
    return StreamClient(str(work), seed)


class _Loop:
    """Lands segments into a running query and times their commits."""

    def __init__(self, query, client: StreamClient):
        self.q = query
        self.client = client
        self.last_batch = -1
        self.landed: list[Segment] = []

    def drive(self, seg: Segment) -> tuple[float, dict] | None:
        """Land ``seg`` and wait for it. Returns (lag, progress of its
        batch), or None when the segment failed: the wait timed out, the
        query died, or its batches did not consume every event."""
        outcome: list[Exception | None] = []

        def wait() -> None:
            try:
                self.q.processAllAvailable()
                outcome.append(None)
            except Exception as exc:  # noqa: BLE001 -- reported below
                outcome.append(exc)

        waiter = threading.Thread(target=wait, daemon=True)
        self.client.stage(seg)
        t0 = time.perf_counter()
        self.client.land(seg)
        self.landed.append(seg)
        waiter.start()
        waiter.join(SEGMENT_TIMEOUT_S)
        lag = time.perf_counter() - t0
        if waiter.is_alive():
            print(f"{seg.name}: not committed in {SEGMENT_TIMEOUT_S} s",
                  file=sys.stderr)
            self.q.stop()
            waiter.join(SEGMENT_TIMEOUT_S)
            return None
        if outcome[0] is not None or self.q.exception() is not None:
            print(f"{seg.name}: query failed: {outcome[0]!r} "
                  f"{self.q.exception()!r}", file=sys.stderr)
            return None
        batches = [p for p in self.q.recentProgress
                   if p["batchId"] > self.last_batch and p["numInputRows"]]
        if batches:
            self.last_batch = batches[-1]["batchId"]
        rows = sum(p["numInputRows"] for p in batches)
        if len(batches) != 1 or rows != len(seg.events):
            print(f"{seg.name}: {len(batches)} batches consumed {rows} of "
                  f"{len(seg.events)} events", file=sys.stderr)
            return None
        return lag, batches[0]


def _bytes_under(root: str, dirname: str) -> int:
    """Bytes of the files below every directory named ``dirname``."""
    total = 0
    for d, _, files in os.walk(root):
        if dirname in Path(d).parts:
            total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


def _install_spans(tracer: Tracer) -> None:
    """Spans around the sink and materialize. Both are resolved from
    their modules when ``run_cdc_pipeline`` is called, so this must run
    before the query starts."""
    from hcdc_spark.cdc import materialize
    from hcdc_spark.streaming import reconciler

    def counted(span, result, args, kwargs) -> None:
        staging_dir = kwargs.get("staging_dir", args[2] if len(args) > 2
                                 else None)
        tag = kwargs.get("batch_tag", args[3] if len(args) > 3 else None)
        span.attrs.update(
            groups=result.n_groups,
            files=result.pointers.count(),
            bytes=_bytes_under(os.path.join(staging_dir, "data"),
                               f"batch={tag}"),
        )

    tracer.wrap(materialize, "materialize", "materialize.materialize",
                after=counted)
    make_sink = reconciler.state_log_sink

    def traced_sink_factory(*args, **kwargs):
        sink = make_sink(*args, **kwargs)

        def traced_sink(batch_df, batch_id):
            with tracer.span("sink.state_log_sink"):
                sink(batch_df, batch_id)

        return traced_sink

    tracer.patch(reconciler, "state_log_sink", traced_sink_factory)


def _check_outputs(spark, client: StreamClient, landed: list[Segment],
                   out_dir: str, staging: str, bad_segments: set[str]) -> bool:
    """Pointers, staged rows and the errors table against the client's
    bookkeeping. Segments whose pointers are missing join
    ``bad_segments``."""
    from pyspark.sql import DataFrame
    from pyspark.sql import functions as F

    from hcdc_spark.cdc import materialize

    ok = True
    expected = set().union(*(s.pointers for s in landed))
    got = [(r.inode_id, r.src_path, r.last_tx_id) for r in
           materialize.change_data(spark, staging).select(
               "inode_id", "src_path", "last_tx_id").collect()]
    for seg in landed:
        if not seg.pointers <= set(got):
            bad_segments.add(seg.name)
    if len(got) != len(set(got)) or set(got) != expected:
        print(f"change_data: {len(got)} pointers, {len(expected)} expected",
              file=sys.stderr)
        ok = False
    # one job for the four current views
    views = [
        materialize.read_entity(spark, staging, d, e)
        .select(F.lit(f"{d}.{e}").alias("entity"))
        for d, e in client.staged
    ]
    staged = dict(
        reduce(DataFrame.unionByName, views).groupBy("entity").count()
        .collect()
    )
    for (domain, entity), by_path in client.staged.items():
        n = staged.get(f"{domain}.{entity}", 0)
        if n != sum(by_path.values()):
            print(f"{domain}.{entity}: {n} staged rows, "
                  f"{sum(by_path.values())} written", file=sys.stderr)
            ok = False
    errors_dir = os.path.join(out_dir, "errors")
    if os.path.isdir(errors_dir) and spark.read.parquet(errors_dir).count():
        print("errors table is not empty", file=sys.stderr)
        ok = False
    return ok


def run(spark, client: StreamClient, seconds: float, trace: bool) -> dict:
    from pyspark.sql import functions as F

    from hcdc_spark.streaming import pipeline

    work = Path(client.source_dir).parent
    out_dir, staging = str(work / "out"), str(work / "staging")
    tracer = Tracer()
    if trace:
        _install_spans(tracer)
    attempted = 0
    t_warm = time.perf_counter()
    query = pipeline.run_cdc_pipeline(
        spark, client.source_dir, out_dir, str(work / "ckpt"), client.rules,
        staging_dir=staging, available_now=False,
    )
    loop = _Loop(query, client)
    warm_s = time.perf_counter() - t_warm
    bad_segments: set[str] = set()
    for _ in range(WARM_SEGMENTS):
        seg = client.next_segment()
        attempted += 1
        r = loop.drive(seg)
        if r is None:
            bad_segments.add(seg.name)
            break
        warm_s += r[0]

    counters = ExecCounters(spark) if trace else None
    lags: list[float] = []
    traced_lags: list[float] = []
    progress: list[dict] = []
    files = 0
    execs: list[dict] = []
    t_start = time.perf_counter()
    i = 0
    try:
        while (not bad_segments and query.isActive
               and (time.perf_counter() - t_start < seconds
                    or len(lags) + len(traced_lags) < MIN_SEGMENTS)):
            seg = client.next_segment()
            traced = trace and i % 2 == 1
            i += 1
            before = counters.snapshot() if trace and not traced else None
            attempted += 1
            tracer.enabled = traced
            tracer.op = i
            try:
                with tracer.span("op.segment") as root:
                    tracer.root = root.id if root else None
                    r = loop.drive(seg)
            finally:
                tracer.enabled = False
                tracer.root = None
            if r is None:
                bad_segments.add(seg.name)
                break
            if traced:
                traced_lags.append(r[0])
                continue
            lags.append(r[0])
            progress.append(r[1])
            files += len(seg.pointers)
            if before is not None:
                execs.append(ExecCounters.delta(before, counters.snapshot()))
    finally:
        query.stop()
        tracer.unwrap_all()

    # ------------------------------------------------ correctness gates
    attempted += 1
    try:
        check_ok = _check_outputs(spark, client, loop.landed, out_dir,
                                  staging, bad_segments)
    except Exception as exc:  # noqa: BLE001 -- an unreadable output fails
        print(f"output check failed: {exc!r}", file=sys.stderr)
        check_ok = False
    check_ok = check_ok and query.exception() is None
    failed = len(bad_segments) + (not check_ok)

    med = statistics.median
    report = {"lag_s": describe(lags) if lags else None, "files": files,
              "warm_s": warm_s,
              "segments": len(loop.landed)}
    out = {"attempted": attempted, "failed": failed, "warm_s": warm_s,
           "report": report, "tracer": tracer}
    spans = [s for s in tracer.spans if s.name == "materialize.materialize"]
    if not lags or (trace and not spans):
        return out
    if not trace:
        out["metrics"] = {
            "latency_p50_s": (med(lags), "s"),
            "throughput_per_s": (files / sum(lags), "1/s"),
        }
        return out
    dur = [p["durationMs"] for p in progress]
    ops = [p["stateOperators"][0] for p in progress]
    selft = tracer.self_times()
    log = spark.read.parquet(os.path.join(out_dir, "file_state_log"))
    matched = log.where(F.col("domain").isNotNull()).count() / log.count()
    out["metrics"] = {
        "stream.add_batch_s": (med(d.get("addBatch", 0) for d in dur) / 1e3,
                               "s"),
        "stream.overhead_s": (med(sum(d.get(k, 0) for k in _OVERHEAD_KEYS)
                                  for d in dur) / 1e3, "s"),
        "state.rows_total": (ops[-1]["numRowsTotal"], "count"),
        "state.rows_updated": (med(o["numRowsUpdated"] for o in ops),
                               "count"),
        "state.update_ms": (med(o["allUpdatesTimeMs"] for o in ops), "ms"),
        "state.commit_ms": (med(o["commitTimeMs"] for o in ops), "ms"),
        "state.memory_bytes": (ops[-1]["memoryUsedBytes"], "bytes"),
        "sink.state_log_s": (med(selft["sink.state_log_sink"]), "s"),
        "materialize.s": (med(s.end - s.start for s in spans), "s"),
        "materialize.groups": (med(s.attrs["groups"] for s in spans),
                               "count"),
        "materialize.files": (med(s.attrs["files"] for s in spans), "count"),
        "materialize.bytes_out": (med(s.attrs["bytes"] for s in spans),
                                  "bytes"),
        "registry.matched_frac": (matched, "frac"),
        "exec.task_s": (med(e["task_s"] for e in execs), "s"),
        "exec.input_bytes": (med(e["input_bytes"] for e in execs), "bytes"),
        "exec.shuffle_write_bytes": (
            med(e["shuffle_write_bytes"] for e in execs), "bytes"),
        "trace.overhead_frac": (med(traced_lags) / med(lags) - 1, "frac"),
    }
    return out
