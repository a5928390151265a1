"""``backlog_catchup``: batch catch-up of a NameNode edit-log backlog.

One operation is ``reconcile_batch(read_editlog_binary(...))`` over the
whole backlog, written to the noop sink: binary segment decode, inode
resolution, the directory cascade and the bulk per-inode fold. No
streaming, materialize or operator code runs.
"""

from __future__ import annotations

import statistics
import sys
import time
from pathlib import Path

from gen_backlog import Backlog, write_backlog
from harness import ExecCounters, Tracer, describe

#: 10 segments x 1000 ops. A warm catch-up takes 6-9 s on local[4],
#: most of it per-job fixed cost: a one-segment backlog takes ~6.5 s.
N_SEGS = 10
#: timed catch-ups at least, whatever the window. Set-up is the checked
#: catch-up alone (cold, ~25 s). The JIT still shaves the time for a few
#: more catch-ups: the first timed one runs ~15 % slower than the
#: second; another warm-up catch-up (~9 s) does not fit the run budget
#: (README).
MIN_REPS = 2
#: the timed loop stops here whatever it lacks; a run must end in 180 s
MAX_WINDOW_S = 90


def prepare(seed: int, work: Path) -> Backlog:
    return write_backlog(str(work / "edits"), seed, N_SEGS)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _catchup(spark, glob: str, tracer: Tracer) -> None:
    from hcdc_spark.cdc import reconcile
    from hcdc_spark.sources import editlog

    df = reconcile.reconcile_batch(editlog.read_editlog_binary(spark, glob))
    with tracer.span("reconcile.noop_write"):
        _noop(df)


def _check(spark, book: Backlog) -> tuple[bool, int, int]:
    """Full catch-up collected and compared with the generator's own
    bookkeeping. Returns (ok, file_state rows, error rows)."""
    from pyspark.sql import functions as F

    from hcdc_spark.cdc import reconcile
    from hcdc_spark.sources import editlog

    rows = (
        reconcile.reconcile_batch(editlog.read_editlog_binary(spark, book.glob))
        .select("inode_id", "path", "state", "data_size",
                F.coalesce(F.size("errors"), F.lit(0)).alias("n_err"))
        .collect()
    )
    got = {r.inode_id: (r.path, r.state, r.data_size) for r in rows}
    errs = {r.inode_id: r.n_err for r in rows if r.n_err > 0}
    bad = [i for i in book.expected if got.get(i) != book.expected[i]]
    extra = sorted(set(got) - set(book.expected))
    want_errs = dict.fromkeys(book.error_inodes, 1)
    ok = not bad and not extra and len(rows) == len(got) and errs == want_errs
    if not ok:
        print(f"backlog check failed: {len(bad)} wrong states "
              f"(e.g. {[(i, got.get(i), book.expected[i]) for i in bad[:3]]}),"
              f" {len(extra)} unexpected inodes, error rows "
              f"{sum(errs.values())} vs {len(want_errs)} expected",
              file=sys.stderr)
    return ok, len(rows), sum(errs.values())


def _done(times: dict[str, list[float]], elapsed: float,
          seconds: float) -> bool:
    """The window is over and every kind has its samples. A traced run
    takes fewer untraced catch-ups: it spends time on the other kinds."""
    need = MIN_REPS if len(times) == 1 else 1
    enough = len(times["full"]) >= need and all(times.values())
    return (elapsed >= seconds and enough) or elapsed >= MAX_WINDOW_S


def run(spark, book: Backlog, seconds: float, trace: bool) -> dict:
    from hcdc_spark.cdc import reconcile
    from hcdc_spark.sources import editlog

    tracer = Tracer()
    t_warm = time.perf_counter()
    ok, rows_out, err_rows = _check(spark, book)
    warm_s = time.perf_counter() - t_warm
    attempted, failed = 1, int(not ok)

    counters = ExecCounters(spark) if trace else None
    if trace:
        tracer.wrap(editlog, "read_editlog_binary",
                    "editlog.read_editlog_binary")
        tracer.wrap(reconcile, "reconcile_batch", "reconcile.reconcile_batch")
    # trace runs cycle through these kinds; untraced runs use the first
    kinds = ("full", "traced", "decode", "resolve") if trace else ("full",)
    times: dict[str, list[float]] = {k: [] for k in kinds}
    execs: list[dict] = []
    t_start = time.perf_counter()
    try:
        i = 0
        while not _done(times, time.perf_counter() - t_start, seconds):
            kind = kinds[i % len(kinds)]
            i += 1
            before = counters.snapshot() if kind == "full" and trace else None
            attempted += 1
            tracer.op = i
            tracer.enabled = kind == "traced"
            t0 = time.perf_counter()
            try:
                if kind in ("decode", "resolve"):
                    _noop(editlog.read_editlog_binary(
                        spark, book.glob, resolve=kind == "resolve"))
                else:
                    with tracer.span("op.catchup"):
                        _catchup(spark, book.glob, tracer)
            except Exception as exc:  # noqa: BLE001 -- count, go on
                failed += 1
                print(f"backlog {kind} failed: {exc!r}", file=sys.stderr)
                continue
            finally:
                tracer.enabled = False
            times[kind].append(time.perf_counter() - t0)
            if before is not None:
                execs.append(ExecCounters.delta(before, counters.snapshot()))
    finally:
        tracer.unwrap_all()

    full = times["full"]
    report = {"catchup_s": describe(full) if full else None, "ops": book.n_ops,
              "bytes": book.n_bytes, "warm_s": warm_s}
    out = {"attempted": attempted, "failed": failed, "warm_s": warm_s,
           "report": report, "tracer": tracer}
    med = statistics.median
    if not all(times.values()):
        return out
    if not trace:
        out["metrics"] = {
            "latency_p50_s": (med(full), "s"),
            "throughput_per_s": (book.n_ops * len(full) / sum(full), "1/s"),
        }
        return out
    selft = tracer.self_times()
    dec, res = med(times["decode"]), med(times["resolve"])
    out["metrics"] = {
        "editlog.decode_s": (dec, "s"),
        "editlog.resolve_s": (res - dec, "s"),
        "reconcile.fold_s": (med(full) - res, "s"),
        "reconcile.rows_out": (rows_out, "count"),
        "reconcile.errors": (err_rows, "count"),
        "editlog.span_self_s": (med(selft["editlog.read_editlog_binary"]), "s"),
        "reconcile.span_self_s": (med(selft["reconcile.reconcile_batch"]), "s"),
        "reconcile.action_self_s": (med(selft["reconcile.noop_write"]), "s"),
        "exec.task_s": (med(e["task_s"] for e in execs), "s"),
        "exec.input_bytes": (med(e["input_bytes"] for e in execs), "bytes"),
        "exec.shuffle_write_bytes": (
            med(e["shuffle_write_bytes"] for e in execs), "bytes"),
        "trace.overhead_frac": (med(times["traced"]) / med(full) - 1, "frac"),
    }
    return out
