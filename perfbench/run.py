"""Run one workload of the CDC benchmark and print its result.

    python3 perfbench/run.py --workload backlog_catchup --seed 1 \\
        --seconds 15 --trace 0

Run from the root of a checkout. Inputs are generated from ``--seed``
before Spark starts; the program runs on ``local[nproc]`` through its own
``hcdc_spark.session.get_spark``. The last line of standard output is
one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``
-- the end-to-end metrics of ``BENCHMARK.json`` with ``--trace 0``, its
per-layer metrics with ``--trace 1``. A human-readable report goes to
standard error, and a traced run writes its spans to
``.perfbench/traces/``. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import importlib
import json
import shutil
import sys
import time

from harness import ROOT, STATE, start_spark, stop_spark, work_dir

#: workload name -> module, and the per-layer metric prefixes of the
#: layers that workload never calls (reported as 0)
WORKLOADS = {
    "backlog_catchup": ("backlog", ("stream.", "state.", "sink.",
                                    "materialize.", "registry.")),
    "stream_replicate": ("stream", ("editlog.", "reconcile.")),
}


def _parse(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv: list[str] | None = None) -> int:
    args = _parse(argv)
    spec = ROOT / "BENCHMARK.json"
    if not (ROOT / "hcdc_spark").is_dir() or not spec.is_file():
        print(f"error: {ROOT} holds no hcdc_spark package to benchmark",
              file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    bench = json.loads(spec.read_text())
    mod_name, bypassed = WORKLOADS[args.workload]
    mod = importlib.import_module(mod_name)

    work = work_dir(args.workload)
    try:
        inputs = mod.prepare(args.seed, work)
        t0 = time.perf_counter()
        spark = start_spark(work)
        session_s = time.perf_counter() - t0
        try:
            out = mod.run(spark, inputs, args.seconds, bool(args.trace))
        finally:
            stop_spark(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    setup_s = session_s + out["warm_s"]
    report = dict(out["report"], setup_s=setup_s, session_s=session_s)
    print(json.dumps({"workload": args.workload, "seed": args.seed,
                      "report": report}), file=sys.stderr)
    if args.trace:
        path = (STATE / "traces"
                / f"{args.workload}-seed{args.seed}-{int(time.time())}.json")
        out["tracer"].dump(path)
        print(f"spans: {path}", file=sys.stderr)
    if "metrics" not in out:
        print("error: no operation completed", file=sys.stderr)
        return 1

    measured = dict(out["metrics"])
    if not args.trace:
        measured["setup_s"] = (setup_s, "s")
    wanted = bench["per_layer"] if args.trace else bench["end_to_end"]
    metrics = {}
    for m in wanted:
        name = m["name"]
        if name in measured:
            value, unit = measured[name]
        elif name.startswith(bypassed):
            value, unit = 0, m["unit"]
        else:
            raise KeyError(f"{args.workload} did not measure {name}")
        if unit != m["unit"]:
            raise ValueError(f"{name}: unit {unit} != {m['unit']}")
        metrics[name] = {"value": value, "unit": unit}
    print(json.dumps({
        "correct": out["failed"] == 0,
        "attempted": out["attempted"],
        "failed": out["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
