"""Benchmark entry point: one seeded workload, one result line.

    python3 perfbench/run.py --workload search_mix --seed 1 --seconds 10 --trace 0

Run from the root of a checkout (the directory holding `yaii_spark/`).
With --trace 0 the last line of standard output carries the end-to-end
metrics; with --trace 1 it carries the per-layer metrics from a traced
run (Spark event log plus driver-side spans). The line before it is a
report with every number the run produced, including the workload-only
metrics and, in a traced run, its end-to-end numbers (their difference
from an untraced run of the same seed is the tracing overhead).
Details: perfbench/README.md.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import sys  # noqa: E402


def _fmt(metrics: dict) -> dict:
    return {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "yaii_spark", "__init__.py")):
        print("perfbench: run from the repository root (no yaii_spark/ here)", file=sys.stderr)
        return 2
    sys.path.insert(1, root)

    from workloads import WORKLOADS, Workload

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    from eventlog import layer_metrics, parse
    from launch import Session
    from spans import Tracer

    trace = bool(args.trace)
    sess = Session(root, trace)
    tracer = Tracer(trace)
    w = Workload(sess, tracer, args.seed, args.seconds, T_PROCESS)
    try:
        WORKLOADS[args.workload](w)
        e2e = w.metrics(sess.peak_rss_mb())
    finally:
        sess.stop()
    try:
        layers = None
        if trace:
            layers = layer_metrics(
                tracer.spans, parse(sess.event_log()), tracer.counters,
                w.built_text_bytes, sess.start_s, w.table_bytes,
            )
    finally:
        sess.cleanup()

    report = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "timed_s": w.timed_s,
        "queries": {c: len(v) for c, v in w.lat.items()},
        "attempted": w.attempted, "failed": w.failed,
        "end_to_end": _fmt(e2e),
    }
    if layers is not None:
        report["per_layer"] = _fmt(layers)
    print(json.dumps({"report": report}))
    # the result line carries exactly the metrics BENCHMARK.json declares
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        declared = json.load(f)["per_layer" if trace else "end_to_end"]
    measured = layers if trace else e2e
    missing = [m["name"] for m in declared if m["name"] not in measured]
    if missing:
        print(f"perfbench: declared metrics not measured: {missing}", file=sys.stderr)
        return 3
    print(json.dumps({
        "correct": w.failed == 0,
        "attempted": w.attempted,
        "failed": w.failed,
        "metrics": _fmt({m["name"]: measured[m["name"]] for m in declared}),
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
