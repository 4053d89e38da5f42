"""CDC-ingest benchmark: one workload, one seed, one JVM.

    python3 cdcbench/run.py --workload stream_mor_drain --seed 1 --seconds 15 --trace 0

Run from the repository root. The last line of stdout is one JSON object
{"correct", "attempted", "failed", "metrics"}: the end-to-end metrics
with ``--trace 0``, the per-layer metrics with ``--trace 1``. Scratch
files go under ``cdcbench/_work/`` and are removed at exit, except the
traced run's span file ``cdcbench/_work/traces/<workload>-<seed>.json``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

E2E = ["setup_s", "drain_events_per_s", "epoch_latency_s", "change_visible_s",
       "point_read_s", "scan_s", "stored_bytes_per_row"]
UNITS = {"setup_s": "s", "drain_events_per_s": "1/s", "epoch_latency_s": "s",
         "change_visible_s": "s", "point_read_s": "s", "scan_s": "s",
         "stored_bytes_per_row": "bytes/row"}


def main(argv=None) -> int:
    import harness

    t_proc0 = time.perf_counter() - harness.process_age_s()  # perf_counter() at process start
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    import etl_spark  # noqa: F401  (fails fast where the program is absent)

    import workloads
    from spans import Tracer, instrument, layer_metrics, restore

    if args.workload not in workloads.WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}")
    profile = harness.host_profile()
    steal0 = harness.steal_s()
    work = os.path.join(HERE, "_work", f"run-{args.workload}-{os.getpid()}")
    harness.remove_tree(work)
    harness.prepare_env(work, profile)
    tracer = Tracer(enabled=bool(args.trace))
    undo = instrument(tracer) if args.trace else []
    spark = None
    try:
        with tracer.span("session.start"):
            spark = harness.start_spark(work, profile, event_log=bool(args.trace))
        tracer.bind(spark)
        harness.log(t_proc0, f"spark up: {profile}")
        run = workloads.Run(spark=spark, work=work, seed=args.seed, seconds=args.seconds,
                            tracer=tracer, t_proc0=t_proc0)
        workloads.WORKLOADS[args.workload](run)
        harness.log(t_proc0, "timings: " + json.dumps(
            {k: [round(x, 3) for x in v] for k, v in run.ops.times.items()}))
        harness.stop_spark(spark)
        spark = None
        harness.log(t_proc0, f"spark stopped; cpu steal during run {harness.steal_s() - steal0:.2f}s")
        if args.trace:
            metrics = layer_metrics(tracer, os.path.join(work, "eventlog"), run.layer_extra)
            traces = os.path.join(HERE, "_work", "traces")
            os.makedirs(traces, exist_ok=True)
            tracer.dump(os.path.join(traces, f"{args.workload}-{args.seed}.json"))
        else:
            metrics = {k: {"value": float(run.metrics[k]), "unit": UNITS[k]} for k in E2E}
    finally:
        restore(undo)
        if spark is not None:
            harness.stop_spark(spark)
        harness.remove_tree(work)
    bad = [k for k, v in metrics.items() if not math.isfinite(v["value"])]
    if bad:
        print(f"[cdcbench] no measurement for {bad}: every operation of that kind failed",
              file=sys.stderr)
        return 1
    ops = run.ops
    print(json.dumps({"correct": not ops.checks_failed, "attempted": ops.attempted,
                      "failed": ops.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
