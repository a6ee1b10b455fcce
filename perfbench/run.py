"""perfbench: layered benchmark of the engine's read and write paths.

    python3 perfbench/run.py --workload canary --seed 1 --seconds 5 --trace 0

Runs one workload (``canary`` or ``scd2_pipeline``, see README.md) in a
closed loop with one client on ``local[nproc]``, checks every output, and
prints as its last stdout line one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones, measured with
tracing off; with ``--trace 1`` they are the per-layer ones from an extra
traced pass.  The line before it records the host (``nproc``,
``SPARK_GRAFT_CPUS``, Spark version), the failures and workload detail.
Exits non-zero when any operation failed or produced a wrong result.

All files the run writes live under ``.bench_work/`` at the checkout root
and are removed when it ends.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: end-to-end metrics (``--trace 0``) and their units
END_TO_END_UNITS = {
    "setup_s": "s",
    "ops_per_s": "1/s",
    "op_p50_s": "s",
    "peak_rss_mb": "MB",
}


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--workload", required=True, choices=("canary", "scd2_pipeline"))
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args(argv)

    from harness import Context, cpu_ticks, hd_median, host_record, nproc, prepare_env

    ticks = cpu_ticks()
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    prepare_env(work)
    sys.path.insert(1, ROOT)
    ctx = Context(seed=args.seed, seconds=args.seconds, trace=bool(args.trace), work=work)
    try:
        import canary
        import scd2

        outcome = {"canary": canary.run, "scd2_pipeline": scd2.run}[args.workload](ctx)
        if ctx.trace:
            from eventlog import parse_file
            from tracing import PER_LAYER_UNITS, event_log_file, layer_metrics

            cpus = os.environ["SPARK_GRAFT_CPUS"]
            values = layer_metrics(
                outcome.tracer, parse_file(event_log_file(ctx.event_dir)),
                int(cpus) if cpus.isdigit() else nproc(), outcome.layers,
            )
            metrics = {k: {"value": values[k], "unit": u} for k, u in PER_LAYER_UNITS.items()}
    finally:
        shutil.rmtree(work, ignore_errors=True)

    rec, lat = ctx.rec, outcome.latencies
    if not ctx.trace:
        values = {
            "setup_s": outcome.setup_s,
            "ops_per_s": len(lat) / sum(lat) if lat else 0.0,
            "op_p50_s": hd_median(lat),
            "peak_rss_mb": rec.peak_rss_mb,
        }
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END_UNITS.items()}
    failed = len(rec.failures)
    print(json.dumps({
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "host": host_record(ticks),
        "error_rate": failed / rec.attempted if rec.attempted else 1.0,
        "failures": rec.failures[:20],
        "detail": outcome.detail,
    }))
    print(json.dumps({
        "correct": failed == 0 and bool(lat),
        "attempted": rec.attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0 if failed == 0 and lat else 1


if __name__ == "__main__":
    sys.exit(main())
