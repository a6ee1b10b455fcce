"""``scd2_pipeline`` workload: the daily SCD Type 2 load, the write path.

``pipeline.run_pipeline`` over seeded ``Employee.csv`` / ``Department.csv``
landings (:mod:`landings`): CSV ingest → raw and staging parquet → quality
gates → full SCD2 rewrite → swap → archive.  It never calls
``catalog.load_table`` or a plan, so a read-path change should leave it
alone.

- Set-up: session build plus a warm-up sequence of loads into a scratch
  warehouse.
- Timed: sequences of loads, each from an empty warehouse (an initial load
  then daily loads), until ``--seconds`` have passed.
- After every load the curated table is read back with pyarrow and the SCD2
  invariants are checked against the generator; a violation fails the load.
- Traced (``--trace 1``): one more sequence with the pipeline's stages
  traced.
"""

from __future__ import annotations

import os
import shutil
import time

from harness import Context, Outcome, dir_bytes, median, session_conf, stop_spark
from landings import Landings, changed_keys, check_scd2, read_curated
from tracing import Tracer, trace_pipeline

N_EMPLOYEES = 50_000
N_DEPARTMENTS = 200
#: loads per timed sequence: the initial load plus one daily load (the run
#: budget of about a minute per run allows no more after the warm-up)
LOADS_PER_SEQUENCE = 2
#: the warm-up runs the initial and the daily load once each, at full size:
#: on smaller landings the timed loads still ran ~40 % slower (JIT warm-up)
WARMUP_LOADS = 2


def _sequence(ctx: Context, spark, base: str, n_loads: int, label: str,
              tracer: Tracer | None = None) -> list[dict[str, float]]:
    """Run ``n_loads`` loads into an empty warehouse; one record per load
    that completed."""
    from gcp_de_data_pipeline_cc_spark import pipeline

    landing, wh = os.path.join(base, "landing"), os.path.join(base, "warehouse")
    shutil.rmtree(wh, ignore_errors=True)
    gen = Landings(ctx.seed, N_EMPLOYEES, N_DEPARTMENTS)
    previous = None
    loads = []
    for _ in range(n_loads):
        gen.advance()
        expected = gen.expected()
        landed_bytes = gen.write(landing)
        name, day = f"{label}-load{gen.day}", gen.load_date
        if tracer is not None:
            tracer.start(name, "sensor")
        seconds, result = ctx.rec.run(name, lambda: pipeline.run_pipeline(spark, landing, wh, day))
        if tracer is not None:
            tracer.stop()
        shutil.rmtree(os.path.join(base, "archived"), ignore_errors=True)
        if seconds is None:
            break
        curated = read_curated(os.path.join(wh, "cur", pipeline.CURATED_TABLE))
        closed = 0 if previous is None else changed_keys(previous, expected)
        problems = check_scd2(curated, expected, day, closed)
        if problems:
            ctx.rec.fail(name, "SCD2 invariant: " + "; ".join(problems))
        previous = expected
        loads.append({
            "seconds": seconds,
            "landed_rows": gen.landed_rows,
            "landed_bytes": landed_bytes,
            "stored_bytes": dir_bytes(wh)[0],
            "written": result.curated_versions,
            "changed": int((curated["effective_from"] == day).sum() + (curated["effective_to"] == day).sum()),
            "quarantined": sum(result.raw_counts.values()) - sum(result.staging_counts.values()),
        })
    return loads


def _total(loads: list[dict[str, float]], key: str) -> float:
    return float(sum(load[key] for load in loads))


def run(ctx: Context) -> Outcome:
    from gcp_de_data_pipeline_cc_spark.session import build_session

    base = os.path.join(ctx.work, "scd2")
    phases: dict[str, float] = {}
    t0 = time.perf_counter()
    spark = build_session(app_name="perfbench-scd2", extra_conf=session_conf(ctx.work, ctx.event_dir))
    setup = time.perf_counter() - t0
    tracer = None
    try:
        warmup = _sequence(ctx, spark, base, WARMUP_LOADS, "warmup")
        setup += _total(warmup, "seconds")

        phases["setup"] = time.perf_counter() - t0

        timed: list[dict[str, float]] = []
        sequences, start = 0, time.perf_counter()
        while sequences == 0 or time.perf_counter() - start < ctx.seconds:
            sequences += 1
            last = _sequence(ctx, spark, base, LOADS_PER_SEQUENCE, f"seq{sequences}")
            timed += last
        phases["timed"] = time.perf_counter() - start

        traced: list[dict[str, float]] = []
        if ctx.trace:
            start = time.perf_counter()
            tracer = Tracer(spark)
            trace_pipeline(tracer)
            traced = _sequence(ctx, spark, base, LOADS_PER_SEQUENCE, "traced", tracer)
            tracer.close()
            # bracket the traced sequence with untraced ones so warm-up drift cancels
            after = _sequence(ctx, spark, base, LOADS_PER_SEQUENCE, "after")
            untraced = (_total(last, "seconds") + _total(after, "seconds")) / 2
            tracer.seconds["trace.overhead"] = _total(traced, "seconds") / untraced - 1.0
            phases["traced"] = time.perf_counter() - start
    finally:
        if tracer is not None:
            tracer.close()
        t_stop = time.perf_counter()
        stop_spark(spark)
        phases["stop"] = time.perf_counter() - t_stop

    load_s = _total(timed, "seconds")
    landed_rows_per_s = _total(timed, "landed_rows") / load_s if load_s else 0.0
    stored_per_input = median([t["stored_bytes"] / t["landed_bytes"] for t in timed])
    detail = {
        "employees": N_EMPLOYEES, "loads_per_sequence": LOADS_PER_SEQUENCE,
        "sequences": sequences, "samples": len(timed),
        "load_s": [t["seconds"] for t in timed],
        "landed_rows_per_s": landed_rows_per_s,
        "stored_bytes_per_input_byte": stored_per_input,
        "wall_s": phases,
    }
    layers = {
        "sources.landed_rows_per_s": landed_rows_per_s,
        "sink.stored_bytes_per_input_byte": stored_per_input,
    }
    if traced:
        layers["sources.quarantined_rows"] = _total(traced, "quarantined")
        changed = _total(traced, "changed")
        layers["scd2.rows_written_per_changed_row"] = _total(traced, "written") / changed if changed else 0.0
    return Outcome(setup, [t["seconds"] for t in timed], detail, tracer, layers)
