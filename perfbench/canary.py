"""``canary`` workload: the analyst's mixed read path.

The 21 pinned ``bench._CANARY_KEYS`` over one seeded sf0.01 warehouse, one
key at a time (a closed loop with one client), in a seeded order per pass.
Every pass reads the same files, so the session caches fit and hit, and
fixed per-query overhead (schema resolution, Catalyst, job scheduling) is a
large share of each key.

- Set-up: session build plus one warm-up pass that collects every key's
  result and compares it with the key's DuckDB oracle over the same files.
- Timed: whole passes until ``--seconds`` have passed; a key is timed from
  its ``spec.spark()`` call to the end of its noop write.
- Traced (``--trace 1``): one more pass with the layers traced.
"""

from __future__ import annotations

import os
import random
import time
from concurrent.futures import ThreadPoolExecutor

from datagen import write_warehouse
from harness import Context, Outcome, median, session_conf, stop_spark
from tracing import Tracer, trace_catalog

#: ``SPARK_GRAFT_SF_DIR``-style warehouse scale; see README.md for why not sf0.1
SCALE_FACTOR = 0.01


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _traced_key(tracer: Tracer, spark, sf_dir: str, spec) -> None:
    catalog_before = tracer.seconds["catalog.load_table"] + tracer.seconds["catalog.fan_out"]
    tracer.enter(spec.name, "build")
    t0 = time.perf_counter()
    df = spec.spark(spark, sf_dir)
    build = time.perf_counter() - t0
    catalog = tracer.seconds["catalog.load_table"] + tracer.seconds["catalog.fan_out"] - catalog_before
    tracer.seconds["plans.build"] += build - catalog
    tracer.enter(spec.name, "catalyst")
    tracer.catalyst(df)
    tracer.enter(spec.name, "write")
    t1 = time.perf_counter()
    _noop(df)
    tracer.seconds["op"] += build + time.perf_counter() - t1
    tracer.clear()


def run(ctx: Context) -> Outcome:
    import duckdb
    from bench import _CANARY_KEYS
    from gcp_de_data_pipeline_cc_spark.catalog import TABLES
    from gcp_de_data_pipeline_cc_spark.plans import REGISTRY
    from gcp_de_data_pipeline_cc_spark.session import build_session
    from tests.compare import assert_frames_match

    t_inputs = time.perf_counter()
    sf_dir = os.path.join(ctx.work, "sf")
    input_bytes = write_warehouse(sf_dir, ctx.seed, SCALE_FACTOR)
    rng = random.Random(ctx.seed)
    specs = [REGISTRY[k] for k in _CANARY_KEYS]
    rec = ctx.rec

    phases = {"inputs": time.perf_counter() - t_inputs}
    t0 = time.perf_counter()
    spark = build_session(app_name="perfbench-canary", extra_conf=session_conf(ctx.work, ctx.event_dir))
    setup = time.perf_counter() - t0
    tracer = None
    try:
        con = duckdb.connect(config={"threads": 1})
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")

        def check(spec, got) -> None:
            assert_frames_match(got, con.execute(spec.oracle).df(), name=spec.name)

        # oracles run on one thread beside the warm-up pass, which mostly
        # waits on the JVM
        checks = []
        with ThreadPoolExecutor(max_workers=1) as oracle:
            rng.shuffle(specs)
            for spec in specs:
                seconds, got = rec.run(spec.name, lambda: spec.spark(spark, sf_dir).toPandas())
                if seconds is not None:
                    setup += seconds
                    checks.append((spec.name, oracle.submit(check, spec, got)))
            for name, done in checks:
                try:
                    done.result()
                except AssertionError as exc:
                    rec.fail(name, f"oracle mismatch: {exc}")
        con.close()

        key_s: dict[str, list[float]] = {}

        def one_pass(op) -> list[float]:
            rng.shuffle(specs)
            times = []
            for spec in specs:
                seconds, _ = rec.run(spec.name, lambda: op(spec))
                if seconds is not None:
                    times.append(seconds)
                    key_s.setdefault(spec.name, []).append(seconds)
            return times

        def plain(spec) -> None:
            _noop(spec.spark(spark, sf_dir))

        phases["setup"] = time.perf_counter() - t0
        latencies: list[float] = []
        passes, start = 0, time.perf_counter()
        while passes == 0 or time.perf_counter() - start < ctx.seconds:
            last = one_pass(plain)
            latencies += last
            passes += 1
        phases["timed"] = time.perf_counter() - start
        key_p50_s = {k: median(v) for k, v in sorted(key_s.items())}

        if ctx.trace:
            start = time.perf_counter()
            tracer = Tracer(spark)
            trace_catalog(tracer)
            traced = one_pass(lambda spec: _traced_key(tracer, spark, sf_dir, spec))
            tracer.close()
            # bracket the traced pass with untraced ones so warm-up drift cancels
            after = one_pass(plain)
            tracer.seconds["trace.overhead"] = 2 * sum(traced) / (sum(last) + sum(after)) - 1.0
            phases["traced"] = time.perf_counter() - start
    finally:
        if tracer is not None:
            tracer.close()
        t_stop = time.perf_counter()
        stop_spark(spark)
        phases["stop"] = time.perf_counter() - t_stop

    detail = {"keys": len(specs), "passes": passes, "samples": len(latencies),
              "scale_factor": SCALE_FACTOR, "input_bytes": input_bytes, "wall_s": phases,
              "key_p50_s": key_p50_s}
    return Outcome(setup, latencies, detail, tracer=tracer)
