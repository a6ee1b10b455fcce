"""Per-layer tracing from outside the package.

Every layer is measured by timing calls into its public functions; no
package code changes.  The tracer rebinds a function wherever a loaded
package module holds it by name (plan modules do
``from ..catalog import load_table``), so calls made through any of those
names are timed, and restores the originals when it closes.

While tracing, Spark jobs carry the job group ``<operation>#<layer>``
(``setJobGroup``), so the offline event-log parser can attribute jobs,
stages and tasks to the layer that fired them.
"""

from __future__ import annotations

import functools
import os
import sys
import time
from collections import defaultdict
from collections.abc import Callable
from typing import Any

from harness import dir_bytes

PACKAGE = "gcp_de_data_pipeline_cc_spark"


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.seconds: dict[str, float] = defaultdict(float)
        self.counts: dict[str, float] = defaultdict(float)
        self.op = ""
        self.layer = ""
        self._depth = 0
        self._patches: list[tuple[object, str, object]] = []

    # --- job groups -----------------------------------------------------
    def enter(self, op: str, layer: str) -> None:
        self.op, self.layer = op, layer
        group = f"{op}#{layer}"
        self.sc.setJobGroup(group, group)

    def clear(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)

    # --- rebinding --------------------------------------------------------
    def rebind(self, original: Callable, wrapper: Callable) -> None:
        """Replace ``original`` by ``wrapper`` in every loaded package
        module that holds it under its own name."""
        for mod in list(sys.modules.values()):
            name = getattr(mod, "__name__", "") or ""
            if name.startswith(PACKAGE) and getattr(mod, original.__name__, None) is original:
                self._patches.append((mod, original.__name__, original))
                setattr(mod, original.__name__, wrapper)

    def close(self) -> None:
        for mod, attr, original in reversed(self._patches):
            setattr(mod, attr, original)
        self._patches.clear()
        self.clear()

    def timed_layer(self, metric: str, original: Callable) -> Callable:
        """Wrapper timing ``original`` as ``metric`` (outermost call only,
        so nested catalog calls are not counted twice) under its own job
        group."""

        @functools.wraps(original)
        def wrapper(*args, **kwargs):
            if self._depth:
                return original(*args, **kwargs)
            outer = self.layer
            self._depth += 1
            self.enter(self.op, metric)
            t0 = time.perf_counter()
            try:
                return original(*args, **kwargs)
            finally:
                self.seconds[metric] += time.perf_counter() - t0
                self.counts[metric + ".calls"] += 1
                self._depth -= 1
                self.enter(self.op, outer)

        self.rebind(original, wrapper)
        return wrapper

    def marker(self, layer: str, original: Callable) -> None:
        """Wrapper that moves the current operation into ``layer`` when
        ``original`` is called (pipeline stage boundaries)."""

        @functools.wraps(original)
        def wrapper(*args, **kwargs):
            if self.layer != layer:
                self.switch(layer)
            return original(*args, **kwargs)

        self.rebind(original, wrapper)

    # --- stage clock ------------------------------------------------------
    def start(self, op: str, layer: str) -> None:
        self._since = time.perf_counter()
        self.enter(op, layer)

    def switch(self, layer: str) -> None:
        now = time.perf_counter()
        self.seconds[f"stage.{self.layer}"] += now - self._since
        self._since = now
        self.enter(self.op, layer)

    def stop(self) -> None:
        self.seconds[f"stage.{self.layer}"] += time.perf_counter() - self._since
        self.clear()

    # --- Catalyst ---------------------------------------------------------
    def catalyst(self, df) -> None:
        """Plan ``df`` now and add its analysis / optimization / planning
        phase times (``QueryExecution.tracker``)."""
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        phases = qe.tracker().phases()
        for phase in ("analysis", "optimization", "planning"):
            if phases.contains(phase):
                self.seconds[f"catalyst.{phase}"] += phases.apply(phase).durationMs() / 1000.0


def trace_catalog(tracer: Tracer) -> None:
    from gcp_de_data_pipeline_cc_spark import catalog

    tracer.timed_layer("catalog.load_table", catalog.load_table)
    tracer.timed_layer("catalog.fan_out", catalog.fan_out)


def trace_pipeline(tracer: Tracer) -> None:
    """Stage markers and sink accounting for ``pipeline.run_pipeline``."""
    from gcp_de_data_pipeline_cc_spark import pipeline
    from gcp_de_data_pipeline_cc_spark.operators import quality, scd2
    from gcp_de_data_pipeline_cc_spark.sources import csv_ingest, sink

    tracer.marker("raw", csv_ingest.read_landing_csv)
    tracer.marker("stg", csv_ingest.raw_to_staging)
    for gate in (quality.non_empty, quality.unique_key, quality.referential_integrity, quality.run_gates):
        tracer.marker("gates", gate)
    tracer.marker("curate", pipeline.build_curation_snapshot)
    tracer.marker("curate", scd2.scd2_init)
    tracer.marker("curate", scd2.scd2_apply)
    tracer.marker("archive", pipeline._archive)

    original_write = sink.write_table

    @functools.wraps(original_write)
    def write_table(df, path: str, *args: Any, **kwargs: Any) -> None:
        tracer.catalyst(df)
        original_write(df, path, *args, **kwargs)
        size, files = dir_bytes(path)
        tracer.counts["sink.bytes_written"] += size
        tracer.counts["sink.files_written"] += files

    tracer.rebind(original_write, write_table)


def event_log_file(event_dir: str) -> str:
    names = [n for n in os.listdir(event_dir) if not n.startswith(".")]
    if len(names) != 1:
        raise RuntimeError(f"expected one event log in {event_dir}, found {names}")
    return os.path.join(event_dir, names[0])


#: per-layer metrics (``--trace 1``) and their units; a layer a workload
#: never calls reads 0
PER_LAYER_UNITS = {
    "catalog.load_table.calls": "count",
    "catalog.load_table.s": "s",
    "catalog.load_table.jobs": "count",
    "catalog.fan_out.calls": "count",
    "catalog.fan_out.s": "s",
    "plans.build_s": "s",
    "plans.build_jobs": "count",
    "plans.build_share": "ratio",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "exec.s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.failed_tasks": "count",
    "exec.executor_run_ms": "ms",
    "exec.executor_cpu_ms": "ms",
    "exec.gc_ms": "ms",
    "exec.shuffle_read_bytes": "B",
    "exec.shuffle_write_bytes": "B",
    "exec.spill_bytes": "B",
    "exec.parallel_eff": "ratio",
    "pipeline.raw_s": "s",
    "pipeline.stg_s": "s",
    "pipeline.gates_s": "s",
    "pipeline.curate_s": "s",
    "sources.quarantined_rows": "count",
    "sources.landed_rows_per_s": "rows/s",
    "sink.bytes_written": "B",
    "sink.files_written": "count",
    "sink.stored_bytes_per_input_byte": "ratio",
    "scd2.rows_written_per_changed_row": "ratio",
    "trace.overhead_share": "ratio",
}


def layer_metrics(tracer: Tracer, groups: dict, cpus: int, measured: dict[str, float]) -> dict[str, float]:
    """Per-layer values from the tracer's clocks and the event log's
    job groups (:func:`eventlog.parse`), plus the values a workload
    ``measured`` itself."""
    from eventlog import total

    s, c = tracer.seconds, tracer.counts
    run = total(groups, lambda g: "#" in g)
    out = {
        "catalog.load_table.calls": c["catalog.load_table.calls"],
        "catalog.load_table.s": s["catalog.load_table"],
        "catalog.load_table.jobs": total(groups, lambda g: g.endswith("#catalog.load_table")).jobs,
        "catalog.fan_out.calls": c["catalog.fan_out.calls"],
        "catalog.fan_out.s": s["catalog.fan_out"],
        "plans.build_s": s["plans.build"],
        "plans.build_jobs": total(groups, lambda g: g.endswith("#build")).jobs,
        "plans.build_share": s["plans.build"] / s["op"] if s["op"] else 0.0,
        "catalyst.analysis_ms": s["catalyst.analysis"] * 1000,
        "catalyst.optimization_ms": s["catalyst.optimization"] * 1000,
        "catalyst.planning_ms": s["catalyst.planning"] * 1000,
        "exec.s": run.busy_s,
        "exec.jobs": run.jobs,
        "exec.stages": run.stages,
        "exec.tasks": run.tasks,
        "exec.failed_tasks": run.failed_tasks,
        "exec.executor_run_ms": run.executor_run_ms,
        "exec.executor_cpu_ms": run.executor_cpu_ms,
        "exec.gc_ms": run.gc_ms,
        "exec.shuffle_read_bytes": run.shuffle_read_bytes,
        "exec.shuffle_write_bytes": run.shuffle_write_bytes,
        "exec.spill_bytes": run.spill_bytes,
        "exec.parallel_eff": run.executor_run_ms / (run.busy_s * 1000 * cpus) if run.busy_s else 0.0,
        "pipeline.raw_s": s["stage.raw"],
        "pipeline.stg_s": s["stage.stg"],
        "pipeline.gates_s": s["stage.gates"],
        "pipeline.curate_s": s["stage.curate"],
        "sink.bytes_written": c["sink.bytes_written"],
        "sink.files_written": c["sink.files_written"],
        "trace.overhead_share": s["trace.overhead"],
    }
    for name in PER_LAYER_UNITS:
        out[name] = float(measured.get(name, out.get(name, 0.0)))
    return out
