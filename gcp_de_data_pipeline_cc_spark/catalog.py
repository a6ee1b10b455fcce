"""Table catalog over the warehouse directory.

The reference keeps its warehouse as three BigQuery datasets (raw →
staging → curation, reference dags/config/pipeline_config.yaml:43-46);
here a warehouse is simply a directory of columnar tables, and tiering is
a naming/partitioning convention. In deployment the same code points at
object-store URIs — the connector is a config string, not architecture.

Physical notes for the 100 TB design point:

- Parquet columnar at rest; scans get column pruning + predicate pushdown
  from Catalyst for free (verify via ``df.explain``: ``ReadSchema`` /
  ``PushedFilters``).
- `events.ts` lands as parquet TIMESTAMP(NANOS) which Spark's reader
  maps to LongType under ``spark.sql.legacy.parquet.nanosAsLong``; the
  catalog normalizes it to microsecond TimestampType — the exact
  truncation DuckDB applies, so both engines see identical instants.
"""

from __future__ import annotations

import os
from collections.abc import Callable, Hashable
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, TimestampNTZType

#: every table the test warehouse carries (TESTDATA.md)
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: small dimension tables — always broadcast-eligible in joins. At 100 TB
#: the facts (orders/lineitem/events/documents/embeddings) grow; these stay
#: dimension-sized (region=5, nation=25, supplier/part/customer grow slowly).
DIM_TABLES = frozenset({"region", "nation", "supplier", "part", "customer"})

#: runtime-settable SQL confs the engine's semantics depend on; enforced
#: here so results are correct even on a SparkSession built elsewhere
#: (e.g. the verification driver's own session).
_REQUIRED_SQL_CONFS = {
    # instant semantics must match the oracle engine (naive UTC)
    "spark.sql.session.timeZone": "UTC",
    # events.ts is parquet TIMESTAMP(NANOS); legacy readers need this to
    # scan it at all (as raw longs). Newer readers map nanos natively to
    # TIMESTAMP_NTZ and ignore this conf — load_table normalizes both.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}


def ensure_session_posture(spark: SparkSession) -> None:
    """Idempotently apply the SQL confs correctness depends on."""
    for key, want in _REQUIRED_SQL_CONFS.items():
        if spark.conf.get(key, None) != want:
            spark.conf.set(key, want)


def table_fingerprint(sf_dir: str, name: str) -> tuple:
    """Cheap content fingerprint of one warehouse table: the sorted
    (relative-path, mtime_ns, size) of its parquet file(s).
    :func:`shared` checks it so a table REWRITTEN at the same path
    within one Spark application (the test-suite overwrite pattern)
    triggers a rebuild instead of silently serving frames built on
    stale data."""
    base = os.path.join(sf_dir, f"{name}.parquet")
    entries = []
    if os.path.isdir(base):
        for root, _, files in os.walk(base):
            for fn in sorted(files):
                p = os.path.join(root, fn)
                try:
                    st = os.stat(p)
                except OSError:
                    continue
                entries.append(
                    (os.path.relpath(p, base), st.st_mtime_ns, st.st_size)
                )
    else:
        try:
            st = os.stat(base)
            entries.append((name, st.st_mtime_ns, st.st_size))
        except OSError:
            pass
    return tuple(sorted(entries))


#: (sf_dir, key) -> (applicationId, dep fingerprints, value)
_SHARED: dict[tuple, tuple] = {}


def shared(
    spark: SparkSession,
    sf_dir: str,
    key: Hashable,
    deps: tuple[str, ...],
    build: Callable[[], Any],
) -> Any:
    """Session-shared build: the one memoiser for relations several
    query keys consume (graph backbones, dedup pairs, exact top-k
    baselines, item-CF incidence, per-document quality signals).

    ``key`` names the builder plus its parameters, ``deps`` the
    warehouse tables the result reads, ``build`` is a zero-argument
    callable that keeps its own ``localCheckpoint`` (so the value may
    be a DataFrame, a list or a tuple).  An entry serves only the Spark
    application that built it and only while every dependency's
    :func:`table_fingerprint` is unchanged; otherwise it is rebuilt and
    REPLACED, so stale checkpoints never accumulate."""
    app = spark.sparkContext.applicationId
    fps = tuple(table_fingerprint(sf_dir, t) for t in deps)
    hit = _SHARED.get((sf_dir, key))
    if hit is not None and hit[:2] == (app, fps):
        return hit[2]
    value = build()
    _SHARED[(sf_dir, key)] = (app, fps, value)
    return value


def clear_shared() -> None:
    """Drop every session-shared build (cold-build probes and tests)."""
    _SHARED.clear()


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one warehouse table, normalizing physical quirks.

    Column normalization happens *after* the scan node, so pushdown and
    pruning still reach the parquet reader for every other column.
    """
    ensure_session_posture(spark)
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events":
        df = normalize_event_ts(df)
    return df


def fan_out(df: DataFrame) -> DataFrame:
    """Spread a CPU-heavy narrow relation across the session's full
    parallelism when the upstream scan under-splits (guide §2.5's
    "input skew: one huge unsplittable file … repartition immediately
    after the read").

    Local warehouses are single-row-group parquet files, so a scan
    yields 1–3 tasks and a per-row-expensive projection (format
    parsing, regex batteries, hashing, n-gram explode) serializes on
    one core.  At production split counts the scan already carries
    ≥ defaultParallelism partitions and this is a NO-OP — the check is
    evaluated once at plan-build time, so no exchange is added to the
    100 TB plan.  Round-robin repartition is used (no key: the inputs
    feeding this are deterministic scans, safe under retry per
    SPARK-23207's sort-before-repartition).

    Planning cost (r9 ADVICE): the ``df.rdd.getNumPartitions()`` probe
    forces analysis + physical planning of ``df`` (and file listing at
    the scan) at plan-BUILD time, and freezes a pre-AQE partition
    count.  Both are acceptable exactly because every call site is a
    plan ROOT over a fresh scan (listing is cached per session; the
    pre-AQE count IS the scan split count being tested) — do NOT call
    this inside iterative loops or on deep mid-plan relations.
    """
    sc = df.sparkSession.sparkContext
    n = sc.defaultParallelism
    if df.rdd.getNumPartitions() < n:
        return df.repartition(n)
    return df


def normalize_event_ts(df: DataFrame) -> DataFrame:
    """Normalize ``events.ts`` (parquet TIMESTAMP(NANOS)) to micros
    TimestampType, whichever way the reader surfaced it.

    Legacy readers (``nanosAsLong=true``) produce raw nano longs;
    truncate to micros (integer div — matches DuckDB's ns→us
    truncation). Newer readers map nanos natively to micros
    TIMESTAMP_NTZ; cast to TimestampType — an exact reinterpretation
    under the UTC session timezone — so every consumer (watermarks,
    unix_micros, window ranges) sees one type either way. Works on both
    batch and streaming DataFrames.
    """
    ts_type = df.schema["ts"].dataType
    if isinstance(ts_type, LongType):
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif isinstance(ts_type, TimestampNTZType):
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df

