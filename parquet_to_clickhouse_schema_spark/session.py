"""SparkSession management.

One shared session per process (JVM startup is ~10-20 s; amortize it once,
see BASELINE.md). ``tune`` is idempotent and safe to call on an
externally-created session (the verification driver passes its own session
into every query), so every entry point funnels through it.

Scale notes (the configs are chosen for a real cluster, not just local[32]):
- AQE on: runtime join-strategy switching, partition coalescing and skew-join
  splitting are the main levers at 100 TB where static planning guesses wrong.
- shuffle.partitions sized to cores locally; on a cluster this would be
  2-3x total executor cores (AQE coalesces the excess).
- session timezone pinned to UTC so timestamp semantics are stable across
  engines (DuckDB oracle comparison) and clusters.
- ``nanosAsLong``: Spark has no TIMESTAMP(NANOS) type; the events table is
  written with nanosecond precision, so the reader maps it to raw Int64 and
  sources/io.py reconstructs a microsecond TimestampType column.
"""

from __future__ import annotations

import os
import warnings

from pyspark.errors import PySparkException
from pyspark.sql import SparkSession

_TUNED_CONFS: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # sized to executor memory, NOT forced per-join hints: AQE can still
    # demote any single join when runtime stats exceed it, which is the
    # 100 TB-safe broadcast policy (r9 hint removal, r10 parity: apply it
    # to externally-created sessions too, not just get_spark() builders)
    "spark.sql.autoBroadcastJoinThreshold": "64MB",
    # r18: InferFiltersFromGenerate adds `size(e) > 0 AND e IS NOT NULL`
    # below every explode/posexplode — a pure-pruning rewrite (Generate
    # with outer=false already drops empty/null arrays, so results are
    # identical with or without it). In this engine every exploded array
    # is COMPUTED (shingle/anchor/bucket transforms over text), never a
    # stored column, so the inferred predicate re-evaluates the whole
    # transform once per row just to test emptiness — and filter pushdown
    # then sinks that duplicate evaluation below the repartition into the
    # single-split scan stage, serializing it on one core. Interleaved
    # A/B at sf0.1: q_substring_dup 3.49 -> 1.22 s median, every other
    # bench key neutral (full-suite re-run, OPTIMIZATION_r18.md). The
    # rule only ever pays off when exploding stored arrays with many
    # empties AND a shuffle between scan and explode - a shape this
    # engine does not have.
    "spark.sql.optimizer.excludedRules": (
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"
    ),
}


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


_TUNED_MARKER = "spark.parquet_to_clickhouse_schema.tuned"


def _conf_warn(key: str, exc: PySparkException) -> None:
    warnings.warn(f"tune(): {key} not applied: {exc}", RuntimeWarning, stacklevel=3)


def tune(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable engine defaults ONCE per session.

    tune() is called from hot paths (load_table), so it must not clobber
    confs the user set mid-session — e.g. a test forcing
    autoBroadcastJoinThreshold=-1 to exercise a shuffle join, or an
    operator temporarily lowering a threshold. The marker conf records
    that this session already received the engine defaults; later calls
    are no-ops and user overrides stick.

    A conf the deployment rejects (read-only or static) does not stop the
    others: tune() warns with the conf key named and carries on."""
    try:
        if spark.conf.get(_TUNED_MARKER, None) == "1":
            return spark
    except PySparkException as exc:
        _conf_warn(_TUNED_MARKER, exc)
    for k, v in _TUNED_CONFS.items():
        try:
            if k == "spark.sql.optimizer.excludedRules":
                # ADVICE r18: an embedding application may have configured
                # its own exclusions — append ours instead of clobbering
                existing = spark.conf.get(k, None) or ""
                have = {r.strip() for r in existing.split(",") if r.strip()}
                if v not in have:
                    v = f"{existing},{v}" if existing else v
                elif existing:
                    v = existing
            spark.conf.set(k, v)
        except PySparkException as exc:
            _conf_warn(k, exc)
    try:
        if int(spark.conf.get("spark.sql.shuffle.partitions")) > 4 * default_parallelism():
            spark.conf.set("spark.sql.shuffle.partitions", str(default_parallelism()))
    except PySparkException as exc:
        _conf_warn("spark.sql.shuffle.partitions", exc)
    try:
        spark.conf.set(_TUNED_MARKER, "1")
    except PySparkException as exc:
        _conf_warn(_TUNED_MARKER, exc)
    return spark


def get_spark(app_name: str = "parquet_to_clickhouse_schema_spark") -> SparkSession:
    """Build (or fetch) the shared local session."""
    cpus = default_parallelism()
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", "64MB")
    )
    for k, v in _TUNED_CONFS.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return tune(spark)
