"""SparkSession construction tuned for this engine.

The reference runs a single-node DLT pipeline (reference:
notebooks/pipeline.json:5-13 — num_workers 0, photon off). We target plain
OSS Spark: local[N] in tests/bench, any cluster in production. All knobs
here are standard Spark SQL configs; nothing proprietary.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Runtime (non-static) confs we also (re-)apply to sessions we did not
#: create, e.g. the harness-provided session in ``__spark_entry__``.
RUNTIME_CONFS = {
    # Deterministic timestamp semantics regardless of host TZ — required
    # for DuckDB-oracle value parity.
    "spark.sql.session.timeZone": "UTC",
    # AQE: runtime shuffle-partition coalescing + skew-join splitting.
    # At 100 TB this is what keeps a static shuffle.partitions choice from
    # being wrong in both directions at once.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Runtime-settable; applied to harness-provided sessions too so the
    # default 200 doesn't drown small-SF shuffles in task overhead (AQE
    # coalesces below it; on a cluster set 2-3x total cores instead).
    "spark.sql.shuffle.partitions": "32",
    # Arrow for any toPandas / pandas_udf exchange.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Spark has no TIMESTAMP(NANOS) type; without this, scanning
    # nanosecond-precision parquet (e.g. pandas-written testdata) throws
    # PARQUET_TYPE_ILLEGAL. With it, nanos columns surface as LongType
    # and sources/testdata.py converts them to micros timestamps
    # (floor-division, matching DuckDB's nanos->micros truncation).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Read parquet timestamps with isAdjustedToUTC=false as TIMESTAMP
    # (LTZ), not TIMESTAMP_NTZ. The session TZ is pinned to UTC above, so
    # the values are identical either way, but LTZ keeps the full function
    # surface (unix_micros, window, watermarks) working and matches the
    # DuckDB oracle's naive-timestamp arithmetic.
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
}


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def default_driver_memory() -> str:
    """``$SPARK_GRAFT_DRIVER_MEM``, else min(16g, half of physical RAM):
    16g on hosts with 32 GB or more, never a heap the host cannot back."""
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env:
        return env
    try:
        phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (AttributeError, OSError, ValueError):  # pragma: no cover - non-POSIX
        return "16g"
    return f"{min(16 << 10, (phys // 2) >> 20)}m"


#: Marker conf recording a shuffle-partitions value chosen explicitly in
#: ``get_spark`` (arg or env). ``apply_runtime_confs`` honors it instead
#: of re-pinning the default, so registry-driven query calls don't
#: silently undo an explicit choice.
_SHUFFLE_PIN_CONF = "spark.db_cdc_poc_spark.shufflePartitionsPin"


def apply_runtime_confs(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable confs to an existing session (driver-owned
    sessions included). Safe: none of these are static SQL confs."""
    try:
        pinned = spark.conf.get(_SHUFFLE_PIN_CONF, None)
    except Exception:  # pragma: no cover - conf access locked down
        pinned = None
    for k, v in RUNTIME_CONFS.items():
        if k == "spark.sql.shuffle.partitions" and pinned is not None:
            v = pinned
        try:
            spark.conf.set(k, v)
        except Exception:  # pragma: no cover - conf locked down
            pass
    return spark


def get_spark(
    app_name: str = "db-cdc-poc-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or fetch) a session sized for local[N] testing.

    ``spark.sql.shuffle.partitions`` defaults to the core count: small
    enough that tiny test inputs don't drown in task overhead, and AQE
    coalesces below it anyway. On a real cluster you'd set this to
    2-3x total cores and let AQE coalesce.
    """
    cpus = cpus or default_parallelism()
    shuffle = shuffle_partitions or int(
        os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", str(cpus))
    )
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.driver.memory", default_driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", "128m")
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    # the explicit/env-derived value wins over RUNTIME_CONFS' default —
    # recorded as a pin so later apply_runtime_confs calls keep it
    spark.conf.set(_SHUFFLE_PIN_CONF, str(shuffle))
    apply_runtime_confs(spark)
    return spark
