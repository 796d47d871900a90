"""SparkSession construction and per-session config pinning.

The driver hands us an already-built SparkSession for ``entry()`` /
``queries()`` — it may lack the configs we depend on, so
``ensure_session_confs`` defensively (re)applies every *runtime-settable*
SQL conf the determinism contract needs (SURVEY.md §4 pinned configs,
§7.5 gotcha #1).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Runtime-settable SQL confs required for correctness + determinism.
_REQUIRED_SQL_CONFS = {
    # events.parquet is TIMESTAMP(NANOS); Spark 4.x rejects it outright
    # unless nanos are surfaced as raw int64 (SURVEY.md §7.5 #1).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Cross-engine timestamp determinism: DuckDB timestamps are naive;
    # pin Spark to UTC so date_trunc/collect agree.
    "spark.sql.session.timeZone": "UTC",
    # Runtime re-planning: shuffle coalescing + skew-join splitting.
    "spark.sql.adaptive.enabled": "true",
}

# Entries in Spark's LRU cache of Janino-compiled generated classes
# (static conf ``spark.sql.codegen.cache.maxEntries``, default 100).
# One perfbench ``batch_mix`` pass (the eight bench.py headline queries
# plus the corpus clean / minhash near-dup / IVF k-means pipeline)
# generates 221-247 distinct classes, so at 100 entries every warm pass
# evicted and recompiled 193-232 of them; with 1000 it recompiles 2-8.
# A ``telemetry_stream`` pass generates 66 and fits either way.  The
# generated code strings are stable across runs, so the misses were
# pure eviction.
_CODEGEN_CACHE_ENTRIES = 1000


def ensure_session_confs(spark: SparkSession) -> SparkSession:
    """Apply required runtime confs to an externally-built session.

    Every conf here is runtime-settable in Spark 4.x; failures are
    verified rather than swallowed, because a silently-missing
    ``nanosAsLong`` surfaces later as a cryptic parquet read error far
    from the cause.

    Static confs are fixed when the JVM's first session starts, so the
    codegen cache size that ``get_spark`` sets is not applied here: an
    externally-built session keeps Spark's default of 100 entries and
    recompiles evicted classes on warm passes.  Results are unaffected.
    """
    errors: list[str] = []
    for key, value in _REQUIRED_SQL_CONFS.items():
        try:
            spark.conf.set(key, value)
        except Exception as exc:  # CANNOT_MODIFY_CONFIG / unknown conf
            errors.append(f"{key}={value}: {exc}")
    for key, value in _REQUIRED_SQL_CONFS.items():
        actual = spark.conf.get(key, None)
        if actual != value:
            raise RuntimeError(
                f"required Spark conf {key}={value!r} did not take effect "
                f"(got {actual!r}); set errors: {errors or 'none'}. "
                "events.parquet reads and timestamp determinism depend on it."
            )
    return spark


def get_spark(
    app_name: str = "powertrainstreaming-spark",
    shuffle_partitions: int = 32,
) -> SparkSession:
    """Build (or reuse) the session used by tests and bench.

    local[$SPARK_GRAFT_CPUS] mirrors the driver environment; on a real
    cluster the same code runs unchanged — partitioning decisions are
    expressed in the plans, not here.

    The codegen cache holds ``_CODEGEN_CACHE_ENTRIES`` classes, enough
    for the engine's working set, so a warm pass over queries already
    run compiles almost nothing.  The conf is static: it takes effect
    only when this call starts the JVM's first session.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Single-JVM local mode: driver heap IS the executor heap.  8g
        # suits tests/bench; heavy harnesses (the 10x scale probe's
        # adversarial dedup runs) raise it via SPARK_GRAFT_DRIVER_MEM.
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
        )
        .config("spark.ui.enabled", "false")
        # Arrow for any pandas-UDF path (similarity / multimodal ops).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.codegen.cache.maxEntries", str(_CODEGEN_CACHE_ENTRIES)
        )
    )
    for key, value in _REQUIRED_SQL_CONFS.items():
        builder = builder.config(key, value)
    return ensure_session_confs(builder.getOrCreate())
