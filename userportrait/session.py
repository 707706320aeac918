"""SparkSession conventions (SURVEY.md §7-M0).

Two paths:

* ``get_spark()`` builds a session for local runs (tests, bench) with the
  required configs baked in at build time.
* ``apply_session_confs(spark)`` applies the *runtime-settable* subset to a
  session we did not create (the driver passes its own ``SparkSession`` into
  ``queries()`` callables). All three critical confs are SQLConfs and are
  runtime-settable, which is what makes the driver contract workable:

  - ``spark.sql.legacy.parquet.nanosAsLong=true`` — Spark 4.1.2 rejects
    parquet TIMESTAMP(NANOS) (``events.ts``) outright without it
    (SURVEY §1.2, reproduced).
  - ``spark.sql.session.timeZone=UTC`` — keeps Spark's timestamp rendering
    aligned with DuckDB's tz-naive timestamps so date functions agree.
  - AQE on (default in 4.x, asserted anyway) — runtime shuffle coalescing and
    skew-join handling are part of the 100 TB story (SURVEY §4).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

RUNTIME_CONFS = {
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    # r14 (guide §6 "Arrow for driver transfers"): every bounded
    # model-metadata collect (quantizer/codebook training samples, the
    # blocked-kNN index chunks) goes through toPandas; the default row-
    # pickle path cost ~0.5 s per 1 MB sample at sf0.1 where Arrow moves
    # it in milliseconds. Runtime-settable SQLConf, so the driver's own
    # session picks it up via apply_session_confs. All toPandas consumers
    # in this repo read numeric/array columns via .tolist()/.to_numpy(),
    # which are representation-agnostic across the two paths.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
}


# Sessions already carrying the conventions (weakly referenced so a stopped
# session's entry dies with it). apply_session_confs is called from every
# read_table(), i.e. many times per query declaration; each conf.set is a
# py4j round trip, so the idempotent re-application was pure driver chatter
# (4 round trips x 10 tables per eager load() before r14's lazy catalog).
#
# Documented memo tradeoff (ADVICE r14): before the memo, every read_table
# re-asserted RUNTIME_CONFS, so an external mutation (e.g. a hosting app
# flipping the session timezone) self-healed on the next call; with the
# memo it does not. A long-lived session that intentionally re-tunes confs
# and wants them re-asserted calls reset_session_confs() (below).
_CONFS_APPLIED: "weakref.WeakSet[SparkSession]" = None  # type: ignore[assignment]


def reset_session_confs() -> None:
    """Forget which sessions already got RUNTIME_CONFS: the next
    apply_session_confs (i.e. the next read_table) re-asserts them. The
    escape hatch for long-lived sessions whose confs are mutated outside
    this package after first application."""
    if _CONFS_APPLIED is not None:
        _CONFS_APPLIED.clear()


def apply_session_confs(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable conventions to an externally created session
    (idempotent; memoized per session object)."""
    global _CONFS_APPLIED
    if _CONFS_APPLIED is None:
        import weakref

        _CONFS_APPLIED = weakref.WeakSet()
    if spark in _CONFS_APPLIED:
        return spark
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # immutable in this build — session.py builder already set it
    _CONFS_APPLIED.add(spark)
    return spark


def _default_driver_memory() -> str:
    """JVM heap default sized to the MACHINE, not hard-coded (r11 ADVICE
    #4): cap = 24g (~0.75g per local[32] thread, the sizing the r11 wedge
    ladder established on the 128 GiB box), floor = 2g, otherwise ~1/5 of
    physical RAM so a laptop-sized host doesn't over-commit out of the
    box. SPARK_DRIVER_MEMORY overrides unconditionally."""
    try:
        total_gb = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") // (1 << 30)
    except (ValueError, OSError, AttributeError):
        return "24g"
    return f"{max(2, min(24, total_gb // 5))}g"


def get_spark(app_name: str = "userportrait") -> SparkSession:
    """Build (or reuse) a local session with engine conventions applied.

    ``spark.sql.shuffle.partitions`` is the local core count, i.e. equal to
    ``defaultParallelism``: at sf<=0.1 the data is small enough that AQE
    coalesces down anyway; on a real cluster this would be sized to ~2-3x
    total cores (SURVEY §4). Ops that pick a width themselves go through
    ``catalog.width``.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    driver_mem = os.environ.get("SPARK_DRIVER_MEMORY") or _default_driver_memory()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(cpus))
        # local[32] means 32 CONCURRENT task memory consumers in one JVM:
        # at 8g (execution pool ~4.6g) a wide shuffle-sort stage starves the
        # per-task minimum and UnsafeExternalSorter dies growing its pointer
        # array (reproduced: graph_jaccard_link_prediction's 1.5B-wedge
        # stage at the 10x replica). The box has 128 GiB; ~0.75g/thread is
        # the sane local sizing. Cluster deployments size executors per
        # core-count the same way.
        .config("spark.driver.memory", driver_mem)
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.adaptive.enabled", "true")
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    return apply_session_confs(spark)
