"""Catalog: explicit schemas + loaders for the ten driver tables.

Schemas mirror the parquet physical types recorded in FIXTURES.md (read from
the files themselves at survey time). We never ``inferSchema`` (SURVEY §1.2):
fixed ``StructType``s make column pruning and predicate pushdown verifiable
and keep the 100 TB read path deterministic.

The one source-boundary fix-up lives here: ``events.ts`` is parquet
TIMESTAMP(NANOS); with ``spark.sql.legacy.parquet.nanosAsLong=true`` Spark
reads it as a raw int64 nanosecond count, which ``load()`` converts ONCE via
``timestamp_micros(ts div 1000)`` (integer division — a double-path division
would lose precision at ~1.7e18 ns). Downstream operators only ever see a
proper µs TimestampType column. DuckDB oracles use ``CAST(ts AS TIMESTAMP)``
for the same truncation (SURVEY §2.0 rule 3).
"""

from __future__ import annotations

from types import SimpleNamespace

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .session import apply_session_confs

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

# DDL schemas matching the parquet physical types (FIXTURES.md).
SCHEMAS: dict[str, str] = {
    "region": "r_regionkey int, r_name string",
    "nation": "n_nationkey int, n_name string, n_regionkey int",
    "customer": "c_custkey bigint, c_name string, c_nationkey int, c_acctbal double, c_mktsegment string",
    "supplier": "s_suppkey bigint, s_name string, s_nationkey int, s_acctbal double",
    "part": "p_partkey bigint, p_name string, p_brand string, p_type string, p_size int, p_retailprice double",
    "orders": (
        "o_orderkey bigint, o_custkey bigint, o_orderstatus string, o_totalprice double, "
        "o_orderdate timestamp, o_orderpriority string"
    ),
    "lineitem": (
        "l_orderkey bigint, l_partkey bigint, l_suppkey bigint, l_linenumber int, "
        "l_quantity double, l_extendedprice double, l_discount double, l_tax double, "
        "l_returnflag string, l_linestatus string, l_shipdate timestamp"
    ),
    # ts declared bigint: raw nanosecond count under nanosAsLong (converted in load()).
    "events": "event_id bigint, ts bigint, user_id bigint, event_type string, value double, props string",
    "documents": "doc_id bigint, text string, lang string, source string, n_chars bigint",
    "embeddings": "vec_id bigint, embedding array<float>, label int",
}


# Physical layout of events.ts ("bigint" | "timestamp"), sniffed from one
# parquet footer the first time a path's events table is read. Caching it
# avoids re-reading the footer — a driver-side file-listing + footer RPC
# (guide §7.3) — on every read_table("events") call. Keyed on
# (path, mtime, size) of the path's newest entry (ADVICE r14): the ten
# driver tables are immutable inputs in this deployment, but a path-only
# key would silently keep the WRONG schema branch for the rest of the
# process if events.parquet were ever regenerated in place with the other
# physical ts type; the stat probe is microseconds and enforces what was
# previously only a documented assumption.
_EVENTS_TS_KIND: dict[tuple, str] = {}


def _path_stamp(path: str) -> tuple:
    """(mtime_ns, size) of ``path`` — for a directory, of its newest direct
    entry (a parquet dir rewrite replaces part-files and touches the dir).
    (0, 0) when not statable (object-store URI): behaves like the old
    path-only key."""
    import os as _os

    try:
        st = _os.stat(path)
        if _os.path.isdir(path):
            newest = st.st_mtime_ns
            total = 0
            for entry in _os.scandir(path):
                est = entry.stat()
                newest = max(newest, est.st_mtime_ns)
                total += est.st_size
            return (newest, total)
        return (st.st_mtime_ns, st.st_size)
    except OSError:
        return (0, 0)


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one driver table with its explicit schema; fix events.ts ns->us.

    events.ts appears in the wild in two physical layouts: the driver's raw
    int64 nanosecond count (surfaced as bigint under nanosAsLong), and a
    plain parquet timestamp (e.g. data this engine wrote back out). Sniff
    one footer and branch so both load identically.
    """
    apply_session_confs(spark)
    path = f"{sf_dir}/{name}.parquet"
    if name == "events":
        key = (path, *_path_stamp(path))
        kind = _EVENTS_TS_KIND.get(key)
        if kind is None:
            inferred = {f.name: f.dataType.simpleString() for f in spark.read.parquet(path).schema.fields}
            kind = "bigint" if inferred.get("ts") == "bigint" else "timestamp"
            _EVENTS_TS_KIND[key] = kind
        if kind == "bigint":
            df = spark.read.schema(SCHEMAS[name]).parquet(path)
            return df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
        schema = SCHEMAS[name].replace("ts bigint", "ts timestamp")
        return spark.read.schema(schema).parquet(path)
    return spark.read.schema(SCHEMAS[name]).parquet(path)


class _LazyTables(SimpleNamespace):
    """Namespace over the ten driver tables that builds each DataFrame on
    FIRST attribute access instead of all ten up front. Constructing a
    table costs a driver-side file listing + schema resolution round-trip
    (~25 ms each locally; object-store listing RPCs on a cluster), and a
    typical op touches one or two tables — the eager form charged every
    op (and every timed re-declaration of the eager bench queries) for
    all ten (r14 measurement: load() was 0.25 s of each eager query's
    per-run declare time at sf0.1). Resolved frames are memoized into the
    namespace, so repeated access stays attribute-cheap."""

    def __init__(self, spark: SparkSession, sf_dir: str):
        super().__init__()
        object.__setattr__(self, "_spark", spark)
        object.__setattr__(self, "_sf_dir", sf_dir)

    def __getattr__(self, name: str) -> DataFrame:  # only fires on a miss
        if name in TABLES:
            df = read_table(self._spark, self._sf_dir, name)
            setattr(self, name, df)
            return df
        raise AttributeError(name)


def load(spark: SparkSession, sf_dir: str) -> SimpleNamespace:
    """All ten tables as attributes: ``t = load(...); t.orders.join(...)``.
    Tables resolve lazily on first access (see _LazyTables)."""
    return _LazyTables(spark, sf_dir)


def path_bytes(path: str) -> int:
    """On-disk bytes under ``path``: a file's size, or the sum over every
    file below a directory. 0 when the driver cannot stat it (an
    object-store URI on a real cluster) — ``width`` then falls back to the
    fleet width. Uncached: a local stat walk takes microseconds, and a
    fresh count cannot go stale when a path is rewritten."""
    import os

    try:
        if os.path.isfile(path):
            return os.path.getsize(path)
        return sum(
            os.path.getsize(os.path.join(root, f))
            for root, _dirs, files in os.walk(path)
            for f in files
        )
    except OSError:
        return 0


def width(spark: SparkSession, nbytes: int | None = None, per_task: int | None = None) -> int:
    """The one shuffle-width rule: how many partitions a user-specified
    repartition (or a streaming replay's state fan-out) gets.

    With no byte count (or a count <= 0, i.e. an unstatable input) the
    width is ``defaultParallelism``, which tracks the executor fleet the
    session actually has; a fixed literal would be a per-task memory and
    straggler bottleneck at corpus scale. With a byte count it is
    ``ceil(nbytes / per_task)``, capped at that fleet width and floored
    at 1: a toy input split one way per core pays one task round-trip per
    core for a few KB of work each, while at corpus scale the byte count
    exceeds ``per_task * defaultParallelism`` long before 100 TB, so the
    full fleet width holds there."""
    cap = spark.sparkContext.defaultParallelism
    if nbytes is None or nbytes <= 0:
        return cap
    return max(1, min(cap, -(-nbytes // per_task)))


def pin(df: DataFrame) -> DataFrame:
    """Pin ONE physical evaluation of a shared subtree before branching.

    AQE does not reuse an exchange across independent downstream actions, so
    a subtree feeding N consumers would otherwise evaluate N times (or, for
    a nondeterministically-sampled range exchange, evaluate N *different*
    times). Two modes, chosen by session state:

    - a checkpoint dir is configured (``spark.sparkContext.setCheckpointDir``
      — any cluster deployment should set one): reliable ``.checkpoint()``.
      Blocks are written to the fault-tolerant checkpoint dir, so losing an
      executor re-reads them instead of making the job unrecoverable.
    - no checkpoint dir (local[. ] test/dev): eager ``.localCheckpoint()``.
      Same semantics, blocks live in executor storage — fine single-JVM,
      NOT safe on a real cluster (an executor loss loses the pinned state),
      which is exactly why the reliable path exists (VERDICT r5 issue #2).

    tests/test_invariants.py::test_pinned_ops_green_with_reliable_checkpoint
    runs the pinned ops under a configured checkpoint dir to keep the
    reliable path green.

    Every pin is tracked in ``_PIN_REGISTRY`` so a long-lived session can
    ``release_pins()`` after each consuming action: checkpoint blocks are
    NOT freed when the Python frame goes out of scope (the JVM Dataset →
    ContextCleaner chain needs a GC on both sides), so a driver process
    running all registered ops otherwise accumulates every op's pinned
    blocks — the r9 finding where repeated capped-verify runs got SLOWER
    warm than cold (VERDICT r9 "What's wrong" #3)."""
    sc = df.sparkSession.sparkContext
    if sc.getCheckpointDir() is not None:
        out = df.checkpoint(eager=True)
    else:
        out = df.localCheckpoint(eager=True)
    _PIN_REGISTRY.append(out)
    return out


_PIN_REGISTRY: list[DataFrame] = []


def release_pins() -> int:
    """Free the block-manager storage behind every ``pin()`` since the
    last release; returns how many were released.

    Call ONLY after the consuming action: a local checkpoint is
    non-recomputable, so a released frame can never be evaluated again
    (tests/test_invariants.py::test_pin_release_frees_storage proves both
    halves). Harness loops (testing.check, driver_replica) call this
    between ops; a service embedding these ops calls it per request."""
    n = 0
    while _PIN_REGISTRY:
        df = _PIN_REGISTRY.pop()
        try:
            # LogicalRDD.rdd() is the checkpointed RDD itself — unpersist
            # drops its blocks; for the reliable .checkpoint() path the
            # files stay on the checkpoint dir (recovery unaffected).
            df._jdf.queryExecution().analyzed().rdd().unpersist(False)
            n += 1
        except Exception:
            pass  # session already stopped, or a non-LogicalRDD plan
    return n


def register_views(spark: SparkSession, sf_dir: str) -> SimpleNamespace:
    """Register every table as a temp view (post ts-fix) and return them.

    This is the SQL entry surface (SURVEY §3.2): ops that are SQL-shaped run
    ``spark.sql`` over these views with near-1:1 text vs their DuckDB oracle.
    """
    t = load(spark, sf_dir)
    for name in TABLES:
        getattr(t, name).createOrReplaceTempView(name)
    return t
