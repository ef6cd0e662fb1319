"""SparkSession factory tuned for the engine.

Local-mode testing uses ``local[N]``; the same configs are the ones
you'd set on a real cluster (AQE, adaptive skew join, Arrow). The
shuffle-partition count is sized to cores locally; on a 1000-executor
cluster you'd raise it (or let AQE coalesce from a high initial value).
"""

from __future__ import annotations

import logging
import os
import threading

from pyspark.sql import SparkSession

_log = logging.getLogger(__name__)

# local_frame calls that fell back to a pickled-rows PythonRDD scan
LOCAL_FRAME_FALLBACKS = 0

_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app_name: str = "hyppo_worker_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    AQE is enabled so runtime statistics re-plan shuffles (partition
    coalescing, skew-join splitting, dynamic broadcast) — this is the
    scale path: the same job that runs on local[32] re-plans itself on
    a 1000-executor cluster without code changes.

    Python workers fork from the engine's daemon module
    (``pydaemon.py``), which keeps their zip import caches across
    tasks; this package's parent directory is appended to
    ``spark.executorEnv.PYTHONPATH`` (after any entries the caller
    passes in ``extra_conf``) so the workers find it from any working
    directory.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count() or 4)
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if master.startswith("local") else 200

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Python DataSource connectors (sources/integration_source.py)
        # prune whole ingestion tasks via pushFilters — off by default
        # in Spark 4.1.
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config("spark.python.daemon.module", "hyppo_worker_spark.pydaemon")
    )
    conf = dict(extra_conf or {})
    key = "spark.executorEnv.PYTHONPATH"
    paths = [p for p in conf.get(key, "").split(os.pathsep) if p]
    if _PACKAGE_PARENT not in paths:
        paths.append(_PACKAGE_PARENT)
    conf[key] = os.pathsep.join(paths)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


from contextlib import contextmanager


@contextmanager
def scoped_conf(spark: SparkSession, key: str, value: str):
    """Set a runtime conf for the duration of a block, restoring the
    previous value after — queries must neither depend on ambient
    session configs (the p06 failure class) nor leak their own.

    Main use: ``spark.sql.shuffle.partitions`` around a streaming
    query start. A stateful streaming operator creates one state-store
    instance PER shuffle partition PER store (a stream-stream join has
    four stores), and the count is frozen into the checkpoint at first
    run — inheriting a batch-sized default means hundreds of state
    stores each paying per-batch checkpoint file I/O for a stream
    whose throughput needs a handful. Measured on p18 (sf0.1, 4
    micro-batches): 32 partitions = 14-23s drain, 8 partitions =
    4-5s, identical results. On a real cluster, size this to stream
    throughput — it cannot be AQE-coalesced after the checkpoint
    exists."""
    # get(key) raises for keys with no default that were never set;
    # a previously-UNSET key must be restored by unsetting it, not by
    # writing some value back (which would leak the scoped setting).
    prev = spark.conf.get(key, None)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


# Queries persist narrow intermediates that the RETURNED plan still
# references, so they cannot unpersist before returning; the consumer
# releases them after materializing the result. tracked_persist keeps
# the postfix call shape via DataFrame.transform:
#     shared = expr.transform(tracked_persist)
#
# Ownership model: registration lands in the CALLING THREAD's
# innermost persist_scope() when one is active, else in the
# process-default registry. Thread-locality means a streaming
# foreachBatch body (which Spark runs on its own thread) can never
# have its persists stolen by a driver-thread release_persists(), and
# two consumers that each wrap their query runs in persist_scope()
# cannot release each other's frames.
_DEFAULT_PERSISTS: list[DataFrame] = []
_SCOPE_STACKS = threading.local()


def _current_registry() -> list[DataFrame]:
    stack = getattr(_SCOPE_STACKS, "stack", None)
    return stack[-1] if stack else _DEFAULT_PERSISTS


def tracked_persist(df: DataFrame) -> DataFrame:
    """Persist ``df`` and register it for release — the query-level
    cache hygiene contract (VERDICT r7 item 5): every query-side
    ``persist()`` goes through here, and every consumer
    (tools/check.py, drive_entry, bench, a long-lived engine session)
    releases after materializing a query's result instead of letting
    cached partitions accumulate to LRU eviction. Registration is
    scoped: inside a ``persist_scope()`` block it lands in that
    scope's own registry, otherwise in the process default drained by
    ``release_persists()``."""
    df.persist()
    _current_registry().append(df)
    return df


def _drain(registry: list[DataFrame]) -> int:
    n = 0
    while registry:
        df = registry.pop()
        try:
            df.unpersist(True)
            n += 1
        except Exception:  # session already stopped — nothing to free
            pass
    return n


@contextmanager
def persist_scope():
    """Own the persists of a query run: frames registered by
    ``tracked_persist`` inside the block (on this thread) are released
    on exit, and ONLY those — concurrent consumers and streaming
    threads are untouched. Use this instead of a bare
    ``release_persists()`` whenever more than one query may be
    in flight in the process::

        with persist_scope():
            result = fn(spark, sf_dir)
            result.collect()   # materialize BEFORE the scope closes

    The caller must fully materialize the result inside the block:
    after release, re-executing the returned plan recomputes from
    lineage under the AMBIENT session confs, which for plans built
    under scoped_conf (q67's cteRecursionRowLimit) can fail or differ.
    """
    scope: list[DataFrame] = []
    stack = getattr(_SCOPE_STACKS, "stack", None)
    if stack is None:
        stack = _SCOPE_STACKS.stack = []
    stack.append(scope)
    try:
        yield scope
    finally:
        stack.pop()
        _drain(scope)


def release_persists() -> int:
    """Unpersist (blocking) everything in the process-DEFAULT registry
    (persist_scope registrations are not touched); returns the count
    released. Only call at a quiescent boundary: when no other query
    run is concurrently registering into the default registry, and no
    previously-returned plan will be re-executed — unpersist drops
    cached blocks and later reuse recomputes from lineage under the
    ambient confs, which for scoped_conf-built plans (q67's recursive
    walk) can fail where the cached result did not."""
    return _drain(_DEFAULT_PERSISTS)


def clear_cache(spark: SparkSession, include_rdd_blocks: bool = False) -> None:
    """Drop all persisted intermediates. Operators like MinHash-LSH
    persist narrow projections as codegen/recompute barriers; a
    long-lived session (bench loops, the engine) should clear them
    between unrelated queries.

    ``include_rdd_blocks=True`` additionally drops RDD-level blocks —
    i.e. ``localCheckpoint`` pins, which ``catalog.clearCache`` never
    touches and the ContextCleaner only reclaims on a JVM GC cycle.
    ONLY safe at a boundary where no in-flight plan will be reused:
    a localCheckpointed RDD has truncated lineage, so dropping its
    blocks while a consumer still needs them fails the job rather
    than recomputing."""
    release_persists()
    spark.catalog.clearCache()
    if include_rdd_blocks:
        # py4j exposes the Java map as a dict-like view
        for rdd in list(
            spark.sparkContext._jsc.getPersistentRDDs().values()
        ):
            rdd.unpersist(True)


def _pa_type(dt):
    """Map a Spark type to its exact pyarrow twin for the
    local-relation fast path; None = unsupported (caller falls back)."""
    import pyarrow as pa
    from pyspark.sql import types as T

    if isinstance(dt, T.LongType):
        return pa.int64()
    if isinstance(dt, T.IntegerType):
        return pa.int32()
    if isinstance(dt, T.DoubleType):
        return pa.float64()
    if isinstance(dt, T.FloatType):
        return pa.float32()
    if isinstance(dt, T.BooleanType):
        return pa.bool_()
    if isinstance(dt, T.StringType):
        return pa.string()
    if isinstance(dt, T.DateType):
        return pa.date32()
    if isinstance(dt, T.ArrayType):
        inner = _pa_type(dt.elementType)
        return pa.list_(inner) if inner is not None else None
    return None


def local_frame(spark: SparkSession, rows, schema):
    """Bounded driver-side rows → DataFrame as an Arrow-backed JVM
    local relation (``LocalTableScan``).

    ``spark.createDataFrame(list_of_tuples)`` parallelizes PICKLED
    rows into a PythonRDD scan, so every downstream action launches
    Python workers just to re-emit a handful of driver-known values —
    measured at ~4-5 s per action for an 8-row frame on this host
    (a job profile of s13, see ``profile.py``: three ~5 s "parquet" jobs, one per
    trigger, all of them the k-row ledger write) versus ~0.2 s for the
    equivalent Arrow local relation. At 100 TB the same distinction
    holds on every bounded pull a query returns or re-writes: a k-row
    control-plane frame should never cost a Python-worker round trip
    per task.

    Values are unchanged: ints/booleans/strings are exact either way,
    Python floats ARE IEEE doubles (bit-identical through Arrow), and
    None maps to null. Types outside the mapped set (timestamps,
    decimals, structs) fall back to the plain path, as does any
    conversion error — the fallback is byte-for-byte today's
    behavior, just slower. Each fallback logs one WARNING naming the
    unmapped field types (or the error) and adds one to
    ``LOCAL_FRAME_FALLBACKS``."""
    global LOCAL_FRAME_FALLBACKS
    from pyspark.sql import types as T

    rows = list(rows)
    try:
        import pyarrow as pa

        st = (
            T._parse_datatype_string(schema)
            if isinstance(schema, str)
            else schema
        )
        pa_types = [_pa_type(f.dataType) for f in st.fields]
        unmapped = [
            f"{f.name}: {f.dataType.simpleString()}"
            for f, t in zip(st.fields, pa_types)
            if t is None
        ]
        if not unmapped:
            cols = (
                list(zip(*rows)) if rows else [[] for _ in st.fields]
            )
            tbl = pa.Table.from_arrays(
                [
                    pa.array(list(c), type=t)
                    for c, t in zip(cols, pa_types)
                ],
                [f.name for f in st.fields],
            )
            return spark.createDataFrame(tbl, st)
        why = "unmapped field types " + ", ".join(unmapped)
    except Exception as e:  # unsupported values/session — use the slow path
        why = f"{type(e).__name__}: {e}"
    LOCAL_FRAME_FALLBACKS += 1
    _log.warning("local_frame: pickled-rows fallback (%s)", why)
    return spark.createDataFrame(rows, schema)


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


# Parquet schema inference is a Spark job per read (~76 ms a table
# on local[3]); load_tables runs on every query call, so it infers a
# table once and hands the schema back on later reads. Keyed by table
# path; an entry holds only while the table's files and the confs that
# change inference are what they were when it was inferred. Every hit
# re-checks that key, so concurrent readers need no lock: the worst a
# race can store is an outdated entry, which the next read re-infers.
_SCHEMAS: dict[str, tuple] = {}  # path -> (key, StructType)
_INFER_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
)


def _listing(path: str) -> tuple:
    """(name, size, mtime_ns) of every file under ``path`` (or of
    ``path`` itself when it is a file), sorted."""
    if os.path.isfile(path):
        st = os.stat(path)
        return ((os.path.basename(path), st.st_size, st.st_mtime_ns),)
    out = []
    for root, _, files in os.walk(path):
        for f in files:
            full = os.path.join(root, f)
            st = os.stat(full)
            out.append((os.path.relpath(full, path), st.st_size, st.st_mtime_ns))
    return tuple(sorted(out))


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)``, with the schema from ``_SCHEMAS``
    when the table and the inference confs are unchanged."""
    try:
        files = _listing(path)
    except OSError:
        files = ()
    if not files:  # not a local table: nothing to key on, infer every time
        return spark.read.parquet(path)
    key = (files, tuple(spark.conf.get(k, None) for k in _INFER_CONFS))
    hit = _SCHEMAS.get(path)
    if hit is not None and hit[0] == key:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMAS[path] = (key, df.schema)
    return df


def load_tables(spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES):
    """Read the synthetic star-schema tables and register temp views.

    Returns a dict of DataFrames. Reads are lazy; Catalyst prunes
    columns and pushes filters into the parquet scans per query.

    The first read of a table infers its parquet schema (one Spark
    job); later reads pass that schema to ``spark.read.schema`` and
    launch none. The cached schema is dropped, and the table inferred
    again, when the (name, size, mtime_ns) listing of its files or one
    of the session confs that change inference (``nanosAsLong``,
    ``inferTimestampNTZ``, ``binaryAsString``, ``int96AsTimestamp``)
    differs from the first read's, so a table rewritten in place is
    read with its new schema. Paths that cannot be listed locally are
    inferred on every read.
    """
    from pyspark.sql import functions as F

    # The driver may invoke queries with ITS OWN session; pin the
    # runtime-settable confs every oracle comparison depends on
    # (timestamp→string formatting must agree with DuckDB's UTC-naive
    # timestamps regardless of host timezone).
    spark.conf.set("spark.sql.session.timeZone", "UTC")

    dfs = {}
    for name in names:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if name == "events":
            # events.parquet uses INT64 TIMESTAMP(NANOS) which Spark's
            # parquet reader rejects; read nanos as long and truncate to
            # microsecond timestamps (matches DuckDB's second-level
            # formatting in oracles).
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
            df = _read_parquet(spark, path)
            if dict(df.dtypes).get("ts") == "bigint":
                df = df.withColumn(
                    "ts", F.timestamp_micros(F.expr("ts div 1000"))
                )
        else:
            df = _read_parquet(spark, path)
        # Newer driver-generated parquet marks timestamps as
        # isAdjustedToUTC=false, which Spark 4 infers as TIMESTAMP_NTZ.
        # Keep NTZ as-is: casting it to LTZ here would put a CAST above
        # every date filter and kill parquet predicate pushdown on
        # o_orderdate / l_shipdate / ts (measured ~1.5x on the
        # filter-heavy queries). NTZ compares/formats identically to
        # LTZ under the pinned UTC session; the one NTZ restriction —
        # no direct numeric cast — is handled at the expression site
        # (epoch arithmetic goes through an explicit
        # .cast("timestamp") first, which stays above the scan).
        df.createOrReplaceTempView(name)
        dfs[name] = df
    return dfs
