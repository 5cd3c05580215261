"""Table readers (SURVEY.md §2.1 S4/S6 + driver testdata loading).

``read_table`` is the engine's canonical parquet scan.  One real-world wart
it absorbs: parquet files with TIMESTAMP(NANOS) columns (pandas/arrow
default) are illegal for Spark's vectorized reader.  We detect them from
the parquet footer (driver-side, metadata-only — no data read) and fall
back to ``spark.sql.legacy.parquet.nanosAsLong`` + an explicit
floor-to-micros conversion.  Flooring nanos to micros is exactly what
DuckDB does when it reads the same file as TIMESTAMP, so oracle comparisons
stay bit-identical.
"""

from __future__ import annotations

import glob
import os
from functools import lru_cache

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


@lru_cache(maxsize=256)
def _nanos_columns(path: str) -> tuple[str, ...]:
    """Column names with nanosecond timestamp type, from the parquet footer."""
    import pyarrow.parquet as pq

    target = path
    if os.path.isdir(path):
        parts = sorted(glob.glob(os.path.join(path, "*.parquet")))
        if not parts:
            return ()
        target = parts[0]
    try:
        schema = pq.read_schema(target)
    except Exception:
        return ()
    cols = []
    for field in schema:
        t = field.type
        if getattr(t, "unit", None) == "ns":
            cols.append(field.name)
    return tuple(cols)


def read_table(spark: SparkSession, path: str) -> DataFrame:
    """Parquet scan that tolerates TIMESTAMP(NANOS) columns.

    Predicate pushdown and column pruning still apply: the nanos->micros
    conversion is a projection on top of the scan, and filters on other
    columns push through it.
    """
    nanos = _nanos_columns(path)
    if not nanos:
        return spark.read.parquet(path)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(path)
    # Integer DIV keeps full precision (double division would lose bits
    # above 2^53); floor-to-micros == DuckDB's TIMESTAMP_NS -> TIMESTAMP.
    conv = {
        c: F.timestamp_micros(F.expr(f"`{c}` div 1000"))
        for c in nanos
        if c in df.columns
    }
    return df.withColumns(conv)


# Opt-in per-session table cache (bench sweeps): (sf_dir, name) -> frame.
_TABLE_CACHE: dict[tuple[str, str], DataFrame] = {}


def cache_sf_tables(
    spark: SparkSession, sf_dir: str, tables: tuple[str, ...] | None = None
) -> float:
    """Materialize the testdata tables into the Spark block cache ONCE so
    a multi-query sweep (bench.py) pays each parquet scan a single time
    instead of once per query.  Subsequent ``read_sf_table`` calls on the
    same session return the cached frame; answers are unchanged (the
    in-memory relation is the same rows, and Spark still prunes cached
    batches with column stats).  Never used by tests or the driver gate —
    those exercise the real scan path with parquet pushdown.

    Returns the wall seconds spent materializing (reported by bench.py
    so the cache build is visible, not hidden in query timings)."""
    import time

    from pyspark import StorageLevel

    t0 = time.perf_counter()
    cores = spark.sparkContext.defaultParallelism
    for name in tables or SF_TABLES:
        path = f"{sf_dir}/{name}.parquet"
        df = read_table(spark, path)
        # A single-file table scans (and therefore caches) as ONE
        # partition, serializing every downstream map-side operator on
        # it — repartition by on-disk size (~8 MB per cached partition,
        # capped at core count) so the cache parallelizes the sweep
        # instead of bottlenecking it.
        try:
            bytes_ = sum(
                os.path.getsize(os.path.join(d, f))
                for d, _, fs in os.walk(path)
                for f in fs
            ) if os.path.isdir(path) else os.path.getsize(path)
        except OSError:
            bytes_ = 0
        # rows matter as much as bytes: 5 MB of documents is hours of
        # per-row fold work (minhash/simhash/tokenize), so a pure byte
        # rule would leave the most compute-heavy operators single-core.
        # The pre-persist count is metadata-only on parquet (footer row
        # counts), not a scan.
        #
        # rows // 60 (was // 500, optimization round 10): the heaviest
        # per-row work rides the SMALL tables — documents carries the
        # pure-Python codec seams (JPEG/AVI/WAV encode+decode at
        # ~5-10 ms/row) and embeddings the BLAS seams — and at sf0.1
        # the 500-row rule left documents on 10 partitions and
        # embeddings on 4, so those operators used a third (resp. an
        # eighth) of the cores.  60 rows/partition saturates the box
        # once a table has ~2k rows while the core-count cap keeps big
        # tables unchanged; the handful of extra near-empty tasks on
        # trivial dimension queries is microseconds against a 3x
        # parallelism win on every codec query.
        rows = df.count()
        want = max(1, min(cores, max(bytes_ // (8 << 20), rows // 60)))
        if df.rdd.getNumPartitions() < want:
            df = df.repartition(want)
        df = df.persist(StorageLevel.MEMORY_AND_DISK)
        df.count()
        _TABLE_CACHE[(sf_dir, name)] = df
    return time.perf_counter() - t0


def uncache_sf_tables() -> None:
    """Release every frame pinned by ``cache_sf_tables``."""
    while _TABLE_CACHE:
        _, df = _TABLE_CACHE.popitem()
        try:
            df.unpersist()
        except Exception:
            pass


def read_sf_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one driver testdata table (``/root/testdata/sf*/<name>.parquet``)."""
    hit = _TABLE_CACHE.get((sf_dir, name))
    if hit is not None and hit.sparkSession is spark:
        return hit
    return read_table(spark, f"{sf_dir}/{name}.parquet")


SF_TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


# SQL text -> the testdata tables it reads (parsed once per text).
_SQL_TABLES: dict[str, tuple[str, ...]] = {}


def sql_tables(spark: SparkSession, query: str) -> tuple[str, ...]:
    """The testdata tables ``query`` reads: the ``UnresolvedRelation``
    names of Spark's parsed plan (subquery expressions and CTE bodies
    included) that name an ``SF_TABLES`` table.  Taken from the parser,
    not from a word match, so column names and string literals that
    happen to spell a table name bind nothing."""
    hit = _SQL_TABLES.get(query)
    if hit is not None:
        return hit
    names: set[str] = set()

    def walk(node) -> None:
        if node.getClass().getSimpleName() == "UnresolvedRelation":
            names.add(node.tableName().lower())
        for seq in (node.children(), node.innerChildren(), node.subqueries()):
            for i in range(seq.length()):
                walk(seq.apply(i))

    walk(spark._jsparkSession.sessionState().sqlParser().parsePlan(query))
    hit = tuple(t for t in SF_TABLES if t in names)
    _SQL_TABLES[query] = hit
    return hit


# (sf_dir, table) -> (frame, the temp-view definition built from it)
_VIEWS: dict[tuple[str, str], tuple] = {}


def _bind_view(spark: SparkSession, catalog, sf_dir: str, name: str) -> None:
    """Bind ``name`` to the testdata table as a temp view.  Building the
    view definition runs a Spark command (about 12 ms); for a cached
    table, whose frame is the same object on every call, the definition
    built the first time is put back directly instead."""
    df = read_sf_table(spark, sf_dir, name)
    hit = _VIEWS.get((sf_dir, name))
    if hit is not None and hit[0] is df:
        catalog.createTempView(name, hit[1], True)
        return
    df.createOrReplaceTempView(name)
    _VIEWS[(sf_dir, name)] = (df, catalog.getRawTempView(name).get())


def sql(spark: SparkSession, sf_dir: str, query: str) -> DataFrame:
    """Run SQL over the testdata tables: the plan of every registry
    entry written as SQL (``plans.registry.sql_query``), and the engine's
    front door for ad-hoc users.

    Each table the text reads is bound as a temp view for the length of
    the call, through the same nanos-safe ``read_sf_table`` the DataFrame
    queries use (so the table cache applies too).  ``spark.sql`` analyzes
    eagerly, so the returned frame no longer needs the views: they are
    dropped, and a caller's own temp view of the same name is put back,
    leaving the session's view namespace as it was.  The session gets
    the runtime config once per call, as a query built on a session we
    did not create (the driver's) must."""
    from advanced_etl_pipelines_spark.session import configure_existing

    configure_existing(spark)
    catalog = spark._jsparkSession.sessionState().catalog()
    tables = sql_tables(spark, query)
    saved = {t: catalog.getRawTempView(t) for t in tables}
    try:
        for t in tables:
            _bind_view(spark, catalog, sf_dir, t)
        return spark.sql(query)
    finally:
        for t, old in saved.items():
            if old.isDefined():
                catalog.createTempView(t, old.get(), True)
            else:
                catalog.dropTempView(t)


def read_xml(
    spark: SparkSession,
    path: str,
    row_tag: str = "row",
    schema=None,
) -> DataFrame:
    """XML directory scan (native Spark 4 data source) — the S4 JSON
    directory scan's XML sibling.  PERMISSIVE by default: malformed
    elements land in ``_corrupt_record`` instead of failing the scan,
    matching the corrupt-file-skip posture of the reference's raw-JSON
    reader (`ETL_Multi_Lvl_API/transform.py:217-222`).  Schema inference
    costs an extra pass — pass ``schema`` in production jobs."""
    reader = spark.read.format("xml").option("rowTag", row_tag)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.load(path)


def write_xml(
    df: DataFrame, path: str, row_tag: str = "row", root_tag: str = "rows"
) -> None:
    """XML sink (export/interchange format — per-partition files like
    every Spark sink, so it scales with the writer parallelism)."""
    (
        df.write.format("xml")
        .option("rowTag", row_tag)
        .option("rootTag", root_tag)
        .mode("overwrite")
        .save(path)
    )


def read_evolving(spark: SparkSession, path: str) -> DataFrame:
    """Schema-evolution-tolerant parquet read: ``mergeSchema=true``
    unions the footers of every file, so batches written before a
    column existed surface it as NULL instead of failing or silently
    dropping it (Spark's default reads ONE footer — whichever file it
    samples — and returns a schema that depends on file listing order).

    The lakehouse append contract this enables: producers may ADD
    nullable columns over time; readers always see the superset schema.
    Scale note: footer merging is a driver-side metadata operation over
    file count, not data size — pair with ``compact_small_files`` to
    keep file counts sane; at petabyte scale a table format (Delta/
    Iceberg) moves this merge into the transaction log, same contract."""
    return spark.read.option("mergeSchema", "true").parquet(path)
