"""SparkSession factory.

The reference runs eager single-process pandas with no session concept
(``ETL_Multi_Lvl_API/etl_pipeline.py:108-134`` just calls functions).  Here a
single configured SparkSession supplies the whole query lifecycle.  Config
choices are scale-oriented:

* UTC session timezone — the reference normalizes all air-quality timestamps
  to UTC (``ETL_Multi_Lvl_API/transform.py:123-127,244``); pinning the session
  TZ makes ``hour()``/``to_date()`` deterministic across machines.
* AQE on — runtime coalescing of shuffle partitions and skew-join splitting;
  this is what makes one static ``spark.sql.shuffle.partitions`` setting
  survive a 1000× scale-up.
* Arrow on — any pandas interchange (plots, mapInPandas media decode) is
  batch-columnar, never row-at-a-time.
* A generated-class cache of ``CODEGEN_CACHE_ENTRIES`` — Spark keeps 100
  compiled classes by default and evicts the least recently used first.
  Workloads that re-run the same plan shapes cycle through more classes
  than that (measured: 191 for one pass over 16 short registry queries,
  110 for the medallion pipelines on a repeated batch), so most classes
  were evicted before their next use and each op paid Janino
  compilation again, at 9–15 ms a class.  1024 holds either set with
  room to spare but not a whole registry sweep (about 3.9k classes at
  sf0.01, which would cost another ~24 MB of Metaspace); the sweep runs
  each query back to back, so its warm runs need only that query's
  classes (68 at most on a first run).  The setting is static: it takes effect only
  when ``get_spark`` builds the session (``extra_conf`` may override
  it).
* Generated class names without the whole-stage codegen ID — AQE
  numbers a query's codegen stages as it plans them, in an order that
  depends on which sibling stage finished first, and the ID is part of
  the class name, so an unchanged stage body compiled again under a
  swapped ID (``simpsons_paradox_probe`` recompiled 4 classes on repeat
  runs).  This one is a runtime setting, so ``configure_existing``
  applies it too.
* No Python call-site capture (``spark.python.sql.dataFrameDebugging``
  off) — with it on, every classic ``Column`` method and ``F.col`` first
  records the calling Python line in the JVM: about five extra py4j
  round trips a call (active session, a reflection lookup of
  ``PySparkCurrentOrigin``, a config read, ``set``, ``clear``).
  Measured on 4 vCPU (median of 200 builds): ``(F.col("a") + 1)
  .alias("b")`` took 3.9 ms with capture and 1.0 ms without.  The captured line only shows in
  analysis-error messages.  The setting is static, like the codegen
  cache: only a session ``get_spark`` builds has it off.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = "32"
# Generated classes Spark keeps compiled (its default is 100); see the
# module docstring.
CODEGEN_CACHE_ENTRIES = "1024"


def get_spark(
    app_name: str = "advanced-etl-pipelines-spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the configured session.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` so tests and bench
    share one code path; on a real cluster the caller passes no master and
    spark-submit decides.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", DEFAULT_SHUFFLE_PARTITIONS)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Bigger Arrow batches feed the mapInPandas BLAS seams (ANN,
        # semdedup, PCA/kmeans, multimodal) real matrices instead of
        # 10k-row slivers: measured ~20% faster at sf0.1.  64k rows of a
        # 64-dim double vector is ~32 MB/batch; seams that carry wide
        # text project it away first.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Iterative operators (pagerank/LPA) chain lazy localCheckpoints
        # whose materialization nests inside BroadcastExchange futures —
        # the outermost future's timeout covers up to _MAT_EVERY rounds
        # of upstream work (operators/graph.py), and at sf1 one LPA
        # round already runs ~100s.  The default 300s is a latency
        # tripwire, not a memory bound; raise it so a loaded box or a
        # 10x corpus cannot kill a correct plan mid-broadcast.
        .config("spark.sql.broadcastTimeout", "1800")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.compression.codec", "snappy")
        .config("spark.sql.codegen.cache.maxEntries", CODEGEN_CACHE_ENTRIES)
        .config("spark.sql.codegen.useIdInClassName", "false")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def configure_existing(spark: SparkSession) -> SparkSession:
    """Apply the runtime-settable subset of our config to a session we did
    not create (the driver hands us one in ``__spark_entry__``).

    Static settings are not in that subset: such a session keeps its own
    codegen cache size (Spark's default is 100 classes), which cannot be
    changed at runtime, so a workload cycling through more generated
    classes than that recompiles them on every pass.  It also keeps
    PySpark's call-site capture on, so each ``Column`` call there costs
    about five more py4j round trips."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
    # same rationale as get_spark: nested lazy-checkpoint broadcasts in
    # the iterative operators need headroom beyond the 300s default
    spark.conf.set("spark.sql.broadcastTimeout", "1800")
    spark.conf.set("spark.sql.codegen.useIdInClassName", "false")
    return spark
