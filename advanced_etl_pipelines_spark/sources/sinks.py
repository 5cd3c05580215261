"""Warehouse sinks (SURVEY.md §2.1 S5/S7/S8/S12).

The reference's warehouse is a Supabase Postgres table fed by batched REST
upserts keyed ``(city, time)`` (`ETL_Multi_Lvl_API/load.py:117-165`) or
batched appends (`ETL_Weather_API/load.py:67-103`).  On Spark the
production path is a lakehouse table with ``MERGE INTO`` (Delta/Iceberg)
or a JDBC writer; neither engine dependency ships in this container, so
``upsert_parquet`` implements the same key-idempotent semantics over plain
parquet: new rows replace old rows with equal keys, everything else is
retained.  The MERGE statement it emulates:

    MERGE INTO target t USING updates s ON <keys equal>
    WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *

Scale notes: the anti-join shuffles on the key columns only; with the
target partitioned (e.g. by city) a real MERGE prunes to touched
partitions.  The swap is two-phase (write to a side dir, then rename) so
readers never observe a half-written table — the single-writer equivalent
of a lakehouse transaction log.  ``upsert_parquet_partitioned`` swaps the
partition directories it finds in the side dir, under the names Spark
escaped them to, and refuses a NULL partition value, which its anti join
could never match.
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType
from pyspark.sql.window import Window


def append_parquet(df: DataFrame, path: str) -> None:
    """S8: append-only load (`ETL_Weather_API/load.py:67-103`)."""
    df.write.mode("append").parquet(path)


def upsert_parquet(
    spark: SparkSession,
    updates: DataFrame,
    path: str,
    keys: Sequence[str],
) -> None:
    """S7: key-idempotent upsert (`ETL_Multi_Lvl_API/load.py:117-144`).

    Running the same load twice yields the same table (the reference
    relies on Postgres ``ON CONFLICT (city,time)`` for this).  Duplicate
    keys WITHIN ``updates`` are collapsed to one arbitrary-but-
    deterministic row first, matching upsert batch semantics.
    """
    updates = updates.dropDuplicates(list(keys))
    if os.path.exists(path):
        existing = spark.read.parquet(path)
        merged = existing.join(updates, list(keys), "left_anti").unionByName(
            updates
        )
    else:
        merged = updates
    tmp = path.rstrip("/") + "__tmp"
    merged.write.mode("overwrite").parquet(tmp)
    # Two-phase swap: the plan above reads `path`, so overwrite it only
    # after the new snapshot is fully materialized elsewhere.
    if os.path.exists(path):
        shutil.rmtree(path)
    os.replace(tmp, path)


def upsert_parquet_partitioned(
    spark: SparkSession,
    updates: DataFrame,
    path: str,
    keys: Sequence[str],
    partition_col: str,
) -> None:
    """S7 at scale: partition-pruned MERGE emulation.

    Only partitions that appear in ``updates`` are read, merged and
    rewritten — Spark's dynamic partition-overwrite leaves every other
    partition untouched on disk.  This is the shape a Delta/Iceberg MERGE
    takes when the match keys include the partition column: a 100 TB
    table with daily/city partitions upserts one partition's worth of
    I/O, not the table's.

    ``partition_col`` must be one of ``keys`` (otherwise a key could move
    between partitions and leave a stale copy behind).  A NULL
    ``partition_col`` in a merge raises ``ValueError``: the anti join
    cannot match a NULL key, so the table would keep the old row beside
    the new one.  The table is read with ``updates``' schema, partition
    column last, so the merge runs no schema-inference job.
    """
    if partition_col not in keys:
        raise ValueError("partition_col must be part of the upsert keys")
    updates = updates.dropDuplicates(list(keys))
    if not os.path.exists(path):
        updates.write.mode("overwrite").partitionBy(partition_col).parquet(path)
        return
    parts = [r[0] for r in updates.select(partition_col).distinct().collect()]
    if None in parts:
        raise ValueError(f"cannot upsert rows with a NULL {partition_col}")
    fields = sorted(updates.schema.fields, key=lambda f: f.name == partition_col)
    existing = spark.read.schema(StructType(fields)).parquet(path).where(
        F.col(partition_col).isin(parts)  # partition-pruned scan
    )
    merged = existing.join(updates, list(keys), "left_anti").unionByName(
        updates
    )
    # Two-phase, partition-scoped swap: materialize ONLY the affected
    # partitions to a side dir, then replace those partition dirs in
    # place (Spark can't overwrite a path it is reading; a lakehouse
    # table format would commit this as one MERGE transaction).  The
    # side dir is listed rather than named from ``parts``: Spark escapes
    # some characters in partition directory names (``a:b`` is written
    # as ``a%3Ab``).
    tmp = path.rstrip("/") + "__tmp"
    merged.write.mode("overwrite").partitionBy(partition_col).parquet(tmp)
    for name in os.listdir(tmp):
        if name.startswith(f"{partition_col}="):
            dst = os.path.join(path, name)
            if os.path.exists(dst):
                shutil.rmtree(dst)
            os.replace(os.path.join(tmp, name), dst)
    shutil.rmtree(tmp, ignore_errors=True)


def write_csv_report(df: DataFrame, path: str) -> None:
    """S12: small analysis outputs as a single headered CSV
    (`ETL_Multi_Lvl_API/etl_analysis.py:377-392`).  coalesce(1) is only
    safe because report frames are aggregate-sized by construction."""
    df.coalesce(1).write.mode("overwrite").option("header", True).csv(path)


def compact_cdc_batch(
    changes: DataFrame,
    keys: Sequence[str],
    op_col: str = "op",
    version_col: str = "version",
) -> DataFrame:
    """Collapse a CDC change batch to its final state per key: the
    highest-(version, op) change wins; earlier changes for the same key
    are superseded.  ``op_col`` values: 'I'/'U' carry payload, 'D'
    deletes.  Returns one row per surviving key, op column retained so
    ``apply_cdc`` can route deletes.

    The tie-break at equal version prefers 'D' (delete wins over an
    update in the same version — the conservative choice)."""
    w = Window.partitionBy(*keys).orderBy(
        F.desc(version_col),
        F.desc(F.col(op_col) == F.lit("D")),
    )
    return (
        changes.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )


def apply_cdc(
    spark: SparkSession,
    changes: DataFrame,
    path: str,
    keys: Sequence[str],
    op_col: str = "op",
    version_col: str = "version",
) -> None:
    """CDC MERGE: apply an insert/update/delete change batch to a
    parquet table (Debezium-style feed → lakehouse table).

    Semantics match ``MERGE WHEN MATCHED AND op='D' THEN DELETE / WHEN
    MATCHED THEN UPDATE / WHEN NOT MATCHED AND op<>'D' THEN INSERT``
    after first compacting the batch to latest-version-per-key (without
    the compaction a batch holding I then D for one key would be
    order-dependent).  Idempotent: re-applying the same batch is a
    no-op.

    Scale shape: one window over the batch (small), one anti join
    against the table keyed on the merge keys; at 100 TB use the
    partitioned twin of this exactly like ``upsert_parquet_partitioned``.
    """
    final = compact_cdc_batch(changes, keys, op_col, version_col)
    upserts = final.where(F.col(op_col) != "D").drop(op_col, version_col)
    if os.path.exists(path):
        existing = spark.read.parquet(path)
        # every touched key leaves the table; non-deletes re-enter with
        # their new payload — deletes are simply never re-added
        touched = final.select(*keys)
        merged = existing.join(touched, list(keys), "left_anti").unionByName(
            upserts
        )
    else:
        merged = upserts
    tmp = path.rstrip("/") + "__tmp"
    merged.write.mode("overwrite").parquet(tmp)
    if os.path.exists(path):
        shutil.rmtree(path)
    os.replace(tmp, path)


def write_snapshot(
    df: DataFrame, table_root: str, keep: int | None = None
) -> str:
    """Versioned snapshot write: each call lands a complete table state
    under ``table_root/v=N`` (N = max existing + 1) and becomes the new
    "latest".  The lakehouse form of the reference's timestamped-filename
    latest-wins convention (`ETL_Weather_API/load.py:106-107`) — but
    atomic at the table level: readers pick a version directory and see
    one consistent snapshot, never a half-written mix (poor-man's
    snapshot isolation; Delta/Iceberg replace this with a manifest log).

    ``keep`` prunes to the newest N snapshots after a successful write
    (time-travel horizon).  Returns the new snapshot path."""
    os.makedirs(table_root, exist_ok=True)
    versions = _snapshot_versions(table_root)
    n = (versions[-1] + 1) if versions else 0
    tmp = os.path.join(table_root, f".v={n}__tmp")
    df.write.mode("overwrite").parquet(tmp)
    final = os.path.join(table_root, f"v={n}")
    os.replace(tmp, final)  # atomic publish
    if keep is not None:
        for old in _snapshot_versions(table_root)[:-keep]:
            shutil.rmtree(os.path.join(table_root, f"v={old}"))
    return final


def read_snapshot(
    spark: SparkSession, table_root: str, version: int | None = None
) -> DataFrame:
    """Read the latest snapshot (default) or time-travel to ``version``."""
    versions = _snapshot_versions(table_root)
    if not versions:
        raise FileNotFoundError(f"no snapshots under {table_root}")
    n = versions[-1] if version is None else version
    if n not in versions:
        raise FileNotFoundError(f"snapshot v={n} not in {versions}")
    return spark.read.parquet(os.path.join(table_root, f"v={n}"))


def _snapshot_versions(table_root: str) -> list[int]:
    out = []
    if os.path.isdir(table_root):
        for name in os.listdir(table_root):
            if name.startswith("v=") and not name.startswith(".") and (
                os.path.isdir(os.path.join(table_root, name))
            ):
                out.append(int(name[2:]))
    return sorted(out)


def compact_small_files(
    spark: SparkSession, path: str, target_rows_per_file: int
) -> int:
    """Small-file compaction: rewrite a parquet table into
    ``ceil(rows / target)`` files.  Streaming/CDC sinks accrete tiny
    files (one+ per micro-batch/merge); at scale the scan's task-per-file
    scheduling and footer overhead dominate long before data does.
    Row-count-based sizing is the portable proxy for target byte size.
    Two-phase swap like the other sinks.  Returns the new file count."""
    df = spark.read.parquet(path)
    rows = df.count()
    n_files = max(1, -(-rows // target_rows_per_file))
    tmp = path.rstrip("/") + "__tmp"
    df.repartition(n_files).write.mode("overwrite").parquet(tmp)
    shutil.rmtree(path)
    os.replace(tmp, path)
    return n_files


def write_with_metrics(
    df: DataFrame,
    path: str,
    metrics: dict[str, F.Column] | None = None,
    mode: str = "overwrite",
    null_check_cols: Sequence[str] | None = None,
) -> dict[str, object]:
    """Parquet write with in-flight data-quality metrics (Observation
    API): the named aggregates are accumulated DURING the write scan, so
    row counts / null counts / ranges cost zero extra jobs — the
    lakehouse version of the reference's per-step row-count logging
    (`ETL_Multi_Lvl_API/etl_pipeline.py:64-75` prints per-stage counts
    by re-scanning; here the sink itself reports them).

    ``metrics`` maps name -> aggregate Column; default is a row count
    plus a null count per ``null_check_cols`` entry.  Returns the
    observed values as a dict once the write completes."""
    from pyspark.sql import Observation

    if metrics is None:
        metrics = {"n_rows": F.count(F.lit(1))}
        for c in null_check_cols or []:
            metrics[f"null_{c}"] = F.sum(
                F.when(F.col(c).isNull(), 1).otherwise(0)
            )
    obs = Observation()
    observed = df.observe(obs, *[c.alias(k) for k, c in metrics.items()])
    observed.write.mode(mode).parquet(path)
    return dict(obs.get)


def forget_keys(
    spark: SparkSession,
    table_root: str,
    keys_df: DataFrame,
    on: Sequence[str],
    keep: int | None = None,
) -> str:
    """Right-to-be-forgotten delete: write a new snapshot of the table
    with every row matching ``keys_df`` on ``on`` removed (left-anti
    join), leaving prior versions intact for the retention window.
    GDPR/CCPA erasure on a lakehouse is exactly this: logical delete via
    a new version, then ``keep=N`` (or the snapshot pruner) physically
    drops the versions still containing the data once the legal horizon
    passes.  The anti-join shuffles only the key columns of the deletion
    set; with the table partitioned on a key prefix, a real lakehouse
    MERGE DELETE prunes to touched partitions."""
    current = read_snapshot(spark, table_root)
    remaining = current.join(
        F.broadcast(keys_df.select(*on).distinct()), list(on), "left_anti"
    )
    return write_snapshot(remaining, table_root, keep=keep)
