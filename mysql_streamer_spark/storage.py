"""Storage layouts: bucketed tables, compaction plans, and the package's one
durable file-commit protocol.

Repeated large-fact joins on the same key should not pay the shuffle every
query. Writing both sides bucketed by the join key (same bucket count)
lets Spark plan a SortMergeJoin with NO Exchange on either side — the
shuffle was paid once at write time. This is the batch analogue of the
reference's per-table Kafka topic partitioning.
"""

from __future__ import annotations

import atexit
import json
import os
import shutil
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession


def atomic_write_json(path: str, obj) -> None:
    """Durably replace ``path`` with ``obj`` as JSON: a uniquely named
    hidden temp file in the same directory, flushed and fsynced, then
    ``os.replace``d over the target, so readers see the old document or the
    new one, never a torn or (after a power loss) empty one (object stores
    would use a conditional PUT); the directory is fsynced after the
    rename, so the new document survives a power loss once this returns.
    The package's one commit protocol for driver-side state and
    manifests."""
    head, name = os.path.split(path)
    tmp = os.path.join(head, f".{name}.{uuid.uuid4().hex}.tmp")
    try:
        with open(tmp, "x", encoding="utf-8") as fh:
            json.dump(obj, fh, sort_keys=True)
            fh.flush()
            os.fsync(fh.fileno())
        os.replace(tmp, path)
    finally:
        if os.path.exists(tmp):  # the write or the rename failed
            os.remove(tmp)
    fsync_dir(head)


def fsync_dir(path: str) -> None:
    """Make the entries of directory ``path`` durable: a rename into it is
    lost on a power loss until the directory itself is fsynced."""
    fd = os.open(path or ".", os.O_RDONLY)
    try:
        os.fsync(fd)
    finally:
        os.close(fd)


def scratch_dir(prefix: str) -> str:
    """A fresh temp directory, removed at interpreter exit. Not sooner: the
    queries that make one return a lazy frame over files inside it."""
    path = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, path, True)
    return path


def read_json(path: str):
    """The JSON document at ``path``, or None if it was never written. Any
    other failure (unreadable, truncated) raises: state read as "never
    saved" would silently reset whatever it records."""
    try:
        with open(path, encoding="utf-8") as fh:
            return json.load(fh)
    except FileNotFoundError:
        return None


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_cols: list[str],
    n_buckets: int = 16,
) -> None:
    """Persist as a bucketed+sorted managed table (idempotent overwrite)."""
    (
        df.write.mode("overwrite")
        .bucketBy(n_buckets, *bucket_cols)
        .sortBy(*bucket_cols)
        .format("parquet")
        .saveAsTable(table_name)
    )


def read_table(spark: SparkSession, table_name: str) -> DataFrame:
    return spark.table(table_name)


#: Target rows per output file for the compaction planner (in production
#: derived from target file bytes / observed row width).
TARGET_ROWS_PER_FILE = 100_000


def partition_plan(
    df: DataFrame,
    partition_cols: list[str],
    target_rows_per_file: int = TARGET_ROWS_PER_FILE,
):
    """Small-files compaction planner: per output partition, the row count
    and the file count a writer should coalesce to (ceil(rows/target)).

    This is the decision table behind ``df.repartition(n, cols)`` before a
    partitioned write — at 100 TB the single biggest operational lever
    (thousands of tiny files per partition destroy both write commit time
    and downstream scan planning). One aggregate; integer math only.
    """
    from pyspark.sql import functions as F

    return df.groupBy(*partition_cols).agg(
        F.count("*").alias("n_rows"),
        F.ceil(
            F.count("*").cast("double") / target_rows_per_file
        ).cast("long").alias("target_files"),
    )
