"""Table IO: Iceberg when a catalog is configured, parquet otherwise.

The production design (SURVEY.md §1.3) targets Iceberg tables
(`db.pages`, `db.triples`, `db.nodes`, `db.edges`) partitioned by
bucket(url).  The sandbox has no Iceberg runtime jar, so the same API
degrades to parquet paths -- the calling code is identical either way,
and the checkpoint manifests (plans/checkpoint.py) provide the
snapshot/rollback semantics Iceberg would otherwise supply.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

# the codec of the checkpoint stage tables and of `write_table` and
# `compact_table` (so a compaction does not re-inflate a stage): zstd,
# Iceberg's default.  The [TYPE-<hex>] key columns that fill most stage
# tables store in about 63% of snappy's bytes, and parquet readers take
# any codec per file, so tables written with another codec still read
# and union
PARQUET_CODEC = "zstd"


def iceberg_available(spark: SparkSession) -> bool:
    try:
        return bool(spark.conf.get(
            "spark.sql.catalog.spark_catalog.type", None))
    except Exception:
        return False


def write_table(df: DataFrame, target: str, mode: str = "overwrite",
                bucket_col: str | None = None,
                n_buckets: int = 64,
                partition_col: str | None = None) -> None:
    """Write to `target` (an Iceberg table name like 'db.triples' when a
    catalog is up, else a filesystem path).

    On Iceberg: `writeTo(...).partitionedBy(bucket(n, col))` (identity
    partition on `partition_col` when given).
    On parquet (`PARQUET_CODEC`, as the checkpoint stage tables):
    `partitionBy(partition_col)` produces the hive-style
    directory layout whose scans get real PartitionFilters pruning
    (plan-asserted in tests/test_bucketing.py); `bucket_col` repartitions
    by a hash of the column so downstream equi-joins on it read
    co-partitioned files."""
    spark = df.sparkSession
    if iceberg_available(spark) and "/" not in target:
        w = df.writeTo(target)
        parts = []
        if partition_col:
            from pyspark.sql.functions import col
            parts.append(col(partition_col))
        if bucket_col:
            from pyspark.sql.functions import bucket, col
            parts.append(bucket(n_buckets, col(bucket_col)))
        if parts:
            w = w.partitionedBy(*parts)
        (w.createOrReplace() if mode == "overwrite" else w.append())
        return
    if bucket_col:
        from pyspark.sql.functions import col, pmod, xxhash64
        df = df.repartition(n_buckets,
                            pmod(xxhash64(col(bucket_col)), n_buckets))
    w = df.write.mode(mode).option("compression", PARQUET_CODEC)
    if partition_col:
        w = w.partitionBy(partition_col)
    w.parquet(target)


def read_table(spark: SparkSession, target: str) -> DataFrame:
    if iceberg_available(spark) and "/" not in target:
        return spark.read.format("iceberg").load(target)
    return spark.read.parquet(target)


def compact_table(spark: SparkSession, path: str,
                  target_file_bytes: int = 128 << 20) -> dict:
    """Small-file compaction for a parquet table directory: rewrite the
    table into ceil(total_bytes / target_file_bytes) files and swap the
    directory atomically (tmp write -> rename).  Returns
    {files_before, files_after, bytes}.

    Why it exists: a streaming/incremental pipeline (foreachBatch
    appends, per-tranche stages) accretes thousands of KB-sized files;
    at 10^12 rows the NameNode/manifest pressure and per-file open cost
    dominate scan time long before the data does.  This is the parquet
    analogue of Iceberg's rewrite_data_files maintenance action -- with
    an Iceberg catalog, call that instead (snapshot-isolated, no
    directory swap needed).

    The swap is two renames (old -> trash, tmp -> path).  Each rename is
    atomic, but the pair is not: a reader racing the swap can hit a
    missing directory for the instant between them, and a crash in that
    window leaves the data parked in `<path>__compact_trash` -- this
    function auto-recovers that state on its next invocation (rename
    trash back before compacting).  It is a SINGLE-WRITER maintenance
    op; for concurrent readers/writers use Iceberg's rewrite_data_files
    (snapshot-isolated) instead."""
    import math
    import os
    import re
    import shutil

    # LOCAL-FS ONLY: the walk/rename swap below uses POSIX os calls.
    # Pointed at hdfs://, s3a://, etc. it would see zero files and
    # destructively "compact" nothing -- fail loudly instead.  (On a
    # real cluster use Iceberg rewrite_data_files, or port this to the
    # Hadoop FileSystem API.)  Hadoop emits BOTH 'file:///p' and the
    # single-slash 'file:/p' form; accept either, reject remote hosts.
    m = re.match(r"^([a-zA-Z][a-zA-Z0-9+.-]*):", path)
    if m and m.group(1) != "file":
        raise ValueError(
            f"compact_table only supports local paths, got scheme "
            f"{m.group(1)!r} -- use Iceberg rewrite_data_files for "
            f"remote filesystems")
    if m:  # file: scheme -- normalize to a plain POSIX path
        rest = path[len("file:"):]
        if rest.startswith("//"):
            host, _, p = rest[2:].partition("/")
            if host not in ("", "localhost"):
                raise ValueError(
                    f"compact_table: remote file host {host!r} unsupported")
            path = "/" + p
        else:
            path = rest

    trash = path.rstrip("/") + "__compact_trash"
    # crash recovery: a previous run that died between its two renames
    # left the table in trash -- restore it before doing anything
    if not os.path.exists(path) and os.path.exists(trash):
        os.rename(trash, path)

    files = [os.path.join(dp, f)
             for dp, _, fs in os.walk(path) for f in fs
             if f.endswith(".parquet")]
    total = sum(os.path.getsize(f) for f in files)
    n_out = max(1, math.ceil(total / target_file_bytes))
    df = spark.read.parquet(path)
    tmp = path.rstrip("/") + "__compact_tmp"
    (df.repartition(n_out).write.mode("overwrite")
     .option("compression", PARQUET_CODEC).parquet(tmp))
    shutil.rmtree(trash, ignore_errors=True)
    os.rename(path, trash)
    os.rename(tmp, path)
    shutil.rmtree(trash, ignore_errors=True)
    after = [f for dp, _, fs in os.walk(path) for f in fs
             if f.endswith(".parquet")]
    return {"files_before": len(files), "files_after": len(after),
            "bytes": total}
