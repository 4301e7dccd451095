"""Scale-adaptive parallelism for CPU-heavy stages (guide §2/§4).

Small single-file parquet inputs arrive as ONE scan partition (a 6 MB
documents table is far below maxPartitionBytes), so any expensive
per-row stage fed directly by the scan -- a Python kernel pass, a
per-char trigram explode -- runs on one core no matter how many the
session has.  The same starvation reappears mid-plan: AQE's partition
coalescing targets *bytes per partition*, which under-parallelizes
stages whose cost is per-row CPU, not I/O (a 3 MB candidate-pair table
can carry minutes of verify CPU).

`spread_for_cpu` hash-repartitions such a frame to the session's
defaultParallelism, but ONLY when the frame currently has fewer
partitions than that.  On a real cluster a 100-TB scan already has
orders of magnitude more partitions than cores, so this is a no-op
there -- the exchange is paid exactly when the input is too small to
feed the cores, which is when it is cheapest.  Hash partitioning on a
provided key (not round-robin) keeps the placement deterministic under
task retry and skips round-robin's sort-before-repartition pass.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def spread_for_cpu(df: DataFrame, *key_cols: str) -> DataFrame:
    """Hash-repartition `df` by `key_cols` to defaultParallelism iff it
    currently has fewer partitions than that (scale-adaptive: no-op on
    well-partitioned inputs)."""
    target = df.sparkSession.sparkContext.defaultParallelism
    try:
        current = df.rdd.getNumPartitions()
    except Exception:  # planning edge (e.g. streaming frame): leave as-is
        return df
    if current >= target:
        return df
    if key_cols:
        return df.repartition(target, *key_cols)
    return df.repartition(target)
