"""Scan-parallelism guard for compute-heavy operators over small inputs.

A parquet table written as one (or a few) row groups cannot be split
below row-group granularity: the scan plans 1-2 tasks no matter how
many cores the cluster has, and every per-row computation ABOVE the
scan and BELOW the first exchange (SimHash's token explode and vote
sums) runs effectively serial. This is
the guide's "input skew: one huge unsplittable file" case — fix is to
repartition immediately after the read.

The guard is SCALE-ADAPTIVE, never a local-mode constant: it compares
the scan's actual partition count against the cluster's slot count
(``defaultParallelism`` — from the session/submit conf) and becomes a
no-op the moment the source provides enough natural splits, so a
corpus-scale multi-file table never pays the extra exchange. The
repartition key is the operator's row key (deterministic hash — no
round-robin, no sort-before-repartition pass, stable under retries per
SPARK-38388's guidance), and the exchange itself moves only the narrow
projection the operator needs (column pruning pushes the select below
the repartition).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def spread_scan(df: DataFrame, *key_cols: Column | str, factor: int = 2) -> DataFrame:
    """Repartition ``df`` across the cluster's slots when its physical
    layout under-parallelizes the scan (fewer than ``slots / factor``
    partitions); identity otherwise. Results are invariant — only the
    row-to-task placement changes."""
    try:
        sc = df.sparkSession.sparkContext
        target = sc.defaultParallelism
        n_scan = df.rdd.getNumPartitions()
    except Exception:
        return df
    if target <= 1 or n_scan * factor > target:
        return df
    keys = [F.col(k) if isinstance(k, str) else k for k in key_cols]
    if not keys:
        return df.repartition(target)
    return df.repartition(target, *keys)
