"""Table-maintenance plans: small-file compaction and write audits.

At 100 TB the silent killer is file-count explosion — thousands of
micro-batch appends or over-partitioned writes leave millions of sub-MB
parquet files, and every downstream scan pays per-file open/footer cost.
Compaction is the standing maintenance job: read the fragmented table
and rewrite it to size-targeted files at a new path (``compact``); the
caller audits the copy with ``fragment_stats`` and switches paths.

These helpers run on any Hadoop-visible path; file enumeration goes
through store.files (the Hadoop FileSystem API, not os.listdir), so the
same code works on HDFS/S3A in cluster mode.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from .. import store


@dataclass
class FragmentStats:
    n_files: int
    total_bytes: int
    n_rows: int

    @property
    def avg_file_bytes(self) -> float:
        return self.total_bytes / self.n_files if self.n_files else 0.0


def fragment_stats(spark: SparkSession, path: str) -> FragmentStats:
    sizes = [
        n for f, n, _ in store.files(spark, path) if f.endswith(".parquet")
    ]
    return FragmentStats(
        n_files=len(sizes),
        total_bytes=sum(sizes),
        n_rows=spark.read.parquet(path).count(),
    )


def compact(
    spark: SparkSession,
    src_path: str,
    dst_path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> FragmentStats:
    """Rewrite `src_path` into `dst_path` with size-targeted files.

    File count = ceil(current total bytes / target) — computed from the
    source's ACTUAL on-disk size, so compression ratio carries over
    without guessing rows-per-byte.  One shuffle-free coalesce when
    shrinking file count (the common case); repartition only if the
    source has too FEW partitions to hit the target (rare for
    compaction).  Content is preserved row-for-row; callers verify with
    `fragment_stats` (row counts) before swapping paths — the audit half
    of the job.
    """
    before = fragment_stats(spark, src_path)
    n_out = max(1, math.ceil(before.total_bytes / target_file_bytes))
    df: DataFrame = spark.read.parquet(src_path)
    cur = df.rdd.getNumPartitions()
    shaped = df.coalesce(n_out) if cur >= n_out else df.repartition(n_out)
    shaped.write.mode("overwrite").parquet(dst_path)
    return fragment_stats(spark, dst_path)
