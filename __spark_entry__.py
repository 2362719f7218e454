"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)  -> flagship query on /root/testdata/sf0.001 (variant-load
                 slice: synthesize variants, zygosity + genic annotation).
queries()     -> every implemented operator from SURVEY.md §2 as
                 (spark, sf_dir) -> DataFrame callables.
oracle_sql()  -> matching DuckDB SQL for the correctness gate.

Implementation lives in variant_load_pipeline_spark.queries; this module
stays a thin adapter so the driver import is cheap and stable.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from variant_load_pipeline_spark import queries as Q  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the VariantLoad3 slice — synthesized variants with full
    zygosity annotation + genic status at sf0.001.  Genic status comes from
    `plans.load.attach_genic_status`, the single bucket-probe (broadcast
    (chrom, bin) -> interval arrays + `exists`) that the load plans, J2 and
    GenicStatusFixUp all use."""
    sf_dir = "/root/testdata/sf0.001"
    from pyspark.sql import functions as F

    from variant_load_pipeline_spark.plans.load import attach_genic_status

    v = Q.zygosity_snv(spark, sf_dir)
    g = Q._gene_cols(Q.load(spark, sf_dir, "part")).select(
        F.col("chrom").alias("chromosome"),
        F.col("gstart").alias("start_pos"),
        F.col("gstop").alias("stop_pos"),
    )
    return attach_genic_status(v, g, chrom_col="chrom", pos_col="pos")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: q.spark_fn for name, q in Q.registry().items()}


def oracle_sql() -> dict[str, str]:
    return {
        name: q.oracle for name, q in Q.registry().items() if q.oracle is not None
    }
