"""Streaming variant load — VariantLoad3's derive+annotate stages over
unbounded CF2 input (capability extension: the reference is batch-only, but
an ingest pipeline at 100 TB wants variants annotated as files land).

Both stages run on a streaming frame unchanged: the scalar/zygosity stage
(`plans.load.derive_variants`) is pure narrow operations, and genic status
(`plans.load.attach_genic_status`) is one left join against a broadcast
(chromosome, bin) -> interval-array table plus an `F.exists` probe — no
anti join, which stream-static joins do not support.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..plans.load import SampleInfo, attach_genic_status, derive_variants


def variant_load_stream(
    cf2: DataFrame, sample: SampleInfo, genes: DataFrame
) -> DataFrame:
    """The VariantLoad3 derive+annotate slice, batch- and stream-callable:
    scalar derivations, zygosity suite, zero-called filter, genic status.
    Append-mode compatible (no aggregation state); id allocation stays a
    batch concern (per-micro-batch ids would not be globally deterministic).
    """
    return attach_genic_status(derive_variants(cf2, sample), genes)
