"""Wave-10 operators: steady-state (probe-only) rows for the remaining
IVF lifecycle queries, completing the build-once/query-many split the
probe-only family started in waves 8-9.

  contrastive_triplets_probe_only  the per-batch mining cost of the
                        triplet miner WITHOUT the one-time index build
                        contrastive_triplets_ivf's row includes — the
                        ann_hard_negatives_probe_only treatment applied
                        to the miner family's last member
  ivf_compact_probe_only  the post-compaction SERVING cost on its own:
                        seed + delta + fold all persist write-if-missing
                        OUTSIDE the timed path; the row times only the
                        batch probe against the already-folded index —
                        what a query pays at steady state after the
                        maintenance job ran

Both reuse their eager-construct sibling's oracle SQL verbatim (the
result sets are identical by construction; only what the bench timer
wraps differs).  Index paths are salted with the md5 of the clustering
module's source AND a data fingerprint of the embeddings parquet, so a
code change or in-place data regeneration can never serve a stale index.
"""

from __future__ import annotations

import hashlib
import inspect

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from . import store
from .queries import _REGISTRY, load, register


def _salted_ivf_path(spark, sf_dir: str, tag: str, extra: str = "") -> str:
    from .operators import clustering as cl
    from .queries_ext import _data_fingerprint, _scan_path

    salt = hashlib.md5(
        (
            inspect.getsource(cl)
            + f"|{tag}|{extra}|"
            + _data_fingerprint(spark, sf_dir, "embeddings")
        ).encode()
    ).hexdigest()[:10]
    return _scan_path(sf_dir, f"{tag}_{salt}")


# ===========================================================================
# Triplet mining, probe-only: the miner family's steady-state row
# ===========================================================================
_TRIPLET_NPROBE = 2  # matches contrastive_triplets_ivf


@register(
    "contrastive_triplets_probe_only",
    _REGISTRY["contrastive_triplets_ivf"].oracle,
    doc="The probe half of contrastive_triplets_ivf measured on its own: "
    "the IVF index persists ONLY if absent (write-if-missing, path "
    "salted with the clustering module's source md5 AND a data "
    "fingerprint of the embeddings parquet), so after the first run the "
    "timed path is purely what a mining batch pays at steady state — "
    "probe choice + own-list union + one broadcast equi-join on the "
    "partition-pruned lists store + two per-anchor window ranks.  "
    "Completes the probe-only family (lsh_match_probe_only, "
    "ann_hard_negatives_probe_only, ivf_compact_probe_only): every "
    "index-backed miner now has a steady-state row separating per-batch "
    "serving cost from the one-time build.  Same oracle as "
    "contrastive_triplets_ivf.",
)
def contrastive_triplets_probe_only(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from .operators.clustering import (
        ivf_probe_batch,
        read_ivf_lists,
        write_ivf_index,
    )
    from .operators.similarity import cosine

    e = load(spark, sf_dir, "embeddings")
    path = _salted_ivf_path(
        spark, sf_dir, "ivf_index_trip_ro", f"nprobe={_TRIPLET_NPROBE}"
    )
    # centroids writes LAST in write_ivf_index, so its _SUCCESS marker
    # gates against a half-written index
    if not store.exists(spark, f"{path}/centroids/_SUCCESS"):
        write_ivf_index(e, path)
    # the timed path: probe + own-list union + mine, exactly the
    # contrastive_triplets_ivf body (cited there; reference semantics
    # per its docstring), against the pre-persisted index alone
    anchors = e.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").cast("array<double>").alias("qv"),
        F.col("label").alias("qlabel"),
    )
    probe = (
        ivf_probe_batch(spark, path, anchors, nprobe=_TRIPLET_NPROBE)
        .unionByName(
            anchors.withColumn("list_id", F.col("qlabel").cast("int"))
        )
        .dropDuplicates(["qid", "list_id"])
    )
    lists = read_ivf_lists(spark, path).select(
        F.col("vec_id").alias("nid"),
        F.col("embedding").cast("array<double>").alias("nv"),
        F.col("list_id").cast("int").alias("list_id"),
    )
    sims = (
        lists.join(F.broadcast(probe), "list_id")
        .filter(F.col("nid") != F.col("qid"))
        .select(
            "qid",
            "qlabel",
            "nid",
            F.col("list_id").alias("nlabel"),
            F.round(cosine(F.col("nv"), F.col("qv")), 6).alias("sim"),
        )
    )
    wnd = W.partitionBy("qid").orderBy(F.col("sim").desc(), F.col("nid"))
    pos = (
        sims.filter(F.col("nlabel") == F.col("qlabel"))
        .withColumn("rk", F.row_number().over(wnd))
        .filter(F.col("rk") == 1)
        .select(
            "qid", F.col("nid").alias("pos_id"), F.col("sim").alias("pos_cos")
        )
    )
    neg = (
        sims.filter(F.col("nlabel") != F.col("qlabel"))
        .withColumn("rk", F.row_number().over(wnd))
        .filter(F.col("rk") == 1)
        .select(
            "qid", F.col("nid").alias("neg_id"), F.col("sim").alias("neg_cos")
        )
    )
    return pos.join(neg, "qid").select(
        F.col("qid").alias("anchor_id"),
        "pos_id", "pos_cos", "neg_id", "neg_cos",
        F.floor((F.col("pos_cos") - F.col("neg_cos")) * 1e6 + 0.5)
        .cast("long")
        .alias("margin_micro"),
    )


# ===========================================================================
# Post-fold probe, probe-only: the maintenance lifecycle's serving row
# ===========================================================================
_CP_NPROBE = 2
_CP_TOPK = 5


@register(
    "ivf_compact_probe_only",
    _REGISTRY["ivf_compact_probe_parity"].oracle,
    doc="The serving half of ivf_compact_probe_parity measured on its "
    "own: seed write + delta append + compaction fold ALL persist "
    "write-if-missing OUTSIDE the timed path (a _FOLDED marker written "
    "after the fold gates completeness; the path is salted with the "
    "clustering module's source md5 + a data fingerprint, so any code "
    "or data change rebuilds), leaving the timed query exactly what a "
    "search pays AFTER the maintenance job ran: probe choice + one "
    "broadcast equi-join over the folded, partition-pruned lists store "
    "+ a per-anchor window rank.  ivf_compact_probe_parity's row keeps "
    "proving the fold lifecycle end-to-end; this row is the one that "
    "tracks steady-state serving cost.  Same oracle.",
)
def ivf_compact_probe_only(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from .operators.clustering import (
        append_ivf_batch,
        compact_ivf_index,
        ivf_probe_batch,
        read_ivf_lists,
        write_ivf_index,
    )
    from .operators.similarity import cosine

    e = load(spark, sf_dir, "embeddings")
    # the build RECIPE (seed/delta split, batch id, fold args) lives in
    # this function, not the clustering module — salt with this source
    # too, or editing the recipe would keep serving the stale fold
    path = _salted_ivf_path(
        spark,
        sf_dir,
        "ivf_compact_ro",
        hashlib.md5(
            inspect.getsource(ivf_compact_probe_only).encode()
        ).hexdigest()[:10],
    )
    # the _FOLDED marker is written only after the whole build-append-
    # fold chain completed, so a crash mid-build rebuilds from scratch
    if not store.exists(spark, f"{path}/_FOLDED"):
        shutil.rmtree(path, ignore_errors=True)
        write_ivf_index(e.filter(F.col("vec_id") % 4 != 3), path)
        append_ivf_batch(
            e.filter(F.col("vec_id") % 4 == 3), path, batch_id=1
        )
        compact_ivf_index(spark, path, upto_batch_id=1)
        store.touch(spark, f"{path}/_FOLDED")
    # the timed path: a batch probe against the folded on-disk index
    anchors = e.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").cast("array<double>").alias("qv"),
    )
    probe = ivf_probe_batch(spark, path, anchors, nprobe=_CP_NPROBE)
    lists = read_ivf_lists(spark, path).select(
        F.col("vec_id").alias("nid"),
        F.col("embedding").cast("array<double>").alias("nv"),
        F.col("list_id").cast("int").alias("list_id"),
    )
    sims = (
        lists.join(F.broadcast(probe), "list_id")
        .filter(F.col("nid") != F.col("qid"))
        .select(
            "qid",
            "nid",
            F.round(cosine(F.col("nv"), F.col("qv")), 6).alias("cos_sim"),
        )
    )
    wnd = W.partitionBy("qid").orderBy(F.col("cos_sim").desc(), F.col("nid"))
    return (
        sims.withColumn("rk", F.row_number().over(wnd))
        .filter(F.col("rk") <= _CP_TOPK)
        .select("qid", "nid", "cos_sim", F.col("rk").cast("long").alias("rk"))
    )
