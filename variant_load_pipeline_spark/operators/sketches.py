"""Persisted KMV (k-minimum-values / theta) sketch store — the
SET-OPERATIONS member of the mergeable-sketch family gets the same
build-once/query-many treatment as the IVF and BM25 stores: per-source
bottom-k shingle-hash synopses persist once, document batches append
their own bottom-k WITHOUT touching the seed, and the pairwise
union/intersection estimators answer from the store alone — "how much
do these two 100-TB sources overlap?" without ever re-scanning a
corpus [Bar-Yossef et al. 2002; Beyer et al., SIGMOD 2007 — public].

The store is O(k) rows per source regardless of corpus size, and the
KMV merge law is what makes the append path exact, not approximate:

    bottom_k(A ∪ B) = bottom_k(bottom_k(A) ∪ bottom_k(B))

so a reader that unions the seed sketch with every batch sketch and
re-takes the per-source bottom-k holds EXACTLY the sketch a from-
scratch build over the union of documents would produce (pinned by
test, and by kmv_overlap_probe_only sharing the estimator SQL of the
from-scratch computation).  Appends are idempotent per batch partition
(``store.overwrite_partitions``); duplicate hashes
across generations collapse in the reader's DISTINCT, so sketch reads
need no crash-window caveats at all.

Layout (``<path>/``):

* ``sketches/source=<s>/``      (h) — the seed bottom-k per source
* ``sketches_delta/batch_id=<n>/source=<s>/`` (h) — per-batch bottom-k

The exact-overlap audit (kmv_sketch_intersection's gram equi-join)
stays a separate QC row — the production probe never touches it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from .. import store

KMV_K = 128


def _source_bottom_k(
    docs: DataFrame, k: int, text_col: str, src_col: str
) -> DataFrame:
    """Per-source bottom-k distinct 3-gram shingle hashes — the KMV
    synopsis (functions.text.shingle_hash, the md5-prefix hash every
    sketch/band operator in this repo ranks on)."""
    from ..functions.text import shingle_hash, shingles

    # one dedup on (source, h) directly: the gram-level pre-distinct the
    # build used to pay changed nothing about the distinct hash sets
    hs = (
        docs.select(
            F.col(src_col).alias("source"),
            F.explode(shingles(F.col(text_col), 3)).alias("gram"),
        )
        .select("source", shingle_hash(F.col("gram")).alias("h"))
        .distinct()
    )
    wnd = W.partitionBy("source").orderBy("h")
    return (
        hs.withColumn("hrk", F.row_number().over(wnd))
        .filter(F.col("hrk") <= k)
        .select("source", "h")
    )


def write_kmv_sketches(
    docs: DataFrame,
    path: str,
    k: int = KMV_K,
    text_col: str = "text",
    src_col: str = "source",
) -> None:
    """Build the seed sketch store: per-source bottom-k, partitioned by
    source so a pair probe prunes to its two sources' directories."""
    _source_bottom_k(docs, k, text_col, src_col).write.mode(
        "overwrite"
    ).partitionBy("source").parquet(f"{path}/sketches")


def append_kmv_batch(
    batch: DataFrame,
    path: str,
    batch_id: int,
    k: int = KMV_K,
    text_col: str = "text",
    src_col: str = "source",
) -> None:
    """Append a document batch's own bottom-k under its ``batch_id``
    partition — idempotent under redelivery (dynamic overwrite of the
    batch's own partition only), additive like the BM25 stats rows:
    readers merge by union + re-bottom-k, never read-modify-write.
    Unlike the BM25/IVF appends there is no disjointness precondition:
    KMV tolerates arbitrary overlap between batches by construction
    (duplicate hashes collapse in the merge's DISTINCT)."""
    sk = _source_bottom_k(batch, k, text_col, src_col).withColumn(
        "batch_id", F.lit(batch_id)
    )
    store.overwrite_partitions(
        sk, f"{path}/sketches_delta", ["batch_id", "source"]
    )


def read_kmv_sketches(spark, path: str, k: int = KMV_K) -> DataFrame:
    """The merged per-source sketch: seed ∪ deltas, DISTINCT, re-take
    the bottom-k — exactly the from-scratch sketch by the KMV merge
    law.  O(sources × k × generations) rows in, O(sources × k) out.

    A delta-only store (append_kmv_batch before any write_kmv_sketches
    — the LSM-style bootstrap every other store supports) serves from
    the delta union alone; the first fold creates the seed."""
    seed_dir = f"{path}/sketches"
    sk = (
        spark.read.parquet(seed_dir).select("source", "h")
        if store.exists(spark, seed_dir)
        else None
    )
    delta_dir = f"{path}/sketches_delta"
    if store.child_ids(spark, delta_dir, "batch_id"):
        # explicit basePath: partition inference must never guess a
        # common root from the leaf listing (a fold deleting one batch
        # dir between two reads in a session otherwise trips
        # CONFLICTING_DIRECTORY_STRUCTURES on the cached file index)
        delta = (
            spark.read.option("basePath", delta_dir)
            .parquet(delta_dir)
            .select("source", "h")
        )
        sk = sk.unionByName(delta) if sk is not None else delta
    if sk is None:
        raise ValueError(f"no KMV store at {path} (no seed, no deltas)")
    sk = sk.distinct()
    wnd = W.partitionBy("source").orderBy("h")
    return (
        sk.withColumn("hrk", F.row_number().over(wnd))
        .filter(F.col("hrk") <= k)
        .select("source", "h")
    )


def compact_kmv_sketches(spark, path: str, upto_batch_id: int, k: int = KMV_K) -> int:
    """Fold committed sketch batches into the seed — the maintenance
    job completing the store's lifecycle (its BM25/IVF siblings':
    probes otherwise pay an O(batches) partition listing forever).
    The fold IS the merge law: seed ∪ committed deltas, DISTINCT,
    re-bottom-k per source — so the folded seed is bit-identical in
    content to a from-scratch build over the same documents, and the
    whole job is O(sources × k × generations) rows, never a corpus
    scan.  Uncommitted batches (> ``upto_batch_id``) stay in place.

    Crash-safe by the store.py protocol (whole-table swap through
    ``.sketches_tmp`` / ``.sketches_old``): a delete-crash leaves folded
    rows in both the seed and a leftover delta — harmless, the reader's
    DISTINCT collapses them and the next fold removes the leftovers.  Same checkpoint contract
    as every other fold: only fold batch ids the stream has committed.
    Returns the number of batch partitions folded."""
    live, old = f"{path}/sketches", f"{path}/.sketches_old"
    store.recover(spark, live, old)
    delta_dir = f"{path}/sketches_delta"
    committed = [
        b
        for b in store.child_ids(spark, delta_dir, "batch_id")
        if b <= upto_batch_id
    ]
    if not committed:
        return 0
    # a delta-only store (the LSM bootstrap) has no seed yet: the first
    # fold creates it from the committed deltas alone
    delta = (
        spark.read.option("basePath", delta_dir)
        .parquet(*[f"{delta_dir}/batch_id={b}" for b in committed])
        .select("source", "h")
    )
    sk = (
        spark.read.parquet(live).select("source", "h").unionByName(delta)
        if store.exists(spark, live)
        else delta
    ).distinct()
    wnd = W.partitionBy("source").orderBy("h")
    merged = (
        sk.withColumn("hrk", F.row_number().over(wnd))
        .filter(F.col("hrk") <= k)
        .select("source", "h")
    )
    tmp = f"{path}/.sketches_tmp"
    store.delete(spark, tmp)
    merged.write.mode("overwrite").partitionBy("source").parquet(tmp)
    store.swap(spark, live, tmp, old)
    store.drop_children(spark, delta_dir, committed, "batch_id")
    store.delete(spark, old)
    return len(committed)


def kmv_pair_estimates(sketches: DataFrame, k: int = KMV_K) -> DataFrame:
    """Beyer et al. union/intersection estimators over every source
    pair of a sketch frame (source, h): per pair, the union sketch is
    the bottom-k of the two sketches' hash union; theta_h its k-th
    minimum; m the matching hashes inside it.  est_union =
    (k_eff−1)/u_(k) over the normalized 2^32 hash space; est_inter =
    (m/k_eff)·est_union.  The pair frame is bounded by SOURCE
    cardinality (the allowlisted tiny cross join), all ranking is
    exact-integer, and the only float math is one division of exact
    BIGINTs — IEEE-identical across engines (the kmv_sketch_
    intersection idiom, minus the corpus-touching exact audit)."""
    srcs = sketches.select("source").distinct()
    pairs = (
        srcs.select(F.col("source").alias("source_a"))
        .crossJoin(srcs.select(F.col("source").alias("source_b")))
        .filter(F.col("source_a") < F.col("source_b"))
    )
    ua = pairs.join(
        sketches.withColumnRenamed("source", "source_a"), "source_a"
    ).select(
        "source_a", "source_b", "h",
        F.lit(1).alias("ia"), F.lit(0).alias("ib"),
    )
    ub = pairs.join(
        sketches.withColumnRenamed("source", "source_b"), "source_b"
    ).select(
        "source_a", "source_b", "h",
        F.lit(0).alias("ia"), F.lit(1).alias("ib"),
    )
    u = (
        ua.unionByName(ub)
        .groupBy("source_a", "source_b", "h")
        .agg(F.max("ia").alias("ia"), F.max("ib").alias("ib"))
    )
    wnd = W.partitionBy("source_a", "source_b").orderBy("h")
    bott = u.withColumn("rk", F.row_number().over(wnd)).filter(
        F.col("rk") <= k
    )
    st = bott.groupBy("source_a", "source_b").agg(
        F.max("h").alias("theta_h"),
        F.count(F.lit(1)).alias("k_eff"),
        F.sum(F.col("ia") * F.col("ib")).alias("m"),
    )
    est_inter = F.round(
        (F.col("m") * (F.col("k_eff") - 1)).cast("double")
        * F.lit(4294967296.0)
        / (
            F.col("k_eff").cast("double")
            * (F.col("theta_h") + 1).cast("double")
        ),
        6,
    )
    est_union = F.round(
        (F.col("k_eff") - 1).cast("double")
        * F.lit(4294967296.0)
        / (F.col("theta_h") + 1).cast("double"),
        6,
    )
    return st.select(
        "source_a",
        "source_b",
        F.col("k_eff").cast("long").alias("k_eff"),
        F.col("m").cast("long").alias("m"),
        F.col("theta_h").cast("long").alias("theta_h"),
        est_inter.alias("est_inter"),
        est_union.alias("est_union"),
    )
