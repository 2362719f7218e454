"""Embedding clustering for corpus curation: deterministic integer
k-means (Lloyd's algorithm, fixed iterations) and SemDeDup-style
within-cluster semantic dedup [Abbas et al. 2023 — public].

Exactness design: vectors are quantized to integer milli-units
(floor(x*1000)) so every distance is exact BIGINT arithmetic, centroid
updates are floor-of-mean integers, and tie-breaks are by smallest
cluster id — the whole fit is bit-reproducible, engine-portable, and a
DuckDB oracle can replay it CTE-by-CTE.  (Float k-means converges to the
same clusters but its argmin ties are not portable.)

Scale: the per-iteration work is one assignment pass (k distance
expressions, pure JVM codegen — centroids ride into the plan as
literals, the broadcast-of-model pattern) and one centroid update
(explode to (cluster, dim), one groupBy, k*dim tiny rows to the driver —
model state, not data).  Cluster count k is the model size; data never
cross-joins.  SemDeDup's candidate pairs are an equi-join on the cluster
id — the clustering is exactly what bounds the O(n^2) pair blowup.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .. import store


def int_vectors(
    vec_col: Column, scale: int = 1000
) -> Column:
    """Quantize a float vector to exact integer milli-units:
    floor(double(x) * scale) per element.  float->double widening is
    exact, so both engines produce identical longs."""
    return F.transform(
        vec_col,
        lambda x: F.floor(x.cast("double") * F.lit(scale)).cast("long"),
    )


def _sql_bigint_array(vals) -> str:
    """A literal array<bigint> as ONE SQL fragment.  The per-element
    ``F.array(*[F.lit(v).cast('long') ...])`` form costs one py4j
    round-trip per element — for a k x dim centroid model that is
    thousands of driver->JVM calls and dominated plan construction
    (measured 1.9 s vs 2 ms for k=8, dim=64; the ``_planes_sql``
    lesson from operators/similarity.py).  Values are identical."""
    return "array(" + ",".join(f"{int(v)}L" for v in vals) + ")"


def _sql_double_array(vals) -> str:
    """A literal array<double> as ONE SQL fragment; ``repr(float)`` is the
    shortest exact decimal representation, and Spark's D-suffixed literal
    parses it back to the bit-identical double (same convention as
    ``_planes_sql``).  Non-finite values have no D-literal spelling
    ('infD' does not parse), so they render as explicit string casts —
    the behavior the old per-element F.lit(float(x)) path had."""
    import math

    parts = []
    for x in vals:
        x = float(x)
        if math.isfinite(x):
            parts.append(f"{x!r}D")
        elif math.isnan(x):
            parts.append("CAST('NaN' AS DOUBLE)")
        else:
            sign = "" if x > 0 else "-"
            parts.append(f"CAST('{sign}Infinity' AS DOUBLE)")
    return "array(" + ",".join(parts) + ")"


def _sql_ident(name: str) -> str:
    """Backtick-quote an identifier for splicing into a SQL fragment;
    embedded backticks double per the SQL quoting rule (the old F.col()
    path accepted any name, so the parsed-SQL path must too)."""
    return "`" + name.replace("`", "``") + "`"


def _dist2_sql(qv_sql: str, centroid: list[int]) -> str:
    """Exact squared distance of `qv_sql` to a centroid literal, as SQL."""
    return (
        f"aggregate(zip_with({qv_sql}, {_sql_bigint_array(centroid)}, "
        "(a, b) -> (a - b) * (a - b)), CAST(0 AS BIGINT), "
        "(acc, x) -> acc + x)"
    )


def _argmin_exprs(
    qv_col: str, centroids: list[tuple[int, list[int]]]
) -> tuple[Column, Column]:
    """(cluster, dist_sq) expressions: argmin exact squared distance over
    the centroid list, ties to the SMALLEST cluster id (centroids must be
    sorted by id; array_position returns the first minimum).

    Built as TWO parsed SQL expressions regardless of k*dim: the
    per-literal Column form paid ~2 s of py4j round-trips per
    construction at k=8 x dim=64 (every bench repeat of every
    kmeans-family query), the parsed form ~2 ms — values bit-identical
    (verified by exceptAll both ways on the full assignment)."""
    cents = sorted(centroids)
    qv_sql = _sql_ident(qv_col)
    dists_sql = (
        "array(" + ",".join(_dist2_sql(qv_sql, c) for _, c in cents) + ")"
    )
    cl_sql = "array(" + ",".join(str(int(cl)) for cl, _ in cents) + ")"
    cluster = F.expr(
        f"element_at({cl_sql}, CAST(array_position({dists_sql}, "
        f"array_min({dists_sql})) AS INT))"
    )
    return cluster, F.expr(f"array_min({dists_sql})")


# Above this many scalar literals (k * dim) the model no longer rides
# into the plan as expressions: Catalyst plans with tens of thousands of
# literals inflate task binaries toward the ~1 MB whole-stage-codegen
# pathology measured in pq_fit_encode (and at production IVF k ~ sqrt(n)
# — 1e4-1e6 lists — fail to compile outright), so probe/assign
# auto-switch to the broadcast-join argmin whose codegen is
# constant-size however large k*dim grows.  4096 keeps fixture-scale
# plans on the (faster, join-free) literal path; the boundary is pinned
# by a golden test proving both paths bit-identical.
IVF_LITERAL_MAX_TERMS = 4096


def assign_clusters(
    df: DataFrame,
    centroids: list[tuple[int, list[int]]],
    qv_col: str = "qv",
    strategy: str = "auto",
) -> DataFrame:
    """Adds (cluster, dist_sq): exact squared-distance argmin over the
    centroid model, ties to the smallest cluster id.

    ``strategy``: 'literal' compiles the centroids into plan expressions
    (_argmin_exprs — no join planned; right at small k*dim), 'join'
    broadcasts them as a table and takes min(struct(dist, cluster)) —
    identical math and tie-break, constant-size codegen at any k*dim
    (the fit_centroids pattern).  'auto' switches at
    IVF_LITERAL_MAX_TERMS scalar literals."""
    if strategy == "auto":
        strategy = (
            "literal"
            if len(centroids) * len(centroids[0][1]) <= IVF_LITERAL_MAX_TERMS
            else "join"
        )
    # pre-existing cluster/dist_sq columns are REPLACED on both paths
    # (the literal path's withColumn used to overwrite them silently while
    # the join path collided on the broadcast table's names): dropping
    # first makes the two strategies interchangeable on that edge
    base = df.drop("cluster", "dist_sq")
    if strategy == "literal":
        cluster, dist_sq = _argmin_exprs(qv_col, centroids)
        return base.withColumn("dist_sq", dist_sq).withColumn(
            "cluster", cluster
        )
    spark = df.sparkSession

    def fresh(n: str) -> str:
        # internal-name guard: suffix until absent from the input columns
        while n in base.columns:
            n += "_"
        return n

    rid, cvn, cln, dn, mmn = (
        fresh("__rowid"), fresh("__cvec"), fresh("__cl"), fresh("__d"),
        fresh("__mm"),
    )
    cdf = spark.createDataFrame(
        [(int(cl), [int(v) for v in cv]) for cl, cv in centroids],
        "cluster int, cvec array<bigint>",
    ).select(F.col("cluster").alias(cln), F.col("cvec").alias(cvn))
    d = F.aggregate(
        F.zip_with(F.col(qv_col), F.col(cvn), lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    # one row key per input row; evaluated below the broadcast join, so
    # every (row, centroid) copy shares it and the groupBy restores the
    # original row exactly (F.first over identical copies)
    qk = base.withColumn(rid, F.monotonically_increasing_id())
    agg = (
        qk.crossJoin(F.broadcast(cdf))
        .withColumn(dn, d)
        .groupBy(rid)
        .agg(
            *[F.first(c).alias(c) for c in base.columns],
            F.min(F.struct(F.col(dn), F.col(cln))).alias(mmn),
        )
    )
    return agg.select(
        *base.columns,
        F.col(mmn).getField(dn).alias("dist_sq"),
        F.col(mmn).getField(cln).alias("cluster"),
    )


def kmeans_fit_assign(
    df: DataFrame,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 1000,
) -> DataFrame:
    """Deterministic Lloyd's k-means over integer-quantized vectors:
    seeds = the k rows with smallest id, exactly ``iters`` centroid
    updates, output = the final assignment (id, qv, cluster, dist_sq).

    Centroid state (k*dim ints) is collected to the driver each round —
    that is the MODEL, not the data, the same legitimacy class as a
    broadcast join build side.  Empty clusters simply drop out (their id
    never re-seeds), matching the SQL oracle's semantics.
    """
    base = df.select(
        F.col(id_col), int_vectors(F.col(vec_col), scale).alias("qv")
    ).persist()
    cents = fit_centroids(base, k=k, iters=iters, id_col=id_col)
    return assign_clusters(base, cents)


def fit_centroids(
    base: DataFrame,
    k: int,
    iters: int,
    id_col: str = "vec_id",
    qv_col: str = "qv",
) -> list[tuple[int, list[int]]]:
    """The Lloyd's loop of kmeans_fit_assign, exposed for reuse (PQ fits
    one codebook per subspace): seeds = qv of the k smallest ids, then
    ``iters`` rounds of exact assign + floor-of-mean update.  Returns the
    sorted (cluster_id, centroid) list; empty clusters drop out."""
    seed_rows = base.select(id_col, qv_col).orderBy(id_col).limit(k).collect()
    cents = [(i, list(r[qv_col])) for i, r in enumerate(seed_rows)]
    spark = base.sparkSession
    for _ in range(iters):
        # assignment by broadcast JOIN against the centroid table with a
        # min(struct(dist, cluster)) argmin — same math as the literal-
        # expression assign_clusters (same tie-break), but the model
        # rides as data, so codegen stays constant-size however large
        # k*dim grows (the pq_fit_encode lesson)
        cdf = spark.createDataFrame(
            [(int(cl), [int(v) for v in cv]) for cl, cv in cents],
            "cluster int, cvec array<bigint>",
        )
        d = F.aggregate(
            F.zip_with(qv_col, "cvec", lambda a, b: (a - b) * (a - b)),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )
        assigned = (
            base.crossJoin(F.broadcast(cdf))
            .withColumn("__d", d)
            .groupBy(id_col)
            .agg(
                F.min(F.struct(F.col("__d"), F.col("cluster"))).alias("mm"),
                F.first(qv_col).alias(qv_col),
            )
            .select(id_col, F.col("mm.cluster").alias("cluster"), qv_col)
        )
        upd = (
            assigned.select(
                "cluster", F.posexplode(qv_col).alias("dim", "val")
            )
            .groupBy("cluster", "dim")
            .agg(F.sum("val").alias("s"), F.count(F.lit(1)).alias("n"))
            .collect()
        )
        by_cl: dict[int, dict[int, int]] = {}
        for r in upd:
            # floor-of-mean in exact arithmetic: Python // floors toward
            # -inf, identical to floor(sum::double/count) in the oracle
            by_cl.setdefault(r["cluster"], {})[r["dim"]] = r["s"] // r["n"]
        dim = len(cents[0][1])
        cents = [
            (cl, [dims[d] for d in range(dim)])
            for cl, dims in sorted(by_cl.items())
        ]
    return cents


def semdedup_pairs(
    assigned: DataFrame,
    threshold: float = 0.3,
    id_col: str = "vec_id",
    qv_col: str = "qv",
    round_dp: int = 6,
) -> DataFrame:
    """SemDeDup [Abbas et al. 2023]: semantic near-duplicate pairs found
    ONLY within a k-means cluster — the clustering bounds candidate
    generation to an equi-join on the cluster id, trading recall for
    never materializing the global O(n^2) pair space (pairs whose
    members land in different clusters are missed by design; raise k to
    shrink clusters, lower it to raise recall).

    Cosine over the integer qv vectors: dot/norms are exact longs (so
    any summation order agrees), only the final divide/sqrt/round is
    float — engine-portable.  Output: (cluster, id_a, id_b, sim).
    """
    dot = lambda a, b: F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    side = lambda tag: assigned.select(
        F.col("cluster"),
        F.col(id_col).alias(f"id_{tag}"),
        F.col(qv_col).alias(f"qv_{tag}"),
        dot(F.col(qv_col), F.col(qv_col)).alias(f"nn_{tag}"),
    )
    pairs = (
        side("a")
        .join(side("b"), "cluster")
        .filter(F.col("id_a") < F.col("id_b"))
    )
    sim = F.round(
        dot(F.col("qv_a"), F.col("qv_b")).cast("double")
        / (F.sqrt(F.col("nn_a")) * F.sqrt(F.col("nn_b"))),
        round_dp,
    )
    return (
        pairs.withColumn("sim", sim)
        .filter(F.col("sim") >= threshold)
        .select("cluster", "id_a", "id_b", "sim")
    )


def pq_fit_encode(
    df: DataFrame,
    m: int = 8,
    ksub: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 1000,
) -> tuple[DataFrame, list[list[tuple[int, list[int]]]]]:
    """Product Quantization fit + encode [Jégou, Douze & Schmid, TPAMI
    2011 — public]: the vector splits into ``m`` subvectors; each
    subspace gets its own ``ksub``-centroid codebook (the deterministic
    integer k-means above); a vector compresses to ``m`` small codes —
    64 dims × 4 bytes becomes 8 bytes, the 32× memory cut that lets a
    100 TB embedding corpus fit its ANN index in executor memory.

    Returns (encoded, codebooks): encoded = (id, qv, codes array<int>
    length m); codebooks[s] = the subspace-s (cluster_id, centroid)
    list.  Codes are cluster IDS (gaps possible after empty-cluster
    dropout), not positions.

    The fit collects only centroid state (m·ksub·d_sub ints — the
    MODEL); encoding is one pure-JVM pass with the codebooks as plan
    literals.

    All ``m`` subspaces fit in ONE fused loop: the vector explodes once
    into (id, subspace, subvector) rows; assignment is a broadcast JOIN
    against the (s, cluster, centroid) table with a min(struct(dist,
    cluster)) argmin — the model rides as DATA, not as plan literals.
    The literal-expression alternative (m·ksub inlined distance folds)
    generates ~1 MB of task binary and pays whole-stage-codegen compile
    on every fresh plan; the join form is constant-size codegen and one
    driver action per Lloyd's round (1 + iters + 1 total instead of
    m·(1 + iters)).  Math is bit-identical to fitting each subspace
    separately (same seeds, same (dist, cluster) argmin tie-break, same
    floor-of-mean), so oracles replaying the per-subspace fits are
    unaffected.
    """
    spark = df.sparkSession
    base = df.select(
        F.col(id_col), int_vectors(F.col(vec_col), scale).alias("qv")
    ).persist()
    dim = len(base.select("qv").first()["qv"])
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    d_sub = dim // m
    # size the subvector table's partitioning by DATA VOLUME, capped at
    # cluster parallelism: the fit loop runs 1+iters+1 multi-stage
    # actions over this table, and at small n a caller-inherited 32-way
    # split pays 32 tasks of fixed overhead per stage for rows that fit
    # in one (measured 3x on the whole fit at sf0.1).  At scale the cap
    # restores full parallelism; the math is partition-independent
    # (exact integer sums + argmin), so results are identical.
    n_rows = base.count()
    n_parts = max(
        1,
        min(
            spark.sparkContext.defaultParallelism,
            (n_rows * m) // 4096 + 1,
        ),
    )
    subs = (
        base.select(
            F.col(id_col),
            F.explode(
                F.array(*[
                    F.struct(
                        F.lit(s).alias("s"),
                        F.slice("qv", s * d_sub + 1, d_sub).alias("qsub"),
                    )
                    for s in range(m)
                ])
            ).alias("e"),
        )
        .select(id_col, "e.s", F.col("e.qsub").alias("qsub"))
        .repartition(n_parts)
        .persist()
    )

    def assign_join(cents_by_s):
        rows = [
            (s, int(cl), [int(v) for v in cvec])
            for s in range(m)
            for cl, cvec in cents_by_s[s]
        ]
        cdf = spark.createDataFrame(
            rows, "s int, cluster int, cvec array<bigint>"
        )
        d = F.aggregate(
            F.zip_with("qsub", "cvec", lambda a, b: (a - b) * (a - b)),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )
        return (
            subs.join(F.broadcast(cdf), "s")
            .withColumn("__d", d)
            .groupBy(id_col, "s")
            .agg(
                F.min(F.struct(F.col("__d"), F.col("cluster"))).alias("mm"),
                F.first("qsub").alias("qsub"),
            )
            .select(
                id_col, "s", F.col("mm.cluster").alias("cluster"), "qsub"
            )
        )

    # seeds: one collect; subspace s seeds = the same k smallest ids'
    # s-th slices (exactly what per-subspace fit_centroids would pick)
    seed_rows = base.select(id_col, "qv").orderBy(id_col).limit(ksub).collect()
    cents: list[list[tuple[int, list[int]]]] = [
        [
            (i, list(r["qv"])[s * d_sub : (s + 1) * d_sub])
            for i, r in enumerate(seed_rows)
        ]
        for s in range(m)
    ]
    for _ in range(iters):
        upd = (
            assign_join(cents)
            .select("s", "cluster", F.posexplode("qsub").alias("dim", "val"))
            .groupBy("s", "cluster", "dim")
            .agg(F.sum("val").alias("sv"), F.count(F.lit(1)).alias("n"))
            .collect()
        )
        by_s: list[dict[int, dict[int, int]]] = [{} for _ in range(m)]
        for r in upd:
            # floor-of-mean in exact arithmetic (mirrors fit_centroids)
            by_s[r["s"]].setdefault(r["cluster"], {})[r["dim"]] = (
                r["sv"] // r["n"]
            )
        cents = [
            [
                (cl, [dims[d] for d in range(d_sub)])
                for cl, dims in sorted(by_s[s].items())
            ]
            for s in range(m)
        ]
    codebooks = [sorted(c) for c in cents]
    # encode through the same join-based assignment: codes assemble by
    # subspace order (one groupBy on the id — the shuffle the code table
    # wants to be partitioned by anyway), joined back to the vectors
    codes_df = (
        assign_join(codebooks)
        .groupBy(id_col)
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("s", "cluster"))),
                lambda x: x["cluster"].cast("int"),
            ).alias("codes")
        )
    )
    return base.join(codes_df, id_col), codebooks


def write_pq_index(
    encoded: DataFrame,
    codebooks: list[list[tuple[int, list[int]]]],
    path: str,
    id_col: str = "vec_id",
) -> None:
    """Persist a PQ index as named parquet tables — the production
    retrieval lifecycle (build once, query many; FAISS's write_index
    analog, relational).  Two tables under ``path``:

    * ``codes``: (id, qv, codes) — the big side; a plain parquet layout
      whose row-group pruning serves id-scoped rebuilds, re-shardable to
      any cluster size on reload.
    * ``codebooks``: (s, cluster, centroid) — the MODEL, m·ksub rows,
      one file (coalesce(1): it is driver-collected on every reload
      anyway, and one footer beats a directory listing of 32 shards).
    """
    spark = encoded.sparkSession
    encoded.select(id_col, "qv", "codes").write.mode("overwrite").parquet(
        f"{path}/codes"
    )
    rows = [
        (s, int(cl), [int(x) for x in cv])
        for s, book in enumerate(codebooks)
        for cl, cv in book
    ]
    # repartition(1), NOT coalesce(1): coalescing a Python-parallelized
    # local relation folds every input slice's Python-worker roundtrip
    # into ONE sequential task (measured 5-6s for 128 rows); repartition
    # keeps the slices parallel and funnels only the written bytes
    # (0.8s).  Readers sort after collect, so file row order is free.
    spark.createDataFrame(
        rows, "s int, cluster int, centroid array<bigint>"
    ).repartition(1).write.mode("overwrite").parquet(f"{path}/codebooks")


def read_pq_index(
    spark, path: str
) -> tuple[DataFrame, list[list[tuple[int, list[int]]]]]:
    """Reload a persisted PQ index: the codes table stays distributed;
    the codebook table (m·ksub rows — model state) collects to the
    driver in the same (cluster, centroid)-sorted form ``pq_fit_encode``
    returns, so a query answered from the reloaded index is
    bit-identical to one answered from the just-fit index."""
    encoded = spark.read.parquet(f"{path}/codes")
    cb_rows = spark.read.parquet(f"{path}/codebooks").collect()
    m = max(r["s"] for r in cb_rows) + 1
    books: list[list[tuple[int, list[int]]]] = [[] for _ in range(m)]
    for r in cb_rows:
        books[r["s"]].append((int(r["cluster"]), list(r["centroid"])))
    return encoded, [sorted(b) for b in books]


def write_ivf_index(
    df: DataFrame,
    path: str,
    list_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Persist an IVF index: the vector table PARTITIONED BY inverted
    list, plus a centroids table (one deterministic representative per
    list — the min-id member, matching ann_ivf_topk's centroid rule).

    The partition layout IS the index: probing n lists at query time
    becomes an equality filter on ``list_id`` that lands in the scan's
    PartitionFilters, so a 100 TB corpus reads only the probed lists'
    files — the FAISS invlist seek, expressed as partition pruning.
    """
    df.select(
        F.col(id_col),
        F.col(vec_col),
        F.col(list_col).alias("list_id"),
    ).write.mode("overwrite").partitionBy("list_id").parquet(f"{path}/lists")
    reps = df.groupBy(list_col).agg(F.min(id_col).alias("__mv")).select(
        F.col(list_col).alias("__rl"), "__mv"
    )
    cent = df.join(
        reps,
        (F.col(list_col) == F.col("__rl")) & (F.col(id_col) == F.col("__mv")),
    ).select(
        F.col(list_col).alias("list_id"), F.col(vec_col).alias("centroid")
    )
    # repartition(1) keeps the upstream join parallel (coalesce(1) would
    # collapse it into the single write task); probe readers sort the
    # collected centroids, so file row order is free
    cent.repartition(1).write.mode("overwrite").parquet(f"{path}/centroids")


def append_ivf_batch(
    batch: DataFrame,
    path: str,
    batch_id: int,
    list_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Ingest a new vector batch into a persisted IVF index WITHOUT a
    rebuild: batch rows land in ``<path>/lists_delta/batch_id=<n>/``
    partitioned by inverted list, leaving the seed generation untouched
    (the FAISS add-without-retrain shape; centroids stay the seed's —
    drift is handled by a periodic write_ivf_index rebuild, the same
    split as the LSH ingest-index + compaction pair).

    Idempotent under redelivery: the batch overwrites ONLY its own
    ``batch_id`` partition (``store.overwrite_partitions``), so
    replaying a batch cannot duplicate vectors — the contract streaming
    ingestion needs.
    """
    store.overwrite_partitions(
        batch.select(
            F.col(id_col),
            F.col(vec_col),
            F.lit(batch_id).alias("batch_id"),
            F.col(list_col).alias("list_id"),
        ),
        f"{path}/lists_delta",
        ["batch_id", "list_id"],
    )


def compact_ivf_index(
    spark,
    path: str,
    upto_batch_id: int,
    retrain_centroids: bool = False,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 1000,
) -> int:
    """Fold committed ``lists_delta`` batches into the main ``lists``
    store — the maintenance job that closes the IVF ingest loop: under
    ivf_ingest_sink delta partitions accumulate O(batches) (each probe
    pays their listing and their files dodge the seed's partition
    layout), so when the ivf_list_skew_report / ivf_centroid_drift_report
    monitors trigger, this fold restores the O(1)-partition
    build-once shape WITHOUT re-assigning any vector (assignments are
    frozen at ingest time; probe results are identical before and after
    the fold by construction, pinned by test).

    **Incremental by partition**: only ``list_id`` partitions that have
    committed delta rows are rewritten; every untouched invlist
    partition directory is left byte-identical on disk (pinned by
    test).  At 100 TB that makes the maintenance job's cost O(delta) —
    a skew-triggered fold of a few hot lists no longer rewrites the
    whole index (the per-chromosome incremental-loading stance,
    reference ``changes.txt:32-36``, applied to the invlist store).

    **Contract: ``upto_batch_id`` must be at or below the last batch id
    COMMITTED to the stream's checkpoint** (the compact_lsh_index
    contract): a folded batch redelivered afterwards would re-append its
    vectors as a fresh delta and duplicate them until the next fold's
    per-id dedup removes them.  Id collisions resolve DETERMINISTICALLY:
    delta beats seed and a later batch beats an earlier one (the row
    with the highest source batch id wins), so re-folds converge to one
    store whatever order crashes interleave.  Collisions can only be
    same-list by construction — ivf_assign_batch is deterministic
    against the stored centroid table, so a redelivered vector lands in
    the list it landed in before; re-ingesting an EXISTING id after a
    centroid retrain (the one way to split an id across lists) is
    outside the ingest contract (ids are append-only unique).

    ``retrain_centroids=True`` additionally recomputes each list's
    centroid as the milli-quantized floor-of-mean of its CURRENT
    (post-fold) members — the retrain the drift monitor asks for, in
    exact integer arithmetic so the new model is bit-reproducible and
    engine-portable (oracle-gated by ivf_retrain_centroids).

    Swap order (the swaps and their recovery are store.py's): the
    merged rows of the touched lists go to ``.lists_tmp``; a
    per-partition swap moves each touched ``list_id=L`` aside to
    ``.lists_old`` and the new copy in; then the folded delta
    partitions are deleted, then ``.lists_old``.  Retrained centroids
    swap whole-table through ``.centroids_tmp`` / ``.centroids_old``
    (the table is model-sized).  A crash after the swap but before the
    delta deletes leaves duplicates (folded rows still present as
    deltas) that probes see double until the next fold dedups them —
    readers needing exactly-once rows in that window
    dropDuplicates(id_col), the compact_kept contract.

    Returns the number of delta batch partitions folded.
    """
    lists_live, lists_old = f"{path}/lists", f"{path}/.lists_old"
    store.recover(spark, lists_live, lists_old, "list_id")
    store.recover(spark, f"{path}/centroids", f"{path}/.centroids_old")

    delta_root = f"{path}/lists_delta"
    batches = [
        b
        for b in store.child_ids(spark, delta_root, "batch_id")
        if b <= upto_batch_id
    ]
    if not batches and not retrain_centroids:
        return 0

    if batches:
        from pyspark.sql.window import Window as W

        # COMMITTED deltas only; uncommitted (> upto) delta partitions
        # simply stay in place and keep serving probes.  batch_id rides
        # along as the dedup precedence (delta > seed, later > earlier).
        committed = (
            spark.read.option("basePath", delta_root)
            .parquet(delta_root)
            .filter(F.col("batch_id") <= upto_batch_id)
            .select(
                id_col, vec_col, "list_id",
                F.col("batch_id").cast("long").alias("__src"),
            )
        )
        # the fold's working set: ONLY the lists the deltas touch — the
        # distinct-list collect is bounded by the index's list count
        # (model state, never data)
        touched = sorted(
            r["list_id"]
            for r in committed.select("list_id").distinct().collect()
        )
        seed_touched = (
            spark.read.parquet(lists_live)
            .select(id_col, vec_col, "list_id")
            # lands in PartitionFilters: only touched partitions read
            .filter(F.col("list_id").isin([int(t) for t in touched]))
            .withColumn("__src", F.lit(-1).cast("long"))
        )
        # deterministic winner per id: highest source batch id (delta
        # over seed, later redelivery over earlier) — re-folds converge
        w = W.partitionBy(id_col).orderBy(F.col("__src").desc())
        merged = (
            seed_touched.unionByName(committed)
            .withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .select(id_col, vec_col, "list_id")
        )
        tmp = f"{path}/.lists_tmp"
        store.delete(spark, tmp)
        merged.write.mode("overwrite").partitionBy("list_id").parquet(tmp)
        store.swap(
            spark, lists_live, tmp, lists_old,
            [f"list_id={t}" for t in touched],
        )
        store.drop_children(spark, delta_root, batches, "batch_id")
        store.delete(spark, lists_old)
        store.delete(spark, tmp)

    if retrain_centroids:
        # new centroid = floor-of-mean of milli-quantized members per
        # (list, dim), back to double units — exact integer arithmetic,
        # order-free sums, bit-reproducible across engines
        post = spark.read.parquet(f"{path}/lists")
        cent = (
            post.select(
                F.col("list_id").cast("long").alias("list_id"),
                F.posexplode(int_vectors(F.col(vec_col), scale)).alias(
                    "dim", "val"
                ),
            )
            .groupBy("list_id", "dim")
            .agg(
                (F.floor(F.sum("val") / F.count(F.lit(1))) / F.lit(scale))
                .alias("cval")
            )
            .groupBy("list_id")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("dim", "cval"))),
                    lambda x: x["cval"],
                ).alias("centroid")
            )
        )
        ctmp = f"{path}/.centroids_tmp"
        cent.repartition(1).write.mode("overwrite").parquet(ctmp)
        store.swap(
            spark, f"{path}/centroids", ctmp, f"{path}/.centroids_old"
        )
        store.delete(spark, f"{path}/.centroids_old")
    return len(batches)


def read_ivf_lists(
    spark,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The complete candidate store of a persisted IVF index: the seed
    ``lists`` table unioned with the ingest ``lists_delta`` store when
    one exists (append_ivf_batch / ivf_ingest_sink) — what EVERY probe
    reader must scan, or vectors appended after the seed write are
    silently invisible to mining/rerank while CorpusSearch sees them.
    Both stores are partitioned by ``list_id``, so a probe's equi-join
    or IN-filter on ``list_id`` partition-prunes each side."""
    lists = spark.read.parquet(f"{path}/lists").select(
        id_col, vec_col, "list_id"
    )
    delta_dir = f"{path}/lists_delta"
    # listing batch_id= children also tolerates an empty delta root (a
    # crash window of compact_ivf_index) that schema inference rejects
    if store.child_ids(spark, delta_dir, "batch_id"):
        lists = lists.unionByName(
            spark.read.parquet(delta_dir).select(id_col, vec_col, "list_id")
        )
    return lists


def _choose_ivf_strategy(spark, path: str):
    """Pick literal-compile vs broadcast-join for a persisted index's
    probe/assign by the measured k*dim boundary (IVF_LITERAL_MAX_TERMS),
    WITHOUT ever collecting an over-threshold centroid table: one
    bounded collect of at most threshold//dim + 1 rows decides, and when
    the literal path wins those same rows ARE the model (no second
    read).  Returns ('literal', sorted_rows) or ('join', None)."""
    cdf = spark.read.parquet(f"{path}/centroids")
    first = cdf.first()
    if first is None:
        raise ValueError(f"empty centroid table at {path}/centroids")
    dim = max(1, len(first["centroid"]))
    k_cap = IVF_LITERAL_MAX_TERMS // dim + 1
    rows = cdf.limit(k_cap).collect()
    if len(rows) * dim <= IVF_LITERAL_MAX_TERMS:
        return "literal", sorted(rows, key=lambda r: int(r["list_id"]))
    return "join", None


def ivf_probe_topk(
    spark,
    path: str,
    query_vec: list[float],
    nprobe: int = 2,
    k: int = 10,
    exclude_id: int | None = None,
    strategy: str = "auto",
    predicate: "Column | None" = None,
) -> DataFrame:
    """Answer a top-k query from a persisted IVF index (write_ivf_index):
    score the centroid table (tiny, driver-collected) to pick the
    ``nprobe`` nearest lists, then scan ONLY those partitions of the
    lists table — the filter is an IN over ``list_id`` partition values,
    so the parquet scan prunes to the probed lists.

    Exact cosine re-rank inside the probed lists; ties to smaller id.

    ``predicate`` (optional): a metadata filter Column over the lists
    schema (vec_id/embedding/list_id) applied BEFORE the re-rank — the
    filtered-search PRE-filter (FAISS IDSelector shape): it lands in
    the same pruned scan as the probe's IN filter, so candidates are
    dropped at the parquet reader, not after scoring.  For selective
    predicates widen ``nprobe`` to keep the candidate pool deep enough
    (the selectivity↔nprobe trade — see ann_filtered_topk).

    ``strategy``: 'literal' ranks the driver-collected centroid table in
    Python (right at small k — the table is model state); 'join' ranks
    it with a Spark job against the single query vector's d literals
    (constant-size codegen, nothing collected — the path production
    k ~ sqrt(n) needs); 'auto' switches at IVF_LITERAL_MAX_TERMS.
    """
    from .similarity import cosine

    cents = None
    if strategy == "auto":
        strategy, cents = _choose_ivf_strategy(spark, path)
    if strategy == "literal":
        if cents is None:
            cents = spark.read.parquet(f"{path}/centroids").collect()

        def cos(u, v):
            du = sum(a * b for a, b in zip(u, v))
            nu = sum(a * a for a in u) ** 0.5
            nv = sum(b * b for b in v) ** 0.5
            return du / (nu * nv) if nu and nv else 0.0

        # HALF_UP 6-dp rounding matching F.round (which Spark evaluates
        # as BigDecimal(shortest-decimal-repr).setScale(6, HALF_UP)) —
        # Python's round() is banker's and can pick a DIFFERENT probe
        # list than the join path when a cosine lands exactly on a 6-dp
        # midpoint, breaking the documented strategy invariance
        from decimal import ROUND_HALF_UP, Decimal

        def r6(x: float) -> float:
            return float(
                Decimal(repr(float(x))).quantize(
                    Decimal("0.000001"), rounding=ROUND_HALF_UP
                )
            )

        ranked = sorted(
            cents,
            key=lambda r: (
                -r6(cos(list(r["centroid"]), query_vec)),
                r["list_id"],
            ),
        )
        probes = [int(r["list_id"]) for r in ranked[:nprobe]]
    else:
        qlit = F.expr(_sql_double_array(query_vec)).cast(
            "array<double>"
        )
        probes = [
            int(r["list_id"])
            for r in spark.read.parquet(f"{path}/centroids")
            .select(
                F.col("list_id").cast("int").alias("list_id"),
                F.round(
                    cosine(F.col("centroid").cast("array<double>"), qlit), 6
                ).alias("__cs"),
            )
            .orderBy(F.col("__cs").desc(), F.col("list_id"))
            .limit(nprobe)
            .collect()
        ]
    # seed + any ingest delta under the SAME list_id partition pruning
    # (read_ivf_lists), so an appended index answers without a rebuild
    lists = read_ivf_lists(spark, path).filter(
        F.col("list_id").isin(probes)
    )
    if predicate is not None:
        lists = lists.filter(predicate)
    if exclude_id is not None:
        lists = lists.filter(F.col("vec_id") != exclude_id)
    qv = F.expr(_sql_double_array(query_vec))
    scored = lists.select(
        "vec_id",
        F.col("list_id").cast("int").alias("label"),
        F.round(
            cosine(F.col("embedding").cast("array<double>"), qv), 6
        ).alias("cos_sim"),
    )
    top = scored.orderBy(F.col("cos_sim").desc(), F.col("vec_id")).limit(k)
    from pyspark.sql.window import Window as W

    w = W.partitionBy(F.col("cos_sim") * F.lit(0.0)).orderBy(
        F.col("cos_sim").desc(), F.col("vec_id")
    )
    return top.select(
        "vec_id",
        "label",
        "cos_sim",
        F.row_number().over(w).cast("long").alias("rk"),
    )


def ivf_probe_batch(
    spark,
    path: str,
    queries: DataFrame,
    nprobe: int = 2,
    qvec_col: str = "qv",
    strategy: str = "auto",
) -> DataFrame:
    """Batch IVF probe: augment each row of ``queries`` with the
    ``nprobe`` nearest inverted lists of a persisted index
    (write_ivf_index) — the multi-anchor twin of ivf_probe_topk.
    Ranking is 6-dp cosine DESC, list_id ASC (deterministic ties) on
    BOTH strategies; emits one row per (query row, probed list) with a
    ``list_id`` column appended; downstream candidate fetch is then a
    plain equi-join on list_id against the partition-pruned lists table.

    ``strategy='literal'`` (small k*dim): the centroid table is MODEL
    STATE (one row per list), so it collects to the driver once and the
    per-anchor probe choice compiles into whole-stage-codegen array
    algebra — cosine against each centroid literal, sort_array over
    (neg_cos, list_id) structs, slice(nprobe), explode; no join is
    planned for probe selection at all.

    ``strategy='join'`` (production k ~ sqrt(n), 1e4-1e6 lists): a plan
    with k*dim literals would inflate task binaries past the
    whole-stage-codegen pathology (the pq_fit_encode lesson), so the
    centroid table rides as DATA — broadcast crossJoin, the same
    (neg_cos, list_id) structs collect_list'd + array_sort'd + sliced
    per query row (keyed by a pre-join monotonic row id, so duplicate
    query rows each keep their own probes) — identical math and ties,
    constant-size codegen at any k*dim.

    ``strategy='auto'`` switches at IVF_LITERAL_MAX_TERMS scalar
    literals via one bounded collect (_choose_ivf_strategy).
    """
    from .similarity import cosine

    cents = None
    if strategy == "auto":
        strategy, cents = _choose_ivf_strategy(spark, path)
    if strategy == "literal":
        if cents is None:
            cents = sorted(
                spark.read.parquet(f"{path}/centroids").collect(),
                key=lambda r: int(r["list_id"]),
            )
        # The whole per-centroid scoring array parses as ONE SQL
        # expression: the per-literal Column form cost one py4j
        # round-trip per vector element (~5.6 s of pure driver time per
        # construction at 45 lists x 64 dims vs 8 ms parsed; values
        # bit-identical — repr() round-trips doubles exactly).  Same
        # math, same struct sort, same ties as before.
        qd = f"CAST({_sql_ident(qvec_col)} AS ARRAY<DOUBLE>)"

        def _dot(a: str, b: str) -> str:
            return (
                f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), "
                "CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
            )

        entries = []
        for r in cents:
            cv = _sql_double_array(r["centroid"])
            cos_sql = (
                f"({_dot(qd, cv)} / "
                f"(sqrt({_dot(qd, qd)}) * sqrt({_dot(cv, cv)})))"
            )
            entries.append(
                f"struct(-round({cos_sql}, 6) AS neg_cos, "
                f"CAST({int(r['list_id'])} AS INT) AS list_id)"
            )
        probe_arr = F.expr(
            f"slice(sort_array(array({','.join(entries)})), 1, {int(nprobe)})"
        )
        return queries.withColumn(
            "list_id", F.explode(probe_arr.getField("list_id"))
        )
    cdf = spark.read.parquet(f"{path}/centroids").select(
        F.col("list_id").cast("int").alias("__plist"),
        F.col("centroid").cast("array<double>").alias("__cv"),
    )
    cs = F.round(
        cosine(F.col(qvec_col).cast("array<double>"), F.col("__cv")), 6
    )
    out_cols = [c for c in queries.columns if c != "list_id"]
    qk = queries.withColumn("__rowid", F.monotonically_increasing_id())
    agg = (
        qk.crossJoin(F.broadcast(cdf))
        .withColumn(
            "__e",
            F.struct(
                (-cs).alias("neg_cos"),
                F.col("__plist").alias("list_id"),
            ),
        )
        .groupBy("__rowid")
        .agg(
            *[F.first(c).alias(c) for c in out_cols],
            F.slice(
                F.array_sort(F.collect_list("__e")), 1, nprobe
            ).alias("__p"),
        )
    )
    return agg.select(
        *out_cols, F.explode(F.col("__p").getField("list_id")).alias("list_id")
    )


FILTERED_SAFETY = 3


def choose_filtered_probe(
    spark,
    path: str,
    predicate,
    k: int,
    safety: int = FILTERED_SAFETY,
) -> tuple[str, int | None]:
    """Make the filtered-ANN selectivity↔nprobe trade SELF-ACTING
    (FAISS IDSelector guidance, public): a fixed nprobe against a
    selective metadata predicate silently returns < k survivors, and a
    widened nprobe against a permissive one wastes scan.  Measure the
    predicate's survivor count with ONE column-pruned aggregate over
    the lists store (the count reads only the predicate's columns —
    cheap next to any vector scan, and cacheable per predicate), then:

    * ``needed = ceil(safety*k*n_lists / survivors)`` — the probe
      width at which the EXPECTED candidate pool inside the probed
      lists is safety×k (survivors spread ~uniformly over lists);
    * ``needed < n_lists``  -> ('probe', needed): prune to the needed
      lists, the predicate rides the pruned scan as a pushed filter;
    * ``needed >= n_lists`` (or zero survivors) -> ('exact', None):
      probing would visit every list anyway, so score the filtered
      subset exactly — for an ultra-selective predicate that subset is
      tiny by definition, and exact scoring is both cheaper AND
      recall-lossless.

    The decision is a pure integer function of (survivors, n_lists,
    k, safety), so an oracle replays it from the same counts — the
    IVF literal/join auto-switch stance (``_choose_ivf_strategy``)
    applied to filtered search; boundary goldens pin auto == each
    strategy on both sides."""
    surv = int(read_ivf_lists(spark, path).filter(predicate).count())
    n_lists = int(spark.read.parquet(f"{path}/centroids").count())
    if surv == 0:
        return "exact", None
    needed = (safety * k * n_lists + surv - 1) // surv
    if needed >= n_lists:
        return "exact", None
    return "probe", int(needed)


def ivf_probe_topk_filtered(
    spark,
    path: str,
    query_vec: list[float],
    k: int = 10,
    predicate=None,
    exclude_id: int | None = None,
    safety: int = FILTERED_SAFETY,
) -> DataFrame:
    """Single-query metadata-filtered top-k with the SELF-ACTING
    strategy (choose_filtered_probe): probe with the widened nprobe
    when pruning still pays, exact-score the filtered subset when the
    predicate is so selective that probing would visit every list
    anyway (or match nothing) — the CorpusSearch --filter-mod path.
    Same output schema and deterministic ties as ivf_probe_topk."""
    from .similarity import cosine

    if predicate is None:
        return ivf_probe_topk(
            spark, path, query_vec, k=k, exclude_id=exclude_id
        )
    strategy, nprobe = choose_filtered_probe(
        spark, path, predicate, k, safety
    )
    if strategy == "probe":
        return ivf_probe_topk(
            spark,
            path,
            query_vec,
            nprobe=nprobe,
            k=k,
            exclude_id=exclude_id,
            predicate=predicate,
        )
    lists = read_ivf_lists(spark, path).filter(predicate)
    if exclude_id is not None:
        lists = lists.filter(F.col("vec_id") != exclude_id)
    qv = F.expr(_sql_double_array(query_vec))
    scored = lists.select(
        "vec_id",
        F.col("list_id").cast("int").alias("label"),
        F.round(
            cosine(F.col("embedding").cast("array<double>"), qv), 6
        ).alias("cos_sim"),
    )
    top = scored.orderBy(F.col("cos_sim").desc(), F.col("vec_id")).limit(k)
    from pyspark.sql.window import Window as W

    w = W.partitionBy(F.col("cos_sim") * F.lit(0.0)).orderBy(
        F.col("cos_sim").desc(), F.col("vec_id")
    )
    return top.select(
        "vec_id",
        "label",
        "cos_sim",
        F.row_number().over(w).cast("long").alias("rk"),
    )


def ivf_assign_batch(
    spark,
    path: str,
    batch: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    strategy: str = "auto",
) -> DataFrame:
    """Assign each arriving vector to its NEAREST inverted list of a
    persisted index — the ingestion step append_ivf_batch needs when new
    vectors carry no list key (the production case; the FAISS add()
    assignment).  Nearest = highest 6-dp cosine against the stored
    centroids, ties to the smaller list_id — ivf_probe_batch with
    nprobe=1, so the choice compiles into whole-stage codegen below the
    IVF_LITERAL_MAX_TERMS boundary and auto-switches to the
    broadcast-join argmin above it.  Returns the batch columns plus
    ``list_id``."""
    q = batch.withColumn("__qv", F.col(vec_col).cast("array<double>"))
    assigned = ivf_probe_batch(
        spark, path, q, nprobe=1, qvec_col="__qv", strategy=strategy
    )
    return assigned.drop("__qv")


def pq_adc_topk(
    encoded: DataFrame,
    query_rows: list,
    codebooks: list[list[tuple[int, list[int]]]],
    k: int = 5,
    id_col: str = "vec_id",
) -> DataFrame:
    """Asymmetric Distance Computation top-k over PQ codes [same paper]:
    per query, precompute the m×ksub table of exact squared distances
    from each query subvector to each centroid (driver-side — it is
    query-local model state, ksub·m ints per query), broadcast the
    tables, and score every corpus vector by m table lookups on its
    codes — no float math, no full-vector reads, the plan ANN engines
    run at serving scale.

    ``query_rows`` are collected Rows with (qid, qv) — the query set is
    the bounded side by definition.  Output: (qid, nid, adc_dist, rk)
    with exact-integer ordering, ties to the smaller nid.
    """
    m = len(codebooks)
    d_sub = len(codebooks[0][0][1])
    spark = encoded.sparkSession
    SENTINEL = 1 << 62  # for cluster ids dropped during the fit
    qdata = []
    for r in query_rows:
        qv = list(r["qv"])
        tbl = []
        for s in range(m):
            sub = qv[s * d_sub : (s + 1) * d_sub]
            row = [SENTINEL] * (
                max(cl for cl, _ in codebooks[s]) + 1
            )
            for cl, cent in codebooks[s]:
                row[cl] = sum(
                    (a - b) * (a - b) for a, b in zip(sub, cent)
                )
            tbl.append(row)
        qdata.append((r["qid"], tbl))
    queries = spark.createDataFrame(
        qdata, "qid long, tbl array<array<bigint>>"
    )
    dist = F.aggregate(
        F.zip_with(
            F.col("tbl"),
            F.col("codes"),
            lambda t, c: F.element_at(t, c + 1),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    from pyspark.sql.window import Window as W

    scored = (
        encoded.select(F.col(id_col).alias("nid"), "codes")
        .crossJoin(F.broadcast(queries))
        .filter(F.col("qid") != F.col("nid"))
        .select("qid", "nid", dist.alias("adc_dist"))
    )
    w = W.partitionBy("qid").orderBy(F.col("adc_dist"), F.col("nid"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
    )
