"""Similarity search over embedding columns (array<float>).

* ``cosine_topk`` — exact brute-force baseline: broadcast the query set,
  JVM-side dot products (zip_with/aggregate), row_number top-k.  Correct at
  any scale where |queries| is broadcastable; cost O(|queries| x |corpus|).
* ``lsh_topk`` — the scale path: random-hyperplane LSH bucketing; candidates
  share a bucket in any of ``n_tables`` tables, then exact re-rank.  Recall
  < 1.0 by construction; the oracle checks the exact path, the LSH path is
  property-tested (recall vs brute force).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0).cast("double"),
        lambda acc, x: acc + x,
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (F.sqrt(dot(a, a)) * F.sqrt(dot(b, b)))


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qid_col: str = "qid",
    qvec_col: str = "qv",
    round_dp: int = 6,
) -> DataFrame:
    """Exact top-k neighbors per query; ties broken by neighbor id.
    Similarity rounded before ranking so rankings are engine-stable."""
    # norms precomputed per row BEFORE the quadratic cross join: one fold
    # per (query, neighbor) pair instead of three — same double math/order
    q = queries.withColumn("__qn", F.sqrt(dot(F.col(qvec_col), F.col(qvec_col))))
    joined = F.broadcast(q).crossJoin(
        corpus.select(
            F.col(id_col).alias("nid"),
            F.col(vec_col).alias("nv"),
            F.sqrt(dot(F.col(vec_col), F.col(vec_col))).alias("__nn"),
        )
    ).filter(F.col(qid_col) != F.col("nid"))
    sims = joined.select(
        qid_col,
        "nid",
        F.round(
            dot(F.col(qvec_col), F.col("nv"))
            / (F.col("__qn") * F.col("__nn")),
            round_dp,
        ).alias("sim"),
    )
    w = W.partitionBy(qid_col).orderBy(F.col("sim").desc(), F.col("nid"))
    return (
        sims.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
    )


def quantize_embeddings(
    df: DataFrame,
    vec_col: str = "embedding",
    q_col: str = "q8",
    scale_col: str = "q_scale",
) -> DataFrame:
    """Symmetric int8 scalar quantization per vector: scale = max|x|/127,
    q_i = floor(x_i/scale + 0.5) in [-127, 127] — a 4x (float32) / 8x
    (float64) cut in the bytes ANN stages shuffle and cache, which is the
    binding resource for 100 TB embedding corpora.  Cosine is
    scale-invariant, so quantized cosine needs NO dequantization: the
    integer arrays rank directly (see the ``ann_q8_topk`` gate for the
    accuracy cost, ~1e-3 on unit-ish vectors).

    floor(x + 0.5) instead of round(): identical halfway behavior in
    Spark and DuckDB, so the quantized vectors — not just the ranks —
    replay exactly in the oracle."""
    absmax = F.array_max(F.transform(F.col(vec_col), lambda x: F.abs(x)))
    scale = F.when(absmax > 0, absmax / F.lit(127.0)).otherwise(F.lit(1.0))
    out = df.withColumn(scale_col, scale)
    return out.withColumn(
        q_col,
        F.transform(
            F.col(vec_col),
            lambda x: F.floor(x / F.col(scale_col) + F.lit(0.5)).cast("int"),
        ),
    )


def hash_embed(
    df: DataFrame,
    dim: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
    sign_bit: int = 16,
) -> DataFrame:
    """Feature-hashing ("hashing trick") document embeddings: each token
    occurrence adds ±1 to bucket ``shingle_hash(word) % dim``, sign from
    bit ``sign_bit`` of the same hash — the model-free text→vector path
    that makes the ANN/dedup stack text-driven (no model runtime needed,
    public algorithm: Weinberger et al., "Feature Hashing for Large Scale
    Multitask Learning", ICML'09).

    Deliberately UNNORMALIZED integer counts (returned as array<double>):
    cosine is scale-invariant so downstream ranking is unchanged, and
    integer sums are exact in IEEE doubles in any summation order — dot
    products and norms replay bit-identically in the DuckDB oracle, which
    float-normalized vectors would not.

    Plan shape: token explode -> (id, bucket) partial-sum (map-side
    combine collapses each doc's tokens to <= dim rows before the
    shuffle) -> per-doc map -> dense vector.  Docs with no tokens after
    normalization are dropped (no vector to emit).
    """
    from ..functions.text import normalize_text, shingle_hash

    toks = df.select(
        F.col(id_col),
        F.explode(
            F.split(
                normalize_text(F.coalesce(F.col(text_col), F.lit(""))), " "
            )
        ).alias("word"),
    ).filter(F.col("word") != "")
    h = shingle_hash(F.col("word"))
    e = toks.select(
        id_col,
        (h % dim).alias("idx"),
        F.when(
            F.shiftright(h, sign_bit).bitwiseAND(F.lit(1)) == 1, F.lit(1)
        )
        .otherwise(F.lit(-1))
        .alias("s"),
    )
    g = e.groupBy(id_col, "idx").agg(F.sum("s").alias("v"))
    m = g.groupBy(id_col).agg(
        F.map_from_entries(F.collect_list(F.struct("idx", "v"))).alias("__m")
    )
    vec = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda i: F.coalesce(
            F.element_at(F.col("__m"), i.cast("long")), F.lit(0)
        ).cast("double"),
    )
    return m.select(F.col(id_col), vec.alias("embedding"))


def _hyperplanes(dim: int, n_planes: int, seed: int = 7) -> list[list[float]]:
    """Deterministic pseudo-random unit hyperplanes (LCG; no numpy needed
    on executors)."""
    state = seed
    planes = []
    for _ in range(n_planes):
        v = []
        for _ in range(dim):
            state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 64)
            v.append(((state >> 11) / float(1 << 53)) * 2.0 - 1.0)
        norm = math.sqrt(sum(x * x for x in v)) or 1.0
        planes.append([x / norm for x in v])
    return planes


def _planes_sql(planes: list[list[float]]) -> str:
    """All hyperplanes as ONE array<array<double>> SQL literal string.

    Building the same thing with nested ``F.array(*[F.lit(x) ...])`` costs one
    py4j round-trip per element — for 12 tables x 4 planes x 64 dims that is
    ~3000 driver->JVM calls and dominated lsh_topk's wall clock (5.7 s of
    plan CONSTRUCTION vs 2.0 s of execution at sf0.01).  A single parsed SQL
    expression is one round-trip; ``repr(float)`` round-trips exactly, so the
    doubles are bit-identical to the F.lit form and bucket ids are unchanged.
    Returned as a raw string so callers can splice it into a larger
    expression (``lsh_topk`` wraps it in ``transform(...)``).
    """
    inner = ",".join(
        "array(" + ",".join(f"{float(x)!r}D" for x in p) + ")" for p in planes
    )
    return f"array({inner})"


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    n_planes: int = 8,
    n_tables: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qid_col: str = "qid",
    qvec_col: str = "qv",
) -> DataFrame:
    """Approximate top-k: bucket corpus+queries per table, equi-join on
    (table, bucket), exact cosine re-rank of candidates.

    Plan shape (matters at scale): all ``n_tables`` bucket ids come out of
    ONE projection + explode — a single source scan, not an n_tables-way
    union of scans — and candidate dedup runs on bare (qid, nid) ids so the
    shuffle never carries the embedding arrays; vectors are equi-joined back
    onto the (small) surviving candidate set for the exact re-rank.

    All n_tables x n_planes projections come from one ``transform`` over a
    single array<array<double>> literal (see ``_planes_sql``) — the
    per-element F.lit form spent 3x more wall clock constructing the
    expression tree than executing it.
    """
    flat = [
        p
        for t in range(n_tables)
        for p in _hyperplanes(dim, n_planes, seed=7 + 31 * t)
    ]
    # Build the whole projection+bucketing expression as TWO parsed SQL
    # strings (py4j latency at ~2 ms/call makes per-Column construction of
    # n_tables x n_planes exprs cost more than running them; one parse is
    # ~20 ms).  Semantics identical to the F.lit/when form: same fold order,
    # same doubles (repr round-trip), element_at 1-based.
    projs_sql = (
        f"transform({_planes_sql(flat)}, p -> "
        "aggregate(zip_with(__vec, p, (x, y) -> x * y), "
        "CAST(0.0 AS DOUBLE), (acc, x) -> acc + x))"
    )
    structs = []
    for t in range(n_tables):
        terms = " + ".join(
            f"(CASE WHEN element_at(__projs, {t * n_planes + i + 1}) >= 0 "
            f"THEN CAST({1 << i} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
            for i in range(n_planes)
        )
        structs.append(
            f"named_struct('tbl', {t}, 'bucket', CAST(0 AS BIGINT) + {terms})"
        )
    buckets_sql = f"explode(array({','.join(structs)}))"

    def bucketed(df: DataFrame, out_id: str, in_id: str, vec: str) -> DataFrame:
        return (
            df.select(
                F.col(in_id).alias(out_id), F.col(vec).alias("__vec")
            )
            .select(out_id, F.expr(projs_sql).alias("__projs"))
            .select(out_id, F.expr(buckets_sql).alias("tb"))
            .select(out_id, "tb.tbl", "tb.bucket")
        )

    c_buckets = bucketed(corpus, "nid", id_col, vec_col)
    q_buckets = bucketed(queries, qid_col, qid_col, qvec_col)
    cand = (
        q_buckets.join(c_buckets, ["tbl", "bucket"])
        .filter(F.col(qid_col) != F.col("nid"))
        .select(qid_col, "nid")
        .distinct()
    )
    sims = (
        cand.join(
            corpus.select(F.col(id_col).alias("nid"), F.col(vec_col).alias("nv")),
            "nid",
        )
        .join(queries.select(qid_col, qvec_col), qid_col)
        .select(
            qid_col,
            "nid",
            F.round(cosine(F.col(qvec_col), F.col("nv")), 6).alias("sim"),
        )
    )
    w = W.partitionBy(qid_col).orderBy(F.col("sim").desc(), F.col("nid"))
    return sims.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= k)


def cosine_topk_pandas(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qid_col: str = "qid",
    qvec_col: str = "qv",
    round_dp: int = 6,
) -> DataFrame:
    """Arrow-batched alternative to ``cosine_topk``: all query vectors are
    broadcast as one numpy matrix and each corpus partition computes its
    similarities with a single BLAS matmul inside ``mapInPandas``.

    For high-dimensional embeddings this beats the expression form (one
    fold per pair) by the usual vectorization margin; results are NOT
    bit-identical to the sequential fold (matmul reassociates the sum), so
    ranking uses the same rounded-similarity + id tiebreak and agreement is
    at the round_dp level.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F2
    from pyspark.sql import types as T

    q_rows = queries.select(qid_col, qvec_col).collect()
    qids = np.array([r[qid_col] for r in q_rows])
    qmat = np.array([r[qvec_col] for r in q_rows], dtype=np.float64)
    qnorm = np.linalg.norm(qmat, axis=1)
    spark = corpus.sparkSession
    bc = spark.sparkContext.broadcast((qids, qmat, qnorm))

    out_schema = T.StructType(
        [
            T.StructField(qid_col, T.LongType()),
            T.StructField("nid", T.LongType()),
            T.StructField("sim", T.DoubleType()),
        ]
    )

    def run(iterator):
        qids_, qmat_, qnorm_ = bc.value
        for pdf in iterator:
            if not len(pdf):
                continue
            nmat = np.array(list(pdf[vec_col]), dtype=np.float64)
            nnorm = np.linalg.norm(nmat, axis=1)
            sims = (qmat_ @ nmat.T) / np.outer(qnorm_, nnorm)
            nids = pdf[id_col].to_numpy()
            n_q, n_c = sims.shape
            yield pd.DataFrame(
                {
                    qid_col: np.repeat(qids_, n_c),
                    "nid": np.tile(nids, n_q),
                    "sim": np.round(sims.ravel(), 6),
                }
            )

    from pyspark.sql.window import Window as W2

    sims = corpus.select(id_col, vec_col).mapInPandas(run, schema=out_schema)
    sims = sims.filter(F2.col(qid_col) != F2.col("nid"))
    w = W2.partitionBy(qid_col).orderBy(F2.col("sim").desc(), F2.col("nid"))
    return sims.withColumn("rk", F2.row_number().over(w)).filter(
        F2.col("rk") <= k
    )


def mmr_select(
    pool: DataFrame,
    sims: DataFrame,
    k: int = 4,
    lam_tenths: int = 7,
) -> DataFrame:
    """Maximal Marginal Relevance diversified selection [Carbonell &
    Goldstein 1998 — public]: from each query's candidate pool, pick k
    items greedily, each step maximizing

        lam * relevance  -  (1 - lam) * max-similarity-to-selected

    — the standard diversity re-rank between retrieval and training-set
    assembly (near-identical top hits collapse to one representative).

    Inputs (all scores INTEGER micro-units so every argmax is exact and
    oracle-replayable; lam = lam_tenths/10 keeps the combination integer:
    score = lam_tenths*rel - (10-lam_tenths)*maxsim):

    * pool: (qid, nid, rel_micro) — per-query candidates with relevance
    * sims: (qid, a, b, sim_micro) — pairwise similarity among the pool

    Output: (qid, step, nid), step = 1..k in pick order.  Step 1 is the
    pure-relevance argmax; ties always break to the smaller nid.

    Scale shape: the greedy loop is inherently sequential in k, so the
    driver iterates k times — but each step is one DISTRIBUTED
    anti-join + groupBy-max + per-qid row_number over ALL queries at
    once; the driver holds no data and k is a small constant.  Pool and
    sims are persisted once (every step re-reads both).
    """
    from pyspark.storagelevel import StorageLevel

    if not 1 <= lam_tenths <= 10:
        raise ValueError("lam_tenths must be in [1, 10]")
    pool = pool.persist(StorageLevel.MEMORY_AND_DISK)
    sims = sims.persist(StorageLevel.MEMORY_AND_DISK)
    w = W.partitionBy("qid")
    first = (
        pool.withColumn(
            "__rn",
            F.row_number().over(
                w.orderBy(F.col("rel_micro").desc(), F.col("nid"))
            ),
        )
        .filter(F.col("__rn") == 1)
        .select("qid", F.lit(1).alias("step"), "nid")
    )
    selected = first.localCheckpoint(eager=True)
    for step in range(2, k + 1):
        # explicit renames: pool/sims/selected share lineage (sims is a
        # pool self-join), so qualified-attribute joins would be ambiguous
        rem = pool.join(
            selected.select("qid", "nid"), ["qid", "nid"], "left_anti"
        ).select(
            F.col("qid").alias("rq"),
            F.col("nid").alias("rnid"),
            "rel_micro",
        )
        s = sims.select(
            F.col("qid").alias("sq"),
            F.col("a").alias("sa"),
            F.col("b").alias("sb"),
            "sim_micro",
        )
        selb = selected.select(
            F.col("qid").alias("selq"), F.col("nid").alias("seln")
        )
        cand = (
            rem.join(
                s, (F.col("rq") == F.col("sq")) & (F.col("rnid") == F.col("sa"))
            )
            .join(
                selb,
                (F.col("sq") == F.col("selq")) & (F.col("sb") == F.col("seln")),
            )
            .groupBy(F.col("rq").alias("qid"), F.col("rnid").alias("nid"))
            .agg(
                F.max("sim_micro").alias("maxsim"),
                F.max("rel_micro").alias("rel_micro"),
            )
        )
        score = (
            F.lit(lam_tenths) * F.col("rel_micro")
            - F.lit(10 - lam_tenths) * F.col("maxsim")
        )
        pick = (
            cand.withColumn(
                "__rn",
                F.row_number().over(
                    w.orderBy(score.desc(), F.col("nid"))
                ),
            )
            .filter(F.col("__rn") == 1)
            .select("qid", F.lit(step).alias("step"), "nid")
        )
        selected = selected.union(pick).localCheckpoint(eager=True)
    return selected
