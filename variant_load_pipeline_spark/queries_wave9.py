"""Wave-9 operators: the IVF maintenance loop closed (delta fold +
centroid retrain), each with a DuckDB oracle.

  ivf_compact_probe_parity  fold the ingest delta store into the main
                        lists store (compact_ivf_index) and answer a
                        batch probe from the FOLDED index — the oracle
                        replays seed centroids + full-corpus candidates,
                        so a hash match proves the fold changed nothing
                        a probe can see
  ivf_retrain_centroids the retrain the drift monitor asks for:
                        compact with retrain_centroids=True recomputes
                        each list's centroid as the exact milli-unit
                        floor-of-mean of its post-fold members; the
                        oracle recomputes the same integer arithmetic
                        from the base table

Float discipline follows the repo-wide micro-unit idiom.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from . import store
from .queries import load, register
from .queries_wave7 import _COS6

# ===========================================================================
# IVF delta fold: probe parity across compaction
# ===========================================================================
_CP_NPROBE = 2
_CP_TOPK = 5


@register(
    "ivf_compact_probe_parity",
    f"""
    WITH seed AS (SELECT * FROM embeddings WHERE vec_id % 4 <> 3),
    cent AS (
        SELECT e.label AS list_id, e.embedding AS cv
        FROM seed e
        JOIN (SELECT label, MIN(vec_id) AS mv FROM seed GROUP BY label) m
          ON e.label = m.label AND e.vec_id = m.mv
    ),
    q AS (
        SELECT vec_id AS qid, embedding AS qv
        FROM embeddings WHERE vec_id % 100 = 0
    ),
    probe AS (
        SELECT qid, list_id FROM (
            SELECT q.qid, cent.list_id,
                   ROW_NUMBER() OVER (PARTITION BY q.qid ORDER BY
                       {_COS6.format(a='cent.cv', b='q.qv')} DESC,
                       cent.list_id) AS rk
            FROM q CROSS JOIN cent
        ) WHERE rk <= {_CP_NPROBE}
    ),
    sims AS (
        SELECT q.qid, e.vec_id AS nid,
               {_COS6.format(a='e.embedding', b='q.qv')} AS cos_sim
        FROM q JOIN probe p ON p.qid = q.qid
        JOIN embeddings e ON e.label = p.list_id
        WHERE e.vec_id <> q.qid
    )
    SELECT qid, nid, cos_sim, CAST(rk AS BIGINT) AS rk FROM (
        SELECT qid, nid, cos_sim,
               ROW_NUMBER() OVER (PARTITION BY qid
                                  ORDER BY cos_sim DESC, nid) AS rk
        FROM sims
    ) WHERE rk <= {_CP_TOPK}
    """,
    doc="The IVF maintenance fold proven invisible to serving: the query "
    "seeds an index (vec_id % 4 <> 3), appends the rest as an ingest "
    "delta batch, folds the delta into the main lists store "
    "(compact_ivf_index — crash-safe temp-write/rename/delete-last "
    "swap, assignments frozen, centroids untouched), then answers a "
    f"batch probe (nprobe={_CP_NPROBE}, top-{_CP_TOPK} per anchor) from "
    "the FOLDED index alone.  The oracle replays seed-centroid probe "
    "ranking over the FULL corpus — exactly what probing seed+delta "
    "before the fold returns — so a hash match proves probe results "
    "are identical before/after compaction (the partition count went "
    "from O(batches) to O(1); nothing else moved).  Eager-construct: "
    "seed write + delta append + fold run inside the query.",
)
def ivf_compact_probe_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from .operators.clustering import (
        append_ivf_batch,
        compact_ivf_index,
        ivf_probe_batch,
        read_ivf_lists,
        write_ivf_index,
    )
    from .operators.similarity import cosine
    from .queries_ext import _scan_path

    e = load(spark, sf_dir, "embeddings")
    path = _scan_path(sf_dir, "ivf_compact")
    shutil.rmtree(path, ignore_errors=True)
    write_ivf_index(e.filter(F.col("vec_id") % 4 != 3), path)
    append_ivf_batch(e.filter(F.col("vec_id") % 4 == 3), path, batch_id=1)
    compact_ivf_index(spark, path, upto_batch_id=1)
    # everything below sees ONLY the folded on-disk index
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


# ===========================================================================
# IVF centroid retrain: the drift monitor's trigger acted on
# ===========================================================================
_RT_DIM = 64
_RT_SCALE = 1000


@register(
    "ivf_retrain_centroids",
    f"""
    WITH mq AS (
        SELECT label AS list_id, dim,
               CAST(floor(CAST(embedding[dim+1] AS DOUBLE)*{_RT_SCALE})
                    AS BIGINT) AS val
        FROM (SELECT label, unnest(range(0, {_RT_DIM})) AS dim, embedding
              FROM embeddings)
    )
    SELECT CAST(list_id AS BIGINT) AS list_id,
           CAST(dim AS BIGINT) AS dim,
           CAST(floor(SUM(val)::DOUBLE / COUNT(*)) AS BIGINT) AS cmilli
    FROM mq GROUP BY list_id, dim
    """,
    doc="Centroid RETRAIN — acting on ivf_centroid_drift_report's "
    "trigger: the query seeds an index, appends an ingest delta, then "
    "runs compact_ivf_index(retrain_centroids=True), which folds the "
    "delta AND replaces every list's centroid with the exact "
    "milli-unit floor-of-mean of its current members (integer sums — "
    "order-free, bit-reproducible, the fit_centroids update rule "
    "applied to the persisted index).  Returned rows are the retrained "
    "centroid table READ BACK from disk, exploded to (list, dim, "
    "milli-value); the oracle recomputes the same arithmetic from the "
    "base table, so a hash match proves fold + retrain + persistence "
    "round-trip exactly.  After this, drift_dist2 for every list is 0 "
    "by construction — the monitor's reset state.  Eager-construct: "
    "seed write + delta append + retrain run inside the query.",
)
def ivf_retrain_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from .operators.clustering import (
        append_ivf_batch,
        compact_ivf_index,
        write_ivf_index,
    )
    from .queries_ext import _scan_path

    e = load(spark, sf_dir, "embeddings")
    path = _scan_path(sf_dir, "ivf_retrain")
    shutil.rmtree(path, ignore_errors=True)
    write_ivf_index(e.filter(F.col("vec_id") % 4 != 3), path)
    append_ivf_batch(e.filter(F.col("vec_id") % 4 == 3), path, batch_id=1)
    compact_ivf_index(
        spark, path, upto_batch_id=1, retrain_centroids=True, scale=_RT_SCALE
    )
    # everything below sees ONLY the retrained on-disk centroid table.
    # Stored cval = m / scale for integer m; floor(cval*scale + 0.5)
    # recovers m exactly (the value is within 1 ulp of m/scale, so the
    # +0.5 lands strictly inside (m, m+1) before the floor).
    cent = spark.read.parquet(f"{path}/centroids")
    return cent.select(
        F.col("list_id").cast("long").alias("list_id"),
        F.posexplode("centroid").alias("dim", "cval"),
    ).select(
        "list_id",
        F.col("dim").cast("long").alias("dim"),
        F.floor(F.col("cval") * _RT_SCALE + F.lit(0.5))
        .cast("long")
        .alias("cmilli"),
    )


# ===========================================================================
# Tokenizer-fertility-aware packing: bin budgets priced in BPE tokens
# ===========================================================================
_SPT_BUDGET = 2048


def _spt_sql() -> str:
    from .queries_corpus import _BPE_FOLD, _BPE_FROZEN, _NORM_SQL

    seq = "trim(regexp_replace(word, '(.)', '\\1 ', 'g'))"
    for a, b in _BPE_FROZEN:
        seq = _BPE_FOLD.format(seq=seq, a=f"'{a}'", b=f"'{b}'")
    return f"""
    WITH w AS (
        SELECT doc_id, unnest(string_split({_NORM_SQL}, ' ')) AS word
        FROM documents
    ),
    s AS (
        SELECT doc_id, {seq} AS seq FROM w WHERE word <> ''
    ),
    d AS (
        SELECT doc_id,
               CAST(SUM(len(string_split(seq, ' '))) AS BIGINT)
                   AS n_bpe_tokens
        FROM s GROUP BY doc_id
    ),
    st AS (
        SELECT doc_id, n_bpe_tokens, doc_id % 8 AS shard,
            CAST(floor(COALESCE(SUM(n_bpe_tokens) OVER (
                PARTITION BY doc_id % 8 ORDER BY doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                / {_SPT_BUDGET}.0) AS INT) AS bin_id,
            ROW_NUMBER() OVER (
                PARTITION BY doc_id % 8 ORDER BY doc_id) AS rn
        FROM d
    )
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           n_bpe_tokens,
           CAST(shard AS BIGINT) AS shard,
           bin_id,
           CAST(rn - MIN(rn) OVER (PARTITION BY shard, bin_id) + 1 AS INT)
               AS bin_pos
    FROM st
    """


@register(
    "sequence_packing_tokens",
    _spt_sql(),
    doc="Tokenizer-fertility-aware packing: sequence_packing bins by "
    "WHITESPACE token counts, but a training batch's budget is spent in "
    "TOKENIZER tokens — the same text costs different amounts under "
    "different vocabularies (fertility).  This twin prices each doc "
    "with the frozen-merge BPE encoder (bpe_apply_fixed's "
    "vocabulary-encode + broadcast-join accounting, reused verbatim) "
    f"and greedily packs docs into {_SPT_BUDGET}-BPE-token bins per "
    "hash shard (pack_chunks: exclusive running sum / budget, per-"
    "shard windows, never a global sort).  Docs whose normalized text "
    "has no words have no token cost and drop out, as in "
    "bpe_apply_fixed.  The oracle replays encode, per-doc counts, "
    "cumsum, binning, and in-bin position exactly",
)
def sequence_packing_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.text import pack_chunks
    from .queries_corpus import bpe_apply_fixed_q

    toks = bpe_apply_fixed_q(spark, sf_dir).select(
        "doc_id", "n_bpe_tokens"
    )
    chunks = toks.select(
        "doc_id",
        F.lit(0).cast("int").alias("chunk_idx"),
        F.col("n_bpe_tokens").cast("int").alias("n_chunk_tokens"),
        (F.col("doc_id") % 8).alias("shard"),
    )
    out = pack_chunks(chunks, token_budget=_SPT_BUDGET, shard_col="shard")
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("n_chunk_tokens").cast("long").alias("n_bpe_tokens"),
        F.col("shard").cast("long").alias("shard"),
        "bin_id",
        "bin_pos",
    )


# ===========================================================================
# Batch mining, PROBE-ONLY form: the index pre-persists OUTSIDE the
# timed path (the lsh_match_probe_only treatment applied to the miners)
# ===========================================================================
from .queries import _REGISTRY  # noqa: E402


@register(
    "ann_hard_negatives_probe_only",
    _REGISTRY["ann_hard_negatives_ivf"].oracle,
    doc="The probe half of ann_hard_negatives_ivf measured on its own: "
    "the IVF index persists ONLY if absent (write-if-missing, path "
    "salted with the md5 of the clustering module's source AND a data "
    "fingerprint of the embeddings parquet, so a code change or an "
    "in-place data regeneration can never serve a stale index), so "
    "after the first run the timed path is purely what a mining batch "
    "pays at steady state — probe choice + one broadcast equi-join on "
    "the partition-pruned lists store + per-anchor window rank.  This "
    "is the row that shows the per-batch mining cost WITHOUT the "
    "one-time index build ann_hard_negatives_ivf's row includes "
    "(build-once/query-many economics, the lsh_match_probe_only / "
    "keeplist_delta_refresh_only treatment applied to the miners).  "
    "Same oracle as ann_hard_negatives_ivf.",
)
def ann_hard_negatives_probe_only(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import hashlib
    import inspect

    from .operators import clustering as cl
    from .operators.clustering import (
        ivf_probe_batch,
        read_ivf_lists,
        write_ivf_index,
    )
    from .operators.similarity import cosine
    from .queries_ext import _data_fingerprint, _scan_path

    e = load(spark, sf_dir, "embeddings")
    salt = hashlib.md5(
        (
            inspect.getsource(cl)
            + "|hn|nprobe=3|"
            + _data_fingerprint(spark, sf_dir, "embeddings")
        ).encode()
    ).hexdigest()[:10]
    path = _scan_path(sf_dir, f"ivf_index_hn_ro_{salt}")
    # centroids writes LAST in write_ivf_index, so its _SUCCESS marker
    # gates against a half-written index
    if not store.exists(spark, f"{path}/centroids/_SUCCESS"):
        write_ivf_index(e, path)
    # the timed path: anchors probe ONLY the on-disk index
    anchors = e.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").cast("array<double>").alias("qv"),
        F.col("label").alias("qlabel"),
    )
    probe = ivf_probe_batch(spark, path, anchors, nprobe=3)
    lists = read_ivf_lists(spark, path).select(
        F.col("vec_id").alias("nid"),
        F.col("embedding").cast("array<double>").alias("nv"),
        F.col("list_id").cast("int").alias("list_id"),
    )
    sims = (
        lists.join(F.broadcast(probe), "list_id")
        .filter(F.col("list_id") != F.col("qlabel"))
        .select(
            "qid",
            "nid",
            F.round(cosine(F.col("nv"), F.col("qv")), 6).alias("sim"),
        )
    )
    wnd = W.partitionBy("qid").orderBy(F.col("sim").desc(), F.col("nid"))
    return (
        sims.withColumn("rk", F.row_number().over(wnd))
        .filter(F.col("rk") <= 5)
        .select("qid", "nid", F.col("rk").cast("long").alias("rk"))
    )


# ===========================================================================
# Classifier threshold sweep: the operating-point picker of the lifecycle
# ===========================================================================
from .queries_wave6 import _lr_chain_sql  # noqa: E402

_PR_SWEEP_SQL = (
    _lr_chain_sql()
    + """
    , zf AS (
        SELECT x.doc_id, x.y,
               SUM(CAST(w3.wm AS DOUBLE) * x.cnt) / 1e6 AS z
        FROM x JOIN w3 ON x.bucket = w3.bucket
        GROUP BY x.doc_id, x.y
    ),
    sc AS (
        SELECT CAST(FLOOR(1e6 / (1.0 + EXP(-z)) + 0.5) AS BIGINT)
                   AS score_micro,
               CAST(y AS INTEGER) AS label
        FROM zf
    ),
    thr AS (SELECT CAST(u.t * 100000 AS BIGINT) AS thr_micro
            FROM UNNEST(range(1, 10)) AS u(t)),
    ag AS (
        SELECT thr_micro,
            SUM(CASE WHEN score_micro >= thr_micro AND label = 1
                     THEN 1 ELSE 0 END) AS tp,
            SUM(CASE WHEN score_micro >= thr_micro AND label = 0
                     THEN 1 ELSE 0 END) AS fp,
            SUM(CASE WHEN score_micro < thr_micro AND label = 1
                     THEN 1 ELSE 0 END) AS fn
        FROM sc CROSS JOIN thr GROUP BY thr_micro
    )
    SELECT thr_micro,
           CAST(tp AS BIGINT) AS tp,
           CAST(fp AS BIGINT) AS fp,
           CAST(fn AS BIGINT) AS fn,
           CASE WHEN tp + fp > 0
                THEN CAST(FLOOR(1e6 * tp / (tp + fp) + 0.5) AS BIGINT)
                ELSE 0 END AS precision_micro,
           CASE WHEN tp + fn > 0
                THEN CAST(FLOOR(1e6 * tp / (tp + fn) + 0.5) AS BIGINT)
                ELSE 0 END AS recall_micro,
           CASE WHEN 2 * tp + fp + fn > 0
                THEN CAST(FLOOR(1e6 * 2 * tp / (2 * tp + fp + fn) + 0.5)
                          AS BIGINT)
                ELSE 0 END AS f1_micro
    FROM ag
    """
)


@register(
    "quality_pr_sweep",
    _PR_SWEEP_SQL,
    doc="Classifier OPERATING-POINT sweep — the threshold picker that "
    "completes the lifecycle (train -> score -> calibrate -> pick): "
    "precision / recall / F1 at nine sigmoid thresholds (0.1 .. 0.9) "
    "in ONE pass — scores cross-join the 9-row threshold table "
    "(broadcast; the only fan-out is x9) and a single conditional "
    "aggregation produces every operating point, instead of nine "
    "filtered re-scans.  Counts are exact integers; each ratio is one "
    "double division micro-rounded identically in both engines.  A "
    "curation run reads this table to pick the keep threshold that "
    "hits its recall or precision target (the ECE row says whether "
    "the scores are calibrated; this row says where to cut them).",
)
def quality_pr_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.quality import lr_features, lr_fit, lr_score

    d = load(spark, sf_dir, "documents")
    # doc_id-partitioned checkpoint (r14, guide §2.4)
    x = lr_features(d)
    w = lr_fit(x, iters=3, lr=0.1)
    s = lr_score(x, w).select("score_micro", "label")
    thr = spark.range(1, 10).select(
        (F.col("id") * 100000).cast("long").alias("thr_micro")
    )
    hit = F.col("score_micro") >= F.col("thr_micro")
    pos = F.col("label") == 1
    ag = (
        s.crossJoin(F.broadcast(thr))
        .groupBy("thr_micro")
        .agg(
            F.sum(F.when(hit & pos, 1).otherwise(0)).alias("tp"),
            F.sum(F.when(hit & ~pos, 1).otherwise(0)).alias("fp"),
            F.sum(F.when(~hit & pos, 1).otherwise(0)).alias("fn"),
        )
    )
    tp, fp, fn = F.col("tp"), F.col("fp"), F.col("fn")
    ratio = lambda num, den: F.when(  # noqa: E731
        den > 0, F.floor(F.lit(1e6) * num / den + F.lit(0.5)).cast("long")
    ).otherwise(F.lit(0).cast("long"))
    return ag.select(
        "thr_micro",
        tp.cast("long").alias("tp"),
        fp.cast("long").alias("fp"),
        fn.cast("long").alias("fn"),
        ratio(tp, tp + fp).alias("precision_micro"),
        ratio(tp, tp + fn).alias("recall_micro"),
        ratio(2 * tp, 2 * tp + fp + fn).alias("f1_micro"),
    )
