"""Round-5 corpus-curation query wave: Gopher rule filtering, CCNet
paragraph dedup, exact-substring span dedup, and hybrid (BM25 + dense)
retrieval fusion — each a named public algorithm re-expressed Spark-first
with a DuckDB oracle that replays it exactly.

Registered into the shared queries registry (imported from .queries at
the bottom of that module, same pattern as queries_ext).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from .queries import (
    _BM25_B,
    _BM25_K1,
    _BM25_TERMS,
    _NORM_SQL,
    load,
    register,
    spread,
)
from .functions.text import GOPHER_LIMITS, GOPHER_STOPWORDS

# ---------------------------------------------------------------------------
# Gopher composite rule filter [Rae et al. 2021 appendix A — public rules]
# ---------------------------------------------------------------------------
# Deterministic augmentation so every rule is exercised in both directions
# on a corpus that natively lacks stopwords/symbols: docs at id%3==0 gain
# the Gopher stop set (can pass), docs at id%11==0 gain symbol runs (trip
# the symbol rule).  Mirrored verbatim in the oracle.
_GOPHER_AUG_SQL = (
    "COALESCE(text,'')"
    " || CASE WHEN doc_id % 3 = 0"
    " THEN ' the be to of and that have with' ELSE '' END"
    " || CASE WHEN doc_id % 11 = 0"
    " THEN ' #### ... ... ...' ELSE '' END"
)
_GW_SQL = (
    "CASE WHEN trim(regexp_replace(lower(s), '[^a-z0-9]+', ' ', 'g')) = ''"
    " THEN [] ELSE string_split(trim(regexp_replace(lower(s),"
    " '[^a-z0-9]+', ' ', 'g')), ' ') END"
)
_G_STOP_SQL = " + ".join(
    f"CASE WHEN len(list_filter(w, x -> x = '{wd}')) > 0 THEN 1 ELSE 0 END"
    for wd in GOPHER_STOPWORDS
)
_GL = GOPHER_LIMITS


@register(
    "gopher_quality_filter",
    f"""
    WITH d AS (
        SELECT doc_id, {_GOPHER_AUG_SQL} AS s FROM documents
    ),
    t AS (SELECT doc_id, s, {_GW_SQL} AS w FROM d),
    m AS (
        SELECT doc_id, s, w, len(w) AS n_words,
               CASE WHEN len(w) = 0 THEN 1 ELSE len(w) END AS nw_nz,
               list_filter(string_split(s, chr(10)), x -> trim(x) <> '')
                   AS lines
        FROM t
    ),
    m2 AS (
        SELECT doc_id, n_words,
            CAST(ROUND(COALESCE(list_sum(list_transform(w,
                x -> length(x))), 0)::DOUBLE / nw_nz, 6) AS DOUBLE)
                AS mean_word_len,
            CAST(ROUND((
                (length(s) - length(replace(s, '#', '')))
                + CAST((length(s) - length(regexp_replace(s,
                      '\\.\\.\\.', '', 'g'))) / 3 AS INT)
                )::DOUBLE / nw_nz, 6) AS DOUBLE) AS symbol_ratio,
            CAST(ROUND(len(list_filter(lines,
                x -> regexp_matches(trim(x), '^[-*•]')))::DOUBLE
                / (CASE WHEN len(lines) = 0 THEN 1 ELSE len(lines) END),
                6) AS DOUBLE) AS bullet_line_ratio,
            CAST(ROUND(len(list_filter(lines,
                x -> regexp_matches(trim(x), '\\.\\.\\.$')))::DOUBLE
                / (CASE WHEN len(lines) = 0 THEN 1 ELSE len(lines) END),
                6) AS DOUBLE) AS ellipsis_line_ratio,
            CAST(ROUND(len(list_filter(w,
                x -> regexp_matches(x, '[a-z]')))::DOUBLE / nw_nz, 6)
                AS DOUBLE) AS alpha_word_ratio,
            CAST({_G_STOP_SQL} AS INT) AS n_stop_hits
        FROM m
    )
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(n_words AS INT) AS n_words,
           mean_word_len, symbol_ratio, bullet_line_ratio,
           ellipsis_line_ratio, alpha_word_ratio, n_stop_hits,
           CASE WHEN n_words >= {_GL["min_words"]}
                 AND n_words <= {_GL["max_words"]}
                 AND mean_word_len >= {_GL["min_mean_word_len"]}
                 AND mean_word_len <= {_GL["max_mean_word_len"]}
                 AND symbol_ratio <= {_GL["max_symbol_ratio"]}
                 AND bullet_line_ratio < {_GL["max_bullet_ratio"]}
                 AND ellipsis_line_ratio < {_GL["max_ellipsis_ratio"]}
                 AND alpha_word_ratio >= {_GL["min_alpha_ratio"]}
                 AND n_stop_hits >= {_GL["min_stop_hits"]}
                THEN 'T' ELSE 'F' END AS pass
    FROM m2
    """,
    doc="Gopher composite quality-rule filter [Rae et al. 2021 appendix "
    "A]: word-count window, mean word length, symbol-to-word ratio, "
    "bullet/ellipsis line shares, alphabetic-word fraction, required-"
    "stopword hits, and the overall pass verdict.  All signals are one "
    "scan of JVM column expressions; flags compare ROUNDED signals so "
    "the oracle replays every rule decision bit-identically.  Docs gain "
    "deterministic stopword/symbol augmentation so both verdicts and "
    "every individual rule fire on this corpus",
)
def gopher_quality_filter_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.text import gopher_columns, gopher_pass, words

    d = load(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.concat(
            F.coalesce(F.col("text"), F.lit("")),
            F.when(
                F.col("doc_id") % 3 == 0,
                F.lit(" the be to of and that have with"),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 11 == 0, F.lit(" #### ... ... ...")
            ).otherwise(F.lit("")),
        ).alias("s"),
        # hoist the tokenization: four signals + the verdict reference
        # the word array, and without the projection barrier each one
        # would re-run the regexp split
    ).withColumn("_w", words(F.col("s")))
    g = gopher_columns(F.col("s"), words_col=F.col("_w"))
    return d.select(
        "doc_id",
        g["n_words"].cast("int").alias("n_words"),
        g["mean_word_len"].alias("mean_word_len"),
        g["symbol_ratio"].alias("symbol_ratio"),
        g["bullet_line_ratio"].alias("bullet_line_ratio"),
        g["ellipsis_line_ratio"].alias("ellipsis_line_ratio"),
        g["alpha_word_ratio"].alias("alpha_word_ratio"),
        g["n_stop_hits"].cast("int").alias("n_stop_hits"),
        gopher_pass(g).alias("pass"),
    )


# ---------------------------------------------------------------------------
# CCNet paragraph dedup [Wenzek et al. 2020 — public]
# ---------------------------------------------------------------------------
_PARA_K = 5
# paragraph unit: consecutive 5-word blocks of the normalized text (the
# corpus has no newline structure; word_blocks stands in for newline
# paragraphs — the operator takes the block array, so either unit plugs in)
_PARA_BLOCKS_SQL = f"""
    t AS (
        SELECT doc_id,
               CASE WHEN trim(COALESCE(text, '')) = '' THEN []
                    ELSE string_split({_NORM_SQL}, ' ') END AS w
        FROM documents
    ),
    b AS (
        SELECT doc_id, w,
               unnest(range(0, CAST(ceil(len(w) / {_PARA_K}.0) AS BIGINT)))
                   AS idx
        FROM t
    ),
    p AS (
        SELECT doc_id, idx,
               array_to_string(
                   w[idx*{_PARA_K}+1 : idx*{_PARA_K}+{_PARA_K}], ' ')
                   AS para
        FROM b
    )
"""


@register(
    "paragraph_dedup",
    f"""
    WITH {_PARA_BLOCKS_SQL},
    dup AS (
        SELECT md5(para) AS h FROM p
        GROUP BY md5(para) HAVING count(DISTINCT doc_id) > 1
    ),
    kept AS (
        SELECT doc_id, idx, para FROM p
        WHERE md5(para) NOT IN (SELECT h FROM dup)
    ),
    ka AS (
        SELECT doc_id, count(*) AS n_kept,
               md5(string_agg(para, chr(10) ORDER BY idx)) AS kept_fp
        FROM kept GROUP BY doc_id
    )
    SELECT CAST(t.doc_id AS BIGINT) AS doc_id,
           CAST(CAST(ceil(len(t.w) / {_PARA_K}.0) AS BIGINT) AS INT)
               AS n_paras,
           CAST(COALESCE(ka.n_kept, 0) AS INT) AS n_kept,
           COALESCE(ka.kept_fp, md5('')) AS kept_fp
    FROM t LEFT JOIN ka ON t.doc_id = ka.doc_id
    """,
    doc="CCNet-style cross-corpus paragraph deduplication [Wenzek et al. "
    "2020]: any paragraph occurring in more than one document is removed "
    "from all of them; survivors reassemble in original order (gated via "
    "md5 of the newline-joined survivor text).  The duplicated-hash set "
    "broadcasts into a left_anti join, so the corpus-sized side never "
    "shuffles text; the only corpus-wide shuffle keys on the uniform "
    "paragraph md5",
)
def paragraph_dedup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.text import word_blocks
    from .operators.dedup import paragraph_dedup

    d = load(spark, sf_dir, "documents").transform(spread)
    return paragraph_dedup(d, word_blocks(F.col("text"), _PARA_K)).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("n_paras").cast("int").alias("n_paras"),
        "n_kept",
        "kept_fp",
    )


# ---------------------------------------------------------------------------
# Exact-substring span dedup approximation [Lee et al. 2022 — public]
# ---------------------------------------------------------------------------
_SPAN_K = 5
# 64-bit portable gram hash (functions.text.shingle_hash64 twin); the
# HUGEINT dance wraps DuckDB's unsigned build into Spark's signed long
_SPAN_H64_SQL = """CAST(
    CAST(('0x'||substr(md5(gram),9,8))::BIGINT AS HUGEINT) * 4294967296
    + ('0x'||substr(md5(gram),1,8))::BIGINT
    - CASE WHEN ('0x'||substr(md5(gram),9,8))::BIGINT >= 2147483648
           THEN CAST('18446744073709551616' AS HUGEINT)
           ELSE CAST(0 AS HUGEINT) END
    AS BIGINT)"""


@register(
    "dup_span_detect",
    f"""
    WITH t AS (
        SELECT doc_id, string_split({_NORM_SQL}, ' ') AS w FROM documents
    ),
    g AS (
        SELECT doc_id,
               unnest(CASE WHEN len(w) >= {_SPAN_K} THEN
                   list_distinct(list_transform(
                       range(0, len(w) - {_SPAN_K - 1}),
                       i -> array_to_string(w[i+1:i+{_SPAN_K}], ' ')))
               ELSE [] END) AS gram
        FROM t
    ),
    hh AS (SELECT doc_id, {_SPAN_H64_SQL} AS h FROM g),
    f AS (SELECT h, count(DISTINCT doc_id) AS nd FROM hh GROUP BY h),
    pd AS (
        SELECT hh.doc_id, count(*) AS n_spans,
               SUM(CASE WHEN f.nd > 1 THEN 1 ELSE 0 END) AS n_dup_spans
        FROM hh JOIN f ON hh.h = f.h
        GROUP BY hh.doc_id
    )
    SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
           CAST(COALESCE(pd.n_spans, 0) AS INT) AS n_spans,
           CAST(COALESCE(pd.n_dup_spans, 0) AS INT) AS n_dup_spans,
           CAST(ROUND(CASE WHEN COALESCE(pd.n_spans, 0) > 0
                THEN COALESCE(pd.n_dup_spans, 0)::DOUBLE / pd.n_spans
                ELSE 0.0 END, 6) AS DOUBLE) AS dup_span_ratio
    FROM documents d LEFT JOIN pd ON d.doc_id = pd.doc_id
    """,
    doc="Cross-document duplicated span detection — the distributed "
    "reformulation of exact-substring training-data dedup [Lee et al. "
    "2022]: word 5-gram spans (distinct within a document) occurring in "
    ">= 2 documents are flagged, with per-document counts and the "
    "duplicated fraction.  Grams hash to 64-bit immediately after the "
    "explode, so the frequency groupBy and the join back shuffle 8-byte "
    "uniform keys, never gram text; the oracle replays the gram walk, "
    "the signed-64 hash, and both aggregations",
)
def dup_span_detect_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import dup_spans

    d = load(spark, sf_dir, "documents").transform(spread)
    return dup_spans(d, k=_SPAN_K).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "n_spans",
        "n_dup_spans",
        "dup_span_ratio",
    )


# ---------------------------------------------------------------------------
# Hybrid retrieval: BM25 + dense cosine fused by Reciprocal Rank Fusion
# [Cormack, Clarke & Büttcher SIGIR'09 — public]
# ---------------------------------------------------------------------------
_RRF_K = 60  # the standard RRF damping constant
_RRF_TOPN = 20  # per-system candidate list depth
_RRF_OUT = 10


@register(
    "rrf_hybrid_topk",
    f"""
    WITH toks AS (
        SELECT doc_id, unnest(string_split({_NORM_SQL}, ' ')) AS term
        FROM documents
    ),
    t AS (SELECT doc_id, term FROM toks WHERE term <> ''),
    dl AS (SELECT doc_id, count(*) AS dl FROM t GROUP BY doc_id),
    stats AS (SELECT count(*) AS n_docs, sum(dl) AS sum_dl FROM dl),
    tf AS (
        SELECT doc_id, term, count(*) AS tf FROM t
        WHERE term IN ({", ".join(f"'{t}'" for t in _BM25_TERMS)})
        GROUP BY doc_id, term
    ),
    dft AS (SELECT term, count(*) AS dft FROM tf GROUP BY term),
    per_term AS (
        SELECT tf.doc_id,
               CAST(floor(
                   ln(1.0 + (s.n_docs - d.dft + 0.5) / (d.dft + 0.5))
                   * (tf.tf * ({_BM25_K1} + 1.0))
                   / (tf.tf + {_BM25_K1} * (1.0 - {_BM25_B}
                      + {_BM25_B} * dl.dl
                        / (CAST(s.sum_dl AS DOUBLE) / s.n_docs)))
                   * 1e6 + 0.5) AS BIGINT) AS micro
        FROM tf
        JOIN dft d ON tf.term = d.term
        JOIN dl ON tf.doc_id = dl.doc_id
        CROSS JOIN stats s
    ),
    scored AS (
        SELECT doc_id, CAST(SUM(micro) AS BIGINT) AS bm25_micro
        FROM per_term GROUP BY doc_id
    ),
    s20 AS (
        SELECT doc_id AS id, rk FROM (
            SELECT doc_id, ROW_NUMBER() OVER (
                ORDER BY bm25_micro DESC, doc_id) AS rk
            FROM scored
        ) WHERE rk <= {_RRF_TOPN}
    ),
    q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    dsims AS (
        SELECT e.vec_id AS id,
               ROUND(list_cosine_similarity(q.qv, e.embedding)::DOUBLE, 6)
                   AS sim
        FROM embeddings e CROSS JOIN q
        WHERE e.vec_id <> 0
    ),
    d20 AS (
        SELECT id, rk FROM (
            SELECT id, ROW_NUMBER() OVER (ORDER BY sim DESC, id) AS rk
            FROM dsims
        ) WHERE rk <= {_RRF_TOPN}
    ),
    fused AS (
        SELECT COALESCE(s.id, d.id) AS id,
               COALESCE(CAST(floor(1000000.0 / ({_RRF_K} + s.rk))
                        AS BIGINT), 0)
               + COALESCE(CAST(floor(1000000.0 / ({_RRF_K} + d.rk))
                          AS BIGINT), 0) AS rrf_micro
        FROM s20 s FULL OUTER JOIN d20 d ON s.id = d.id
    )
    SELECT CAST(id AS BIGINT) AS id, rrf_micro, CAST(rk AS BIGINT) AS rk
    FROM (
        SELECT id, rrf_micro,
               ROW_NUMBER() OVER (ORDER BY rrf_micro DESC, id) AS rk
        FROM fused
    ) WHERE rk <= {_RRF_OUT}
    """,
    doc="Hybrid sparse+dense retrieval fused by Reciprocal Rank Fusion "
    "[Cormack et al. SIGIR'09]: BM25 top-20 over the text corpus and "
    "cosine top-20 over the parallel embedding column (same id space — "
    "the RAG dual-index shape) full-outer-joined on id, score = sum of "
    "floor(1e6/(60+rank)) per system — integer micro-units, so the fused "
    "ordering is exact in both engines.  Per-system lists are bounded "
    "(top-20 via per-partition heaps), so the fusion join is a "
    "constant-size broadcast at any corpus scale",
)
def rrf_hybrid_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.text import bm25_scores
    from .operators.similarity import dot

    d = load(spark, sf_dir, "documents")
    scored = bm25_scores(d, _BM25_TERMS, k1=_BM25_K1, b=_BM25_B)
    s_top = scored.orderBy(F.col("bm25_micro").desc(), F.col("doc_id")).limit(
        _RRF_TOPN
    )
    wz = lambda c: W.partitionBy(F.col(c) * F.lit(0)).orderBy(
        F.col(c).desc(), F.col("id")
    )
    s20 = (
        s_top.select(F.col("doc_id").alias("id"), "bm25_micro")
        .withColumn("rk", F.row_number().over(wz("bm25_micro")))
        .select("id", F.col("rk").alias("srk"))
    )

    e = load(spark, sf_dir, "embeddings")
    nrm = F.sqrt(dot(F.col("embedding"), F.col("embedding")))
    q = e.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qv"), nrm.alias("qn")
    )
    dsims = (
        e.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select(
            F.col("vec_id").alias("id"),
            F.round(
                dot(F.col("qv"), F.col("embedding"))
                / (F.col("qn") * nrm),
                6,
            ).alias("sim"),
        )
    )
    d_top = dsims.orderBy(F.col("sim").desc(), F.col("id")).limit(_RRF_TOPN)
    d20 = (
        d_top.withColumn("rk", F.row_number().over(wz("sim")))
        .select("id", F.col("rk").alias("drk"))
    )

    rrf = lambda rk: F.coalesce(
        F.floor(F.lit(1000000.0) / (F.lit(_RRF_K) + F.col(rk))).cast(
            "long"
        ),
        F.lit(0),
    )
    # fused is bounded by 2*TOPN rows by construction, so the final rank
    # comes from a broadcast theta self-join (count of rows ordering
    # before me), not a window: rrf_micro is non-nullable here, so the
    # `col * 0` partition key would constant-fold into the partition-less
    # global window the plan audit forbids
    fused = s20.join(d20, "id", "full_outer").select(
        "id", (rrf("srk") + rrf("drk")).alias("rrf_micro")
    )
    other = fused.select(
        F.col("id").alias("o_id"), F.col("rrf_micro").alias("o_micro")
    )
    ahead = (F.col("o_micro") > F.col("rrf_micro")) | (
        (F.col("o_micro") == F.col("rrf_micro"))
        & (F.col("o_id") < F.col("id"))
    )
    return (
        fused.join(F.broadcast(other), ahead, "left")
        .groupBy("id", "rrf_micro")
        .agg((F.count("o_id") + 1).alias("rk"))
        .filter(F.col("rk") <= _RRF_OUT)
        .select(
            F.col("id").cast("long").alias("id"),
            "rrf_micro",
            F.col("rk").cast("long").alias("rk"),
        )
    )


# ---------------------------------------------------------------------------
# Deterministic integer k-means + SemDeDup [Abbas et al. 2023 — public]
# ---------------------------------------------------------------------------
_KM_K = 8
_KM_ITERS = 2
_KM_DIM = 64
_KM_SCALE = 1000


def _km_assign_sql(c_tbl: str) -> str:
    return f"""
    (SELECT vec_id, cl AS cluster, d2 FROM (
        SELECT le.vec_id, c.cl,
               SUM((le.val - c.cv)*(le.val - c.cv)) AS d2,
               ROW_NUMBER() OVER (PARTITION BY le.vec_id
                   ORDER BY SUM((le.val - c.cv)*(le.val - c.cv)), c.cl)
                   AS rn
        FROM le JOIN {c_tbl} c ON le.dim = c.dim
        GROUP BY le.vec_id, c.cl
    ) WHERE rn = 1)"""


def _km_chain_sql() -> str:
    """The k-means CTE chain: le (long-form quantized vectors), seeds,
    c0, then ITERS x (assign, update), then the final assignment aF.
    The oracle's long form and Spark's dense form compute the identical
    exact-integer fit."""
    parts = [
        f"""le AS (
        SELECT vec_id, dim,
               CAST(floor(CAST(embedding[dim+1] AS DOUBLE)*{_KM_SCALE})
                    AS BIGINT) AS val
        FROM (SELECT vec_id, unnest(range(0, {_KM_DIM})) AS dim, embedding
              FROM embeddings)
    )""",
        f"""seeds AS (
        SELECT vec_id, ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cl
        FROM embeddings ORDER BY vec_id LIMIT {_KM_K}
    )""",
        """c0 AS (SELECT s.cl, l.dim, l.val AS cv
              FROM seeds s JOIN le l ON l.vec_id = s.vec_id)""",
    ]
    for i in range(_KM_ITERS):
        parts.append(f"a{i+1} AS {_km_assign_sql(f'c{i}')}")
        parts.append(
            f"""c{i+1} AS (
        SELECT a{i+1}.cluster AS cl, l.dim,
               CAST(floor(SUM(l.val)::DOUBLE / COUNT(*)) AS BIGINT) AS cv
        FROM a{i+1} JOIN le l ON l.vec_id = a{i+1}.vec_id
        GROUP BY a{i+1}.cluster, l.dim
    )"""
        )
    parts.append(f"aF AS {_km_assign_sql(f'c{_KM_ITERS}')}")
    return ",\n".join(parts)


@register(
    "kmeans_embeddings",
    f"""
    WITH {_km_chain_sql()}
    SELECT CAST(vec_id AS BIGINT) AS vec_id,
           CAST(cluster AS INT) AS cluster,
           CAST(d2 AS BIGINT) AS dist_sq
    FROM aF
    """,
    doc=f"Deterministic Lloyd's k-means (k={_KM_K}, {_KM_ITERS} centroid "
    "updates) over integer-quantized embeddings: seeds = the k smallest "
    "ids, exact BIGINT distances, floor-of-mean centroid updates, ties "
    "to the smallest cluster id — the whole fit is bit-reproducible, so "
    "the oracle replays assignment/update/assignment CTE-by-CTE and "
    "gates every vector's final cluster and distance.  Spark side is "
    "dense (centroids ride the plan as literals, one JVM fold per "
    "centroid); the oracle is long-form — same arithmetic",
)
def kmeans_embeddings_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.clustering import kmeans_fit_assign

    e = load(spark, sf_dir, "embeddings").transform(spread)
    out = kmeans_fit_assign(
        e, k=_KM_K, iters=_KM_ITERS, scale=_KM_SCALE
    )
    return out.select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.col("cluster").cast("int").alias("cluster"),
        F.col("dist_sq").cast("long").alias("dist_sq"),
    )


_SEMDEDUP_T = 0.3


@register(
    "semdedup_pairs",
    f"""
    WITH {_km_chain_sql()},
    qv AS (
        SELECT vec_id,
               list_transform(embedding,
                   x -> CAST(floor(CAST(x AS DOUBLE)*{_KM_SCALE})
                             AS BIGINT)) AS v
        FROM embeddings
    ),
    m AS (
        SELECT a.vec_id, a.cluster, q.v,
               list_dot_product(q.v, q.v) AS nn
        FROM aF a JOIN qv q ON q.vec_id = a.vec_id
    ),
    pairs AS (
        SELECT a.cluster, a.vec_id AS id_a, b.vec_id AS id_b,
               ROUND(list_dot_product(a.v, b.v)
                     / (sqrt(a.nn) * sqrt(b.nn)), 6) AS sim
        FROM m a JOIN m b
          ON a.cluster = b.cluster AND a.vec_id < b.vec_id
    )
    SELECT CAST(cluster AS INT) AS cluster,
           CAST(id_a AS BIGINT) AS id_a,
           CAST(id_b AS BIGINT) AS id_b,
           CAST(sim AS DOUBLE) AS sim
    FROM pairs WHERE sim >= {_SEMDEDUP_T}
    """,
    doc="SemDeDup [Abbas et al. 2023]: semantic near-duplicate pairs "
    "found ONLY within a k-means cluster — candidate generation is an "
    "equi-join on the cluster id, so the clustering (not a global "
    "O(n^2) cross join) bounds the pair space; cross-cluster near-dups "
    "are missed by design (the documented recall trade; at sf0.01 this "
    "keeps 337 of 990 global pairs at sim>=0.3 while the one planted "
    ">=0.5 pair IS captured).  Dot products and norms over the integer "
    "milli-unit vectors are exact longs, so only the final "
    "divide/sqrt/round is float and the oracle replays ranking exactly",
)
def semdedup_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.clustering import kmeans_fit_assign, semdedup_pairs

    e = load(spark, sf_dir, "embeddings").transform(spread)
    assigned = kmeans_fit_assign(
        e, k=_KM_K, iters=_KM_ITERS, scale=_KM_SCALE
    )
    return semdedup_pairs(assigned, threshold=_SEMDEDUP_T).select(
        F.col("cluster").cast("int").alias("cluster"),
        F.col("id_a").cast("long").alias("id_a"),
        F.col("id_b").cast("long").alias("id_b"),
        F.col("sim").cast("double").alias("sim"),
    )


# ---------------------------------------------------------------------------
# WebDataset-style tar shard scan (multimodal container format)
# ---------------------------------------------------------------------------
_TAR_SHARDS = 4
_TAR_CAP = 20_000  # fixture-writer bound, same convention as queries_ext


@register(
    "mm_tar_shard_samples",
    """
    WITH d AS (
        SELECT doc_id, COALESCE(text, '') AS t FROM documents
        ORDER BY doc_id LIMIT 20000
    )
    SELECT lpad(CAST(doc_id AS VARCHAR), 8, '0') AS key,
           CAST(2 AS INT) AS n_parts,
           CAST(doc_id % 4 AS INT) AS shard_idx,
           md5(t) AS txt_md5,
           CAST(doc_id % 7 AS INT) AS cls,
           CAST(octet_length(encode(t)) AS INT) AS txt_len
    FROM d
    """,
    doc="WebDataset-style tar shard round trip, end-to-end: documents "
    "are packed into 4 real .tar shards (two members per sample: "
    "<key>.txt payload + <key>.cls label, the WebDataset convention), "
    "re-read through binaryFile + the mapInPandas ustar parser, grouped "
    "into samples on the basename key, and gated on per-sample member "
    "count, payload md5, parsed label, and byte length.  Parallelism = "
    "shard count (each shard is one task), the WebDataset model",
)
def mm_tar_shard_samples_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tarfile

    from .queries_ext import _scan_path
    from .sources.tarshard import group_samples, read_tar_shards

    rows = (
        load(spark, sf_dir, "documents")
        .select("doc_id", F.coalesce("text", F.lit("")).alias("t"))
        .orderBy("doc_id")
        .limit(_TAR_CAP)
        .collect()
    )
    paths = [
        _scan_path(sf_dir, f"shard-{i}.tar") for i in range(_TAR_SHARDS)
    ]
    tars = [tarfile.open(p, "w") for p in paths]
    try:
        for r in rows:
            key = f"{r['doc_id']:08d}"
            tf = tars[r["doc_id"] % _TAR_SHARDS]
            for ext, data in (
                ("txt", r["t"].encode("utf-8")),
                ("cls", str(r["doc_id"] % 7).encode("ascii")),
            ):
                info = tarfile.TarInfo(name=f"{key}.{ext}")
                info.size = len(data)
                info.mtime = 0
                import io

                tf.addfile(info, io.BytesIO(data))
    finally:
        for tf in tars:
            tf.close()

    glob = _scan_path(sf_dir, "shard-*.tar")
    members = read_tar_shards(spark, glob)
    samples = group_samples(members)
    return samples.select(
        "key",
        "n_parts",
        F.regexp_extract(F.col("shard"), r"shard-(\d+)\.tar", 1)
        .cast("int")
        .alias("shard_idx"),
        F.md5(F.col("parts")["txt"]).alias("txt_md5"),
        F.col("parts")["cls"].cast("string").cast("int").alias("cls"),
        F.length(F.col("parts")["txt"]).cast("int").alias("txt_len"),
    )


# ---------------------------------------------------------------------------
# Temperature-based source mixing [Conneau & Lample 2019 — public]
# ---------------------------------------------------------------------------
_MIX_FRAC = 0.5
_MIX_SALT = "mix"
_MIX_U_SQL = (
    "(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR) || '"
    + _MIX_SALT
    + "'), 1, 8))::BIGINT / 4294967296.0)"
)


@register(
    "source_mixing_sample",
    f"""
    WITH c AS (SELECT source, count(*) AS n FROM documents GROUP BY source),
    t AS (SELECT SUM(n) AS n_tot, SUM(sqrt(n)) AS z FROM c),
    r AS (
        SELECT c.source,
               ROUND(LEAST(1.0,
                   {_MIX_FRAC} * t.n_tot * (sqrt(c.n) / t.z) / c.n),
                   6) AS keep_prob
        FROM c CROSS JOIN t
    )
    SELECT CAST(d.doc_id AS BIGINT) AS doc_id, d.source,
           CAST(r.keep_prob AS DOUBLE) AS keep_prob,
           CASE WHEN {_MIX_U_SQL} < r.keep_prob THEN 'T' ELSE 'F' END
               AS keep
    FROM documents d JOIN r ON d.source = r.source
    """,
    doc="Temperature-based source mixing (the multilingual sampling rule, "
    "alpha=0.5): per-source keep rate min(1, T*p_s/n_s) with p_s scaled "
    "as sqrt(n_s) — small sources up-weighted — sized for an expected "
    f"{_MIX_FRAC} of the corpus; the keep decision is the deterministic "
    "key-hash Bernoulli.  One tiny per-source groupBy broadcasts back; "
    "the corpus side stays a map-side projection.  Rates round to 6 "
    "decimals before the compare so the oracle replays every verdict",
)
def source_mixing_sample_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.sampling import temperature_mixing_sample

    d = load(spark, sf_dir, "documents")
    out = temperature_mixing_sample(
        d,
        stratum_col="source",
        key_col="doc_id",
        target_frac=_MIX_FRAC,
        alpha=0.5,
        salt=_MIX_SALT,
    )
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "source",
        "keep_prob",
        "keep",
    )


# ---------------------------------------------------------------------------
# Unigram LM surprisal (CCNet perplexity-filter stand-in) [public]
# ---------------------------------------------------------------------------
@register(
    "unigram_surprisal",
    f"""
    WITH toks AS (
        SELECT doc_id, unnest(string_split({_NORM_SQL}, ' ')) AS term
        FROM documents
    ),
    t AS (SELECT doc_id, term FROM toks WHERE term <> ''),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM t
           GROUP BY doc_id, term),
    vocab AS (SELECT term, count(*) AS cw FROM t GROUP BY term),
    consts AS (SELECT SUM(cw) AS nn, count(*) AS vv FROM vocab),
    scored AS (
        SELECT tf.doc_id,
               CAST(SUM(tf.tf) AS BIGINT) AS n_tokens,
               CAST(SUM(tf.tf * CAST(floor(
                   -ln((v.cw + 1.0) / (c.nn + c.vv)) * 1e6 + 0.5)
                   AS BIGINT)) AS BIGINT) AS surprisal_micro
        FROM tf JOIN vocab v ON tf.term = v.term CROSS JOIN consts c
        GROUP BY tf.doc_id
    )
    SELECT CAST(doc_id AS BIGINT) AS doc_id, n_tokens, surprisal_micro,
           CAST(ROUND(surprisal_micro::DOUBLE / n_tokens / 1e6, 6)
                AS DOUBLE) AS mean_surprisal
    FROM scored
    """,
    doc="Unigram LM surprisal per document — the model-free stand-in for "
    "CCNet's LM-perplexity quality filter: add-1-smoothed unigram model "
    "trained on the corpus itself, documents scored by total/mean token "
    "surprisal -ln((c_w+1)/(N+V)).  Per-term scores round to integer "
    "micro-nats BEFORE the per-doc sum (exact BIGINT — summation-order "
    "free), so the oracle replays scoring exactly.  One tokenize feeds "
    "both the vocabulary and tf; N/V is a 1-row broadcast; the tf-vocab "
    "join shuffles on the term — at trillion-token scale the vocabulary "
    "is exactly what can't broadcast, and stopword skew is AQE's case",
)
def unigram_surprisal_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.text import unigram_surprisal

    d = load(spark, sf_dir, "documents")
    return unigram_surprisal(d).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "n_tokens",
        "surprisal_micro",
        "mean_surprisal",
    )


# ---------------------------------------------------------------------------
# Product Quantization ANN [Jégou, Douze & Schmid TPAMI 2011 — public]
# ---------------------------------------------------------------------------
_PQ_M = 8
_PQ_DSUB = _KM_DIM // _PQ_M
_PQ_K = 16
_PQ_ITERS = 2


def _pq_assign_sql(le: str, c_tbl: str) -> str:
    return f"""
    (SELECT vec_id, cl AS cluster FROM (
        SELECT {le}.vec_id, c.cl,
               ROW_NUMBER() OVER (PARTITION BY {le}.vec_id
                   ORDER BY SUM(({le}.val - c.cv)*({le}.val - c.cv)), c.cl)
                   AS rn
        FROM {le} JOIN {c_tbl} c ON {le}.dim = c.dim
        GROUP BY {le}.vec_id, c.cl
    ) WHERE rn = 1)"""


def _pq_chain_sql() -> str:
    """The full PQ oracle chain: per subspace, a k-means codebook fit
    (same exact-integer arithmetic as fit_centroids) + final code
    assignment; then per-query ADC distance tables against the final
    centroids and the table-lookup sum.  ~7 CTEs per subspace, all
    generated from one template — the Spark side computes the identical
    model with dense expressions."""
    parts = [
        f"""seeds AS (
        SELECT vec_id, ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cl
        FROM embeddings ORDER BY vec_id LIMIT {_PQ_K}
    )""",
        """qids AS (SELECT vec_id AS qid FROM embeddings
               WHERE vec_id % 50 = 0)""",
    ]
    pers = []
    for s in range(_PQ_M):
        off = s * _PQ_DSUB
        le = f"le{s}"
        parts.append(
            f"""{le} AS (
        SELECT vec_id, dim,
               CAST(floor(CAST(embedding[{off} + dim + 1] AS DOUBLE)
                    * {_KM_SCALE}) AS BIGINT) AS val
        FROM (SELECT vec_id, unnest(range(0, {_PQ_DSUB})) AS dim,
                     embedding FROM embeddings)
    )"""
        )
        parts.append(
            f"""c0_{s} AS (SELECT sd.cl, l.dim, l.val AS cv
        FROM seeds sd JOIN {le} l ON l.vec_id = sd.vec_id)"""
        )
        for i in range(_PQ_ITERS):
            parts.append(f"a{i+1}_{s} AS {_pq_assign_sql(le, f'c{i}_{s}')}")
            parts.append(
                f"""c{i+1}_{s} AS (
        SELECT a.cluster AS cl, l.dim,
               CAST(floor(SUM(l.val)::DOUBLE / COUNT(*)) AS BIGINT) AS cv
        FROM a{i+1}_{s} a JOIN {le} l ON l.vec_id = a.vec_id
        GROUP BY a.cluster, l.dim
    )"""
            )
        cf = f"c{_PQ_ITERS}_{s}"
        parts.append(f"aF_{s} AS {_pq_assign_sql(le, cf)}")
        parts.append(
            f"""dt{s} AS (
        SELECT q.qid, c.cl, SUM((l.val - c.cv)*(l.val - c.cv)) AS d
        FROM qids q
        JOIN {le} l ON l.vec_id = q.qid
        JOIN {cf} c ON c.dim = l.dim
        GROUP BY q.qid, c.cl
    )"""
        )
        pers.append(
            f"""SELECT dt.qid, a.vec_id AS nid, dt.d
        FROM aF_{s} a JOIN dt{s} dt ON dt.cl = a.cluster"""
        )
    union = "\nUNION ALL\n".join(pers)
    parts.append(
        f"""adc AS (
        SELECT qid, nid, CAST(SUM(d) AS BIGINT) AS adc_dist
        FROM ({union})
        WHERE qid <> nid
        GROUP BY qid, nid
    )"""
    )
    return ",\n".join(parts)


@register(
    "ann_pq_adc_topk",
    f"""
    WITH {_pq_chain_sql()}
    SELECT qid, nid, adc_dist, CAST(rk AS BIGINT) AS rk FROM (
        SELECT qid, nid, adc_dist,
               ROW_NUMBER() OVER (PARTITION BY qid
                   ORDER BY adc_dist, nid) AS rk
        FROM adc
    ) WHERE rk <= 5
    """,
    doc=f"Product Quantization ANN with Asymmetric Distance Computation "
    f"[Jégou et al. 2011]: vectors split into {_PQ_M} subspaces, each "
    f"with its own {_PQ_K}-centroid integer-k-means codebook — a vector "
    f"compresses to {_PQ_M} byte-codes (32x memory cut, what lets a "
    "100 TB embedding corpus index in executor memory); queries score "
    f"the corpus by {_PQ_M} table lookups per vector (broadcast per-"
    "query distance tables, exact BIGINT sums).  The oracle replays the "
    "8 per-subspace codebook fits CTE-by-CTE, the encoding, the ADC "
    "tables, and the ranking — the entire model, not just the result",
)
def ann_pq_adc_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.clustering import pq_adc_topk, pq_fit_encode

    e = load(spark, sf_dir, "embeddings").transform(spread)
    encoded, codebooks = pq_fit_encode(
        e, m=_PQ_M, ksub=_PQ_K, iters=_PQ_ITERS, scale=_KM_SCALE
    )
    query_rows = (
        encoded.filter(F.col("vec_id") % 50 == 0)
        .select(F.col("vec_id").alias("qid"), "qv")
        .collect()
    )
    out = pq_adc_topk(encoded, query_rows, codebooks, k=5)
    return out.select(
        F.col("qid").cast("long").alias("qid"),
        F.col("nid").cast("long").alias("nid"),
        F.col("adc_dist").cast("long").alias("adc_dist"),
        F.col("rk").cast("long").alias("rk"),
    )


def _leakage_split_sql() -> str:
    from .queries import _near_dup_components_sql

    return f"""
    WITH comp AS ({_near_dup_components_sql()}),
    g AS (
        SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS group_id
        FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id
    )
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(group_id AS BIGINT) AS group_id,
           CASE WHEN ('0x' || substr(md5(CAST(group_id AS VARCHAR)), 1, 4))::BIGINT
                     % 10 < 8
                THEN 'train' ELSE 'val' END AS split
    FROM g
    """


@register(
    "leakage_safe_split",
    _leakage_split_sql(),
    doc="Leakage-safe train/val split: docs split by their NEAR-DUP "
    "COMPONENT (group_id = connected-component representative from the "
    "LSH pair graph, the doc's own id for singletons), with the 80/20 "
    "assignment hashed on the GROUP — so two near-duplicate documents "
    "can never straddle train and validation, the contamination that "
    "silently inflates eval scores when splits hash the raw doc id.  "
    "Deterministic md5 split hash replays in both engines; the oracle "
    "recomputes the full MinHash->LSH->verify->recursive-component "
    "chain",
)
def leakage_safe_split_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import connected_components_star, near_dup_pairs

    d = load(spark, sf_dir, "documents").transform(spread)
    pairs = near_dup_pairs(d, n_hashes=16, bands=4, threshold=0.6)
    comp = connected_components_star(pairs).select(
        F.col("id").alias("doc_id"), F.col("comp").alias("component")
    )
    g = (
        d.select(F.col("doc_id").cast("long").alias("doc_id"))
        .join(comp, "doc_id", "left")
        .withColumn(
            "group_id",
            F.coalesce(F.col("component"), F.col("doc_id")).cast("long"),
        )
    )
    bucket = (
        F.conv(F.substring(F.md5(F.col("group_id").cast("string")), 1, 4), 16, 10)
        .cast("long")
        % 10
    )
    return g.select(
        "doc_id",
        "group_id",
        F.when(bucket < 8, F.lit("train")).otherwise(F.lit("val")).alias("split"),
    )


def _lsh_incremental_sql(
    n_hashes: int = 16, bands: int = 4, threshold: float = 0.6
) -> str:
    from .queries import _SHINGLES_SQL, _minhash_sig_sql

    rows = n_hashes // bands

    def band_sql(sig_cte: str) -> str:
        return "\n UNION ALL\n".join(
            f"SELECT doc_id, {b} AS band_idx, md5(concat_ws('_', "
            + ", ".join(
                f"CAST(sig_{i} AS VARCHAR)"
                for i in range(b * rows, (b + 1) * rows)
            )
            + f")) AS band_hash FROM {sig_cte}"
            for b in range(bands)
        )

    jac = (
        "CASE WHEN len(list_distinct(list_concat(sb.sh, sc.sh))) > 0 "
        "THEN len(list_intersect(sb.sh, sc.sh))::DOUBLE "
        "/ len(list_distinct(list_concat(sb.sh, sc.sh))) ELSE 0 END"
    )
    return f"""
    WITH corpus AS (
        SELECT doc_id, text FROM documents WHERE doc_id % 10 <> 0
    ),
    batch AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0),
    sigc AS ({_minhash_sig_sql(n_hashes, "corpus")}),
    sigb AS ({_minhash_sig_sql(n_hashes, "batch")}),
    bc AS ({band_sql("sigc")}),
    bb AS ({band_sql("sigb")}),
    cand AS (
        SELECT DISTINCT bb.doc_id AS batch_id, bc.doc_id AS corpus_id
        FROM bb JOIN bc
          ON bb.band_idx = bc.band_idx AND bb.band_hash = bc.band_hash
    ),
    shc AS (SELECT doc_id, {_SHINGLES_SQL} AS sh FROM corpus),
    shb AS (SELECT doc_id, {_SHINGLES_SQL} AS sh FROM batch)
    SELECT CAST(batch_id AS BIGINT) AS batch_id,
           CAST(corpus_id AS BIGINT) AS corpus_id,
           CAST(ROUND({jac}, 6) AS DOUBLE) AS jaccard
    FROM cand
    JOIN shb sb ON sb.doc_id = batch_id
    JOIN shc sc ON sc.doc_id = corpus_id
    WHERE {jac} >= {threshold}
    """


@register(
    "lsh_incremental_match",
    _lsh_incremental_sql(),
    doc="Incremental dedup-at-ingest against a PERSISTED LSH index: the "
    "corpus (90% of docs) is shingled/banded once and written as index "
    "tables; the arriving batch (10%) band-hashes, probes the persisted "
    "band table by equi-join, and exact-Jaccard-verifies against the "
    "persisted shingle table — the corpus is never re-signed per batch, "
    "the property that makes per-batch dedup affordable at 100 TB.  The "
    "oracle recomputes both sides' MinHash chains CTE-by-CTE and "
    "replays the band join and verification",
)
def lsh_incremental_match_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from .operators.dedup import match_lsh_index, write_lsh_index
    from .queries_ext import _scan_path

    d = load(spark, sf_dir, "documents")
    path = _scan_path(sf_dir, "lsh_index")
    shutil.rmtree(path, ignore_errors=True)
    write_lsh_index(d.filter(F.col("doc_id") % 10 != 0), path)
    # everything below sees ONLY the on-disk index
    out = match_lsh_index(
        spark,
        path,
        d.filter(F.col("doc_id") % 10 == 0),
        threshold=0.6,
    )
    return out.select(
        F.col("batch_id").cast("long").alias("batch_id"),
        F.col("corpus_id").cast("long").alias("corpus_id"),
        "jaccard",
    )


@register(
    "ann_pq_persisted_topk",
    f"""
    WITH {_pq_chain_sql()}
    SELECT qid, nid, adc_dist, CAST(rk AS BIGINT) AS rk FROM (
        SELECT qid, nid, adc_dist,
               ROW_NUMBER() OVER (PARTITION BY qid
                   ORDER BY adc_dist, nid) AS rk
        FROM adc
    ) WHERE rk <= 5
    """,
    doc="Persisted-ANN-index lifecycle: fit+encode the PQ index, WRITE it "
    "to parquet as named tables (codes + codebooks), then answer the "
    "query from the RELOADED index in a separate plan — the production "
    "retrieval shape (build once, query many).  The oracle is the "
    "identical chain as ann_pq_adc_topk: a reloaded index that is not "
    "bit-identical to the just-fit one hash-mismatches here",
)
def ann_pq_persisted_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from .operators.clustering import (
        pq_adc_topk,
        pq_fit_encode,
        read_pq_index,
        write_pq_index,
    )
    from .queries_ext import _scan_path

    e = load(spark, sf_dir, "embeddings").transform(spread)
    encoded, codebooks = pq_fit_encode(
        e, m=_PQ_M, ksub=_PQ_K, iters=_PQ_ITERS, scale=_KM_SCALE
    )
    path = _scan_path(sf_dir, "pq_index")
    shutil.rmtree(path, ignore_errors=True)
    write_pq_index(encoded, codebooks, path)
    # everything below this line sees ONLY the on-disk index
    reloaded, books = read_pq_index(spark, path)
    query_rows = (
        reloaded.filter(F.col("vec_id") % 50 == 0)
        .select(F.col("vec_id").alias("qid"), "qv")
        .collect()
    )
    out = pq_adc_topk(reloaded, query_rows, books, k=5)
    return out.select(
        F.col("qid").cast("long").alias("qid"),
        F.col("nid").cast("long").alias("nid"),
        F.col("adc_dist").cast("long").alias("adc_dist"),
        F.col("rk").cast("long").alias("rk"),
    )


# ---------------------------------------------------------------------------
# JSONL corpus source: real spark.read.json scan with a corrupt-record
# channel, fixture generated deterministically from the documents table
# ---------------------------------------------------------------------------
# Line layout is built by CONCAT (not a JSON serializer) in BOTH engines,
# so the oracle replays the exact bytes; text is sanitized to [a-z0-9 ]
# first, which makes it JSON-safe without any escaping rules to mirror.
_JSONL_SAN_SQL = (
    "regexp_replace(lower(COALESCE(text, '')), '[^a-z0-9 ]', '', 'g')"
)
_JSONL_LINE_SQL = (
    "'{\"doc_id\": ' || doc_id || ', \"lang\": \"' || COALESCE(lang, '')"
    " || '\", \"n_chars\": ' || COALESCE(n_chars, 0)"
    " || ', \"text\": \"' || san || '\"}'"
)


@register(
    "jsonl_docs_scan",
    f"""
    WITH d AS (
        SELECT doc_id, lang, n_chars, {_JSONL_SAN_SQL} AS san
        FROM documents ORDER BY doc_id LIMIT 20000
    ),
    lines AS (
        SELECT doc_id, lang, n_chars, san, {_JSONL_LINE_SQL} AS line,
               doc_id % 7 = 3 AS corrupt
        FROM d
    )
    SELECT CAST(CASE WHEN NOT corrupt THEN doc_id END AS BIGINT) AS doc_id,
           CASE WHEN NOT corrupt THEN COALESCE(lang, '') END AS lang,
           CAST(CASE WHEN NOT corrupt THEN COALESCE(n_chars, 0) END
                AS BIGINT) AS n_chars,
           CASE WHEN NOT corrupt THEN md5(san) END AS text_fp,
           CASE WHEN corrupt THEN 'T' ELSE 'F' END AS corrupt,
           CASE WHEN corrupt
                THEN md5(substr(line, 1, length(line) - 1)) END AS corrupt_fp
    FROM lines
    """,
    doc="JSONL corpus scan (sources/jsonl.read_jsonl): documents rendered "
    "to newline-delimited JSON (every doc_id%7==3 line truncated to a "
    "malformed record), then read back through spark.read.json with an "
    "explicit schema and the PERMISSIVE corrupt-record channel — parsed "
    "fields, text round-trip fingerprint, and per-line corrupt raw "
    "fingerprints all oracle-replayed.  Explicit schema = no inference "
    "pass at 100 TB; corrupt lines become data, not job failures",
)
def jsonl_docs_scan_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .queries_ext import _SCAN_CAP, _scan_path
    from .sources.jsonl import read_jsonl

    d = (
        load(spark, sf_dir, "documents")
        .orderBy("doc_id")
        .limit(_SCAN_CAP)
        .select(
            "doc_id",
            "lang",
            "n_chars",
            F.regexp_replace(
                F.lower(F.coalesce(F.col("text"), F.lit(""))),
                "[^a-z0-9 ]",
                "",
            ).alias("san"),
        )
    )
    line = F.concat(
        F.lit('{"doc_id": '),
        F.col("doc_id").cast("string"),
        F.lit(', "lang": "'),
        F.coalesce(F.col("lang"), F.lit("")),
        F.lit('", "n_chars": '),
        F.coalesce(F.col("n_chars"), F.lit(0)).cast("string"),
        F.lit(', "text": "'),
        F.col("san"),
        F.lit('"}'),
    )
    emitted = F.when(
        F.col("doc_id") % 7 == 3, F.expr("substring(l, 1, length(l) - 1)")
    ).otherwise(F.col("l"))
    rows = [
        r["out"]
        for r in d.withColumn("l", line)
        .select(emitted.alias("out"))
        .collect()
    ]
    path = _scan_path(sf_dir, "docs.jsonl")
    with open(path, "w") as fh:
        fh.write("\n".join(rows) + ("\n" if rows else ""))
    parsed = read_jsonl(
        spark,
        path,
        "doc_id long, lang string, n_chars long, text string",
    )
    return parsed.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "lang",
        F.col("n_chars").cast("long").alias("n_chars"),
        F.when(
            F.col("_corrupt_record").isNull(), F.md5(F.col("text"))
        ).alias("text_fp"),
        F.when(F.col("_corrupt_record").isNotNull(), F.lit("T"))
        .otherwise(F.lit("F"))
        .alias("corrupt"),
        F.md5(F.col("_corrupt_record")).alias("corrupt_fp"),
    )


# ---------------------------------------------------------------------------
# Exact per-language percentile quality cutoff (percentile_disc semantics,
# computed scale-safe over DISTINCT scores, never a whole-partition window)
# ---------------------------------------------------------------------------
_QPF_DECILE = 1  # keep docs at/above the per-lang 10th length percentile


@register(
    "quality_percentile_filter",
    f"""
    WITH d AS (
        SELECT doc_id, COALESCE(lang, '') AS lang,
               COALESCE(n_chars, 0) AS score
        FROM documents
    ),
    c AS (SELECT lang, score, COUNT(*) AS cnt FROM d GROUP BY 1, 2),
    t AS (SELECT lang, SUM(cnt) AS n_total FROM c GROUP BY 1),
    r AS (
        SELECT c.lang, score,
               SUM(cnt) OVER (PARTITION BY c.lang ORDER BY score
                              ROWS UNBOUNDED PRECEDING) AS cum,
               t.n_total
        FROM c JOIN t USING (lang)
    ),
    cut AS (
        SELECT lang, MIN(score) AS cutoff
        FROM r WHERE cum * 10 >= n_total * {_QPF_DECILE} GROUP BY lang
    )
    SELECT CAST(d.doc_id AS BIGINT) AS doc_id, d.lang,
           CAST(d.score AS BIGINT) AS score,
           CAST(cut.cutoff AS BIGINT) AS cutoff,
           CASE WHEN d.score >= cut.cutoff THEN 'T' ELSE 'F' END AS keep
    FROM d JOIN cut USING (lang)
    """,
    doc="Per-language exact percentile_disc(0.1) quality cutoff: the "
    "smallest score whose cumulative count reaches 10% of the language "
    "(integer comparison cum*10 >= n — no float percentile boundary). "
    "Scale-safe: the running sum windows over DISTINCT (lang, score) "
    "pairs (bounded cardinality), never over the document partition, and "
    "the per-lang cutoffs broadcast back — the corpus itself is touched "
    "by exactly one groupBy and one broadcast-join scan",
)
def quality_percentile_filter_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.coalesce(F.col("lang"), F.lit("")).alias("lang"),
        F.coalesce(F.col("n_chars"), F.lit(0)).alias("score"),
    )
    c = d.groupBy("lang", "score").agg(F.count(F.lit(1)).alias("cnt"))
    t = c.groupBy("lang").agg(F.sum("cnt").alias("n_total"))
    r = c.join(t, "lang").withColumn(
        "cum",
        F.sum("cnt").over(
            W.partitionBy("lang")
            .orderBy("score")
            .rowsBetween(W.unboundedPreceding, W.currentRow)
        ),
    )
    cut = (
        r.filter(F.col("cum") * 10 >= F.col("n_total") * _QPF_DECILE)
        .groupBy("lang")
        .agg(F.min("score").alias("cutoff"))
    )
    return d.join(F.broadcast(cut), "lang").select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "lang",
        F.col("score").cast("long").alias("score"),
        F.col("cutoff").cast("long").alias("cutoff"),
        F.when(F.col("score") >= F.col("cutoff"), F.lit("T"))
        .otherwise(F.lit("F"))
        .alias("keep"),
    )


# ---------------------------------------------------------------------------
# Count-Min sketch heavy hitters [Cormode & Muthukrishnan 2005 — public]
# ---------------------------------------------------------------------------
_CM_D = 4      # hash rows
_CM_W = 512    # columns per row
_CM_TOPK = 20
# portable row hash: 32-bit md5 prefix of 'cm<i>:<term>', mod width
_CM_COL_SQL = (
    "('0x' || substr(md5('cm' || {i} || ':' || term), 1, 8))::BIGINT"
    f" % {_CM_W}"
)


@register(
    "heavy_hitter_terms",
    f"""
    WITH w AS (
        SELECT unnest(string_split({_NORM_SQL}, ' ')) AS term
        FROM documents
    ),
    words AS (SELECT term FROM w WHERE term <> ''),
    cells AS (
        SELECT i, {'('}CASE
            {' '.join(f"WHEN i = {i} THEN " + _CM_COL_SQL.format(i=i) for i in range(_CM_D))}
        END{')'} AS col, COUNT(*) AS cnt
        FROM words CROSS JOIN (SELECT unnest(range({_CM_D})) AS i)
        GROUP BY 1, 2
    ),
    exact AS (SELECT term, COUNT(*) AS exact_count FROM words GROUP BY 1),
    est AS (
        SELECT e.term, MIN(c.cnt) AS cm_estimate
        FROM exact e
        CROSS JOIN (SELECT unnest(range({_CM_D})) AS i) r
        JOIN cells c ON c.i = r.i AND c.col = ({'('}CASE
            {' '.join(f"WHEN r.i = {i} THEN " + _CM_COL_SQL.format(i=i).replace('term', 'e.term') for i in range(_CM_D))}
        END{')'})
        GROUP BY e.term
    )
    SELECT e.term, CAST(e.exact_count AS BIGINT) AS exact_count,
           CAST(s.cm_estimate AS BIGINT) AS cm_estimate,
           CAST(s.cm_estimate - e.exact_count AS BIGINT) AS overestimate
    FROM exact e JOIN est s USING (term)
    ORDER BY e.exact_count DESC, e.term
    LIMIT {_CM_TOPK}
    """,
    doc=f"Count-Min sketch heavy hitters [Cormode & Muthukrishnan 2005]: "
    f"term frequencies summarized into a fixed {_CM_D}x{_CM_W} counter "
    "grid (bounded memory regardless of vocabulary size — the sketch is "
    "what survives when the exact term groupBy no longer fits), estimate "
    "= min over rows, verified against the exact counts: overestimate "
    ">= 0 always, bounded by the sketch width.  Hashes are portable md5 "
    "prefixes so the oracle rebuilds the identical grid cell-by-cell",
)
def heavy_hitter_terms_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.text import normalize_text, shingle_hash

    words = (
        load(spark, sf_dir, "documents")
        .select(
            F.explode(
                F.split(normalize_text(F.col("text")), " ")
            ).alias("term")
        )
        .filter(F.col("term") != "")
    )

    def col_for(i: int, term: F.Column) -> F.Column:
        return shingle_hash(
            F.concat(F.lit(f"cm{i}:"), term)
        ) % _CM_W

    cells = (
        words.select(
            F.explode(
                F.array(*[
                    F.struct(
                        F.lit(i).alias("i"),
                        col_for(i, F.col("term")).alias("col"),
                    )
                    for i in range(_CM_D)
                ])
            ).alias("c")
        )
        .select("c.i", "c.col")
        .groupBy("i", "col")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    exact = words.groupBy("term").agg(F.count(F.lit(1)).alias("exact_count"))
    probes = exact.select(
        "term",
        "exact_count",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(i).alias("i"),
                    col_for(i, F.col("term")).alias("col"),
                )
                for i in range(_CM_D)
            ])
        ).alias("p"),
    ).select("term", "exact_count", "p.i", "p.col")
    est = (
        probes.join(F.broadcast(cells), ["i", "col"])
        .groupBy("term", "exact_count")
        .agg(F.min("cnt").alias("cm_estimate"))
    )
    return (
        est.select(
            "term",
            F.col("exact_count").cast("long").alias("exact_count"),
            F.col("cm_estimate").cast("long").alias("cm_estimate"),
            (F.col("cm_estimate") - F.col("exact_count"))
            .cast("long")
            .alias("overestimate"),
        )
        .orderBy(F.col("exact_count").desc(), "term")
        .limit(_CM_TOPK)
    )


# ---------------------------------------------------------------------------
# Linear-counting distinct estimation [Whang et al. 1990 — public]
# ---------------------------------------------------------------------------
_LC_M = 65536  # bitmap buckets


@register(
    "distinct_ngram_estimate",
    f"""
    WITH d AS (
        SELECT source, {_NORM_SQL} AS norm FROM documents
    ),
    t AS (
        SELECT source, unnest(string_split(norm, ' ')) AS tok,
               generate_subscripts(string_split(norm, ' '), 1) AS pos,
               string_split(norm, ' ') AS toks
        FROM d
    ),
    g AS (
        SELECT source,
               array_to_string(toks[pos:pos+2], ' ') AS gram
        FROM t WHERE pos + 2 <= len(toks)
    ),
    h AS (
        SELECT DISTINCT source,
               ('0x' || substr(md5(gram), 1, 8))::BIGINT % {_LC_M} AS bucket
        FROM g
    ),
    occ AS (SELECT source, COUNT(*) AS occupied FROM h GROUP BY source),
    ex AS (SELECT source, COUNT(DISTINCT gram) AS exact_distinct FROM g
           GROUP BY source)
    SELECT o.source, CAST({_LC_M} AS BIGINT) AS m,
           CAST(o.occupied AS BIGINT) AS occupied,
           CAST(ROUND({_LC_M} * ln({_LC_M}::DOUBLE
                / ({_LC_M} - o.occupied))) AS BIGINT) AS lc_estimate,
           CAST(e.exact_distinct AS BIGINT) AS exact_distinct
    FROM occ o JOIN ex e USING (source)
    """,
    doc="Linear-counting distinct estimation [Whang et al. 1990]: word-"
    f"trigram cardinality per source from a {_LC_M}-bucket hash bitmap — "
    "estimate = m*ln(m/empty), verified against the exact distinct.  The "
    "bitmap is the fixed-memory scale path (the per-source state is 64k "
    "bits no matter how many trigrams 100 TB holds); the exact half is "
    "the oracle-verified baseline.  Portable md5 bucket hash; the one "
    "float op (ln) is rounded to an integer estimate, far coarser than "
    "any libm ulp difference",
)
def distinct_ngram_estimate_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.text import normalize_text

    d = load(spark, sf_dir, "documents").select(
        "source", normalize_text(F.col("text")).alias("norm")
    )
    toks = d.select("source", F.split("norm", " ").alias("toks"))
    g = toks.select(
        "source",
        F.explode(
            F.when(
                F.size("toks") >= 3,
                F.transform(
                    F.sequence(F.lit(1), F.size("toks") - 2),
                    lambda i: F.array_join(F.slice("toks", i, 3), " "),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("gram"),
    )
    h = g.select(
        "source",
        (F.conv(F.substring(F.md5("gram"), 1, 8), 16, 10).cast("long")
         % _LC_M).alias("bucket"),
    ).distinct()
    occ = h.groupBy("source").agg(F.count(F.lit(1)).alias("occupied"))
    ex = g.groupBy("source").agg(
        F.count_distinct("gram").alias("exact_distinct")
    )
    m = float(_LC_M)
    return occ.join(ex, "source").select(
        "source",
        F.lit(_LC_M).cast("long").alias("m"),
        F.col("occupied").cast("long").alias("occupied"),
        F.round(m * F.log(F.lit(m) / (F.lit(m) - F.col("occupied"))))
        .cast("long")
        .alias("lc_estimate"),
        F.col("exact_distinct").cast("long").alias("exact_distinct"),
    )


# ---------------------------------------------------------------------------
# Bigram Stupid-Backoff surprisal [Brants et al. 2007 — public]
# ---------------------------------------------------------------------------
_BB_TOKS_SQL = (
    f"list_filter(string_split({_NORM_SQL}, ' '), x -> x <> '')"
)


@register(
    "bigram_backoff_surprisal",
    f"""
    WITH tr AS (
        SELECT doc_id, {_BB_TOKS_SQL} AS toks FROM documents
        WHERE doc_id % 2 = 0
    ),
    sc AS (
        SELECT doc_id, {_BB_TOKS_SQL} AS toks FROM documents
        WHERE doc_id % 2 = 1
    ),
    trp AS (
        SELECT unnest(list_transform(range(1, len(toks)),
                      i -> [toks[i], toks[i+1]])) AS pr
        FROM tr
    ),
    c2 AS (
        SELECT pr[1] AS w1, pr[2] AS w2, COUNT(*) AS c2 FROM trp
        GROUP BY 1, 2
    ),
    trt AS (SELECT unnest(toks) AS term FROM tr),
    c1 AS (SELECT term, COUNT(*) AS c1 FROM trt GROUP BY 1),
    consts AS (SELECT SUM(c1) AS nn, COUNT(*) AS vv FROM c1),
    scp AS (
        SELECT doc_id,
               unnest(list_transform(range(1, len(toks)),
                      i -> [toks[i], toks[i+1]])) AS pr
        FROM sc
    ),
    scored AS (
        SELECT s.doc_id,
               COUNT(*) AS n_pairs,
               SUM(CAST(floor(-ln(
                   CASE WHEN c2.c2 IS NOT NULL
                        THEN c2.c2::DOUBLE / u1.c1
                        WHEN u2.c1 IS NOT NULL
                        THEN 0.4 * u2.c1 / k.nn
                        ELSE 0.4 / (k.nn + k.vv) END
                   ) * 1e6 + 0.5) AS BIGINT)) AS surprisal_micro
        FROM scp s
        LEFT JOIN c2 ON c2.w1 = s.pr[1] AND c2.w2 = s.pr[2]
        LEFT JOIN c1 u1 ON u1.term = s.pr[1]
        LEFT JOIN c1 u2 ON u2.term = s.pr[2]
        CROSS JOIN consts k
        GROUP BY s.doc_id
    )
    SELECT CAST(sc.doc_id AS BIGINT) AS doc_id,
           CAST(COALESCE(scored.n_pairs, 0) AS BIGINT) AS n_pairs,
           CAST(COALESCE(scored.surprisal_micro, 0) AS BIGINT)
               AS surprisal_micro,
           CAST(ROUND(CASE WHEN COALESCE(scored.n_pairs, 0) > 0
                THEN scored.surprisal_micro::DOUBLE / scored.n_pairs / 1e6
                ELSE 0.0 END, 6) AS DOUBLE) AS mean_surprisal
    FROM sc LEFT JOIN scored USING (doc_id)
    """,
    doc="Bigram Stupid-Backoff surprisal [Brants et al. 2007] "
    "(functions/text.bigram_backoff_surprisal): LM trained on the even-"
    "id half of the corpus, odd-id half scored as true held-out data — "
    "seen bigram c2/c1, unseen bigram 0.4*c1(w2)/N, OOV floor "
    "0.4/(N+V), per-pair micro-nat rounding before the exact BIGINT "
    "sum.  Bigrams are per-row array transforms (no window shuffle); "
    "the three count joins key on vocabulary — the honest trillion-"
    "token plan where no count table broadcasts",
)
def bigram_backoff_surprisal_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.text import bigram_backoff_surprisal

    d = load(spark, sf_dir, "documents")
    out = bigram_backoff_surprisal(
        d.filter(F.col("doc_id") % 2 == 0),
        d.filter(F.col("doc_id") % 2 == 1),
    )
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "n_pairs",
        "surprisal_micro",
        "mean_surprisal",
    )


# ---------------------------------------------------------------------------
# MMR diversified top-k [Carbonell & Goldstein 1998 — public]
# ---------------------------------------------------------------------------
_MMR_POOL = 12
_MMR_K = 4
_MMR_LAM = 7  # lambda in tenths: score = 7*rel - 3*maxsim
# Exact replica of the Spark float pipeline (similarity.dot): per-element
# FLOAT multiply, sequential DOUBLE fold, norms multiplied before the
# divide.  list_cosine_similarity would compute in float32 and flip the
# 6th decimal at micro-unit boundaries — measured, not hypothetical.
_MMR_DOT = (
    "list_reduce(list_transform(range(1, len({a}) + 1),"
    " i -> CAST({a}[i] * {b}[i] AS DOUBLE)), (acc, x) -> acc + x)"
)


def _mmr_cos_micro(a: str, b: str) -> str:
    cos = (
        f"({_MMR_DOT.format(a=a, b=b)}"
        f" / (sqrt({_MMR_DOT.format(a=a, b=a)})"
        f" * sqrt({_MMR_DOT.format(a=b, b=b)})))"
    )
    return f"CAST(floor(ROUND({cos}, 6) * 1e6 + 0.5) AS BIGINT)"


@register(
    "mmr_diverse_topk",
    f"""
    WITH q AS (
        SELECT vec_id AS qid, embedding AS qv FROM embeddings
        WHERE vec_id % 100 = 0
    ),
    scored0 AS (
        SELECT q.qid, e.vec_id AS nid,
               {_mmr_cos_micro('q.qv', 'e.embedding')} AS rel_micro
        FROM q CROSS JOIN embeddings e WHERE e.vec_id <> q.qid
    ),
    ranked AS (
        SELECT qid, nid, rel_micro,
               ROW_NUMBER() OVER (PARTITION BY qid
                   ORDER BY rel_micro DESC, nid) AS rn
        FROM scored0
    ),
    pool AS (SELECT qid, nid, rel_micro FROM ranked WHERE rn <= {_MMR_POOL}),
    sims AS (
        SELECT a.qid, a.nid AS a, b.nid AS b,
               {_mmr_cos_micro('ea.embedding', 'eb.embedding')} AS sim_micro
        FROM pool a
        JOIN pool b ON a.qid = b.qid AND a.nid <> b.nid
        JOIN embeddings ea ON ea.vec_id = a.nid
        JOIN embeddings eb ON eb.vec_id = b.nid
    ),
    p1 AS (
        SELECT qid, nid FROM (
            SELECT qid, nid, ROW_NUMBER() OVER (PARTITION BY qid
                ORDER BY rel_micro DESC, nid) AS rn FROM pool
        ) WHERE rn = 1
    ),
    s2 AS (
        SELECT c.qid, c.nid,
               {_MMR_LAM} * c.rel_micro - {10 - _MMR_LAM} * s1.sim_micro
                   AS score
        FROM pool c
        JOIN p1 ON c.qid = p1.qid AND c.nid <> p1.nid
        JOIN sims s1 ON s1.qid = c.qid AND s1.a = c.nid AND s1.b = p1.nid
    ),
    p2 AS (
        SELECT qid, nid FROM (
            SELECT qid, nid, ROW_NUMBER() OVER (PARTITION BY qid
                ORDER BY score DESC, nid) AS rn FROM s2
        ) WHERE rn = 1
    ),
    s3 AS (
        SELECT c.qid, c.nid,
               {_MMR_LAM} * c.rel_micro
               - {10 - _MMR_LAM} * GREATEST(s1.sim_micro, sx2.sim_micro)
                   AS score
        FROM pool c
        JOIN p1 ON c.qid = p1.qid AND c.nid <> p1.nid
        JOIN p2 ON c.qid = p2.qid AND c.nid <> p2.nid
        JOIN sims s1 ON s1.qid = c.qid AND s1.a = c.nid AND s1.b = p1.nid
        JOIN sims sx2 ON sx2.qid = c.qid AND sx2.a = c.nid AND sx2.b = p2.nid
    ),
    p3 AS (
        SELECT qid, nid FROM (
            SELECT qid, nid, ROW_NUMBER() OVER (PARTITION BY qid
                ORDER BY score DESC, nid) AS rn FROM s3
        ) WHERE rn = 1
    ),
    s4 AS (
        SELECT c.qid, c.nid,
               {_MMR_LAM} * c.rel_micro
               - {10 - _MMR_LAM} * GREATEST(s1.sim_micro, sx2.sim_micro,
                                            sx3.sim_micro) AS score
        FROM pool c
        JOIN p1 ON c.qid = p1.qid AND c.nid <> p1.nid
        JOIN p2 ON c.qid = p2.qid AND c.nid <> p2.nid
        JOIN p3 ON c.qid = p3.qid AND c.nid <> p3.nid
        JOIN sims s1 ON s1.qid = c.qid AND s1.a = c.nid AND s1.b = p1.nid
        JOIN sims sx2 ON sx2.qid = c.qid AND sx2.a = c.nid AND sx2.b = p2.nid
        JOIN sims sx3 ON sx3.qid = c.qid AND sx3.a = c.nid AND sx3.b = p3.nid
    ),
    p4 AS (
        SELECT qid, nid FROM (
            SELECT qid, nid, ROW_NUMBER() OVER (PARTITION BY qid
                ORDER BY score DESC, nid) AS rn FROM s4
        ) WHERE rn = 1
    ),
    sel AS (
        SELECT qid, 1 AS step, nid FROM p1
        UNION ALL SELECT qid, 2, nid FROM p2
        UNION ALL SELECT qid, 3, nid FROM p3
        UNION ALL SELECT qid, 4, nid FROM p4
    )
    SELECT CAST(sel.qid AS BIGINT) AS qid, CAST(sel.step AS INT) AS step,
           CAST(sel.nid AS BIGINT) AS nid,
           CAST(pool.rel_micro AS BIGINT) AS rel_micro
    FROM sel JOIN pool ON pool.qid = sel.qid AND pool.nid = sel.nid
    """,
    doc="Maximal-Marginal-Relevance diversified top-k [Carbonell & "
    "Goldstein 1998] (operators/similarity.mmr_select): per query, a "
    f"{_MMR_POOL}-candidate cosine pool is greedily re-ranked into "
    f"{_MMR_K} picks maximizing 0.7*relevance - 0.3*max-sim-to-selected "
    "— the diversity re-rank between retrieval and training-set "
    "assembly.  All scores integer micro-units, ties to the smaller id; "
    "the greedy loop is k driver-iterated DISTRIBUTED steps (anti-join "
    "+ groupBy-max over every query at once, nothing collected); the "
    "oracle unrolls all four steps CTE-by-CTE",
)
def mmr_diverse_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.similarity import dot, mmr_select

    e = load(spark, sf_dir, "embeddings").transform(spread)
    nrm = F.sqrt(dot(F.col("embedding"), F.col("embedding")))
    corpus = e.select(
        F.col("vec_id").alias("nid"),
        F.col("embedding").alias("nv"),
        nrm.alias("nn"),
    )
    q = e.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qv"),
        nrm.alias("qn"),
    )

    def micro(sim6):
        return F.floor(sim6 * 1e6 + 0.5).cast("long")

    rel6 = F.round(
        dot(F.col("qv"), F.col("nv")) / (F.col("qn") * F.col("nn")), 6
    )
    ranked = (
        F.broadcast(q)
        .crossJoin(corpus)
        .filter(F.col("qid") != F.col("nid"))
        .select("qid", "nid", micro(rel6).alias("rel_micro"))
        .withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("qid").orderBy(
                    F.col("rel_micro").desc(), F.col("nid")
                )
            ),
        )
    )
    pool = ranked.filter(F.col("rn") <= _MMR_POOL).select(
        "qid", "nid", "rel_micro"
    )
    pa = pool.select("qid", F.col("nid").alias("a"))
    pb = pool.select(F.col("qid").alias("qid_b"), F.col("nid").alias("b"))
    ea = corpus.select(
        F.col("nid").alias("a"), F.col("nv").alias("va"), F.col("nn").alias("na")
    )
    eb = corpus.select(
        F.col("nid").alias("b"), F.col("nv").alias("vb"), F.col("nn").alias("nb")
    )
    sim6 = F.round(
        dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")), 6
    )
    sims = (
        pa.join(pb, (pa.qid == pb.qid_b) & (pa.a != pb.b))
        .select("qid", "a", "b")
        .join(ea, "a")
        .join(eb, "b")
        .select("qid", "a", "b", micro(sim6).alias("sim_micro"))
    )
    sel = mmr_select(pool, sims, k=_MMR_K, lam_tenths=_MMR_LAM)
    return sel.join(pool, ["qid", "nid"]).select(
        F.col("qid").cast("long").alias("qid"),
        F.col("step").cast("int").alias("step"),
        F.col("nid").cast("long").alias("nid"),
        F.col("rel_micro").cast("long").alias("rel_micro"),
    )


# ---------------------------------------------------------------------------
# Edit-distance fuzzy duplicate pairs (banded levenshtein join)
# ---------------------------------------------------------------------------
_ED_PREFIX = 8
_ED_MAXLEN = 40
_ED_MAXDIST = 3
_ED_BUCKET_CUTOFF = 200  # occupancy guard; see edit_distance_dup_pairs doc
_ED_EXT_PREFIX = 24  # re-key length for over-occupied prefix buckets


@register(
    "edit_distance_dup_pairs",
    f"""
    WITH d AS (
        SELECT doc_id,
               substr({_NORM_SQL}, 1, {_ED_MAXLEN}) AS head
        FROM documents WHERE {_NORM_SQL} <> ''
    ),
    k AS (
        SELECT doc_id, head, substr(head, 1, {_ED_PREFIX}) AS pfx,
               length(head) AS ln
        FROM d
    ),
    hot1 AS (
        SELECT pfx FROM k GROUP BY pfx
        HAVING COUNT(*) > {_ED_BUCKET_CUTOFF}
    ),
    k2 AS (
        SELECT k.doc_id, k.head, k.ln,
               CASE WHEN hot1.pfx IS NOT NULL
                    THEN substr(k.head, 1, {_ED_EXT_PREFIX})
                    ELSE k.pfx END AS bkey
        FROM k LEFT JOIN hot1 ON k.pfx = hot1.pfx
    ),
    hot2 AS (
        SELECT bkey FROM k2 GROUP BY bkey
        HAVING COUNT(*) > {_ED_BUCKET_CUTOFF}
    ),
    kf AS (
        SELECT k2.* FROM k2 ANTI JOIN hot2 USING (bkey)
    ),
    cand AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.head AS ha, b.head AS hb
        FROM kf a JOIN kf b
          ON a.bkey = b.bkey AND a.doc_id < b.doc_id
         AND abs(a.ln - b.ln) <= {_ED_MAXDIST}
    )
    SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b,
           CAST(levenshtein(ha, hb) AS INT) AS edit_dist
    FROM cand WHERE levenshtein(ha, hb) <= {_ED_MAXDIST}
    """,
    doc="Edit-distance fuzzy duplicate pairs over document heads: "
    f"candidates come from a ({_ED_PREFIX}-char-prefix) equi-join plus "
    f"a length band (|len diff| <= {_ED_MAXDIST} — a NECESSARY "
    "condition for the distance bound, so no true pair is lost to the "
    "band), then exact levenshtein verifies.  The all-pairs "
    "formulation is quadratic; prefix-bucketing makes candidate "
    "generation an equi-join — the same LSH-shaped plan as MinHash, "
    "with the known recall trade (pairs editing INSIDE the prefix are "
    "missed; shrink the prefix or add a suffix index to recover them).  "
    "Scale guard (two tiers, the containment_pairs df-guard applied to "
    "bucket occupancy): a prefix bucket holding more than "
    f"{_ED_BUCKET_CUTOFF} docs — boilerplate openings under Zipf — is "
    f"re-keyed to a {_ED_EXT_PREFIX}-char prefix (recall trade: hot-"
    f"bucket pairs editing inside chars {_ED_PREFIX + 1}-"
    f"{_ED_EXT_PREFIX} are missed), and any sub-bucket STILL over the "
    "cutoff is dropped outright.  Every surviving bucket is <= cutoff, "
    "so candidates are bounded by cutoff * n — linear in corpus size.  "
    "Both engines apply the identical rules; at the tested SFs no "
    "bucket crosses the cutoff and the guard is a no-op.  The Spark "
    "join additionally keys on a length band (ln // (maxdist+1); side "
    "a probes bands {b-1, b, b+1}, side b keys its own) — a LOSSLESS "
    "candidate refinement (|len diff| <= maxdist implies |band diff| "
    "<= 1, each pair matches exactly once), so mid-size prefix buckets "
    "whose lengths spread stop paying occ^2 inside the cutoff; the "
    "oracle intentionally stays unbanded, proving the refinement "
    "changes nothing",
)
def edit_distance_dup_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.text import normalize_text

    d = (
        load(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.substring(
                normalize_text(F.col("text")), 1, _ED_MAXLEN
            ).alias("head"),
        )
        .filter(F.col("head") != "")
    )
    k = d.select(
        "doc_id",
        "head",
        F.substring("head", 1, _ED_PREFIX).alias("pfx"),
        F.length("head").alias("ln"),
    )
    # occupancy guard tier 1: over-occupied prefix buckets (the Zipf
    # head — boilerplate openings) re-key to a longer prefix.  The hot
    # set is tiny by construction (> cutoff occupancy each), so it
    # broadcasts; bucket membership is a property of the shared pfx, so
    # both sides of any candidate pair re-key consistently.
    hot1 = (
        k.groupBy("pfx")
        .agg(F.count(F.lit(1)).alias("occ"))
        .filter(F.col("occ") > _ED_BUCKET_CUTOFF)
        .select("pfx", F.lit(True).alias("is_hot"))
    )
    k2 = (
        k.join(F.broadcast(hot1), "pfx", "left")
        .select(
            "doc_id",
            "head",
            "ln",
            F.when(
                F.col("is_hot"),
                F.substring("head", 1, _ED_EXT_PREFIX),
            )
            .otherwise(F.col("pfx"))
            .alias("bkey"),
        )
    )
    # tier 2: a sub-bucket still over the cutoff (heads identical past
    # the extended prefix at boilerplate scale) is dropped — the hard
    # cap that makes Σ occ² <= cutoff * n.
    hot2 = (
        k2.groupBy("bkey")
        .agg(F.count(F.lit(1)).alias("occ"))
        .filter(F.col("occ") > _ED_BUCKET_CUTOFF)
        .select("bkey")
    )
    kf = k2.join(F.broadcast(hot2), "bkey", "left_anti")
    # identical-head factoring: a head repeated d times (boilerplate —
    # THE hot case on a web corpus) contributes d rows to every join
    # key it touches, so pair candidates grow d^2 in DOCS even though
    # every one of those pairs is the same dist-0 comparison.  Group to
    # one row per distinct head (the id list is guard-bounded: any
    # group over the cutoff was dropped by tier 2 above); identical
    # heads share bkey by construction (bkey is a substring of head)
    # lazy localCheckpoint, not persist(): three consumers below
    # (within-pairs, both join sides) would otherwise each replay the
    # scan + both occupancy aggregations; checkpoint blocks are
    # reference-tracked, so repeated invocations (bench repeats) never
    # accumulate leaked cache entries the way an un-unpersisted
    # persist() does (the dedup_upsert stance, operators/upsert.py)
    grp = (
        kf.groupBy("bkey", "head", "ln")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("ids"))
        .localCheckpoint(eager=False)
    )
    # (1) within-group pairs: identical heads = edit distance 0, read
    # straight off the sorted id list — no levenshtein, no join
    within = grp.select(
        F.explode(
            F.expr(
                "flatten(transform(ids, (x, i) -> "
                "transform(slice(ids, i + 2, size(ids)), "
                "y -> struct(x AS id_a, y AS id_b))))"
            )
        ).alias("p")
    ).select(
        F.col("p.id_a").alias("id_a"),
        F.col("p.id_b").alias("id_b"),
        F.lit(0).cast("int").alias("edit_dist"),
    )
    # (2) cross-group pairs: the bucket join now runs over DISTINCT
    # heads (replication-immune — levenshtein count no longer grows
    # with duplicate density), each unordered head pair met once via
    # ha < hb, then verified matches expand to their id pairs.  The
    # join key adds a length band (ln // (maxdist+1)): |len diff| <=
    # maxdist implies |band diff| <= 1, so side a probes bands
    # {b-1, b, b+1} while side b keys its own — lossless, each pair
    # matched exactly once, and mid-size buckets whose lengths spread
    # stop paying occ^2 inside the cutoff
    band = F.floor(F.col("ln") / F.lit(_ED_MAXDIST + 1)).cast("long")
    ga = grp.select(
        F.col("head").alias("ha"), "bkey", F.col("ln").alias("la"),
        F.col("ids").alias("ids_a"),
        F.explode(F.array(band - 1, band, band + 1)).alias("bnd"),
    )
    gb = grp.select(
        F.col("head").alias("hb"), F.col("bkey").alias("bkey_b"),
        F.col("ln").alias("lb"), F.col("ids").alias("ids_b"),
        band.alias("bnd_b"),
    )
    across = (
        ga.join(
            gb,
            (F.col("bkey") == F.col("bkey_b"))
            & (F.col("bnd") == F.col("bnd_b"))
            & (F.col("ha") < F.col("hb"))
            & (F.abs(F.col("la") - F.col("lb")) <= _ED_MAXDIST),
        )
        .withColumn("edit_dist", F.levenshtein("ha", "hb").cast("int"))
        .filter(F.col("edit_dist") <= _ED_MAXDIST)
        .select(F.explode("ids_a").alias("x"), "ids_b", "edit_dist")
        .select("x", F.explode("ids_b").alias("y"), "edit_dist")
        .select(
            F.least("x", "y").alias("id_a"),
            F.greatest("x", "y").alias("id_b"),
            "edit_dist",
        )
    )
    return within.unionByName(across)


# ---------------------------------------------------------------------------
# Containment (asymmetric overlap: quote/partial-duplicate detection)
# ---------------------------------------------------------------------------
_CONT_DF_CUTOFF = 2000  # head-term df guard; see containment_pairs doc


@register(
    "containment_pairs",
    f"""
    WITH d AS (
        SELECT doc_id, list_distinct(list_filter(
            string_split({_NORM_SQL}, ' '), x -> x <> '')) AS w
        FROM documents WHERE doc_id % 5 = 0
    ),
    t AS (SELECT doc_id, unnest(w) AS term FROM d),
    n AS (SELECT doc_id, len(w) AS nw FROM d),
    hot AS (
        SELECT term FROM t GROUP BY term
        HAVING COUNT(*) > {_CONT_DF_CUTOFF}
    ),
    tp AS (SELECT doc_id, term FROM t ANTI JOIN hot USING (term)),
    pairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
        FROM tp a JOIN tp b ON a.term = b.term AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT CAST(p.id_a AS BIGINT) AS id_a, CAST(p.id_b AS BIGINT) AS id_b,
           CAST(ROUND(p.inter::DOUBLE / LEAST(na.nw, nb.nw), 6) AS DOUBLE)
               AS containment
    FROM pairs p
    JOIN n na ON na.doc_id = p.id_a
    JOIN n nb ON nb.doc_id = p.id_b
    WHERE p.inter * 10 >= LEAST(na.nw, nb.nw) * 9
      AND p.inter::DOUBLE / LEAST(na.nw, nb.nw) >= 0.9
    """,
    doc="Containment pairs — the ASYMMETRIC overlap |A∩B|/min(|A|,|B|) "
    "that resemblance (Jaccard) misses: a short document quoted whole "
    "inside a long one scores ~1.0 here but low Jaccard, the partial-"
    "duplicate case of training-data dedup [Broder 1997's containment, "
    "public].  Candidate pairs come from the shared-term inverted-index "
    "join with the count aggregated BEFORE any per-pair set math; the "
    "integer pre-filter (inter*10 >= min*9) prunes in exact arithmetic "
    "and the float threshold only confirms.  Scale guard: terms whose "
    f"document frequency exceeds {_CONT_DF_CUTOFF} are dropped from the "
    "posting lists before the self-join (the Zipf head generates "
    "O(df^2) pairs while carrying no discriminative signal — the same "
    "recall trade as the LSH hot-band guards: overlap consisting "
    "PURELY of pruned head terms is missed, and inter undercounts by "
    "each pair's head-term mass while min(|A|,|B|) stays full-set).  "
    "Both engines apply the identical cutoff",
)
def containment_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.text import normalize_text

    d = (
        load(spark, sf_dir, "documents")
        # this synthetic corpus shares a ~30-word vocabulary, so EVERY
        # term is equally hot and the inverted-index join degenerates
        # toward all-pairs; the subset keeps the oracle exact while
        # bounding the blowup at the tested SFs (where no term crosses
        # the df cutoff and the guard is a no-op)
        .filter(F.col("doc_id") % 5 == 0)
        .select(
            "doc_id",
            F.array_distinct(
                F.filter(
                    F.split(normalize_text(F.col("text")), " "),
                    lambda t: t != F.lit(""),
                )
            ).alias("w"),
        )
    )
    t = d.select("doc_id", F.explode("w").alias("term"))
    n = d.select("doc_id", F.size("w").alias("nw"))
    # df-pruning head guard: the HOT side (df > cutoff) is the tiny one
    # under Zipf — broadcast it into a left_anti so the corpus-sized
    # posting list never shuffles on the head terms it's about to drop.
    # Denominators (nw) stay full-set; only the pair formation and inter
    # count run over the pruned postings (recall trade in the doc above).
    hot = (
        t.groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > _CONT_DF_CUTOFF)
        .select("term")
    )
    tp = t.join(F.broadcast(hot), "term", "left_anti")
    a = tp.select(F.col("doc_id").alias("id_a"), "term")
    b = tp.select(
        F.col("doc_id").alias("id_b"), F.col("term").alias("term_b")
    )
    pairs = (
        a.join(
            b,
            (F.col("term") == F.col("term_b"))
            & (F.col("id_a") < F.col("id_b")),
        )
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    na = n.select(F.col("doc_id").alias("id_a"), F.col("nw").alias("na"))
    nb = n.select(F.col("doc_id").alias("id_b"), F.col("nw").alias("nb"))
    out = (
        pairs.join(na, "id_a")
        .join(nb, "id_b")
        .withColumn("mn", F.least("na", "nb"))
        .filter(F.col("inter") * 10 >= F.col("mn") * 9)
        .withColumn(
            "containment",
            F.round(F.col("inter").cast("double") / F.col("mn"), 6),
        )
        .filter(F.col("inter").cast("double") / F.col("mn") >= 0.9)
    )
    return out.select(
        F.col("id_a").cast("long").alias("id_a"),
        F.col("id_b").cast("long").alias("id_b"),
        "containment",
    )


# ---------------------------------------------------------------------------
# BPE merge learning [Sennrich et al. 2016 — public]: the actual trainer
# step (not just tokenization with fixed rules)
# ---------------------------------------------------------------------------
_BPE_MERGES = 2
_BPE_TOPK = 15
_BPE_FOLD = (
    "list_reduce(string_split({seq}, ' '), (acc, x) -> CASE"
    " WHEN (acc = {a} OR ends_with(acc, ' ' || {a})) AND x = {b}"
    " THEN substr(acc, 1, length(acc) - length({a})) || {a} || {b}"
    " ELSE acc || ' ' || x END)"
)
_BPE_PAIRS = (
    "SELECT pr, SUM(freq) AS cnt FROM ("
    " SELECT freq, unnest(list_transform(range(1, len(tk)),"
    "  i -> tk[i] || ' ' || tk[i+1])) AS pr"
    " FROM (SELECT freq, string_split(seq, ' ') AS tk FROM {src})"
    ") GROUP BY pr"
)


@register(
    "bpe_learn_merges",
    f"""
    WITH w AS (
        SELECT unnest(string_split({_NORM_SQL}, ' ')) AS word
        FROM documents
    ),
    wf AS (SELECT word, COUNT(*) AS freq FROM w WHERE word <> ''
           GROUP BY word),
    s0 AS (
        SELECT word, freq,
               trim(regexp_replace(word, '(.)', '\\1 ', 'g')) AS seq
        FROM wf
    ),
    p1 AS ({_BPE_PAIRS.format(src='s0')}),
    t1 AS (
        SELECT pr, cnt, string_split(pr, ' ')[1] AS a,
               string_split(pr, ' ')[2] AS b
        FROM p1 ORDER BY cnt DESC, pr LIMIT 1
    ),
    s1 AS (
        SELECT word, freq,
               {_BPE_FOLD.format(seq='s0.seq', a='t1.a', b='t1.b')} AS seq
        FROM s0 CROSS JOIN t1
    ),
    p2 AS ({_BPE_PAIRS.format(src='s1')}),
    t2 AS (
        SELECT pr, cnt, string_split(pr, ' ')[1] AS a,
               string_split(pr, ' ')[2] AS b
        FROM p2 ORDER BY cnt DESC, pr LIMIT 1
    ),
    s2 AS (
        SELECT word, freq,
               {_BPE_FOLD.format(seq='s1.seq', a='t2.a', b='t2.b')} AS seq
        FROM s1 CROSS JOIN t2
    ),
    tok AS (
        SELECT tok, SUM(freq) AS cnt FROM (
            SELECT freq, unnest(string_split(seq, ' ')) AS tok FROM s2
        ) GROUP BY tok ORDER BY cnt DESC, tok LIMIT {_BPE_TOPK}
    )
    SELECT 'merge' AS kind, CAST(1 AS INT) AS step, a || b AS tok,
           CAST(cnt AS BIGINT) AS cnt FROM t1
    UNION ALL
    SELECT 'merge', 2, a || b, CAST(cnt AS BIGINT) FROM t2
    UNION ALL
    SELECT 'token', 0, tok, CAST(cnt AS BIGINT) FROM tok
    """,
    doc=f"BPE merge learning [Sennrich et al. 2016] — the TRAINER step: "
    "words decompose to space-joined symbol sequences, the corpus-"
    f"weighted most frequent adjacent symbol pair is merged, {_BPE_MERGES} "
    "rounds, then the learned-vocabulary token counts.  Merge "
    "application is a left-to-right non-overlapping fold anchored at "
    "the accumulator TAIL (boundary-safe where plain string replace is "
    "not: 'ba b' must not merge).  Per round the distributed work is "
    "one pair-count groupBy over the VOCABULARY (words pre-aggregated "
    "with frequencies — the corpus itself is scanned once); the driver "
    "holds one (pair, count) row per round, the model.  Ties break to "
    "the lexicographically smaller pair in both engines",
)
def bpe_learn_merges_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.text import normalize_text

    w = (
        load(spark, sf_dir, "documents")
        .select(
            F.explode(
                F.split(normalize_text(F.col("text")), " ")
            ).alias("word")
        )
        .filter(F.col("word") != "")
    )
    wf = w.groupBy("word").agg(F.count(F.lit(1)).alias("freq"))
    # persisted only for the merge loop below; released before return so
    # repeated invocations (bench reruns) never accumulate cache entries
    s0 = wf.withColumn(
        "seq", F.trim(F.regexp_replace("word", "(.)", "$1 "))
    ).persist()
    s = s0

    def pair_counts(df):
        toks = F.split("seq", " ")
        # guard: Spark's sequence(1, 0) DESCENDS, so a single-token seq
        # must short-circuit to an empty pair list
        prs = F.when(
            F.size(toks) >= 2,
            F.transform(
                F.sequence(F.lit(1), F.size(toks) - 1),
                lambda i: F.concat(
                    F.element_at(toks, i),
                    F.lit(" "),
                    F.element_at(toks, i + 1),
                ),
            ),
        ).otherwise(F.array().cast("array<string>"))
        return (
            df.select("freq", F.explode(prs).alias("pr"))
            .groupBy("pr")
            .agg(F.sum("freq").alias("cnt"))
        )

    def apply_merge(df, a: str, b: str):
        merged = a + b
        toks = F.split("seq", " ")
        first = F.element_at(toks, 1)
        rest = F.slice(
            toks, 2, F.greatest(F.size(toks) - 1, F.lit(0))
        )
        fn = lambda acc, x: F.when(
            ((acc == F.lit(a)) | acc.endswith(" " + a)) & (x == F.lit(b)),
            F.regexp_replace(acc, f"(^| ){a}$", f"$1{merged}"),
        ).otherwise(F.concat(acc, F.lit(" "), x))
        return df.withColumn("seq", F.aggregate(rest, first, fn))

    merges = []
    try:
        for step in range(1, _BPE_MERGES + 1):
            top = (
                pair_counts(s)
                .orderBy(F.col("cnt").desc(), "pr")
                .limit(1)
                .collect()[0]
            )
            a, b = top["pr"].split(" ")
            merges.append((step, a + b, int(top["cnt"])))
            s = apply_merge(s, a, b).localCheckpoint(eager=True)
    finally:
        # every post-loop consumer reads the eager checkpoint, whose
        # lineage no longer reaches the persisted frame — and on the
        # error path (e.g. a degenerate corpus with no pairs left makes
        # collect()[0] raise) the block-manager entry must not leak
        # across bench reruns
        s0.unpersist()
    tok = (
        s.select("freq", F.explode(F.split("seq", " ")).alias("tok"))
        .groupBy("tok")
        .agg(F.sum("freq").alias("cnt"))
        .orderBy(F.col("cnt").desc(), "tok")
        .limit(_BPE_TOPK)
        .select(
            F.lit("token").alias("kind"),
            F.lit(0).cast("int").alias("step"),
            "tok",
            F.col("cnt").cast("long").alias("cnt"),
        )
    )
    mdf = spark.createDataFrame(
        merges, "step int, tok string, cnt long"
    ).select(F.lit("merge").alias("kind"), "step", "tok", "cnt")
    return mdf.unionByName(tok)


# ---------------------------------------------------------------------------
# BPE tokenizer APPLY with a frozen merge list — the inference twin of
# bpe_learn_merges: the tokenizer is a fixed artifact; encoding a corpus
# under it is the per-document token-cost accounting of training-data prep
# ---------------------------------------------------------------------------
_BPE_FROZEN: list[tuple[str, str]] = [
    ("t", "h"),
    ("th", "e"),
    ("i", "n"),
    ("e", "r"),
    ("a", "t"),
    ("o", "n"),
]


def _bpe_apply_sql() -> str:
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
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_words,
           CAST(SUM(len(string_split(seq, ' '))) AS BIGINT) AS n_bpe_tokens
    FROM s GROUP BY doc_id
    """


@register(
    "bpe_apply_fixed",
    _bpe_apply_sql(),
    doc=f"BPE tokenizer APPLY under a frozen {len(_BPE_FROZEN)}-merge "
    "vocabulary — the inference twin of bpe_learn_merges (a tokenizer is "
    "a fixed artifact at corpus-encoding time): each word decomposes to "
    "its symbol sequence and the merge list applies IN ORDER with the "
    "same boundary-safe left-to-right fold the trainer uses (plain "
    "string replace would merge across the 'ba b' boundary), then "
    "per-document token counts aggregate — the token-cost accounting "
    "that prices a corpus for training.  Pure JVM expression work, one "
    "explode + one groupBy; the oracle replays every fold literally",
)
def bpe_apply_fixed_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.text import normalize_text

    w = (
        load(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.explode(
                F.split(normalize_text(F.col("text")), " ")
            ).alias("word"),
        )
        .filter(F.col("word") != "")
    )
    # Encode the VOCABULARY, not the occurrences: token count per word
    # is a pure function of the word, and the corpus repeats a small
    # vocabulary massively — folding each distinct word once and
    # broadcast-joining counts back is the trainer's own
    # words-pre-aggregated trick (measured ~4x on this query; at 100 TB
    # the vocab:occurrence ratio only grows).  Values are identical:
    # the oracle still encodes per occurrence.
    wc = w.groupBy("doc_id", "word").agg(F.count(F.lit(1)).alias("cnt"))
    vocab = wc.select("word").distinct().withColumn(
        "seq", F.trim(F.regexp_replace("word", "(.)", "$1 "))
    )

    def apply_merge(df, a: str, b: str):
        merged = a + b
        toks = F.split("seq", " ")
        first = F.element_at(toks, 1)
        rest = F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0)))
        fn = lambda acc, x: F.when(  # noqa: E731
            ((acc == F.lit(a)) | acc.endswith(" " + a)) & (x == F.lit(b)),
            F.regexp_replace(acc, f"(^| ){a}$", f"$1{merged}"),
        ).otherwise(F.concat(acc, F.lit(" "), x))
        return df.withColumn("seq", F.aggregate(rest, first, fn))

    for a, b in _BPE_FROZEN:
        vocab = apply_merge(vocab, a, b)
    vtoks = vocab.select(
        "word", F.size(F.split("seq", " ")).alias("n_toks")
    )
    return (
        wc.join(F.broadcast(vtoks), "word")
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").cast("long").alias("n_words"),
            F.sum(F.col("cnt") * F.col("n_toks"))
            .cast("long")
            .alias("n_bpe_tokens"),
        )
    )


# ---------------------------------------------------------------------------
# Per-group linear regression (exact 2x2 normal equations)
# ---------------------------------------------------------------------------
@register(
    "per_group_linreg",
    """
    WITH d AS (
        SELECT source,
               CAST(len(list_filter(string_split(COALESCE(text, ''), ' '),
                                    x -> x <> '')) AS BIGINT) AS x,
               CAST(COALESCE(n_chars, 0) AS BIGINT) AS y
        FROM documents
    ),
    s AS (
        SELECT source, COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
               SUM(x * x) AS sxx, SUM(x * y) AS sxy
        FROM d GROUP BY source
    )
    SELECT source, CAST(n AS BIGINT) AS n,
           CAST(ROUND((n * sxy - sx * sy)::DOUBLE
                / (n * sxx - sx * sx), 6) AS DOUBLE) AS slope,
           CAST(ROUND((sy * sxx - sx * sxy)::DOUBLE
                / (n * sxx - sx * sx), 6) AS DOUBLE) AS intercept
    FROM s WHERE n * sxx - sx * sx <> 0
    """,
    doc="Per-group OLS linear regression (chars-per-token line per "
    "source) by exact 2x2 normal equations: all moments are BIGINT sums "
    "in ONE partial-aggregable pass, so the fit is a closed-form divide "
    "of exact integers — a grouped model fit with no iteration, no "
    "driver state, and bit-identical replays.  The pattern scales to "
    "any per-key scalar regression at 100 TB (moments merge "
    "associatively)",
)
def per_group_linreg_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents").select(
        "source",
        F.size(
            F.filter(
                F.split(F.coalesce(F.col("text"), F.lit("")), " "),
                lambda t: t != F.lit(""),
            )
        ).cast("long").alias("x"),
        F.coalesce(F.col("n_chars"), F.lit(0)).cast("long").alias("y"),
    )
    s = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    det = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    return s.filter(det != 0).select(
        "source",
        F.col("n").cast("long").alias("n"),
        F.round(
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
            .cast("double") / det,
            6,
        ).alias("slope"),
        F.round(
            (F.col("sy") * F.col("sxx") - F.col("sx") * F.col("sxy"))
            .cast("double") / det,
            6,
        ).alias("intercept"),
    )


# ---------------------------------------------------------------------------
# Distribution shift: per-source KL divergence vs the corpus unigram LM
# ---------------------------------------------------------------------------
@register(
    "source_kl_divergence",
    f"""
    WITH t AS (
        SELECT source, unnest(string_split({_NORM_SQL}, ' ')) AS term
        FROM documents
    ),
    tt AS (SELECT source, term FROM t WHERE term <> ''),
    sc AS (SELECT source, term, COUNT(*) AS c FROM tt GROUP BY 1, 2),
    stot AS (SELECT source, SUM(c) AS ns FROM sc GROUP BY source),
    gc AS (SELECT term, SUM(c) AS g FROM sc GROUP BY term),
    gtot AS (SELECT SUM(g) AS ng, COUNT(*) AS v FROM gc),
    terms AS (
        SELECT sc.source, sc.c, st.ns, gc.g, gt.ng, gt.v
        FROM sc
        JOIN stot st USING (source)
        JOIN gc USING (term)
        CROSS JOIN gtot gt
    ),
    scored AS (
        SELECT source,
               SUM(CAST(floor(
                   (c::DOUBLE / ns)
                   * ln((c::DOUBLE / ns)
                        / ((g + 1.0) / (ng + v)))
                   * 1e9 + 0.5) AS BIGINT)) AS kl_nano
        FROM terms GROUP BY source
    )
    SELECT source, CAST(kl_nano AS BIGINT) AS kl_nano,
           CAST(ROUND(kl_nano / 1e9, 6) AS DOUBLE) AS kl_nats
    FROM scored
    """,
    doc="Distribution-shift monitor: KL(source unigram dist || add-1-"
    "smoothed corpus dist) per source — the drift metric a corpus "
    "curation pipeline tracks per ingest batch.  Per-term contributions "
    "round to integer NANO-nats before the exact BIGINT sum (the "
    "surprisal idiom), so the score is summation-order free and "
    "replayed exactly.  One tokenize feeds both distributions; the "
    "per-term join keys on the vocabulary",
)
def source_kl_divergence_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.text import normalize_text

    tt = (
        load(spark, sf_dir, "documents")
        .select(
            "source",
            F.explode(
                F.split(normalize_text(F.col("text")), " ")
            ).alias("term"),
        )
        .filter(F.col("term") != "")
    )
    sc = tt.groupBy("source", "term").agg(F.count(F.lit(1)).alias("c"))
    stot = sc.groupBy("source").agg(F.sum("c").alias("ns"))
    gc = sc.groupBy("term").agg(F.sum("c").alias("g"))
    gtot = gc.agg(F.sum("g").alias("ng"), F.count(F.lit(1)).alias("v"))
    terms = (
        sc.join(stot, "source")
        .join(gc, "term")
        .crossJoin(F.broadcast(gtot))
    )
    p = F.col("c").cast("double") / F.col("ns")
    q = (F.col("g") + 1.0) / (F.col("ng") + F.col("v"))
    nano = F.floor(p * F.log(p / q) * 1e9 + 0.5).cast("long")
    scored = terms.groupBy("source").agg(F.sum(nano).alias("kl_nano"))
    return scored.select(
        "source",
        F.col("kl_nano").cast("long").alias("kl_nano"),
        F.round(F.col("kl_nano") / 1e9, 6).alias("kl_nats"),
    )


# ---------------------------------------------------------------------------
# Exact all-pairs similarity join via prefix filtering [Bayardo et al.
# 2007, Chaudhuri et al. 2006 — public]
# ---------------------------------------------------------------------------
_AP_T_NUM, _AP_T_DEN = 4, 5  # jaccard threshold 4/5, exact integers


@register(
    "allpairs_jaccard_join",
    f"""
    WITH d AS (
        SELECT doc_id,
               list_distinct(list_filter(string_split({_NORM_SQL}, ' '),
                                         x -> x <> '')) AS w
        FROM documents WHERE doc_id % 5 = 0
    ),
    pairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               len(list_filter(a.w, x -> list_contains(b.w, x))) AS inter,
               len(a.w) + len(b.w)
                 - len(list_filter(a.w, x -> list_contains(b.w, x)))
                   AS un
        FROM d a JOIN d b ON a.doc_id < b.doc_id
    )
    SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b,
           CAST(ROUND(inter::DOUBLE / un, 6) AS DOUBLE) AS jaccard
    FROM pairs WHERE inter * {_AP_T_DEN} >= un * {_AP_T_NUM}
    """,
    doc="EXACT all-pairs similarity join by prefix filtering [Bayardo "
    "et al. 2007]: tokens globally ordered rarest-first, each document "
    "indexes only its first |d| - ceil(t·|d|) + 1 tokens, and candidate "
    "pairs come from an equi-join on those prefix tokens — the theorem "
    "guarantees any pair with jaccard >= t shares a prefix token, so "
    "recall is EXACT (unlike LSH).  The threshold compares exact "
    f"integers (inter·{_AP_T_DEN} >= union·{_AP_T_NUM}).  The oracle "
    "is the brute-force ALL-PAIRS definition — equality of the two "
    "result sets IS the exactness proof, re-checked on every run.  "
    "Rare-token prefixes keep the inverted index's hot lists short; "
    "document-frequency ordering is what bounds the candidate blowup.  "
    "Two further EXACT prunes ride in the candidate join condition: the "
    "length filter (min/max size ratio must reach t) and the ppjoin "
    "positional filter (remaining tokens after the shared prefix token "
    "must still afford the required overlap)",
)
def allpairs_jaccard_join_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.text import normalize_text

    d = (
        load(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 5 == 0)
        .select(
            "doc_id",
            F.array_distinct(
                F.filter(
                    F.split(normalize_text(F.col("text")), " "),
                    lambda t: t != F.lit(""),
                )
            ).alias("w"),
        )
    )
    toks = d.select("doc_id", F.size("w").alias("s"), F.explode("w").alias("term"))
    dfreq = toks.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    ranked = toks.join(dfreq, "term").withColumn(
        "rn",
        F.row_number().over(
            W.partitionBy("doc_id").orderBy("df", "term")
        ),
    )
    # prefix length = s - ceil(t*s) + 1, with ceil(4s/5) = (4s+4) div 5
    prefix = ranked.filter(
        F.col("rn")
        <= F.col("s") - F.floor((4 * F.col("s") + 4) / 5) + 1
    ).select("doc_id", "s", "rn", "term")
    # Two EXACT candidate prunes at the join, before the distinct and
    # the array-verify ever see a pair:
    # * length filter [Arasu et al. 2006]: J(a,b) <= min/max of the set
    #   sizes, so a candidate needs min(sa,sb)*DEN >= max(sa,sb)*NUM;
    # * positional filter [ppjoin, Xiao et al. 2008]: tokens rank in
    #   the SAME global (df, term) order in every doc, so a shared
    #   token at ranks (rna, rnb) bounds the overlap at
    #   min(sa-rna, sb-rnb) + 1; the threshold needs
    #   inter >= ceil(NUM*(sa+sb) / (NUM+DEN)).  The pair survives if
    #   ANY shared prefix token's row passes — exact, because no token
    #   before the FIRST shared one is in the intersection, so that
    #   row's bound always admits a true pair.
    overlap_min = F.floor(
        (
            _AP_T_NUM * (F.col("sa") + F.col("sb"))
            + (_AP_T_NUM + _AP_T_DEN - 1)
        )
        / (_AP_T_NUM + _AP_T_DEN)
    )
    cand = (
        prefix.select(
            F.col("doc_id").alias("id_a"),
            F.col("s").alias("sa"),
            F.col("rn").alias("rna"),
            "term",
        )
        .join(
            prefix.select(
                F.col("doc_id").alias("id_b"),
                F.col("s").alias("sb"),
                F.col("rn").alias("rnb"),
                F.col("term").alias("term_b"),
            ),
            (F.col("term") == F.col("term_b"))
            & (F.col("id_a") < F.col("id_b"))
            & (F.least("sa", "sb") * _AP_T_DEN
               >= F.greatest("sa", "sb") * _AP_T_NUM)
            & (
                F.least(
                    F.col("sa") - F.col("rna"), F.col("sb") - F.col("rnb")
                )
                + 1
                >= overlap_min
            ),
        )
        .select("id_a", "id_b")
        .distinct()
    )
    a = d.select(F.col("doc_id").alias("id_a"), F.col("w").alias("wa"))
    b = d.select(F.col("doc_id").alias("id_b"), F.col("w").alias("wb"))
    j = cand.join(a, "id_a").join(b, "id_b")
    inter = F.size(F.array_intersect("wa", "wb"))
    un = F.size(F.array_union("wa", "wb"))
    return (
        j.select(
            "id_a",
            "id_b",
            inter.alias("inter"),
            un.alias("un"),
        )
        .filter(F.col("inter") * _AP_T_DEN >= F.col("un") * _AP_T_NUM)
        .select(
            "id_a",
            "id_b",
            F.round(F.col("inter").cast("double") / F.col("un"), 6).alias(
                "jaccard"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Weighted sampling without replacement [Efraimidis & Spirakis 2006]
# ---------------------------------------------------------------------------
_ES_K = 25
_ES_SALT = "es1"
# u in (0, 1]: (h + 1) / 2^32 from the portable 32-bit hash
_ES_U_SQL = (
    f"((('0x' || substr(md5('{_ES_SALT}:' || doc_id), 1, 8))::BIGINT + 1)"
    " / 4294967296.0)"
)


@register(
    "weighted_sample_es",
    f"""
    WITH d AS (
        SELECT doc_id, COALESCE(lang, '') AS lang,
               CAST(GREATEST(COALESCE(n_chars, 0), 1) AS BIGINT) AS wt
        FROM documents
    ),
    keyed AS (
        SELECT doc_id, lang, wt,
               CAST(floor(pow({_ES_U_SQL}, 1.0 / wt) * 1e9 + 0.5)
                    AS BIGINT) AS es_key
        FROM d
    ),
    ranked AS (
        SELECT doc_id, lang, wt, es_key,
               ROW_NUMBER() OVER (PARTITION BY lang
                                  ORDER BY es_key DESC, doc_id) AS rk
        FROM keyed
    )
    SELECT CAST(doc_id AS BIGINT) AS doc_id, lang,
           CAST(wt AS BIGINT) AS wt,
           CAST(es_key AS BIGINT) AS es_key, CAST(rk AS INT) AS rk
    FROM ranked WHERE rk <= {_ES_K}
    """,
    doc="Weighted sampling WITHOUT replacement per language "
    f"[Efraimidis & Spirakis 2006]: key = u^(1/w) with u the "
    "deterministic hash-uniform in (0,1], top-k keys = the weighted "
    "sample — longer documents proportionally likelier, repartition- "
    "and rerun-stable because the randomness is a salted key hash, and "
    "engine-exact because keys round to integer nano-units BEFORE "
    "ranking (both engines rank identical integers; ties to smaller "
    "id).  Per-group top-k runs as per-partition heaps, no global sort",
)
def weighted_sample_es_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.text import shingle_hash

    d = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.coalesce(F.col("lang"), F.lit("")).alias("lang"),
        F.greatest(F.coalesce(F.col("n_chars"), F.lit(0)), F.lit(1))
        .cast("long")
        .alias("wt"),
    )
    u = (
        shingle_hash(
            F.concat(F.lit(f"{_ES_SALT}:"), F.col("doc_id").cast("string"))
        )
        + 1
    ) / F.lit(4294967296.0)
    es_key = F.floor(
        F.pow(u, F.lit(1.0) / F.col("wt")) * 1e9 + 0.5
    ).cast("long")
    ranked = d.withColumn("es_key", es_key).withColumn(
        "rk",
        F.row_number().over(
            W.partitionBy("lang").orderBy(
                F.col("es_key").desc(), F.col("doc_id")
            )
        ),
    )
    return ranked.filter(F.col("rk") <= _ES_K).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "lang",
        F.col("wt").cast("long").alias("wt"),
        F.col("es_key").cast("long").alias("es_key"),
        F.col("rk").cast("int").alias("rk"),
    )


# ---------------------------------------------------------------------------
# Composed per-document curation verdict (the final keep/drop decision)
# ---------------------------------------------------------------------------
_CV_MIN_TOK, _CV_MAX_TOK = 20, 5000
_CV_MIN_TTR = 0.3  # distinct-token ratio floor (repetition guard)
_CV_MWL_LO, _CV_MWL_HI = 2.0, 12.0


@register(
    "corpus_curation_verdict",
    f"""
    WITH d AS (
        SELECT doc_id, COALESCE(lang, '') AS lang,
               list_filter(string_split({_NORM_SQL}, ' '), x -> x <> '')
                   AS w,
               md5({_NORM_SQL}) AS fp
        FROM documents
    ),
    canon AS (SELECT fp, MIN(doc_id) AS canon_id FROM d GROUP BY fp),
    m AS (
        SELECT d.doc_id, d.lang, d.fp, c.canon_id,
               len(d.w) AS n_tok,
               len(list_distinct(d.w)) AS n_distinct,
               COALESCE(list_sum(list_transform(d.w, x -> length(x))), 0)
                   AS sum_len
        FROM d JOIN canon c USING (fp)
    ),
    f AS (
        SELECT doc_id,
            CASE WHEN doc_id = canon_id THEN 'T' ELSE 'F' END AS f_canonical,
            CASE WHEN n_tok >= {_CV_MIN_TOK} AND n_tok <= {_CV_MAX_TOK}
                 THEN 'T' ELSE 'F' END AS f_length,
            CASE WHEN n_tok > 0 AND n_distinct * 10 >= n_tok * 3
                 THEN 'T' ELSE 'F' END AS f_diversity,
            CASE WHEN lang <> '' THEN 'T' ELSE 'F' END AS f_lang,
            CASE WHEN n_tok > 0
                  AND sum_len >= {_CV_MWL_LO} * n_tok
                  AND sum_len <= {_CV_MWL_HI} * n_tok
                 THEN 'T' ELSE 'F' END AS f_wordlen
        FROM m
    )
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           f_canonical, f_length, f_diversity, f_lang, f_wordlen,
           CASE WHEN f_canonical = 'T' AND f_length = 'T'
                 AND f_diversity = 'T' AND f_lang = 'T' AND f_wordlen = 'T'
                THEN 'T' ELSE 'F' END AS keep
    FROM f
    """,
    doc="Composed per-document curation verdict — the final keep/drop "
    "decision with one flag per rule: exact-dedup canonical, token-"
    "count window, type-token diversity floor (integer comparison — no "
    "float threshold), known language, mean-word-length band.  One "
    "tokenize feeds every rule; the only shuffle is the fingerprint "
    "canonical groupBy.  Each rule is independently visible so curation "
    "loss is attributable per reason, which is how mixing decisions "
    "get debugged",
)
def corpus_curation_verdict_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.text import normalize_text

    d = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.coalesce(F.col("lang"), F.lit("")).alias("lang"),
        F.filter(
            F.split(normalize_text(F.col("text")), " "),
            lambda t: t != F.lit(""),
        ).alias("w"),
        F.md5(normalize_text(F.col("text"))).alias("fp"),
    )
    canon = d.groupBy("fp").agg(F.min("doc_id").alias("canon_id"))
    m = d.join(canon, "fp").select(
        "doc_id",
        "lang",
        "canon_id",
        F.size("w").alias("n_tok"),
        F.size(F.array_distinct("w")).alias("n_distinct"),
        F.coalesce(
            F.aggregate(
                F.transform("w", F.length),
                F.lit(0),
                lambda acc, x: acc + x,
            ),
            F.lit(0),
        ).alias("sum_len"),
    )
    tf = lambda c: F.when(c, F.lit("T")).otherwise(F.lit("F"))
    f = m.select(
        "doc_id",
        tf(F.col("doc_id") == F.col("canon_id")).alias("f_canonical"),
        tf(
            (F.col("n_tok") >= _CV_MIN_TOK) & (F.col("n_tok") <= _CV_MAX_TOK)
        ).alias("f_length"),
        tf(
            (F.col("n_tok") > 0)
            & (F.col("n_distinct") * 10 >= F.col("n_tok") * 3)
        ).alias("f_diversity"),
        tf(F.col("lang") != "").alias("f_lang"),
        tf(
            (F.col("n_tok") > 0)
            & (F.col("sum_len") >= _CV_MWL_LO * F.col("n_tok"))
            & (F.col("sum_len") <= _CV_MWL_HI * F.col("n_tok"))
        ).alias("f_wordlen"),
    )
    allpass = (
        (F.col("f_canonical") == "T")
        & (F.col("f_length") == "T")
        & (F.col("f_diversity") == "T")
        & (F.col("f_lang") == "T")
        & (F.col("f_wordlen") == "T")
    )
    return f.select("*", tf(allpass).alias("keep"))


# ---------------------------------------------------------------------------
# Naive Bayes language classifier: exact-integer train + predict
# ---------------------------------------------------------------------------
@register(
    "nb_lang_classifier",
    f"""
    WITH toks AS (
        SELECT doc_id, COALESCE(lang, '') AS lang, doc_id % 4 = 0 AS heldout,
               unnest(string_split({_NORM_SQL}, ' ')) AS term
        FROM documents
    ),
    t AS (SELECT * FROM toks WHERE term <> ''),
    cls AS (
        SELECT lang, COUNT(*) AS n_tok FROM t WHERE NOT heldout GROUP BY lang
    ),
    vocab AS (SELECT COUNT(DISTINCT term) AS v FROM t WHERE NOT heldout),
    cw AS (
        SELECT lang, term, COUNT(*) AS c FROM t WHERE NOT heldout
        GROUP BY lang, term
    ),
    docs AS (
        SELECT doc_id, lang AS true_lang, term FROM t WHERE heldout
    ),
    scored AS (
        SELECT d.doc_id, d.true_lang, c.lang,
               SUM(CAST(floor(ln((COALESCE(cw.c, 0) + 1.0)
                       / (c.n_tok + v.v)) * 1e6 + 0.5) AS BIGINT))
                   AS logp_micro
        FROM docs d
        CROSS JOIN cls c
        CROSS JOIN vocab v
        LEFT JOIN cw ON cw.lang = c.lang AND cw.term = d.term
        GROUP BY d.doc_id, d.true_lang, c.lang
    ),
    pred AS (
        SELECT doc_id, true_lang, lang AS pred_lang, logp_micro,
               ROW_NUMBER() OVER (PARTITION BY doc_id
                   ORDER BY logp_micro DESC, lang) AS rk
        FROM scored
    )
    SELECT CAST(doc_id AS BIGINT) AS doc_id, true_lang, pred_lang,
           CAST(logp_micro AS BIGINT) AS logp_micro,
           CASE WHEN true_lang = pred_lang THEN 'T' ELSE 'F' END AS correct
    FROM pred WHERE rk = 1
    """,
    doc="Multinomial Naive Bayes language classifier, trained and "
    "evaluated IN the engine: add-1 word likelihoods from the 3/4 "
    "training split, held-out quarter scored by exact micro-nat log-"
    "probability sums (summation-order free), argmax with "
    "lexicographic tie-break.  Train is two groupBys; predict is one "
    "vocabulary-keyed join + per-doc-per-class sum — the plan shape of "
    "any bag-of-words scoring at 100 TB.  The oracle replays training "
    "counts, every smoothed likelihood, and every argmax",
)
def nb_lang_classifier_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.text import normalize_text

    t = (
        load(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.coalesce(F.col("lang"), F.lit("")).alias("lang"),
            (F.col("doc_id") % 4 == 0).alias("heldout"),
            F.explode(
                F.split(normalize_text(F.col("text")), " ")
            ).alias("term"),
        )
        .filter(F.col("term") != "")
    )
    train = t.filter(~F.col("heldout"))
    cls = train.groupBy("lang").agg(F.count(F.lit(1)).alias("n_tok"))
    vocab = train.agg(F.count_distinct("term").alias("v"))
    cw = train.groupBy("lang", "term").agg(F.count(F.lit(1)).alias("c"))
    docs = t.filter(F.col("heldout")).select(
        "doc_id", F.col("lang").alias("true_lang"), "term"
    )
    scored = (
        docs.crossJoin(F.broadcast(cls.select(F.col("lang").alias("cl"), "n_tok")))
        .crossJoin(F.broadcast(vocab))
        .join(
            cw.select(
                F.col("lang").alias("cl2"),
                F.col("term").alias("term2"),
                "c",
            ),
            (F.col("cl") == F.col("cl2")) & (F.col("term") == F.col("term2")),
            "left",
        )
        .groupBy("doc_id", "true_lang", F.col("cl").alias("lang"))
        .agg(
            F.sum(
                F.floor(
                    F.log(
                        (F.coalesce(F.col("c"), F.lit(0)) + 1.0)
                        / (F.col("n_tok") + F.col("v"))
                    )
                    * 1e6
                    + 0.5
                ).cast("long")
            ).alias("logp_micro")
        )
    )
    pred = scored.withColumn(
        "rk",
        F.row_number().over(
            W.partitionBy("doc_id").orderBy(
                F.col("logp_micro").desc(), F.col("lang")
            )
        ),
    ).filter(F.col("rk") == 1)
    return pred.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "true_lang",
        F.col("lang").alias("pred_lang"),
        F.col("logp_micro").cast("long").alias("logp_micro"),
        F.when(F.col("true_lang") == F.col("lang"), F.lit("T"))
        .otherwise(F.lit("F"))
        .alias("correct"),
    )


# ---------------------------------------------------------------------------
# k-NN label prediction over embeddings (majority of top-k cosine)
# ---------------------------------------------------------------------------
_KNN_K = 5


@register(
    "knn_label_predict",
    f"""
    WITH q AS (
        SELECT vec_id AS qid, embedding AS qv, label AS true_label
        FROM embeddings WHERE vec_id % 20 = 0
    ),
    corpus AS (
        SELECT vec_id AS nid, embedding AS nv, label
        FROM embeddings WHERE vec_id % 20 <> 0
    ),
    sims AS (
        SELECT q.qid, q.true_label, c.nid, c.label,
               ROUND(list_cosine_similarity(q.qv, c.nv)::DOUBLE, 6) AS sim
        FROM q CROSS JOIN corpus c
    ),
    topk AS (
        SELECT qid, true_label, label FROM (
            SELECT qid, true_label, label,
                   ROW_NUMBER() OVER (PARTITION BY qid
                       ORDER BY sim DESC, nid) AS rk
            FROM sims
        ) WHERE rk <= {_KNN_K}
    ),
    votes AS (
        SELECT qid, true_label, label, COUNT(*) AS n
        FROM topk GROUP BY qid, true_label, label
    )
    SELECT CAST(qid AS BIGINT) AS qid,
           CAST(true_label AS INT) AS true_label,
           CAST(label AS INT) AS pred_label,
           CAST(n AS BIGINT) AS votes,
           CASE WHEN true_label = label THEN 'T' ELSE 'F' END AS correct
    FROM (
        SELECT qid, true_label, label, n,
               ROW_NUMBER() OVER (PARTITION BY qid
                   ORDER BY n DESC, label) AS vrk
        FROM votes
    ) WHERE vrk = 1
    """,
    doc=f"k-NN classification over embeddings: every 20th vector held "
    f"out, labeled by the majority of its {_KNN_K} nearest training "
    "neighbors (exact cosine, ties to smaller id; vote ties to smaller "
    "label).  The exact-baseline plan — broadcast query block against "
    "the corpus — with the IVF/PQ/LSH variants as the documented scale "
    "path for the neighbor search; the vote aggregation itself keys on "
    "the query id and is partial-aggregable",
)
def knn_label_predict_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.similarity import dot

    e = load(spark, sf_dir, "embeddings").transform(spread)
    nrm = F.sqrt(dot(F.col("embedding"), F.col("embedding")))
    q = e.filter(F.col("vec_id") % 20 == 0).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qv"),
        nrm.alias("qn"),
        F.col("label").alias("true_label"),
    )
    corpus = e.filter(F.col("vec_id") % 20 != 0).select(
        F.col("vec_id").alias("nid"),
        F.col("embedding").alias("nv"),
        nrm.alias("nn"),
        "label",
    )
    sims = (
        F.broadcast(q)
        .crossJoin(corpus)
        .select(
            "qid",
            "true_label",
            "nid",
            "label",
            F.round(
                dot(F.col("qv"), F.col("nv")) / (F.col("qn") * F.col("nn")),
                6,
            ).alias("sim"),
        )
    )
    topk = sims.withColumn(
        "rk",
        F.row_number().over(
            W.partitionBy("qid").orderBy(F.col("sim").desc(), F.col("nid"))
        ),
    ).filter(F.col("rk") <= _KNN_K)
    votes = topk.groupBy("qid", "true_label", "label").agg(
        F.count(F.lit(1)).alias("n")
    )
    pred = votes.withColumn(
        "vrk",
        F.row_number().over(
            W.partitionBy("qid").orderBy(F.col("n").desc(), F.col("label"))
        ),
    ).filter(F.col("vrk") == 1)
    return pred.select(
        F.col("qid").cast("long").alias("qid"),
        F.col("true_label").cast("int").alias("true_label"),
        F.col("label").cast("int").alias("pred_label"),
        F.col("n").cast("long").alias("votes"),
        F.when(F.col("true_label") == F.col("label"), F.lit("T"))
        .otherwise(F.lit("F"))
        .alias("correct"),
    )


# ---------------------------------------------------------------------------
# Chi-square independence test (lang x source contingency)
# ---------------------------------------------------------------------------
@register(
    "chi2_lang_source",
    """
    WITH d AS (
        SELECT COALESCE(lang, '') AS lang, COALESCE(source, '') AS source
        FROM documents
    ),
    o AS (SELECT lang, source, COUNT(*) AS o FROM d GROUP BY lang, source),
    r AS (SELECT lang, SUM(o) AS r FROM o GROUP BY lang),
    c AS (SELECT source, SUM(o) AS c FROM o GROUP BY source),
    n AS (SELECT SUM(o) AS n FROM o),
    cells AS (
        SELECT o.lang, o.source, o.o, r.r, c.c, n.n,
               CAST(floor(
                   ((o.o - r.r * c.c / n.n::DOUBLE)
                    * (o.o - r.r * c.c / n.n::DOUBLE))
                   / (r.r * c.c / n.n::DOUBLE) * 1e6 + 0.5) AS BIGINT)
                   AS term_micro
        FROM o JOIN r USING (lang) JOIN c USING (source) CROSS JOIN n
    )
    SELECT CAST(SUM(term_micro) AS BIGINT) AS chi2_micro,
           CAST((COUNT(DISTINCT lang) - 1)
                * (COUNT(DISTINCT source) - 1) AS BIGINT) AS dof,
           CAST(MAX(n) AS BIGINT) AS n
    FROM cells
    """,
    doc="Chi-square independence test over the lang x source contingency "
    "table — 'is language mix independent of provenance?', the "
    "statistical check behind source-balance monitoring.  Observed/"
    "expected cells from three partial-aggregable groupBys; per-cell "
    "terms round to integer micro-units before the exact BIGINT sum "
    "(summation-order free; only present cells contribute, identically "
    "in both engines).  Compare chi2 to the critical value for dof "
    "downstream",
)
def chi2_lang_source_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents").select(
        F.coalesce(F.col("lang"), F.lit("")).alias("lang"),
        F.coalesce(F.col("source"), F.lit("")).alias("source"),
    )
    o = d.groupBy("lang", "source").agg(F.count(F.lit(1)).alias("o"))
    r = o.groupBy("lang").agg(F.sum("o").alias("r"))
    c = o.groupBy("source").agg(F.sum("o").alias("c"))
    n = o.agg(F.sum("o").alias("n"))
    e = F.col("r") * F.col("c") / F.col("n").cast("double")
    term = F.floor(
        (F.col("o") - e) * (F.col("o") - e) / e * 1e6 + 0.5
    ).cast("long")
    cells = (
        o.join(F.broadcast(r), "lang")
        .join(F.broadcast(c), "source")
        .crossJoin(F.broadcast(n))
        .select("lang", "source", term.alias("term_micro"), "n")
    )
    return cells.agg(
        F.sum("term_micro").cast("long").alias("chi2_micro"),
        (
            (F.count_distinct("lang") - 1) * (F.count_distinct("source") - 1)
        ).cast("long").alias("dof"),
        F.max("n").cast("long").alias("n"),
    )


# ---------------------------------------------------------------------------
# Robust outliers: per-language median + MAD flags (exact order statistics)
# ---------------------------------------------------------------------------
@register(
    "mad_outlier_flags",
    """
    WITH d AS (
        SELECT doc_id, COALESCE(lang, '') AS lang,
               COALESCE(n_chars, 0) AS score
        FROM documents
    ),
    sc AS (SELECT lang, score, COUNT(*) AS cnt FROM d GROUP BY 1, 2),
    st AS (SELECT lang, SUM(cnt) AS n FROM sc GROUP BY lang),
    scum AS (
        SELECT sc.lang, score,
               SUM(cnt) OVER (PARTITION BY sc.lang ORDER BY score
                              ROWS UNBOUNDED PRECEDING) AS cum,
               st.n
        FROM sc JOIN st USING (lang)
    ),
    med AS (
        SELECT lang, MIN(score) AS med FROM scum
        WHERE cum * 2 >= n GROUP BY lang
    ),
    dev AS (
        SELECT d.lang, abs(d.score - med.med) AS adev, COUNT(*) AS cnt
        FROM d JOIN med USING (lang) GROUP BY d.lang, abs(d.score - med.med)
    ),
    dcum AS (
        SELECT dev.lang, adev,
               SUM(cnt) OVER (PARTITION BY dev.lang ORDER BY adev
                              ROWS UNBOUNDED PRECEDING) AS cum,
               st.n
        FROM dev JOIN st USING (lang)
    ),
    mad AS (
        SELECT lang, MIN(adev) AS mad FROM dcum
        WHERE cum * 2 >= n GROUP BY lang
    )
    SELECT CAST(d.doc_id AS BIGINT) AS doc_id, d.lang,
           CAST(d.score AS BIGINT) AS score,
           CAST(med.med AS BIGINT) AS med, CAST(mad.mad AS BIGINT) AS mad,
           CASE WHEN abs(d.score - med.med) > 3 * mad.mad
                THEN 'T' ELSE 'F' END AS outlier
    FROM d JOIN med USING (lang) JOIN mad USING (lang)
    """,
    doc="Robust outlier flags per language: exact median and median-"
    "absolute-deviation by the distinct-score running-sum percentile "
    "plan (never a whole-partition window), docs beyond 3 MADs "
    "flagged.  All integer comparisons — median/MAD are exact order "
    "statistics, the outlier threshold is 3*mad vs |score-med|, no "
    "floats anywhere.  The robust alternative to mean/stddev flags, "
    "immune to the very outliers it hunts",
)
def mad_outlier_flags_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.coalesce(F.col("lang"), F.lit("")).alias("lang"),
        F.coalesce(F.col("n_chars"), F.lit(0)).alias("score"),
    )
    st = d.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))

    def disc_median(df, val_col, out_name):
        sc = df.groupBy("lang", val_col).agg(F.count(F.lit(1)).alias("cnt"))
        cum = sc.join(st, "lang").withColumn(
            "cum",
            F.sum("cnt").over(
                W.partitionBy("lang")
                .orderBy(val_col)
                .rowsBetween(W.unboundedPreceding, W.currentRow)
            ),
        )
        return (
            cum.filter(F.col("cum") * 2 >= F.col("n"))
            .groupBy("lang")
            .agg(F.min(val_col).alias(out_name))
        )

    med = disc_median(d, "score", "med")
    dd = d.join(F.broadcast(med), "lang").withColumn(
        "adev", F.abs(F.col("score") - F.col("med"))
    )
    mad = disc_median(dd, "adev", "mad")
    return (
        d.join(F.broadcast(med), "lang")
        .join(F.broadcast(mad), "lang")
        .select(
            F.col("doc_id").cast("long").alias("doc_id"),
            "lang",
            F.col("score").cast("long").alias("score"),
            F.col("med").cast("long").alias("med"),
            F.col("mad").cast("long").alias("mad"),
            F.when(
                F.abs(F.col("score") - F.col("med")) > 3 * F.col("mad"),
                F.lit("T"),
            )
            .otherwise(F.lit("F"))
            .alias("outlier"),
        )
    )


# ---------------------------------------------------------------------------
# Language-ID evaluation: confusion matrix of predictions vs labels
# ---------------------------------------------------------------------------
def _langid_confusion_sql() -> str:
    from .queries import _lang_id_sql

    inner = _lang_id_sql()
    return f"""
    WITH preds AS ({inner}),
    lab AS (
        SELECT doc_id, COALESCE(lang, '') AS true_lang FROM documents
    )
    SELECT lab.true_lang, preds.lang_pred,
           CAST(COUNT(*) AS BIGINT) AS n,
           CASE WHEN lab.true_lang = preds.lang_pred THEN 'T' ELSE 'F' END
               AS correct
    FROM preds JOIN lab USING (doc_id)
    GROUP BY lab.true_lang, preds.lang_pred
    """


@register(
    "langid_confusion_matrix",
    _langid_confusion_sql(),
    doc="Language-ID evaluation: the confusion matrix of the marker-word "
    "classifier's predictions against the labeled lang column — the "
    "model-eval artifact next to the classifier itself (which cells "
    "leak where tells you which marker lists to grow).  Prediction SQL "
    "is shared verbatim with the lang_id_scores oracle; the matrix is "
    "one partial-aggregable groupBy on (true, pred)",
)
def langid_confusion_matrix_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions import text

    d = load(spark, sf_dir, "documents").withColumn(
        "_w", text.words(F.col("text"))
    )
    # label and prediction in ONE projection — a self-join on doc_id
    # would rescan and re-score the corpus for no reason; the hoisted
    # `_w` column tokenizes each document exactly once
    both = d.select(
        F.coalesce(F.col("lang"), F.lit("")).alias("true_lang"),
        text.lang_id(F.col("text"), words_col=F.col("_w")).alias("lang_pred"),
    )
    return (
        both.groupBy("true_lang", "lang_pred")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "true_lang",
            "lang_pred",
            F.col("n").cast("long").alias("n"),
            F.when(F.col("true_lang") == F.col("lang_pred"), F.lit("T"))
            .otherwise(F.lit("F"))
            .alias("correct"),
        )
    )


# ---------------------------------------------------------------------------
# HyperLogLog with register merge [Flajolet et al. 2007 — public]
# ---------------------------------------------------------------------------
_HLL_M = 256   # registers (b = 8)
_HLL_WBITS = 24
# alpha as a full expression so both engines evaluate the identical IEEE
# ops (never a pre-rounded literal that could differ in print precision)
_HLL_ALPHA = "(0.7213 / (1.0 + 1.079 / 256.0))"
_HLL_GRAMS = (
    "SELECT source, array_to_string(toks[pos:pos+2], ' ') AS gram FROM ("
    " SELECT source, string_split(norm, ' ') AS toks,"
    "        generate_subscripts(string_split(norm, ' '), 1) AS pos"
    f" FROM (SELECT source, {_NORM_SQL} AS norm FROM documents)"
    ") WHERE pos + 2 <= len(toks)"
)


@register(
    "hll_distinct_merge",
    f"""
    WITH g AS ({_HLL_GRAMS}),
    h AS (
        SELECT source,
               ('0x' || substr(md5(gram), 1, 8))::BIGINT AS hv
        FROM g
    ),
    r AS (
        SELECT source, hv % {_HLL_M} AS j,
               CASE WHEN hv // {_HLL_M} = 0 THEN {_HLL_WBITS + 1}
                    ELSE {_HLL_WBITS}
                         - CAST(floor(log2(hv // {_HLL_M})) AS INT)
               END AS rho
        FROM h
    ),
    regs AS (
        SELECT source, j, MAX(rho) AS m FROM r GROUP BY source, j
        UNION ALL
        SELECT '*ALL*' AS source, j, MAX(rho) AS m FROM r GROUP BY j
    ),
    s AS (
        SELECT source,
               SUM(CAST(1 AS BIGINT) << ({_HLL_WBITS + 1} - m)) AS s_present,
               COUNT(*) AS n_present
        FROM regs GROUP BY source
    ),
    est AS (
        SELECT source, n_present,
               {_HLL_ALPHA} * {_HLL_M} * {_HLL_M}
               * (CAST(1 AS BIGINT) << {_HLL_WBITS + 1})
               / (s_present
                  + ({_HLL_M} - n_present)
                    * (CAST(1 AS BIGINT) << {_HLL_WBITS + 1})) AS e_raw
        FROM s
    ),
    fixed AS (
        SELECT source, n_present,
               CASE WHEN e_raw <= 2.5 * {_HLL_M}
                     AND n_present < {_HLL_M}
                    THEN {_HLL_M} * ln({_HLL_M}::DOUBLE
                                       / ({_HLL_M} - n_present))
                    ELSE e_raw END AS e
        FROM est
    ),
    ex AS (
        SELECT source, COUNT(DISTINCT gram) AS exact_distinct FROM g
        GROUP BY source
        UNION ALL
        SELECT '*ALL*', COUNT(DISTINCT gram) FROM g
    )
    SELECT f.source, CAST(f.n_present AS INT) AS occupied,
           CAST(floor(f.e + 0.5) AS BIGINT) AS hll_estimate,
           CAST(ex.exact_distinct AS BIGINT) AS exact_distinct
    FROM fixed f JOIN ex ON ex.source = f.source
    """,
    doc="HyperLogLog cardinality with REGISTER MERGE [Flajolet et al. "
    f"2007]: {_HLL_M} registers of max leading-zero ranks per source, "
    "plus the '*ALL*' row built by MERGING the per-source registers "
    "(max per register) — the mergeability that lets 1000 executors "
    "sketch independently and combine in O(m).  The harmonic sum uses "
    "a common-denominator EXACT BIGINT (sum of 1<<(25-M_j)) so no "
    "float-summation order exists to disagree on; small-range linear-"
    "counting correction included.  Verified against exact distincts "
    "per source and globally",
)
def hll_distinct_merge_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.text import normalize_text, shingle_hash

    d = load(spark, sf_dir, "documents").select(
        "source", normalize_text(F.col("text")).alias("norm")
    )
    toks = d.select("source", F.split("norm", " ").alias("toks"))
    g = toks.select(
        "source",
        F.explode(
            F.when(
                F.size("toks") >= 3,
                F.transform(
                    F.sequence(F.lit(1), F.size("toks") - 2),
                    lambda i: F.array_join(F.slice("toks", i, 3), " "),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("gram"),
    )
    # ONE linear plan via GROUPING SETS ((source, gram), (gram)): the
    # (source, gram) set yields the per-source distinct grams and the
    # (gram)-only set yields the GLOBAL distinct grams — which, flowing
    # through the same register aggregation under the '*ALL*' pseudo-
    # source, IS the merged-register row (max over distinct grams) AND
    # its exact count (sum of per-register counts).  What used to be
    # FOUR scan+explode passes (per-source regs, ALL regs, per-source
    # exact, global exact — Spark recomputes every multi-consumer
    # subtree; exchange reuse does not fire across union branches) is
    # now one scan, one explode, three shuffles, no join (guide §2.4,
    # §1.1 first-principles minimum).
    dd = g.groupingSets([["source", "gram"], ["gram"]], "source", "gram").agg(
        F.grouping("source").alias("gid")
    )
    # a genuinely-null source must not merge into the pseudo-source row
    # (the original inner join on source dropped null-source est rows)
    dg = dd.where((F.col("gid") == 1) | F.col("source").isNotNull()).select(
        F.when(F.col("gid") == 1, F.lit("*ALL*"))
        .otherwise(F.col("source"))
        .alias("source"),
        "gram",
    )
    h = dg.select("source", "gram", shingle_hash(F.col("gram")).alias("hv"))
    w = F.floor(F.col("hv") / _HLL_M).cast("long")
    rho = F.when(w == 0, F.lit(_HLL_WBITS + 1)).otherwise(
        F.lit(_HLL_WBITS) - F.floor(F.log2(w)).cast("int")
    )
    r = h.select("source", (F.col("hv") % _HLL_M).alias("j"), rho.alias("rho"))
    # per-(source, register) max rank + how many distinct grams hashed
    # into that register: registers AND the per-source exact count come
    # out of this single aggregate
    sub = r.groupBy("source", "j").agg(
        F.max("rho").alias("m"), F.count(F.lit(1)).alias("c")
    )
    alpha = F.lit(0.7213) / (F.lit(1.0) + F.lit(1.079) / F.lit(256.0))

    def estimate(s_present, n_present):
        """Same harmonic-sum + linear-counting expressions as the oracle,
        applied to (s_present, n_present) integer inputs."""
        denom = s_present + (F.lit(_HLL_M) - n_present) * F.lit(
            1 << (_HLL_WBITS + 1)
        ).cast("long")
        e_raw = (
            alpha
            * F.lit(_HLL_M)
            * F.lit(_HLL_M)
            * F.lit(1 << (_HLL_WBITS + 1)).cast("long")
            / denom
        )
        e = F.when(
            (e_raw <= 2.5 * _HLL_M) & (n_present < _HLL_M),
            F.lit(float(_HLL_M))
            * F.log(
                F.lit(float(_HLL_M)) / (F.lit(_HLL_M) - n_present).cast("double")
            ),
        ).otherwise(e_raw)
        return (
            n_present.cast("int").alias("occupied"),
            F.floor(e + 0.5).cast("long").alias("hll_estimate"),
        )

    shift = F.expr(f"shiftleft(CAST(1 AS BIGINT), {_HLL_WBITS + 1} - m)")
    # One aggregate yields EVERY output row: harmonic sum, occupied
    # count, and exact distinct (= sum of per-register distinct-gram
    # counts; grams within a group are distinct in dg and j partitions
    # them).  The '*ALL*' pseudo-source rides the same chain — its
    # registers are maxes over the global distinct grams (the HLL merge
    # law's result) and its c-sum is the global exact count.
    per_source = sub.groupBy("source").agg(
        F.sum(shift).alias("s_present"),
        F.count(F.lit(1)).alias("n_present"),
        F.sum("c").alias("exact_distinct"),
    )
    return per_source.select(
        "source",
        *estimate(F.col("s_present"), F.col("n_present")),
        F.col("exact_distinct").cast("long").alias("exact_distinct"),
    )


# ---------------------------------------------------------------------------
# Random-projection dimensionality reduction (Johnson-Lindenstrauss)
# with ANN recall preservation measurement
# ---------------------------------------------------------------------------
_JL_DIM = 16
_JL_K = 5
# deterministic +/-1 projection matrix entry for (out-dim k, in-dim i)
_JL_SIGN_SQL = (
    "CASE WHEN ('0x' || substr(md5('jl' || {k} || '_' || {i}), 1, 8))"
    "::BIGINT % 2 = 0 THEN 1 ELSE -1 END"
)


@register(
    "jl_projection_recall",
    f"""
    WITH e AS (
        SELECT vec_id,
               list_transform(embedding,
                   x -> CAST(floor(x::DOUBLE * 1000) AS BIGINT)) AS qv
        FROM embeddings
    ),
    proj AS (
        SELECT vec_id,
               list_transform(range({_JL_DIM}), k ->
                   list_reduce(
                       list_transform(range(1, len(qv) + 1),
                           i -> qv[i] * ({_JL_SIGN_SQL.format(k='k', i='(i-1)')})),
                       (acc, x) -> acc + x)) AS pv
        FROM e
    ),
    q AS (SELECT vec_id AS qid, qv, pv FROM proj JOIN e USING (vec_id)
          WHERE vec_id % 100 = 0),
    exact AS (
        SELECT qid, nid, rk FROM (
            SELECT q.qid, e2.vec_id AS nid,
                   ROW_NUMBER() OVER (PARTITION BY q.qid ORDER BY
                       list_reduce(list_transform(range(1, len(q.qv) + 1),
                           i -> (q.qv[i] - e2.qv[i]) * (q.qv[i] - e2.qv[i])),
                           (acc, x) -> acc + x) ASC, e2.vec_id) AS rk
            FROM q JOIN e e2 ON e2.vec_id <> q.qid
        ) WHERE rk <= {_JL_K}
    ),
    approx AS (
        SELECT qid, nid, rk FROM (
            SELECT q.qid, p2.vec_id AS nid,
                   ROW_NUMBER() OVER (PARTITION BY q.qid ORDER BY
                       list_reduce(list_transform(range(1, {_JL_DIM} + 1),
                           i -> (q.pv[i] - p2.pv[i]) * (q.pv[i] - p2.pv[i])),
                           (acc, x) -> acc + x) ASC, p2.vec_id) AS rk
            FROM q JOIN proj p2 ON p2.vec_id <> q.qid
        ) WHERE rk <= {_JL_K}
    )
    SELECT CAST(ex.qid AS BIGINT) AS qid,
           CAST(COUNT(ap.nid) AS INT) AS n_recalled,
           CAST({_JL_K} AS INT) AS k
    FROM exact ex
    LEFT JOIN approx ap ON ap.qid = ex.qid AND ap.nid = ex.nid
    GROUP BY ex.qid
    """,
    doc="Johnson-Lindenstrauss random projection: 64-d integer vectors "
    f"projected to {_JL_DIM}-d by a deterministic ±1 hash matrix — "
    "EXACT BIGINT dot products, so the projection (not just its "
    "quality) replays bit-for-bit — and per-query recall@5 of "
    "projected-space nearest neighbors against full-space truth.  4× "
    "fewer bytes per vector at measured recall cost: the dimensionality "
    "lever next to the int8-quantization one, and the JL lemma says "
    "the distortion bound is data-independent",
)
def jl_projection_recall_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.clustering import int_vectors

    e = load(spark, sf_dir, "embeddings").select(
        "vec_id", int_vectors(F.col("embedding"), 1000).alias("qv")
    ).transform(spread)

    def sign(k: int, i) -> F.Column:
        from .functions.text import shingle_hash

        return F.when(
            shingle_hash(
                F.concat(F.lit(f"jl{k}_"), i.cast("string"))
            ) % 2 == 0,
            F.lit(1),
        ).otherwise(F.lit(-1)).cast("long")

    # projection: pv[k] = sum_i qv[i] * sign(k, i) — exact longs; signs
    # depend only on (k, i), built as one aggregate per output dim
    def proj_col():
        return F.array(*[
            F.aggregate(
                F.zip_with(
                    "qv",
                    F.transform(
                        F.sequence(F.lit(0), F.size("qv") - 1),
                        lambda i: sign(k, i),
                    ),
                    lambda a, s: a * s,
                ),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            )
            for k in range(_JL_DIM)
        ])

    proj = e.withColumn("pv", proj_col())
    q = proj.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("qid"),
        F.col("qv").alias("qqv"),
        F.col("pv").alias("qpv"),
    )

    def sqdist(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )

    exact = (
        F.broadcast(q.select("qid", "qqv"))
        .crossJoin(e.select(F.col("vec_id").alias("nid"), F.col("qv").alias("nv")))
        .filter(F.col("qid") != F.col("nid"))
        .select("qid", "nid", sqdist(F.col("qqv"), F.col("nv")).alias("d"))
        .withColumn(
            "rk",
            F.row_number().over(
                W.partitionBy("qid").orderBy("d", "nid")
            ),
        )
        .filter(F.col("rk") <= _JL_K)
    )
    approx = (
        F.broadcast(q.select("qid", "qpv"))
        .crossJoin(
            proj.select(F.col("vec_id").alias("nid"), F.col("pv").alias("npv"))
        )
        .filter(F.col("qid") != F.col("nid"))
        .select("qid", "nid", sqdist(F.col("qpv"), F.col("npv")).alias("d"))
        .withColumn(
            "rk",
            F.row_number().over(
                W.partitionBy("qid").orderBy("d", "nid")
            ),
        )
        .filter(F.col("rk") <= _JL_K)
    )
    return (
        exact.select("qid", "nid")
        .join(
            approx.select(
                F.col("qid").alias("aqid"), F.col("nid").alias("anid")
            ),
            (F.col("qid") == F.col("aqid")) & (F.col("nid") == F.col("anid")),
            "left",
        )
        .groupBy("qid")
        .agg(F.count("anid").alias("n_recalled"))
        .select(
            F.col("qid").cast("long").alias("qid"),
            F.col("n_recalled").cast("int").alias("n_recalled"),
            F.lit(_JL_K).cast("int").alias("k"),
        )
    )
