"""Wave-11 operators: data-selection, filtered vector search, sketch set
operations, and late-interaction retrieval — the next ring of the
LLM-training-data lifecycle, each oracle-gated like every other row.

  rho_loss_selection    RHO reducible-holdout-loss data selection
                        [Mindermann et al. 2022; RHO-1, Lin et al. 2024
                        — public]: score every document by
                        (pool-LM surprisal − holdout-reference-LM
                        surprisal) and keep the per-source top-b —
                        "learnable, worth learning, not yet learnt"
  ann_filtered_topk     metadata-FILTERED vector search on the persisted
                        IVF store — the production vector-db feature
                        (FAISS IDSelector / filtered HNSW, public):
                        the predicate rides the probed lists' scan as an
                        ordinary pushed filter next to the partition prune
  kmv_sketch_intersection  KMV/theta bottom-k sketches per source with
                        the Beyer et al. (SIGMOD'07) union/intersection
                        estimators, audited against the exact overlap —
                        the SET-OPERATIONS member of the mergeable-sketch
                        family (HLL=distinct, CMS=frequency,
                        Bloom=membership)
  maxsim_late_interaction  ColBERT MaxSim late-interaction scoring
                        [Khattab & Zaharia 2020 — public]: per query
                        token, the max cosine over a document's token
                        vectors; per document, the sum over query tokens
  maxsim_rerank_ivf     the two-stage SCALE path: single-vector IVF
                        first stage recalls candidates, only they pay
                        the MaxSim re-rank (the production ColBERT
                        retrieve→re-rank split)
  unpivot_quality_metrics  wide→long stack()/UNPIVOT over per-document
                        quality metrics — the reshape surface an
                        engine-switcher expects next to the pivot row
                        (events_type_pivot)
  bm25_persisted_topk   persisted LEXICAL index lifecycle (operators/
                        lexical.py): bucket-partitioned postings +
                        additive stats, build/append/probe — the BM25
                        twin of ann_ivf_persisted_topk, completing
                        hybrid retrieval's build-once/query-many story
  rho_persisted_selection  the selection computed from the PERSISTED
                        two-LM model (the RHO ingest gate's artifact) —
                        shares rho_loss_selection's oracle verbatim,
                        gating the model write/read roundtrip

Float determinism follows the repo-wide idiom: cosines round to 6 dp,
per-term/row contributions round to integer micro-units BEFORE any sum,
so cross-engine hashes compare exact BIGINTs; the only raw-float ops are
single divisions of exact integers (IEEE-identical in Spark and DuckDB).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from . import store
from .queries import _NORM_SQL, _SHINGLES_SQL, _REGISTRY, load, register
from .queries_wave10 import _salted_ivf_path

# ===========================================================================
# RHO-loss data selection
# ===========================================================================
_RHO_TOPB = 20

_RHO_SQL = f"""
    WITH toks AS (
        SELECT doc_id, unnest(string_split({_NORM_SQL}, ' ')) AS term
        FROM documents
    ),
    t AS (SELECT doc_id, term FROM toks WHERE term <> ''),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM t
           GROUP BY doc_id, term),
    pool AS (SELECT term, count(*) AS cw_p FROM t
             WHERE doc_id % 2 = 0 GROUP BY term),
    refv AS (SELECT term, count(*) AS cw_r FROM t
             WHERE doc_id % 2 = 1 GROUP BY term),
    cp AS (SELECT SUM(cw_p) AS np, count(*) AS vp FROM pool),
    cr AS (SELECT SUM(cw_r) AS nr, count(*) AS vr FROM refv),
    sc AS (
        SELECT tf.doc_id,
               CAST(SUM(tf.tf) AS BIGINT) AS n_tokens,
               CAST(SUM(tf.tf * (
                   CAST(floor(-ln((COALESCE(p.cw_p, 0) + 1.0)
                              / (cp.np + cp.vp)) * 1e6 + 0.5) AS BIGINT)
                 - CAST(floor(-ln((COALESCE(r.cw_r, 0) + 1.0)
                              / (cr.nr + cr.vr)) * 1e6 + 0.5) AS BIGINT)
               )) AS BIGINT) AS excess_micro
        FROM tf
        LEFT JOIN pool p ON tf.term = p.term
        LEFT JOIN refv r ON tf.term = r.term
        CROSS JOIN cp CROSS JOIN cr
        GROUP BY tf.doc_id
    ),
    rnk AS (
        SELECT d.doc_id, d.source, sc.n_tokens, sc.excess_micro,
               ROW_NUMBER() OVER (PARTITION BY d.source
                                  ORDER BY sc.excess_micro DESC, d.doc_id)
                   AS rk
        FROM sc JOIN documents d ON sc.doc_id = d.doc_id
    )
    SELECT CAST(doc_id AS BIGINT) AS doc_id, source, n_tokens,
           excess_micro, CAST(rk AS BIGINT) AS rk
    FROM rnk WHERE rk <= {_RHO_TOPB}
"""


@register(
    "rho_loss_selection",
    _RHO_SQL,
    doc="RHO reducible-holdout-loss data selection [Mindermann et al. "
    "2022 'Prioritized Training on Points that are Learnable, Worth "
    "Learning, and Not Yet Learnt'; token-level twin RHO-1, Lin et al. "
    "2024 — public]: every document scored by excess surprisal = "
    "(surprisal under the LM of the current training pool, the even-id "
    "half) − (surprisal under the holdout reference LM, the odd-id "
    "half); high excess = the reference model finds the text learnable "
    "but the pool model hasn't learnt it — exactly the documents worth "
    "adding next.  Selection is the per-source top-20 (RHO selects "
    "top-b PER BATCH; source≈shard is the batch unit here), a "
    "source-partitioned window — never a global sort.  Both unigram "
    "LMs are add-1-smoothed with their own (N, V); per-term surprisal "
    "rounds to integer micro-nats before the per-doc BIGINT sum "
    "(summation-order free), so the oracle replays scoring exactly.  "
    "One tokenize feeds tf and ONE conditional aggregation builds both "
    "half-vocabularies side by side (one term shuffle, one tf↔vocab "
    "join — not two of each); the combined (N, V)×2 frame is a 1-row "
    "broadcast (allowlisted); the tf↔vocab join shuffles on the term — "
    "at trillion-token scale the vocabulary is what can't broadcast.",
)
def rho_loss_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.text import rho_excess

    d = load(spark, sf_dir, "documents")
    sc = rho_excess(d)
    wnd = W.partitionBy("source").orderBy(
        F.col("excess_micro").desc(), "doc_id"
    )
    return (
        sc.join(d.select("doc_id", "source"), "doc_id")
        .withColumn("rk", F.row_number().over(wnd))
        .filter(F.col("rk") <= _RHO_TOPB)
        .select(
            F.col("doc_id").cast("long").alias("doc_id"),
            "source",
            "n_tokens",
            "excess_micro",
            F.col("rk").cast("long").alias("rk"),
        )
    )


# ===========================================================================
# Filtered ANN on the persisted IVF store
# ===========================================================================
_FILT_NPROBE = 3
_FILT_TOPK = 5

_FILT_SQL = f"""
    WITH cent AS (
        SELECT e.label AS list_id, e.embedding AS cv
        FROM embeddings e
        JOIN (SELECT label, MIN(vec_id) AS mv FROM embeddings
              GROUP BY label) m
          ON e.label = m.label AND e.vec_id = m.mv
    ),
    q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
          WHERE vec_id % 100 = 1),
    pr AS (
        SELECT qid, list_id FROM (
            SELECT q.qid, c.list_id,
                   ROW_NUMBER() OVER (PARTITION BY q.qid ORDER BY
                       ROUND(list_cosine_similarity(
                           c.cv::DOUBLE[], q.qv::DOUBLE[])::DOUBLE, 6)
                           DESC, c.list_id) AS rk
            FROM q CROSS JOIN cent c
        ) WHERE rk <= {_FILT_NPROBE}
    ),
    cand AS (
        SELECT q.qid, e.vec_id AS nid,
               ROUND(list_cosine_similarity(
                   e.embedding::DOUBLE[], q.qv::DOUBLE[])::DOUBLE, 6)
                   AS sim
        FROM pr
        JOIN embeddings e ON e.label = pr.list_id
        JOIN q ON q.qid = pr.qid
        WHERE e.vec_id % 3 = 0 AND e.vec_id <> q.qid
    )
    SELECT qid, nid, sim, CAST(rk AS BIGINT) AS rk FROM (
        SELECT qid, nid, sim,
               ROW_NUMBER() OVER (PARTITION BY qid
                                  ORDER BY sim DESC, nid) AS rk
        FROM cand
    ) WHERE rk <= {_FILT_TOPK}
"""


@register(
    "ann_filtered_topk",
    _FILT_SQL,
    doc="Metadata-FILTERED vector search — the production vector-db "
    "feature (FAISS IDSelector, filtered HNSW/Qdrant-style predicates — "
    "public designs): top-5 per anchor under the predicate vec_id%3=0 "
    "(standing in for tenant/lang/license filters), answered from the "
    "PERSISTED IVF store.  Strategy is PRE-filtering inside the probed "
    "lists: the predicate is an ordinary pushed filter on the same "
    "partition-pruned scan the probe's list_id equi-join drives, so "
    "candidates are filtered BEFORE the cosine re-rank (post-filtering "
    "would rank first and risk returning < k survivors; with a "
    "1/3-selective predicate, widening nprobe to 3 keeps the candidate "
    "pool deep enough — the documented selectivity↔nprobe trade).  The "
    "index persists write-if-missing (salted by clustering-source md5 + "
    "data fingerprint, the probe-only idiom), so the timed path is the "
    "steady-state filtered query: probe choice + one broadcast "
    "equi-join + pushed predicate + per-anchor window.  The oracle "
    "replays centroid pick, probe ranking, predicate, and re-rank.",
)
def ann_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.clustering import (
        ivf_probe_batch,
        read_ivf_lists,
        write_ivf_index,
    )
    from .operators.similarity import cosine

    e = load(spark, sf_dir, "embeddings")
    path = _salted_ivf_path(
        spark, sf_dir, "ivf_filt", extra=f"nprobe={_FILT_NPROBE}"
    )
    # centroids writes LAST in write_ivf_index: its _SUCCESS gates
    # against serving a half-written index
    if not store.exists(spark, f"{path}/centroids/_SUCCESS"):
        write_ivf_index(e, path)
    anchors = e.filter(F.col("vec_id") % 100 == 1).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").cast("array<double>").alias("qv"),
    )
    probe = ivf_probe_batch(spark, path, anchors, nprobe=_FILT_NPROBE)
    lists = (
        read_ivf_lists(spark, path)
        .filter(F.col("vec_id") % 3 == 0)  # the metadata pre-filter
        .select(
            F.col("vec_id").alias("nid"),
            F.col("embedding").cast("array<double>").alias("nv"),
            F.col("list_id").cast("int").alias("list_id"),
        )
    )
    sims = (
        lists.join(F.broadcast(probe), "list_id")
        .filter(F.col("nid") != F.col("qid"))
        .select(
            "qid",
            "nid",
            F.round(cosine(F.col("nv"), F.col("qv")), 6).alias("sim"),
        )
    )
    wnd = W.partitionBy("qid").orderBy(F.col("sim").desc(), "nid")
    return (
        sims.withColumn("rk", F.row_number().over(wnd))
        .filter(F.col("rk") <= _FILT_TOPK)
        .select("qid", "nid", "sim", F.col("rk").cast("long").alias("rk"))
    )


# ===========================================================================
# KMV / theta sketch set intersection
# ===========================================================================
_KMV_K = 128

# Hot-gram guard for the exact-overlap audit (r14, VERDICT r13 "Next
# round" #8): a gram shared by n sources yields C(n, 2) audit pairs, and
# the collect_set fast path holds all n sources in ONE aggregation row —
# fine at fixture scale (97 sources), an OOM-one-task hazard when a
# stop-word gram spans a million-source corpus.  Grams with more than
# this many distinct sources take a gram-keyed equi self-join instead
# (streams + spills, never a single in-memory set); grams at or under it
# keep the cheaper explode-from-set path.  Counts are identical.
_KMV_HOT_GRAM_CAP = 1024


def _gram_pair_counts(raw: DataFrame) -> DataFrame:
    """(source_a, source_b, exact_inter) — the number of grams shared by
    each ordered source pair (source_a < source_b), exact.

    ``raw`` is the (source, gram) explode (need not be distinct).  One
    gram-partitioned dedup is persisted and feeds both branches of the
    hot-gram guard, so the corpus-sized explode upstream runs ONCE
    (this environment performs no subtree reuse across union branches;
    persist — not localCheckpoint — because an InMemoryRelation
    preserves the hash(gram) partitioning, so the window count, the
    cold groupBy and the hot self-join below all run EXCHANGE-FREE,
    and because persist is lazy, keeping this query execute-only
    timed).  WindowExec buffers spill, unlike an aggregation row, so
    even the count itself is safe on a hot gram."""
    from pyspark.storagelevel import StorageLevel

    g2 = (
        raw.repartition("gram")
        .dropDuplicates(["gram", "source"])
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    gc = g2.withColumn(
        "__c", F.count(F.lit(1)).over(W.partitionBy("gram"))
    )
    cold = (
        gc.filter(
            (F.col("__c") <= _KMV_HOT_GRAM_CAP) & (F.col("__c") >= 2)
        )
        .groupBy("gram")
        .agg(F.collect_set("source").alias("ss"))
        .select(
            F.explode(
                F.flatten(
                    F.transform(
                        F.col("ss"),
                        lambda a: F.transform(
                            F.filter(F.col("ss"), lambda b: b > a),
                            lambda b: F.struct(
                                a.alias("source_a"), b.alias("source_b")
                            ),
                        ),
                    )
                )
            ).alias("p")
        )
        .select("p.source_a", "p.source_b")
    )
    hot = gc.filter(F.col("__c") > _KMV_HOT_GRAM_CAP).select(
        "gram", "source"
    )
    hot_pairs = (
        hot.join(
            hot.select(
                F.col("gram"), F.col("source").alias("source_b")
            ),
            "gram",
        )
        .filter(F.col("source") < F.col("source_b"))
        .select(F.col("source").alias("source_a"), "source_b")
    )
    return (
        cold.unionByName(hot_pairs)
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("exact_inter"))
    )

_KMV_SQL = f"""
    WITH g0 AS (
        SELECT source, unnest({_SHINGLES_SQL}) AS gram FROM documents
    ),
    g AS (SELECT DISTINCT source, gram FROM g0),
    hs AS (SELECT DISTINCT source,
                  ('0x' || substr(md5(gram), 1, 8))::BIGINT AS h
           FROM g),
    sk AS (
        SELECT source, h FROM (
            SELECT source, h,
                   ROW_NUMBER() OVER (PARTITION BY source ORDER BY h)
                       AS hrk
            FROM hs
        ) WHERE hrk <= {_KMV_K}
    ),
    srcs AS (SELECT DISTINCT source FROM g),
    pairs AS (
        SELECT a.source AS source_a, b.source AS source_b
        FROM srcs a CROSS JOIN srcs b WHERE a.source < b.source
    ),
    u0 AS (
        SELECT p.source_a, p.source_b, s.h, 1 AS ia, 0 AS ib
        FROM pairs p JOIN sk s ON s.source = p.source_a
        UNION ALL
        SELECT p.source_a, p.source_b, s.h, 0 AS ia, 1 AS ib
        FROM pairs p JOIN sk s ON s.source = p.source_b
    ),
    u AS (SELECT source_a, source_b, h, MAX(ia) AS ia, MAX(ib) AS ib
          FROM u0 GROUP BY source_a, source_b, h),
    bott AS (
        SELECT * FROM (
            SELECT u.*, ROW_NUMBER() OVER (PARTITION BY source_a, source_b
                                           ORDER BY h) AS rk
            FROM u
        ) WHERE rk <= {_KMV_K}
    ),
    st AS (
        SELECT source_a, source_b, MAX(h) AS theta_h,
               COUNT(*) AS k_eff, SUM(ia * ib) AS m
        FROM bott GROUP BY source_a, source_b
    ),
    ex AS (
        SELECT a.source AS source_a, b.source AS source_b,
               COUNT(*) AS exact_inter
        FROM g a JOIN g b ON a.gram = b.gram AND a.source < b.source
        GROUP BY a.source, b.source
    )
    SELECT st.source_a, st.source_b,
           CAST(COALESCE(ex.exact_inter, 0) AS BIGINT) AS exact_inter,
           CAST(st.k_eff AS BIGINT) AS k_eff,
           CAST(st.m AS BIGINT) AS m,
           CAST(st.theta_h AS BIGINT) AS theta_h,
           ROUND(CAST(st.m * (st.k_eff - 1) AS DOUBLE) * 4294967296.0
                 / (CAST(st.k_eff AS DOUBLE)
                    * CAST(st.theta_h + 1 AS DOUBLE)), 6) AS est_inter,
           ROUND(CAST(st.k_eff - 1 AS DOUBLE) * 4294967296.0
                 / CAST(st.theta_h + 1 AS DOUBLE), 6) AS est_union
    FROM st LEFT JOIN ex
      ON st.source_a = ex.source_a AND st.source_b = ex.source_b
"""


@register(
    "kmv_sketch_intersection",
    _KMV_SQL,
    doc="KMV (k-minimum-values / theta) sketch set operations [Bar-Yossef "
    "et al. 2002; Beyer et al., SIGMOD 2007 — public]: per source, the "
    f"{_KMV_K} smallest distinct shingle-hash values form a fixed-size "
    "mergeable synopsis of that source's 3-gram set; for every source "
    "pair, the union estimate is (k−1)/u_(k) over the union sketch's "
    "k-th normalized minimum and the intersection estimate is "
    "(m/k)·D̂_union with m = matching hashes inside the union's "
    "bottom-k — audited against the EXACT gram overlap in the same row. "
    "This is the SET-OPERATIONS member of the repo's mergeable-sketch "
    "family (HLL=distinct cardinality, Count-Min=frequency, Bloom="
    "membership): sketches are O(k) per source regardless of corpus "
    "size, combine by keeping the k smallest of a union, and answer "
    "'how much do these two 100-TB sources overlap?' without ever "
    "joining the full gram sets.  All hash ranking is exact-integer; "
    "the only float math is one division of exact BIGINTs (IEEE-"
    "identical in both engines).  The 20×20 source pair frame is the "
    "allowlisted tiny cross join; the exact-overlap audit is a gram "
    "equi-join (inverted-index shape, never cartesian).",
)
def kmv_sketch_intersection(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.text import shingle_hash, shingles

    d = load(spark, sf_dir, "documents")
    # Multi-consumer subtrees are recomputed wholesale by Spark (no
    # exchange reuse across union/join branches), and the old shape —
    # g distinct, hs distinct, sk joined into a pairs frame twice, plus
    # a gram self-join audit — re-executed the scan+explode EIGHT times.
    # This shape runs it three: once for the sketch chain (deduping on
    # (source, h) directly — the gram-level dedup bought nothing), once
    # for a no-explode source roster, once for the per-gram audit.
    raw = d.select(
        "source", F.explode(shingles(F.col("text"), 3)).alias("gram")
    )
    hs = raw.select(
        "source", shingle_hash(F.col("gram")).alias("h")
    ).distinct()
    wnd = W.partitionBy("source").orderBy("h")
    sk = (
        hs.withColumn("hrk", F.row_number().over(wnd))
        .filter(F.col("hrk") <= _KMV_K)
        .select("source", "h")
    )
    # sources with >= 1 shingle — identical to "appears in the gram
    # frame" but needs no explode, just a per-doc size test
    srcs = (
        d.filter(F.size(shingles(F.col("text"), 3)) > 0)
        .select("source")
        .distinct()
    )
    # Both union roles from ONE sk x other-source fan-out: a sketch row
    # (s, h) contributes h to every pair {s, o} — as the a-side when
    # s < o, as the b-side otherwise.  Replaces the two pairs-join
    # branches (which each re-derived sk AND the pairs frame).
    x = (
        sk.crossJoin(srcs.select(F.col("source").alias("other")))
        .filter(F.col("source") != F.col("other"))
        .select(
            F.least("source", "other").alias("source_a"),
            F.greatest("source", "other").alias("source_b"),
            "h",
            F.when(F.col("source") < F.col("other"), 1)
            .otherwise(0)
            .alias("ia"),
            F.when(F.col("source") < F.col("other"), 0)
            .otherwise(1)
            .alias("ib"),
        )
    )
    u = x.groupBy("source_a", "source_b", "h").agg(
        F.max("ia").alias("ia"), F.max("ib").alias("ib")
    )
    wnd2 = W.partitionBy("source_a", "source_b").orderBy("h")
    bott = u.withColumn("rk", F.row_number().over(wnd2)).filter(
        F.col("rk") <= _KMV_K
    )
    st = bott.groupBy("source_a", "source_b").agg(
        F.max("h").alias("theta_h"),
        F.count(F.lit(1)).alias("k_eff"),
        F.sum(F.col("ia") * F.col("ib")).alias("m"),
    )
    # Exact-overlap audit: shared-gram counts per ordered source pair,
    # hot-gram-guarded (r14) — see _gram_pair_counts.
    ex = _gram_pair_counts(raw)
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
    return st.join(ex, ["source_a", "source_b"], "left").select(
        "source_a",
        "source_b",
        F.coalesce(F.col("exact_inter"), F.lit(0))
        .cast("long")
        .alias("exact_inter"),
        F.col("k_eff").cast("long").alias("k_eff"),
        F.col("m").cast("long").alias("m"),
        F.col("theta_h").cast("long").alias("theta_h"),
        est_inter.alias("est_inter"),
        est_union.alias("est_union"),
    )


# ===========================================================================
# ColBERT MaxSim late interaction
# ===========================================================================
_MS_GROUP = 10  # token vectors per pseudo-document
_MS_QDOCS = 3
_MS_TOPK = 10

_MS_SQL = f"""
    WITH t AS (
        SELECT CAST(FLOOR(vec_id / {_MS_GROUP}) AS BIGINT) AS gdoc,
               vec_id AS tok_id, embedding AS tv
        FROM embeddings
    ),
    q AS (SELECT gdoc AS qdoc, tok_id AS qtok, tv AS qv FROM t
          WHERE gdoc < {_MS_QDOCS}),
    mx AS (
        SELECT q.qdoc, q.qtok, t.gdoc AS ddoc,
               MAX(ROUND(list_cosine_similarity(
                   q.qv::DOUBLE[], t.tv::DOUBLE[])::DOUBLE, 6)) AS mxv
        FROM q CROSS JOIN t
        WHERE t.gdoc <> q.qdoc
        GROUP BY q.qdoc, q.qtok, t.gdoc
    ),
    sc AS (
        SELECT qdoc, ddoc,
               CAST(SUM(CAST(FLOOR(mxv * 1e6 + 0.5) AS BIGINT)) AS BIGINT)
                   AS score_micro
        FROM mx GROUP BY qdoc, ddoc
    )
    SELECT qdoc, ddoc, score_micro, CAST(rk AS BIGINT) AS rk FROM (
        SELECT qdoc, ddoc, score_micro,
               ROW_NUMBER() OVER (PARTITION BY qdoc
                                  ORDER BY score_micro DESC, ddoc) AS rk
        FROM sc
    ) WHERE rk <= {_MS_TOPK}
"""


@register(
    "maxsim_late_interaction",
    _MS_SQL,
    doc="ColBERT MaxSim late-interaction retrieval scoring [Khattab & "
    "Zaharia, SIGIR 2020 — public]: documents are BAGS of token vectors "
    f"(here {_MS_GROUP} consecutive embedding rows form one pseudo-"
    "document); score(q, d) = Σ over query tokens of MAX over d's token "
    "vectors of cosine — the fine-grained interaction single-vector "
    "retrieval loses, computed AFTER encoding (hence 'late').  Each "
    "per-(query-token, doc) max rounds to 6 dp then to integer micro "
    "BEFORE the per-doc sum, so ranking replays exactly.  The query "
    "block (3 docs × 10 token vectors) is the allowlisted bounded "
    "broadcast × corpus exact-baseline shape (ann_cosine_topk's); at "
    "production scale candidate documents come from an ANN first stage "
    "(the IVF/LSH rows) and MaxSim re-ranks only the candidates — "
    "rerank_batch_topk's split applied to multi-vector scoring.  The "
    "aggregation tree (max within doc, sum across query tokens, window "
    "top-10) is all partial-aggregable JVM work.",
)
def maxsim_late_interaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.similarity import cosine

    t = load(spark, sf_dir, "embeddings").select(
        F.floor(F.col("vec_id") / _MS_GROUP).cast("long").alias("gdoc"),
        F.col("vec_id").alias("tok_id"),
        F.col("embedding").cast("array<double>").alias("tv"),
    )
    q = t.filter(F.col("gdoc") < _MS_QDOCS).select(
        F.col("gdoc").alias("qdoc"),
        F.col("tok_id").alias("qtok"),
        F.col("tv").alias("qv"),
    )
    mx = (
        F.broadcast(q)
        .crossJoin(t.select(F.col("gdoc").alias("ddoc"), "tv"))
        .filter(F.col("ddoc") != F.col("qdoc"))
        .select(
            "qdoc",
            "qtok",
            "ddoc",
            F.round(cosine(F.col("qv"), F.col("tv")), 6).alias("sim"),
        )
        .groupBy("qdoc", "qtok", "ddoc")
        .agg(F.max("sim").alias("mxv"))
    )
    sc = (
        mx.withColumn(
            "mic", F.floor(F.col("mxv") * 1e6 + 0.5).cast("long")
        )
        .groupBy("qdoc", "ddoc")
        .agg(F.sum("mic").alias("score_micro"))
    )
    wnd = W.partitionBy("qdoc").orderBy(F.col("score_micro").desc(), "ddoc")
    return (
        sc.withColumn("rk", F.row_number().over(wnd))
        .filter(F.col("rk") <= _MS_TOPK)
        .select(
            "qdoc",
            "ddoc",
            "score_micro",
            F.col("rk").cast("long").alias("rk"),
        )
    )


# ===========================================================================
# Wide → long unpivot surface
# ===========================================================================
_UNPIVOT_SQL = f"""
    WITH m AS (
        SELECT doc_id,
               CAST(n_chars AS BIGINT) AS n_chars,
               CAST(CASE WHEN trim({_NORM_SQL}) = '' THEN 0
                         ELSE len(string_split({_NORM_SQL}, ' ')) END
                    AS BIGINT) AS n_tokens,
               CAST(CASE WHEN trim({_NORM_SQL}) = '' THEN 0
                         ELSE len(list_distinct(
                                  string_split({_NORM_SQL}, ' '))) END
                    AS BIGINT) AS n_distinct_tokens,
               CAST(len(string_split(COALESCE(text, ''), chr(10)))
                    AS BIGINT) AS n_lines
        FROM documents
    )
    SELECT doc_id, 'n_chars' AS metric, n_chars AS value FROM m
    UNION ALL
    SELECT doc_id, 'n_tokens' AS metric, n_tokens AS value FROM m
    UNION ALL
    SELECT doc_id, 'n_distinct_tokens' AS metric,
           n_distinct_tokens AS value FROM m
    UNION ALL
    SELECT doc_id, 'n_lines' AS metric, n_lines AS value FROM m
"""


@register(
    "unpivot_quality_metrics",
    _UNPIVOT_SQL,
    doc="Wide→long reshape (UNPIVOT / stack): four per-document quality "
    "metrics — raw chars, whitespace tokens of the normalized text, "
    "distinct tokens, physical lines — melted to (doc_id, metric, "
    "value) rows with Spark's stack() table-generating expression, the "
    "reshape every metrics store and plotting layer wants long-form.  "
    "The inverse surface (long→wide pivot) is events_type_pivot.  Pure "
    "per-row JVM expression work: stack() is a generator inside the "
    "scan's projection, no shuffle at all; the oracle is the UNION ALL "
    "definition of unpivot.",
)
def unpivot_quality_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.text import normalize_text

    d = load(spark, sf_dir, "documents")
    norm = normalize_text(F.coalesce(F.col("text"), F.lit("")))
    w = F.split(norm, " ")
    blank = F.trim(norm) == ""
    m = d.select(
        F.col("doc_id"),
        F.col("n_chars").cast("long").alias("n_chars"),
        F.when(blank, F.lit(0))
        .otherwise(F.size(w))
        .cast("long")
        .alias("n_tokens"),
        F.when(blank, F.lit(0))
        .otherwise(F.size(F.array_distinct(w)))
        .cast("long")
        .alias("n_distinct_tokens"),
        F.size(F.split(F.coalesce(F.col("text"), F.lit("")), "\n", -1))
        .cast("long")
        .alias("n_lines"),
    )
    return m.selectExpr(
        "doc_id",
        "stack(4, 'n_chars', n_chars, 'n_tokens', n_tokens, "
        "'n_distinct_tokens', n_distinct_tokens, 'n_lines', n_lines) "
        "as (metric, value)",
    )


# ===========================================================================
# MaxSim two-stage: IVF first-stage recall + MaxSim re-rank (the
# production ColBERT split)
# ===========================================================================
_MSR_NPROBE = 2
_MSR_TOPK = 10

_MSR_SQL = f"""
    WITH t AS (
        SELECT CAST(FLOOR(vec_id / {_MS_GROUP}) AS BIGINT) AS gdoc,
               vec_id AS tok_id, label, embedding AS tv
        FROM embeddings
    ),
    reps AS (
        SELECT t.gdoc, t.label AS list_id, t.tv AS rv
        FROM t
        JOIN (SELECT gdoc, MIN(tok_id) AS mt FROM t GROUP BY gdoc) m
          ON t.gdoc = m.gdoc AND t.tok_id = m.mt
    ),
    cent AS (
        SELECT r.list_id, r.rv AS cv
        FROM reps r
        JOIN (SELECT list_id, MIN(gdoc) AS mg FROM reps GROUP BY list_id) c
          ON r.list_id = c.list_id AND r.gdoc = c.mg
    ),
    q AS (SELECT gdoc AS qdoc, rv AS qrv FROM reps
          WHERE gdoc < {_MS_QDOCS}),
    pr AS (
        SELECT qdoc, list_id FROM (
            SELECT q.qdoc, c.list_id,
                   ROW_NUMBER() OVER (PARTITION BY q.qdoc ORDER BY
                       ROUND(list_cosine_similarity(
                           c.cv::DOUBLE[], q.qrv::DOUBLE[])::DOUBLE, 6)
                           DESC, c.list_id) AS rk
            FROM q CROSS JOIN cent c
        ) WHERE rk <= {_MSR_NPROBE}
    ),
    cand AS (
        SELECT DISTINCT pr.qdoc, r.gdoc AS ddoc
        FROM pr JOIN reps r ON r.list_id = pr.list_id
        WHERE r.gdoc <> pr.qdoc
    ),
    qt AS (SELECT gdoc AS qdoc, tok_id AS qtok, tv AS qv FROM t
           WHERE gdoc < {_MS_QDOCS}),
    mx AS (
        SELECT c.qdoc, qt.qtok, c.ddoc,
               MAX(ROUND(list_cosine_similarity(
                   qt.qv::DOUBLE[], dt.tv::DOUBLE[])::DOUBLE, 6)) AS mxv
        FROM cand c
        JOIN qt ON qt.qdoc = c.qdoc
        JOIN t dt ON dt.gdoc = c.ddoc
        GROUP BY c.qdoc, qt.qtok, c.ddoc
    ),
    sc AS (
        SELECT qdoc, ddoc,
               CAST(SUM(CAST(FLOOR(mxv * 1e6 + 0.5) AS BIGINT)) AS BIGINT)
                   AS score_micro
        FROM mx GROUP BY qdoc, ddoc
    )
    SELECT qdoc, ddoc, score_micro, CAST(rk AS BIGINT) AS rk FROM (
        SELECT qdoc, ddoc, score_micro,
               ROW_NUMBER() OVER (PARTITION BY qdoc
                                  ORDER BY score_micro DESC, ddoc) AS rk
        FROM sc
    ) WHERE rk <= {_MSR_TOPK}
"""


@register(
    "maxsim_rerank_ivf",
    _MSR_SQL,
    doc="maxsim_late_interaction's SCALE path — the production ColBERT "
    "two-stage split [Khattab & Zaharia 2020 — public]: a SINGLE-vector "
    "first stage recalls candidate documents from the persisted IVF "
    "index (each pseudo-document represented by its first token vector, "
    "the CLS-embedding stand-in; probe = 2 nearest lists of the query "
    "doc's representative), and only the candidates pay the multi-"
    "vector MaxSim re-rank — the exact/approximate split the "
    "rerank_batch_topk and *_ivf miner twins apply, here for multi-"
    "vector scoring.  The rep index persists write-if-missing (salted "
    "by clustering-module md5 + embeddings fingerprint), so the timed "
    "path is steady state: probe choice + one equi-join on the "
    "partition-pruned rep store + token joins keyed on the candidate "
    "doc ids + the micro-rounded MaxSim aggregation tree.  Recall "
    "trade vs the exact row: a true top-10 document whose rep lives "
    "outside the probed lists is replaced by the best in-probe one — "
    "standard two-stage behavior.  The oracle replays rep pick (min "
    "tok_id per doc), centroid pick (min-gdoc rep per list), probe "
    "ranking, candidate fetch, and the full MaxSim chain.",
)
def maxsim_rerank_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.clustering import (
        ivf_probe_batch,
        read_ivf_lists,
        write_ivf_index,
    )
    from .operators.similarity import cosine

    t = load(spark, sf_dir, "embeddings").select(
        F.floor(F.col("vec_id") / _MS_GROUP).cast("long").alias("gdoc"),
        F.col("vec_id").alias("tok_id"),
        F.col("label"),
        F.col("embedding").cast("array<double>").alias("tv"),
    )
    # single-vector doc representative: the doc's FIRST token vector
    # (rename the grouped key before the self-join — both sides descend
    # from t, so unqualified/qualified gdoc is ambiguous either way)
    min_tok = (
        t.groupBy("gdoc")
        .agg(F.min("tok_id").alias("mt"))
        .withColumnRenamed("gdoc", "mg")
    )
    reps = t.join(
        min_tok,
        (F.col("gdoc") == F.col("mg")) & (F.col("tok_id") == F.col("mt")),
    ).select("gdoc", "label", F.col("tv").alias("rv"))
    path = _salted_ivf_path(
        spark, sf_dir, "ivf_msr", extra=f"g={_MS_GROUP}|np={_MSR_NPROBE}"
    )
    if not store.exists(spark, f"{path}/centroids/_SUCCESS"):
        write_ivf_index(
            reps, path, list_col="label", id_col="gdoc", vec_col="rv"
        )
    q = reps.filter(F.col("gdoc") < _MS_QDOCS).select(
        F.col("gdoc").alias("qdoc"), F.col("rv").alias("qrv")
    )
    probe = ivf_probe_batch(
        spark, path, q, nprobe=_MSR_NPROBE, qvec_col="qrv"
    )
    cand = (
        read_ivf_lists(spark, path, id_col="gdoc", vec_col="rv")
        .join(F.broadcast(probe.select("qdoc", "list_id")), "list_id")
        .filter(F.col("gdoc") != F.col("qdoc"))
        .select("qdoc", F.col("gdoc").alias("ddoc"))
        .distinct()
    )
    qt = t.filter(F.col("gdoc") < _MS_QDOCS).select(
        F.col("gdoc").alias("qdoc"),
        F.col("tok_id").alias("qtok"),
        F.col("tv").alias("qv"),
    )
    dt = t.select(F.col("gdoc").alias("ddoc"), F.col("tv").alias("dv"))
    mx = (
        cand.join(F.broadcast(qt), "qdoc")
        .join(dt, "ddoc")
        .select(
            "qdoc",
            "qtok",
            "ddoc",
            F.round(cosine(F.col("qv"), F.col("dv")), 6).alias("sim"),
        )
        .groupBy("qdoc", "qtok", "ddoc")
        .agg(F.max("sim").alias("mxv"))
    )
    sc = (
        mx.withColumn("mic", F.floor(F.col("mxv") * 1e6 + 0.5).cast("long"))
        .groupBy("qdoc", "ddoc")
        .agg(F.sum("mic").alias("score_micro"))
    )
    wnd = W.partitionBy("qdoc").orderBy(F.col("score_micro").desc(), "ddoc")
    return (
        sc.withColumn("rk", F.row_number().over(wnd))
        .filter(F.col("rk") <= _MSR_TOPK)
        .select(
            "qdoc",
            "ddoc",
            "score_micro",
            F.col("rk").cast("long").alias("rk"),
        )
    )


# ===========================================================================
# Persisted BM25 lexical index: the lexical twin of the IVF lifecycle
# ===========================================================================
from .queries import _BM25_TERMS  # noqa: E402


@register(
    "bm25_persisted_topk",
    _REGISTRY["bm25_topk"].oracle,
    doc="Persisted-LEXICAL-index lifecycle — the BM25 twin of "
    "ann_ivf_persisted_topk: the inverted index (postings partitioned "
    "by term-hash bucket, doclen, additive stats rows) persists "
    "write-if-missing (salted by the lexical module's source md5 + a "
    "data fingerprint of documents), and the query is answered from "
    "the RELOADED store — the postings scan prunes to the query "
    "terms' buckets (PartitionFilters) with the term IN-list pushed "
    "down (PushedFilters), the posting-list seek of a search engine "
    "as partition pruning.  Scoring replays bm25_scores expression-"
    "for-expression (per-term micro floors before the exact BIGINT "
    "sum), so this row shares bm25_topk's oracle verbatim: any "
    "write/read asymmetry in postings, doclen, or the additive stats "
    "hash-mismatches.  Completes hybrid retrieval's build-once/"
    "query-many story on the lexical side (rrf_hybrid_topk fuses the "
    "two rankings; the vector side has had its persisted index since "
    "ann_ivf_persisted_topk).",
)
def bm25_persisted_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib
    import inspect

    from .operators import lexical as lx
    from .queries_ext import _data_fingerprint, _scan_path

    salt = hashlib.md5(
        (
            inspect.getsource(lx)
            + "|bm25|"
            + _data_fingerprint(spark, sf_dir, "documents")
        ).encode()
    ).hexdigest()[:10]
    path = _scan_path(sf_dir, f"bm25_index_{salt}")
    # stats writes LAST in write_bm25_index: its _SUCCESS gates against
    # serving a half-written index
    if not store.exists(spark, f"{path}/stats/_SUCCESS"):
        lx.write_bm25_index(load(spark, sf_dir, "documents"), path)
    return lx.bm25_probe_topk(spark, path, _BM25_TERMS, k=20)


@register(
    "rho_persisted_selection",
    _RHO_SQL,
    doc="rho_loss_selection's PERSISTED-model twin: the two-LM selector "
    "is written once (streaming/ingest.write_rho_model — the artifact "
    "the RHO ingest gate consumes) and the selection is computed by "
    "scoring against the RELOADED model (rho_score_persisted), write-"
    "if-missing salted by the ingest module's source md5 + a data "
    "fingerprint of documents.  Shares rho_loss_selection's oracle "
    "VERBATIM: any asymmetry between the inline scoring chain and the "
    "persisted vocab/consts roundtrip hash-mismatches — the lexical/"
    "vector persisted-index gating stance applied to the data-selection "
    "model, and the oracle gate behind the streaming rho_gate_sink.",
)
def rho_persisted_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib
    import inspect

    from .streaming import ingest as ing
    from .queries_ext import _data_fingerprint, _scan_path

    d = load(spark, sf_dir, "documents")
    salt = hashlib.md5(
        (
            inspect.getsource(ing.write_rho_model)
            + inspect.getsource(ing.rho_score_persisted)
            + "|rho|"
            + _data_fingerprint(spark, sf_dir, "documents")
        ).encode()
    ).hexdigest()[:10]
    path = _scan_path(sf_dir, f"rho_model_{salt}")
    # consts writes LAST in write_rho_model: its _SUCCESS gates against
    # serving a half-written model
    if not store.exists(spark, f"{path}/consts/_SUCCESS"):
        ing.write_rho_model(d, path)
    sc = ing.rho_score_persisted(spark, path, d)
    wnd = W.partitionBy("source").orderBy(
        F.col("excess_micro").desc(), "doc_id"
    )
    return (
        sc.join(d.select("doc_id", "source"), "doc_id")
        .withColumn("rk", F.row_number().over(wnd))
        .filter(F.col("rk") <= _RHO_TOPB)
        .select(
            F.col("doc_id").cast("long").alias("doc_id"),
            "source",
            "n_tokens",
            "excess_micro",
            F.col("rk").cast("long").alias("rk"),
        )
    )
