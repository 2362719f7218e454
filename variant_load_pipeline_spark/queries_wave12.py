"""Wave-12 operators: store-maintenance closure for the round-11 wave —
the BM25 lexical index gains the fold + monitors every other persisted
artifact already has, the KMV sketches gain a persisted store with a
sketch-only probe, and filtered ANN gains the self-acting
selectivity↔nprobe strategy — each oracle-gated like every other row.

  bm25_compact_probe_only   steady-state probe of the FOLDED lexical
                        index: seed + append + compact_bm25_index all
                        persist write-if-missing outside the timed
                        path; shares bm25_topk's oracle VERBATIM, so
                        the fold itself is hash-gated (the
                        ivf_compact_probe_only treatment)
  bm25_idf_drift_report   the IDF-drift monitor (seed-epoch IDF vs
                        current under appended deltas, delta-touched
                        vocabulary only) — the lexical analog of
                        ivf_centroid_drift_report, the fold's trigger
  bm25_bucket_skew_report postings-rows-per-bucket balance, seed vs
                        delta, dense 64-bucket spine — the companion
                        trigger (a clumping term-hash shows up here)
  kmv_overlap_probe_only  pairwise union/intersection estimates from
                        the PERSISTED per-source KMV sketch store
                        alone (operators/sketches.py: seed + additive
                        batch appends, merged by the bottom-k-of-union
                        law) — the production "how much do these two
                        100-TB sources overlap?" probe; the exact gram
                        audit stays in kmv_sketch_intersection as a
                        separate QC row
  ann_filtered_auto_topk  metadata-filtered ANN with the SELF-ACTING
                        strategy (clustering.choose_filtered_probe):
                        survivor count + list count decide probe-with-
                        widened-nprobe vs exact-over-filtered-subset;
                        the oracle replays the DECISION and both
                        branches, so the switch itself is hash-gated
  bm25_filtered_topk    hybrid FILTERED lexical retrieval: the metadata
                        predicate pre-filters candidates inside the
                        bucket-pruned postings while IDF stays corpus-
                        wide — the production search-API shape on the
                        BM25 side (CorpusLexSearch --filter-mod)
  maxsim_rerank_persisted  maxsim_rerank_ivf with the re-rank fetch
                        served from a PERSISTED gdoc-bucketed token
                        store instead of re-deriving token vectors from
                        the raw embeddings scan — completes the ColBERT
                        lifecycle (shares the _MSR oracle verbatim)
  rrf_hybrid_filtered_topk  the capstone: FULLY-FILTERED hybrid
                        retrieval — the filtered BM25 probe (persisted
                        lexical store) and the filtered IVF probe
                        (persisted vector store) fused by RRF, one
                        metadata predicate across both systems — the
                        production search-API endpoint end to end

Float determinism follows the repo-wide idiom: cosines/IDFs round to
6 dp / floor to integer micro-units before any sum or ranking; the only
raw-float ops are single divisions of exact integers (IEEE-identical in
Spark and DuckDB).
"""

from __future__ import annotations

import hashlib
import inspect

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from . import store
from .queries import _NORM_SQL, _SHINGLES_SQL, _REGISTRY, load, register
from .queries_wave10 import _salted_ivf_path

# ===========================================================================
# Persisted-BM25 maintenance: fold + monitors
# ===========================================================================
from .queries import _BM25_TERMS  # noqa: E402


def _salted_lex_path(spark, sf_dir: str, tag: str, recipe_src: str) -> str:
    from .operators import lexical as lx
    from .queries_ext import _data_fingerprint, _scan_path

    salt = hashlib.md5(
        (
            inspect.getsource(lx)
            + f"|{tag}|"
            + recipe_src
            + "|"
            + _data_fingerprint(spark, sf_dir, "documents")
        ).encode()
    ).hexdigest()[:10]
    return _scan_path(sf_dir, f"{tag}_{salt}")


def _build_split_bm25(spark, sf_dir: str, tag: str, recipe_src: str,
                      fold: bool) -> str:
    """Write-if-missing even/odd split lexical store: seed = even-id
    docs, delta batch 0 = odd-id docs; with ``fold``, compact batch 0
    into the seed (the _FOLDED-marker idiom of ivf_compact_probe_only —
    a crash mid-build rebuilds from scratch)."""
    import shutil

    from .operators import lexical as lx

    path = _salted_lex_path(spark, sf_dir, tag, recipe_src)
    if not store.exists(spark, f"{path}/_READY"):
        shutil.rmtree(path, ignore_errors=True)
        d = load(spark, sf_dir, "documents")
        lx.write_bm25_index(d.filter(F.col("doc_id") % 2 == 0), path)
        lx.append_bm25_batch(
            d.filter(F.col("doc_id") % 2 == 1), path, batch_id=0
        )
        if fold:
            lx.compact_bm25_index(spark, path, upto_batch_id=0)
        store.touch(spark, f"{path}/_READY")
    return path


@register(
    "bm25_compact_probe_only",
    _REGISTRY["bm25_topk"].oracle,
    doc="Steady-state probe of the FOLDED persisted BM25 index — the "
    "ivf_compact_probe_only treatment applied to the lexical store: "
    "seed write (even-id docs) + delta append (odd-id docs) + "
    "compact_bm25_index fold ALL persist write-if-missing OUTSIDE the "
    "timed path (a _READY marker written after the whole chain gates "
    "completeness; the path is salted with the lexical module's source "
    "md5 + this recipe's + a data fingerprint), leaving the timed "
    "query exactly what a search pays AFTER the maintenance job ran: "
    "bucket-pruned postings scan (PartitionFilters + pushed term "
    "IN-list), ONE stats row, no delta-tree listing or union at all.  "
    "Shares bm25_topk's oracle VERBATIM — which makes the fold itself "
    "hash-gated: any row the fold lost, duplicated, or mis-merged "
    "(postings, doclen, or the collapsed stats) would shift a BM25 "
    "score and mismatch.  bm25_persisted_topk keeps proving the "
    "build-once path; this row tracks post-maintenance serving cost.",
)
def bm25_compact_probe_only(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import lexical as lx

    path = _build_split_bm25(
        spark,
        sf_dir,
        "bm25_folded",
        hashlib.md5(
            inspect.getsource(bm25_compact_probe_only).encode()
        ).hexdigest()[:10],
        fold=True,
    )
    return lx.bm25_probe_topk(spark, path, _BM25_TERMS, k=20)


_IDF_TOPN = 20

_IDF_DRIFT_SQL = f"""
    WITH toks AS (
        SELECT doc_id, unnest(string_split({_NORM_SQL}, ' ')) AS term
        FROM documents
    ),
    t AS (SELECT DISTINCT doc_id, term FROM toks WHERE term <> ''),
    seedp AS (SELECT doc_id, term FROM t WHERE doc_id % 2 = 0),
    deltap AS (SELECT doc_id, term FROM t WHERE doc_id % 2 = 1),
    ns AS (SELECT count(DISTINCT doc_id) AS n_seed FROM seedp),
    nc AS (SELECT (SELECT count(DISTINCT doc_id) FROM seedp)
                + (SELECT count(DISTINCT doc_id) FROM deltap) AS n_cur),
    dd AS (SELECT term, count(*) AS df_d FROM deltap GROUP BY term),
    ds AS (SELECT term, count(*) AS df_s FROM seedp GROUP BY term),
    sc AS (
        SELECT dd.term,
               COALESCE(ds.df_s, 0) AS df_seed,
               COALESCE(ds.df_s, 0) + dd.df_d AS df_cur,
               CAST(floor(ln(1.0 + (ns.n_seed - COALESCE(ds.df_s, 0) + 0.5)
                                   / (COALESCE(ds.df_s, 0) + 0.5))
                          * 1e6 + 0.5) AS BIGINT) AS idf_seed_micro,
               CAST(floor(ln(1.0 + (nc.n_cur
                                    - (COALESCE(ds.df_s, 0) + dd.df_d) + 0.5)
                                   / ((COALESCE(ds.df_s, 0) + dd.df_d) + 0.5))
                          * 1e6 + 0.5) AS BIGINT) AS idf_cur_micro
        FROM dd LEFT JOIN ds ON dd.term = ds.term
        CROSS JOIN ns CROSS JOIN nc
    )
    SELECT term, CAST(df_seed AS BIGINT) AS df_seed,
           CAST(df_cur AS BIGINT) AS df_cur,
           idf_seed_micro, idf_cur_micro,
           abs(idf_cur_micro - idf_seed_micro) AS drift_micro,
           CAST(rk AS BIGINT) AS rk
    FROM (
        SELECT sc.*, ROW_NUMBER() OVER (
                   ORDER BY abs(idf_cur_micro - idf_seed_micro) DESC, term
               ) AS rk
        FROM sc
    ) WHERE rk <= {_IDF_TOPN}
"""


@register(
    "bm25_idf_drift_report",
    _IDF_DRIFT_SQL,
    doc="IDF-drift monitor over the persisted BM25 store — the lexical "
    "analog of ivf_centroid_drift_report, and the trigger for "
    "compact_bm25_index: with the store split write-if-missing into an "
    "even-id seed and an odd-id delta batch (UNfolded — the monitor's "
    "whole subject is the un-compacted state), report the top-20 terms "
    "by |seed-epoch IDF − current IDF| in integer micro-nats.  A "
    "term's IDF moves only if its df or the corpus size moved, and df "
    "moves ONLY for terms the deltas contain — so the monitor scores "
    "exactly the DELTA vocabulary: the seed-side df scan prunes to the "
    "delta terms' buckets (PartitionFilters) and semi-joins on the "
    "term, O(delta terms) never O(vocabulary); corpus sizes come from "
    "the additive stats rows (two 1-row broadcasts).  The oracle "
    "replays df/IDF/drift/ranking from the same even/odd split.",
)
def bm25_idf_drift_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import lexical as lx

    path = _build_split_bm25(
        spark,
        sf_dir,
        "bm25_appended",
        hashlib.md5(
            inspect.getsource(bm25_idf_drift_report).encode()
        ).hexdigest()[:10],
        fold=False,
    )
    return lx.bm25_idf_drift(spark, path, top_n=_IDF_TOPN)


_SKEW_SQL = f"""
    WITH toks AS (
        SELECT doc_id, unnest(string_split({_NORM_SQL}, ' ')) AS term
        FROM documents
    ),
    t AS (SELECT DISTINCT doc_id, term FROM toks WHERE term <> ''),
    pb AS (
        SELECT CAST(('0x' || substr(md5(term), 1, 8))::BIGINT % 64 AS INT)
                   AS term_bucket,
               SUM(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS seed_rows,
               SUM(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END) AS delta_rows
        FROM t GROUP BY 1
    ),
    spine AS (SELECT CAST(range AS INT) AS term_bucket FROM range(0, 64)),
    per AS (
        SELECT s.term_bucket,
               CAST(COALESCE(pb.seed_rows, 0) AS BIGINT) AS seed_rows,
               CAST(COALESCE(pb.delta_rows, 0) AS BIGINT) AS delta_rows,
               CAST(COALESCE(pb.seed_rows, 0)
                    + COALESCE(pb.delta_rows, 0) AS BIGINT) AS total_rows
        FROM spine s LEFT JOIN pb ON s.term_bucket = pb.term_bucket
    ),
    g AS (SELECT SUM(total_rows) AS grand FROM per)
    SELECT per.term_bucket, per.seed_rows, per.delta_rows, per.total_rows,
           CAST(CASE WHEN g.grand > 0
                     THEN floor(1e6 * per.total_rows / g.grand + 0.5)
                     ELSE 0 END AS BIGINT) AS share_micro,
           CAST(CASE WHEN g.grand > 0
                     THEN floor(1e6 * per.total_rows * 64 / g.grand + 0.5)
                     ELSE 0 END AS BIGINT) AS skew_micro
    FROM per CROSS JOIN g
    ORDER BY per.term_bucket
"""


@register(
    "bm25_bucket_skew_report",
    _SKEW_SQL,
    doc="Postings-bucket-skew monitor over the persisted BM25 store — "
    "compact_bm25_index's companion trigger next to the IDF-drift row: "
    "posting rows per term_bucket (seed and unfolded delta separately) "
    "against the uniform 1/64 share, dense bucket spine so silently "
    "empty buckets are visible, all integer micro math.  skew_micro >> "
    "1e6 on a bucket means the term-hash is clumping there and probes "
    "for its terms read disproportionate data — at 100 TB the signal "
    "to re-bucket or fold.  Two partial aggregations (seed scan, delta "
    "scan) + a 64-row spine join + a 1-row grand-total broadcast; the "
    "oracle replays the bucket hash (md5-prefix % 64 — shingle_hash's "
    "DuckDB twin, the kmv/banding idiom) over the same even/odd split.",
)
def bm25_bucket_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import lexical as lx

    path = _build_split_bm25(
        spark,
        sf_dir,
        "bm25_appended",
        hashlib.md5(
            inspect.getsource(bm25_idf_drift_report).encode()
        ).hexdigest()[:10],
        fold=False,
    )
    return lx.bm25_bucket_skew(spark, path)


# ===========================================================================
# Persisted KMV sketch store: the sketch-only overlap probe
# ===========================================================================
_KMV_K = 128

_KMV_PROBE_SQL = f"""
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
    )
    SELECT source_a, source_b,
           CAST(COUNT(*) AS BIGINT) AS k_eff,
           CAST(SUM(ia * ib) AS BIGINT) AS m,
           CAST(MAX(h) AS BIGINT) AS theta_h,
           ROUND(CAST(SUM(ia * ib) * (COUNT(*) - 1) AS DOUBLE)
                 * 4294967296.0
                 / (CAST(COUNT(*) AS DOUBLE)
                    * CAST(MAX(h) + 1 AS DOUBLE)), 6) AS est_inter,
           ROUND(CAST(COUNT(*) - 1 AS DOUBLE) * 4294967296.0
                 / CAST(MAX(h) + 1 AS DOUBLE), 6) AS est_union
    FROM bott GROUP BY source_a, source_b
"""


@register(
    "kmv_overlap_probe_only",
    _KMV_PROBE_SQL,
    doc="Pairwise source-overlap estimates from the PERSISTED KMV "
    "sketch store ALONE [Beyer et al. SIGMOD'07 — public] — what "
    "kmv_sketch_intersection's timed row could not honestly claim "
    "(its exact gram-overlap audit scans the corpus): the store "
    "(operators/sketches.py) persists write-if-missing as an even-id "
    "seed + an odd-id batch append (additive, idempotent per batch "
    "partition), the reader merges by the KMV law — bottom-k of the "
    "hash union IS the from-scratch sketch, exactly — and the probe "
    "computes union/intersection estimates for every source pair "
    "from O(sources × k) rows, NEVER touching documents.  Shares the "
    "estimator math and columns with the audit row (minus exact_inter, "
    "which stays in kmv_sketch_intersection as the separate QC row); "
    "the oracle rebuilds the same sketches from the corpus — the "
    "merge law is what makes the two entries hash-equal.  The pair "
    "frame is the allowlisted source-cardinality cross join.",
)
def kmv_overlap_probe_only(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from .operators import sketches as sx
    from .queries_ext import _data_fingerprint, _scan_path

    salt = hashlib.md5(
        (
            inspect.getsource(sx)
            + "|kmv_store|"
            + hashlib.md5(
                inspect.getsource(kmv_overlap_probe_only).encode()
            ).hexdigest()[:10]
            + "|"
            + _data_fingerprint(spark, sf_dir, "documents")
        ).encode()
    ).hexdigest()[:10]
    path = _scan_path(sf_dir, f"kmv_store_{salt}")
    if not store.exists(spark, f"{path}/_READY"):
        shutil.rmtree(path, ignore_errors=True)
        d = load(spark, sf_dir, "documents")
        sx.write_kmv_sketches(
            d.filter(F.col("doc_id") % 2 == 0), path, k=_KMV_K
        )
        sx.append_kmv_batch(
            d.filter(F.col("doc_id") % 2 == 1), path, batch_id=0, k=_KMV_K
        )
        store.touch(spark, f"{path}/_READY")
    sk = sx.read_kmv_sketches(spark, path, k=_KMV_K)
    return sx.kmv_pair_estimates(sk, k=_KMV_K)


# ===========================================================================
# Self-acting filtered ANN: auto probe-vs-exact strategy
# ===========================================================================
_FA_TOPK = 5
_FA_SAFETY = 3
_FA_MOD = 100  # predicate: vec_id % _FA_MOD == 0 (the 1e-2 selectivity)

_FA_SQL = f"""
    WITH cent AS (
        SELECT e.label AS list_id, e.embedding AS cv
        FROM embeddings e
        JOIN (SELECT label, MIN(vec_id) AS mv FROM embeddings
              GROUP BY label) m
          ON e.label = m.label AND e.vec_id = m.mv
    ),
    q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
          WHERE vec_id % 100 = 1),
    surv AS (SELECT vec_id, label, embedding FROM embeddings
             WHERE vec_id % {_FA_MOD} = 0),
    dec AS (
        SELECT (SELECT count(*) FROM surv) AS s,
               (SELECT count(*) FROM cent) AS l
    ),
    need AS (
        SELECT s, l,
               CASE WHEN s = 0 THEN NULL
                    ELSE CAST(floor(({_FA_SAFETY} * {_FA_TOPK} * l + s - 1.0)
                                    / s) AS BIGINT) END AS needed
        FROM dec
    ),
    pr AS (
        SELECT qid, list_id FROM (
            SELECT q.qid, c.list_id,
                   ROW_NUMBER() OVER (PARTITION BY q.qid ORDER BY
                       ROUND(list_cosine_similarity(
                           c.cv::DOUBLE[], q.qv::DOUBLE[])::DOUBLE, 6)
                           DESC, c.list_id) AS rk
            FROM q CROSS JOIN cent c
        ) WHERE rk <= (SELECT needed FROM need)
    ),
    cand_probe AS (
        SELECT q.qid, e.vec_id AS nid,
               ROUND(list_cosine_similarity(
                   e.embedding::DOUBLE[], q.qv::DOUBLE[])::DOUBLE, 6)
                   AS sim
        FROM pr
        JOIN surv e ON e.label = pr.list_id
        JOIN q ON q.qid = pr.qid
        WHERE e.vec_id <> q.qid
    ),
    cand_exact AS (
        SELECT q.qid, e.vec_id AS nid,
               ROUND(list_cosine_similarity(
                   e.embedding::DOUBLE[], q.qv::DOUBLE[])::DOUBLE, 6)
                   AS sim
        FROM surv e CROSS JOIN q
        WHERE e.vec_id <> q.qid
    ),
    rp AS (
        SELECT qid, nid, sim,
               ROW_NUMBER() OVER (PARTITION BY qid
                                  ORDER BY sim DESC, nid) AS rk
        FROM cand_probe
    ),
    re AS (
        SELECT qid, nid, sim,
               ROW_NUMBER() OVER (PARTITION BY qid
                                  ORDER BY sim DESC, nid) AS rk
        FROM cand_exact
    )
    SELECT qid, nid, sim, CAST(rk AS BIGINT) AS rk FROM rp
    WHERE rk <= {_FA_TOPK}
      AND (SELECT s > 0 AND needed < l FROM need)
    UNION ALL
    SELECT qid, nid, sim, CAST(rk AS BIGINT) AS rk FROM re
    WHERE rk <= {_FA_TOPK}
      AND (SELECT s = 0 OR needed >= l FROM need)
"""


@register(
    "ann_filtered_auto_topk",
    _FA_SQL,
    doc="Metadata-filtered vector search with the SELF-ACTING strategy "
    "(clustering.choose_filtered_probe — FAISS IDSelector guidance, "
    "public): ann_filtered_topk documents the selectivity↔nprobe trade "
    "but hard-codes it; here ONE column-pruned survivor count over the "
    "lists store + the (model-sized) list count decide — widen nprobe "
    "to ceil(safety·k·L/survivors) when that still prunes, or fall "
    "back to EXACT scoring of the filtered subset when probing would "
    "visit every list anyway (the subset is tiny by definition then, "
    "so exact is cheaper and recall-lossless; zero survivors short-"
    "circuits to an empty exact branch instead of a silent < k "
    "result).  The decision is a pure integer function of the counts, "
    "so the ORACLE REPLAYS IT — decision CTE + both ranked branches + "
    "the branch filter — and the hash gate covers the switch itself, "
    "not just one branch (boundary goldens in tests pin auto == each "
    "strategy on both sides).  The 1e-2-selective predicate lands this "
    "row on the exact branch at sf0.01 and the widened-probe branch at "
    "sf0.1+ — both shapes exercised.  The index persists write-if-"
    "missing (probe-only idiom); the exact branch's pair frame is the "
    "allowlisted bounded anchor block × the filtered survivors.",
)
def ann_filtered_auto_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.clustering import (
        choose_filtered_probe,
        ivf_probe_batch,
        read_ivf_lists,
        write_ivf_index,
    )
    from .operators.similarity import cosine

    e = load(spark, sf_dir, "embeddings")
    path = _salted_ivf_path(
        spark,
        sf_dir,
        "ivf_fauto",
        extra=hashlib.md5(
            inspect.getsource(ann_filtered_auto_topk).encode()
        ).hexdigest()[:10],
    )
    if not store.exists(spark, f"{path}/centroids/_SUCCESS"):
        write_ivf_index(e, path)
    pred = F.col("vec_id") % _FA_MOD == 0
    strategy, nprobe = choose_filtered_probe(
        spark, path, pred, k=_FA_TOPK, safety=_FA_SAFETY
    )
    anchors = e.filter(F.col("vec_id") % 100 == 1).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").cast("array<double>").alias("qv"),
    )
    if strategy == "exact":
        surv = read_ivf_lists(spark, path).filter(pred).select(
            F.col("vec_id").alias("nid"),
            F.col("embedding").cast("array<double>").alias("nv"),
        )
        sims = (
            surv.crossJoin(F.broadcast(anchors))
            .filter(F.col("nid") != F.col("qid"))
            .select(
                "qid",
                "nid",
                F.round(cosine(F.col("nv"), F.col("qv")), 6).alias("sim"),
            )
        )
    else:
        probe = ivf_probe_batch(spark, path, anchors, nprobe=nprobe)
        lists = (
            read_ivf_lists(spark, path)
            .filter(pred)
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
        .filter(F.col("rk") <= _FA_TOPK)
        .select("qid", "nid", "sim", F.col("rk").cast("long").alias("rk"))
    )


# ===========================================================================
# Hybrid filtered lexical retrieval
# ===========================================================================
_BF_MOD = 3  # predicate: doc_id % _BF_MOD == 0

_BF_SQL = f"""
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
                   * (tf.tf * (1.2 + 1.0))
                   / (tf.tf + 1.2 * (1.0 - 0.75
                      + 0.75 * dl.dl
                        / (CAST(s.sum_dl AS DOUBLE) / s.n_docs)))
                   * 1e6 + 0.5) AS BIGINT) AS micro
        FROM tf
        JOIN dft d ON tf.term = d.term
        JOIN dl ON tf.doc_id = dl.doc_id
        CROSS JOIN stats s
        WHERE tf.doc_id % {_BF_MOD} = 0
    ),
    scored AS (
        SELECT doc_id, CAST(SUM(micro) AS BIGINT) AS bm25_micro
        FROM per_term GROUP BY doc_id
    )
    SELECT CAST(doc_id AS BIGINT) AS doc_id, bm25_micro,
           CAST(rk AS BIGINT) AS rk
    FROM (
        SELECT doc_id, bm25_micro,
               ROW_NUMBER() OVER (ORDER BY bm25_micro DESC, doc_id) AS rk
        FROM scored
    ) WHERE rk <= 20
"""


@register(
    "bm25_filtered_topk",
    _BF_SQL,
    doc="Hybrid FILTERED lexical retrieval from the persisted BM25 "
    "index — ann_filtered_topk's production search-API shape on the "
    f"lexical side: a metadata predicate (doc_id % {_BF_MOD} = 0, the "
    "tenant/lang/license stand-in) pre-filters candidates INSIDE the "
    "bucket-pruned postings, BEFORE length normalization and ranking, "
    "while per-term IDF (df_t) and the corpus constants stay CORPUS-"
    "WIDE — a filter restricts who may be returned, never what the "
    "relevance model believes about term rarity (the stance every "
    "production engine takes; post-filtering the unfiltered top-k "
    "would silently return < k survivors).  Served by the SAME "
    "persisted store as bm25_persisted_topk (identical salt — "
    "write-if-missing, shared); operable as CorpusLexSearch "
    "--filter-mod, composing with the vector side's filtered probe "
    "for fully-filtered hybrid (RRF) retrieval.  The oracle replays "
    "corpus-wide df_t + the filtered per-term frame.",
)
def bm25_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import lexical as lx
    from .queries_ext import _data_fingerprint, _scan_path

    # the EXACT salt of bm25_persisted_topk (queries_wave11) — the two
    # rows share one on-disk store; first caller builds it
    salt = hashlib.md5(
        (
            inspect.getsource(lx)
            + "|bm25|"
            + _data_fingerprint(spark, sf_dir, "documents")
        ).encode()
    ).hexdigest()[:10]
    path = _scan_path(sf_dir, f"bm25_index_{salt}")
    if not store.exists(spark, f"{path}/stats/_SUCCESS"):
        lx.write_bm25_index(load(spark, sf_dir, "documents"), path)
    return lx.bm25_probe_topk(
        spark,
        path,
        _BM25_TERMS,
        k=20,
        predicate=F.col("doc_id") % _BF_MOD == 0,
    )


# ===========================================================================
# Persisted MaxSim token store: the ColBERT lifecycle's last leg
# ===========================================================================
from .queries_wave11 import (  # noqa: E402
    _FILT_NPROBE,
    _MS_GROUP,
    _MS_QDOCS,
    _MSR_NPROBE,
    _MSR_SQL,
    _MSR_TOPK,
)

_TOK_BUCKETS = 64


@register(
    "maxsim_rerank_persisted",
    _MSR_SQL,
    doc="maxsim_rerank_ivf with the ColBERT lifecycle COMPLETED: the "
    "re-rank's token fetch is served from a PERSISTED token-group "
    "store — (gdoc, tok_id, tv) partitioned by gdoc-hash bucket, "
    "written once (write-if-missing, salted) — instead of re-deriving "
    "every token vector from the raw embeddings scan per query.  The "
    "candidate docs still come from the persisted single-vector rep "
    "index (the SAME salted path as maxsim_rerank_ivf — shared store); "
    "the candidates' distinct gdoc buckets (bounded by the bucket "
    "count — model-shaped state, one tiny collect, the RHO vocab-prune "
    "recipe) prune the token scan to the buckets the re-rank actually "
    "touches (PartitionFilters).  At 100 TB this is the difference "
    "between a re-rank that reads O(candidate buckets) of the token "
    "store and one that re-scans and re-groups the whole embedding "
    "corpus per query batch.  Shares maxsim_rerank_ivf's oracle "
    "VERBATIM: any write/read asymmetry in the token store "
    "hash-mismatches.",
)
def maxsim_rerank_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
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
    # rep index: the exact maxsim_rerank_ivf path — shared store
    rep_path = _salted_ivf_path(
        spark, sf_dir, "ivf_msr", extra=f"g={_MS_GROUP}|np={_MSR_NPROBE}"
    )
    if not store.exists(spark, f"{rep_path}/centroids/_SUCCESS"):
        min_tok = (
            t.groupBy("gdoc")
            .agg(F.min("tok_id").alias("mt"))
            .withColumnRenamed("gdoc", "mg")
        )
        reps = t.join(
            min_tok,
            (F.col("gdoc") == F.col("mg"))
            & (F.col("tok_id") == F.col("mt")),
        ).select("gdoc", "label", F.col("tv").alias("rv"))
        write_ivf_index(
            reps, rep_path, list_col="label", id_col="gdoc", vec_col="rv"
        )
    # the token store: write-if-missing, gdoc-hash-bucketed
    from .queries_ext import _data_fingerprint, _scan_path

    # salt includes this function's source (the store's write/read
    # recipe lives here) per the _salted_lex_path/_salted_ivf_path
    # convention: a future change to the token-store logic must re-key
    # the on-disk store instead of silently serving a stale copy
    tsalt = hashlib.md5(
        (
            f"tokstore|g={_MS_GROUP}|b={_TOK_BUCKETS}|"
            + inspect.getsource(maxsim_rerank_persisted)
            + "|"
            + _data_fingerprint(spark, sf_dir, "embeddings")
        ).encode()
    ).hexdigest()[:10]
    tok_path = _scan_path(sf_dir, f"msr_tokens_{tsalt}")
    if not store.exists(spark, f"{tok_path}/_READY"):
        t.withColumn(
            "gbucket",
            F.pmod(F.col("gdoc"), F.lit(_TOK_BUCKETS)).cast("int"),
        ).write.mode("overwrite").partitionBy("gbucket").parquet(
            f"{tok_path}/tokens"
        )
        store.touch(spark, f"{tok_path}/_READY")
    tok = spark.read.parquet(f"{tok_path}/tokens")
    # first stage: probe the rep index (maxsim_rerank_ivf verbatim)
    reps_all = read_ivf_lists(spark, rep_path, id_col="gdoc", vec_col="rv")
    q = reps_all.filter(F.col("gdoc") < _MS_QDOCS).select(
        F.col("gdoc").alias("qdoc"), F.col("rv").alias("qrv")
    )
    probe = ivf_probe_batch(
        spark, rep_path, q, nprobe=_MSR_NPROBE, qvec_col="qrv"
    )
    cand = (
        reps_all.join(F.broadcast(probe.select("qdoc", "list_id")), "list_id")
        .filter(F.col("gdoc") != F.col("qdoc"))
        .select("qdoc", F.col("gdoc").alias("ddoc"))
        .distinct()
        .localCheckpoint(eager=True)  # reused: bucket probe + re-rank
    )
    # prune the token fetch to the candidates' buckets (bounded collect)
    cbuckets = sorted(
        r["b"]
        for r in cand.select(
            F.pmod(F.col("ddoc"), F.lit(_TOK_BUCKETS))
            .cast("int")
            .alias("b")
        )
        .distinct()
        .collect()
    )
    qbuckets = sorted({q % _TOK_BUCKETS for q in range(_MS_QDOCS)})
    qt = (
        tok.filter(F.col("gbucket").isin(qbuckets))
        .filter(F.col("gdoc") < _MS_QDOCS)
        .select(
            F.col("gdoc").alias("qdoc"),
            F.col("tok_id").alias("qtok"),
            F.col("tv").alias("qv"),
        )
    )
    dt = tok.filter(F.col("gbucket").isin(cbuckets)).select(
        F.col("gdoc").alias("ddoc"), F.col("tv").alias("dv")
    )
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
# Fully-filtered hybrid retrieval: the capstone search-API endpoint
# ===========================================================================
_RRF_K = 60
_RRF_TOPN = 20
_RRF_OUT = 10
_HF_NPROBE = 3  # matches ann_filtered_topk's documented trade

_HF_SQL = f"""
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
                   * (tf.tf * (1.2 + 1.0))
                   / (tf.tf + 1.2 * (1.0 - 0.75
                      + 0.75 * dl.dl
                        / (CAST(s.sum_dl AS DOUBLE) / s.n_docs)))
                   * 1e6 + 0.5) AS BIGINT) AS micro
        FROM tf
        JOIN dft d ON tf.term = d.term
        JOIN dl ON tf.doc_id = dl.doc_id
        CROSS JOIN stats s
        WHERE tf.doc_id % {_BF_MOD} = 0
    ),
    scored AS (
        SELECT doc_id, CAST(SUM(micro) AS BIGINT) AS bm25_micro
        FROM per_term GROUP BY doc_id
    ),
    s20 AS (
        SELECT doc_id AS id, rk AS srk FROM (
            SELECT doc_id, ROW_NUMBER() OVER (
                ORDER BY bm25_micro DESC, doc_id) AS rk
            FROM scored
        ) WHERE rk <= {_RRF_TOPN}
    ),
    cent AS (
        SELECT e.label AS list_id, e.embedding AS cv
        FROM embeddings e
        JOIN (SELECT label, MIN(vec_id) AS mv FROM embeddings
              GROUP BY label) m
          ON e.label = m.label AND e.vec_id = m.mv
    ),
    q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    pr AS (
        SELECT list_id FROM (
            SELECT c.list_id, ROW_NUMBER() OVER (ORDER BY
                ROUND(list_cosine_similarity(
                    c.cv::DOUBLE[], q.qv::DOUBLE[])::DOUBLE, 6)
                    DESC, c.list_id) AS rk
            FROM cent c CROSS JOIN q
        ) WHERE rk <= {_HF_NPROBE}
    ),
    dsims AS (
        SELECT e.vec_id AS id,
               ROUND(list_cosine_similarity(
                   e.embedding::DOUBLE[], q.qv::DOUBLE[])::DOUBLE, 6)
                   AS sim
        FROM pr
        JOIN embeddings e ON e.label = pr.list_id
        CROSS JOIN q
        WHERE e.vec_id % {_BF_MOD} = 0 AND e.vec_id <> 0
    ),
    d20 AS (
        SELECT id, rk AS drk FROM (
            SELECT id, ROW_NUMBER() OVER (ORDER BY sim DESC, id) AS rk
            FROM dsims
        ) WHERE rk <= {_RRF_TOPN}
    ),
    fused AS (
        SELECT COALESCE(s.id, d.id) AS id,
               COALESCE(CAST(floor(1000000.0 / ({_RRF_K} + s.srk))
                        AS BIGINT), 0)
               + COALESCE(CAST(floor(1000000.0 / ({_RRF_K} + d.drk))
                          AS BIGINT), 0) AS rrf_micro
        FROM s20 s FULL OUTER JOIN d20 d ON s.id = d.id
    )
    SELECT CAST(id AS BIGINT) AS id, rrf_micro, CAST(rk AS BIGINT) AS rk
    FROM (
        SELECT id, rrf_micro,
               ROW_NUMBER() OVER (ORDER BY rrf_micro DESC, id) AS rk
        FROM fused
    ) WHERE rk <= {_RRF_OUT}
"""


@register(
    "rrf_hybrid_filtered_topk",
    _HF_SQL,
    doc="FULLY-FILTERED hybrid retrieval — the production search-API "
    "endpoint end to end, and the composition the filtered-probe rows "
    "exist for: ONE metadata predicate (id % 3 = 0, the tenant/lang/"
    "license stand-in; documents and embeddings share the id space — "
    "the RAG dual-index shape) pre-filters BOTH systems' candidates, "
    "the lexical list from the PERSISTED BM25 store (bm25_filtered_"
    "topk's probe: bucket-pruned postings, corpus-wide IDF) and the "
    "dense list from the PERSISTED IVF store (ann_filtered_topk's "
    "probe: predicate inside the probed lists, nprobe widened to 3), "
    "then Reciprocal Rank Fusion [Cormack et al. SIGIR'09 — public] "
    "sums floor(1e6/(60+rank)) per system — exact integer fusion, "
    "replayable.  Both stores persist write-if-missing and are SHARED "
    "with their solo rows (identical salts), so the timed path is two "
    "steady-state filtered probes + a bounded 2x20-row fusion (the "
    "final rank is a broadcast theta-join over the bounded fused "
    "frame, never a partition-less window).  The oracle replays both "
    "filtered rankings and the fusion.  Operable as CorpusLexSearch "
    "--filter-mod + CorpusSearch --filter-mod + downstream fuse.",
)
def rrf_hybrid_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import lexical as lx
    from .operators.clustering import ivf_probe_topk, write_ivf_index
    from .queries_ext import _data_fingerprint, _scan_path

    pred_doc = F.col("doc_id") % _BF_MOD == 0
    # lexical store: bm25_persisted_topk / bm25_filtered_topk's salt
    salt = hashlib.md5(
        (
            inspect.getsource(lx)
            + "|bm25|"
            + _data_fingerprint(spark, sf_dir, "documents")
        ).encode()
    ).hexdigest()[:10]
    lex_path = _scan_path(sf_dir, f"bm25_index_{salt}")
    if not store.exists(spark, f"{lex_path}/stats/_SUCCESS"):
        lx.write_bm25_index(load(spark, sf_dir, "documents"), lex_path)
    s20 = lx.bm25_probe_topk(
        spark, lex_path, _BM25_TERMS, k=_RRF_TOPN, predicate=pred_doc
    ).select(F.col("doc_id").alias("id"), F.col("rk").alias("srk"))

    # vector store: ann_filtered_topk's salt (shared)
    e = load(spark, sf_dir, "embeddings")
    ivf_path = _salted_ivf_path(
        spark, sf_dir, "ivf_filt", extra=f"nprobe={_FILT_NPROBE}"
    )
    if not store.exists(spark, f"{ivf_path}/centroids/_SUCCESS"):
        write_ivf_index(e, ivf_path)
    qv = [
        float(x)
        for x in e.filter(F.col("vec_id") == 0)
        .select("embedding")
        .first()["embedding"]
    ]
    d20 = ivf_probe_topk(
        spark,
        ivf_path,
        qv,
        nprobe=_HF_NPROBE,
        k=_RRF_TOPN,
        exclude_id=0,
        predicate=F.col("vec_id") % _BF_MOD == 0,
    ).select(F.col("vec_id").alias("id"), F.col("rk").alias("drk"))

    rrf = lambda rk: F.coalesce(  # noqa: E731
        F.floor(F.lit(1000000.0) / (F.lit(_RRF_K) + F.col(rk))).cast(
            "long"
        ),
        F.lit(0),
    )
    # bounded 2x20 fused frame: final rank via the broadcast theta
    # self-join (rrf_hybrid_topk's idiom — a `col * 0` partition key on
    # a non-nullable column would constant-fold into the partition-less
    # window the plan audit forbids)
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
