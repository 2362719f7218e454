"""Persisted lexical (BM25) retrieval index — the LEXICAL twin of the
IVF vector lifecycle (clustering.write_ivf_index / append_ivf_batch /
ivf_probe_* / compact_ivf_index), completing the hybrid-retrieval story
whose fusion row is rrf_hybrid_topk: build the inverted index once,
append document batches without a rebuild, answer ranked queries from
the store, and FOLD the accumulated deltas O(delta) when the monitors
say so.

Store layout (``<path>/``):

* ``postings/term_bucket=<b>/``  (term, doc_id, tf) — the inverted
  lists, partitioned by ``term_bucket = shingle_hash(term) % N_BUCKETS``
  so a query's terms prune the scan to their buckets (PartitionFilters)
  and the term IN-list pushes into the parquet reader (PushedFilters) —
  the posting-list seek of a search engine, expressed as partition
  pruning + predicate pushdown exactly like the IVF invlist seek.
* ``doclen/doc_bucket=<b>/``  (doc_id, dl) — per-document token counts
  (BM25's length normalization needs dl for MATCHED docs only; the
  probe joins it on doc_id after the postings prune), partitioned by a
  doc-id hash bucket so the maintenance fold rewrites ONLY the buckets
  a delta touched — the same O(delta) contract as the postings side.
* ``stats/``  (n_docs, sum_dl, batch_id, folded_upto) — ADDITIVE corpus
  constants: readers SUM the seed row with the delta rows, so an
  appended batch's contribution rides a 1-row append, never a
  read-modify-write (the quality/drift count-store recipe applied to
  IDF constants).  ``folded_upto`` is the compaction WATERMARK: every
  delta with ``batch_id <= folded_upto`` is already inside the seed, so
  readers exclude it — which makes even the fold's delete-crash window
  (folded rows present in both seed and a leftover delta partition)
  read exactly-once, a stronger contract than the IVF fold's
  dedup-on-next-fold one (additive stats rows are NOT bit-identical
  duplicates, so reader-side row dedup could not have saved them).

Append (``append_bm25_batch``) lands a new batch's postings/doclen under
``batch_id=<n>`` partitions with dynamic overwrite — idempotent under
redelivery, invisible to no reader (df_t and stats are derived at probe
time from seed + delta), no rebuild.  **Precondition: a batch's doc ids
must be DISJOINT from the seed's and every other batch's** (ids are
append-only unique, the IVF ingest contract): re-appending an existing
doc_id under a NEW batch id would double its doclen row (fanning out
the dl join) and double-count it in the additive stats — redelivery of
the SAME batch id is the safe, guarded case (its partitions overwrite).
The probe defensively dedups postings on (doc_id, term) and doclen on
doc_id whenever deltas exist — exact under the disjoint contract
because a fold-crash leftover's rows are bit-identical to the folded
seed copy.

IDF drift under heavy append is the lexical analog of IVF centroid
drift; ``bm25_idf_drift`` (seed-epoch IDF vs current, over the
delta-touched vocabulary only — the pruned O(delta-terms) scan) and
``bm25_bucket_skew`` (postings-rows-per-bucket balance) are the
monitors, and ``compact_bm25_index`` is the maintenance job they
trigger: fold committed deltas into ONLY the term_bucket / doc_bucket
partitions they touch (untouched bucket directories stay byte-identical
on disk), collapse the stats rows into one watermarked seed row, and
swap crash-safely by the store.py protocol (per-partition swap and
recovery for postings/doclen, whole-table for stats).  Reference
analog: the per-chromosome incremental
loading stance of ``/root/reference/changes.txt:32-36``.

BM25 math is ``functions.text.bm25_scores``'s, expression-for-
expression (per-term scores floor to integer micro-units BEFORE the
cross-term sum — exact BIGINT doc scores, replayable in the oracle);
the persisted-index probe is oracle-gated by the SAME SQL as the
direct-computation row, so any write/read asymmetry hash-mismatches.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import store

N_BUCKETS = 64


def _doc_bucket(col):
    return F.pmod(F.xxhash64(col), F.lit(N_BUCKETS)).cast("int")


def _postings(docs: DataFrame, text_col: str, id_col: str):
    from ..functions.text import normalize_text, shingle_hash

    toks = docs.select(
        F.col(id_col),
        F.explode(
            F.split(
                normalize_text(F.coalesce(F.col(text_col), F.lit(""))), " "
            )
        ).alias("term"),
    ).filter(F.col("term") != "")
    tf = toks.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    dl = toks.groupBy(id_col).agg(F.count(F.lit(1)).alias("dl"))
    post = tf.withColumn(
        "term_bucket", (shingle_hash(F.col("term")) % N_BUCKETS).cast("int")
    )
    dl = dl.withColumn("doc_bucket", _doc_bucket(F.col(id_col)))
    return post, dl


def write_bm25_index(
    docs: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> None:
    """Build the persisted BM25 index from scratch (the seed
    generation, batch_id = -1 in the stats store; folded_upto = -1
    marks that no delta batch has been folded yet)."""
    post, dl = _postings(docs, text_col, id_col)
    post.write.mode("overwrite").partitionBy("term_bucket").parquet(
        f"{path}/postings"
    )
    dl.write.mode("overwrite").partitionBy("doc_bucket").parquet(
        f"{path}/doclen"
    )
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").alias("sum_dl"),
        F.lit(-1).alias("batch_id"),
        F.lit(-1).cast("long").alias("folded_upto"),
    )
    stats.repartition(1).write.mode("overwrite").parquet(f"{path}/stats")


def append_bm25_batch(
    batch: DataFrame,
    path: str,
    batch_id: int,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> None:
    """Ingest a document batch into the persisted index WITHOUT a
    rebuild: postings/doclen land under ``batch_id=<n>`` partitions and
    the stats store gains the batch's additive (n_docs, sum_dl) row.
    Idempotent under redelivery: every write overwrites ONLY its own
    batch_id partition (``store.overwrite_partitions``),
    so a replayed batch cannot double postings, lengths, or stats.

    **Precondition (module docstring): the batch's doc ids are disjoint
    from every id already in the store** — ids are append-only unique;
    re-ingesting an existing id under a new batch id double-counts its
    length and stats contribution (the same contract as IVF vector
    ids).  Batch ids must be >= 0 (negative ids are reserved for the
    seed row and could never be folded past the watermark)."""
    if batch_id < 0:
        raise ValueError(f"batch_id must be >= 0, got {batch_id}")
    post, dl = _postings(batch, text_col, id_col)
    store.overwrite_partitions(
        post.withColumn("batch_id", F.lit(batch_id)),
        f"{path}/postings_delta",
        ["batch_id", "term_bucket"],
    )
    store.overwrite_partitions(
        dl.withColumn("batch_id", F.lit(batch_id)),
        f"{path}/doclen_delta",
        ["batch_id", "doc_bucket"],
    )
    store.overwrite_partitions(
        dl.agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("dl").alias("sum_dl"),
            F.lit(batch_id).alias("batch_id"),
        ).withColumn("bpart", F.col("batch_id")),
        f"{path}/stats_delta",
        ["bpart"],
    )


def _fold_in_progress(spark, path: str) -> bool:
    """True while a fold's vulnerable window is open: the ``.folding``
    marker is created before the first bucket swap and removed only
    after every folded delta partition is deleted, so its presence is
    the exact (and only directory-observable) signature of the
    crash window in which folded rows can exist BOTH in the swapped
    seed and in not-yet-deleted delta batches above the watermark.
    Readers dedup only inside this window; the steady-state
    (clean-append) probe pays no dedup exchange and keeps its bucket
    PartitionFilters."""
    return store.exists(spark, f"{path}/{FOLD_MARKER}")


FOLD_MARKER = ".folding"


def _folded_upto(spark, path: str) -> int:
    """The compaction watermark from the stats seed row (-1 when the
    store predates folds, carries no watermark column, or has no seed
    yet — the delta-only store the ingest door bootstraps).  A 1-row
    bounded collect — model state, never data."""
    if not store.exists(spark, f"{path}/stats"):
        return -1
    st = spark.read.parquet(f"{path}/stats")
    if "folded_upto" not in st.columns:
        return -1
    row = st.select(F.max("folded_upto").alias("w")).first()
    return -1 if row is None or row["w"] is None else int(row["w"])


def _store_frame(
    spark,
    seed_dir: str,
    delta_dir: str,
    cols: list[str],
    watermark: int,
    dedup_cols: list[str] | None = None,
    key: str = "batch_id",
):
    """A sub-store's full reader frame: seed (when it exists — the
    ingest door can bootstrap a store from deltas alone, LSM-style)
    unioned with the delta rows ABOVE the compaction watermark (rows at
    or below it are already folded into the seed — excluding them makes
    the fold's delete-crash window read exactly-once).  With
    ``dedup_cols`` and BOTH sides present, the merged frame also
    dropDuplicates — the defensive guard for postings/doclen, whose
    crash-leftover rows are bit-identical to their folded seed copies
    (see module docstring); skipped whenever one side is absent, so the
    steady-state (or delta-only) read pays no extra exchange.  ``key``
    names the delta root's batch partition column."""
    seed = (
        spark.read.parquet(seed_dir).select(*cols)
        if store.exists(spark, seed_dir)
        else None
    )
    delta = None
    if store.child_ids(spark, delta_dir, key):
        # explicit basePath: never let partition inference guess a
        # common root from the leaf listing (folds delete batch dirs
        # between reads — the cached file index would otherwise risk
        # CONFLICTING_DIRECTORY_STRUCTURES)
        d = spark.read.option("basePath", delta_dir).parquet(delta_dir)
        delta = d.filter(F.col(key) > watermark).select(*cols)
    if seed is None and delta is None:
        raise ValueError(
            f"no BM25 store at {seed_dir} (no seed, no deltas)"
        )
    if seed is None:
        return delta
    if delta is None:
        return seed
    merged = seed.unionByName(delta)
    if dedup_cols:
        merged = merged.dropDuplicates(dedup_cols)
    return merged


def bm25_probe_topk(
    spark,
    path: str,
    terms: list[str],
    k: int = 20,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    predicate=None,
) -> DataFrame:
    """Answer a BM25 top-k query from the persisted index (seed + any
    appended deltas above the fold watermark): the postings scan prunes
    to the query terms' buckets (PartitionFilters) with the term
    IN-list pushed down (PushedFilters); df_t aggregates over only
    those postings; doclen joins on the matched doc ids; the additive
    stats rows SUM to the corpus constants.  Scoring is bm25_scores'
    expression verbatim — per-term micro floors before the exact BIGINT
    doc sum — so the probe hash-matches the direct-computation oracle
    before an append, after an append, and after a fold.

    ``predicate`` (optional): a metadata filter Column over the
    candidate doc ids (the tenant/lang/license pre-filter —
    ivf_probe_topk's filtered-search shape on the LEXICAL side, the
    hybrid-retrieval production search API): it drops candidates from
    the already-bucket-pruned postings BEFORE length normalization and
    ranking, while per-term IDF (df_t) and the corpus constants stay
    CORPUS-WIDE — a filter restricts who may be returned, never what
    the relevance model believes about term rarity."""
    import hashlib

    # the query terms' buckets, computed driver-side with the same
    # md5-prefix hash shingle_hash evaluates on executors (the terms
    # are a handful of literals — no job needed to plan the prune)
    buckets = sorted(
        {
            int(hashlib.md5(t.encode()).hexdigest()[:8], 16) % N_BUCKETS
            for t in terms
        }
    )
    w_mark = _folded_upto(spark, path)
    # Defensive dedup ONLY inside a fold's crash window (marker-gated):
    # in the clean append steady state delta doc ids are disjoint from
    # the seed by contract, and skipping the dropDuplicates both removes
    # its two exchanges and lets the term_bucket filter reach the scans
    # as PartitionFilters (a dedup keyed on (doc, term) blocks pushdown
    # of the bucket predicate).
    dirty = _fold_in_progress(spark, path)
    post = _store_frame(
        spark,
        f"{path}/postings",
        f"{path}/postings_delta",
        [id_col, "term", "tf", "term_bucket"],
        w_mark,
        dedup_cols=[id_col, "term"] if dirty else None,
    )
    tf = post.filter(
        F.col("term_bucket").isin(buckets)
        & F.col("term").isin(list(terms))
    ).select(id_col, "term", "tf")
    dl = _store_frame(
        spark,
        f"{path}/doclen",
        f"{path}/doclen_delta",
        [id_col, "dl"],
        w_mark,
        dedup_cols=[id_col] if dirty else None,
    )
    st = _store_frame(
        spark,
        f"{path}/stats",
        f"{path}/stats_delta",
        ["n_docs", "sum_dl"],
        w_mark,
        key="bpart",
    )
    stats = st.agg(
        F.sum("n_docs").alias("n_docs"), F.sum("sum_dl").alias("sum_dl")
    )
    dft = tf.groupBy("term").agg(F.count(F.lit(1)).alias("dft"))
    if predicate is not None:
        # pre-filter candidates AFTER df_t: IDF stays corpus-wide
        tf = tf.filter(predicate)
    avgdl = F.col("sum_dl").cast("double") / F.col("n_docs")
    idf = F.log(
        1.0
        + (F.col("n_docs") - F.col("dft") + 0.5) / (F.col("dft") + 0.5)
    )
    per_term = (
        tf.join(F.broadcast(dft), "term")
        .join(dl, id_col)
        .crossJoin(F.broadcast(stats))
        .select(
            id_col,
            F.floor(
                idf
                * (F.col("tf") * (k1 + 1.0))
                / (
                    F.col("tf")
                    + k1 * (1.0 - b + b * F.col("dl") / avgdl)
                )
                * 1e6
                + 0.5
            )
            .cast("long")
            .alias("micro"),
        )
    )
    scored = per_term.groupBy(id_col).agg(
        F.sum("micro").alias("bm25_micro")
    )
    from pyspark.sql.window import Window as W

    top = scored.orderBy(F.col("bm25_micro").desc(), F.col(id_col)).limit(
        k
    )
    w = W.partitionBy(F.col("bm25_micro") * F.lit(0)).orderBy(
        F.col("bm25_micro").desc(), F.col(id_col)
    )
    return top.withColumn(
        "rk", F.row_number().over(w).cast("long")
    ).select(
        F.col(id_col).cast("long").alias(id_col), "bm25_micro", "rk"
    )


def _fold_bucketed(
    spark,
    seed_dir: str,
    delta_dir: str,
    bucket_col: str,
    key_cols: list[str],
    data_cols: list[str],
    watermark: int,
    upto_batch_id: int,
) -> None:
    """Fold one bucket-partitioned sub-store (postings or doclen):
    merge the committed delta rows into ONLY the bucket partitions they
    touch (driver-side directory listing finds the touched buckets —
    bounded by N_BUCKETS x batches, never a job), per-key dedup with
    delta-over-seed / later-over-earlier precedence (re-folds after a
    delete-crash converge), then a per-partition ``store.swap`` through
    ``.<name>.tmp`` / ``.<name>.old`` — untouched bucket directories
    are never moved — and finally delete the folded delta partitions
    (committed AND already-below-watermark stale leftovers)."""
    parent, _, name = seed_dir.rpartition("/")
    tmp = f"{parent}/.{name}.tmp"
    old_root = f"{parent}/.{name}.old"
    store.recover(spark, seed_dir, old_root, bucket_col)
    batches = [
        b
        for b in store.child_ids(spark, delta_dir, "batch_id")
        if b <= upto_batch_id
    ]
    touched = sorted(
        {
            t
            for b in batches
            if b > watermark
            for t in store.child_ids(
                spark, f"{delta_dir}/batch_id={b}", bucket_col
            )
        }
    )
    if touched:
        from pyspark.sql.window import Window as W

        delta = (
            spark.read.option("basePath", delta_dir)
            .parquet(delta_dir)
            .filter(
                (F.col("batch_id") > watermark)
                & (F.col("batch_id") <= upto_batch_id)
            )
            .select(
                *key_cols,
                *data_cols,
                bucket_col,
                F.col("batch_id").cast("long").alias("__src"),
            )
        )
        if store.exists(spark, seed_dir):
            seed_touched = (
                spark.read.parquet(seed_dir)
                .select(*key_cols, *data_cols, bucket_col)
                # lands in PartitionFilters: only touched buckets read
                .filter(F.col(bucket_col).isin(touched))
                .withColumn("__src", F.lit(-1).cast("long"))
            )
            delta = seed_touched.unionByName(delta)
        wdd = W.partitionBy(*key_cols).orderBy(F.col("__src").desc())
        merged = (
            delta.withColumn("__rn", F.row_number().over(wdd))
            .filter(F.col("__rn") == 1)
            .select(*key_cols, *data_cols, bucket_col)
        )
        store.delete(spark, tmp)
        merged.write.mode("overwrite").partitionBy(bucket_col).parquet(tmp)
        store.swap(
            spark, seed_dir, tmp, old_root,
            [f"{bucket_col}={t}" for t in touched],
        )
        store.delete(spark, old_root)
        store.delete(spark, tmp)
    # delete folded (committed) and stale (<= watermark leftover) deltas
    store.drop_children(spark, delta_dir, batches, "batch_id")


def compact_bm25_index(
    spark, path: str, upto_batch_id: int, id_col: str = "doc_id"
) -> int:
    """Fold committed BM25 delta batches into the main store — the
    maintenance job that closes the lexical ingest loop, mirroring
    compact_ivf_index partition-for-partition: under append_bm25_batch
    the delta roots accumulate O(batches) partition trees (every probe
    pays their listing and unions N+1 stats rows), so when the
    bm25_idf_drift / bm25_bucket_skew monitors trigger, this fold
    restores the O(1)-generation build-once shape WITHOUT re-tokenizing
    any document — probe results are identical before and after the
    fold by construction (pinned by test, and by bm25_compact_probe_only
    sharing bm25_topk's oracle).

    **Incremental by partition**: only ``term_bucket`` (postings) and
    ``doc_bucket`` (doclen) partitions with committed delta rows are
    rewritten; every untouched bucket directory is left byte-identical
    on disk (pinned by test).  At 100 TB the fold costs O(delta), never
    O(index) — the compact_ivf_index stance (reference analog: the
    per-chromosome incremental loading of ``changes.txt:32-36``).

    **Contract: ``upto_batch_id`` must be at or below the last batch id
    COMMITTED to the stream's checkpoint** (the compact_lsh_index
    contract): a folded batch redelivered afterwards would re-append
    its postings as a fresh delta and double-serve them until the next
    fold's per-key dedup converges.  Key collisions resolve
    DETERMINISTICALLY (delta beats seed, later batch beats earlier —
    the highest source batch id wins), so re-folds after any crash
    interleaving converge to one store.

    The stats store folds by COLLAPSE: one new seed row holding the
    summed (n_docs, sum_dl) and the new watermark ``folded_upto =
    upto_batch_id``.  The watermark is what makes the additive store
    crash-safe: a delete-crash can leave a folded batch's stats row on
    disk, but every reader (and the next fold) excludes delta rows at
    or below the seed's watermark, so nothing is ever double-counted —
    exactly-once even inside the crash window.

    Swap order (the swaps and their recovery are store.py's):

    1. postings: per-partition swap of the touched buckets through
       ``.postings.tmp`` / ``.postings.old``, then delete the folded
       delta partitions;
    2. doclen: the same over ``doc_bucket``;
    3. stats LAST: whole-table swap through ``.stats_tmp`` /
       ``.stats_old`` (1 row, model-sized), then delete the folded
       stats_delta partitions and the old copy.

    The ``.folding`` marker is open from before (1) until after (3).
    A crash between (1)/(2) and (3) leaves postings duplicated between
    seed and leftover deltas — the probe's (doc_id, term) / (doc_id)
    dedup keeps results exact in that window (rows are bit-identical),
    and the next fold converges the store.  Returns the number of delta
    batch ids folded (the union across the three sub-stores).
    """
    # stats recovery first (whole-table): the watermark read below must
    # see a live stats table
    st_live, st_old = f"{path}/stats", f"{path}/.stats_old"
    store.recover(spark, st_live, st_old)

    w_mark = _folded_upto(spark, path)
    listed = [
        store.child_ids(spark, f"{path}/{d}", key)
        for d, key in (
            ("postings_delta", "batch_id"),
            ("doclen_delta", "batch_id"),
            ("stats_delta", "bpart"),
        )
    ]
    folded_ids = {
        b for ids in listed for b in ids if w_mark < b <= upto_batch_id
    }
    stale_present = any(b <= w_mark for ids in listed for b in ids)
    if not folded_ids and not stale_present:
        # still run swap recovery so a torn prior fold self-heals even
        # when no new deltas arrived since
        store.recover(
            spark, f"{path}/postings", f"{path}/.postings.old", "term_bucket"
        )
        store.recover(
            spark, f"{path}/doclen", f"{path}/.doclen.old", "doc_bucket"
        )
        # no committed-above-watermark deltas remain, so no seed/delta
        # duplication is possible: a leftover crash marker can be
        # retired and probes drop back to the dedup-free plan
        store.delete(spark, f"{path}/{FOLD_MARKER}")
        return 0

    # open the vulnerable window: from the first bucket swap until the
    # folded delta partitions are all deleted, folded rows can exist in
    # BOTH the seed and a leftover delta batch above the watermark.
    # Readers (bm25_probe_topk, bm25_idf_drift) dedup exactly while
    # this marker exists — the clean steady state pays nothing.
    store.touch(spark, f"{path}/{FOLD_MARKER}")

    _fold_bucketed(
        spark,
        f"{path}/postings", f"{path}/postings_delta",
        "term_bucket", [id_col, "term"], ["tf"],
        w_mark, upto_batch_id,
    )
    _fold_bucketed(
        spark,
        f"{path}/doclen", f"{path}/doclen_delta",
        "doc_bucket", [id_col], ["dl"],
        w_mark, upto_batch_id,
    )

    # stats collapse, LAST: sum the seed row with the committed delta
    # rows into one watermarked seed row, whole-table swap, then delete
    # the folded delta partitions (the watermark covers the crash window)
    sbatches = listed[2]
    committed = [b for b in sbatches if w_mark < b <= upto_batch_id]
    if committed or any(b <= w_mark for b in sbatches):
        seed = (
            spark.read.parquet(st_live).select("n_docs", "sum_dl")
            if store.exists(spark, st_live)
            else None
        )
        if committed:
            delta = (
                spark.read.option("basePath", f"{path}/stats_delta")
                .parquet(f"{path}/stats_delta")
                .filter(
                    (F.col("bpart") > w_mark)
                    & (F.col("bpart") <= upto_batch_id)
                )
                .select("n_docs", "sum_dl")
            )
            seed = seed.unionByName(delta) if seed is not None else delta
        new_seed = seed.agg(
            F.sum("n_docs").cast("long").alias("n_docs"),
            F.sum("sum_dl").cast("long").alias("sum_dl"),
            F.lit(-1).alias("batch_id"),
            F.lit(int(max([upto_batch_id, w_mark]))).cast("long").alias(
                "folded_upto"
            ),
        )
        tmp = f"{path}/.stats_tmp"
        new_seed.repartition(1).write.mode("overwrite").parquet(tmp)
        store.swap(spark, st_live, tmp, st_old)
        store.drop_children(
            spark,
            f"{path}/stats_delta",
            [b for b in sbatches if b <= upto_batch_id],
            "bpart",
        )
        store.delete(spark, st_old)
    # every folded delta partition is deleted and the watermark is live:
    # close the vulnerable window
    store.delete(spark, f"{path}/{FOLD_MARKER}")
    return len(folded_ids)


def bm25_idf_drift(
    spark,
    path: str,
    top_n: int = 20,
    id_col: str = "doc_id",
) -> DataFrame:
    """IDF-drift monitor — the lexical analog of
    ivf_centroid_drift_report: how far has each term's IDF moved since
    the seed epoch (the last build/fold), under the delta batches
    appended since?  A term's IDF moves only if its document frequency
    or the corpus size changed; per-term df changes ONLY for terms the
    deltas contain, so the monitor scores exactly the DELTA vocabulary:
    the seed-side df scan prunes to the delta terms' buckets
    (PartitionFilters) and semi-joins on the term — O(delta terms),
    never O(vocabulary).  Emits the top_n terms by absolute drift in
    integer micro-nats (ties to the term), the trigger input for
    compact_bm25_index the way the centroid report triggers the IVF
    fold; after a fold the delta store is empty and the report is —
    correctly — empty."""
    from pyspark.sql.window import Window as W

    w_mark = _folded_upto(spark, path)
    if not store.child_ids(spark, f"{path}/postings_delta", "batch_id"):
        return spark.createDataFrame(
            [],
            "term string, df_seed long, df_cur long, "
            "idf_seed_micro long, idf_cur_micro long, "
            "drift_micro long, rk long",
        )
    delta = (
        spark.read.option("basePath", f"{path}/postings_delta")
        .parquet(f"{path}/postings_delta")
        .filter(F.col("batch_id") > w_mark)
        .select(id_col, "term", "term_bucket")
    )
    dterms = delta.select("term", "term_bucket").distinct()
    # seed-side df for the delta terms only: bucket prune + term semi
    # (a delta-only store — the door's bootstrap — has no seed epoch:
    # df_seed = 0, n_seed = 0, drift measured from the empty index)
    buckets = dterms.select("term_bucket").distinct()
    seed_post = None
    if store.exists(spark, f"{path}/postings"):
        seed_post = (
            spark.read.parquet(f"{path}/postings")
            .join(F.broadcast(buckets), "term_bucket")
            .join(F.broadcast(dterms.select("term")), "term", "leftsemi")
            .select(id_col, "term")
        )
        df_s = seed_post.groupBy("term").agg(
            F.count(F.lit(1)).alias("df_s")
        )
    else:
        df_s = spark.createDataFrame([], "term string, df_s long")
    # delta-side df per term.  Inside a fold's crash window (marker-
    # gated, see _fold_in_progress) leftover delta rows can duplicate
    # their already-folded seed copies — counting them would inflate
    # df_cur ~2x for delta terms and could spuriously re-trigger a
    # fold, so the window's delta docs are anti-joined against the
    # seed postings first.  The clean steady state (disjoint doc ids
    # by contract) skips the anti-join.
    delta_docs = delta.select(id_col, "term")
    if seed_post is not None and _fold_in_progress(spark, path):
        delta_docs = delta_docs.join(
            seed_post, [id_col, "term"], "left_anti"
        )
    df_d = delta_docs.groupBy("term").agg(
        F.countDistinct(id_col).alias("df_d")
    )
    # corpus sizes: seed epoch = the seed stats row; current = + deltas
    if store.exists(spark, f"{path}/stats"):
        st_seed = spark.read.parquet(f"{path}/stats").agg(
            F.sum("n_docs").alias("n_seed")
        )
    else:
        st_seed = spark.range(1).select(
            F.lit(0).cast("long").alias("n_seed")
        )
    st_all = _store_frame(
        spark,
        f"{path}/stats",
        f"{path}/stats_delta",
        ["n_docs"],
        w_mark,
        key="bpart",
    ).agg(F.sum("n_docs").alias("n_cur"))
    idf_micro = lambda n, df: F.floor(  # noqa: E731
        F.log(
            1.0 + (n - df + 0.5) / (df + 0.5)
        )
        * 1e6
        + 0.5
    ).cast("long")
    scored = (
        dterms.select("term")
        .join(df_s, "term", "left")
        .join(df_d, "term", "left")
        .crossJoin(F.broadcast(st_seed))
        .crossJoin(F.broadcast(st_all))
        .select(
            "term",
            F.coalesce(F.col("df_s"), F.lit(0)).alias("df_seed"),
            (
                F.coalesce(F.col("df_s"), F.lit(0))
                + F.coalesce(F.col("df_d"), F.lit(0))
            ).alias("df_cur"),
            F.col("n_seed"),
            F.col("n_cur"),
        )
        # a term absent from the seed has no seed-epoch IDF sample —
        # treat df_seed=0 via the same smoothed formula (well-defined)
        .select(
            "term",
            F.col("df_seed").cast("long").alias("df_seed"),
            F.col("df_cur").cast("long").alias("df_cur"),
            idf_micro(F.col("n_seed"), F.col("df_seed")).alias(
                "idf_seed_micro"
            ),
            idf_micro(F.col("n_cur"), F.col("df_cur")).alias(
                "idf_cur_micro"
            ),
        )
        .withColumn(
            "drift_micro",
            F.abs(F.col("idf_cur_micro") - F.col("idf_seed_micro")),
        )
    )
    top = scored.orderBy(F.col("drift_micro").desc(), "term").limit(top_n)
    w = W.partitionBy(F.col("drift_micro") * F.lit(0)).orderBy(
        F.col("drift_micro").desc(), "term"
    )
    return top.withColumn("rk", F.row_number().over(w).cast("long"))


def bm25_bucket_skew(spark, path: str, id_col: str = "doc_id") -> DataFrame:
    """Postings-bucket-skew monitor: posting rows per ``term_bucket``
    (seed and unfolded delta separately) against the uniform share —
    a hot bucket (skew_micro >> 1e6) means probe pruning for terms in
    it reads disproportionate data and the hash is clumping; the
    companion trigger to bm25_idf_drift for the maintenance fold.
    Dense 0..N_BUCKETS-1 spine so silent empty buckets are visible.
    All integer micro math — replayable in the oracle."""
    w_mark = _folded_upto(spark, path)
    if store.exists(spark, f"{path}/postings"):
        seed = (
            spark.read.parquet(f"{path}/postings")
            .groupBy("term_bucket")
            .agg(F.count(F.lit(1)).alias("seed_rows"))
        )
    else:  # delta-only store (the ingest door's bootstrap)
        seed = spark.createDataFrame([], "term_bucket int, seed_rows long")
    if store.child_ids(spark, f"{path}/postings_delta", "batch_id"):
        delta = (
            spark.read.option("basePath", f"{path}/postings_delta")
            .parquet(f"{path}/postings_delta")
            .filter(F.col("batch_id") > w_mark)
            .groupBy("term_bucket")
            .agg(F.count(F.lit(1)).alias("delta_rows"))
        )
    else:
        delta = spark.createDataFrame(
            [], "term_bucket int, delta_rows long"
        )
    spine = spark.range(N_BUCKETS).select(
        F.col("id").cast("int").alias("term_bucket")
    )
    per = (
        spine.join(seed, "term_bucket", "left")
        .join(delta, "term_bucket", "left")
        .select(
            "term_bucket",
            F.coalesce(F.col("seed_rows"), F.lit(0))
            .cast("long")
            .alias("seed_rows"),
            F.coalesce(F.col("delta_rows"), F.lit(0))
            .cast("long")
            .alias("delta_rows"),
        )
        .withColumn(
            "total_rows", (F.col("seed_rows") + F.col("delta_rows"))
        )
    )
    tot = per.agg(F.sum("total_rows").alias("grand"))
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "term_bucket",
            "seed_rows",
            "delta_rows",
            "total_rows",
            F.when(
                F.col("grand") > 0,
                F.floor(
                    F.lit(1e6) * F.col("total_rows") / F.col("grand")
                    + 0.5
                ),
            )
            .otherwise(F.lit(0))
            .cast("long")
            .alias("share_micro"),
            F.when(
                F.col("grand") > 0,
                F.floor(
                    F.lit(1e6)
                    * F.col("total_rows")
                    * N_BUCKETS
                    / F.col("grand")
                    + 0.5
                ),
            )
            .otherwise(F.lit(0))
            .cast("long")
            .alias("skew_micro"),
        )
        .orderBy("term_bucket")
    )
