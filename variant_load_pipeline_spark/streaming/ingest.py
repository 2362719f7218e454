"""Corpus ingestion at 100 TB: the streaming gates, their composition,
and every store's maintenance job.

* Gates (each a ``foreachBatch`` sink, exactly-once under redelivery):
  ``lsh_ingest_sink`` (dedup vs a persisted LSH index that grows with
  the accepted corpus), ``quality_gate_sink`` (persisted-LR threshold),
  ``decontam_gate_sink`` (benchmark n-gram leakage),
  ``rho_gate_sink`` (RHO selection vs a persisted two-LM model), and
  ``corpus_ingest_sink`` — all gates COMPOSED under one checkpoint
  (decontam -> quality -> RHO -> LSH; dropped docs never enter the
  index), optionally chaining ``epoch_manifest_sink`` (survivors enter
  the training order in the same batch) and the BM25 postings append
  (survivors become lexically searchable at the door —
  ``lex_index_path``).
* Monitors as additive state: ``drift_counts_sink`` + psi_from_counts
  (PSI), ``quality_counts_sink`` + pr_sweep_from_counts (operating-
  point re-pick) — cheap counts on the stream, analytics on the store.
* Maintenance: every store folds its O(batches) partitions —
  ``compact_lsh_index`` / ``compact_kept`` / ``compact_epoch_manifest``
  (training order preserved bit-for-bit) / ``compact_quality_counts`` /
  ``compact_drift_counts`` (origin-batch dedup, never double-counts) —
  each with ``mode='tier'`` for O(delta) folds (LSM tiering), swapped
  in by the store.py protocol.

The founding gate, dedup-at-ingest: each arriving micro-batch of
documents is matched against a PERSISTED LSH index, non-duplicates
append to the kept corpus, and the survivors' bands/shingles append to
the index — so later batches dedup against everything accepted before
them.  The corpus is never re-signed (operators.dedup.write_lsh_index
economics) and the ingest is exactly-once under checkpoint-replay
redelivery:

* every write is an overwrite of the batch's OWN deterministic
  ``ingest_batch=<id>`` partition (the idempotent_batch_sink recipe from
  streaming.events:431);
* the match EXCLUDES the current batch id's index partition, so a
  redelivered batch never matches its own first-attempt write and
  silently drops everything (the self-match hazard idempotent appends
  alone don't cover).

Index layout (shared with operators.dedup.match_lsh_index readers):
``<index>/bands/ingest_batch=<id>/`` and
``<index>/shingles/ingest_batch=<id>/``; the seed corpus loads as
partition ``ingest_batch=-1``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import store
from ..operators.dedup import (
    _banded_from_hashes,
    _shingle_hash_table,
    match_lsh_frames,
)


def seed_lsh_ingest(
    corpus: DataFrame,
    index_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 16,
    bands: int = 4,
    shingle_k: int = 3,
) -> None:
    """Seed the ingest index with an existing corpus (partition -1)."""
    from pyspark.storagelevel import StorageLevel

    sh = _shingle_hash_table(corpus, text_col, id_col, shingle_k).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    _banded_from_hashes(sh, id_col, n_hashes, bands).write.mode(
        "overwrite"
    ).parquet(f"{index_path}/bands/ingest_batch=-1")
    sh.select(id_col, "sh").write.mode("overwrite").parquet(
        f"{index_path}/shingles/ingest_batch=-1"
    )
    sh.unpersist()


def lsh_ingest_sink(
    spark,
    index_path: str,
    kept_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 16,
    bands: int = 4,
    shingle_k: int = 3,
    threshold: float = 0.8,
):
    """Build the ``foreachBatch`` sink.  Per micro-batch:

    1. exact within-batch dedup (min-id survivor per normalized-text
       fingerprint — a batch can repeat its own documents);
    2. LSH match against every index partition EXCEPT this batch's own
       (redelivery self-match guard);
    3. survivors overwrite ``kept/ingest_batch=<id>`` and their
       bands/shingles overwrite the matching index partitions.

    Within-batch NEAR-duplicates (two novel docs similar to each other
    arriving together) intentionally both survive — run the batch
    `near_dup_pairs` pass downstream if that matters; folding it in here
    would make accept/reject order-dependent inside a batch.

    Use::

        stream.writeStream.foreachBatch(
            lsh_ingest_sink(spark, idx, kept)
        ).option("checkpointLocation", ckpt).start()
    """
    from ..functions.text import normalize_text

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.sql.window import Window as W

        w = W.partitionBy(F.md5(normalize_text(F.col(text_col)))).orderBy(
            F.col(id_col)
        )
        batch = (
            batch_df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
        corpus_bands = (
            spark.read.option("basePath", f"{index_path}/bands")
            .parquet(f"{index_path}/bands")
            .filter(F.col("ingest_batch") != batch_id)
            .select(F.col(id_col).alias("corpus_id"), "band_idx", "band_hash")
        )
        corpus_sh = (
            spark.read.option("basePath", f"{index_path}/shingles")
            .parquet(f"{index_path}/shingles")
            .filter(F.col("ingest_batch") != batch_id)
            .select(F.col(id_col).alias("corpus_id"), F.col("sh").alias("sh_c"))
        )
        dup_ids = (
            match_lsh_frames(
                corpus_bands,
                corpus_sh,
                batch,
                text_col=text_col,
                id_col=id_col,
                n_hashes=n_hashes,
                bands=bands,
                shingle_k=shingle_k,
                threshold=threshold,
            )
            # Self-match guard #2 (doc-identity): doc ids are globally
            # unique, so a pair whose two sides are the SAME doc can only
            # be this batch's own prior write seen through a partition
            # that no longer carries its batch id (e.g. after
            # compact_lsh_index folded it into a seed generation).  The
            # partition-exclusion guard above cannot catch that case;
            # without this filter a redelivered-after-compaction batch
            # would self-match at jaccard 1.0 and silently drop itself.
            .filter(F.col("batch_id") != F.col("corpus_id"))
            .select(F.col("batch_id").alias(id_col))
            .distinct()
        )
        keep = batch.join(dup_ids, id_col, "left_anti").localCheckpoint(
            eager=True
        )
        keep.write.mode("overwrite").parquet(
            f"{kept_path}/ingest_batch={batch_id}"
        )
        sh = _shingle_hash_table(keep, text_col, id_col, shingle_k)
        _banded_from_hashes(sh, id_col, n_hashes, bands).write.mode(
            "overwrite"
        ).parquet(f"{index_path}/bands/ingest_batch={batch_id}")
        sh.select(id_col, "sh").write.mode("overwrite").parquet(
            f"{index_path}/shingles/ingest_batch={batch_id}"
        )

    return sink


def read_kept(spark, kept_path: str) -> DataFrame:
    """The accepted corpus across all ingest batches (partition
    discovery provides ``ingest_batch`` for lineage)."""
    return spark.read.option("basePath", kept_path).parquet(kept_path)


def read_kept_asof(
    spark, kept_path: str, fold: int, id_col: str = "doc_id"
) -> DataFrame:
    """Time-travel read of the kept corpus AS OF tier fold ``fold``
    (1 = after the first fold): under ``compact_kept(mode='tier')`` the
    store is an LSM — each fold writes ONE new generation partition and
    leaves older generations' files byte-identical — so the corpus
    state at fold k is exactly the union of the k OLDEST generations,
    and this reader is ONE partition-pruned range filter over
    ``ingest_batch``: no snapshot copies, no manifest beyond the
    directory layout.

    Rows are deduped on ``id_col``: the documented tier-fold crash
    window can leave a folded batch's rows in both a generation and a
    leftover batch partition, and the per-generation filter must give
    exactly-once rows regardless (same contract compact_kept documents
    for current-state readers).

    Only meaningful under tier folds — a ``mode='full'`` fold collapses
    every generation into one, deliberately erasing history (run full
    folds when history retention is no longer needed, exactly the
    LSM major-compaction trade).

    Generation ids are an implementation detail (folds allocate
    strictly decreasing negatives, but the seed generation's slot means
    they need not start at -1), so the fold ordinal maps to ids by
    LISTING the store's generations and cutting at the k-th oldest —
    a driver-side directory listing bounded by the number of folds,
    the same O(generations) cost every tier reader already pays at
    partition discovery.
    """
    if fold < 1:
        raise ValueError(f"fold must be >= 1, got {fold}")
    # creation order: generation ids strictly decrease over time
    gens = [
        g
        for g in reversed(store.child_ids(spark, kept_path, "ingest_batch"))
        if g < 0
    ]
    if fold > len(gens):
        raise ValueError(
            f"store has {len(gens)} generations, asked for fold {fold}"
        )
    cutoff = gens[fold - 1]
    return (
        read_kept(spark, kept_path)
        .filter(
            (F.col("ingest_batch") < 0)
            & (F.col("ingest_batch") >= cutoff)
        )
        .dropDuplicates([id_col])
    )


def quality_gate_sink(
    spark,
    model_path: str,
    kept_path: str,
    threshold_micro: int = 500_000,
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """Quality-gate-at-ingest: score each arriving micro-batch with the
    PERSISTED logistic-regression model (operators.quality) and keep only
    docs at or above the sigmoid threshold.

    The model trains once (operators.quality.lr_train ->
    write_quality_model) and every batch reuses it — scoring is a
    broadcast 64-row weight join + per-doc sum, so the gate adds no
    shuffle beyond the batch's own feature explode.  Writes are
    idempotent per-batch partition overwrites (kept/ingest_batch=<id>),
    the same exactly-once-under-redelivery recipe as lsh_ingest_sink;
    unlike the dedup gate there is no index growth, so redelivery needs
    no self-match guard.

    The batch twin is lr_score over the same frame with the same loaded
    weights — the stream==batch equivalence tests assert identical keep
    sets.
    """
    from ..operators.quality import (
        hashed_features,
        lr_score,
        read_quality_model,
    )

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        w = read_quality_model(spark, model_path)
        x = hashed_features(
            batch_df, text_col=text_col, id_col=id_col, label=F.lit(0)
        )
        keep_ids = (
            lr_score(x, w)
            .filter(F.col("score_micro") >= threshold_micro)
            .select(F.col("doc_id").alias(id_col))
        )
        keep = batch_df.join(keep_ids, id_col, "leftsemi").localCheckpoint(
            eager=True
        )
        keep.write.mode("overwrite").parquet(
            f"{kept_path}/ingest_batch={batch_id}"
        )

    return sink


def write_benchmark_grams(
    bench_docs: DataFrame,
    path: str,
    text_col: str = "text",
    k: int = 4,
) -> None:
    """Persist the benchmark word n-gram set ONCE — the decontamination
    index (the build-once/query-many split applied to eval-leakage
    filtering: benchmarks change rarely; the corpus arrives forever)."""
    from ..functions.text import word_ngrams

    (
        bench_docs.select(
            F.explode(word_ngrams(F.col(text_col), k)).alias("gram")
        )
        .distinct()
        .write.mode("overwrite")
        .parquet(path)
    )


def decontam_gate_sink(
    spark,
    grams_path: str,
    kept_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 4,
):
    """Decontamination-at-ingest — the third streaming gate (after the
    dedup and quality gates): each arriving micro-batch's docs are
    n-grammed and any doc sharing a gram with the PERSISTED benchmark
    set (write_benchmark_grams) is dropped before it can enter the
    training corpus — eval leakage filtered at the door instead of by a
    full-corpus sweep later.

    Plan per batch: gram the batch, map-side semi join against the
    broadcast benchmark gram set (benchmarks are dimension-sized by
    construction — the batch decontaminate query's own stance), anti
    join the contaminated ids out, idempotent per-batch partition
    overwrite (kept/ingest_batch=<id>, the quality_gate_sink recipe) —
    exactly-once under redelivery; membership depends only on the doc's
    own text, so a replay cannot change any verdict.

    The batch twin is the `decontaminate` query's n_shared_grams == 0
    selection over the same frame — the stream==batch equivalence test
    asserts identical keep sets.
    """
    from ..functions.text import word_ngrams

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        grams = spark.read.parquet(grams_path)
        bg = batch_df.select(
            F.col(id_col),
            F.explode(word_ngrams(F.col(text_col), k)).alias("gram"),
        )
        dirty = (
            bg.join(F.broadcast(grams), "gram", "leftsemi")
            .select(id_col)
            .distinct()
        )
        keep = batch_df.join(dirty, id_col, "left_anti").localCheckpoint(
            eager=True
        )
        keep.write.mode("overwrite").parquet(
            f"{kept_path}/ingest_batch={batch_id}"
        )

    return sink


RHO_VOCAB_BUCKETS = 64


def write_rho_model(
    docs: DataFrame,
    path: str,
    pool_pred=None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> None:
    """Persist the RHO two-LM model ONCE (the build-once/query-many
    split applied to data selection): the combined vocabulary table
    (term, cw_pool, cw_ref) from one conditional aggregation plus the
    1-row (N, V)×2 constants — functions.text.rho_excess's model half,
    frozen to parquet so ingest batches score against a FIXED selector
    instead of re-deriving LMs per batch (RHO's reference model is
    trained once on holdout data by construction — Mindermann et al.
    2022, public).

    The vocabulary is partitioned by ``vbucket = shingle_hash(term) %
    RHO_VOCAB_BUCKETS`` (the BM25 postings recipe, operators/lexical):
    the vocabulary is exactly the model half that CANNOT broadcast at
    trillion-token scale, so per-batch scoring prunes the model scan to
    the buckets the batch's terms actually hash into (PartitionFilters)
    instead of re-shuffling the whole vocab every micro-batch."""
    from ..functions.text import normalize_text, shingle_hash

    if pool_pred is None:
        pool_pred = F.col(id_col) % 2 == 0
    toks = docs.select(
        F.col(id_col),
        F.explode(
            F.split(
                normalize_text(F.coalesce(F.col(text_col), F.lit(""))), " "
            )
        ).alias("term"),
    ).filter(F.col("term") != "")
    vocab = toks.groupBy("term").agg(
        F.sum(F.when(pool_pred, 1).otherwise(0)).alias("cw_p"),
        F.sum(F.when(pool_pred, 0).otherwise(1)).alias("cw_r"),
    )
    consts = vocab.agg(
        F.sum("cw_p").alias("np"),
        F.sum(F.when(F.col("cw_p") > 0, 1).otherwise(0)).alias("vp"),
        F.sum("cw_r").alias("nr"),
        F.sum(F.when(F.col("cw_r") > 0, 1).otherwise(0)).alias("vr"),
    )
    vocab.withColumn(
        "vbucket",
        (shingle_hash(F.col("term")) % RHO_VOCAB_BUCKETS).cast("int"),
    ).write.mode("overwrite").partitionBy("vbucket").parquet(
        f"{path}/vocab"
    )
    consts.write.mode("overwrite").parquet(f"{path}/consts")


def load_rho_model(spark, model_path: str) -> tuple[DataFrame, DataFrame]:
    """Load the persisted two-LM model ONCE — (vocab, consts) frames
    for rho_score_model.  Gates hoist this out of their per-batch sink
    bodies so a long-running stream plans against the same loaded
    frames instead of re-listing the model parquet every micro-batch."""
    return (
        spark.read.parquet(f"{model_path}/vocab"),
        spark.read.parquet(f"{model_path}/consts"),
    )


def rho_score_model(
    vocab: DataFrame,
    consts: DataFrame,
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    prune_buckets: bool = False,
) -> DataFrame:
    """Score documents against LOADED RHO model frames: excess_micro =
    pool-LM surprisal − reference-LM surprisal in exact micro-nats
    (rho_excess's scoring half).  Terms the model never saw contribute
    the constant OOV excess ln((np+vp)/(nr+vr)) per occurrence —
    deterministic, so a doc's verdict depends only on its own text and
    the frozen model, never on batch boundaries.  Docs whose normalized
    text tokenizes to NOTHING emit no row (their excess is vacuously
    zero — gates coalesce accordingly).  Output: (id, n_tokens,
    excess_micro).

    ``prune_buckets=True`` (the per-batch gate path, against a
    bucket-partitioned vocab from write_rho_model): collect the
    DISTINCT term-hash buckets the batch touches — bounded by
    RHO_VOCAB_BUCKETS, model-shaped state, one tiny aggregate over the
    batch's own tf — and filter the vocab scan to them, which lands in
    PartitionFilters (pinned by test).  Leave False for full-corpus
    scoring (every bucket is touched; the probe job would be pure
    overhead)."""
    from ..functions.text import normalize_text, shingle_hash

    tf = (
        df.select(
            F.col(id_col),
            F.explode(
                F.split(
                    normalize_text(F.coalesce(F.col(text_col), F.lit(""))),
                    " ",
                )
            ).alias("term"),
        )
        .filter(F.col("term") != "")
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    if prune_buckets and "vbucket" in vocab.columns:
        tf = tf.localCheckpoint(eager=True)  # one tokenize, reused below
        buckets = sorted(
            r["b"]
            for r in tf.select(
                (shingle_hash(F.col("term")) % RHO_VOCAB_BUCKETS)
                .cast("int")
                .alias("b")
            )
            .distinct()
            .collect()
        )
        vocab = vocab.filter(F.col("vbucket").isin(buckets))
    s_pool = F.floor(
        -F.log(
            (F.coalesce(F.col("cw_p"), F.lit(0)) + 1.0)
            / (F.col("np") + F.col("vp"))
        )
        * 1e6
        + 0.5
    ).cast("long")
    s_ref = F.floor(
        -F.log(
            (F.coalesce(F.col("cw_r"), F.lit(0)) + 1.0)
            / (F.col("nr") + F.col("vr"))
        )
        * 1e6
        + 0.5
    ).cast("long")
    return (
        tf.join(vocab.select("term", "cw_p", "cw_r"), "term", "left")
        .crossJoin(F.broadcast(consts))
        .groupBy(id_col)
        .agg(
            F.sum("tf").cast("long").alias("n_tokens"),
            F.sum(F.col("tf") * (s_pool - s_ref)).alias("excess_micro"),
        )
    )


def rho_score_persisted(
    spark,
    model_path: str,
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Score documents against the PERSISTED RHO model — load + score
    in one call (rho_score_model over load_rho_model's frames, no
    bucket pruning: the full-corpus scoring path touches every bucket
    anyway).  Terms the model never saw contribute the constant OOV
    excess ln((np+vp)/(nr+vr)) per occurrence.  Output: (id, n_tokens,
    excess_micro)."""
    vocab, consts = load_rho_model(spark, model_path)
    return rho_score_model(
        vocab, consts, df, text_col=text_col, id_col=id_col
    )


def rho_gate_sink(
    spark,
    model_path: str,
    kept_path: str,
    min_excess_micro: int = 0,
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """RHO selection-at-ingest — the FOURTH streaming gate (after dedup,
    quality, decontamination): each arriving micro-batch is scored
    against the persisted two-LM model (write_rho_model) and only docs
    with reducible holdout loss at or above ``min_excess_micro`` enter
    the corpus — 'learnable, worth learning, not yet learnt' applied at
    the door, the online form of rho_loss_selection's batch top-b.

    Plan per batch: one tokenize, one term-keyed join against the model
    vocabulary PRUNED to the batch's term-hash buckets (the vocab is
    what can't broadcast at scale — write_rho_model partitions it by
    vbucket and rho_score_model's prune lands in PartitionFilters), the
    1-row constants broadcast.  The model frames are loaded ONCE when
    the sink is built, not re-read per micro-batch.  Writes are
    idempotent per-batch partition overwrites (kept/ingest_batch=<id>);
    a doc's verdict depends only on its own text and the frozen model,
    so redelivery cannot change it and the keep set is invariant to how
    the stream is micro-batched — the stream==batch equivalence the
    gate tests pin.

    Token-less docs (normalized text empty) have NO score row; their
    excess is vacuously zero, so the gate drops only docs that SCORED
    below the threshold — a token-less doc passes iff
    ``min_excess_micro <= 0``, exactly the coalesce-to-0 semantics of
    the 'keep >= min_excess_micro' contract.
    """
    vocab, consts = load_rho_model(spark, model_path)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        drop_ids = (
            rho_score_model(
                vocab, consts, batch_df, text_col=text_col,
                id_col=id_col, prune_buckets=True,
            )
            .filter(F.col("excess_micro") < min_excess_micro)
            .select(id_col)
        )
        keep = batch_df.join(drop_ids, id_col, "left_anti")
        if min_excess_micro > 0:
            # above zero, an unscored (token-less) doc cannot clear the
            # threshold — coalesce(excess, 0) >= min fails
            from ..functions.text import normalize_text

            keep = keep.filter(
                F.trim(
                    normalize_text(F.coalesce(F.col(text_col), F.lit("")))
                )
                != ""
            )
        keep = keep.localCheckpoint(eager=True)
        keep.write.mode("overwrite").parquet(
            f"{kept_path}/ingest_batch={batch_id}"
        )

    return sink


def corpus_ingest_sink(
    spark,
    index_path: str,
    kept_path: str,
    grams_path: str | None = None,
    model_path: str | None = None,
    threshold_micro: int = 500_000,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 16,
    bands: int = 4,
    shingle_k: int = 3,
    threshold: float = 0.8,
    gram_k: int = 4,
    manifest_path: str | None = None,
    epochs: int = 3,
    shards: int = 8,
    rho_model_path: str | None = None,
    min_excess_micro: int = 0,
    lex_index_path: str | None = None,
):
    """The COMPOSED production ingest door: the streaming gates —
    decontamination, quality, RHO selection (optional), LSH near-dup —
    run over each micro-batch in ONE ``foreachBatch`` under ONE
    checkpoint, in cost order:

    1. within-batch exact dedup (min-id survivor per normalized-text
       fingerprint — free relative to everything below);
    2. decontamination gate (``grams_path``, write_benchmark_grams):
       broadcast benchmark-gram semi join — the cheapest verdict, so it
       thins the batch before anything heavier runs;
    3. quality gate (``model_path``, write_quality_model): broadcast
       64-row weight join + per-doc score, keep >= ``threshold_micro``;
    3b. RHO selection gate (``rho_model_path``, write_rho_model): score
       reducible holdout loss against the persisted two-LM model, keep
       >= ``min_excess_micro`` — heavier than the quality gate (the LM
       vocabulary joins on the term, it can't broadcast at scale), so
       it runs after quality thins the batch but before the index-
       touching dedup gate;
    4. LSH near-dup match against every index partition EXCEPT this
       batch's own (the lsh_ingest_sink redelivery self-match guard,
       doc-identity guard included) — the only gate that touches the
       persisted index, fed the already-thinned batch.

    Only FINAL survivors write: ``kept/ingest_batch=<id>`` and their
    bands/shingles into the index's matching partitions — so a doc
    dropped by an earlier gate NEVER enters the LSH index (the
    composition-order semantics a production ingest needs: a
    quality-rejected doc must not later suppress a clean near-duplicate
    of itself).  Every write is an idempotent per-batch partition
    overwrite; decontam/quality verdicts depend only on the doc's own
    text and the persisted artifacts, and the dedup gate carries the
    solo sink's two redelivery guards — the composition stays
    exactly-once under checkpoint-replay.

    ``grams_path`` / ``model_path`` of None skip that gate (the sink
    degrades to the solo ones); equivalence with the composed BATCH
    chain (decontaminate-clean ∧ quality-keep ∧ dedup-keep) is pinned
    by test.  Operable via the ``CorpusIngest`` CLI tool.

    ``manifest_path`` chains the fourth sink: survivors' epoch-manifest
    rows (epoch_manifest_sink — idempotent, order-preserving) emit in
    the same batch, so an accepted doc enters the TRAINING ORDER the
    moment it clears the door — ingest-to-training-order end to end
    under one checkpoint.

    ``lex_index_path`` chains the fifth: FINAL survivors' postings
    append into the persisted BM25 index (operators.lexical.
    append_bm25_batch) in the same batch, so a kept doc becomes
    LEXICALLY SEARCHABLE at the door — symmetric with the LSH band
    writes, and a doc any earlier gate dropped never enters the
    postings (pinned by the composition test).  The append's
    disjoint-doc_id precondition holds by construction here: the door
    admits each unique doc once (the dedup gates), and redelivery
    overwrites the batch's own partitions.  Fold the accumulated
    deltas with compact_bm25_index / ``CorpusLexIndex --compact`` when
    the bm25_idf_drift / bm25_bucket_skew monitors trigger.

    Use::

        stream.writeStream.foreachBatch(
            corpus_ingest_sink(spark, idx, kept, grams, model)
        ).option("checkpointLocation", ckpt).start()
    """
    from ..functions.text import normalize_text, word_ngrams
    from ..operators.quality import (
        hashed_features,
        lr_score,
        read_quality_model,
    )

    # persisted-model frames load ONCE at sink construction — a
    # long-running stream must not re-list model parquet per batch
    rho_vocab = rho_consts = None
    if rho_model_path is not None:
        rho_vocab, rho_consts = load_rho_model(spark, rho_model_path)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.sql.window import Window as W

        # gate 0: within-batch exact dedup (the lsh_ingest_sink step)
        w = W.partitionBy(F.md5(normalize_text(F.col(text_col)))).orderBy(
            F.col(id_col)
        )
        batch = (
            batch_df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
        # gate 1: decontamination (broadcast benchmark grams)
        if grams_path is not None:
            grams = spark.read.parquet(grams_path)
            bg = batch.select(
                F.col(id_col),
                F.explode(word_ngrams(F.col(text_col), gram_k)).alias(
                    "gram"
                ),
            )
            dirty = (
                bg.join(F.broadcast(grams), "gram", "leftsemi")
                .select(id_col)
                .distinct()
            )
            batch = batch.join(dirty, id_col, "left_anti")
        # gate 2: quality (broadcast persisted weights)
        if model_path is not None:
            wts = read_quality_model(spark, model_path)
            x = hashed_features(
                batch, text_col=text_col, id_col=id_col, label=F.lit(0)
            )
            keep_ids = (
                lr_score(x, wts)
                .filter(F.col("score_micro") >= threshold_micro)
                .select(F.col("doc_id").alias(id_col))
            )
            batch = batch.join(keep_ids, id_col, "leftsemi")
        # gate 3b: RHO selection (persisted two-LM model; term-keyed
        # join against the vocab PRUNED to the batch's term buckets —
        # after quality thins the batch, before the index probe).
        # Token-less docs have no score row = excess vacuously 0, so
        # only docs scoring BELOW the threshold drop (rho_gate_sink's
        # coalesce-to-0 contract)
        if rho_model_path is not None:
            drop_ids = (
                rho_score_model(
                    rho_vocab, rho_consts, batch, text_col=text_col,
                    id_col=id_col, prune_buckets=True,
                )
                .filter(F.col("excess_micro") < min_excess_micro)
                .select(id_col)
            )
            batch = batch.join(drop_ids, id_col, "left_anti")
            if min_excess_micro > 0:
                batch = batch.filter(
                    F.trim(
                        normalize_text(
                            F.coalesce(F.col(text_col), F.lit(""))
                        )
                    )
                    != ""
                )
        # gate 3: LSH near-dup vs the persisted index (both redelivery
        # guards of lsh_ingest_sink: partition exclusion + doc identity)
        corpus_bands = (
            spark.read.option("basePath", f"{index_path}/bands")
            .parquet(f"{index_path}/bands")
            .filter(F.col("ingest_batch") != batch_id)
            .select(F.col(id_col).alias("corpus_id"), "band_idx", "band_hash")
        )
        corpus_sh = (
            spark.read.option("basePath", f"{index_path}/shingles")
            .parquet(f"{index_path}/shingles")
            .filter(F.col("ingest_batch") != batch_id)
            .select(F.col(id_col).alias("corpus_id"), F.col("sh").alias("sh_c"))
        )
        dup_ids = (
            match_lsh_frames(
                corpus_bands,
                corpus_sh,
                batch,
                text_col=text_col,
                id_col=id_col,
                n_hashes=n_hashes,
                bands=bands,
                shingle_k=shingle_k,
                threshold=threshold,
            )
            .filter(F.col("batch_id") != F.col("corpus_id"))
            .select(F.col("batch_id").alias(id_col))
            .distinct()
        )
        keep = batch.join(dup_ids, id_col, "left_anti").localCheckpoint(
            eager=True
        )
        # survivors only: kept corpus first, then THEIR index rows
        keep.write.mode("overwrite").parquet(
            f"{kept_path}/ingest_batch={batch_id}"
        )
        sh = _shingle_hash_table(keep, text_col, id_col, shingle_k)
        _banded_from_hashes(sh, id_col, n_hashes, bands).write.mode(
            "overwrite"
        ).parquet(f"{index_path}/bands/ingest_batch={batch_id}")
        sh.select(id_col, "sh").write.mode("overwrite").parquet(
            f"{index_path}/shingles/ingest_batch={batch_id}"
        )
        # the fourth sink, chained: survivors enter the training order
        # in the same batch (keep is already checkpointed — the
        # manifest derivation never replays the gates)
        if manifest_path is not None:
            epoch_manifest_sink(
                spark, manifest_path, epochs=epochs, shards=shards,
                id_col=id_col,
            )(keep, batch_id)
        # the fifth, chained: survivors become lexically searchable in
        # the same batch (idempotent per-batch partitions; a dropped
        # doc never reaches the postings)
        if lex_index_path is not None:
            from ..operators.lexical import append_bm25_batch

            append_bm25_batch(
                keep, lex_index_path, batch_id,
                text_col=text_col, id_col=id_col,
            )

    return sink


def drift_counts_sink(
    spark,
    counts_path: str,
    bin_width: float = 50.0,
    n_bins: int = 10,
):
    """Drift-monitor-at-ingest: each arriving event micro-batch's value
    distribution is binned (fixed-width, engine-portable) and appended to
    a persisted (event_type, week, bin) count store as the batch's OWN
    idempotent partition — redelivery overwrites, never double-counts.

    PSI is then a pure BATCH query over the store (psi_from_counts),
    so the expensive statistic never runs inside the hot ingest path and
    any window pair can be compared after the fact.  This is the
    standard split for production monitors: cheap additive state on the
    stream, analytics on the store.
    """

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        binned = (
            batch_df.select(
                "event_type",
                F.date_trunc("week", F.col("ts")).alias("wk"),
                F.least(
                    F.floor(F.col("value") / bin_width).cast("int"),
                    F.lit(n_bins - 1),
                ).alias("bin"),
            )
            .groupBy("event_type", "wk", "bin")
            .agg(F.count(F.lit(1)).alias("c"))
            # origin batch as DATA so compact_drift_counts can dedup a
            # crash-leftover duplicate partition instead of double-
            # counting it (see compact_quality_counts)
            .withColumn("src_batch", F.lit(int(batch_id)).cast("long"))
        )
        binned.write.mode("overwrite").parquet(
            f"{counts_path}/ingest_batch={batch_id}"
        )

    return sink


def compact_drift_counts(
    spark, counts_path: str, upto_batch_id: int, mode: str = "full"
) -> int:
    """Fold the drift-monitor count store's committed batch partitions
    into a generation, deduping crash leftovers on the origin batch key
    (src_batch, event_type, wk, bin) — see compact_quality_counts for
    why additive counts need the origin id (and for the loud
    src_batch-presence guard).  psi_from_counts applies the same
    reader-side dedup."""
    _require_src_batch(spark, counts_path)
    return _fold_ingest_partitions(
        spark,
        counts_path,
        upto_batch_id,
        dedup_cols=["src_batch", "event_type", "wk", "bin"],
        mode=mode,
    )


def psi_from_counts(spark, counts_path: str, n_bins: int = 10) -> DataFrame:
    """Week-over-week PSI from the accumulated count store — identical
    math to the events_psi_drift batch query (dense bin spine, add-one
    smoothing, micro-rounded terms), but over counts that arrived
    incrementally across any number of micro-batches."""
    from pyspark.sql.window import Window as W

    raw = spark.read.option("basePath", counts_path).parquet(counts_path)
    # reader-side exactly-once under compaction-crash leftovers (see
    # pr_sweep_from_counts): identical rows per origin batch dedup away
    if "src_batch" in raw.columns:
        raw = raw.dropDuplicates(["src_batch", "event_type", "wk", "bin"])
    cnt = raw.groupBy("event_type", "wk", "bin").agg(F.sum("c").alias("c"))
    weeks = cnt.select("event_type", "wk").distinct()
    spine = weeks.select(
        "event_type", "wk",
        F.explode(F.sequence(F.lit(0), F.lit(n_bins - 1))).alias("bin"),
    )
    filled = (
        spine.join(cnt, ["event_type", "wk", "bin"], "left")
        .withColumn("c", F.coalesce(F.col("c"), F.lit(0)))
        .withColumn("n", F.sum("c").over(W.partitionBy("event_type", "wk")))
    )
    cur = filled.select(
        "event_type", "wk", "bin",
        F.col("c").alias("cc"), F.col("n").alias("cn"),
    )
    prv = filled.select(
        "event_type",
        (F.col("wk") + F.expr("INTERVAL 7 DAYS")).alias("wk"),
        "bin",
        F.col("c").alias("pc"), F.col("n").alias("pn"),
    )
    p = (F.col("cc") + 1.0) / (F.col("cn") + n_bins)
    q = (F.col("pc") + 1.0) / (F.col("pn") + n_bins)
    pairs = cur.join(prv, ["event_type", "wk", "bin"]).select(
        "event_type", "wk",
        F.floor((p - q) * F.log(p / q) * 1e6 + 0.5).cast("long")
        .alias("term_micro"),
    )
    return pairs.groupBy(
        "event_type",
        F.date_format("wk", "yyyy-MM-dd").alias("week_start"),
    ).agg(F.sum("term_micro").cast("long").alias("psi_micro"))


def quality_counts_sink(
    spark,
    model_path: str,
    counts_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """Operating-point-monitor-at-ingest — the drift_counts_sink split
    applied to the classifier's PR sweep: each arriving micro-batch is
    scored with the PERSISTED model (read_quality_model; labels = the
    curated-source membership hashed_features derives) and reduced to at
    most 20 ADDITIVE cells — (score decile bucket, label) counts —
    appended as the batch's own idempotent ``ingest_batch=<id>``
    partition (redelivery overwrites, never double-counts; a doc's
    (bucket, label) depends only on its text and the frozen model, so a
    replay cannot move a count either).

    The expensive sweep never runs in the hot ingest path:
    ``pr_sweep_from_counts`` re-picks the operating point from the
    accumulated store whenever curation wants to re-cut the corpus —
    exactly the additive-state-on-the-stream / analytics-on-the-store
    split of drift_counts_sink + psi_from_counts.

    Bucket b holds scores in [b*1e5, (b+1)*1e5) with the top bucket
    closed at 1e6, so a threshold t*1e5 (t = 1..9, quality_pr_sweep's
    grid) is hit by exactly the buckets >= t — the cumulative sums
    reconstruct tp/fp/fn without per-doc state.
    """
    from ..operators.quality import (
        hashed_features,
        lr_score,
        read_quality_model,
    )

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        w = read_quality_model(spark, model_path)
        x = hashed_features(batch_df, text_col=text_col, id_col=id_col)
        counts = (
            lr_score(x, w)
            .select(
                F.least(
                    F.floor(F.col("score_micro") / 100_000), F.lit(9)
                )
                .cast("int")
                .alias("bucket"),
                F.col("label").cast("int").alias("label"),
            )
            .groupBy("bucket", "label")
            .agg(F.count(F.lit(1)).alias("c"))
            # origin batch as DATA (the epoch_manifest_sink src_batch
            # trick): counts per (batch, key) are deterministic, so the
            # compaction fold can dedup crash-leftover duplicates on
            # (src_batch, keys) instead of double-counting them
            .withColumn("src_batch", F.lit(int(batch_id)).cast("long"))
        )
        counts.write.mode("overwrite").parquet(
            f"{counts_path}/ingest_batch={batch_id}"
        )

    return sink


def compact_quality_counts(
    spark, counts_path: str, upto_batch_id: int, mode: str = "full"
) -> int:
    """Fold the PR-sweep count store's committed batch partitions into a
    generation — additive counts CANNOT ride the plain generation fold
    (a crash between the rename and the source deletes would leave both
    copies and every reader would double-count), so rows carry their
    origin batch id (``src_batch``) and the fold dedups on
    (src_batch, bucket, label): counts per origin batch are
    deterministic, duplicate rows are bit-identical, and a re-fold
    converges to exactly-once sums.  Readers (pr_sweep_from_counts)
    apply the same (src_batch, keys) dedup, so even the crash WINDOW
    (both copies on disk) reads exactly-once.  ``mode='tier'`` as in
    compact_lsh_index.  Requires a store whose rows carry ``src_batch``
    (every partition this repo's sinks write does; a store missing the
    column fails loudly here rather than folding wrong)."""
    _require_src_batch(spark, counts_path)
    return _fold_ingest_partitions(
        spark,
        counts_path,
        upto_batch_id,
        dedup_cols=["src_batch", "bucket", "label"],
        mode=mode,
    )


def _require_src_batch(spark, counts_path: str) -> None:
    if "src_batch" not in spark.read.option(
        "basePath", counts_path
    ).parquet(counts_path).columns:
        raise ValueError(
            f"count store at {counts_path} lacks the src_batch column "
            "(written by a pre-src_batch sink?) — folding it would "
            "collapse distinct batches' counts; rewrite the store first"
        )


def pr_sweep_from_counts(spark, counts_path: str) -> DataFrame:
    """Precision / recall / F1 at the nine sigmoid thresholds from the
    accumulated (bucket, label) count store — identical math and
    micro-rounding to the quality_pr_sweep batch query (its oracle gates
    the arithmetic), but over counts that arrived incrementally across
    any number of micro-batches.  The store is <= 20 rows however large
    the corpus grows; the sweep is a 20 x 9 broadcast fan-out + one
    conditional aggregation — O(1) in corpus size, which is the whole
    point of the split."""
    raw = spark.read.option("basePath", counts_path).parquet(counts_path)
    # reader-side exactly-once: a compaction crash can leave a folded
    # batch's rows in BOTH the generation and its original partition;
    # rows are bit-identical per origin batch, so deduping on
    # (src_batch, keys) reads correct sums even inside that window
    # (sinks written before src_batch existed lack the column — fall
    # back to raw, matching their pre-compaction-era behavior)
    if "src_batch" in raw.columns:
        raw = raw.dropDuplicates(["src_batch", "bucket", "label"])
    cnt = raw.groupBy("bucket", "label").agg(F.sum("c").alias("c"))
    thr = spark.range(1, 10).select(
        (F.col("id") * 100_000).cast("long").alias("thr_micro")
    )
    hit = F.col("bucket") * 100_000 >= F.col("thr_micro")
    pos = F.col("label") == 1
    ag = (
        cnt.crossJoin(F.broadcast(thr))
        .groupBy("thr_micro")
        .agg(
            F.sum(F.when(hit & pos, F.col("c")).otherwise(0)).alias("tp"),
            F.sum(F.when(hit & ~pos, F.col("c")).otherwise(0)).alias("fp"),
            F.sum(F.when(~hit & pos, F.col("c")).otherwise(0)).alias("fn"),
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


def compact_lsh_index(
    spark, index_path: str, upto_batch_id: int, mode: str = "full"
) -> int:
    """Fold batch index partitions 0..upto_batch_id plus every existing
    seed generation (``ingest_batch<0``) into ONE fresh seed generation —
    the maintenance job that keeps the ingest index's partition count
    O(1) instead of O(batches).

    ``mode='tier'`` is the O(delta) variant (the compact_ivf_index
    round-10 stance applied here): fold ONLY the committed batch
    partitions into a NEW generation and leave every existing generation
    untouched on disk — each fold costs O(batches-since-last-fold)
    instead of O(index).  Generations then accumulate O(folds); run a
    periodic ``mode='full'`` fold when their count matters (the classic
    LSM tiering split).  Readers are unchanged either way (any
    ``ingest_batch<0`` partition is a generation; lsh_ingest_sink's
    ``!= batch_id`` exclusion never skips them).

    **Contract: ``upto_batch_id`` must be at or below the last batch id
    COMMITTED to the stream's checkpoint.**  Compaction erases batch
    identity, so the partition-exclusion redelivery guard in
    lsh_ingest_sink no longer applies to folded batches.  The doc-id
    self-match filter there still protects each individual doc, but two
    within-batch NEAR-duplicates (both accepted by design on first
    delivery) would cross-match each other's folded rows and both drop
    on a redelivery — only batches the checkpoint guarantees will never
    be redelivered are safe to fold.

    The merged rows go through ``.compact_tmp`` and are swapped in
    (store.py) as a NEW seed generation ``ingest_batch=<g>``, ``g`` =
    (most negative existing generation) - 1; the folded partitions are
    deleted last.  No window ever MISSES index rows: a crash before the
    deletes leaves duplicates, which are harmless (candidates are
    de-duplicated and Jaccard is computed per pair) and which the next
    compaction folds.  Generations are any ``ingest_batch<0``:
    lsh_ingest_sink's ``!= batch_id`` exclusion (batch ids are >= 0)
    always keeps them in the match.

    Returns the number of batch (non-generation) partitions folded.
    """
    folded = 0
    for sub in ("bands", "shingles"):
        folded = max(
            folded,
            _fold_ingest_partitions(
                spark, f"{index_path}/{sub}", upto_batch_id, mode=mode
            ),
        )
    return folded


def _list_ingest_partitions(
    spark, root: str, upto_batch_id: int, mode: str
) -> tuple[list[int], list[int]]:
    """Shared partition listing for every generation fold: returns
    (the ``ingest_batch`` ids to fold, ALL generation ids — including
    the ones a tier fold leaves untouched).  Validates ``mode`` here so
    every fold rejects a typo loudly instead of silently running the
    expensive full path."""
    if mode not in ("full", "tier"):
        raise ValueError(f"mode must be 'full' or 'tier', got {mode!r}")
    ids = store.child_ids(spark, root, "ingest_batch")
    all_gens = [b for b in ids if b < 0]
    # tier: existing generations stay byte-identical
    bids = [
        b for b in ids if 0 <= b <= upto_batch_id or (b < 0 and mode == "full")
    ]
    return bids, all_gens


def _fold_ingest_partitions(
    spark,
    root: str,
    upto_batch_id: int,
    dedup_cols: list[str] | None = None,
    mode: str = "full",
) -> int:
    """The generation-fold shared by compact_lsh_index, compact_kept and
    the count stores: merge every ``ingest_batch=<bid>`` partition under
    ``root`` with bid < 0 (generations) or bid <= upto_batch_id
    (committed batches) into one fresh generation (temp write, then
    ``store.swap`` to the new generation name, then the sources are
    deleted).  With ``dedup_cols``, the merged rows dropDuplicates on
    those columns — required when duplicates in the folded store are
    NOT harmless (the kept corpus), making the fold idempotent across a
    crash during the delete phase.  Returns the number of batch
    partitions folded.

    ``mode='tier'`` folds ONLY committed BATCH partitions (bid >= 0)
    into the new generation and leaves existing generations' files
    untouched — O(delta) per fold, O(folds) generations (LSM tiering);
    with ``dedup_cols``, duplicates ACROSS generations (crash leftovers)
    survive a tier fold and are removed by the next 'full' one — the
    same bounded-staleness window as compact_ivf_index's delete-crash
    case, so readers needing exactly-once rows in that window
    dropDuplicates themselves (the compact_kept contract verbatim)."""
    bids, all_gens = _list_ingest_partitions(
        spark, root, upto_batch_id, mode
    )
    if not bids:
        return 0
    if len(bids) == 1 and bids[0] < 0:
        return 0  # a lone generation is already compact; a lone BATCH
        # partition still folds (it must become a generation, or the
        # redelivery exclusion guard keeps applying to committed rows)
    # the new generation id must clear EVERY existing generation, even
    # the ones a tier fold leaves out of the merge
    new_gen = min([-1] + all_gens) - 1
    parts = [f"{root}/ingest_batch={b}" for b in bids]
    merged = spark.read.parquet(*parts)
    if dedup_cols:
        merged = merged.dropDuplicates(dedup_cols)
    tmp = f"{root}/.compact_tmp"
    # size the generation's file count by INPUT volume (~quarter the
    # folded file count, capped at cluster parallelism) — a fixed
    # parallelism//4 cap packs a 100 TB corpus fold into ~8 files;
    # micro-batch folds still collapse their many tiny files
    n_files = sum(
        1
        for p in parts
        for f, _, _ in store.files(spark, p)
        if f.endswith(".parquet")
    )
    n_out = max(
        1, min(n_files // 4 + 1, spark.sparkContext.defaultParallelism)
    )
    merged.coalesce(n_out).write.mode("overwrite").parquet(tmp)
    store.swap(spark, f"{root}/ingest_batch={new_gen}", tmp)
    store.drop_children(spark, root, bids, "ingest_batch")
    return len([b for b in bids if b >= 0])


def compact_kept(
    spark,
    kept_path: str,
    upto_batch_id: int,
    id_col: str = "doc_id",
    mode: str = "full",
) -> int:
    """Fold the accepted-corpus partitions (``kept/ingest_batch=<id>``,
    one per micro-batch from lsh_ingest_sink) into one generation — the
    same O(batches) -> O(1) maintenance compact_lsh_index gives the
    index, applied to the OUTPUT corpus whose partition-discovery cost
    otherwise grows with every batch.

    **Same contract: ``upto_batch_id`` must be committed to the
    stream's checkpoint** — a folded batch redelivered afterwards would
    overwrite a now-empty partition slot and duplicate its docs.
    Unlike the index (where duplicates are harmless), kept rows are the
    corpus, so the fold dropDuplicates on ``id_col``: a crash between
    the generation rename and the source deletes leaves duplicates that
    the NEXT fold removes, and readers that need exactly-once rows in
    the crash window can dropDuplicates(id_col) themselves.  read_kept
    is unchanged (generations are just ``ingest_batch<0`` partitions).

    ``mode='tier'``: fold only the committed batches into a new
    generation, leaving existing generations' files untouched — O(delta)
    per fold; crash-leftover duplicates across generations survive until
    the next ``mode='full'`` fold (same reader contract as above).
    """
    return _fold_ingest_partitions(
        spark, kept_path, upto_batch_id, dedup_cols=[id_col], mode=mode
    )


def epoch_manifest_sink(
    spark,
    manifest_path: str,
    epochs: int = 3,
    shards: int = 8,
    id_col: str = "doc_id",
):
    """Build the ``foreachBatch`` sink for STREAMING epoch-manifest
    emission: training-data pipelines re-emit shard manifests as the
    kept corpus grows, so each arriving micro-batch of accepted docs
    appends its (epoch, shard, hv, doc_id) rows — the same epoch-seeded
    derivation as plans.export.write_epoch_manifest — under the batch's
    OWN ``ingest_batch=<id>`` partition (idempotent overwrite: a
    checkpoint-replayed batch overwrites itself, never duplicates —
    exactly-once under redelivery, the lsh_ingest_sink recipe; a doc's
    (epoch, shard, hv) depends only on its id, so redelivery cannot
    even move a row).

    Layout: ``manifest/ingest_batch=<b>/epoch=<e>/shard=<s>/`` with each
    group's file pre-sorted on (hv, doc_id) — WITHIN a batch, file order
    is training order, exactly the batch writer's contract; ACROSS
    batches a shard's training order is (ingest_batch, hv, doc_id):
    later-ingested docs train after earlier ones, so an in-progress
    epoch never reshuffles already-served positions.  The accumulated
    manifest equals write_epoch_manifest over the union of all batches
    row-for-row (stream==batch test); read it back with
    read_epoch_manifest (partition discovery adds ingest_batch).

    Use::

        stream.writeStream.foreachBatch(
            epoch_manifest_sink(spark, manifest)
        ).option("checkpointLocation", ckpt).start()
    """
    from ..plans.export import epoch_manifest_rows

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        # src_batch duplicates the partition value as DATA so the
        # compaction fold (compact_epoch_manifest) can keep the global
        # (src_batch, hv, doc_id) training order inside a folded
        # generation file
        out = epoch_manifest_rows(batch_df, epochs, shards, id_col)
        (
            out.withColumn("src_batch", F.lit(int(batch_id)).cast("long"))
            .repartition("epoch", "shard")
            .sortWithinPartitions("epoch", "shard", "hv", "doc_id")
            .write.mode("overwrite")
            .partitionBy("epoch", "shard")
            .parquet(f"{manifest_path}/ingest_batch={batch_id}")
        )

    return sink


_MANIFEST_TIER_BASE = -(1 << 20)


def compact_epoch_manifest(
    spark, manifest_path: str, upto_batch_id: int, mode: str = "full"
) -> int:
    """Fold committed streaming-manifest batch partitions
    (``ingest_batch=<id>``, one per micro-batch from
    epoch_manifest_sink) plus every existing generation into ONE fresh
    generation — the O(batches) -> O(1) partition-count maintenance the
    LSH index (compact_lsh_index), kept corpus (compact_kept), and IVF
    index (compact_ivf_index) already have, applied to the manifest
    store, WITHOUT breaking its one load-bearing contract: within each
    (epoch, shard), physical file row order IS the training order.

    Order preservation: a shard's cross-batch training order is
    (ingest_batch, hv, doc_id).  The folded generation's rows are
    written pre-sorted on (src_batch, hv, doc_id) — src_batch is the
    original batch id the sink stored as data — and the generation id
    is NEGATIVE, so a reader streaming ``ingest_batch`` partitions in
    ascending order still serves every folded doc before any live
    batch's docs, in exactly the pre-fold order (pinned by test).

    **Same checkpoint contract as the other folds**: ``upto_batch_id``
    must be committed — a folded batch redelivered afterwards would
    re-append its rows as a fresh partition; the next FULL fold's
    (epoch, shard, doc_id) dedup removes them (keeping the smallest
    src_batch, so order converges deterministically).

    ``mode='tier'`` is the O(delta) variant: fold ONLY the committed
    batch partitions, leaving existing generations' files untouched.
    Because a generation's PARTITION id position IS its place in the
    training order, tier generations allocate ASCENDING from a deep
    base (max(existing)+1, starting at -2^20) — each fold's id sorts
    after every earlier generation and before all live batches, so the
    global (generation asc, then src_batch/hv/doc_id) order is exactly
    the pre-fold order.  Full folds keep allocating DESCENDING below
    everything (min-1), so the two modes interleave safely.  A folded
    batch resurfacing after a crash and tier-folded again duplicates
    its rows across generations until the next 'full' fold dedups —
    readers needing exactly-once rows in that window dropDuplicates
    (epoch, shard, doc_id), the compact_kept contract.

    Swapped in through ``.compact_tmp`` by the store.py protocol, as
    _fold_ingest_partitions does.  Returns the number of batch
    (non-generation) partitions folded.
    """
    bids, all_gens = _list_ingest_partitions(
        spark, manifest_path, upto_batch_id, mode
    )
    if not bids or (len(bids) == 1 and bids[0] < 0):
        return 0
    # allocate + validate the destination id BEFORE the fold job runs:
    # an exhausted tier range must fail in milliseconds, not after the
    # whole distributed read+shuffle+write of the delta
    if mode == "tier":
        # ascending from the deep base: sorts AFTER every existing
        # generation, BEFORE all live batches — training order intact
        new_gen = (
            max(all_gens) + 1 if all_gens else _MANIFEST_TIER_BASE
        )
        if new_gen >= 0:
            raise ValueError(
                "manifest tier-generation id space exhausted "
                f"(next would be {new_gen}) — a legacy store whose "
                "generations sit above the tier base has no ascending "
                "slots left; run ONE mode='full' fold (it re-allocates "
                f"below {_MANIFEST_TIER_BASE}, freeing the whole tier "
                "range), then resume tier folds"
            )
    else:
        # full folds allocate BELOW the tier base, so after a full
        # collapse the entire (base, 0) range is free again for ~2^20
        # tier folds — the two modes interleave without exhaustion
        new_gen = min(
            _MANIFEST_TIER_BASE - 1, min([-1] + all_gens) - 1
        )
    merged = (
        spark.read.option("basePath", manifest_path)
        .parquet(*[f"{manifest_path}/ingest_batch={b}" for b in bids])
        .groupBy("epoch", "shard", "doc_id", "hv")
        # crash-leftover duplicates collapse to the SMALLEST src_batch,
        # so re-folds converge to one deterministic order
        .agg(F.min("src_batch").alias("src_batch"))
    )
    tmp = f"{manifest_path}/.compact_tmp"
    (
        merged.select("epoch", "shard", "hv", "doc_id", "src_batch")
        .repartition("epoch", "shard")
        .sortWithinPartitions("epoch", "shard", "src_batch", "hv", "doc_id")
        .write.mode("overwrite")
        .partitionBy("epoch", "shard")
        .parquet(tmp)
    )
    store.swap(spark, f"{manifest_path}/ingest_batch={new_gen}", tmp)
    store.drop_children(spark, manifest_path, bids, "ingest_batch")
    return len([b for b in bids if b >= 0])


def ivf_ingest_sink(
    spark,
    index_path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Build the ``foreachBatch`` sink for STREAMING vector ingestion
    into a persisted IVF index: each micro-batch's vectors are assigned
    to their nearest inverted list (ivf_assign_batch — codegen
    nearest-centroid choice against the stored centroid table, the
    production case where arriving vectors carry no list key), then
    appended as a delta partition under the batch's own id
    (append_ivf_batch's dynamic overwrite), so a checkpoint-replayed
    batch overwrites itself instead of duplicating vectors —
    exactly-once under redelivery.  Probes (ivf_probe_topk /
    ivf_probe_batch callers reading lists + lists_delta) see every
    committed batch without a rebuild; centroid drift from append-only
    ingest is what ivf_centroid_drift_report monitors.

    Use::

        stream.writeStream.foreachBatch(
            ivf_ingest_sink(spark, idx)
        ).option("checkpointLocation", ckpt).start()
    """
    from ..operators.clustering import append_ivf_batch, ivf_assign_batch

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        assigned = ivf_assign_batch(
            spark, index_path, batch_df, id_col=id_col, vec_col=vec_col
        )
        append_ivf_batch(
            assigned,
            index_path,
            batch_id=batch_id,
            list_col="list_id",
            id_col=id_col,
            vec_col=vec_col,
        )

    return sink
