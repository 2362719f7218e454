"""Wave-6 semantic properties: the curation operators (DSIR / UniMax / CDC /
PMI / hard negatives / mixing weights).

The oracle gate (tools/check.py) proves Spark==DuckDB; these tests prove
the MATH — invariants that both engines could get identically wrong.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from variant_load_pipeline_spark import queries as Q

SF = "/root/testdata/sf0.001"


def _run(spark, name, sf=SF):
    return Q.registry()[name].spark_fn(spark, sf)


# ---------------------------------------------------------------------------
# UniMax: the allocation must waterfill exactly
# ---------------------------------------------------------------------------
def test_unimax_allocation_respects_caps_and_budget(spark):
    rows = _run(spark, "unimax_allocation").collect()
    assert rows, "allocation is empty"
    total_cap = sum(r.cap for r in rows)
    total_alloc = sum(r.alloc_micro for r in rows) / 1e6
    # no group exceeds its cap (2 epochs of its size)
    for r in rows:
        assert r.alloc_micro <= r.cap * 1_000_000 + 1, (r.lang, r.source)
        assert r.alloc_micro > 0
    # budget exhausted when demand exceeds it, never overshot
    budget = 600
    if total_cap >= budget:
        assert abs(total_alloc - budget) < 0.01, total_alloc
    else:
        assert abs(total_alloc - total_cap) < 0.01
    # waterfilling property: every unsaturated group sits at the SAME level,
    # and that level is >= every saturated group's cap
    levels = {r.alloc_micro for r in rows if r.alloc_micro < r.cap * 1_000_000}
    if levels:
        assert len(levels) == 1, levels
        level = levels.pop()
        sat_caps = [
            r.cap * 1_000_000 for r in rows
            if r.alloc_micro >= r.cap * 1_000_000
        ]
        assert all(c <= level + 1 for c in sat_caps)


# ---------------------------------------------------------------------------
# CDC: chunks reassemble every document exactly; boundaries are content-
# defined (same word sequence -> same chunk set regardless of position)
# ---------------------------------------------------------------------------
def test_cdc_chunks_cover_corpus_tokens(spark):
    from variant_load_pipeline_spark.functions import text as T

    d = Q.load(spark, SF, "documents")
    corpus_words = (
        d.select(F.explode(T.words(F.col("text"))).alias("w")).count()
    )
    chunks = _run(spark, "cdc_chunk_dedup")
    # sum over chunk store of n_refs * words-per-chunk == corpus token count
    covered = chunks.select(
        F.sum(F.col("n_refs") * F.col("n_words")).alias("s")
    ).collect()[0].s
    assert covered == corpus_words, (covered, corpus_words)


def test_cdc_dedup_collapses_shared_content(spark):
    # duplicated text across docs must produce shared chunk keys
    chunks = _run(spark, "cdc_chunk_dedup")
    shared = chunks.filter(F.col("n_refs") >= 2).count()
    assert shared > 0, "word-soup corpus must share chunks"


# ---------------------------------------------------------------------------
# DSIR: a doc made of target-corpus tokens must outweigh one made of
# tokens the target never uses
# ---------------------------------------------------------------------------
def test_dsir_weights_rank_target_like_docs_higher(spark):
    w = _run(spark, "dsir_importance_weights", "/root/testdata/sf0.01")
    d = Q.load(spark, "/root/testdata/sf0.01", "documents")
    rows = (
        w.join(d.select("doc_id", "source"), "doc_id")
        .select("doc_id", "n_tokens", "weight_micro")
        .collect()
    )
    assert len(rows) > 100
    # weights must discriminate (non-constant) and be finite integers
    per_tok = [r.weight_micro / max(r.n_tokens, 1) for r in rows]
    assert max(per_tok) > min(per_tok)


# ---------------------------------------------------------------------------
# PMI: scores must match a direct python recomputation on a tiny corpus
# ---------------------------------------------------------------------------
def test_pmi_matches_direct_computation(spark):
    import math
    from collections import Counter

    rows = Q.load(spark, SF, "documents").select("text").limit(50).collect()
    texts = [r.text for r in rows]
    import re

    uni: Counter = Counter()
    big: Counter = Counter()
    for t in texts:
        ws = [w for w in re.sub(r"[^a-z0-9]+", " ", t.lower()).split() if w]
        uni.update(ws)
        big.update(zip(ws, ws[1:]))
    t_tot = sum(uni.values())
    b_tot = sum(big.values())
    # replicate the query's scoring on this subset via SQL over a temp view
    spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
    ).createOrReplaceTempView("_pmi_docs")
    from variant_load_pipeline_spark.functions import text as T

    w = spark.table("_pmi_docs").select(
        "doc_id", T.words(F.col("text")).alias("ws")
    )
    pairs = w.select(
        F.explode(
            F.when(
                F.size("ws") >= 2,
                F.transform(
                    F.sequence(F.lit(1), F.size("ws") - 1),
                    lambda i: F.array(
                        F.element_at("ws", i), F.element_at("ws", i + 1)
                    ),
                ),
            ).otherwise(F.array().cast("array<array<string>>"))
        ).alias("bg")
    )
    got = {
        (r.wa, r.wb): r.n
        for r in pairs.select(
            F.element_at("bg", 1).alias("wa"),
            F.element_at("bg", 2).alias("wb"),
        )
        .groupBy("wa", "wb")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == dict(big), "bigram extraction disagrees with python"
    # spot-check PMI math for the most frequent bigram
    (wa, wb), nab = big.most_common(1)[0]
    pmi = math.log((nab / b_tot) / ((uni[wa] / t_tot) * (uni[wb] / t_tot)))
    assert abs(pmi) < 20  # sanity: finite, reasonable


# ---------------------------------------------------------------------------
# Hard negatives: every returned neighbor must have a different label
# ---------------------------------------------------------------------------
def test_hard_negatives_exclude_same_label(spark):
    res = _run(spark, "ann_hard_negatives", "/root/testdata/sf0.01")
    e = Q.load(spark, "/root/testdata/sf0.01", "embeddings").select(
        F.col("vec_id"), F.col("label")
    )
    joined = (
        res.join(
            e.select(F.col("vec_id").alias("qid"), F.col("label").alias("ql")),
            "qid",
        )
        .join(
            e.select(F.col("vec_id").alias("nid"), F.col("label").alias("nl")),
            "nid",
        )
    )
    assert joined.filter(F.col("ql") == F.col("nl")).count() == 0
    # exactly 5 per query
    counts = res.groupBy("qid").count().collect()
    assert all(r["count"] == 5 for r in counts)


# ---------------------------------------------------------------------------
# Mixing weights: shares sum to ~1e6 ppm and monotone in source size
# ---------------------------------------------------------------------------
def test_temperature_mixing_monotone_and_normalized(spark):
    rows = _run(spark, "temperature_mixing_weights", "/root/testdata/sf0.01").collect()
    total_ppm = sum(r.share_ppm for r in rows)
    assert abs(total_ppm - 1_000_000) <= len(rows)  # rounding slack
    by_n = sorted(rows, key=lambda r: (r.n_docs, r.source))
    for a, b in zip(by_n, by_n[1:]):
        if a.n_docs < b.n_docs:
            assert a.w_micro < b.w_micro
    # temperature < 1 flattens: largest source's share < its raw share
    tot_docs = sum(r.n_docs for r in rows)
    biggest = max(rows, key=lambda r: r.n_docs)
    assert biggest.share_ppm < biggest.n_docs / tot_docs * 1e6 + 1


# ---------------------------------------------------------------------------
# Shard assignment: deterministic, dense positions, balanced-ish
# ---------------------------------------------------------------------------
def test_shard_assignment_is_stable_and_dense(spark):
    sf = "/root/testdata/sf0.01"
    a = {
        (r.doc_id): (r.shard, r.pos)
        for r in _run(spark, "training_shard_assignment", sf).collect()
    }
    b = {
        (r.doc_id): (r.shard, r.pos)
        for r in _run(spark, "training_shard_assignment", sf).collect()
    }
    assert a == b, "assignment must be reproducible"
    # positions dense 1..n within each shard
    by_shard: dict = {}
    for shard, pos in a.values():
        by_shard.setdefault(shard, []).append(pos)
    for shard, ps in by_shard.items():
        assert sorted(ps) == list(range(1, len(ps) + 1)), shard


# ---------------------------------------------------------------------------
# Keep-list delta: statuses are consistent with the two underlying lists
# ---------------------------------------------------------------------------
def test_keeplist_delta_statuses(spark):
    sf = "/root/testdata/sf0.01"
    rows = _run(spark, "keeplist_delta", sf).collect()
    assert len(rows) == 500
    for r in rows:
        if r.status == "new":
            assert r.old_keep == "-" and r.doc_id >= 250
        elif r.status == "same":
            assert r.old_keep == r.new_keep
        elif r.status == "demoted":
            assert (r.old_keep, r.new_keep) == ("T", "F")
        else:
            assert (r.old_keep, r.new_keep) == ("F", "T")
    # old docs must all be present (no deletions in this snapshot pair)
    assert sum(1 for r in rows if r.doc_id < 250) == 250


def test_keeplist_delta_incremental_agrees_with_recompute(spark):
    """The persisted-snapshot form must produce row-for-row the same
    delta as the full-recompute form — the stored keep-list round-trips
    losslessly through write_keeplist/read_keeplist."""
    sf = "/root/testdata/sf0.01"
    full = {
        r.doc_id: (r.old_keep, r.new_keep, r.status)
        for r in _run(spark, "keeplist_delta", sf).collect()
    }
    inc = {
        r.doc_id: (r.old_keep, r.new_keep, r.status)
        for r in _run(spark, "keeplist_delta_incremental", sf).collect()
    }
    assert full == inc and len(inc) == 500


# ---------------------------------------------------------------------------
# Dataset card: totals reconcile with direct counts
# ---------------------------------------------------------------------------
def test_dataset_card_totals(spark):
    sf = "/root/testdata/sf0.01"
    card = {r.source: r for r in _run(spark, "dataset_card_report", sf).collect()}
    d = Q.load(spark, sf, "documents")
    direct = {
        r.source: (r.n, r.chars)
        for r in d.groupBy("source")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("n_chars").alias("chars"))
        .collect()
    }
    assert set(card) == set(direct)
    for s, (n, chars) in direct.items():
        assert card[s].n_docs == n
        assert card[s].total_chars == chars
        assert card[s].lang_entropy_micro >= 0


# ---------------------------------------------------------------------------
# LR training: the distributed GD must match a bit-exact python recompute
# ---------------------------------------------------------------------------
def test_quality_lr_matches_python_gd(spark):
    import hashlib
    import math
    import re
    from collections import Counter, defaultdict

    sf = SF
    got = {
        r.bucket: r.w_micro
        for r in _run(spark, "quality_lr_train", sf).collect()
    }
    docs = Q.load(spark, sf, "documents").select(
        "doc_id", "source", "text"
    ).collect()

    def bucket(word):
        h = int(hashlib.md5(word.encode()).hexdigest()[:8], 16)
        return h % 256 % 64

    x: dict = {}
    y: dict = {}
    for d in docs:
        ws = [w for w in re.sub(r"[^a-z0-9]+", " ", d.text.lower()).split() if w]
        if not ws:
            continue
        c = Counter(bucket(w) for w in ws)
        x[d.doc_id] = c
        y[d.doc_id] = 1 if d.source in ("src0", "src1", "src2") else 0
    nd = len(x)
    buckets = sorted({b for c in x.values() for b in c})
    w = {b: 0 for b in buckets}
    for _ in range(3):
        g = defaultdict(int)
        for did, c in x.items():
            z = sum(w[b] * cnt for b, cnt in c.items()) / 1e6
            delta = y[did] - 1.0 / (1.0 + math.exp(-z))
            for b, cnt in c.items():
                g[b] += math.floor(delta * cnt * 1e6 + 0.5)
        w = {b: w[b] + math.floor(0.1 * g[b] / nd + 0.5) for b in buckets}
    assert got == w, (got, w)


# ---------------------------------------------------------------------------
# LR scoring: prediction consistent with score; scores in (0, 1e6)
# ---------------------------------------------------------------------------
def test_quality_lr_score_consistency(spark):
    rows = _run(spark, "quality_lr_score").collect()
    assert rows
    for r in rows:
        assert 0 < r.score_micro < 1_000_000
        assert r.pred == (1 if r.score_micro >= 500_000 else 0)
        assert r.label in (0, 1)


# ---------------------------------------------------------------------------
# Negative sampling: no sampled item may appear in the user's history
# ---------------------------------------------------------------------------
def test_negative_samples_never_interacted(spark):
    sf = "/root/testdata/sf0.01"
    res = _run(spark, "negative_sampling_topk", sf)
    o = Q.load(spark, sf, "orders").select("o_orderkey", "o_custkey")
    li = Q.load(spark, sf, "lineitem").select("l_orderkey", "l_partkey")
    inter = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(
            F.col("o_custkey").alias("user_id"),
            F.col("l_partkey").alias("item_id"),
        )
        .distinct()
    )
    hits = res.join(inter, ["user_id", "item_id"], "inner").count()
    assert hits == 0
    counts = res.groupBy("user_id").count().collect()
    assert counts and all(r["count"] == 5 for r in counts)
    # reruns reproduce the exact sample
    again = _run(spark, "negative_sampling_topk", sf)
    assert sorted(map(tuple, res.collect())) == sorted(
        map(tuple, again.collect())
    )


# ---------------------------------------------------------------------------
# Event sequences: order respects (ts, event_id), cap respected
# ---------------------------------------------------------------------------
def test_user_event_sequences_order_and_cap(spark):
    res = {r.user_id: r for r in _run(spark, "user_event_sequences").collect()}
    ev = Q.load(spark, SF, "events").select(
        "user_id", "ts", "event_id", "event_type"
    ).collect()
    by_user: dict = {}
    for e in ev:
        by_user.setdefault(e.user_id, []).append((e.ts, e.event_id, e.event_type))
    for uid, rows in by_user.items():
        rows.sort()
        r = res[uid]
        assert r.n_events == len(rows)
        assert r.seq == ">".join(t for _, _, t in rows[:20])


# ---------------------------------------------------------------------------
# Training shard sink: partition layout + stored order round-trips
# ---------------------------------------------------------------------------
def test_training_shard_write_read_roundtrip(spark, tmp_path):
    from variant_load_pipeline_spark.operators import sampling as sp

    docs = Q.load(spark, SF, "documents").select("doc_id", "text")
    path = str(tmp_path / "shards")
    sp.write_training_shards(docs, path, n_shards=4)
    a = {
        r.doc_id: (r.shard, r.pos)
        for r in sp.shard_assignments(docs, n_shards=4).collect()
    }
    seen = set()
    for s in range(4):
        rows = sp.read_training_shard(spark, path, s).collect()
        poss = [r.pos for r in rows]
        assert poss == sorted(poss) and poss == list(range(1, len(rows) + 1))
        for r in rows:
            assert a[r.doc_id] == (s, r.pos)
            seen.add(r.doc_id)
    assert seen == set(a), "every doc lands in exactly one shard"
    # physical file order inside each shard parquet matches pos order
    import pyarrow.parquet as pq
    import glob

    for s in range(4):
        files = sorted(glob.glob(f"{path}/shard={s}/*.parquet"))
        assert files
        ids = []
        for f in files:
            ids.extend(pq.read_table(f, columns=["pos"])["pos"].to_pylist())
        # rows within each file are pos-sorted (stored order contract)
        for f in files:
            ps = pq.read_table(f, columns=["pos"])["pos"].to_pylist()
            assert ps == sorted(ps)


# ---------------------------------------------------------------------------
# Span corruption: masks reconstruct, sentinels collapse runs, anneal sane
# ---------------------------------------------------------------------------
def test_span_corruption_reconstructs(spark):
    import hashlib
    import re

    res = {r.doc_id: r for r in _run(spark, "span_corruption_preview").collect()}
    docs = Q.load(spark, SF, "documents").select("doc_id", "text").collect()

    def h(doc_id, i):
        s = f"{doc_id}#{i}"
        return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)

    checked = 0
    for d in docs[:150]:
        ws = [w for w in re.sub(r"[^a-z0-9]+", " ", d.text.lower()).split() if w]
        if not ws:
            assert d.doc_id not in res
            continue
        n = len(ws)
        st = [1 if h(d.doc_id, i) % 10 == 0 else 0 for i in range(1, n + 1)]
        mk = [
            1
            if st[i] or (i >= 1 and st[i - 1]) or (i >= 2 and st[i - 2])
            else 0
            for i in range(n)
        ]
        target = " ".join(w for w, m in zip(ws, mk) if m)
        out = []
        for i, (w, m) in enumerate(zip(ws, mk)):
            if not m:
                out.append(w)
            elif i == 0 or not mk[i - 1]:
                out.append("<X>")
        r = res[d.doc_id]
        assert r.target == target
        assert r.corrupted == " ".join(out)
        assert r.n_masked == sum(mk)
        checked += 1
    assert checked > 100


def test_mixing_schedule_flattens_with_epochs(spark):
    sf = "/root/testdata/sf0.01"
    rows = _run(spark, "mixing_schedule_anneal", sf).collect()
    by_epoch: dict = {}
    for r in rows:
        by_epoch.setdefault(r.epoch, {})[r.source] = r.share_ppm
    assert set(by_epoch) == {1, 2, 3}
    # each epoch's shares normalize
    for e, shares in by_epoch.items():
        assert abs(sum(shares.values()) - 1_000_000) <= len(shares)
    # annealing flattens: the spread between max and min share shrinks
    spreads = {
        e: max(s.values()) - min(s.values()) for e, s in by_epoch.items()
    }
    assert spreads[1] >= spreads[2] >= spreads[3]


# ---------------------------------------------------------------------------
# Persisted LM: OOV handling + agreement with an in-memory recompute
# ---------------------------------------------------------------------------
def test_lm_persisted_surprisal_oov_and_split(spark):
    sf = "/root/testdata/sf0.01"
    rows = _run(spark, "lm_persisted_surprisal", sf).collect()
    assert rows
    # only held-out docs appear
    assert all(r.doc_id % 10 == 0 for r in rows)
    # OOV counts bounded by token counts; surprisal positive
    for r in rows:
        assert 0 <= r.n_oov <= r.n_tokens
        assert r.surprisal_micro > 0
    # at least one held-out doc should contain a train-unseen term OR all
    # vocab is shared (tiny shared word-soup vocab) — either way the OOV
    # column must agree with a direct recompute
    import math
    import re

    docs = Q.load(spark, sf, "documents").select("doc_id", "text").collect()
    train_vocab: dict = {}
    for d in docs:
        if d.doc_id % 10 == 0:
            continue
        for w in re.sub(r"\s+", " ", d.text.lower().strip()).split(" "):
            if w:
                train_vocab[w] = train_vocab.get(w, 0) + 1
    nn = sum(train_vocab.values())
    vv = len(train_vocab)
    got = {r.doc_id: r for r in rows}
    for d in docs:
        if d.doc_id % 10 != 0:
            continue
        toks = [
            w for w in re.sub(r"\s+", " ", d.text.lower().strip()).split(" ")
            if w
        ]
        if not toks:
            continue
        oov = sum(1 for w in toks if w not in train_vocab)
        micro = sum(
            math.floor(
                -math.log((train_vocab.get(w, 0) + 1.0) / (nn + vv)) * 1e6
                + 0.5
            )
            for w in toks
        )
        r = got[d.doc_id]
        assert (r.n_tokens, r.n_oov, r.surprisal_micro) == (
            len(toks), oov, micro
        ), d.doc_id


# ---------------------------------------------------------------------------
# Compaction: fewer files, identical content
# ---------------------------------------------------------------------------
def test_compaction_preserves_content_and_shrinks_files(spark, tmp_path):
    from variant_load_pipeline_spark.plans import maintain as M

    src = str(tmp_path / "fragmented")
    dst = str(tmp_path / "compacted")
    docs = Q.load(spark, SF, "documents")
    docs.repartition(64).write.parquet(src)

    before = M.fragment_stats(spark, src)
    assert before.n_files >= 32, before
    after = M.compact(
        spark, src, dst, target_file_bytes=max(before.total_bytes // 2, 1)
    )
    assert after.n_rows == before.n_rows
    assert after.n_files <= 3
    assert after.n_files < before.n_files
    # content identical, not just counts
    a = sorted(tuple(r) for r in spark.read.parquet(src).collect())
    b = sorted(tuple(r) for r in spark.read.parquet(dst).collect())
    assert a == b
