"""Operator tests: binned-vs-broadcast interval join equivalence, dedup
family behavior, upsert id semantics, ordered-window operators."""

from __future__ import annotations

import random

import pytest

from pyspark.sql import functions as F

from variant_load_pipeline_spark.operators import dedup, similarity, upsert, windows
from variant_load_pipeline_spark.operators.interval_join import (
    interval_overlap_join,
    point_in_interval_join,
)


def _random_intervals(seed, n, max_pos=1_000_000, max_span=120_000):
    rng = random.Random(seed)
    rows = []
    for i in range(n):
        chrom = str(rng.randint(1, 3))
        start = rng.randint(1, max_pos)
        rows.append((i, chrom, start, start + rng.randint(0, max_span)))
    return rows


def test_binned_equals_broadcast_interval_join(spark):
    # property: the binned strategy returns exactly the same pair set as the
    # naive broadcast non-equi join, incl. bin-boundary-straddling intervals
    pts = [(i, str(random.Random(i).randint(1, 3)), (i * 9973) % 1_000_000)
           for i in range(500)]
    # force some exact boundary positions
    pts += [(1000, "1", 100_000), (1001, "1", 99_999), (1002, "1", 200_000)]
    p = spark.createDataFrame(pts, ["pid", "chrom", "pos"])
    g = spark.createDataFrame(
        _random_intervals(42, 80) + [(900, "1", 99_500, 100_500)],
        ["gid", "gchrom", "gstart", "gstop"],
    )
    kw = dict(
        point_chrom="chrom", point_pos="pos",
        ivl_chrom="gchrom", ivl_start="gstart", ivl_end="gstop",
    )
    binned = point_in_interval_join(p, g, strategy="binned", **kw).select(
        "pid", "gid"
    )
    bcast = point_in_interval_join(p, g, strategy="broadcast", **kw).select(
        "pid", "gid"
    )
    assert binned.exceptAll(bcast).count() == 0
    assert bcast.exceptAll(binned).count() == 0
    assert binned.count() == bcast.count() > 0


def test_binned_interval_interval_join(spark):
    # left spans <= bin_size stay exact thanks to the -1 bin padding
    left = spark.createDataFrame(
        [(1, "1", 99_990, 100_010), (2, "1", 150_000, 150_001), (3, "2", 5, 10)],
        ["lid", "chrom", "lstart", "lend"],
    )
    right = spark.createDataFrame(
        [(10, "1", 100_000, 100_200), (11, "1", 1, 50), (12, "2", 8, 9)],
        ["rid", "rchrom", "rstart", "rend"],
    )
    out = interval_overlap_join(
        left, right,
        p_chrom="chrom", p_start="lstart", p_end="lend",
        i_chrom="rchrom", i_start="rstart", i_end="rend",
        strategy="binned",
    ).select("lid", "rid").collect()
    assert sorted((r["lid"], r["rid"]) for r in out) == [(1, 10), (3, 12)]


def test_binned_join_wide_left_spans_cross_multiple_bins(spark):
    # property: left intervals WIDER than bin_size (structural-variant-sized
    # deletions spanning 2+ bins) must still find every overlap — the pad is
    # derived from the observed max left span, not fixed at one bin
    rng = random.Random(7)
    left_rows = []
    for i in range(200):
        chrom = str(rng.randint(1, 2))
        start = rng.randint(1, 900_000)
        # spans from 0 up to 4x bin_size
        left_rows.append((i, chrom, start, start + rng.randint(0, 400_000)))
    # a deliberately pathological case: left starts 3 bins before right
    left_rows.append((999, "1", 50_000, 420_000))
    right_rows = _random_intervals(11, 60) + [(901, "1", 400_000, 400_100)]
    left = spark.createDataFrame(left_rows, ["lid", "chrom", "lstart", "lend"])
    right = spark.createDataFrame(
        right_rows, ["rid", "rchrom", "rstart", "rend"]
    )
    kw = dict(
        p_chrom="chrom", p_start="lstart", p_end="lend",
        i_chrom="rchrom", i_start="rstart", i_end="rend",
    )
    binned = interval_overlap_join(
        left, right, strategy="binned", **kw
    ).select("lid", "rid")
    bcast = interval_overlap_join(
        left, right, strategy="broadcast", **kw
    ).select("lid", "rid")
    assert binned.exceptAll(bcast).count() == 0
    assert bcast.exceptAll(binned).count() == 0
    # the pathological pair is present
    assert binned.filter("lid = 999 AND rid = 901").count() == 1


def test_exact_dedup_groups(spark):
    docs = spark.createDataFrame(
        [
            (1, "Hello  World"),
            (2, "hello world"),       # same after normalization
            (3, "something else"),
        ],
        ["doc_id", "text"],
    )
    out = dedup.exact_dedup(docs).collect()
    groups = {r["canonical_doc_id"]: r["n_copies"] for r in out}
    assert groups == {1: 2, 3: 1}


def test_minhash_identical_docs_share_signature(spark):
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog again and again"),
            (2, "the quick brown fox jumps over the lazy dog again and again"),
            (3, "a completely different document about spark partitioning"),
        ],
        ["doc_id", "text"],
    )
    sig = dedup.minhash_signatures(docs, n_hashes=8).collect()
    by_id = {r["doc_id"]: tuple(r[f"sig_{i}"] for i in range(8)) for r in sig}
    assert by_id[1] == by_id[2]
    assert by_id[1] != by_id[3]


def test_minhash_lsh_finds_near_dups(spark):
    base = "the quick brown fox jumps over the lazy dog and runs far away today"
    near = base.replace("runs", "walks")
    docs = spark.createDataFrame(
        [(1, base), (2, near), (3, "unrelated text about query optimizers in spark")],
        ["doc_id", "text"],
    )
    pairs = dedup.minhash_lsh_pairs(docs, n_hashes=16, bands=8)
    verified = dedup.ngram_jaccard_pairs(docs, pairs, threshold=0.5).collect()
    assert {(r["id_a"], r["id_b"]) for r in verified} == {(1, 2)}


def test_simhash_close_for_near_dups(spark):
    base = "the quick brown fox jumps over the lazy dog and runs far away"
    docs = spark.createDataFrame(
        [(1, base), (2, base + " now"), (3, "totally different words entirely here")],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r["simhash"] for r in dedup.simhash(docs).collect()}
    d12 = bin(out[1] ^ out[2]).count("1")
    d13 = bin(out[1] ^ out[3]).count("1")
    assert d12 < d13


def test_dedup_upsert_reuses_and_allocates(spark):
    existing = spark.createDataFrame(
        [(100, 5, 6, "1", "A", "snv", "g")],
        ["rgd_id", "start_pos", "end_pos", "chromosome", "ref_nuc",
         "variant_type", "var_nuc"],
    )
    incoming = spark.createDataFrame(
        [
            (5, 6, "1", "a", "snv", "G"),   # case-insensitive match -> reuse 100
            (7, 8, "1", "A", "snv", "T"),   # new
            (9, 10, "2", "C", "snv", "T"),  # new
        ],
        ["start_pos", "end_pos", "chromosome", "ref_nuc", "variant_type",
         "var_nuc"],
    )
    out = upsert.dedup_upsert(incoming, existing).collect()
    by_key = {(r["start_pos"], r["chromosome"]): r for r in out}
    assert by_key[(5, "1")]["rgd_id"] == 100
    assert by_key[(5, "1")]["id_source"] == "reused"
    new_ids = {by_key[(7, "1")]["rgd_id"], by_key[(9, "2")]["rgd_id"]}
    assert new_ids == {101, 102}  # offset = max(existing)+1, deterministic order


def test_insert_if_not_exists(spark):
    existing = spark.createDataFrame([(1,), (2,)], ["k"])
    incoming = spark.createDataFrame([(1, "x"), (3, "y")], ["k", "v"])
    out = upsert.insert_if_not_exists(incoming, existing, ["k"]).collect()
    assert [(r["k"], r["v"]) for r in out] == [(3, "y")]


def test_merge_update(spark):
    target = spark.createDataFrame([(1, "old"), (2, "keep")], ["k", "v"])
    updates = spark.createDataFrame([(1, "new")], ["k", "v"])
    out = {r["k"]: r["v"] for r in upsert.merge_update(target, updates, ["k"], ["v"]).collect()}
    assert out == {1: "new", 2: "keep"}


def test_first_match_wins_and_keep_last(spark):
    df = spark.createDataFrame(
        [(1, 1, "a"), (1, 2, "b"), (2, 5, "c")], ["k", "o", "v"]
    )
    first = {r["k"]: r["v"] for r in windows.first_match_wins(df, ["k"], ["o"]).collect()}
    last = {r["k"]: r["v"] for r in windows.keep_last(df, ["k"], ["o"]).collect()}
    assert first == {1: "a", 2: "c"}
    assert last == {1: "b", 2: "c"}


def test_consume_first_match_join(spark):
    left = spark.createDataFrame(
        [("k1", 1, "L1"), ("k1", 2, "L2"), ("k2", 1, "L3")], ["k", "o", "lv"]
    )
    right = spark.createDataFrame(
        [("k1", 10, "R1"), ("k1", 20, "R2")], ["k", "o2", "rv"]
    )
    out = windows.consume_first_match_join(
        left, right, ["k"], ["o"], ["o2"]
    ).select("lv", "rv").collect()
    assert sorted((r["lv"], r["rv"]) for r in out) == [("L1", "R1"), ("L2", "R2")]


def test_cosine_topk_exact(spark):
    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, [0.7, 0.7]), (4, [-1.0, 0.0])],
        ["vec_id", "embedding"],
    )
    queries = spark.createDataFrame([(1, [1.0, 0.0])], ["qid", "qv"])
    out = similarity.cosine_topk(corpus, queries, k=2).collect()
    assert [(r["nid"], r["rk"]) for r in sorted(out, key=lambda r: r["rk"])] == [
        (3, 1),
        (2, 2),
    ]


def test_lsh_topk_recall(spark):
    # LSH with enough tables should recover most of the exact top-1
    rng = random.Random(3)
    corpus_rows = [
        (i, [rng.gauss(0, 1) for _ in range(8)]) for i in range(100)
    ]
    corpus = spark.createDataFrame(corpus_rows, ["vec_id", "embedding"])
    queries = spark.createDataFrame(
        [(r[0], r[1]) for r in corpus_rows[:5]], ["qid", "qv"]
    )
    exact = {
        (r["qid"], r["nid"])
        for r in similarity.cosine_topk(corpus, queries, k=1).collect()
    }
    approx = {
        (r["qid"], r["nid"])
        for r in similarity.lsh_topk(
            corpus, queries, dim=8, k=3, n_planes=4, n_tables=6
        ).collect()
    }
    hits = sum(1 for pair in exact if pair in approx)
    assert hits >= 3  # recall >= 60% on this easy instance


def test_cosine_topk_pandas_matches_expression(spark):
    from variant_load_pipeline_spark.operators import similarity as sim

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    e = e.withColumn("embedding", F.col("embedding").cast("array<double>"))
    q = e.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    a = {
        (r["qid"], r["rk"]): r["nid"]
        for r in sim.cosine_topk(e, q, k=5).collect()
    }
    b = {
        (r["qid"], r["rk"]): r["nid"]
        for r in sim.cosine_topk_pandas(e, q, k=5).collect()
    }
    assert a == b


def test_hll_sketch_within_bounds(spark):
    """The sketch gate's 5% flag rests on the HLL estimate actually landing
    near the exact count — assert the numeric relative error directly."""
    from variant_load_pipeline_spark.queries import load_events

    ev = load_events(spark, "/root/testdata/sf0.001")
    rows = ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.02).alias("a"),
        F.countDistinct("user_id").alias("e"),
    ).collect()
    for r in rows:
        rel = abs(r["a"] - r["e"]) / r["e"]
        assert rel <= 0.05, (r["event_type"], r["a"], r["e"])


def test_lsh_recall_floor(spark):
    """ann_lsh_recall's 0.3 per-query gate rests on the measured recall;
    assert the numeric mean recall directly at sf0.001."""
    from variant_load_pipeline_spark.operators.similarity import (
        cosine_topk,
        lsh_topk,
    )

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    e = e.withColumn("emb_d", F.col("embedding").cast("array<double>"))
    corpus = e.select("vec_id", F.col("emb_d").alias("embedding"))
    queries = e.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("qid"), F.col("emb_d").alias("qv")
    )
    ex = {(r["qid"], r["nid"]) for r in cosine_topk(corpus, queries, k=5).collect()}
    ls = {
        (r["qid"], r["nid"])
        for r in lsh_topk(
            corpus, queries, dim=64, k=5, n_planes=4, n_tables=12
        ).collect()
    }
    qids = {q for q, _ in ex}
    recalls = [
        sum(1 for pair in ex if pair[0] == q and pair in ls) / 5.0
        for q in qids
    ]
    assert min(recalls) >= 0.3
    assert sum(recalls) / len(recalls) >= 0.6


def test_hash_embed_feeds_ann_stack_end_to_end(spark):
    """Text -> hash_embed vectors -> the existing ANN stack: (a) LSH
    bucketed top-k recovers a decent fraction of the exact text top-k,
    and (b) int8-quantized cosine agrees with exact cosine on rank-1
    neighbors for most queries — the full model-free text ANN path."""
    from pyspark.sql import functions as F

    from variant_load_pipeline_spark.operators.similarity import (
        cosine_topk,
        hash_embed,
        lsh_topk,
        quantize_embeddings,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    emb = hash_embed(docs, dim=64).persist()
    corpus = emb.select(F.col("doc_id").alias("vec_id"), "embedding")
    queries = emb.filter(F.col("doc_id") % 10 == 0).select(
        F.col("doc_id").alias("qid"), F.col("embedding").alias("qv")
    )
    ex = {
        (r["qid"], r["nid"])
        for r in cosine_topk(corpus, queries, k=5).collect()
    }
    assert len(ex) > 0
    ls = {
        (r["qid"], r["nid"])
        for r in lsh_topk(
            corpus, queries, dim=64, k=5, n_planes=4, n_tables=12
        ).collect()
    }
    recall = len(ex & ls) / len(ex)
    assert recall >= 0.5, recall

    # quantized path: rank-1 neighbor via int8 vectors matches the exact
    # rank-1 for most queries (quantized cosine is scale-invariant)
    qz = quantize_embeddings(corpus, vec_col="embedding")
    qcorpus = qz.select(
        "vec_id", F.col("q8").cast("array<double>").alias("embedding")
    )
    qqueries = quantize_embeddings(
        queries, vec_col="qv", q_col="q8q", scale_col="q_scale_q"
    ).select(F.col("qid"), F.col("q8q").cast("array<double>").alias("qv"))
    exact1 = {
        r["qid"]: r["nid"]
        for r in cosine_topk(corpus, queries, k=1).collect()
    }
    quant1 = {
        r["qid"]: r["nid"]
        for r in cosine_topk(qcorpus, qqueries, k=1).collect()
    }
    agree = sum(1 for q in exact1 if quant1.get(q) == exact1[q])
    assert agree / len(exact1) >= 0.8, (agree, len(exact1))
    emb.unpersist()


def test_near_dup_hot_band_guard_bounds_degenerate_corpus(spark):
    """10k identical docs all hash to the same band buckets; without the
    hot-band guard the candidate self-join builds ~10k^2/2 pairs per band.
    With the guard the hot buckets star-pair around the min-id
    representative: exactly n-1 verified pairs, linear work, and the
    whole bucket stays collapsible by connected components."""
    from pyspark.sql import functions as F

    from variant_load_pipeline_spark.operators.dedup import near_dup_pairs

    n = 10_000
    docs = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.lit("the same document body repeated verbatim for everyone").alias(
            "text"
        ),
    )
    out = near_dup_pairs(
        docs, threshold=0.8, hot_bucket_threshold=100
    )
    rows = out.collect()
    assert len(rows) == n - 1
    assert all(r["id_a"] == 0 and r["jaccard"] == 1.0 for r in rows)
    assert {r["id_b"] for r in rows} == set(range(1, n))


def test_near_dup_cold_buckets_stay_exhaustive(spark):
    """Below the threshold the guard must not change results: all-pairs
    candidates, same pairs as a tiny corpus expects."""
    from pyspark.sql import functions as F

    from variant_load_pipeline_spark.operators.dedup import near_dup_pairs

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta"),
            (2, "alpha beta gamma delta epsilon zeta"),
            (3, "alpha beta gamma delta epsilon zeta"),
            (4, "completely different content here entirely"),
        ],
        ["doc_id", "text"],
    )
    out = near_dup_pairs(docs, threshold=0.8, hot_bucket_threshold=1000)
    pairs = {(r["id_a"], r["id_b"]) for r in out.collect()}
    assert pairs == {(1, 2), (1, 3), (2, 3)}


@pytest.mark.slow
def test_simhash64_high_slices_carry_entropy_and_find_planted_pair(spark):
    """The 64-bit scale path must be real: with shingle_hash64 the HIGH
    16-bit slices of a 64-bit simhash are non-constant across a 20k-doc
    corpus (the 32-bit word hash would zero bits 32-63 and collapse two
    of the four slices to one value each), no slice goes hot, and a
    planted hamming-2 pair (found offline, deterministic md5 math) is
    recovered by simhash_near_dup(bits=64, n_bands=4) without the
    hot-slice star fallback."""
    from pyspark.sql import functions as F

    from variant_load_pipeline_spark.operators.dedup import (
        simhash,
        simhash_near_dup,
    )

    n = 20_000
    base = " ".join(f"alpha{i}" for i in range(41))
    planted = [(n, base), (n + 1, base + " extra10")]  # hamming 2
    filler = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ",
            *[
                F.concat(F.lit("t"), ((F.col("id") * 13 + 7 * j) % 30_000))
                for j in range(9)
            ],
        ).alias("text"),
    )
    docs = filler.union(spark.createDataFrame(planted, ["doc_id", "text"]))

    sh = simhash(docs, bits=64).persist()
    # every 16-bit slice band — including the high ones a 32-bit word
    # hash would flatline — must spread over many values and stay cold
    for band in range(4):
        sl = sh.select(
            F.shiftright(F.col("simhash"), band * 16)
            .bitwiseAND(F.lit(0xFFFF))
            .alias("slice")
        )
        stats = sl.groupBy("slice").count().agg(
            F.count(F.lit(1)).alias("n_distinct"), F.max("count").alias("mx")
        ).collect()[0]
        assert stats["n_distinct"] > 1000, (band, stats)
        assert stats["mx"] <= 1000, (band, stats)  # no hot-slice fallback
    sh.unpersist()

    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_near_dup(docs, bits=64, n_bands=4).collect()
    }
    assert pairs.get((n, n + 1)) == 2, pairs


def test_simhash_near_dup_rejects_uneven_bands():
    """bits %% n_bands != 0 leaves top bits outside every slice, silently
    voiding the exact-recall contract -> must raise."""
    import pytest

    from variant_load_pipeline_spark.operators.dedup import simhash_near_dup

    with pytest.raises(ValueError, match="divisible"):
        simhash_near_dup(None, bits=32, n_bands=5)


def test_connected_components_chain_star_cliques(spark):
    """Chain (worst-case diameter), star, disjoint clique, isolated pair —
    every node must land in the min-id component, converging within
    max_iters even on the 8-long chain."""
    from variant_load_pipeline_spark.operators.dedup import (
        connected_components,
    )

    pairs = spark.createDataFrame(
        # chain 1-2-3-4-5-6-7-8
        [(i, i + 1) for i in range(1, 8)]
        # star around 20
        + [(20, 21), (20, 22), (20, 23)]
        # clique 30,31,32
        + [(30, 31), (30, 32), (31, 32)]
        # pair
        + [(40, 41)],
        ["id_a", "id_b"],
    )
    comp = {
        r["id"]: r["comp"] for r in connected_components(pairs).collect()
    }
    assert all(comp[i] == 1 for i in range(1, 9))
    assert all(comp[i] == 20 for i in (20, 21, 22, 23))
    assert all(comp[i] == 30 for i in (30, 31, 32))
    assert comp[40] == comp[41] == 40
    assert len(comp) == 17


@pytest.mark.slow
def test_connected_components_star_matches_and_converges_log_rounds(spark):
    """The alternating large-star/small-star variant must (a) produce the
    identical (id, min-reachable-id) labeling as min-propagation on mixed
    graphs, and (b) settle a 10k-node PATH graph — min-propagation's
    worst case, diameter 9999 vs its 25-round cap — within
    ceil(log2(n)) + 6 rounds."""
    import math

    from pyspark.sql import functions as F

    from variant_load_pipeline_spark.operators.dedup import (
        connected_components,
        connected_components_star,
    )

    mixed = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 8)]
        + [(20, 21), (20, 22), (20, 23)]
        + [(30, 31), (30, 32), (31, 32)]
        + [(40, 41), (50, 50)],
        ["id_a", "id_b"],
    )
    a = {r["id"]: r["comp"] for r in connected_components(mixed).collect()}
    b = {
        r["id"]: r["comp"]
        for r in connected_components_star(mixed).collect()
    }
    assert a == b and b[50] == 50  # self-pair node emitted by both

    n = 10_000
    path = spark.range(1, n).select(
        F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b")
    )
    budget = math.ceil(math.log2(n)) + 6  # 20
    out = connected_components_star(path, max_iters=budget)
    agg = out.agg(
        F.count(F.lit(1)).alias("n"),
        F.count_distinct("comp").alias("ncomp"),
        F.min("comp").alias("mn"),
        F.max("comp").alias("mx"),
    ).collect()[0]
    assert (agg["n"], agg["ncomp"], agg["mn"], agg["mx"]) == (n, 1, 1, 1)


def test_connected_components_warns_on_non_convergence(spark):
    """ADVICE: a component whose diameter exceeds the round budget must
    not be returned split SILENTLY."""
    import warnings

    from variant_load_pipeline_spark.operators.dedup import (
        connected_components,
    )

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 30)], ["id_a", "id_b"]
    )
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        connected_components(chain, max_iters=3).collect()
    assert any(
        "did not converge" in str(w.message) for w in caught
    ), [str(w.message) for w in caught]


def test_hash_sample_deterministic_under_repartitioning(spark):
    """The whole point vs df.sample: the selected set must be identical
    for any partitioning, and different salts give independent splits."""
    from pyspark.sql import functions as F

    from variant_load_pipeline_spark.operators.sampling import hash_sample

    df = spark.range(2000).select(F.col("id").alias("doc_id"))
    pick = lambda d, salt: {
        r["doc_id"] for r in hash_sample(d, 0.3, "doc_id", salt).collect()
    }
    a1 = pick(df, "s1")
    a2 = pick(df.repartition(7, "doc_id"), "s1")
    a3 = pick(df.coalesce(1), "s1")
    assert a1 == a2 == a3
    assert 0.25 < len(a1) / 2000 < 0.35
    b = pick(df, "s2")
    # independent splits: overlap near fraction^2, not 0 or fraction
    overlap = len(a1 & b) / 2000
    assert 0.04 < overlap < 0.15


def test_stratified_sample_caps_each_stratum(spark):
    from pyspark.sql import functions as F

    from variant_load_pipeline_spark.operators.sampling import (
        stratified_sample,
    )

    df = spark.range(1000).select(
        F.col("id").alias("doc_id"), (F.col("id") % 3).alias("stratum")
    )
    out = stratified_sample(df, "stratum", 50, "doc_id")
    counts = {
        r["stratum"]: r["n"]
        for r in out.groupBy("stratum").agg(F.count("*").alias("n")).collect()
    }
    assert counts == {0: 50, 1: 50, 2: 50}
    # deterministic: same rows again
    again = stratified_sample(df.repartition(13), "stratum", 50, "doc_id")
    assert {tuple(r) for r in out.collect()} == {
        tuple(r) for r in again.collect()
    }


@pytest.mark.slow
def test_quantize_embeddings_roundtrip_and_recall(spark):
    """q8 values stay in [-127, 127], max-magnitude component hits 127
    exactly, and quantized cosine stays within 1e-2 of exact cosine."""
    from pyspark.sql import functions as F

    from variant_load_pipeline_spark.operators.similarity import (
        cosine,
        quantize_embeddings,
    )

    rows = [
        (1, [0.1, -0.5, 0.25, 1.0]),
        (2, [0.09, -0.48, 0.26, 0.99]),
        (3, [-2.0, 0.0, 2.0, 0.5]),
        (4, [0.0, 0.0, 0.0, 0.0]),  # zero vector: scale guard
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = quantize_embeddings(df)
    got = {r["vec_id"]: r for r in q.collect()}
    # floor(x + 0.5) rounds halves toward +inf: -0.5*127 -> -63, not -64
    assert got[1]["q8"] == [13, -63, 32, 127]
    assert max(abs(v) for v in got[3]["q8"]) == 127
    assert got[4]["q8"] == [0, 0, 0, 0] and got[4]["q_scale"] == 1.0

    qd = q.select(
        "vec_id",
        F.transform("q8", lambda x: x.cast("double")).alias("qv"),
        "embedding",
    )
    a = qd.filter(F.col("vec_id") == 1).select(
        F.col("qv").alias("qa"), F.col("embedding").alias("ea")
    )
    b = qd.filter(F.col("vec_id") == 2).select(
        F.col("qv").alias("qb"), F.col("embedding").alias("eb")
    )
    r = a.crossJoin(b).select(
        cosine(F.col("qa"), F.col("qb")).alias("cq"),
        cosine(F.col("ea"), F.col("eb")).alias("ce"),
    ).collect()[0]
    assert abs(r["cq"] - r["ce"]) < 1e-2


def test_pii_scrub_order_and_counts(spark):
    """An email inside a URL must scrub as URL only; counts follow the
    progressive-scrub order."""
    from pyspark.sql import functions as F

    from variant_load_pipeline_spark.functions.text import (
        pii_counts,
        scrub_pii,
    )

    rows = [
        (1, "mail me at Bob.Smith+x@Example.COM or call 5551234567"),
        (2, "see https://host.com/path?u=a@b.co and http://x.io"),
        (3, "no pii here"),
        (4, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    c = pii_counts(F.col("text"))
    out = {
        r["doc_id"]: r
        for r in df.select(
            "doc_id",
            c["n_urls"].alias("u"),
            c["n_emails"].alias("e"),
            c["n_longnums"].alias("n"),
            scrub_pii(F.col("text")).alias("s"),
        ).collect()
    }
    assert (out[1]["u"], out[1]["e"], out[1]["n"]) == (0, 1, 1)
    assert "<EMAIL>" in out[1]["s"] and "<NUM>" in out[1]["s"]
    # the a@b.co inside the URL is swallowed by the URL scrub
    assert (out[2]["u"], out[2]["e"]) == (2, 0)
    assert out[3]["s"] == "no pii here"
    assert out[4]["s"] == ""


def test_boilerplate_columns_signals(spark):
    from pyspark.sql import functions as F

    from variant_load_pipeline_spark.functions.text import (
        boilerplate_columns,
    )

    text = "intro\n- a\n- a\n- b\nmore...\n\nintro"
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    c = boilerplate_columns(F.col("text"))
    r = df.select(
        c["n_lines"].alias("n"),
        c["dup_line_ratio"].alias("dup"),
        c["top_line_share"].alias("top"),
        c["bullet_line_ratio"].alias("bul"),
        c["ellipsis_line_ratio"].alias("ell"),
    ).collect()[0]
    # 6 non-empty lines; 'intro' and '- a' each appear twice
    assert r["n"] == 6
    assert r["dup"] == round(2 / 6, 6)
    assert r["top"] == round(2 / 6, 6)
    assert r["bul"] == round(3 / 6, 6)
    assert r["ell"] == round(1 / 6, 6)


def test_simhash_near_dup_exact_for_bound(spark):
    """Multi-index hashing must find EVERY pair within the hamming bound
    (pigeonhole exactness) — compare against brute force on the corpus."""
    from variant_load_pipeline_spark.operators.dedup import (
        simhash,
        simhash_near_dup,
    )

    base = "spark engine distributed query runner with columnar memory"
    docs = spark.createDataFrame(
        [(i, base + f" variant {i % 7} extra {i % 3}") for i in range(60)],
        ["doc_id", "text"],
    )
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_near_dup(docs, max_hamming=3).collect()
    }
    hashes = {
        r["doc_id"]: r["simhash"] for r in simhash(docs).collect()
    }
    want = {}
    ids = sorted(hashes)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            d = bin(hashes[a] ^ hashes[b]).count("1")
            if d <= 3:
                want[(a, b)] = d
    assert got == want and len(want) > 0


def test_chunk_documents_windows(spark):
    """Window boundaries: overlap honored, last window is the remainder,
    short docs give exactly one chunk, reconstruction covers every token."""
    from variant_load_pipeline_spark.functions.text import chunk_documents

    text = " ".join(f"w{i}" for i in range(25))
    df = spark.createDataFrame(
        [(1, text), (2, "just three tokens"), (3, "one"),
         (4, ""), (5, None)],
        ["doc_id", "text"],
    )
    out = chunk_documents(df, max_tokens=10, overlap=4)
    rows = sorted(
        ((r["doc_id"], r["chunk_idx"], r["chunk_text"]) for r in out.collect())
    )
    by_doc = {}
    for d, i, t in rows:
        by_doc.setdefault(d, []).append((i, t.split(" ")))
    # doc 1: 25 tokens, stride 6 -> chunks at 0,6,12,18 (1+ceil(15/6)=4)
    assert [i for i, _ in by_doc[1]] == [0, 1, 2, 3]
    assert by_doc[1][0][1] == [f"w{i}" for i in range(10)]
    assert by_doc[1][1][1] == [f"w{i}" for i in range(6, 16)]
    assert by_doc[1][3][1] == [f"w{i}" for i in range(18, 25)]  # remainder
    # overlap: consecutive windows share exactly 4 tokens
    assert by_doc[1][0][1][-4:] == by_doc[1][1][1][:4]
    # short docs: single chunk, whole text
    assert by_doc[2] == [(0, ["just", "three", "tokens"])]
    assert by_doc[3] == [(0, ["one"])]
    # empty / NULL text: one chunk with ZERO tokens (not [''] -> 1),
    # so pack_chunks bin budgets stay honest
    zero = {
        (r["doc_id"], r["chunk_idx"], r["n_chunk_tokens"], r["chunk_text"])
        for r in out.filter("doc_id >= 4").collect()
    }
    assert zero == {(4, 0, 0, ""), (5, 0, 0, "")}
    # coverage: union of window tokens = all tokens
    seen = set()
    for _, toks in by_doc[1]:
        seen.update(toks)
    assert seen == {f"w{i}" for i in range(25)}


def test_pack_chunks_bins_and_positions(spark):
    """Bins fill to the budget by exclusive cumsum (last chunk may
    overflow), bin_pos is 1-based within the bin, bins never cross
    shards, and every chunk is assigned exactly once."""
    from pyspark.sql import functions as F

    from variant_load_pipeline_spark.functions.text import pack_chunks

    rows = [
        # shard 0: doc 0 tokens 60,60,60 ; doc 2 tokens 60,30
        (0, 0, 60), (0, 1, 60), (0, 2, 60), (2, 0, 60), (2, 1, 30),
        # shard 1: doc 1 tokens 100, 100
        (1, 0, 100), (1, 1, 100),
    ]
    df = spark.createDataFrame(
        rows, ["doc_id", "chunk_idx", "n_chunk_tokens"]
    ).withColumn("shard", F.col("doc_id") % 2)
    out = pack_chunks(df, token_budget=150, shard_col="shard")
    got = {
        (r["doc_id"], r["chunk_idx"]): (r["shard"], r["bin_id"], r["bin_pos"])
        for r in out.collect()
    }
    # shard 0 cumsum_excl: 0,60,120,180,240 -> bins 0,0,0,1,1
    assert got[(0, 0)] == (0, 0, 1)
    assert got[(0, 1)] == (0, 0, 2)
    assert got[(0, 2)] == (0, 0, 3)   # overflows 150 by design
    assert got[(2, 0)] == (0, 1, 1)
    assert got[(2, 1)] == (0, 1, 2)
    # shard 1 cumsum_excl: 0,100 -> bins 0,0
    assert got[(1, 0)] == (1, 0, 1)
    assert got[(1, 1)] == (1, 0, 2)
    assert len(got) == 7


def test_paragraph_dedup_removes_cross_doc_paragraphs(spark):
    from pyspark.sql import functions as F

    from variant_load_pipeline_spark.operators.dedup import paragraph_dedup

    # shared = paragraph in docs 1 and 2; each doc also has a unique one
    df = spark.createDataFrame(
        [
            (1, ["shared para", "only in one"]),
            (2, ["shared para", "unique to two"]),
            (3, ["standalone"]),
            (4, []),
        ],
        "doc_id long, ps array<string>",
    )
    out = {
        r["doc_id"]: r
        for r in paragraph_dedup(df, F.col("ps")).collect()
    }
    assert out[1]["n_paras"] == 2 and out[1]["n_kept"] == 1
    assert out[2]["n_paras"] == 2 and out[2]["n_kept"] == 1
    assert out[3]["n_paras"] == 1 and out[3]["n_kept"] == 1
    assert out[4]["n_paras"] == 0 and out[4]["n_kept"] == 0
    import hashlib

    assert out[4]["kept_fp"] == hashlib.md5(b"").hexdigest()
    assert out[1]["kept_fp"] == hashlib.md5(b"only in one").hexdigest()
    # a WITHIN-doc repeat is not a cross-doc duplicate: stays
    df2 = spark.createDataFrame(
        [(1, ["twice", "twice"]), (2, ["other"])],
        "doc_id long, ps array<string>",
    )
    out2 = {
        r["doc_id"]: r
        for r in paragraph_dedup(df2, F.col("ps")).collect()
    }
    assert out2[1]["n_kept"] == 2


def test_word_blocks_unit(spark):
    from pyspark.sql import functions as F

    from variant_load_pipeline_spark.functions.text import word_blocks

    df = spark.createDataFrame(
        [
            (1, "a b c d e f g"),
            (2, "one two"),
            (3, ""),
            (4, None),
        ],
        "id long, text string",
    )
    got = {
        r["id"]: r["b"]
        for r in df.select("id", word_blocks(F.col("text"), 3).alias("b")).collect()
    }
    assert got[1] == ["a b c", "d e f", "g"]
    assert got[2] == ["one two"]
    assert got[3] == [] and got[4] == []


def test_dup_spans_cross_doc_only(spark):
    from variant_load_pipeline_spark.operators.dedup import dup_spans

    df = spark.createDataFrame(
        [
            # docs 1/2 share the 5-gram "q w e r t"; doc 3 is disjoint
            (1, "q w e r t y u"),
            (2, "z q w e r t"),
            (3, "alpha beta gamma delta epsilon zeta"),
            (4, "too short"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in dup_spans(df, k=5).collect()}
    assert out[1]["n_spans"] == 3 and out[1]["n_dup_spans"] == 1
    assert out[2]["n_spans"] == 2 and out[2]["n_dup_spans"] == 1
    assert out[3]["n_dup_spans"] == 0
    assert out[4]["n_spans"] == 0 and out[4]["dup_span_ratio"] == 0.0


def test_gopher_rules_fire_individually(spark):
    from pyspark.sql import functions as F

    from variant_load_pipeline_spark.functions.text import (
        gopher_columns,
        gopher_pass,
    )

    good = " ".join(
        ["the", "be", "to", "of", "and", "that", "have", "with"]
        + ["word"] * 50
    )
    rows = [
        (1, good),  # passes everything
        (2, "the be of " + "word " * 47),  # < 2 is wrong: has 3 stops, passes
        (3, "word " * 60),  # no stopwords -> fail
        (4, good + " ####### ### ####"),  # symbol ratio -> fail
        (5, "xy " * 30),  # < 50 words -> fail
        (6, good.replace("word", "supercalifragilistic")),  # mean len -> fail
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    g = gopher_columns(F.col("text"))
    out = {
        r["doc_id"]: r
        for r in df.select(
            "doc_id", g["n_words"].alias("nw"), gopher_pass(g).alias("p")
        ).collect()
    }
    assert out[1]["p"] == "T"
    assert out[2]["p"] == "T"
    assert out[3]["p"] == "F"
    assert out[4]["p"] == "F"
    assert out[5]["p"] == "F"
    assert out[6]["p"] == "F"


def test_kmeans_deterministic_and_tiebreak(spark):
    from variant_load_pipeline_spark.operators.clustering import (
        assign_clusters,
        int_vectors,
        kmeans_fit_assign,
    )
    from pyspark.sql import functions as F

    # two obvious blobs around (0,0) and (10,10)
    rows = [
        (0, [0.1, 0.2]), (1, [0.0, -0.1]), (2, [0.2, 0.0]),
        (3, [10.0, 10.1]), (4, [9.9, 10.0]), (5, [10.2, 9.8]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = kmeans_fit_assign(df, k=2, iters=2)
    got = {r["vec_id"]: r["cluster"] for r in out.collect()}
    assert got[0] == got[1] == got[2]
    assert got[3] == got[4] == got[5]
    assert got[0] != got[3]
    # repartitioning must not change the fit (determinism)
    out2 = kmeans_fit_assign(df.repartition(5), k=2, iters=2)
    assert {r["vec_id"]: r["cluster"] for r in out2.collect()} == got
    # identical centroids -> the SMALLEST cluster id wins the tie
    q = df.select("vec_id", int_vectors(F.col("embedding")).alias("qv"))
    tied = assign_clusters(q, [(3, [0, 0]), (7, [0, 0])])
    assert {r["cluster"] for r in tied.collect()} == {3}


def test_semdedup_pairs_within_cluster_only(spark):
    from variant_load_pipeline_spark.operators.clustering import (
        kmeans_fit_assign,
        semdedup_pairs,
    )

    # near-dup pair inside blob A; a cross-blob pair that would pass the
    # threshold cannot exist (blobs are orthogonal-ish), and a planted
    # high-cos pair split across blobs must NOT be emitted
    rows = [
        (0, [1.0, 0.0, 0.0]), (1, [0.99, 0.01, 0.0]),   # blob A near-dup
        (2, [0.0, 1.0, 0.0]), (3, [0.0, 0.99, 0.01]),   # blob B near-dup
        (4, [0.7, 0.7, 0.0]),                            # between blobs
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    assigned = kmeans_fit_assign(df, k=2, iters=2)
    pairs = {
        (r["id_a"], r["id_b"]) for r in semdedup_pairs(
            assigned, threshold=0.9
        ).collect()
    }
    assert (0, 1) in pairs and (2, 3) in pairs
    # vec 4 has cos ~0.7 to everything -> below threshold, never paired
    assert all(4 not in p for p in pairs)
    # cross-cluster pairs are structurally excluded
    cl = {r["vec_id"]: r["cluster"] for r in assigned.collect()}
    for a, b in pairs:
        assert cl[a] == cl[b]


def test_temperature_mixing_rates_and_determinism(spark):
    from variant_load_pipeline_spark.operators.sampling import (
        temperature_mixing_sample,
    )

    rows = [(i, "big" if i < 90 else "small") for i in range(100)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = temperature_mixing_sample(
        df, stratum_col="source", key_col="doc_id", target_frac=0.5,
        alpha=0.5, salt="t",
    )
    got = {(r["doc_id"]): (r["keep_prob"], r["keep"]) for r in out.collect()}
    import math

    z = math.sqrt(90) + math.sqrt(10)
    # alpha=0.5 up-weights the small source to a full-keep rate (capped)
    assert got[95][0] == 1.0
    assert got[0][0] == round(0.5 * 100 * (math.sqrt(90) / z) / 90, 6)
    assert all(v[1] == "T" for k, v in got.items() if k >= 90)
    # hash-Bernoulli: identical verdicts under a different partitioning
    out2 = temperature_mixing_sample(
        df.repartition(7), stratum_col="source", key_col="doc_id",
        target_frac=0.5, alpha=0.5, salt="t",
    )
    assert {
        r["doc_id"]: (r["keep_prob"], r["keep"]) for r in out2.collect()
    } == got


def test_unigram_surprisal_ranks_rare_above_common(spark):
    from variant_load_pipeline_spark.functions.text import unigram_surprisal

    df = spark.createDataFrame(
        [
            (1, "common common common common"),
            (2, "common rare"),
            (3, ""),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in unigram_surprisal(df).collect()}
    # corpus: common x5, rare x1 -> N=6, V=2
    import math

    m = lambda p: math.floor(-math.log(p) * 1e6 + 0.5)
    mc, mr = m(6 / 8), m(2 / 8)
    assert out[1]["surprisal_micro"] == 4 * mc
    assert out[2]["surprisal_micro"] == mc + mr
    assert out[2]["mean_surprisal"] > out[1]["mean_surprisal"]
    assert 3 not in out  # empty doc has no tokens, no score


def test_pq_encode_shape_and_adc_sanity(spark):
    import math

    from variant_load_pipeline_spark.operators.clustering import (
        pq_adc_topk,
        pq_fit_encode,
    )
    from pyspark.sql import functions as F

    # 3 well-separated groups in 4-dim, m=2 subspaces: PQ's ADC must rank
    # same-group vectors nearest despite the 8x compression
    import random

    rng = random.Random(7)
    centers = [[0, 0, 0, 0], [10, 10, 10, 10], [-10, 10, -10, 10]]
    rows = []
    for i in range(60):
        c = centers[i % 3]
        rows.append(
            (i, [v + rng.uniform(-0.5, 0.5) for v in c])
        )
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    encoded, codebooks = pq_fit_encode(df, m=2, ksub=4, iters=2)
    assert len(codebooks) == 2
    first = encoded.select("codes").first()["codes"]
    assert len(first) == 2
    qrows = (
        encoded.filter(F.col("vec_id") < 3)
        .select(F.col("vec_id").alias("qid"), "qv")
        .collect()
    )
    top = pq_adc_topk(encoded, qrows, codebooks, k=5).collect()
    by_q: dict = {}
    for r in top:
        by_q.setdefault(r["qid"], []).append(r["nid"])
    for qid, nids in by_q.items():
        # all 5 nearest by ADC are from the query's own group
        assert all(n % 3 == qid % 3 for n in nids), (qid, nids)
    # determinism under repartitioning
    encoded2, cb2 = pq_fit_encode(df.repartition(7), m=2, ksub=4, iters=2)
    assert cb2 == codebooks


# ---------------------------------------------------------------------------
# as-of join (operators/asof_join)
# ---------------------------------------------------------------------------
def _asof_frames(spark):
    left = spark.createDataFrame(
        [
            (1, "u1", 100.0, 10.0),
            (2, "u1", 200.0, 20.0),
            (3, "u1", 300.0, 30.0),
            (4, "u2", 50.0, 40.0),   # no prior right row for u2
            (5, "u3", 500.0, 50.0),  # u3 has no right rows at all
        ],
        ["event_id", "user", "t", "val"],
    ).withColumn("t", F.col("t").cast("timestamp"))
    right = spark.createDataFrame(
        [
            (101, "u1", 100.0, 1.5),   # equal-ts: must match event 1
            (102, "u1", 150.0, 2.5),
            (103, "u1", 150.0, 3.5),   # same ts as 102: larger seq wins
            (104, "u1", 299.0, 4.5),
            (105, "u2", 60.0, 5.5),    # after u2's only left row
        ],
        ["event_id", "user", "t", "val"],
    ).withColumn("t", F.col("t").cast("timestamp"))
    return left, right


def test_asof_backward_semantics(spark):
    from variant_load_pipeline_spark.operators.asof_join import asof_join

    left, right = _asof_frames(spark)
    out = asof_join(
        left, right, on="user", left_ts="t", right_ts="t",
        left_seq="event_id", right_seq="event_id",
        right_cols=["event_id", "val"],
    )
    got = {r["event_id"]: (r["asof_event_id"], r["asof_val"])
           for r in out.collect()}
    assert got[1] == (101, 1.5)      # equality matches
    assert got[2] == (103, 3.5)      # right-stream tie -> larger seq
    assert got[3] == (104, 4.5)
    assert got[4] == (None, None)    # right row is in the future
    assert got[5] == (None, None)    # keyless
    assert out.count() == left.count()


def test_asof_forward_and_tolerance(spark):
    from variant_load_pipeline_spark.operators.asof_join import asof_join

    left, right = _asof_frames(spark)
    fwd = asof_join(
        left, right, on="user", left_ts="t", right_ts="t",
        left_seq="event_id", right_seq="event_id",
        right_cols=["event_id"], direction="forward",
    )
    got = {r["event_id"]: r["asof_event_id"] for r in fwd.collect()}
    assert got[1] == 101             # equality matches forward too
    assert got[2] == 104             # next right at 299
    assert got[3] is None            # nothing at/after 300
    assert got[4] == 105
    # tolerance: event 3 (t=300) matched to 104 (t=299) only within >=1s
    tol = asof_join(
        left, right, on="user", left_ts="t", right_ts="t",
        left_seq="event_id", right_seq="event_id",
        right_cols=["event_id"], tolerance_seconds=0,
    )
    got_tol = {r["event_id"]: r["asof_event_id"] for r in tol.collect()}
    assert got_tol[3] is None        # 1s lag > 0s tolerance
    assert got_tol[1] == 101         # 0s lag survives


def test_asof_plan_has_no_join(spark):
    # the scale contract: one shuffle on the key, a window sweep, NO join
    # node (a range-join formulation would show BroadcastNestedLoop/SortMerge)
    from variant_load_pipeline_spark.operators.asof_join import asof_join

    left, right = _asof_frames(spark)
    out = asof_join(
        left, right, on="user", left_ts="t", right_ts="t",
        right_cols=["val"],
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan
    assert "Window" in plan
    assert plan.count("Exchange") <= 2  # one per union branch at most


def test_quality_percentile_cutoff_property(spark):
    # percentile_disc(0.1): strictly-below-cutoff mass is < 10% per lang,
    # and at-or-above-cutoff (keep='T') mass is >= 90%
    from variant_load_pipeline_spark.queries import registry

    out = registry()["quality_percentile_filter"].spark_fn(
        spark, "/root/testdata/sf0.001"
    )
    rows = out.collect()
    assert rows
    by_lang = {}
    for r in rows:
        by_lang.setdefault(r["lang"], []).append(r)
    for lang, rs in by_lang.items():
        n = len(rs)
        below = sum(1 for r in rs if r["score"] < r["cutoff"])
        kept = sum(1 for r in rs if r["keep"] == "T")
        assert below < 0.1 * n + 1e-9, lang
        assert kept >= 0.9 * n - 1e-9, lang
        assert all((r["keep"] == "T") == (r["score"] >= r["cutoff"]) for r in rs)


def test_count_min_never_underestimates(spark):
    # CMS invariant: estimate >= exact for EVERY term, not only the top-k
    from variant_load_pipeline_spark.queries import registry

    out = registry()["heavy_hitter_terms"].spark_fn(
        spark, "/root/testdata/sf0.001"
    )
    rows = out.collect()
    assert len(rows) == 20
    assert all(r["overestimate"] >= 0 for r in rows)
    assert all(r["cm_estimate"] >= r["exact_count"] for r in rows)
    # heavy hitters on this corpus are far above the collision noise floor:
    # the top term's estimate is within 50% of exact
    top = rows[0]
    assert top["cm_estimate"] <= top["exact_count"] * 1.5


def test_linear_counting_estimate_tracks_exact(spark):
    from variant_load_pipeline_spark.queries import registry

    out = registry()["distinct_ngram_estimate"].spark_fn(
        spark, "/root/testdata/sf0.001"
    )
    for r in out.collect():
        assert 0 < r["occupied"] <= r["m"]
        assert r["occupied"] <= r["exact_distinct"]
        # with occupancy far below saturation the LC estimate is tight
        if r["occupied"] < r["m"] // 2:
            assert abs(r["lc_estimate"] - r["exact_distinct"]) <= max(
                5, 0.05 * r["exact_distinct"]
            )


def test_mmr_select_diversifies_across_clusters(spark):
    # two tight candidate clusters; pure relevance top-3 stays inside
    # cluster A, MMR must cross over to cluster B by step 2 or 3
    from variant_load_pipeline_spark.operators.similarity import mmr_select

    # rel: cluster A = {1,2,3} rel ~ .99, cluster B = {10,11} rel ~ .80
    pool = spark.createDataFrame(
        [(0, 1, 990000), (0, 2, 985000), (0, 3, 980000),
         (0, 10, 800000), (0, 11, 795000)],
        ["qid", "nid", "rel_micro"],
    )
    intra, inter = 999000, 100000
    sims_rows = []
    cl = {1: "A", 2: "A", 3: "A", 10: "B", 11: "B"}
    for a in cl:
        for b in cl:
            if a != b:
                sims_rows.append(
                    (0, a, b, intra if cl[a] == cl[b] else inter)
                )
    sims = spark.createDataFrame(sims_rows, ["qid", "a", "b", "sim_micro"])
    sel = {r["step"]: r["nid"] for r in mmr_select(pool, sims, k=3).collect()}
    assert sel[1] == 1                      # pure relevance first
    assert cl[sel[2]] == "B"                # diversity kicks in
    # step 3 goes back to A: every remaining B/A candidate now has an
    # intra-cluster selected neighbor, so relevance decides -> nid 2
    assert sel[3] == 2
    assert len(set(sel.values())) == 3


def test_mmr_select_tie_breaks_to_smaller_id(spark):
    from variant_load_pipeline_spark.operators.similarity import mmr_select

    pool = spark.createDataFrame(
        [(0, 5, 100), (0, 7, 100), (0, 9, 100)],
        ["qid", "nid", "rel_micro"],
    )
    sims = spark.createDataFrame(
        [(0, a, b, 50) for a in (5, 7, 9) for b in (5, 7, 9) if a != b],
        ["qid", "a", "b", "sim_micro"],
    )
    sel = {r["step"]: r["nid"] for r in mmr_select(pool, sims, k=3).collect()}
    assert sel == {1: 5, 2: 7, 3: 9}


def test_salted_join_equals_plain_join(spark):
    from variant_load_pipeline_spark.operators.windows import salted_join

    rng = random.Random(7)
    left = spark.createDataFrame(
        [(i, rng.choice([0, 0, 0, 1, 2, 3]), float(i)) for i in range(600)],
        ["lid", "k", "v"],
    )
    right = spark.createDataFrame(
        [(0, "hot"), (1, "a"), (2, "b"), (5, "unmatched")], ["k", "tag"]
    )
    for salt in (1, 4, 16):
        got = salted_join(left, right, on="k", salt=salt).select(
            "lid", "k", "tag"
        )
        exp = left.join(right, "k").select("lid", "k", "tag")
        assert got.exceptAll(exp).count() == 0
        assert exp.exceptAll(got).count() == 0
    # left joins preserve unmatched probe rows exactly once
    lj = salted_join(left, right, on="k", salt=4, how="left")
    assert lj.count() == left.count()
    assert lj.filter(F.col("tag").isNull()).count() == left.filter(
        F.col("k") == 3
    ).count()


def test_zorder_index_bit_interleave(spark):
    import pytest

    from variant_load_pipeline_spark.operators.windows import zorder_index

    df = spark.createDataFrame(
        [(5, 3), (0, 0), (4095, 4095), (1, 0), (0, 1)], ["x", "y"]
    )
    got = {
        (r["x"], r["y"]): r["z"]
        for r in df.withColumn(
            "z", zorder_index([F.col("x"), F.col("y")], bits=12)
        ).collect()
    }

    def morton(x, y):
        z = 0
        for b in range(12):
            z |= ((x >> b) & 1) << (2 * b)
            z |= ((y >> b) & 1) << (2 * b + 1)
        return z

    for (x, y), z in got.items():
        assert z == morton(x, y), (x, y)
    assert got[(5, 3)] == 27
    assert got[(4095, 4095)] == (1 << 24) - 1
    with pytest.raises(ValueError):
        zorder_index([F.col("x")])
    with pytest.raises(ValueError):
        zorder_index([F.col("x"), F.col("y")], bits=32)


def test_zorder_buckets_are_local_rectangles(spark):
    # the layout property the operator exists for: bucketing by the top
    # z bits yields small rectangles on BOTH dims, unlike bucketing by a
    # single column which leaves the other dimension unconstrained
    from variant_load_pipeline_spark.operators.windows import zorder_index

    rng = random.Random(11)
    pts = [(rng.randrange(4096), rng.randrange(4096)) for _ in range(4000)]
    df = spark.createDataFrame(pts, ["x", "y"]).withColumn(
        "z", zorder_index([F.col("x"), F.col("y")], bits=12)
    )
    stats = (
        df.withColumn("bucket", F.shiftright("z", 16))
        .groupBy("bucket")
        .agg(
            (F.max("x") - F.min("x")).alias("sx"),
            (F.max("y") - F.min("y")).alias("sy"),
            F.count(F.lit(1)).alias("n"),
        )
        .filter(F.col("n") > 5)
        .collect()
    )
    assert stats
    for r in stats:
        # 256 buckets over a 4096^2 space: each covers a 256x512 tile
        assert r["sx"] <= 256 and r["sy"] <= 512, r


def test_bpe_merge_application_is_boundary_safe(spark):
    # the fold must merge left-to-right, non-overlapping, and never
    # across token boundaries — the exact cases plain string replace
    # gets wrong ('ba b' must NOT merge 'a b')
    from variant_load_pipeline_spark.queries import registry

    out = registry()["bpe_learn_merges"].spark_fn(
        spark, "/root/testdata/sf0.001"
    )
    rows = out.collect()
    merges = [r for r in rows if r["kind"] == "merge"]
    toks = [r for r in rows if r["kind"] == "token"]
    assert len(merges) == 2 and len(toks) == 15
    assert all(len(m["tok"]) >= 2 for m in merges)
    # the learned merges must actually appear in the final vocabulary
    # (directly, or inside a later merge that consumed them)
    tokset = {t["tok"] for t in toks}
    m1 = merges[0]["tok"]
    assert any(m1 in t for t in tokset | {merges[1]["tok"]})
    # merge counts are corpus-frequency-ordered: step-1 count >= step-2
    assert merges[0]["cnt"] >= merges[1]["cnt"]


def test_funnel_ignores_out_of_order_events(spark, tmp_path):
    # a click BEFORE the signup must not advance the funnel; a purchase
    # before the first qualifying click must not either
    import datetime as dt

    from variant_load_pipeline_spark.queries import registry

    rows = [
        # u1: click(t1) -> signup(t2) -> purchase(t3): click doesn't count,
        # and the purchase (before any qualifying click) doesn't either
        (1, dt.datetime(2024, 1, 1, 0, 0), 1, "click", 1.0),
        (2, dt.datetime(2024, 1, 1, 1, 0), 1, "signup", 1.0),
        (3, dt.datetime(2024, 1, 1, 2, 0), 1, "purchase", 1.0),
        # u2: full ordered funnel
        (4, dt.datetime(2024, 1, 1, 0, 0), 2, "signup", 1.0),
        (5, dt.datetime(2024, 1, 1, 1, 0), 2, "click", 1.0),
        (6, dt.datetime(2024, 1, 1, 2, 0), 2, "purchase", 1.0),
        # u3: never signed up
        (7, dt.datetime(2024, 1, 1, 0, 0), 3, "click", 1.0),
    ]
    src = str(tmp_path / "funnel_events")
    spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long,"
        " event_type string, value double"
    ).write.parquet(f"{src}/events.parquet")
    out = {
        r["user_id"]: r["stage"]
        for r in registry()["events_funnel"].spark_fn(spark, src).collect()
    }
    assert out == {1: 1, 2: 3, 3: 0}


def test_resample_forward_fill_gaps(spark, tmp_path):
    import datetime as dt

    from variant_load_pipeline_spark.queries import registry

    rows = [
        (1, dt.datetime(2024, 1, 1, 0, 10), 1, "view", 5.0),
        # 3-hour gap
        (2, dt.datetime(2024, 1, 1, 3, 40), 1, "view", 9.0),
    ]
    src = str(tmp_path / "rs_events")
    spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long,"
        " event_type string, value double"
    ).write.parquet(f"{src}/events.parquet")
    out = sorted(
        (r["slot"], r["value"], r["gap_filled"])
        for r in registry()["events_resample_ffill"].spark_fn(
            spark, src
        ).collect()
    )
    # 4 hourly slots; middle two forward-filled with 5.0
    assert len(out) == 4
    assert [v for _, v, _ in out] == [5.0, 5.0, 5.0, 9.0]
    assert [g for _, _, g in out] == ["F", "T", "T", "F"]


class TestFullMerge:
    """operators.upsert.merge: Delta-style MERGE as one full-outer join."""

    def _frames(self, spark):
        target = spark.createDataFrame(
            [(1, "a", 10), (2, "b", 20), (3, "c", 30)],
            "k long, name string, score long",
        )
        source = spark.createDataFrame(
            [(2, "B", 200, False), (3, "C", 300, True), (4, "d", 400, False)],
            "k long, name string, score long, del boolean",
        )
        return target, source

    def test_all_arms(self, spark):
        from variant_load_pipeline_spark.operators.upsert import (
            merge,
            merge_source_col,
        )

        target, source = self._frames(spark)
        out = merge(
            target,
            source,
            keys=["k"],
            update_cols=["name", "score"],
            delete_condition=merge_source_col("del"),
        )
        got = {r["k"]: (r["name"], r["score"]) for r in out.collect()}
        # 1: not matched by source -> unchanged; 2: matched update;
        # 3: matched + del -> gone; 4: source-only -> insert
        assert got == {1: ("a", 10), 2: ("B", 200), 4: ("d", 400)}

    def test_no_insert_no_delete(self, spark):
        from variant_load_pipeline_spark.operators.upsert import merge

        target, source = self._frames(spark)
        out = merge(
            target, source, keys=["k"], update_cols=["score"], insert=False
        )
        got = {r["k"]: (r["name"], r["score"]) for r in out.collect()}
        # updates only touch score; no inserts, deletes not requested
        assert got == {1: ("a", 10), 2: ("b", 200), 3: ("c", 300)}

    def test_null_safe_keys(self, spark):
        from variant_load_pipeline_spark.operators.upsert import merge

        target = spark.createDataFrame(
            [(None, 1), (5, 2)], "k long, score long"
        )
        source = spark.createDataFrame(
            [(None, 100)], "k long, score long"
        )
        out = merge(target, source, keys=["k"], update_cols=["score"])
        got = {r["k"]: r["score"] for r in out.collect()}
        # NULL key matches NULL key (eqNullSafe), like the ClinVar dedup
        assert got == {None: 100, 5: 2}


def test_corpus_keeplist_drops_null_text_docs(spark):
    """NULL-text docs carry a NULL fingerprint; the declared oracle's
    inner join on fp drops them, so the operator must too (and must NOT
    dedup distinct NULL-text docs against each other — ADVICE r13)."""
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog", "s0"),
            (2, "the quick brown fox jumps over the lazy dog", "s0"),
            (3, None, "s0"),
            (4, None, "s1"),
        ],
        "doc_id long, text string, source string",
    )
    out = {
        r["doc_id"]: (r["canonical_id"], r["keep"])
        for r in dedup.corpus_keeplist(docs).collect()
    }
    # null-text docs 3 and 4 are absent; 1 survives, 2 is its byte-dup
    assert out == {1: (1, "T"), 2: (1, "F")}


def test_spread_is_scale_adaptive(spark):
    """spread() must repartition a narrow scan up to defaultParallelism
    (single-file local fixtures scan as 1 task) and be a NO-OP when the
    input is already parallel enough -- at corpus scale the round-robin
    Exchange (and its sortBeforeRepartition cost) must disappear."""
    from variant_load_pipeline_spark.queries import spread

    p = spark.sparkContext.defaultParallelism
    narrow = spark.range(0, 100, 1, numPartitions=1)
    out = spread(narrow)
    assert out.rdd.getNumPartitions() == p
    assert sorted(r["id"] for r in out.collect()) == list(range(100))

    wide = spark.range(0, 100, 1, numPartitions=p)
    same = spread(wide)
    assert same is wide  # identical frame, no Exchange added
    wider = spark.range(0, 100, 1, numPartitions=p + 3)
    assert spread(wider) is wider
