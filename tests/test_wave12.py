"""Wave-12 contracts: the BM25 maintenance loop (O(delta) fold, crash
matrix, untouched-bucket byte identity, monitors), the persisted KMV
sketch store's merge law, and the self-acting filtered-ANN strategy
boundary."""

from __future__ import annotations

import pytest
import os
import shutil

from pyspark.sql import functions as F

from variant_load_pipeline_spark import queries as Q
from variant_load_pipeline_spark.operators import lexical as lx

SF = "/root/testdata/sf0.001"
TERMS = ["hash", "join", "vector", "spark", "window"]


def _tree_md5s(root):
    import hashlib

    out = {}
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(dirpath, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = hashlib.md5(
                    fh.read()
                ).hexdigest()
    return out


def _probe(spark, path, k=20):
    return [
        tuple(r)
        for r in lx.bm25_probe_topk(spark, path, TERMS, k=k).collect()
    ]


def _docs(spark):
    return Q.load(spark, SF, "documents").select("doc_id", "text")


def _build_appended(spark, tmp_path, name="lex"):
    """Seed = doc_id%4 in {0,1}; batches 0/1 = %4==2 / %4==3."""
    d = _docs(spark)
    path = str(tmp_path / name)
    lx.write_bm25_index(d.filter(F.col("doc_id") % 4 < 2), path)
    lx.append_bm25_batch(d.filter(F.col("doc_id") % 4 == 2), path, 0)
    lx.append_bm25_batch(d.filter(F.col("doc_id") % 4 == 3), path, 1)
    return d, path


@pytest.mark.slow
def test_bm25_fold_probe_identical_and_uncommitted_kept(spark, tmp_path):
    """append -> fold -> probe == rebuild -> probe, fold by fold; a
    delta batch above the commit watermark stays in place."""
    d, path = _build_appended(spark, tmp_path)
    full = str(tmp_path / "full")
    lx.write_bm25_index(d, full)
    want = _probe(spark, full)
    assert _probe(spark, path) == want
    # fold batch 0 only; batch 1 is past the commit watermark
    assert lx.compact_bm25_index(spark, path, upto_batch_id=0) == 1
    assert sorted(os.listdir(f"{path}/postings_delta")) == ["batch_id=1"]
    assert _probe(spark, path) == want
    st = spark.read.parquet(f"{path}/stats").collect()
    assert len(st) == 1 and st[0]["folded_upto"] == 0
    # second fold takes the last batch and removes the delta roots
    assert lx.compact_bm25_index(spark, path, upto_batch_id=1) == 1
    for sub in ("postings_delta", "doclen_delta", "stats_delta"):
        assert not os.path.exists(f"{path}/{sub}"), sub
    assert _probe(spark, path) == want
    [st2] = spark.read.parquet(f"{path}/stats").collect()
    assert st2["folded_upto"] == 1 and st2["n_docs"] == d.count()
    # idempotent no-op on an already-compact store
    assert lx.compact_bm25_index(spark, path, upto_batch_id=1) == 0


def test_bm25_fold_untouched_buckets_byte_identical(spark, tmp_path):
    """O(delta) on disk, not just in promise: folding a tiny delta
    rewrites ONLY the term_bucket / doc_bucket partitions it touches —
    every other bucket directory's files stay byte-identical."""
    d = _docs(spark)
    path = str(tmp_path / "lex")
    lx.write_bm25_index(d, path)
    tiny = spark.createDataFrame(
        [(100001, "zebra quokka")], "doc_id long, text string"
    )
    lx.append_bm25_batch(tiny, path, 0)
    touched_post = {
        n.split("=", 1)[1]
        for n in os.listdir(f"{path}/postings_delta/batch_id=0")
        if n.startswith("term_bucket=")
    }
    touched_dl = {
        n.split("=", 1)[1]
        for n in os.listdir(f"{path}/doclen_delta/batch_id=0")
        if n.startswith("doc_bucket=")
    }
    assert touched_post and len(touched_post) <= 2
    before_post = _tree_md5s(f"{path}/postings")
    before_dl = _tree_md5s(f"{path}/doclen")
    assert lx.compact_bm25_index(spark, path, upto_batch_id=0) == 1
    after_post = _tree_md5s(f"{path}/postings")
    after_dl = _tree_md5s(f"{path}/doclen")

    def untouched(tree, touched, prefix):
        return {
            k: v
            for k, v in tree.items()
            if k.split("/", 1)[0].startswith(prefix)
            and k.split("/", 1)[0].split("=", 1)[1] not in touched
        }

    assert untouched(after_post, touched_post, "term_bucket=") == untouched(
        before_post, touched_post, "term_bucket="
    )
    assert untouched(after_dl, touched_dl, "doc_bucket=") == untouched(
        before_dl, touched_dl, "doc_bucket="
    )
    # and the touched partitions actually changed
    assert any(
        k.split("/", 1)[0].split("=", 1)[1] in touched_post
        and before_post.get(k) != v
        for k, v in after_post.items()
        if k.startswith("term_bucket=")
    )
    # folded content is served: the new doc's term is findable
    got = lx.bm25_probe_topk(spark, path, ["zebra"], k=5).collect()
    assert [r["doc_id"] for r in got] == [100001]


def test_bm25_fold_mid_swap_recovery(spark, tmp_path):
    """Crash BETWEEN the swap renames (postings moved aside, new copy
    not in place): the next fold restores and completes."""
    d, path = _build_appended(spark, tmp_path)
    full = str(tmp_path / "full")
    lx.write_bm25_index(d, full)
    want = _probe(spark, full)
    shutil.move(f"{path}/postings", f"{path}/.postings.old")
    os.makedirs(f"{path}/.postings.tmp")
    assert lx.compact_bm25_index(spark, path, upto_batch_id=1) >= 1
    assert os.path.exists(f"{path}/postings")
    assert not os.path.exists(f"{path}/.postings.old")
    assert _probe(spark, path) == want


@pytest.mark.slow
def test_bm25_fold_stale_old_copy_recovery(spark, tmp_path):
    """Crash AFTER the swap but before the old copy's delete: the next
    fold drops the stale copy and proceeds."""
    d, path = _build_appended(spark, tmp_path)
    full = str(tmp_path / "full")
    lx.write_bm25_index(d, full)
    want = _probe(spark, full)
    lx.compact_bm25_index(spark, path, upto_batch_id=0)
    shutil.copytree(f"{path}/postings", f"{path}/.postings.old")
    shutil.copytree(f"{path}/doclen", f"{path}/.doclen.old")
    assert lx.compact_bm25_index(spark, path, upto_batch_id=1) == 1
    assert not os.path.exists(f"{path}/.postings.old")
    assert not os.path.exists(f"{path}/.doclen.old")
    assert _probe(spark, path) == want


def test_bm25_fold_delete_crash_reads_exactly_once(spark, tmp_path):
    """Crash DURING the delete phase (folded batch's partitions back on
    disk beside the folded seed): the stats watermark excludes the
    leftover rows, so the probe reads exactly-once EVEN INSIDE the
    crash window — scores identical, no double-counted stats — and the
    next fold converges the store without re-merging."""
    d, path = _build_appended(spark, tmp_path)
    full = str(tmp_path / "full")
    lx.write_bm25_index(d, full)
    want = _probe(spark, full)
    assert lx.compact_bm25_index(spark, path, upto_batch_id=1) == 2
    # resurrect batch 1's delta partitions (bit-equivalent rows), the
    # delete-crash leftover state
    lx.append_bm25_batch(d.filter(F.col("doc_id") % 4 == 3), path, 1)
    assert _probe(spark, path) == want  # watermark shields the reader
    assert lx.compact_bm25_index(spark, path, upto_batch_id=1) == 0
    for sub in ("postings_delta", "doclen_delta", "stats_delta"):
        assert not os.path.exists(f"{path}/{sub}"), sub
    assert _probe(spark, path) == want


@pytest.mark.slow
def test_bm25_append_after_fold_then_refold(spark, tmp_path):
    """The steady-state cycle: fold, keep appending, fold again —
    probes match the from-scratch build at every step."""
    d = _docs(spark)
    path = str(tmp_path / "lex")
    lx.write_bm25_index(d.filter(F.col("doc_id") % 4 < 2), path)
    lx.append_bm25_batch(d.filter(F.col("doc_id") % 4 == 2), path, 0)
    lx.compact_bm25_index(spark, path, upto_batch_id=0)
    lx.append_bm25_batch(d.filter(F.col("doc_id") % 4 == 3), path, 1)
    full = str(tmp_path / "full")
    lx.write_bm25_index(d, full)
    want = _probe(spark, full)
    assert _probe(spark, path) == want
    assert lx.compact_bm25_index(spark, path, upto_batch_id=1) == 1
    assert _probe(spark, path) == want


@pytest.mark.slow
def test_bm25_clean_append_probe_has_no_dedup(spark, tmp_path):
    """r13 optimization contract: on a CLEAN appended store (no fold in
    progress) the probe plans no Deduplicate — the defensive
    dropDuplicates is gated on the fold's crash-window marker, so the
    steady state pays neither of its exchanges and keeps the
    term_bucket partition prune on the seed scan."""
    _d, path = _build_appended(spark, tmp_path)
    df = lx.bm25_probe_topk(spark, path, TERMS)
    # Deduplicate survives only in the analyzed plan (the optimizer
    # rewrites it to Aggregate, hiding it from later plan stages)
    ana = df._jdf.queryExecution().analyzed().toString()
    assert "Deduplicate" not in ana, ana
    plan = spark._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "PartitionFilters: [term_bucket" in plan.replace(
        "PartitionFilters: [isnotnull(term_bucket), term_bucket",
        "PartitionFilters: [term_bucket",
    ), plan


def test_bm25_fold_swap_crash_window_marker_dedups(spark, tmp_path):
    """The swap-crash window (buckets swapped, folded deltas NOT yet
    deleted, watermark NOT yet advanced): folded rows exist in both the
    seed and a delta batch above the watermark.  The window leaves the
    .folding marker on disk, so the probe dedups and stays exact, and
    the drift monitor's anti-join keeps df_cur from double-counting;
    the next fold converges the store and retires the marker."""
    d = _docs(spark)
    path = str(tmp_path / "lexw")
    # seed that already CONTAINS batch 2's rows (as a completed swap
    # would), plus the leftover not-yet-deleted delta for batch 2.  In
    # the real window the STATS are still the pre-swap additive state
    # (seed row + delta rows = exact totals) — replicated here by a
    # seed built over all docs with the duplicate batch's stats delta
    # removed, so only postings/doclen are double-served
    lx.write_bm25_index(d, path)
    lx.append_bm25_batch(d.filter(F.col("doc_id") % 4 == 3), path, 2)
    shutil.rmtree(f"{path}/stats_delta")
    full = str(tmp_path / "fullw")
    lx.write_bm25_index(d, full)
    want = _probe(spark, full)
    # without the marker this state double-serves batch 2's postings
    assert _probe(spark, path) != want
    os.makedirs(f"{path}/{lx.FOLD_MARKER}", exist_ok=True)
    df = lx.bm25_probe_topk(spark, path, TERMS)
    ana = df._jdf.queryExecution().analyzed().toString()
    assert "Deduplicate" in ana
    assert _probe(spark, path) == want
    # windowed drift monitor: every delta doc is already in the seed,
    # so df_cur must equal df_seed (no double count)
    rep = lx.bm25_idf_drift(spark, path).collect()
    assert all(r["df_cur"] == r["df_seed"] for r in rep), rep
    # the fold converges the store and closes the window
    lx.compact_bm25_index(spark, path, upto_batch_id=2)
    assert not os.path.exists(f"{path}/{lx.FOLD_MARKER}")
    assert _probe(spark, path) == want


def test_bm25_append_rejects_negative_batch_id(spark):
    import pytest

    d = _docs(spark).limit(1)
    with pytest.raises(ValueError):
        lx.append_bm25_batch(d, "/tmp/never", -1)


@pytest.mark.slow
def test_bm25_idf_drift_monitor_resets_after_fold(spark, tmp_path):
    """The drift report scores exactly the delta vocabulary, df_cur =
    df_seed + delta df for shared terms, and the report empties after
    the fold (the monitor's reset state, like the IVF retrain test)."""
    d, path = _build_appended(spark, tmp_path)
    rep = lx.bm25_idf_drift(spark, path, top_n=10).collect()
    assert rep and all(r["drift_micro"] >= 0 for r in rep)
    assert [r["rk"] for r in rep] == list(range(1, len(rep) + 1))
    # spot-check one term's df arithmetic against the corpus
    from variant_load_pipeline_spark.functions.text import normalize_text

    t0 = rep[0]["term"]
    seen = (
        _docs(spark)
        .select(
            "doc_id",
            F.explode(
                F.split(
                    normalize_text(F.coalesce(F.col("text"), F.lit(""))),
                    " ",
                )
            ).alias("term"),
        )
        .filter(F.col("term") == t0)
        .select("doc_id")
        .distinct()
    )
    df_seed = seen.filter(F.col("doc_id") % 4 < 2).count()
    df_cur = seen.count()
    assert (rep[0]["df_seed"], rep[0]["df_cur"]) == (df_seed, df_cur)
    lx.compact_bm25_index(spark, path, upto_batch_id=1)
    assert lx.bm25_idf_drift(spark, path).count() == 0


@pytest.mark.slow
def test_bm25_bucket_skew_dense_spine_and_shares(spark, tmp_path):
    d, path = _build_appended(spark, tmp_path)
    rows = lx.bm25_bucket_skew(spark, path).collect()
    assert len(rows) == lx.N_BUCKETS
    assert [r["term_bucket"] for r in rows] == list(range(lx.N_BUCKETS))
    total = sum(r["total_rows"] for r in rows)
    assert total == sum(r["seed_rows"] + r["delta_rows"] for r in rows)
    # shares sum to ~1e6 (rounding), skew averages ~1e6
    assert abs(sum(r["share_micro"] for r in rows) - 1_000_000) < 64
    # after the fold the delta column empties, totals persist
    lx.compact_bm25_index(spark, path, upto_batch_id=1)
    rows2 = lx.bm25_bucket_skew(spark, path).collect()
    assert all(r["delta_rows"] == 0 for r in rows2)
    assert sum(r["total_rows"] for r in rows2) == total


@pytest.mark.slow
def test_cli_corpus_lex_index_compact_and_usage(spark, tmp_path):
    import pytest

    from variant_load_pipeline_spark.cli import main

    d, path = _build_appended(spark, tmp_path)
    full = str(tmp_path / "full")
    lx.write_bm25_index(d, full)
    want = _probe(spark, full)
    out = str(tmp_path / "report")
    with pytest.raises(SystemExit):  # --compact without --batch-id
        main(
            ["--tool", "CorpusLexIndex", "--compact", path, "--out", out],
            spark,
        )
    with pytest.raises(SystemExit):  # neither --docs nor --batch
        main(["--tool", "CorpusLexIndex", "--out", out], spark)
    main(
        ["--tool", "CorpusLexIndex", "--compact", path, "--batch-id", "1",
         "--out", out],
        spark,
    )
    assert {
        (r["store"], r["folded"])
        for r in spark.read.parquet(out).collect()
    } == {("bm25", 2)}
    assert not os.path.exists(f"{path}/postings_delta")
    assert _probe(spark, path) == want


# ---------------------------------------------------------------------------
# KMV sketch store
# ---------------------------------------------------------------------------


def test_kmv_store_merge_law_and_redelivery(spark, tmp_path):
    """bottom_k(A ∪ B) == bottom_k(bottom_k(A) ∪ bottom_k(B)): the
    store read after seed+append equals the from-scratch sketch of the
    full corpus exactly, and re-appending the same batch (redelivery)
    changes nothing."""
    from variant_load_pipeline_spark.operators import sketches as sx

    d = Q.load(spark, SF, "documents")
    path = str(tmp_path / "kmv")
    k = 32
    sx.write_kmv_sketches(d.filter(F.col("doc_id") % 2 == 0), path, k=k)
    sx.append_kmv_batch(d.filter(F.col("doc_id") % 2 == 1), path, 0, k=k)
    got = sorted(
        (r["source"], r["h"])
        for r in sx.read_kmv_sketches(spark, path, k=k).collect()
    )
    want = sorted(
        (r["source"], r["h"])
        for r in sx._source_bottom_k(d, k, "text", "source").collect()
    )
    assert got == want and got
    # redelivery: same batch id overwrites its own partition only
    sx.append_kmv_batch(d.filter(F.col("doc_id") % 2 == 1), path, 0, k=k)
    got2 = sorted(
        (r["source"], r["h"])
        for r in sx.read_kmv_sketches(spark, path, k=k).collect()
    )
    assert got2 == got


def test_kmv_delta_only_store_bootstraps(spark, tmp_path):
    """A delta-only KMV store (append before any seed write — the
    LSM-style bootstrap every other store supports) must serve reads
    and fold into a first seed, matching the from-scratch sketch."""
    from variant_load_pipeline_spark.operators import sketches as sx

    d = Q.load(spark, SF, "documents")
    path = str(tmp_path / "kmvd")
    k = 32
    sx.append_kmv_batch(d.filter(F.col("doc_id") % 2 == 0), path, 0, k=k)
    sx.append_kmv_batch(d.filter(F.col("doc_id") % 2 == 1), path, 1, k=k)
    full = str(tmp_path / "kmvf")
    sx.write_kmv_sketches(d, full, k=k)
    want = sorted(
        tuple(r) for r in sx.read_kmv_sketches(spark, full, k=k).collect()
    )
    got = sorted(
        tuple(r) for r in sx.read_kmv_sketches(spark, path, k=k).collect()
    )
    assert got == want
    # first fold creates the seed from deltas alone
    assert sx.compact_kmv_sketches(spark, path, 1, k=k) == 2
    assert os.path.exists(f"{path}/sketches")
    assert not os.path.exists(f"{path}/sketches_delta")
    got2 = sorted(
        tuple(r) for r in sx.read_kmv_sketches(spark, path, k=k).collect()
    )
    assert got2 == want


@pytest.mark.slow
def test_kmv_fold_is_estimate_invisible(spark, tmp_path):
    """compact_kmv_sketches: seed ∪ committed deltas re-bottom-k'd into
    one generation — pair estimates identical before/after, uncommitted
    batches stay, a delete-crash leftover collapses in the reader's
    DISTINCT, and the CorpusCompact --kmv CLI drives it."""
    from variant_load_pipeline_spark.cli import main
    from variant_load_pipeline_spark.operators import sketches as sx

    d = Q.load(spark, SF, "documents")
    path = str(tmp_path / "kmv")
    k = 32
    sx.write_kmv_sketches(d.filter(F.col("doc_id") % 4 == 0), path, k=k)
    sx.append_kmv_batch(d.filter(F.col("doc_id") % 4 == 1), path, 0, k=k)
    sx.append_kmv_batch(d.filter(F.col("doc_id") % 4 == 2), path, 1, k=k)
    est = lambda: sorted(  # noqa: E731
        tuple(r)
        for r in sx.kmv_pair_estimates(
            sx.read_kmv_sketches(spark, path, k=k), k=k
        ).collect()
    )
    before = est()
    assert sx.compact_kmv_sketches(spark, path, 0, k=k) == 1
    assert sorted(os.listdir(f"{path}/sketches_delta")) == ["batch_id=1"]
    assert est() == before
    # delete-crash leftover: re-append folded batch 0 — DISTINCT absorbs
    sx.append_kmv_batch(d.filter(F.col("doc_id") % 4 == 1), path, 0, k=k)
    assert est() == before
    out = str(tmp_path / "report")
    main(
        ["--tool", "CorpusCompact", "--kmv", path, "--batch-id", "1",
         "--out", out],
        spark,
    )
    assert {
        (r["store"], r["folded"])
        for r in spark.read.parquet(out).collect()
    } == {("kmv", 2)}
    assert not os.path.exists(f"{path}/sketches_delta")
    assert est() == before


def test_kmv_probe_matches_direct_estimators(spark, tmp_path):
    """The store-only pair estimates equal the estimator columns of the
    from-scratch computation (kmv_sketch_intersection's math) on every
    pair."""
    from variant_load_pipeline_spark.operators import sketches as sx

    d = Q.load(spark, SF, "documents")
    path = str(tmp_path / "kmv")
    sx.write_kmv_sketches(d.filter(F.col("doc_id") % 2 == 0), path)
    sx.append_kmv_batch(d.filter(F.col("doc_id") % 2 == 1), path, 0)
    probe = {
        (r["source_a"], r["source_b"]): (
            r["k_eff"], r["m"], r["theta_h"], r["est_inter"], r["est_union"]
        )
        for r in sx.kmv_pair_estimates(
            sx.read_kmv_sketches(spark, path)
        ).collect()
    }
    direct = {
        (r["source_a"], r["source_b"]): (
            r["k_eff"], r["m"], r["theta_h"], r["est_inter"], r["est_union"]
        )
        for r in Q.registry()["kmv_sketch_intersection"]
        .spark_fn(spark, SF)
        .collect()
    }
    assert probe == direct and probe


# ---------------------------------------------------------------------------
# Self-acting filtered ANN
# ---------------------------------------------------------------------------


def _fa_result(spark, path, e, pred, strategy, nprobe, k=5):
    from variant_load_pipeline_spark.operators.clustering import (
        ivf_probe_batch,
        read_ivf_lists,
    )
    from variant_load_pipeline_spark.operators.similarity import cosine
    from pyspark.sql.window import Window as W

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
                "qid", "nid",
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
                "qid", "nid",
                F.round(cosine(F.col("nv"), F.col("qv")), 6).alias("sim"),
            )
        )
    wnd = W.partitionBy("qid").orderBy(F.col("sim").desc(), "nid")
    return sorted(
        tuple(r)
        for r in sims.withColumn("rk", F.row_number().over(wnd))
        .filter(F.col("rk") <= k)
        .collect()
    )


def test_choose_filtered_probe_boundary_goldens(spark, tmp_path):
    """The strategy switch at needed >= n_lists, pinned on both sides:
    a permissive predicate routes to 'probe' with the computed nprobe,
    a 1e-2-selective one routes to 'exact', zero survivors route to
    'exact' — and on each side the auto result equals the forced-
    strategy result (the IVF literal/join boundary-golden template)."""
    from variant_load_pipeline_spark.operators.clustering import (
        choose_filtered_probe,
        write_ivf_index,
    )

    e = Q.load(spark, SF, "embeddings")  # 500 vecs, 10 lists
    path = str(tmp_path / "ivf")
    write_ivf_index(e, path)
    k, safety = 5, 3

    # permissive: 125 survivors -> needed = ceil(150/125) = 2 < 10
    pred_loose = F.col("vec_id") % 4 == 0
    assert choose_filtered_probe(spark, path, pred_loose, k, safety) == (
        "probe", 2,
    )
    # selective (1e-2): 5 survivors -> needed = 30 >= 10 -> exact
    pred_tight = F.col("vec_id") % 100 == 0
    assert choose_filtered_probe(spark, path, pred_tight, k, safety) == (
        "exact", None,
    )
    # empty: no survivors -> exact short-circuit
    assert choose_filtered_probe(
        spark, path, F.col("vec_id") < 0, k, safety
    ) == ("exact", None)

    # single-query auto surface == the forced strategy on each side
    from variant_load_pipeline_spark.operators.clustering import (
        ivf_probe_topk,
        ivf_probe_topk_filtered,
    )

    qv = [float(x) for x in e.select("embedding").first()["embedding"]]
    rows = lambda df: [tuple(r) for r in df.collect()]  # noqa: E731
    # loose side: auto == manual probe at the computed nprobe=2
    assert rows(
        ivf_probe_topk_filtered(spark, path, qv, k=k, predicate=pred_loose)
    ) == rows(
        ivf_probe_topk(
            spark, path, qv, nprobe=2, k=k, predicate=pred_loose
        )
    )
    # tight side: auto == exact brute force over the filtered subset
    exact_tight = _fa_result(spark, path, e, pred_tight, "exact", None, k)
    # the 1e-2-selective predicate still returns k survivors per anchor
    # (5 anchors x min(k, survivors) rows; exact scoring is lossless)
    per_q: dict[int, int] = {}
    for qid, *_ in exact_tight:
        per_q[qid] = per_q.get(qid, 0) + 1
    assert per_q and all(v == k for v in per_q.values())
    got_tight = rows(
        ivf_probe_topk_filtered(spark, path, qv, k=k, predicate=pred_tight)
    )
    assert len(got_tight) == k
    assert all(r[0] % 100 == 0 for r in got_tight)


def test_ann_filtered_auto_query_matches_exact_fallback(spark):
    """At sf0.001 the registered row's decision lands on the exact
    branch (needed = 30 >= 10 lists); its rows must equal brute-force
    cosine top-5 over the filtered survivors."""
    from variant_load_pipeline_spark.operators.similarity import cosine
    from pyspark.sql.window import Window as W

    got = sorted(
        tuple(r)
        for r in Q.registry()["ann_filtered_auto_topk"]
        .spark_fn(spark, SF)
        .collect()
    )
    e = Q.load(spark, SF, "embeddings")
    anchors = e.filter(F.col("vec_id") % 100 == 1).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").cast("array<double>").alias("qv"),
    )
    surv = e.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("nid"),
        F.col("embedding").cast("array<double>").alias("nv"),
    )
    wnd = W.partitionBy("qid").orderBy(F.col("sim").desc(), "nid")
    want = sorted(
        tuple(r)
        for r in surv.crossJoin(F.broadcast(anchors))
        .filter(F.col("nid") != F.col("qid"))
        .select(
            "qid", "nid",
            F.round(cosine(F.col("nv"), F.col("qv")), 6).alias("sim"),
        )
        .withColumn("rk", F.row_number().over(wnd))
        .filter(F.col("rk") <= 5)
        .select("qid", "nid", "sim", F.col("rk").cast("long").alias("rk"))
        .collect()
    )
    assert got == want and got


# ---------------------------------------------------------------------------
# Ingest-door lexical stage + RHO gate updates
# ---------------------------------------------------------------------------

_W0 = (
    "alpha bravo charlie delta echo foxtrot golf hotel india juliet "
    "kilo lima mike november oscar papa quebec romeo sierra tango"
)
_W1 = (
    "red orange yellow green blue indigo violet crimson scarlet amber "
    "gold silver bronze copper iron steel titanium cobalt nickel zinc"
)


def _doc(spark, doc_id, text):
    return spark.createDataFrame(
        [(doc_id, text)], "doc_id long, text string"
    )


@pytest.mark.slow
def test_ingest_door_lexical_stage(spark, tmp_path):
    """The fifth sink stage: FINAL survivors' postings append into the
    BM25 store in the same batch (delta-only bootstrap — no seed), a
    gate-dropped doc never enters the postings, redelivery overwrites
    its own partitions, and a later fold creates the seed with probes
    unchanged."""
    from variant_load_pipeline_spark.streaming import ingest as ing

    idx = str(tmp_path / "idx")
    kept = str(tmp_path / "kept")
    grams = str(tmp_path / "grams")
    lex = str(tmp_path / "lex")
    bench = "apple banana cherry damson elderberry fig grape honeydew"
    ing.write_benchmark_grams(_doc(spark, 900, bench), grams, k=4)
    ing.seed_lsh_ingest(_doc(spark, 1, _W0), idx)
    sink = ing.corpus_ingest_sink(
        spark, idx, kept, grams_path=grams, lex_index_path=lex
    )
    contaminated = "apple banana cherry damson " + _W0.replace(
        "alpha", "omega"
    )
    batch = spark.createDataFrame(
        [(10, contaminated), (11, _W1)], "doc_id long, text string"
    )
    sink(batch, 0)
    assert {
        r["doc_id"] for r in ing.read_kept(spark, kept).collect()
    } == {11}
    # only the survivor's postings entered the (delta-only) store
    post = spark.read.parquet(f"{lex}/postings_delta")
    assert {r["doc_id"] for r in post.collect()} == {11}
    assert not os.path.exists(f"{lex}/postings")
    got = lx.bm25_probe_topk(spark, lex, ["titanium"], k=5).collect()
    assert [r["doc_id"] for r in got] == [11]
    assert lx.bm25_probe_topk(spark, lex, ["apple"], k=5).count() == 0
    # redelivery: the batch overwrites its own partitions, probe stable
    sink(batch, 0)
    assert lx.bm25_probe_topk(spark, lex, ["titanium"], k=5).count() == 1
    # the fold bootstraps the seed from the delta-only store
    assert lx.compact_bm25_index(spark, lex, upto_batch_id=0) == 1
    assert os.path.exists(f"{lex}/postings")
    assert not os.path.exists(f"{lex}/postings_delta")
    got2 = lx.bm25_probe_topk(spark, lex, ["titanium"], k=5).collect()
    assert [(r["doc_id"], r["bm25_micro"]) for r in got2] == [
        (r["doc_id"], r["bm25_micro"]) for r in got
    ]


def test_rho_vocab_scan_prunes_buckets(spark, tmp_path):
    """The RHO gate's vocab scan must prune to the batch's term-hash
    buckets: write_rho_model partitions the vocab by vbucket and
    rho_score_model(prune_buckets=True)'s filter lands in
    PartitionFilters — the per-batch model scan is O(batch's buckets),
    never the whole vocabulary."""
    from variant_load_pipeline_spark.streaming import ingest as ing

    model = str(tmp_path / "rho")
    ing.write_rho_model(
        _docs(spark).filter(F.col("doc_id") < 100), model
    )
    assert any(
        n.startswith("vbucket=") for n in os.listdir(f"{model}/vocab")
    )
    vocab, consts = ing.load_rho_model(spark, model)
    batch = _doc(spark, 7, "alpha bravo zulu")
    scored = ing.rho_score_model(
        vocab, consts, batch, prune_buckets=True
    )
    plan = spark._sc._jvm.PythonSQLUtils.explainString(
        scored._jdf.queryExecution(), "formatted"
    )
    pf = [
        ln
        for ln in plan.splitlines()
        if "PartitionFilters" in ln and "vbucket" in ln
    ]
    assert pf, plan
    # the prune is an IN over at most 3 buckets (3 distinct terms)
    assert "vbucket" in pf[0] and " IN " in pf[0], pf[0]
    # and pruned scoring equals unpruned scoring
    unpruned = ing.rho_score_model(vocab, consts, batch)
    assert sorted(tuple(r) for r in scored.collect()) == sorted(
        tuple(r) for r in unpruned.collect()
    )


def test_rho_gate_zero_token_contract(spark, tmp_path):
    """Token-less docs carry a vacuous excess of 0: kept at
    min_excess_micro <= 0, dropped above — the coalesce-to-0 semantics
    of the 'keep >= threshold' contract, in both the solo gate and the
    composed door."""
    from variant_load_pipeline_spark.streaming import ingest as ing

    model = str(tmp_path / "rho")
    # pool (even id) memorizes _W0; reference (odd id) holds _W1
    ing.write_rho_model(
        _doc(spark, 0, _W0).union(_doc(spark, 1, _W1)), model
    )
    batch = spark.createDataFrame(
        [(50, "  "), (51, _W1), (52, _W0)], "doc_id long, text string"
    )
    kept0 = str(tmp_path / "kept0")
    ing.rho_gate_sink(spark, model, kept0, min_excess_micro=0)(batch, 0)
    assert {
        r["doc_id"] for r in ing.read_kept(spark, kept0).collect()
    } == {50, 51}  # token-less kept at 0; memorized pool doc dropped
    kept1 = str(tmp_path / "kept1")
    ing.rho_gate_sink(spark, model, kept1, min_excess_micro=1)(batch, 0)
    got1 = {r["doc_id"] for r in ing.read_kept(spark, kept1).collect()}
    assert 50 not in got1  # cannot clear a positive threshold
    assert 52 not in got1


def test_cli_corpus_lex_search_filtered(spark, tmp_path):
    """CorpusLexSearch --filter-mod: every hit satisfies the predicate,
    scores equal the unfiltered probe's for surviving docs (IDF stays
    corpus-wide — pre-filtering restricts candidates, never the
    relevance model), and --filter-mod 0 is rejected."""
    import pytest

    from variant_load_pipeline_spark.cli import main

    d = _docs(spark)
    idx = str(tmp_path / "lex")
    lx.write_bm25_index(d, idx)
    hits = str(tmp_path / "hits")
    with pytest.raises(SystemExit):
        main(
            ["--tool", "CorpusLexSearch", "--index", idx,
             "--terms", *TERMS, "--filter-mod", "0", "--out", hits],
            spark,
        )
    main(
        ["--tool", "CorpusLexSearch", "--index", idx,
         "--terms", *TERMS, "--k", "10", "--filter-mod", "3",
         "--out", hits],
        spark,
    )
    got = spark.read.parquet(hits).collect()
    assert got and all(r["doc_id"] % 3 == 0 for r in got)
    unfiltered = {
        r["doc_id"]: r["bm25_micro"]
        for r in lx.bm25_probe_topk(spark, idx, TERMS, k=500).collect()
    }
    assert all(unfiltered[r["doc_id"]] == r["bm25_micro"] for r in got)


def test_cli_corpus_search_auto_and_filter_mod_validation(spark, tmp_path):
    """CorpusSearch without --nprobe + --filter-mod routes through the
    self-acting strategy (here: exact fallback — every survivor ranked,
    k rows back); --filter-mod 0 is rejected loudly."""
    import pytest

    from variant_load_pipeline_spark.cli import main
    from variant_load_pipeline_spark.operators.clustering import (
        write_ivf_index,
    )

    e = Q.load(spark, SF, "embeddings")
    emb = f"{SF}/embeddings.parquet"
    idx = str(tmp_path / "ivf")
    write_ivf_index(e, idx)
    hits = str(tmp_path / "hits")
    with pytest.raises(SystemExit):
        main(
            ["--tool", "CorpusSearch", "--docs", emb, "--index", idx,
             "--query-id", "1", "--filter-mod", "0", "--out", hits],
            spark,
        )
    main(
        ["--tool", "CorpusSearch", "--docs", emb, "--index", idx,
         "--query-id", "1", "--k", "4", "--filter-mod", "100",
         "--out", hits],
        spark,
    )
    got = spark.read.parquet(hits).collect()
    assert len(got) == 4 and all(r["vec_id"] % 100 == 0 for r in got)
    assert sorted(r["rk"] for r in got) == [1, 2, 3, 4]
