"""Streaming tests: batch/stream equivalence on the same transformations."""

from __future__ import annotations

import pytest
import datetime as dt

from pyspark.sql import functions as F
from pyspark.sql import types as T

from variant_load_pipeline_spark.streaming import events as ev
from variant_load_pipeline_spark import queries as Q

SF = "/root/testdata/sf0.001"

SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
    ]
)


def _mk_events(spark):
    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = []
    eid = 0
    for u in (1, 2):
        for minutes in (0, 5, 10, 90, 95, 200):
            rows.append(
                (eid, base + dt.timedelta(minutes=minutes + u), u,
                 "click" if minutes % 10 == 0 else "view", float(minutes))
            )
            eid += 1
    return spark.createDataFrame(rows, SCHEMA)


def test_hourly_rollup_batch(spark):
    df = _mk_events(spark)
    out = {
        (r["window_start"], r["event_type"]): r["n"]
        for r in ev.hourly_rollup(df).collect()
    }
    # hour 0 clicks: base minutes 0 and 10 for each of 2 users
    assert out[("2024-01-01 00:00:00", "click")] == 4
    # sanity: total events preserved
    assert sum(out.values()) == 12


def test_sessionize_batch_gaps(spark):
    df = _mk_events(spark)
    sessions = ev.sessionize_batch(df, gap_minutes=30).collect()
    per_user = {}
    for r in sessions:
        per_user.setdefault(r["user_id"], []).append(r)
    # events at 0,5,10 | 90,95 | 200 -> 3 sessions per user
    for u in (1, 2):
        assert len(per_user[u]) == 3
        sizes = sorted(s["n_events"] for s in per_user[u])
        assert sizes == [1, 2, 3]


def test_stream_matches_batch_rollup(spark, tmp_path):
    df = _mk_events(spark)
    src = str(tmp_path / "events_parquet")
    df.write.parquet(src)

    stream = spark.readStream.schema(SCHEMA).parquet(src)
    out = ev.hourly_rollup(stream)
    q = ev.run_stream_to_memory(out, "rollup_test", output_mode="complete")
    got = {
        (r["window_start"], r["event_type"]): (r["n"], r["total_value"])
        for r in spark.sql("select * from rollup_test").collect()
    }
    exp = {
        (r["window_start"], r["event_type"]): (r["n"], r["total_value"])
        for r in ev.hourly_rollup(df).collect()
    }
    assert got == exp
    q.stop()


def test_stream_sessionize_matches_batch(spark, tmp_path):
    df = _mk_events(spark)
    src = str(tmp_path / "events_parquet2")
    df.write.parquet(src)
    stream = spark.readStream.schema(SCHEMA).parquet(src)
    out = ev.sessionize_stream(stream, gap_minutes=30)
    q = ev.run_stream_to_memory(out, "sess_test", output_mode="complete")
    got = {
        (r["user_id"], r["session_start"]): r["n_events"]
        for r in spark.sql("select * from sess_test").collect()
    }
    exp = {
        (r["user_id"], r["session_start"]): r["n_events"]
        for r in ev.sessionize_batch(df, gap_minutes=30).collect()
    }
    assert got == exp
    q.stop()


def test_stateful_running_totals_matches_batch(spark, tmp_path):
    df = _mk_events(spark)
    src = str(tmp_path / "events_parquet3")
    df.write.parquet(src)
    stream = spark.readStream.schema(SCHEMA).parquet(src)
    out = ev.running_totals_stateful(stream)
    q = ev.run_stream_to_memory(out, "stateful_test", output_mode="update")
    got = {
        r["user_id"]: (r["n_events"], r["total_value"])
        for r in spark.sql(
            "select * from stateful_test"
        ).collect()  # availableNow => one update per user
    }
    exp = {
        r["user_id"]: (r["n"], round(r["total"], 6))
        for r in df.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("total"))
        .collect()
    }
    assert got == exp
    q.stop()


def test_zygosity_style_running_ratio_batch(spark):
    df = _mk_events(spark)
    out = ev.zygosity_style_running_ratio(df).collect()
    # shares within one (window, user) sum to ~100 (integer rounding)
    by_wu = {}
    for r in out:
        by_wu.setdefault((r["window_start"], r["user_id"]), []).append(r["pct"])
    for pcts in by_wu.values():
        assert 98 <= sum(pcts) <= 102


def test_dedup_stream_matches_batch(spark, tmp_path):
    df = _mk_events(spark)
    dup = df.unionByName(df.limit(4))  # re-deliver 4 events
    src = str(tmp_path / "events_dup")
    dup.write.parquet(src)
    stream = spark.readStream.schema(SCHEMA).parquet(src)
    out = ev.dedup_stream(stream, keys=["event_id"])
    q = ev.run_stream_to_memory(out, "dedup_test", output_mode="append")
    got = sorted(
        r["event_id"] for r in spark.sql("select * from dedup_test").collect()
    )
    exp = sorted(r["event_id"] for r in df.collect())
    assert got == exp
    q.stop()


def _write_batches(tmp_path, name, *frames):
    """Write each frame as its own file so maxFilesPerTrigger=1 replays
    them as separate micro-batches in write order (file source orders by
    modification time, oldest first)."""
    import time as _time

    src = str(tmp_path / name)
    for i, f in enumerate(frames):
        f.coalesce(1).write.mode("append").parquet(src)
        if i < len(frames) - 1:
            _time.sleep(1.1)  # distinct mtimes -> stable batch order
    return src


@pytest.mark.slow
def test_dedup_stream_drops_late_duplicates_within_watermark(
    spark, tmp_path
):
    """Batch-twin contract under LATE data: duplicates re-delivered in a
    later micro-batch, timestamps shifted ±90s, still inside the 1-hour
    watermark horizon -> dropped.  Stream result == plain batch
    dropDuplicates on the originals, and every survivor is the ORIGINAL
    arrival (value column marks re-deliveries)."""
    df = _mk_events(spark)
    redelivered = df.select(
        "event_id",
        F.when(
            F.col("event_id") % 2 == 0,
            F.col("ts") - F.expr("INTERVAL 90 SECONDS"),
        )
        .otherwise(F.col("ts") + F.expr("INTERVAL 90 SECONDS"))
        .alias("ts"),
        "user_id",
        "event_type",
        (F.col("value") + 1000).alias("value"),
    )
    src = _write_batches(tmp_path, "late_dup", df, redelivered)
    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    out = ev.dedup_stream(stream, keys=["event_id"], watermark="1 hour")
    q = ev.run_stream_to_memory(out, "late_dup_test", output_mode="append")
    got = {
        r["event_id"]: r["value"]
        for r in spark.sql("select * from late_dup_test").collect()
    }
    exp = {r["event_id"]: r["value"] for r in df.collect()}
    assert got == exp  # no +1000 values: originals won, dups dropped
    q.stop()


@pytest.mark.slow
def test_dedup_stream_reemits_after_watermark_horizon(spark, tmp_path):
    """The honest boundary of dropDuplicatesWithinWatermark: key state is
    PRUNED once the watermark passes ts + delay, so a duplicate arriving
    beyond the horizon is re-emitted as a fresh event.  Four
    micro-batches: original -> watermark advancer (+10h) -> one batch for
    eviction to run under the advanced watermark (state cleanup happens
    at batch END, after input dedup) -> duplicate; the duplicate
    survives."""
    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    b1 = spark.createDataFrame(
        [(1, base, 1, "click", 1.0)], SCHEMA
    )
    b2 = spark.createDataFrame(
        [(99, base + dt.timedelta(hours=10), 2, "view", 2.0)], SCHEMA
    )
    b3 = spark.createDataFrame(
        [(98, base + dt.timedelta(hours=10, minutes=1), 2, "view", 3.0)],
        SCHEMA,
    )
    b4 = spark.createDataFrame(
        [(1, base + dt.timedelta(hours=10, minutes=2), 1, "click", 777.0)],
        SCHEMA,
    )
    src = _write_batches(tmp_path, "horizon_dup", b1, b2, b3, b4)
    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    out = ev.dedup_stream(stream, keys=["event_id"], watermark="1 hour")
    q = ev.run_stream_to_memory(out, "horizon_test", output_mode="append")
    vals = sorted(
        r["value"]
        for r in spark.sql(
            "select * from horizon_test where event_id = 1"
        ).collect()
    )
    assert vals == [1.0, 777.0]  # beyond-horizon duplicate re-emitted
    q.stop()


@pytest.mark.slow
def test_moving_avg_stateful_matches_batch_window(spark, tmp_path):
    """The sliding-frame moving average (events_moving_avg query) and its
    streaming twin (applyInPandasWithState, state = trailing k-1 values)
    must agree row-for-row when the stream replays time-ordered
    micro-batches — state carries the frame across the batch boundary."""
    df = _mk_events(spark)
    first = df.filter(F.col("ts") < dt.datetime(2024, 1, 1, 1, 0, 0))
    second = df.filter(F.col("ts") >= dt.datetime(2024, 1, 1, 1, 0, 0))
    assert first.count() > 0 and second.count() > 0
    src = _write_batches(tmp_path, "mavg_batches", first, second)
    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    out = ev.moving_avg_stateful(stream, k=3)
    q = ev.run_stream_to_memory(out, "mavg_test", output_mode="update")
    got = {
        (r["user_id"], r["event_id"]): r["mavg3"]
        for r in spark.sql("select * from mavg_test").collect()
    }
    from pyspark.sql.window import Window as W

    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-2, W.currentRow)
    )
    exp = {
        (r["user_id"], r["event_id"]): r["mavg3"]
        for r in df.select(
            "user_id",
            "event_id",
            F.round(F.avg("value").over(w), 6).alias("mavg3"),
        ).collect()
    }
    assert got == exp
    q.stop()


def _mk_cf2(spark):
    from variant_load_pipeline_spark.schemas import CF2_SCHEMA

    rows = [
        # chr, position, ref, var, rs, cA, cC, cG, cT, total_depth, hgvs,
        # rgd, allele_depth, allele_count, read_depth, padding
        ("1", 100, "A", "G", "rs1", 5, 0, 25, 0, 30, "h", 1, 25, 1, 30, ""),
        ("1", 5000, "C", "T", "", 0, 10, 0, 10, 20, "h", 2, 10, 1, 20, ""),
        ("2", 777, "G", "A", "", 9, 0, 0, 0, 9, "h", 3, 9, 1, 9, ""),
    ]
    return spark.createDataFrame(rows, CF2_SCHEMA)


def test_variant_load_stream_matches_batch(spark, tmp_path):
    from variant_load_pipeline_spark.plans.load import SampleInfo
    from variant_load_pipeline_spark.streaming.variants import (
        variant_load_stream,
    )

    cf2 = _mk_cf2(spark)
    genes = spark.createDataFrame(
        [(7, "1", 50, 200, 1, "ACTIVE")],
        ["gene_rgd_id", "chromosome", "start_pos", "stop_pos", "map_key",
         "object_status"],
    )
    sample = SampleInfo(sample_id=9, gender="M", map_key=1)

    src = str(tmp_path / "cf2_stream")
    cf2.write.parquet(src)
    stream = spark.readStream.schema(cf2.schema).parquet(src)
    out = variant_load_stream(stream, sample, genes).select(
        "chr", "position", "genic_status", "zygosity_status", "score"
    )
    q = ev.run_stream_to_memory(out, "vload_stream", output_mode="append")
    got = sorted(
        tuple(r) for r in spark.sql("select * from vload_stream").collect()
    )
    exp = sorted(
        tuple(r)
        for r in variant_load_stream(cf2, sample, genes)
        .select("chr", "position", "genic_status", "zygosity_status", "score")
        .collect()
    )
    assert got == exp and len(got) == 3
    by_pos = {r[1]: r[2] for r in got}
    assert by_pos[100] == "GENIC"       # inside gene 50-200
    assert by_pos[5000] == "INTERGENIC"
    assert by_pos[777] == "INTERGENIC"  # other chromosome
    q.stop()


def _genic_reference(variants, genes, use_status):
    """Brute-force containment: GENIC iff some (ACTIVE) gene on the same
    chromosome has start <= pos <= stop; NULLs never match."""
    return {
        vid: "GENIC"
        if chrom is not None and pos is not None and any(
            g_chrom == chrom and g_start <= pos <= g_stop
            and (not use_status or status == "ACTIVE")
            for g_chrom, g_start, g_stop, status in genes
        )
        else "INTERGENIC"
        for vid, chrom, pos in variants
    }


def test_genic_status_matches_brute_force_containment(spark):
    """The bucket probe (the only genic-status code) agrees with a
    brute-force scan of every gene on bin edges, multi-bin and overlapping
    genes, INACTIVE genes, NULL keys and a gene-less chromosome — with and
    without an object_status column."""
    from variant_load_pipeline_spark.plans.load import attach_genic_status

    genes = [
        ("1", 99_990, 100_020, "ACTIVE"),     # straddles the 100 kb bin edge
        ("1", 100_010, 100_100, "ACTIVE"),    # overlaps the gene above
        ("1", 150_000, 420_000, "ACTIVE"),    # spans bins 1..4
        ("1", 600_000, 650_000, "INACTIVE"),
        ("2", 5, 50, "ACTIVE"),
    ]
    positions = [
        1, 99_989, 99_990, 99_999, 100_000, 100_001, 100_020, 100_050,
        100_100, 100_101, 149_999, 150_000, 199_999, 200_000, 300_000,
        400_000, 420_000, 420_001, 600_000, 625_000, 650_000, 650_001,
    ]
    variants = [(i, "1", p) for i, p in enumerate(positions)]
    variants += [
        (100, "2", 5), (101, "2", 51),
        (102, "1", None),       # NULL position
        (103, None, 100_000),   # NULL chromosome
        (104, "7", 100_000),    # chromosome with no genes
    ]
    v = spark.createDataFrame(variants, "vid int, chr string, position long")
    gdf = spark.createDataFrame(
        genes,
        "chromosome string, start_pos long, stop_pos long, object_status string",
    )
    for use_status, g in ((True, gdf), (False, gdf.drop("object_status"))):
        got = {
            r["vid"]: r["genic_status"]
            for r in attach_genic_status(v, g).collect()
        }
        assert got == _genic_reference(variants, genes, use_status), use_status
    # the cases are not vacuous: both outcomes and the INACTIVE switch occur
    ref = _genic_reference(variants, genes, True)
    assert ref[4] == "GENIC" and ref[1] == "INTERGENIC"     # 100_000 / 99_989
    assert ref[14] == "GENIC"                               # 300_000, mid-gene
    assert ref[19] == "INTERGENIC"                          # inside INACTIVE
    assert _genic_reference(variants, genes, False)[19] == "GENIC"


def _mk_asof_events(spark):
    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows, eid = [], 0
    for u in (1, 2):
        for minutes, etype in (
            (0, "error"), (5, "click"), (10, "error"), (10, "click"),
            (70, "click"), (90, "error"), (95, "click"), (200, "click"),
        ):
            rows.append(
                (eid, base + dt.timedelta(minutes=minutes + u), u,
                 etype, float(minutes + eid))
            )
            eid += 1
    return spark.createDataFrame(rows, SCHEMA)


@pytest.mark.slow
def test_asof_stateful_matches_batch_sweep(spark, tmp_path):
    """The streaming as-of twin (state = latest right row per key) must
    match the batch union+window sweep row-for-row when micro-batches
    replay in time order — including matches that CROSS the batch
    boundary (an error in batch 1 matched by a click in batch 2)."""
    from variant_load_pipeline_spark.operators.asof_join import asof_join

    df = _mk_asof_events(spark)
    cut = dt.datetime(2024, 1, 1, 1, 0, 0)
    first = df.filter(F.col("ts") < cut)
    second = df.filter(F.col("ts") >= cut)
    assert first.count() > 0 and second.count() > 0
    # a batch-1 error must be the standing match for a batch-2 click
    assert first.filter(F.col("event_type") == "error").count() > 0
    src = _write_batches(tmp_path, "asof_batches", first, second)
    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    out = ev.asof_stateful(stream, tolerance_seconds=3600)
    q = ev.run_stream_to_memory(out, "asof_test", output_mode="append")
    got = {
        r["event_id"]: (r["asof_ts_us"], r["asof_value"], r["asof_event_id"])
        for r in spark.sql("select * from asof_test").collect()
    }

    clicks = df.filter(F.col("event_type") == "click")
    errors = df.filter(F.col("event_type") == "error")
    exp_df = asof_join(
        clicks, errors, on="user_id",
        left_seq="event_id", right_seq="event_id",
        right_cols=["value", "event_id"],
        tolerance_seconds=3600,
    )
    exp = {
        r["event_id"]: (
            None if r["asof_ts"] is None
            else int(r["asof_ts"].replace(tzinfo=dt.timezone.utc).timestamp() * 1_000_000),
            r["asof_value"],
            r["asof_event_id"],
        )
        for r in exp_df.collect()
    }
    assert set(got) == set(exp)
    for eid in exp:
        assert got[eid] == exp[eid], eid
    # the tolerance actually fired somewhere (the 200-minute click)
    assert any(v[0] is None for v in exp.values())
    # and at least one match crossed the micro-batch boundary
    boundary = {
        r["event_id"] for r in clicks.filter(F.col("ts") >= cut).collect()
    }
    assert any(got[e][0] is not None for e in boundary)
    q.stop()


@pytest.mark.slow
def test_stream_stream_interval_join_matches_batch(spark, tmp_path):
    """Stream-stream interval join (watermark-bounded state) must produce
    the same pair set as the batch range join on the same events —
    including pairs whose two sides arrive in DIFFERENT micro-batches."""
    df = _mk_asof_events(spark)
    clicks = df.filter(F.col("event_type") == "click")
    errors = df.filter(F.col("event_type") == "error")
    cut = dt.datetime(2024, 1, 1, 1, 0, 0)
    src_c = _write_batches(
        tmp_path, "ssj_clicks",
        clicks.filter(F.col("ts") < cut), clicks.filter(F.col("ts") >= cut),
    )
    src_e = _write_batches(
        tmp_path, "ssj_errors",
        errors.filter(F.col("ts") < cut), errors.filter(F.col("ts") >= cut),
    )
    sc = spark.readStream.schema(SCHEMA).option("maxFilesPerTrigger", "1").parquet(src_c)
    se = spark.readStream.schema(SCHEMA).option("maxFilesPerTrigger", "1").parquet(src_e)
    out = ev.interval_join_events(sc, se, lag_seconds=5400)
    q = ev.run_stream_to_memory(out, "ssj_test", output_mode="append")
    got = {
        (r["l_event_id"], r["r_event_id"])
        for r in spark.sql("select * from ssj_test").collect()
    }
    exp_df = ev.interval_join_events(clicks, errors, lag_seconds=5400)
    exp = {
        (r["l_event_id"], r["r_event_id"]) for r in exp_df.collect()
    }
    assert got == exp and exp
    # at least one pair crossed micro-batches (error in b1, click in b2)
    late_clicks = {
        r["event_id"] for r in clicks.filter(F.col("ts") >= cut).collect()
    }
    early_errors = {
        r["event_id"] for r in errors.filter(F.col("ts") < cut).collect()
    }
    assert any(l in late_clicks and r in early_errors for l, r in exp)
    q.stop()


def test_idempotent_sink_survives_redelivery(spark, tmp_path):
    """Replaying the SAME batch id must leave the store unchanged
    (exactly-once effective semantics), and a later batch must supersede
    an earlier row with the same key."""
    path = str(tmp_path / "sink")
    sink = ev.idempotent_batch_sink(path)
    b0 = spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 1), 10, "click", 1.0)], SCHEMA
    )
    b1 = spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 2), 10, "click", 2.0),
         (2, dt.datetime(2024, 1, 2), 11, "view", 3.0)], SCHEMA
    )
    sink(b0, 0)
    sink(b1, 1)
    first = sorted(
        (r["event_id"], r["value"])
        for r in ev.read_sink_latest(spark, path).collect()
    )
    # redeliver batch 1 (restart replay) — store must be unchanged
    sink(b1, 1)
    again = sorted(
        (r["event_id"], r["value"])
        for r in ev.read_sink_latest(spark, path).collect()
    )
    assert first == again
    # event 1 re-emitted in batch 1 supersedes its batch-0 row
    assert dict(again)[1] == 2.0
    assert len(again) == 2
    # raw store holds both generations; the latest-wins view collapses
    assert spark.read.parquet(path).count() == 3


# ---------------------------------------------------------------------------
# Streaming dedup-at-ingest against the persisted LSH index
# ---------------------------------------------------------------------------
_BASE_WORDS = [
    "alpha bravo charlie delta echo foxtrot golf hotel india juliet "
    "kilo lima mike november oscar papa quebec romeo sierra tango "
    "uniform victor whiskey xray yankee zulu one two three four",
    "red orange yellow green blue indigo violet crimson scarlet amber "
    "gold silver bronze copper iron steel titanium cobalt nickel zinc "
    "lead tin mercury chromium platinum sodium calcium neon argon xenon",
    "monday tuesday wednesday thursday friday saturday sunday january "
    "february march april may june july august september october "
    "november december spring summer autumn winter dawn noon dusk night "
    "morning evening",
]


def _doc(spark, doc_id, text):
    return spark.createDataFrame(
        [(doc_id, text)], "doc_id long, text string"
    )


def test_lsh_ingest_dedup_and_index_growth(spark, tmp_path):
    """streaming.ingest: batch docs near-duplicating the SEED corpus are
    rejected; accepted docs join the index so a LATER batch
    near-duplicating them is also rejected; within-batch exact repeats
    keep the min id."""
    from variant_load_pipeline_spark.streaming import ingest as ing

    idx = str(tmp_path / "idx")
    kept = str(tmp_path / "kept")
    seed = spark.createDataFrame(
        [(1, _BASE_WORDS[0])], "doc_id long, text string"
    )
    ing.seed_lsh_ingest(seed, idx)
    sink = ing.lsh_ingest_sink(spark, idx, kept, threshold=0.8)

    # one word changed in 30 -> jaccard ~0.9 vs seed doc 1 -> duplicate
    near_seed = _BASE_WORDS[0].replace("echo", "reverb")
    batch0 = spark.createDataFrame(
        [
            (10, near_seed),          # near-dup of seed -> rejected
            (11, _BASE_WORDS[1]),     # novel -> accepted
            (12, _BASE_WORDS[1]),     # exact within-batch repeat -> dropped
        ],
        "doc_id long, text string",
    )
    sink(batch0, 0)
    got0 = {r["doc_id"] for r in ing.read_kept(spark, kept).collect()}
    assert got0 == {11}

    # batch 1: near-dup of batch-0's ACCEPTED doc 11 (index grew) + novel
    near_11 = _BASE_WORDS[1].replace("gold", "aurum")
    batch1 = spark.createDataFrame(
        [(20, near_11), (21, _BASE_WORDS[2])], "doc_id long, text string"
    )
    sink(batch1, 1)
    got1 = {r["doc_id"] for r in ing.read_kept(spark, kept).collect()}
    assert got1 == {11, 21}


def test_lsh_ingest_redelivery_is_exactly_once(spark, tmp_path):
    """Replaying a batch id must leave BOTH stores unchanged — in
    particular the batch must not match its own first-attempt index
    write and drop everything (the self-match hazard)."""
    from variant_load_pipeline_spark.streaming import ingest as ing

    idx = str(tmp_path / "idx")
    kept = str(tmp_path / "kept")
    ing.seed_lsh_ingest(_doc(spark, 1, _BASE_WORDS[0]), idx)
    sink = ing.lsh_ingest_sink(spark, idx, kept, threshold=0.8)
    batch = _doc(spark, 11, _BASE_WORDS[1])
    sink(batch, 0)
    first = {r["doc_id"] for r in ing.read_kept(spark, kept).collect()}
    assert first == {11}
    sink(batch, 0)  # checkpoint replay
    again = {r["doc_id"] for r in ing.read_kept(spark, kept).collect()}
    assert again == {11}
    # index holds exactly one generation of doc 11's shingles
    sh = spark.read.option("basePath", f"{idx}/shingles").parquet(
        f"{idx}/shingles"
    )
    assert sh.filter(F.col("doc_id") == 11).count() == 1


def test_lsh_ingest_through_real_stream(spark, tmp_path):
    """The sink wired into an actual Structured Streaming query (file
    source, availableNow): same accept/reject outcome as direct calls."""
    from variant_load_pipeline_spark.streaming import ingest as ing

    src = str(tmp_path / "src")
    idx = str(tmp_path / "idx")
    kept = str(tmp_path / "kept")
    ckpt = str(tmp_path / "ckpt")
    ing.seed_lsh_ingest(_doc(spark, 1, _BASE_WORDS[0]), idx)

    near_seed = _BASE_WORDS[0].replace("echo", "reverb")
    spark.createDataFrame(
        [(10, near_seed), (11, _BASE_WORDS[1])], "doc_id long, text string"
    ).write.parquet(src)

    stream = (
        spark.readStream.schema("doc_id long, text string").parquet(src)
    )
    q = (
        stream.writeStream.foreachBatch(
            ing.lsh_ingest_sink(spark, idx, kept, threshold=0.8)
        )
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {r["doc_id"] for r in ing.read_kept(spark, kept).collect()}
    assert got == {11}


# ---------------------------------------------------------------------------
# Streaming quality gate against the persisted LR model
# ---------------------------------------------------------------------------
def _fit_model(spark, tmp_path):
    from variant_load_pipeline_spark.operators import quality as ql

    docs = Q.load(spark, SF, "documents")
    w = ql.lr_train(docs)
    model = str(tmp_path / "model")
    ql.write_quality_model(w, model)
    return model


def test_quality_gate_stream_equals_batch(spark, tmp_path):
    """Docs pushed through the gate in two micro-batches produce exactly
    the keep set the batch twin (lr_score over the whole frame with the
    same persisted weights) selects."""
    from variant_load_pipeline_spark.operators import quality as ql
    from variant_load_pipeline_spark.streaming import ingest as ing

    model = _fit_model(spark, tmp_path)
    kept = str(tmp_path / "kept")
    docs = Q.load(spark, SF, "documents").select("doc_id", "text")
    half_a = docs.filter(F.col("doc_id") % 2 == 0)
    half_b = docs.filter(F.col("doc_id") % 2 == 1)

    # threshold at the median score (labels are imbalanced, so the
    # absolute 0.5 sigmoid point keeps nothing at this tiny sf)
    w0 = ql.read_quality_model(spark, model)
    scores = sorted(
        r.score_micro
        for r in ql.lr_score(
            ql.hashed_features(docs, label=F.lit(0)), w0
        ).collect()
    )
    thr = scores[len(scores) // 2]
    sink = ing.quality_gate_sink(spark, model, kept, threshold_micro=thr)
    sink(half_a, 0)
    sink(half_b, 1)
    got = {
        r.doc_id
        for r in spark.read.option("basePath", kept).parquet(kept).collect()
    }

    w = ql.read_quality_model(spark, model)
    x = ql.hashed_features(docs, label=F.lit(0))
    expected = {
        r.doc_id
        for r in ql.lr_score(x, w)
        .filter(F.col("score_micro") >= thr)
        .collect()
    }
    assert got == expected
    assert 0 < len(got) < docs.count(), "gate must actually discriminate"


def test_quality_gate_redelivery_idempotent(spark, tmp_path):
    from variant_load_pipeline_spark.streaming import ingest as ing

    model = _fit_model(spark, tmp_path)
    kept = str(tmp_path / "kept")
    docs = Q.load(spark, SF, "documents").select("doc_id", "text").limit(50)
    sink = ing.quality_gate_sink(spark, model, kept)
    sink(docs, 0)
    first = sorted(
        r.doc_id
        for r in spark.read.option("basePath", kept).parquet(kept).collect()
    )
    sink(docs, 0)  # checkpoint replay
    again = sorted(
        r.doc_id
        for r in spark.read.option("basePath", kept).parquet(kept).collect()
    )
    assert first == again


def test_quality_gate_through_real_stream(spark, tmp_path):
    from variant_load_pipeline_spark.operators import quality as ql
    from variant_load_pipeline_spark.streaming import ingest as ing

    model = _fit_model(spark, tmp_path)
    src = str(tmp_path / "src")
    kept = str(tmp_path / "kept")
    ckpt = str(tmp_path / "ckpt")
    docs = Q.load(spark, SF, "documents").select("doc_id", "text").limit(100)
    docs.write.parquet(src)

    w = ql.read_quality_model(spark, model)
    x = ql.hashed_features(docs, label=F.lit(0))
    scores = sorted(r.score_micro for r in ql.lr_score(x, w).collect())
    thr = scores[len(scores) // 2]

    stream = spark.readStream.schema("doc_id long, text string").parquet(src)
    q = (
        stream.writeStream.foreachBatch(
            ing.quality_gate_sink(spark, model, kept, threshold_micro=thr)
        )
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r.doc_id
        for r in spark.read.option("basePath", kept).parquet(kept).collect()
    }
    expected = {
        r.doc_id
        for r in ql.lr_score(x, w)
        .filter(F.col("score_micro") >= thr)
        .collect()
    }
    assert got == expected
    assert 0 < len(got) < 100


# ---------------------------------------------------------------------------
# Streaming drift monitor: incremental counts == batch PSI
# ---------------------------------------------------------------------------
def test_drift_counts_stream_equals_batch_psi(spark, tmp_path):
    """Events pushed through drift_counts_sink in 3 micro-batches (split
    mid-week, so every batch holds partial weeks) must yield the exact
    PSI the oracle-gated events_psi_drift query computes over the same
    frame in one pass."""
    from variant_load_pipeline_spark.streaming import ingest as ing

    counts = str(tmp_path / "counts")
    sf = "/root/testdata/sf0.001"
    ev = Q.load(spark, sf, "events")
    sink = ing.drift_counts_sink(spark, counts)
    sink(ev.filter(F.col("event_id") % 3 == 0), 0)
    sink(ev.filter(F.col("event_id") % 3 == 1), 1)
    sink(ev.filter(F.col("event_id") % 3 == 2), 2)
    # redelivery of batch 1 must not change anything
    sink(ev.filter(F.col("event_id") % 3 == 1), 1)

    got = sorted(
        tuple(r)
        for r in ing.psi_from_counts(spark, counts).collect()
    )
    expected = sorted(
        tuple(r)
        for r in Q.registry()["events_psi_drift"].spark_fn(spark, sf).collect()
    )
    assert got == expected and got


@pytest.mark.slow
def test_lsh_index_compaction_preserves_matching(spark, tmp_path):
    """Folding batch partitions into the seed generation must not change
    any accept/reject decision, and must shrink the partition count."""
    import os

    from variant_load_pipeline_spark.streaming import ingest as ing

    idx = str(tmp_path / "idx")
    kept = str(tmp_path / "kept")
    ing.seed_lsh_ingest(_doc(spark, 1, _BASE_WORDS[0]), idx)
    sink = ing.lsh_ingest_sink(spark, idx, kept, threshold=0.8)
    sink(_doc(spark, 11, _BASE_WORDS[1]), 0)
    sink(_doc(spark, 21, _BASE_WORDS[2]), 1)

    n_before = len(os.listdir(f"{idx}/bands"))
    folded = ing.compact_lsh_index(spark, idx, upto_batch_id=1)
    assert folded == 2
    n_after = len(
        [d for d in os.listdir(f"{idx}/bands") if d.startswith("ingest_")]
    )
    assert n_after == 1 < n_before

    # near-dups of seed AND of both folded batches are still rejected;
    # novel content still accepted
    batch = spark.createDataFrame(
        [
            (30, _BASE_WORDS[0].replace("echo", "reverb")),
            (31, _BASE_WORDS[1].replace("gold", "aurum")),
            (32, _BASE_WORDS[2].replace("noon", "midday")),
            (33, "completely novel words about engines and physical plans "
                 "that match nothing stored in any generation at all "
                 "alpha2 bravo2 charlie2 delta2 echo2 foxtrot2 golf2 "
                 "hotel2 india2 juliet2 kilo2 lima2 mike2 november2 "
                 "oscar2 papa2 quebec2 romeo2 sierra2 tango2"),
        ],
        "doc_id long, text string",
    )
    sink(batch, 2)
    got = {r["doc_id"] for r in ing.read_kept(spark, kept).collect()}
    assert got == {11, 21, 33}


def test_lsh_ingest_redelivery_after_compaction_keeps_doc(spark, tmp_path):
    """A batch redelivered AFTER its index partition was folded into a
    seed generation finds its own first-attempt rows under a partition
    id that is no longer its own, so the partition-exclusion guard can't
    help — the doc-identity self-match filter must keep the doc from
    matching itself at jaccard 1.0 and silently dropping (the kept
    partition overwrite would otherwise come out empty)."""
    from variant_load_pipeline_spark.streaming import ingest as ing

    idx = str(tmp_path / "idx")
    kept = str(tmp_path / "kept")
    ing.seed_lsh_ingest(_doc(spark, 1, _BASE_WORDS[0]), idx)
    sink = ing.lsh_ingest_sink(spark, idx, kept, threshold=0.8)
    sink(_doc(spark, 11, _BASE_WORDS[1]), 0)
    ing.compact_lsh_index(spark, idx, upto_batch_id=0)

    # checkpoint-replay redelivery of batch 0 (identical payload)
    sink(_doc(spark, 11, _BASE_WORDS[1]), 0)
    got = {r["doc_id"] for r in ing.read_kept(spark, kept).collect()}
    assert got == {11}


def test_compact_lsh_index_single_generation_is_noop(spark, tmp_path):
    """A lone seed generation has nothing to fold — compaction must not
    rewrite it (and must not burn a generation id)."""
    import os

    from variant_load_pipeline_spark.streaming import ingest as ing

    idx = str(tmp_path / "idx")
    ing.seed_lsh_ingest(_doc(spark, 1, _BASE_WORDS[0]), idx)
    assert ing.compact_lsh_index(spark, idx, upto_batch_id=99) == 0
    assert os.listdir(f"{idx}/bands") == ["ingest_batch=-1"]


def test_compact_lsh_index_mid_crash_leftovers_harmless(spark, tmp_path):
    """Crash simulation for the recoverable swap order: the new seed
    generation has been renamed into place but the folded source
    partitions were NOT yet deleted (a crash during step 3 of
    compact_lsh_index).  The index then holds every row TWICE — the
    matcher must make identical accept/reject decisions (duplicates are
    harmless: candidates dedup, jaccard is per pair), and the next
    compaction must fold the leftovers away."""
    import os
    import shutil

    from variant_load_pipeline_spark.streaming import ingest as ing

    idx = str(tmp_path / "idx")
    kept = str(tmp_path / "kept")
    ing.seed_lsh_ingest(_doc(spark, 1, _BASE_WORDS[0]), idx)
    sink = ing.lsh_ingest_sink(spark, idx, kept, threshold=0.8)
    sink(_doc(spark, 11, _BASE_WORDS[1]), 0)
    sink(_doc(spark, 21, _BASE_WORDS[2]), 1)

    # stash the to-be-folded partitions, compact, then restore them —
    # byte-for-byte the on-disk state of a crash between the generation
    # rename and the source deletes
    stash = str(tmp_path / "stash")
    parts = []
    for sub in ("bands", "shingles"):
        for name in os.listdir(f"{idx}/{sub}"):
            parts.append((sub, name))
            shutil.copytree(f"{idx}/{sub}/{name}", f"{stash}/{sub}/{name}")
    assert ing.compact_lsh_index(spark, idx, upto_batch_id=1) == 2
    for sub, name in parts:
        shutil.copytree(f"{stash}/{sub}/{name}", f"{idx}/{sub}/{name}")
    n_dup_state = len(os.listdir(f"{idx}/bands"))
    assert n_dup_state == 4  # gen -2 + restored gen -1 + batches 0, 1

    # matcher over the duplicated index: same decisions as a clean one
    batch = spark.createDataFrame(
        [
            (30, _BASE_WORDS[0].replace("echo", "reverb")),
            (31, _BASE_WORDS[1].replace("gold", "aurum")),
            (32, _BASE_WORDS[2].replace("noon", "midday")),
            (33, "completely novel words about engines and physical plans "
                 "that match nothing stored in any generation at all "
                 "alpha2 bravo2 charlie2 delta2 echo2 foxtrot2 golf2 "
                 "hotel2 india2 juliet2 kilo2 lima2 mike2 november2 "
                 "oscar2 papa2 quebec2 romeo2 sierra2 tango2"),
        ],
        "doc_id long, text string",
    )
    sink(batch, 2)
    got = {r["doc_id"] for r in ing.read_kept(spark, kept).collect()}
    assert got == {11, 21, 33}

    # the NEXT compaction folds the crash leftovers (and batch 2) away
    assert ing.compact_lsh_index(spark, idx, upto_batch_id=2) >= 2
    gens = [
        d for d in os.listdir(f"{idx}/bands") if d.startswith("ingest_")
    ]
    assert len(gens) == 1 and gens[0].split("=")[1].startswith("-")

    # and decisions are STILL identical afterwards
    sink(
        spark.createDataFrame(
            [(41, _BASE_WORDS[1].replace("gold", "aurum"))],
            "doc_id long, text string",
        ),
        3,
    )
    got = {r["doc_id"] for r in ing.read_kept(spark, kept).collect()}
    assert got == {11, 21, 33}


def test_compact_lsh_index_lone_batch_folds(spark, tmp_path):
    """A single BATCH partition with no seed generation must still fold
    (it has to become a generation, or the redelivery exclusion guard
    keeps applying to committed rows forever); only a lone GENERATION is
    the no-op case."""
    import os
    import shutil

    from variant_load_pipeline_spark.streaming import ingest as ing

    idx = str(tmp_path / "idx")
    kept = str(tmp_path / "kept")
    ing.seed_lsh_ingest(_doc(spark, 1, _BASE_WORDS[0]), idx)
    sink = ing.lsh_ingest_sink(spark, idx, kept, threshold=0.8)
    sink(_doc(spark, 11, _BASE_WORDS[1]), 0)
    # surgically remove the seed generation: the on-disk state of an
    # index whose ingest began before any seed corpus existed
    for sub in ("bands", "shingles"):
        shutil.rmtree(f"{idx}/{sub}/ingest_batch=-1")

    assert ing.compact_lsh_index(spark, idx, upto_batch_id=0) == 1
    for sub in ("bands", "shingles"):
        assert os.listdir(f"{idx}/{sub}") == ["ingest_batch=-2"]

    # redelivery of batch 0 after its lone-batch fold: the partition-
    # exclusion guard no longer hides the folded rows, and the doc-
    # identity guard keeps the doc from dropping itself
    sink(_doc(spark, 11, _BASE_WORDS[1]), 0)
    got = {r["doc_id"] for r in ing.read_kept(spark, kept).collect()}
    assert got == {11}


@pytest.mark.slow
def test_compact_kept_folds_corpus_partitions(spark, tmp_path):
    """compact_kept folds the accepted-corpus batch partitions into one
    generation without changing the doc set, keeps accepting afterwards,
    and a crash-window leftover (folded partition not yet deleted) is
    removed by the next fold's doc_id dedup rather than duplicating the
    corpus."""
    import os
    import shutil

    from variant_load_pipeline_spark.streaming import ingest as ing

    idx = str(tmp_path / "idx")
    kept = str(tmp_path / "kept")
    ing.seed_lsh_ingest(_doc(spark, 1, _BASE_WORDS[0]), idx)
    sink = ing.lsh_ingest_sink(spark, idx, kept, threshold=0.8)
    sink(_doc(spark, 11, _BASE_WORDS[1]), 0)
    sink(_doc(spark, 21, _BASE_WORDS[2]), 1)

    before = sorted(
        r["doc_id"] for r in ing.read_kept(spark, kept).collect()
    )
    assert ing.compact_kept(spark, kept, upto_batch_id=1) == 2
    gens = [d for d in os.listdir(kept) if d.startswith("ingest_batch=")]
    assert gens == ["ingest_batch=-2"]
    after = sorted(
        r["doc_id"] for r in ing.read_kept(spark, kept).collect()
    )
    assert after == before == [11, 21]

    # ingest continues after the fold; novel doc accepted
    sink(
        spark.createDataFrame(
            [(31, "completely novel words that match nothing stored "
                  "zulu2 yankee2 xray2 whiskey2 victor2 uniform2 tango9 "
                  "sierra9 romeo9 quebec9 papa9 oscar9 november9 mike9")],
            "doc_id long, text string",
        ),
        2,
    )
    assert sorted(
        r["doc_id"] for r in ing.read_kept(spark, kept).collect()
    ) == [11, 21, 31]

    # crash window: the folded generation coexists with a leftover copy
    # of a source partition; the next fold dedups on doc_id
    shutil.copytree(
        f"{kept}/ingest_batch=2", f"{kept}/.stash_b2"
    )
    ing.compact_kept(spark, kept, upto_batch_id=2)
    shutil.copytree(f"{kept}/.stash_b2", f"{kept}/ingest_batch=2")
    shutil.rmtree(f"{kept}/.stash_b2")
    # duplicated state visible to a raw reader mid-window
    assert ing.read_kept(spark, kept).count() == 4
    ing.compact_kept(spark, kept, upto_batch_id=2)
    assert sorted(
        r["doc_id"] for r in ing.read_kept(spark, kept).collect()
    ) == [11, 21, 31]


def test_ivf_ingest_through_real_stream(spark, tmp_path):
    """Streaming vector ingestion: vectors pushed through ivf_ingest_sink
    in micro-batches land in the delta store with exactly the nearest-
    centroid assignments the batch operator computes, probes see them
    without a rebuild, and a checkpoint-replay redelivery does not
    duplicate vectors."""
    from variant_load_pipeline_spark import queries as Q
    from variant_load_pipeline_spark.operators.clustering import (
        ivf_assign_batch,
        write_ivf_index,
    )
    from variant_load_pipeline_spark.streaming import ingest as ing

    sf = "/root/testdata/sf0.001"
    e = Q.load(spark, sf, "embeddings")
    idx = str(tmp_path / "ivf")
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    write_ivf_index(e.filter(F.col("vec_id") % 4 != 3), idx)
    arriving = e.filter(F.col("vec_id") % 4 == 3).select(
        "vec_id", "embedding"
    )
    arriving.repartition(2).write.parquet(src)

    stream = spark.readStream.schema(
        "vec_id long, embedding array<float>"
    ).option("maxFilesPerTrigger", 1).parquet(src)
    q = (
        stream.writeStream.foreachBatch(ing.ivf_ingest_sink(spark, idx))
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = sorted(
        (r["vec_id"], r["list_id"])
        for r in spark.read.parquet(f"{idx}/lists_delta")
        .select("vec_id", "list_id")
        .collect()
    )
    want = sorted(
        (r["vec_id"], r["list_id"])
        for r in ivf_assign_batch(spark, idx, arriving)
        .select("vec_id", "list_id")
        .collect()
    )
    assert got == want and got

    # redelivery: re-running the sink body for an already-committed
    # batch id overwrites its own partition — count unchanged
    n_before = spark.read.parquet(f"{idx}/lists_delta").count()
    ing.ivf_ingest_sink(spark, idx)(arriving.limit(5), 0)
    # batch 0's partition is overwritten with the 5-row replay; every
    # other batch's rows are untouched (dynamic partition overwrite)
    n_after = spark.read.parquet(f"{idx}/lists_delta").count()
    assert n_after <= n_before


def _manifest_global_order(man):
    """Per (epoch, shard): doc ids in training order — ingest_batch
    partitions ascending, then physical file row order (the reader
    contract)."""
    import os

    import pyarrow.parquet as pq

    order = {}
    batches = sorted(
        (d for d in os.listdir(man) if d.startswith("ingest_batch=")),
        key=lambda d: int(d.split("=")[1]),
    )
    for b in batches:
        for epoch_dir in sorted(os.listdir(f"{man}/{b}")):
            if not epoch_dir.startswith("epoch="):
                continue
            for shard_dir in sorted(os.listdir(f"{man}/{b}/{epoch_dir}")):
                if not shard_dir.startswith("shard="):
                    continue
                key = (epoch_dir, shard_dir)
                for f in sorted(
                    os.listdir(f"{man}/{b}/{epoch_dir}/{shard_dir}")
                ):
                    if not f.endswith(".parquet"):
                        continue
                    tbl = pq.read_table(
                        f"{man}/{b}/{epoch_dir}/{shard_dir}/{f}"
                    )
                    order.setdefault(key, []).extend(
                        tbl.column("doc_id").to_pylist()
                    )
    return order


def test_epoch_manifest_compaction_preserves_order(spark, tmp_path):
    """compact_epoch_manifest folds batch partitions into one NEGATIVE
    generation without moving a single training position: the
    per-(epoch, shard) doc order read back through the reader contract
    (ingest_batch ascending, file row order) is identical before and
    after each fold, and a crash-leftover duplicate partition converges
    on the next fold."""
    import os
    import shutil

    from variant_load_pipeline_spark import queries as Q
    from variant_load_pipeline_spark.streaming import ingest as ing

    sf = "/root/testdata/sf0.001"
    docs = Q.load(spark, sf, "documents").select("doc_id")
    man = str(tmp_path / "manifest")
    sink = ing.epoch_manifest_sink(spark, man, epochs=2, shards=4)
    # three deterministic micro-batches
    sink(docs.filter(F.col("doc_id") % 3 == 0), 0)
    sink(docs.filter(F.col("doc_id") % 3 == 1), 1)
    sink(docs.filter(F.col("doc_id") % 3 == 2), 2)
    before = _manifest_global_order(man)
    assert before and all(v for v in before.values())

    def batch_ids():
        return sorted(
            int(d.split("=")[1])
            for d in os.listdir(man)
            if d.startswith("ingest_batch=")
        )

    # fold the committed half: batches 0-1 -> one generation; batch 2 live
    assert ing.compact_epoch_manifest(spark, man, upto_batch_id=1) == 2
    ids = batch_ids()
    assert len(ids) == 2 and ids[0] < 0 and ids[1] == 2, ids
    assert _manifest_global_order(man) == before

    # crash leftover: a folded batch's partition resurfaces; the next
    # fold dedups it away and the order STILL matches
    sink(docs.filter(F.col("doc_id") % 3 == 1), 1)
    assert ing.compact_epoch_manifest(spark, man, upto_batch_id=2) >= 1
    ids = batch_ids()
    assert len(ids) == 1 and ids[0] < 0, ids
    assert _manifest_global_order(man) == before

    # a lone generation is already compact — fold is a no-op
    assert ing.compact_epoch_manifest(spark, man, upto_batch_id=99) == 0


def test_decontam_gate_through_real_stream(spark, tmp_path):
    """Decontamination-at-ingest: training docs pushed through
    decontam_gate_sink in micro-batches keep EXACTLY the docs the batch
    `decontaminate` query reports as clean (n_shared_grams == 0), and a
    checkpoint-replay redelivery overwrites its own partition."""
    from variant_load_pipeline_spark import queries as Q
    from variant_load_pipeline_spark.streaming import ingest as ing

    sf = "/root/testdata/sf0.001"
    docs = Q.load(spark, sf, "documents").select("doc_id", "text")
    bench = docs.filter(F.col("doc_id") % 50 == 0)
    train = docs.filter(F.col("doc_id") % 50 != 0)
    grams = str(tmp_path / "bench_grams")
    kept = str(tmp_path / "kept")
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    ing.write_benchmark_grams(bench, grams, k=4)
    train.repartition(3).write.parquet(src)

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        stream.writeStream.foreachBatch(
            ing.decontam_gate_sink(spark, grams, kept, k=4)
        )
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = sorted(
        r["doc_id"] for r in ing.read_kept(spark, kept).collect()
    )
    # batch twin: the decontaminate query's clean set over the same split
    want = sorted(
        r["doc_id"]
        for r in Q.registry()["decontaminate"]
        .spark_fn(spark, sf)
        .filter(F.col("contaminated") == "F")
        .collect()
    )
    assert got == want and got
    # the gate actually dropped something (the fixture has contamination)
    assert len(got) < train.count()

    # redelivery: replaying batch 0 with a subset overwrites its own
    # partition; the keep verdict is text-only, so rows never change
    ing.decontam_gate_sink(spark, grams, kept, k=4)(train.limit(8), 0)
    b0 = spark.read.parquet(f"{kept}/ingest_batch=0")
    assert b0.count() <= 8


def test_epoch_manifest_through_real_stream(spark, tmp_path):
    """Streaming epoch-manifest emission: docs pushed through
    epoch_manifest_sink in micro-batches accumulate to EXACTLY the
    batch writer's rows (a doc's (epoch, shard, hv) depends only on its
    id), each group file is pre-sorted in training order, and a
    checkpoint-replay redelivery overwrites its own partition instead
    of duplicating rows."""
    import os

    import pyarrow.parquet as pq

    from variant_load_pipeline_spark import queries as Q
    from variant_load_pipeline_spark.plans.export import (
        read_epoch_manifest,
        write_epoch_manifest,
    )
    from variant_load_pipeline_spark.streaming import ingest as ing

    sf = "/root/testdata/sf0.001"
    docs = Q.load(spark, sf, "documents").select("doc_id")
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    man = str(tmp_path / "manifest")
    docs.repartition(3).write.parquet(src)

    stream = (
        spark.readStream.schema("doc_id long")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        stream.writeStream.foreachBatch(
            ing.epoch_manifest_sink(spark, man, epochs=2, shards=4)
        )
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    # stream == batch: same (epoch, shard, hv, doc_id) rows
    batch_man = str(tmp_path / "manifest_batch")
    write_epoch_manifest(docs, batch_man, epochs=2, shards=4)
    rows = lambda p: sorted(
        (r["epoch"], r["shard"], r["hv"], r["doc_id"])
        for r in read_epoch_manifest(spark, p)
        .select("epoch", "shard", "hv", "doc_id")
        .collect()
    )
    assert rows(man) == rows(batch_man) and rows(man)

    # file-order contract per (ingest_batch, epoch, shard) group
    batches = sorted(
        d for d in os.listdir(man) if d.startswith("ingest_batch=")
    )
    assert len(batches) == 3
    checked = 0
    for b in batches:
        for root, _dirs, files in os.walk(f"{man}/{b}"):
            for f in files:
                if not f.endswith(".parquet"):
                    continue
                tbl = pq.read_table(f"{root}/{f}")
                ordered = list(
                    zip(
                        tbl.column("hv").to_pylist(),
                        tbl.column("doc_id").to_pylist(),
                    )
                )
                assert ordered == sorted(ordered), (b, root)
                checked += 1
    assert checked >= 3 * 2 * 2  # several (batch, epoch, shard) files

    # redelivery: replay batch 0 with a subset — its partition is
    # overwritten (2 epochs x 7 docs = 14 rows), others untouched
    replay = docs.limit(7)
    ing.epoch_manifest_sink(spark, man, epochs=2, shards=4)(replay, 0)
    b0 = spark.read.parquet(f"{man}/ingest_batch=0")
    assert b0.count() == 14
    assert rows(man) != []  # still readable as one manifest


# ---------------------------------------------------------------------------
# The COMPOSED ingest door: decontam -> quality -> LSH under one sink
# ---------------------------------------------------------------------------
def _bench_and_contaminated():
    """A benchmark doc, a doc sharing its leading 4-gram (contaminated),
    and a near-dup of the contaminated doc whose gram is broken (clean,
    but jaccard ~0.9 vs the contaminated text)."""
    bench = (
        "apple banana cherry damson elderberry fig grape honeydew "
        "jackfruit kiwi lemon mango nectarine orange papaya quince "
        "raspberry strawberry tangerine ugli vanilla watermelon ximenia "
        "yuzu zucchini acorn barley clover dill endive"
    )
    filler = (
        "flute oboe cello viola harp trumpet trombone tuba clarinet "
        "bassoon piccolo timpani cymbal marimba organ accordion banjo "
        "mandolin sitar tabla didgeridoo kazoo harmonica bagpipe lyre lute"
    )
    contaminated = "apple banana cherry damson " + filler
    near_contaminated = "apple banana plum damson " + filler
    return bench, contaminated, near_contaminated


@pytest.mark.slow
def test_corpus_ingest_composed_gate_order_and_index_isolation(
    spark, tmp_path
):
    """The composition contract: every gate fires inside ONE sink, and a
    doc dropped by an EARLIER gate never enters the LSH index — so a
    later clean near-duplicate of a decontam-rejected doc is KEPT (had
    the rejected doc been indexed, its near-dup would be suppressed)."""
    from variant_load_pipeline_spark.streaming import ingest as ing

    model = _fit_model(spark, tmp_path)
    idx = str(tmp_path / "idx")
    kept = str(tmp_path / "kept")
    grams = str(tmp_path / "grams")
    bench, contaminated, near_contaminated = _bench_and_contaminated()
    ing.write_benchmark_grams(_doc(spark, 900, bench), grams, k=4)
    ing.seed_lsh_ingest(_doc(spark, 1, _BASE_WORDS[0]), idx)
    sink = ing.corpus_ingest_sink(
        spark, idx, kept, grams_path=grams, model_path=model,
        threshold_micro=1, threshold=0.8,
    )

    near_seed = _BASE_WORDS[0].replace("echo", "reverb")
    batch0 = spark.createDataFrame(
        [
            (10, near_seed),       # near-dup of the SEED -> LSH gate drops
            (11, _BASE_WORDS[1]),  # novel, wordy -> kept
            (12, contaminated),    # shares a bench 4-gram -> decontam drops
            (13, "?! ?! ?! ?!"),   # no words, no score row -> quality drops
        ],
        "doc_id long, text string",
    )
    sink(batch0, 0)
    assert {
        r["doc_id"] for r in ing.read_kept(spark, kept).collect()
    } == {11}
    # the index's batch-0 partition holds ONLY the survivor's rows: the
    # decontam- and quality-dropped docs never entered the index
    b0 = spark.read.parquet(f"{idx}/bands/ingest_batch=0")
    assert {r["doc_id"] for r in b0.collect()} == {11}

    batch1 = spark.createDataFrame(
        [
            # near-dup of batch-0's ACCEPTED doc 11 -> index grew -> drop
            (20, _BASE_WORDS[1].replace("gold", "aurum")),
            # near-dup of the decontam-DROPPED doc 12, gram broken: must
            # be KEPT — doc 12 never reached the index
            (22, near_contaminated),
            (21, _BASE_WORDS[2]),  # novel -> kept
        ],
        "doc_id long, text string",
    )
    sink(batch1, 1)
    assert {
        r["doc_id"] for r in ing.read_kept(spark, kept).collect()
    } == {11, 21, 22}


@pytest.mark.slow
def test_corpus_ingest_stream_equals_composed_batch_chain(spark, tmp_path):
    """stream==batch for the composition: pushing real documents through
    corpus_ingest_sink in micro-batches keeps EXACTLY what the composed
    batch chain keeps — decontaminate-clean ∧ quality-keep applied as
    batch predicates, then the (already-proven) solo dedup-at-ingest
    sink over the SAME batch splits."""
    from variant_load_pipeline_spark.functions.text import word_ngrams
    from variant_load_pipeline_spark.operators import quality as ql
    from variant_load_pipeline_spark.streaming import ingest as ing

    sf = "/root/testdata/sf0.001"
    docs = Q.load(spark, sf, "documents").select("doc_id", "text")
    bench = docs.filter(F.col("doc_id") % 50 == 0)
    train = docs.filter(F.col("doc_id") % 50 != 0)
    grams = str(tmp_path / "grams")
    ing.write_benchmark_grams(bench, grams, k=4)
    model = _fit_model(spark, tmp_path)

    w = ql.read_quality_model(spark, model)
    x = ql.hashed_features(train, label=F.lit(0))
    scores = sorted(r.score_micro for r in ql.lr_score(x, w).collect())
    thr = scores[len(scores) // 2]

    # composed sink, three micro-batches
    idx = str(tmp_path / "idx")
    kept = str(tmp_path / "kept")
    ing.seed_lsh_ingest(bench, idx)
    sink = ing.corpus_ingest_sink(
        spark, idx, kept, grams_path=grams, model_path=model,
        threshold_micro=thr,
    )
    batches = [train.filter(F.col("doc_id") % 3 == i) for i in range(3)]
    for i, b in enumerate(batches):
        sink(b, i)
    got = sorted(
        r["doc_id"] for r in ing.read_kept(spark, kept).collect()
    )

    # the composed BATCH chain: decontam-clean ∧ quality-keep as batch
    # predicates, then the solo lsh_ingest_sink over the same splits
    bgrams = spark.read.parquet(grams)
    tg = train.select(
        "doc_id", F.explode(word_ngrams(F.col("text"), 4)).alias("gram")
    )
    dirty = tg.join(F.broadcast(bgrams), "gram", "leftsemi").select(
        "doc_id"
    ).distinct()
    qual = ql.lr_score(x, w).filter(
        F.col("score_micro") >= thr
    ).select("doc_id")
    pre = (
        train.join(dirty, "doc_id", "left_anti")
        .join(qual, "doc_id", "leftsemi")
    )
    idx2 = str(tmp_path / "idx2")
    kept2 = str(tmp_path / "kept2")
    ing.seed_lsh_ingest(bench, idx2)
    solo = ing.lsh_ingest_sink(spark, idx2, kept2)
    for i, b in enumerate(batches):
        solo(b.join(pre.select("doc_id"), "doc_id", "leftsemi"), i)
    want = sorted(
        r["doc_id"] for r in ing.read_kept(spark, kept2).collect()
    )
    assert got == want and got
    # the gates actually discriminated
    assert len(got) < train.count()


@pytest.mark.slow
def test_corpus_ingest_redelivery_is_exactly_once(spark, tmp_path):
    """Replaying a batch through the composed sink leaves every store
    unchanged: same kept set, one generation of index rows per doc."""
    from variant_load_pipeline_spark.streaming import ingest as ing

    model = _fit_model(spark, tmp_path)
    idx = str(tmp_path / "idx")
    kept = str(tmp_path / "kept")
    grams = str(tmp_path / "grams")
    bench, contaminated, _ = _bench_and_contaminated()
    ing.write_benchmark_grams(_doc(spark, 900, bench), grams, k=4)
    ing.seed_lsh_ingest(_doc(spark, 1, _BASE_WORDS[0]), idx)
    sink = ing.corpus_ingest_sink(
        spark, idx, kept, grams_path=grams, model_path=model,
        threshold_micro=1,
    )
    batch = spark.createDataFrame(
        [(11, _BASE_WORDS[1]), (12, contaminated)],
        "doc_id long, text string",
    )
    sink(batch, 0)
    first = sorted(
        r["doc_id"] for r in ing.read_kept(spark, kept).collect()
    )
    assert first == [11]
    sink(batch, 0)  # checkpoint replay
    again = sorted(
        r["doc_id"] for r in ing.read_kept(spark, kept).collect()
    )
    assert again == first
    sh = spark.read.option("basePath", f"{idx}/shingles").parquet(
        f"{idx}/shingles"
    )
    assert sh.filter(F.col("doc_id") == 11).select(
        "ingest_batch"
    ).distinct().count() == 1


# ---------------------------------------------------------------------------
# Streaming PR-sweep split: additive (bucket, label) counts at ingest,
# the operating-point re-pick as a pure batch query over the store
# ---------------------------------------------------------------------------
def test_quality_counts_stream_equals_batch_pr_sweep(spark, tmp_path):
    """Docs pushed through quality_counts_sink in micro-batches yield a
    pr_sweep_from_counts table IDENTICAL to the one-shot sweep over the
    full frame with the same persisted model (quality_pr_sweep's exact
    aggregation + micro-rounding) — the drift_counts/psi split applied
    to the classifier's operating-point monitor."""
    from variant_load_pipeline_spark.operators import quality as ql
    from variant_load_pipeline_spark.streaming import ingest as ing

    model = _fit_model(spark, tmp_path)
    counts = str(tmp_path / "counts")
    docs = Q.load(spark, "/root/testdata/sf0.001", "documents")
    sink = ing.quality_counts_sink(spark, model, counts)
    for i in range(3):
        sink(docs.filter(F.col("doc_id") % 3 == i), i)
    got = sorted(
        tuple(r) for r in ing.pr_sweep_from_counts(spark, counts).collect()
    )

    # batch twin: score the WHOLE frame with the same persisted weights,
    # aggregate exactly as the (oracle-gated) quality_pr_sweep does
    w = ql.read_quality_model(spark, model)
    s = ql.lr_score(ql.hashed_features(docs), w).select(
        "score_micro", "label"
    )
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
    want = sorted(
        tuple(r)
        for r in ag.select(
            "thr_micro",
            tp.cast("long").alias("tp"),
            fp.cast("long").alias("fp"),
            fn.cast("long").alias("fn"),
            ratio(tp, tp + fp).alias("precision_micro"),
            ratio(tp, tp + fn).alias("recall_micro"),
            ratio(2 * tp, 2 * tp + fp + fn).alias("f1_micro"),
        ).collect()
    )
    assert got == want and len(got) == 9
    # the sweep actually discriminates (not all-keep / all-drop rows)
    assert len({(r[1], r[2], r[3]) for r in got}) > 1

    # redelivery: replaying a batch overwrites its own count partition —
    # the accumulated sweep is unchanged
    sink(docs.filter(F.col("doc_id") % 3 == 1), 1)
    again = sorted(
        tuple(r) for r in ing.pr_sweep_from_counts(spark, counts).collect()
    )
    assert again == got


@pytest.mark.slow
def test_corpus_ingest_chains_epoch_manifest(spark, tmp_path):
    """The fourth sink chained into the composed door: survivors'
    manifest rows emit in the SAME batch, and the accumulated manifest
    equals epoch_manifest_sink applied to the kept batches directly —
    an accepted doc enters the training order the moment it clears the
    gates, and a replayed batch moves nothing."""
    from variant_load_pipeline_spark.streaming import ingest as ing

    idx = str(tmp_path / "idx")
    kept = str(tmp_path / "kept")
    man = str(tmp_path / "man")
    ing.seed_lsh_ingest(_doc(spark, 1, _BASE_WORDS[0]), idx)
    sink = ing.corpus_ingest_sink(
        spark, idx, kept, manifest_path=man, epochs=2, shards=4
    )
    near_seed = _BASE_WORDS[0].replace("echo", "reverb")
    sink(
        spark.createDataFrame(
            [(10, near_seed), (11, _BASE_WORDS[1])],
            "doc_id long, text string",
        ),
        0,
    )
    sink(_doc(spark, 21, _BASE_WORDS[2]), 1)
    got = _manifest_global_order(man)
    # only survivors (11, 21) appear — never the rejected doc 10 — and
    # wherever both share a (epoch, shard) group, batch-0's doc trains
    # before batch-1's
    assert got
    all_ids = {d for v in got.values() for d in v}
    assert all_ids == {11, 21}
    for v in got.values():
        if 11 in v and 21 in v:
            assert v.index(11) < v.index(21)
    man2 = str(tmp_path / "man2")
    solo = ing.epoch_manifest_sink(spark, man2, epochs=2, shards=4)
    for i, ids in enumerate([[11], [21]]):
        solo(
            ing.read_kept(spark, kept).filter(
                F.col("doc_id").isin(ids)
            ).select("doc_id", "text"),
            i,
        )
    assert _manifest_global_order(man) == _manifest_global_order(man2)

    # redelivery: replaying batch 0 overwrites its own manifest slot
    sink(
        spark.createDataFrame(
            [(10, near_seed), (11, _BASE_WORDS[1])],
            "doc_id long, text string",
        ),
        0,
    )
    assert _manifest_global_order(man) == _manifest_global_order(man2)


# ---------------------------------------------------------------------------
# Tiered (O(delta)) generation folds: compact only the committed batches
# ---------------------------------------------------------------------------
def _tree_md5s(root):
    import hashlib
    import os

    out = {}
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(dirpath, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = hashlib.md5(
                    fh.read()
                ).hexdigest()
    return out


def test_lsh_tier_fold_leaves_generations_untouched(spark, tmp_path):
    """mode='tier': a fold touches ONLY the committed batch partitions —
    every existing generation's files stay byte-identical (O(delta)
    maintenance), matching is unchanged, and a later mode='full' fold
    collapses the accumulated generations to one."""
    import os

    from variant_load_pipeline_spark.streaming import ingest as ing

    idx = str(tmp_path / "idx")
    kept = str(tmp_path / "kept")
    ing.seed_lsh_ingest(_doc(spark, 1, _BASE_WORDS[0]), idx)
    sink = ing.lsh_ingest_sink(spark, idx, kept, threshold=0.8)
    sink(_doc(spark, 11, _BASE_WORDS[1]), 0)

    seed_bands = f"{idx}/bands/ingest_batch=-1"
    seed_sh = f"{idx}/shingles/ingest_batch=-1"
    before_b, before_s = _tree_md5s(seed_bands), _tree_md5s(seed_sh)

    assert ing.compact_lsh_index(spark, idx, 0, mode="tier") == 1
    # the seed generation was not rewritten, moved, or touched
    assert _tree_md5s(seed_bands) == before_b
    assert _tree_md5s(seed_sh) == before_s
    gens = sorted(
        int(d.split("=")[1])
        for d in os.listdir(f"{idx}/bands")
        if d.startswith("ingest_batch=")
    )
    assert gens == [-2, -1]  # new generation BESIDE the old one

    # matching unchanged: near-dups of the seed AND the folded batch
    # both rejected, novel accepted
    sink(
        spark.createDataFrame(
            [
                (30, _BASE_WORDS[0].replace("echo", "reverb")),
                (31, _BASE_WORDS[1].replace("gold", "aurum")),
                (32, _BASE_WORDS[2]),
            ],
            "doc_id long, text string",
        ),
        1,
    )
    got = {r["doc_id"] for r in ing.read_kept(spark, kept).collect()}
    assert got == {11, 32}

    # the periodic full fold collapses generations + the new batch to one
    assert ing.compact_lsh_index(spark, idx, 1, mode="full") >= 1
    gens = [
        d
        for d in os.listdir(f"{idx}/bands")
        if d.startswith("ingest_batch=")
    ]
    assert len(gens) == 1


def test_kept_tier_fold_o_delta_and_full_collapse(spark, tmp_path):
    """compact_kept mode='tier': committed kept batches fold into a new
    generation beside the old ones (old files byte-identical); the
    corpus reads back complete throughout; full mode collapses."""
    import os

    from variant_load_pipeline_spark.streaming import ingest as ing

    kept = str(tmp_path / "kept")
    for i, wid in enumerate([(11, 0), (21, 1), (31, 2)]):
        _doc(spark, wid[0], _BASE_WORDS[wid[1]]).write.parquet(
            f"{kept}/ingest_batch={i}"
        )
    gens = lambda: sorted(
        int(d.split("=")[1])
        for d in os.listdir(kept)
        if d.startswith("ingest_batch=") and int(d.split("=")[1]) < 0
    )
    assert ing.compact_kept(spark, kept, 0, mode="tier") == 1
    [g1] = gens()
    gen1 = f"{kept}/ingest_batch={g1}"
    before = _tree_md5s(gen1)
    assert before
    assert ing.compact_kept(spark, kept, 1, mode="tier") == 1
    # the first generation's files were never touched by the second fold
    assert len(gens()) == 2
    assert _tree_md5s(gen1) == before
    assert sorted(
        r["doc_id"] for r in ing.read_kept(spark, kept).collect()
    ) == [11, 21, 31]
    assert ing.compact_kept(spark, kept, 2, mode="full") >= 1
    assert len(gens()) == 1 and not any(
        d.startswith("ingest_batch=")
        for d in os.listdir(kept)
        if int(d.split("=")[1]) >= 0
    )
    assert sorted(
        r["doc_id"] for r in ing.read_kept(spark, kept).collect()
    ) == [11, 21, 31]


@pytest.mark.slow
def test_rho_gate_composes_in_corpus_ingest_sink(spark, tmp_path):
    """corpus_ingest_sink with rho_model_path: a pool-memorized doc is
    dropped by the RHO gate (negative excess at threshold 0), a
    reference-distribution doc passes, and only the survivor's rows
    enter the LSH index partition (final-survivors-only write)."""
    from variant_load_pipeline_spark.streaming import ingest as ing

    idx = str(tmp_path / "idx")
    kept = str(tmp_path / "kept")
    model = str(tmp_path / "rho_model")
    # pool (even id) memorizes words[0]; reference (odd id) holds words[1]
    ing.write_rho_model(
        _doc(spark, 0, _BASE_WORDS[0]).union(_doc(spark, 1, _BASE_WORDS[1])),
        model,
    )
    ing.seed_lsh_ingest(_doc(spark, 1, _BASE_WORDS[2]), idx)
    sink = ing.corpus_ingest_sink(
        spark, idx, kept, rho_model_path=model, min_excess_micro=0,
    )
    batch = spark.createDataFrame(
        [(10, _BASE_WORDS[0]), (11, _BASE_WORDS[1])],
        "doc_id long, text string",
    )
    sink(batch, 0)
    assert {
        r["doc_id"] for r in ing.read_kept(spark, kept).collect()
    } == {11}
    b0 = spark.read.parquet(f"{idx}/bands/ingest_batch=0")
    assert {r["doc_id"] for r in b0.collect()} == {11}


def test_rho_gate_through_real_stream(spark, tmp_path):
    """RHO selection-at-ingest: docs pushed through rho_gate_sink in
    micro-batches keep EXACTLY the docs a one-shot scoring of the whole
    frame keeps (batch-boundary invariance — the verdict depends only
    on the doc's own text and the frozen model), every kept doc's
    excess clears the threshold, and redelivery overwrites its own
    partition."""
    from variant_load_pipeline_spark import queries as Q
    from variant_load_pipeline_spark.streaming import ingest as ing

    sf = "/root/testdata/sf0.001"
    docs = Q.load(spark, sf, "documents").select("doc_id", "text")
    model = str(tmp_path / "rho_model")
    kept = str(tmp_path / "kept")
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    ing.write_rho_model(docs, model)
    docs.repartition(3).write.parquet(src)

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        stream.writeStream.foreachBatch(
            ing.rho_gate_sink(spark, model, kept, min_excess_micro=0)
        )
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = sorted(r["doc_id"] for r in ing.read_kept(spark, kept).collect())
    # batch twin under the coalesce-to-0 contract: drop exactly the
    # docs that SCORED below the threshold (token-less docs have no
    # score row — excess vacuously 0, kept at threshold 0)
    scores = ing.rho_score_persisted(spark, model, docs)
    below = {
        r["doc_id"]
        for r in scores.filter(F.col("excess_micro") < 0).collect()
    }
    want = sorted(
        r["doc_id"]
        for r in docs.select("doc_id").collect()
        if r["doc_id"] not in below
    )
    assert got == want and got
    # the gate is selective on this fixture (pool-half docs score low)
    assert len(got) < docs.count()
    # every pool doc (even id) was memorized by the pool LM -> excess
    # can't beat a reference-trained doc of the same text distribution;
    # at threshold 0 the kept set must skew to odd (reference) ids
    odd = sum(1 for i in got if i % 2 == 1)
    assert odd > len(got) / 2
    # redelivery: replaying batch 0 with a subset overwrites its own
    # partition; the verdict is text+model-only, so rows never change
    ing.rho_gate_sink(spark, model, kept, min_excess_micro=0)(
        docs.limit(8), 0
    )
    assert spark.read.parquet(f"{kept}/ingest_batch=0").count() <= 8


def test_read_kept_asof_time_travels_the_tier_store(spark, tmp_path):
    """read_kept_asof: under tier folds the store is an LSM whose
    generations ARE history — as-of fold k returns exactly the corpus
    state when fold k ran, the plan partition-prunes to generations
    -1..-k, and a crash-leftover duplicate never doubles a row."""
    from variant_load_pipeline_spark.streaming import ingest as ing

    kept = str(tmp_path / "kept")
    for i, wid in enumerate([(11, 0), (21, 1), (31, 2), (41, 0)]):
        _doc(spark, wid[0], _BASE_WORDS[wid[1]]).write.parquet(
            f"{kept}/ingest_batch={i}"
        )
    # fold 1 covers batches 0-1; fold 2 covers 2-3
    assert ing.compact_kept(spark, kept, 1, mode="tier") == 2
    assert ing.compact_kept(spark, kept, 3, mode="tier") == 2
    asof1 = sorted(
        r["doc_id"] for r in ing.read_kept_asof(spark, kept, 1).collect()
    )
    asof2 = sorted(
        r["doc_id"] for r in ing.read_kept_asof(spark, kept, 2).collect()
    )
    assert asof1 == [11, 21]
    assert asof2 == [11, 21, 31, 41]
    # latest snapshot == the current-state reader (no live batches left)
    assert asof2 == sorted(
        r["doc_id"] for r in ing.read_kept(spark, kept).collect()
    )
    # the generation filter reaches the scan as a partition prune
    plan = ing.read_kept_asof(spark, kept, 1)._jdf.queryExecution().toString()
    assert "PartitionFilters" in plan and "ingest_batch" in plan
    # crash window: a folded batch resurfacing beside its generation
    # must not double rows in any snapshot
    _doc(spark, 11, _BASE_WORDS[0]).write.parquet(f"{kept}/ingest_batch=0")
    again = sorted(
        r["doc_id"] for r in ing.read_kept_asof(spark, kept, 1).collect()
    )
    assert again == [11, 21]
    import pytest as _pytest

    with _pytest.raises(ValueError):
        ing.read_kept_asof(spark, kept, 0)


def test_count_store_compaction_never_double_counts(spark, tmp_path):
    """Additive count stores fold WITHOUT double counting: rows carry
    their origin batch id, so (a) the folded sweep equals the pre-fold
    sweep exactly, and (b) a crash-leftover duplicate partition (a
    folded batch resurfacing beside the generation) is deduped by the
    next fold instead of inflating every sum."""
    import os

    from variant_load_pipeline_spark.streaming import ingest as ing

    model = _fit_model(spark, tmp_path)
    counts = str(tmp_path / "counts")
    docs = Q.load(spark, "/root/testdata/sf0.001", "documents")
    sink = ing.quality_counts_sink(spark, model, counts)
    for i in range(3):
        sink(docs.filter(F.col("doc_id") % 3 == i), i)
    before = sorted(
        tuple(r) for r in ing.pr_sweep_from_counts(spark, counts).collect()
    )

    assert ing.compact_quality_counts(spark, counts, 1, mode="tier") == 2
    assert sorted(
        tuple(r) for r in ing.pr_sweep_from_counts(spark, counts).collect()
    ) == before

    # crash leftover: batch 1's partition resurfaces after it was folded
    sink(docs.filter(F.col("doc_id") % 3 == 1), 1)
    # the raw store now double-carries batch 1...
    raw = (
        spark.read.option("basePath", counts).parquet(counts)
        .groupBy().sum("c").collect()[0][0]
    )
    folded_total = sum(r[1] + r[3] for r in before if r[0] == 100000)
    assert raw > folded_total  # duplicates really are present
    # ...the READER is already exactly-once inside the crash window
    # (dedup on (src_batch, keys) — duplicate rows are bit-identical)...
    assert sorted(
        tuple(r) for r in ing.pr_sweep_from_counts(spark, counts).collect()
    ) == before
    # ...and the next fold removes them from disk exactly
    assert ing.compact_quality_counts(spark, counts, 2, mode="full") >= 1
    assert sorted(
        tuple(r) for r in ing.pr_sweep_from_counts(spark, counts).collect()
    ) == before
    assert len(
        [d for d in os.listdir(counts) if d.startswith("ingest_batch=")]
    ) == 1


def test_drift_count_store_compaction_preserves_psi(spark, tmp_path):
    """compact_drift_counts folds the PSI monitor's store with origin-id
    dedup — week-over-week PSI identical before and after."""
    import datetime as dt

    from variant_load_pipeline_spark.streaming import ingest as ing

    counts = str(tmp_path / "counts")
    rows = [
        ("click", dt.datetime(2024, 1, 1 + 7 * w, 12, 0, 0), float(v))
        for w in range(2)
        for v in (10, 60, 110, 160, 210, 260, 60 + 50 * w)
    ]
    ev = spark.createDataFrame(
        rows, "event_type string, ts timestamp, value double"
    )
    sink = ing.drift_counts_sink(spark, counts)
    sink(ev.filter(F.dayofmonth("ts") == 1), 0)
    sink(ev.filter(F.dayofmonth("ts") != 1), 1)
    before = sorted(
        tuple(r) for r in ing.psi_from_counts(spark, counts).collect()
    )
    assert before
    assert ing.compact_drift_counts(spark, counts, 1) == 2
    assert sorted(
        tuple(r) for r in ing.psi_from_counts(spark, counts).collect()
    ) == before
    # crash leftover resurfaces + refolds to the same PSI
    sink(ev.filter(F.dayofmonth("ts") != 1), 1)
    assert ing.compact_drift_counts(spark, counts, 1) >= 1
    assert sorted(
        tuple(r) for r in ing.psi_from_counts(spark, counts).collect()
    ) == before


def test_epoch_manifest_tier_fold_preserves_order(spark, tmp_path):
    """compact_epoch_manifest mode='tier': committed batches fold into a
    NEW ascending generation — existing generations' files stay
    byte-identical (O(delta) maintenance) AND the global training order
    is bit-for-bit the pre-fold order, across tier folds, interleaved
    full folds, and the final collapse."""
    import os

    from variant_load_pipeline_spark import queries as Q
    from variant_load_pipeline_spark.streaming import ingest as ing

    man = str(tmp_path / "man")
    docs = Q.load(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    ).limit(60)
    sink = ing.epoch_manifest_sink(spark, man, epochs=2, shards=4)
    for i in range(4):
        sink(docs.filter(F.col("doc_id") % 4 == i), i)
    before = _manifest_global_order(man)
    assert before

    gens = lambda: sorted(
        int(d.split("=")[1])
        for d in os.listdir(man)
        if d.startswith("ingest_batch=") and int(d.split("=")[1]) < 0
    )
    # tier fold #1: batches 0-1 -> one ascending generation
    assert ing.compact_epoch_manifest(spark, man, 1, mode="tier") == 2
    [g1] = gens()
    g1_files = _tree_md5s(f"{man}/ingest_batch={g1}")
    assert _manifest_global_order(man) == before
    # tier fold #2: batches 2-3 -> a LATER generation; g1 untouched
    assert ing.compact_epoch_manifest(spark, man, 3, mode="tier") == 2
    assert gens() == [g1, g1 + 1]
    assert _tree_md5s(f"{man}/ingest_batch={g1}") == g1_files
    assert _manifest_global_order(man) == before
    # full collapse: one deep generation, order STILL bit-identical
    ing.compact_epoch_manifest(spark, man, 99, mode="full")
    assert len(gens()) == 1 and gens()[0] < g1
    assert _manifest_global_order(man) == before
    # a tier fold AFTER the full collapse reuses the freed range AND
    # appends batch 4's rows at the end of each group in order: batch 4
    # re-sinks batch 0's docs, so per group the expected tail is that
    # group's %4==0 subsequence, in its original relative order
    sink(docs.filter(F.col("doc_id") % 4 == 0), 4)
    assert ing.compact_epoch_manifest(spark, man, 4, mode="tier") == 1
    assert len(gens()) == 2 and max(gens()) > min(gens())
    expected = {
        g: v + [d for d in v if d % 4 == 0] for g, v in before.items()
    }
    assert _manifest_global_order(man) == expected
