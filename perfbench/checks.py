"""Output checks for one chain run.

Each stage's output gets an order-independent digest — row count plus the
sums of CRC-32 and of an MD5 prefix over the row's text — over its
natural-key and derived columns.  Allocated rgd ids are left out, as the
oracles leave them out; rows are keyed by chromosome and position instead.

Checked on every run:
* convert: the CF2 rows equal, digest for digest, the rows the generator
  says the VCF holds;
* load: rows balance per strain (VCF cells -> CF2 rows -> sample-detail
  rows, and ``load_counters``' dbSNP / novel split), the store gains
  exactly the variants it did not hold;
* annotate: every VARIANT_TRANSCRIPT row names a stored variant and none
  repeats a pair of the existing table;
* export: one file, header first, data lines in the reference's sort
  order, one line per loaded variant.
The load, annotate, polyphen and export digests are compared with
``digests.json`` when it holds the workload's seed.
"""

from __future__ import annotations

import glob
import json
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from variant_load_pipeline_spark.plans.export import VCF_HEADER
from variant_load_pipeline_spark.plans.load import load_counters
from variant_load_pipeline_spark.sources.cf2 import read_cf2

from chain import STAGES, Ctx, store_sites
from gen import Inputs, py_digest

DIGESTS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "digests.json")

CF2_COLS = ["strain", "chr", "position", "ref_nuc", "var_nuc", "rs_id",
            "count_a", "count_c", "count_g", "count_t", "total_depth",
            "hgvs_name", "allele_depth", "allele_count", "read_depth",
            "padding_base"]
LOAD_COLS = ["sample_id", "source", "chromosome", "start_pos", "end_pos",
             "ref_nuc", "var_nuc", "variant_type", "rs_id", "padding_base",
             "genic_status", "total_depth", "var_freq", "zygosity_status",
             "zygosity_percent_read", "zygosity_poss_error",
             "zygosity_ref_allele", "zygosity_num_allele",
             "zygosity_in_pseudo", "quality_score"]
SITE_COLS = ["chromosome", "start_pos", "end_pos", "ref_nuc", "var_nuc"]


def digest(df: DataFrame, cols: list[str]) -> list[int]:
    """Spark twin of ``gen.py_digest`` over ``cols`` of ``df``."""
    text = F.concat_ws(
        "|", *[F.coalesce(F.col(c).cast("string"), F.lit("\\N")) for c in cols]
    ).cast("binary")
    md5_prefix = F.conv(F.substring(F.md5(text), 1, 8), 16, 10).cast("long")
    row = df.agg(
        F.count(F.lit(1)), F.sum(F.crc32(text)), F.sum(md5_prefix)
    ).first()
    return [int(row[0]), int(row[1] or 0), int(row[2] or 0)]


def recorded(workload: str, seed: int) -> dict[str, list[int]] | None:
    if not os.path.exists(DIGESTS):
        return None
    with open(DIGESTS, encoding="utf-8") as fh:
        return json.load(fh).get(workload, {}).get(str(seed))


def _convert(ctx: Ctx, inp: Inputs, out: dict) -> tuple[list[int], list[str]]:
    spark = ctx.spark
    frames = [
        read_cf2(spark, f"{out['cf2']}/strain={s}").withColumn("strain", F.lit(s))
        for s in ctx.strains
    ]
    cf2 = frames[0]
    for f in frames[1:]:
        cf2 = cf2.unionByName(f)
    got = digest(cf2, CF2_COLS)
    want = py_digest(r for s in ctx.strains for r in inp.cf2_rows[s])
    problems = [] if got == want else [f"CF2 digest {got} != generated {want}"]
    return got, problems


def _load(ctx: Ctx, inp: Inputs, out: dict, segments) -> tuple[list[int], list[str]]:
    spark, seg, problems = ctx.spark, out["segment"], []
    detail = spark.read.parquet(f"{seg}/variant_sample_detail")
    rows = detail.join(store_sites(spark, segments), "rgd_id")
    counted = {
        r["sample_id"]: (r["dbsnp_rows"], r["novel_rows"], r["rows_loaded"])
        for r in load_counters(rows).collect()
    }
    for s in ctx.strains:
        want = (*inp.counters[s], len(inp.cf2_rows[s]))
        got = counted.get(ctx.sample(s).sample_id)
        if got != want:
            problems.append(f"load_counters {s}: {got} != (dbsnp, novel, cf2 rows) {want}")
    grown = {t: spark.read.parquet(f"{seg}/{t}").count()
             for t in ("variant", "variant_map_data")}
    if set(grown.values()) != {inp.store_growth()}:
        problems.append(f"store grew by {grown}, expected {inp.store_growth()}")
    return digest(rows, LOAD_COLS), problems


def _annotate(ctx: Ctx, out: dict, segments) -> tuple[list[int], list[str]]:
    spark, problems = ctx.spark, []
    vt = spark.read.parquet(out["vt"])
    sites = store_sites(spark, segments).select(
        F.col("rgd_id").alias("variant_rgd_id"), *SITE_COLS
    )
    rows = vt.join(sites, "variant_rgd_id")
    cols = SITE_COLS + [c for c in vt.columns if c != "variant_rgd_id"]
    got = digest(rows, cols)
    if got[0] != vt.count():
        problems.append("VARIANT_TRANSCRIPT rows name variants not in the store")
    if ctx.existing_vt:
        keys = ["variant_rgd_id", "transcript_rgd_id"]
        old = spark.read.parquet(ctx.existing_vt).select(*keys)
        if vt.join(old, keys, "left_semi").count():
            problems.append("VARIANT_TRANSCRIPT repeats pairs of the existing table")
    return got, problems


def _export(out: dict, inp: Inputs) -> tuple[list[int], list[str]]:
    parts = glob.glob(f"{out['export']}/part-*")
    if len(parts) != 1:
        return [0, 0, 0], [f"export wrote {len(parts)} files, expected 1"]
    with open(parts[0], encoding="utf-8") as fh:
        lines = fh.read().splitlines()
    problems = []
    if lines[: len(VCF_HEADER)] != VCF_HEADER:
        problems.append("export header lines are not first")
    data = lines[len(VCF_HEADER):]
    keys = [(f[0], int(f[1]), f[2].lower()) for f in (ln.split("\t") for ln in data)]
    if keys != sorted(keys):
        problems.append("export data lines are not sorted")
    if len(data) != len(inp.run_sites):
        problems.append(f"export has {len(data)} variants, run loaded {len(inp.run_sites)}")
    return py_digest(data), problems


def check_run(ctx: Ctx, inp: Inputs, out: dict, done: list[str]) -> dict[str, dict]:
    """Check the outputs of the stages in ``done`` (those that ran without
    raising).  Returns stage -> {ok, rows, digest, problems}; a stage whose
    upstream failed is failed too."""
    segments = [s for s in (ctx.base_store, out["segment"]) if s]
    want = recorded(inp.workload, inp.seed) or {}
    result: dict[str, dict] = {}
    upstream_ok = True
    for stage in STAGES:
        if stage not in done or not upstream_ok:
            result[stage] = dict(ok=False, rows=0, digest=None,
                                 problems=["not run" if upstream_ok else "upstream failed"])
            upstream_ok = False
            continue
        try:
            if stage == "convert":
                got, problems = _convert(ctx, inp, out)
            elif stage == "load":
                got, problems = _load(ctx, inp, out, segments)
            elif stage == "annotate":
                got, problems = _annotate(ctx, out, segments)
            elif stage == "polyphen":
                got = digest(ctx.spark.read.text(out["polyphen"]), ["value"])
                problems = []
            else:
                got, problems = _export(out, inp)
        except Exception as exc:  # noqa: BLE001 - an unreadable output fails the stage
            got, problems = None, [f"check raised {exc!r}"]
        if got is not None and stage in want and want[stage] != got:
            problems.append(f"digest {got} != recorded {want[stage]}")
        ok = not problems
        result[stage] = dict(ok=ok, rows=got[0] if got else 0, digest=got, problems=problems)
        upstream_ok = ok
    return result
