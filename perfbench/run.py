"""Paper-chain benchmark: VCF -> CF2 -> variant store -> VARIANT_TRANSCRIPT
-> PolyPhen input -> VCF, one closed loop on ``local[nproc]``.

    python3 perfbench/run.py --workload ingest_wide --seed 1 --seconds 1 --trace 0

Run from the repository root.  Set-up (session start, input generation,
store pre-build) happens five times and reports the median.  Then chain
runs repeat, one after another, until ``--seconds`` have passed (at least
one), and every run's outputs are checked.  The first chain run of a
session is measured like the rest: a curator runs the batch in a fresh
JVM.  The last line of stdout is one JSON object:

* ``--trace 0``: ``wall_s`` (median chain run), ``calls_per_s`` (CF2
  rows per second of ``wall_s``), ``setup_s`` and ``op_ok_share``
  (1 - failed / attempted stage invocations);
* ``--trace 1``: after one warm-up chain run, untraced and traced chain
  runs alternate (at least one of each); the per-layer metrics are the
  medians over the traced runs, the spans are written to
  ``.perfbench_out/`` and ``trace.overhead_s`` is the traced minus the
  untraced median wall time.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUPS = 5


def _environment() -> None:
    """Make the package importable here and in Python workers, and keep
    every file Spark writes inside the checkout."""
    if not os.path.isdir(os.path.join(ROOT, "variant_load_pipeline_spark")):
        sys.exit(f"variant_load_pipeline_spark not found under {ROOT}")
    sys.path.insert(0, ROOT)
    scratch = os.path.join(ROOT, ".perfbench_work", "tmp")
    os.makedirs(scratch, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = scratch
    os.environ["TMPDIR"] = scratch
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "3g")


def cores() -> int:
    return len(os.sched_getaffinity(0))


def start_session(master: str | None = None):
    from variant_load_pipeline_spark.session import get_spark

    scratch = os.environ["TMPDIR"]
    return get_spark(
        app_name="perfbench",
        master=master or f"local[{cores()}]",
        extra_conf={
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={scratch}",
            "spark.sql.warehouse.dir": os.path.join(scratch, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )


def build_base_store(inp, out_dir: str) -> tuple[str | None, str | None]:
    """Write the pre-built store segment and VARIANT_TRANSCRIPT table the
    ``incremental_load`` workload upserts into; (None, None) otherwise.
    Types and layout match what the load stage appends (VARIANT_MAP_DATA
    partitioned by map_key and chromosome, as ``write_variant_store``)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from gen import MAP_KEY

    if not inp.store_sites:
        return None, None
    by_chrom: dict[str, list] = {}
    for g in inp.genes:
        by_chrom.setdefault(g[1], []).append(g)
    tx_of: dict[int, list[int]] = {}
    for t in inp.transcripts:
        tx_of.setdefault(t[1], []).append(t[0])
    variant, vmd, vt = [], [], []
    for rgd_id, site in enumerate(inp.store_sites, start=1):
        start, end, chrom, ref, kind, var = site.store_key()
        pad = None if kind == "snv" else site.cf2_key()[4]
        hits = [g for g in by_chrom.get(chrom, []) if g[2] <= start <= g[3]]
        variant.append((rgd_id, ref, kind, var, site.rs_id, None, 3))
        vmd.append((rgd_id, chrom, start, end, pad,
                    "GENIC" if hits else "INTERGENIC", MAP_KEY))
        vt += [(rgd_id, tid, MAP_KEY) for g in hits for tid in tx_of.get(g[0], [])]

    def table(rows, schema):
        cols = list(zip(*rows))
        return pa.Table.from_arrays(
            [pa.array(c, type=t) for c, (_, t) in zip(cols, schema)],
            names=[n for n, _ in schema],
        )

    s, i64, i32 = pa.string(), pa.int64(), pa.int32()
    store = os.path.join(out_dir, "store")
    os.makedirs(f"{store}/variant")
    pq.write_table(table(variant, [
        ("rgd_id", i64), ("ref_nuc", s), ("variant_type", s), ("var_nuc", s),
        ("rs_id", s), ("clinvar_id", s), ("species_type_key", i32),
    ]), f"{store}/variant/part-0.parquet")
    pq.write_to_dataset(table(vmd, [
        ("rgd_id", i64), ("chromosome", s), ("start_pos", i64), ("end_pos", i64),
        ("padding_base", s), ("genic_status", s), ("map_key", i32),
    ]), f"{store}/variant_map_data", partition_cols=["map_key", "chromosome"])
    existing_vt = os.path.join(out_dir, "existing_vt")
    os.makedirs(existing_vt)
    pq.write_table(table(vt, [
        ("variant_rgd_id", i64), ("transcript_rgd_id", i64), ("map_key", i32),
    ]), f"{existing_vt}/part-0.parquet")
    return store, existing_vt


def setup(workload: str, seed: int, work: str, spark, master: str | None = None):
    """One full set-up; returns (spark, ctx, inp, timings)."""
    from chain import Ctx
    from gen import generate, write_inputs

    if spark is not None:
        spark.stop()
    t0 = time.perf_counter()
    spark = start_session(master)
    t1 = time.perf_counter()
    inp = generate(workload, seed)
    paths = write_inputs(inp, os.path.join(work, "inputs"))
    t2 = time.perf_counter()
    base, existing_vt = build_base_store(inp, os.path.join(work, "base"))
    t3 = time.perf_counter()
    ctx = Ctx(spark, paths, inp.strains, inp.genders, base, existing_vt)
    return spark, ctx, inp, dict(session_s=t1 - t0, inputs_s=t2 - t1, store_s=t3 - t2)


def one_run(ctx, inp, work: str, n: int, traced: bool, ledger: dict) -> dict:
    """Run and check one chain; returns its wall time, check results and spans."""
    from chain import STAGES, Spans, StageFailed, run_chain
    from checks import check_run

    rep_dir = os.path.join(work, f"run{n}")
    spans = Spans(ctx.spark.sparkContext, f"perfbench-{os.getpid()}-{n}", traced)
    t0 = time.perf_counter()
    try:
        out = run_chain(ctx, rep_dir, spans)
        done = list(STAGES)
    except StageFailed as exc:
        print(f"run {n}: {exc.stage} raised", file=sys.stderr)
        traceback.print_exception(exc.__cause__, file=sys.stderr)
        done = STAGES[: STAGES.index(exc.stage)]
        out = {k: f"{rep_dir}/{k}" for k in ("cf2", "vt", "polyphen", "export")}
        out["segment"] = f"{rep_dir}/store"
    wall = time.perf_counter() - t0
    result = check_run(ctx, inp, out, done)
    for stage, r in result.items():
        ledger["attempted"] += 1
        if r["digest"] != ledger["digests"].setdefault(stage, r["digest"]):
            r["problems"].append("digest differs from this invocation's first run")
        if r["problems"]:
            ledger["failed"] += 1
            print(f"run {n} {stage}: {'; '.join(r['problems'])}", file=sys.stderr)
    return dict(wall=wall, result=result, spans=spans.spans, rep_dir=rep_dir)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    _environment()
    import procs

    procs.claim_orphans()
    from gen import WORKLOADS

    if args.workload not in WORKLOADS:
        sys.exit(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    import layers

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    spark = None
    try:
        setups = []
        for i in range(SETUPS):
            spark, ctx, inp, t = setup(args.workload, args.seed, os.path.join(work, f"setup{i}"), spark)
            setups.append(t)
        ledger = dict(attempted=0, failed=0, digests={})
        if args.trace:
            # traced and untraced runs are compared with each other, so
            # both must see an equally warm JVM
            one_run(ctx, inp, work, 0, False, ledger)
            shutil.rmtree(os.path.join(work, "run0"), ignore_errors=True)

        runs, n, t_end = [], 1, time.perf_counter() + args.seconds
        while n <= 1 + args.trace or time.perf_counter() < t_end:
            traced = args.trace == 1 and n % 2 == 0
            r = one_run(ctx, inp, work, n, traced, ledger)
            r["traced"] = traced
            if traced:
                r["layers"] = layers.chain_layers(spark, r["spans"], cores())
            shutil.rmtree(r["rep_dir"], ignore_errors=True)
            runs.append(r)
            n += 1

        cf2_rows = inp.cf2_row_count
        plain = [r for r in runs if not r["traced"]]
        print(f"{args.workload} seed {args.seed}: {len(inp.vcf_text.splitlines())} VCF "
              f"text lines, {len(inp.strains)} strains, {cf2_rows} CF2 rows, "
              f"{len(plain)} untraced and {len(runs) - len(plain)} traced chain runs")
        if args.trace == 0:
            wall = statistics.median(r["wall"] for r in plain)
            metrics = {
                "wall_s": (wall, "s"),
                "calls_per_s": (statistics.median(cf2_rows / r["wall"] for r in plain), "1/s"),
                "setup_s": (statistics.median(sum(t.values()) for t in setups), "s"),
                "op_ok_share": (1 - ledger["failed"] / ledger["attempted"], "share"),
            }
        else:
            traced_runs = [r for r in runs if r["traced"]]
            per_run = []
            for r in traced_runs:
                lay = dict(r["layers"])
                for stage, res in r["result"].items():
                    lay[f"{stage}.rows_out"] = res["rows"]
                per_run.append(lay)
            med = layers.median_layers(per_run)
            for k in ("session_s", "inputs_s", "store_s"):
                med[f"setup.{k}"] = statistics.median(t[k] for t in setups)
            med["trace.overhead_s"] = statistics.median(
                r["wall"] for r in traced_runs
            ) - statistics.median(r["wall"] for r in plain)
            metrics = {k: (v, unit_of(k)) for k, v in med.items()}
            write_trace(spark, args, runs)
        print(json.dumps({
            "correct": ledger["failed"] == 0,
            "attempted": ledger["attempted"],
            "failed": ledger["failed"],
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }))
        return 0
    finally:
        procs.stop_all(spark)
        shutil.rmtree(work, ignore_errors=True)


def unit_of(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith("parallelism"):
        return "ratio"
    return "count"


def write_trace(spark, args, runs) -> None:
    """All spans of the traced chain runs — one trace id per chain run —
    with self time and the Spark jobs each span started."""
    import layers

    tracker = spark.sparkContext.statusTracker()
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    doc = []
    for r in runs:
        if not r["traced"]:
            continue
        spans = r["spans"]
        selfs = layers.self_times(spans)
        names = []
        for s in spans:
            names.append(s.name if s.parent is None else f"{names[s.parent]}/{s.name}")
        t0 = spans[0].start
        doc.append({
            "trace_id": spans[0].group.split("#")[0],
            "spans": [
                {"name": f"{args.workload}/{name}", "parent": s.parent,
                 "start_s": s.start - t0, "end_s": s.end - t0, "self_s": st,
                 "jobs": list(tracker.getJobIdsForGroup(s.group))}
                for name, s, st in zip(names, spans, selfs)
            ],
        })
    path = os.path.join(out_dir, f"trace-{args.workload}-{args.seed}.json")
    with open(path, "w", encoding="utf-8") as fh:
        json.dump(doc, fh, indent=1)


if __name__ == "__main__":
    sys.exit(main())
