"""Self-tests of the benchmark itself, on the ``tiny`` input.

    python3 perfbench/selftest.py

* inputs: the same seed gives byte-identical files, another seed gives
  different ones;
* cores: every stage's output digest is the same at ``local[1]`` with one
  shuffle partition as at ``local[nproc]``;
* cli: running each tool through ``cli.main`` on the same files produces
  the chain's outputs, digest for digest, so the benchmark measures what
  users run.

Prints one line per test and exits non-zero if any fails.
"""

from __future__ import annotations

import os
import shutil
import sys

import run

WORKLOAD, SEED = "tiny", 3


def test_inputs(work: str) -> None:
    from gen import generate, write_inputs

    a = write_inputs(generate(WORKLOAD, SEED), f"{work}/a")
    b = write_inputs(generate(WORKLOAD, SEED), f"{work}/b")
    c = write_inputs(generate(WORKLOAD, SEED + 1), f"{work}/c")

    def read(p):
        with open(p, "rb") as fh:
            return fh.read()

    for name in a:
        assert read(a[name]) == read(b[name]), f"{name} differs for one seed"
    assert read(a["in.vcf"]) != read(c["in.vcf"]), "two seeds gave one VCF"


def chain_digests(ctx, inp, work: str) -> dict:
    ledger = dict(attempted=0, failed=0, digests={})
    r = run.one_run(ctx, inp, work, 1, False, ledger)
    assert ledger["failed"] == 0, {s: x["problems"] for s, x in r["result"].items()}
    return {s: x["digest"] for s, x in r["result"].items()}


def cli_chain(ctx, work: str) -> dict[str, str]:
    """The chain again, each stage through its CLI tool; same output layout."""
    from variant_load_pipeline_spark.cli import main
    from variant_load_pipeline_spark.plans.load import write_variant_store

    from chain import export_rows, loaded_sites, store_sites, store_table

    spark, p = ctx.spark, ctx.paths
    out = {k: f"{work}/{k}" for k in ("cf2", "vt", "polyphen", "export")}
    out["segment"] = seg = f"{work}/store"
    segments = [s for s in (ctx.base_store, seg) if s]

    main(["--tool", "VcfConverter2", "--vcf", p["in.vcf"], "--out", out["cf2"]], spark)
    for strain in ctx.strains:
        sample = ctx.sample(strain)
        tables = f"{work}/load_{strain}"
        argv = ["--tool", "VariantLoad3", "--cf2", f"{out['cf2']}/strain={strain}",
                "--sample-id", str(sample.sample_id), "--gender", sample.gender,
                "--map-key", str(sample.map_key), "--genes", p["genes.parquet"],
                "--out", tables]
        existing = store_sites(spark, segments)
        if existing is not None:
            existing.write.parquet(f"{work}/existing_{strain}")
            argv += ["--existing", f"{work}/existing_{strain}"]
        main(argv, spark)
        # the tool writes every row it matched; the store keeps new ones
        old = spark.read.parquet(f"{work}/existing_{strain}").select("rgd_id") \
            if existing is not None else None

        def fresh(t):
            df = spark.read.parquet(f"{tables}/{t}")
            return df.join(old, "rgd_id", "left_anti") if old is not None else df

        fresh("variant").write.mode("append").parquet(f"{seg}/variant")
        write_variant_store(fresh("variant_map_data"), f"{seg}/variant_map_data", mode="append")
        spark.read.parquet(f"{tables}/variant_sample_detail").write.mode("append") \
            .parquet(f"{seg}/variant_sample_detail")

    loaded = loaded_sites(spark, segments, seg)
    loaded.write.parquet(f"{work}/loaded")
    argv = ["--tool", "VariantPostProcessing", "--variants", f"{work}/loaded",
            "--genes", p["genes.parquet"], "--transcripts", p["transcripts.parquet"],
            "--features", p["features.parquet"], "--fasta", p["fasta.parquet"],
            "--map-key", "372", "--out", out["vt"]]
    if ctx.existing_vt:
        argv += ["--existing-vt", ctx.existing_vt]
    main(argv, spark)

    for t in ("variant", "variant_map_data"):
        store_table(spark, segments, t).write.parquet(f"{work}/all_{t}")
    main(["--tool", "Polyphen", "--variants", f"{work}/all_variant",
          "--vmd", f"{work}/all_variant_map_data", "--variant-transcripts", out["vt"],
          "--transcripts", p["transcripts.parquet"], "--features", p["features.parquet"],
          "--out", out["polyphen"]], spark)

    export_rows(loaded).write.parquet(f"{work}/export_in")
    main(["--tool", "ClinVar2Vcf", "--variants", f"{work}/export_in", "--out", out["export"]], spark)
    return out


def main() -> int:
    run._environment()
    import procs
    from chain import STAGES
    from checks import check_run

    work = os.path.join(run.ROOT, ".perfbench_work", f"selftest-{os.getpid()}")
    spark = None
    failures = 0

    def report(name, fn, *args):
        nonlocal failures
        try:
            value = fn(*args)
            print(f"PASS {name}")
            return value
        except Exception as exc:  # noqa: BLE001 - report every test
            failures += 1
            print(f"FAIL {name}: {exc!r}")
            return None

    procs.claim_orphans()
    try:
        report("inputs: one seed -> identical files, two seeds -> different", test_inputs, f"{work}/inputs")

        spark, ctx, inp, _ = run.setup(WORKLOAD, SEED, f"{work}/one", spark, master="local[1]")
        spark.conf.set("spark.sql.shuffle.partitions", "1")
        one = report("chain at local[1]", chain_digests, ctx, inp, f"{work}/one")
        spark, ctx, inp, _ = run.setup(WORKLOAD, SEED, f"{work}/all", spark)
        many = report(f"chain at local[{run.cores()}]", chain_digests, ctx, inp, f"{work}/all")

        def same_digests():
            assert one is not None and one == many, (one, many)

        report("cores: digests equal at local[1] and local[nproc]", same_digests)

        def cli_matches():
            out = cli_chain(ctx, f"{work}/cli")
            got = check_run(ctx, inp, out, STAGES)
            bad = {s: (g["digest"], many and many[s], g["problems"])
                   for s, g in got.items() if not g["ok"] or g["digest"] != (many or {}).get(s)}
            assert not bad, bad

        report("cli: cli.main tools reproduce the chain's outputs", cli_matches)
    finally:
        procs.stop_all(spark)
        shutil.rmtree(work, ignore_errors=True)
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
