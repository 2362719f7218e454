"""CLI tool-parity tests: each subcommand runs end-to-end on tiny fixtures."""

from __future__ import annotations

import pytest
import gzip
import glob

from pyspark.sql import functions as F

from variant_load_pipeline_spark.cli import main

VCF = """##fileformat=VCFv4.2
#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\tBN\tSHR
chr1\t100\trs1\tA\tG\t50\tPASS\t.\tGT:AD:DP\t0/1:10,5:15\t1/1:0,9:9
chr2\t200\trs2\tC\tT\t50\tPASS\t.\tGT:AD:DP\t./.:.:.\t0/1:3,4:7
"""

WIG = """fixedStep chrom=chr1 start=100 step=2
0.5
0.75
fixedStep chrom=chr2 start=50 step=1
1.0
"""


def test_cli_vcf_converter2(spark, tmp_path):
    vcf = tmp_path / "in.vcf"
    vcf.write_text(VCF)
    out = str(tmp_path / "cf2")
    main(["--tool", "VcfConverter2", "--vcf", str(vcf), "--out", out], spark)
    files = glob.glob(f"{out}/strain=*/*.csv")
    assert files, "expected per-strain partitioned CF2 output"
    strains = {p.split("strain=")[1].split("/")[0] for p in files}
    assert strains == {"BN", "SHR"}


def test_cli_clinvar2vcf_sorted_export(spark, tmp_path):
    src = tmp_path / "variants"
    spark.createDataFrame(
        [
            ("2", 5, "RSb", "C", "T", 9),
            ("1", 300, "rsA", "A", "G", 7),
            ("1", 20, "rsC", "G", "A", 3),
        ],
        "chromosome string, position int, id string, ref string, "
        "alt string, depth int",
    ).write.parquet(str(src))
    out = str(tmp_path / "out_vcf")
    main(["--tool", "ClinVar2Vcf", "--variants", str(src), "--out", out], spark)
    [part] = glob.glob(f"{out}/part-*.txt")
    lines = open(part).read().splitlines()
    assert lines[0].startswith("##fileformat")
    assert lines[2].startswith("#CHROM")
    data = lines[3:]
    assert [l.split("\t")[1] for l in data] == ["20", "300", "5"]
    assert data[0].endswith("DP=3")


def test_cli_conservation_loader(spark, tmp_path):
    wig = tmp_path / "scores.wig"
    wig.write_text(WIG)
    out = str(tmp_path / "cons")
    main(
        ["--tool", "ConservationScoreLoader", "--wiggle", str(wig), "--out", out],
        spark,
    )
    rows = {
        (r["chr"], r["position"]): r["score"]
        for r in spark.read.parquet(out).collect()
    }
    assert rows[("1", 100)] == 0.5
    assert rows[("1", 102)] == 0.75
    assert rows[("2", 50)] == 1.0


def test_cli_variant_type_fixup(spark, tmp_path):
    src = tmp_path / "variants"
    spark.createDataFrame(
        [
            ("A", "G", "snv"),          # up to date
            ("", "GT", "snv"),          # wrong: should be insertion
            ("AC", "", "deletion"),     # up to date
        ],
        "ref_nuc string, var_nuc string, variant_type string",
    ).write.parquet(str(src))
    out = str(tmp_path / "report")
    main(
        ["--tool", "VariantTypeFixUp", "--variants", str(src), "--out", out],
        spark,
    )
    got = {r["status"]: r["n"] for r in spark.read.parquet(out).collect()}
    assert got == {"up_to_date": 2, "fixed": 1}


VCF_E2E = """##fileformat=VCFv4.1
#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\tBN
chr1\t100\trs10\tT\tG\t50\tPASS\t.\tGT:AD:DP\t0/1:20,10:30
chr1\t40\t.\tA\tC\t99\tPASS\t.\tGT:AD:DP\t1/1:0,9:9
"""


@pytest.mark.slow
def test_cli_full_pipeline_convert_load_annotate(spark, tmp_path):
    """The reference's 3-stage workflow driven purely through the CLI:
    VcfConverter2 -> VariantLoad3 -> VariantPostProcessing."""
    from variant_load_pipeline_spark.schemas import (
        GENES_SCHEMA,
        TRANSCRIPT_FEATURES_SCHEMA,
        TRANSCRIPTS_SCHEMA,
    )

    vcf = tmp_path / "in.vcf"
    vcf.write_text(VCF_E2E)
    cf2_dir = str(tmp_path / "cf2")
    main(["--tool", "VcfConverter2", "--vcf", str(vcf), "--out", cf2_dir], spark)

    genes = str(tmp_path / "genes")
    spark.createDataFrame(
        [(7001, "1", 50, 200, 372, "ACTIVE")], GENES_SCHEMA
    ).write.parquet(genes)
    tables = str(tmp_path / "tables")
    main(
        [
            "--tool", "VariantLoad3",
            "--cf2", f"{cf2_dir}/strain=BN",
            "--sample-id", "7", "--gender", "M", "--map-key", "372",
            "--genes", genes, "--out", tables,
        ],
        spark,
    )
    variant = spark.read.parquet(f"{tables}/variant")
    vmd = spark.read.parquet(f"{tables}/variant_map_data")
    assert variant.count() == 2
    by_pos = {r["start_pos"]: r for r in vmd.collect()}
    assert by_pos[100]["genic_status"] == "GENIC"      # inside gene 50-200
    assert by_pos[40]["genic_status"] == "INTERGENIC"  # outside

    # gene model for annotation: one '+' transcript, exon 90-110 on chr1
    variants_in = str(tmp_path / "variants_joined")
    variant.join(vmd, "rgd_id").select(
        "rgd_id", "chromosome", "start_pos", "end_pos", "ref_nuc", "var_nuc"
    ).write.parquet(variants_in)
    transcripts = str(tmp_path / "transcripts")
    spark.createDataFrame(
        [(9001, 7001, "N", "NM_1", "NP_1")], TRANSCRIPTS_SCHEMA
    ).write.parquet(transcripts)
    features = str(tmp_path / "features")
    spark.createDataFrame(
        [(9001, "EXONS", "+", "1", 90, 110, 372)], TRANSCRIPT_FEATURES_SCHEMA
    ).write.parquet(features)
    fasta = str(tmp_path / "fasta")
    spark.createDataFrame(
        [("1", "ACGT" * 60)], "chromosome string, seq string"
    ).write.parquet(fasta)

    vt_out = str(tmp_path / "vt")
    main(
        [
            "--tool", "VariantPostProcessing",
            "--variants", variants_in, "--genes", genes,
            "--transcripts", transcripts, "--features", features,
            "--fasta", fasta, "--map-key", "372", "--out", vt_out,
        ],
        spark,
    )
    vt = spark.read.parquet(vt_out).collect()
    # only the genic variant (pos 100, inside exon 90-110) gets a row
    assert len(vt) == 1
    row = vt[0]
    assert "EXON" in row["location_name"]
    assert row["ref_aa"] is not None and row["var_aa"] is not None


def test_cli_update_variant_status(spark, tmp_path):
    target = str(tmp_path / "target")
    updates = str(tmp_path / "updates")
    out = str(tmp_path / "updated")
    spark.createDataFrame(
        [(1, "N"), (2, "N")], "rgd_id long, zygosity_poss_error string"
    ).write.parquet(target)
    spark.createDataFrame(
        [(2, "Y")], "rgd_id long, zygosity_poss_error string"
    ).write.parquet(updates)
    main(
        [
            "--tool", "UpdateVariantStatus",
            "--target", target, "--updates", updates,
            "--keys", "rgd_id", "--set", "zygosity_poss_error",
            "--out", out,
        ],
        spark,
    )
    got = {
        r["rgd_id"]: r["zygosity_poss_error"]
        for r in spark.read.parquet(out).collect()
    }
    assert got == {1: "N", 2: "Y"}


VCF8_FIXTURE = (
    "##fileformat=VCFv4.1\n"
    "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\n"
    "chr1\t100\trs11\tA\tG,T\t99\tPASS\tEND=100;DP=20;AC=9,7\n"
    "chr1\t200\t.\tC\tT\t50\tPASS\tDP=12\n"
)


def test_cli_vcf8col_converter(spark, tmp_path):
    """Vcf8ColToCommonFormat2Converter semantics: per-base counts look up
    each literal base across the FULL allele/depth arrays (imputed ref
    included), rsId passes through verbatim, read_depth = DP, allele_count
    set only when AC is absent, and the imputed ref row is NOT emitted
    without --same-as-ref."""
    vcf = tmp_path / "in8.vcf"
    vcf.write_text(VCF8_FIXTURE)
    out = str(tmp_path / "cf28")
    main(["--tool", "Vcf8ColConverter", "--vcf", str(vcf), "--out", out], spark)
    rows = spark.read.option("sep", "\t").csv(out).collect()
    # line 1: alleles [G,T] + appended ref A (depth 20-16=4) but the A row
    # is same-as-ref -> skipped; line 2 (no AC): 1 row.  Full 16-col CF2.
    assert len(rows) == 3
    assert all(len(r) == 16 for r in rows)
    from variant_load_pipeline_spark.sources.cf2 import read_cf2

    back = read_cf2(spark, out)
    by_var = {(r["position"], r["var_nuc"]): r for r in back.collect()}
    g = by_var[(100, "G")]
    t = by_var[(100, "T")]
    # counts identical on every row of the position: A=4 (imputed ref),
    # C=0, G=9, T=7 — the reference's cross-allele lookup
    for r in (g, t):
        assert (r["count_a"], r["count_c"], r["count_g"], r["count_t"]) == (
            4, 0, 9, 7,
        )
        assert r["rs_id"] == "rs11"
        assert r["total_depth"] == 20 and r["read_depth"] == 20
        assert r["allele_count"] == 0  # null when AC present ('' -> 0)
    assert g["allele_depth"] == 9 and t["allele_depth"] == 7
    # AC-absent line: own base carries DP, allele_count=1, '.' id verbatim
    n = by_var[(200, "T")]
    assert n["count_t"] == 12 and n["count_a"] == 0
    assert n["allele_depth"] == 12 and n["allele_count"] == 1
    assert n["rs_id"] == "." and n["read_depth"] == 12


def test_cli_vcf8col_converter_same_as_ref(spark, tmp_path):
    """--same-as-ref emits the imputed-ref-depth row too (the appended ref
    allele survives the skip gate, Vcf8Col...Converter.java:209-211)."""
    vcf = tmp_path / "in8s.vcf"
    vcf.write_text(VCF8_FIXTURE)
    out = str(tmp_path / "cf28s")
    main(
        [
            "--tool", "Vcf8ColConverter", "--vcf", str(vcf),
            "--same-as-ref", "--out", out,
        ],
        spark,
    )
    from variant_load_pipeline_spark.sources.cf2 import read_cf2

    back = read_cf2(spark, out)
    by_var = {(r["position"], r["var_nuc"]): r for r in back.collect()}
    assert len(by_var) == 4
    a = by_var[(100, "A")]
    assert a["allele_depth"] == 4  # imputed ref depth row
    assert (a["count_a"], a["count_g"], a["count_t"]) == (4, 9, 7)


def test_cli_genic_status_fixup(spark, tmp_path):
    from variant_load_pipeline_spark.schemas import GENES_SCHEMA

    genes = str(tmp_path / "genes_f")
    spark.createDataFrame(
        [(7001, "1", 50, 200, 372, "ACTIVE")], GENES_SCHEMA
    ).write.parquet(genes)
    variants = str(tmp_path / "variants_f")
    spark.createDataFrame(
        [
            (1, "1", 100, "GENIC"),        # inside 50-200: up to date
            (2, "1", 300, "GENIC"),        # outside: fixed
            (3, "2", 100, "INTERGENIC"),   # other chromosome: up to date
        ],
        "rgd_id long, chromosome string, start_pos long, genic_status string",
    ).write.parquet(variants)
    out = str(tmp_path / "genic_report")
    main(
        [
            "--tool", "GenicStatusFixUp",
            "--variants", variants, "--genes", genes, "--out", out,
        ],
        spark,
    )
    got = {r["status"]: r["n"] for r in spark.read.parquet(out).collect()}
    assert got == {"up_to_date": 2, "fixed": 1}


def test_cli_num_alleles_fixup(spark, tmp_path):
    variants = str(tmp_path / "variants_na")
    spark.createDataFrame(
        [
            # two rows at one position, one saw the ref -> n = 2 + 1 = 3
            (1, 7, "1", 100, "Y", 3),
            (2, 7, "1", 100, "N", 3),
            # lone row, no ref seen -> n = 1 (stored 2 -> fixed)
            (3, 7, "1", 200, "N", 2),
        ],
        "rgd_id long, sample_id int, chromosome string, start_pos long, "
        "zygosity_ref_allele string, zygosity_num_allele int",
    ).write.parquet(variants)
    out = str(tmp_path / "na_report")
    main(
        ["--tool", "NumAllelesFixUp", "--variants", variants, "--out", out],
        spark,
    )
    got = {r["status"]: r["n"] for r in spark.read.parquet(out).collect()}
    assert got == {"up_to_date": 2, "fixed": 1}


def test_cli_polyphen_full_chain(spark, tmp_path):
    import glob as _glob

    variants = str(tmp_path / "pp_variants")
    spark.createDataFrame(
        [(1, "A", "G")], "rgd_id long, ref_nuc string, var_nuc string"
    ).write.parquet(variants)
    vmd = str(tmp_path / "pp_vmd")
    spark.createDataFrame(
        [(1, "1", 100)], "rgd_id long, chromosome string, start_pos long"
    ).write.parquet(vmd)
    vts = str(tmp_path / "pp_vts")
    spark.createDataFrame(
        [(1, 70, "T", "K", 4)],
        "variant_rgd_id long, transcript_rgd_id long, ref_aa string, "
        "var_aa string, full_ref_aa_pos int",
    ).write.parquet(vts)
    transcripts = str(tmp_path / "pp_tr")
    spark.createDataFrame(
        [(70, 7, "NP_1")],
        "transcript_rgd_id long, gene_rgd_id long, protein_acc_id string",
    ).write.parquet(transcripts)
    features = str(tmp_path / "pp_feat")
    spark.createDataFrame(
        [(70, "EXONS", "+", "1", 50, 180, 1)],
        ["transcript_rgd_id", "object_name", "strand", "chromosome",
         "start_pos", "stop_pos", "map_key"],
    ).write.parquet(features)
    out = str(tmp_path / "pp_input")
    main(
        [
            "--tool", "Polyphen",
            "--variants", variants, "--vmd", vmd,
            "--variant-transcripts", vts, "--transcripts", transcripts,
            "--features", features, "--out", out,
        ],
        spark,
    )
    lines = []
    for part in _glob.glob(f"{out}/part-*"):
        lines += open(part).read().splitlines()
    assert lines == ["NP_1 4 T K"]


def test_cli_zygosity_perc_read_fixup(spark, tmp_path):
    """qcAlleles semantics (ZygosityPercReadFixUp.java:99-121): select snv
    rows with stored percent_read <> var_freq; assign percent_read :=
    var_freq verbatim (no renormalization), re-derive status from it, set
    num_allele to the mismatching-group size."""
    variants = str(tmp_path / "variants_zp")
    cols = (
        "rgd_id long, sample_id int, chromosome string, start_pos long, "
        "var_freq int, zygosity_percent_read int, zygosity_status string, "
        "zygosity_num_allele int, variant_type string"
    )
    spark.createDataFrame(
        [
            # matches stored pct -> excluded by the <> filter
            (1, 7, "1", 100, 25, 25, "heterozygous", 2, "snv"),
            # pct 30->100: status heterozygous->homozygous (fixed),
            # num_allele stays 1 (lone mismatching row at its position)
            (2, 7, "1", 200, 100, 30, "heterozygous", 1, "snv"),
            # pct 99->85: possibly homozygous already stored -> status ok,
            # but num_allele 2 -> 1 (fixed)
            (3, 7, "1", 300, 85, 99, "possibly homozygous", 2, "snv"),
            # non-snv -> excluded
            (4, 7, "1", 400, 10, 50, "heterozygous", 1, "ins"),
        ],
        cols,
    ).write.parquet(variants)
    out = str(tmp_path / "zp_report")
    main(
        ["--tool", "ZygosityPercReadFixUp", "--variants", variants, "--out", out],
        spark,
    )
    [r] = spark.read.parquet(out).collect()
    assert r["rows_processed"] == 2
    assert r["zygosity_status_fixed"] == 1
    assert r["num_allele_fixed"] == 1


@pytest.mark.slow
def test_cli_module_subprocess(tmp_path):
    """`python -m variant_load_pipeline_spark --tool ...` works end to end
    as a real OS process (own SparkSession, parquet out)."""
    import os
    import subprocess
    import sys

    wig = tmp_path / "s.wig"
    wig.write_text("fixedStep chrom=chr1 start=10 step=5\n0.1\n0.2\n")
    out = str(tmp_path / "cons_sub")
    env = dict(os.environ)
    env["PYTHONPATH"] = "/root/repo"
    r = subprocess.run(
        [
            sys.executable, "-m", "variant_load_pipeline_spark",
            "--tool", "ConservationScoreLoader",
            "--wiggle", str(wig), "--out", out,
        ],
        env=env,
        capture_output=True,
        text=True,
        timeout=240,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    import duckdb

    rows = duckdb.sql(f"SELECT chr, position, score FROM '{out}/*.parquet' ORDER BY position").fetchall()
    assert rows == [("1", 10, 0.1), ("1", 15, 0.2)]


def test_cli_module_file_registers_every_tool():
    """`python -m variant_load_pipeline_spark.cli` runs cli.py as __main__:
    tools registered below main() must still be valid choices.  `--help`
    exits while parsing, before any SparkSession starts."""
    import os
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    r = subprocess.run(
        [
            sys.executable, "-m", "variant_load_pipeline_spark.cli",
            "--tool", "GenicStatusFixUp", "--help",
        ],
        env={**os.environ, "PYTHONPATH": root},
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    assert "GenicStatusFixUp" in r.stdout
    assert "SparkContext" not in r.stderr and "log level" not in r.stderr


def test_cli_vcf8col_converter_rejects_ac_alt_mismatch(spark, tmp_path):
    """Malformed AC (length != ALT count) must fail loudly (the reference
    Java crashes on the index mismatch), never silently misalign counts."""
    import pytest as _pytest

    vcf = tmp_path / "bad8.vcf"
    vcf.write_text(
        "##fileformat=VCFv4.1\n"
        "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\n"
        "chr1\t100\t.\tA\tG,T\t99\tPASS\tDP=20;AC=9\n"
    )
    out = str(tmp_path / "cf28bad")
    with _pytest.raises(Exception, match="AC count does not match"):
        main(
            ["--tool", "Vcf8ColConverter", "--vcf", str(vcf), "--out", out],
            spark,
        )


def test_cli_corpus_dedup(spark, tmp_path):
    src = str(tmp_path / "docs")
    base = "the quick brown fox jumps over the lazy dog again and again"
    spark.createDataFrame(
        [
            # doc 0 is a close near-dup of 1/2 (jaccard ~0.91: reliably
            # collides in a band at 16 hashes x 4 bands) and has the
            # LOWEST id, so the component min (0) differs from the exact
            # canon (1) — byte-dup 2 must chain through to canonical 0,
            # never point at dropped doc 1
            (0, base + " today"),
            (1, base),
            (2, base),                      # exact dup of 1
            (4, "entirely different content about query planners"),
        ],
        "doc_id long, text string",
    ).write.parquet(src)
    out = str(tmp_path / "keep")
    main(
        ["--tool", "CorpusDedup", "--docs", src, "--threshold", "0.5",
         "--out", out],
        spark,
    )
    rows = {r["doc_id"]: r for r in spark.read.parquet(out).collect()}
    assert rows[0]["keep"] == "T" and rows[0]["canonical_id"] == 0
    assert rows[1]["keep"] == "F" and rows[1]["canonical_id"] == 0
    assert rows[2]["keep"] == "F" and rows[2]["canonical_id"] == 0
    assert rows[4]["keep"] == "T" and rows[4]["canonical_id"] == 4
    # every dropped doc's canonical is itself kept
    kept = {d for d, r in rows.items() if r["keep"] == "T"}
    assert all(r["canonical_id"] in kept for r in rows.values())


def test_cli_corpus_sample_and_quality(spark, tmp_path):
    src = str(tmp_path / "docs2")
    spark.createDataFrame(
        [(i, f"document number {i} with text https://x{i}.org") for i in range(200)],
        "doc_id long, text string",
    ).write.parquet(src)
    out1 = str(tmp_path / "sampled")
    main(
        ["--tool", "CorpusSample", "--docs", src, "--fraction", "0.3",
         "--salt", "v", "--out", out1],
        spark,
    )
    n = spark.read.parquet(out1).count()
    assert 40 < n < 80
    out2 = str(tmp_path / "quality")
    main(["--tool", "CorpusQuality", "--docs", src, "--out", out2], spark)
    q = spark.read.parquet(out2)
    cols = set(q.columns)
    assert {"n_tokens", "dup_line_ratio", "n_urls", "lang", "bpe_tokens"} <= cols
    assert q.count() == 200
    assert q.filter(F.col("n_urls") == 1).count() == 200


def test_cli_corpus_decontaminate(spark, tmp_path):
    src = str(tmp_path / "docs3")
    bench = str(tmp_path / "bench3")
    leak = "the held out benchmark question about spark planners"
    spark.createDataFrame(
        [
            (0, "clean training document with its own words entirely"),
            (1, f"prefix {leak} suffix"),      # contains a bench 4-gram
            (2, "another clean one nothing shared here at all"),
        ],
        "doc_id long, text string",
    ).write.parquet(src)
    spark.createDataFrame(
        [(100, leak)], "doc_id long, text string"
    ).write.parquet(bench)
    out = str(tmp_path / "decon")
    main(
        ["--tool", "CorpusDecontaminate", "--docs", src, "--bench", bench,
         "--k", "4", "--out", out],
        spark,
    )
    rows = {r["doc_id"]: r for r in spark.read.parquet(out).collect()}
    assert rows[1]["contaminated"] == "T" and rows[1]["n_shared_grams"] >= 1
    assert rows[0]["contaminated"] == "F" and rows[2]["contaminated"] == "F"

    # the index half: CorpusBenchIndex persists the gram set the
    # streaming decontam gate probes; gating the same docs against it
    # keeps exactly the clean ones
    grams = str(tmp_path / "bench_grams")
    main(
        ["--tool", "CorpusBenchIndex", "--bench", bench, "--k", "4",
         "--out", grams],
        spark,
    )
    assert spark.read.parquet(grams).count() >= 1
    from variant_load_pipeline_spark.streaming.ingest import (
        decontam_gate_sink,
    )

    kept = str(tmp_path / "kept_gate")
    decontam_gate_sink(spark, grams, kept, k=4)(
        spark.read.parquet(src), 0
    )
    assert sorted(
        r["doc_id"]
        for r in spark.read.parquet(f"{kept}/ingest_batch=0").collect()
    ) == [0, 2]


def test_cli_corpus_tokenize(spark, tmp_path):
    src = str(tmp_path / "docs4")
    spark.createDataFrame(
        [(i, " ".join(f"w{j}" for j in range(37))) for i in range(20)],
        "doc_id long, text string",
    ).write.parquet(src)
    out = str(tmp_path / "packed")
    main(
        ["--tool", "CorpusTokenize", "--docs", src, "--max-tokens", "16",
         "--overlap", "4", "--budget", "32", "--out", out],
        spark,
    )
    p = spark.read.parquet(out)
    assert {"doc_id", "chunk_idx", "n_chunk_tokens", "chunk_text",
            "shard", "bin_id", "bin_pos"} <= set(p.columns)
    # 37 tokens, stride 12 -> chunks at 0,12,24 + remainder handling
    per_doc = p.groupBy("doc_id").count().collect()
    assert all(r["count"] >= 3 for r in per_doc)
    assert p.filter(F.col("n_chunk_tokens") > 16).count() == 0
    # packing respects the per-shard budget up to one-chunk overflow
    bins = p.groupBy("shard", "bin_id").agg(
        F.sum("n_chunk_tokens").alias("tok")
    ).collect()
    assert all(r["tok"] <= 32 + 16 for r in bins)


def test_cli_variant_rat_loader_from_db(spark, tmp_path):
    """VariantRatLoaderFromDb.java:93-272 composed: null-tolerant dedup
    against the store (matched rows REUSE ids and are NOT re-inserted),
    fresh rows draw new ids, every row lands in sample_detail, and the
    ClinVar clinvar_id merge-update (VariantProcessingBase.java:344-378)
    stamps element symbols onto the inserted variants."""
    variants_in = str(tmp_path / "incoming")
    existing = str(tmp_path / "store")
    elements = str(tmp_path / "elements")
    out = str(tmp_path / "reloaded")

    cols = (
        "chromosome string, start_pos long, end_pos long, ref_nuc string,"
        " var_nuc string, variant_type string, rs_id string,"
        " zygosity_status string, total_depth int"
    )
    spark.createDataFrame(
        [
            # matches store row 11 exactly
            ("1", 100, 101, "A", "G", "snv", "rs1", "homozygous", 20),
            # null var_nuc matches null var_nuc in store (null-tolerant, :220-250)
            ("1", 200, 203, "AC", None, "del", None, "heterozygous", 9),
            # case-insensitive allele compare -> matches store row 13
            ("2", 300, 301, "t", "c", "snv", "rs3", "homozygous", 5),
            # no store match -> fresh insert
            ("2", 400, 401, "G", "T", "snv", None, "heterozygous", 7),
        ],
        cols,
    ).write.parquet(variants_in)
    spark.createDataFrame(
        [
            (11, "1", 100, 101, "A", "G", "snv"),
            (12, "1", 200, 203, "AC", None, "del"),
            (13, "2", 300, 301, "T", "C", "snv"),
        ],
        "rgd_id long, chromosome string, start_pos long, end_pos long,"
        " ref_nuc string, var_nuc string, variant_type string",
    ).write.parquet(existing)
    spark.createDataFrame(
        [(14, "CLINVAR", "RCV000011"), (11, "CLINVAR", "RCV000001"),
         (13, "OMIM", "600100")],
        "rgd_id long, source string, symbol string",
    ).write.parquet(elements)

    main(
        [
            "--tool", "VariantRatLoaderFromDb",
            "--variants", variants_in, "--existing", existing,
            "--elements", elements,
            "--sample-id", "1", "--map-key", "38", "--out", out,
        ],
        spark,
    )

    variant = spark.read.parquet(f"{out}/variant").collect()
    vmd = spark.read.parquet(f"{out}/variant_map_data").collect()
    detail = spark.read.parquet(f"{out}/variant_sample_detail").collect()

    # only the unmatched row is inserted (varBatch takes id==0 rows only)
    assert len(variant) == 1 and len(vmd) == 1
    new_id = variant[0]["rgd_id"]
    assert new_id == 14  # max(existing)=13, offset 14
    assert vmd[0]["chromosome"] == "2" and vmd[0]["start_pos"] == 400
    assert vmd[0]["map_key"] == 38
    # clinvar_id merge-update stamped the CLINVAR element symbol
    assert variant[0]["clinvar_id"] == "RCV000011"
    # insertClinvarIds runs over the WHOLE variant table
    # (VariantProcessingBase.java:344-378): the updates frame carries the
    # EXISTING matched store variant 11 too, not only the fresh insert;
    # the OMIM element (13) is excluded by the source filter
    upd = {
        r["rgd_id"]: r["clinvar_id"]
        for r in spark.read.parquet(
            f"{out}/variant_clinvar_updates"
        ).collect()
    }
    assert upd == {11: "RCV000001", 14: "RCV000011"}
    # every incoming row reaches sample_detail; matched rows reuse store ids
    got = {r["rgd_id"]: r for r in detail}
    assert set(got) == {11, 12, 13, 14}
    assert all(r["sample_id"] == 1 for r in detail)
    assert got[11]["zygosity_status"] == "homozygous"
    assert got[13]["total_depth"] == 5


def test_cli_dbsnp2vcf_hgvs_derivation(spark, tmp_path):
    """DbSnp2Vcf.java getRefAndVarNuc (:216-285) + handleStrandedness
    (:193-213) wired into the export tool: ref/alt derive from the HGVS
    change per variation type, '-' strand reverse-complements, unsupported
    changes are skipped, output is the sorted VCF."""
    variants = str(tmp_path / "dbsnp")
    out = str(tmp_path / "vcf")
    spark.createDataFrame(
        [
            ("1", 100, "rs1", "single nucleotide variant", "C>T", "+", 10),
            # same-as-ref name: C= -> ref=var=C
            ("1", 150, "rs2", "single nucleotide variant", "C=", "+", 5),
            # minus strand: delCT reverse-complements to AG
            ("1", 200, "rs3", "deletion", "delCT", "-", None),
            ("2", 50, "rs4", "duplication", "dupAA", "+", 7),
            # ins under duplication type doubles like dup (:249-262)
            ("2", 60, "rs5", "duplication", "insG", "+", None),
            ("2", 70, "rs6", "insertion", "insT", "+", 3),
            # unsupported change for the type -> skipped
            ("2", 80, "rs7", "deletion", "C>T", "+", 4),
            # minus-strand snv flips both alleles
            ("3", 10, "rs8", "single nucleotide variant", "A>G", "-", 1),
            # IUPAC codes parse (substring semantics, getRefAndVarNuc has
            # no alphabet check) but fail the both-allele ACGT QC
            # (qcVarNucAndRefNuc :161-191) -> skipped
            ("3", 20, "rs9", "single nucleotide variant", "C>R", "+", 2),
            ("3", 30, "rs10", "deletion", "delNN", "+", 2),
        ],
        "chromosome string, position long, id string, var_type string,"
        " nuc_change string, strand string, depth long",
    ).write.parquet(variants)

    main(["--tool", "DbSnp2Vcf", "--variants", variants, "--out", out], spark)

    import glob as _glob

    lines = []
    for f in sorted(_glob.glob(f"{out}/part-*")):
        with open(f) as fh:
            lines += [l.rstrip("\n") for l in fh]
    data = [l.split("\t") for l in lines if l and not l.startswith("#")]
    by_id = {r[2]: r for r in data}
    assert set(by_id) == {"rs1", "rs2", "rs3", "rs4", "rs5", "rs6", "rs8"}
    assert by_id["rs1"][3:5] == ["C", "T"]
    assert by_id["rs2"][3:5] == ["C", "C"]
    assert by_id["rs3"][3:5] == ["AG", "-"]       # revcomp(CT)=AG, del keeps '-'
    assert by_id["rs4"][3:5] == ["AA", "AAAA"]
    assert by_id["rs5"][3:5] == ["G", "GG"]
    assert by_id["rs6"][3:5] == ["-", "T"]
    assert by_id["rs8"][3:5] == ["T", "C"]        # revcomp(A)=T, revcomp(G)=C
    # sorted: chromosome asc, position asc
    keys = [(r[0], int(r[1])) for r in data]
    assert keys == sorted(keys)


def test_cli_polyphen2_gene_scoped(spark, tmp_path):
    """Polyphen2.java:105-135: the VT-sourced chain joined to GENES for
    the region name with --gene-symbols scoping -- only variants on the
    requested genes reach the PolyPhen input."""
    import glob as _glob

    variants = str(tmp_path / "p2_variants")
    spark.createDataFrame(
        [(1, "A", "G"), (2, "C", "T")],
        "rgd_id long, ref_nuc string, var_nuc string",
    ).write.parquet(variants)
    vmd = str(tmp_path / "p2_vmd")
    spark.createDataFrame(
        [(1, "1", 100), (2, "1", 150)],
        "rgd_id long, chromosome string, start_pos long",
    ).write.parquet(vmd)
    vts = str(tmp_path / "p2_vts")
    spark.createDataFrame(
        [(1, 70, "T", "K", 4), (2, 71, "A", "V", 2)],
        "variant_rgd_id long, transcript_rgd_id long, ref_aa string, "
        "var_aa string, full_ref_aa_pos int",
    ).write.parquet(vts)
    transcripts = str(tmp_path / "p2_tr")
    spark.createDataFrame(
        [(70, 7, "NP_1"), (71, 8, "NP_2")],
        "transcript_rgd_id long, gene_rgd_id long, protein_acc_id string",
    ).write.parquet(transcripts)
    features = str(tmp_path / "p2_feat")
    spark.createDataFrame(
        [(70, "EXONS", "+", "1", 50, 180, 1),
         (71, "EXONS", "-", "1", 120, 200, 1)],
        ["transcript_rgd_id", "object_name", "strand", "chromosome",
         "start_pos", "stop_pos", "map_key"],
    ).write.parquet(features)
    genes = str(tmp_path / "p2_genes")
    spark.createDataFrame(
        [(7, "Abc1"), (8, "Xyz2")], "gene_rgd_id long, gene_symbol string"
    ).write.parquet(genes)

    out = str(tmp_path / "p2_input")
    main(
        [
            "--tool", "Polyphen2",
            "--variants", variants, "--vmd", vmd,
            "--variant-transcripts", vts, "--transcripts", transcripts,
            "--features", features, "--genes", genes,
            "--gene-symbols", "Abc1", "--out", out,
        ],
        spark,
    )
    lines = []
    for part in _glob.glob(f"{out}/part-*"):
        lines += open(part).read().splitlines()
    # only the Abc1 variant survives the gene scoping
    assert lines == ["NP_1 4 T K"]


def test_corpus_classify_tool(spark, tmp_path):
    """CorpusClassify: scores match the oracle-gated quality_lr_score
    query bit-for-bit; --model persists a weight table the streaming
    gate can reload; kept flag respects --threshold."""
    from variant_load_pipeline_spark import cli
    from variant_load_pipeline_spark import queries as Q
    from variant_load_pipeline_spark.operators import quality as ql

    sf = "/root/testdata/sf0.001"
    out = str(tmp_path / "scored")
    model = str(tmp_path / "model")
    cli.main(
        [
            "--tool", "CorpusClassify",
            "--docs", f"{sf}/documents.parquet",
            "--model", model,
            "--threshold", "0.4",
            "--out", out,
        ],
        spark=spark,
    )
    got = {
        r.doc_id: (r.score_micro, r.pred, r.label, r.kept)
        for r in spark.read.parquet(out).collect()
    }
    expected = {
        r.doc_id: (r.score_micro, r.pred, r.label)
        for r in Q.registry()["quality_lr_score"].spark_fn(spark, sf).collect()
    }
    assert set(got) == set(expected)
    for did, (sm, pred, label) in expected.items():
        gsm, gpred, glabel, gkept = got[did]
        assert (gsm, gpred, glabel) == (sm, pred, label)
        assert gkept == ("T" if sm >= 400_000 else "F")
    # persisted model loads and has the 64-bucket-or-fewer weight table
    w = ql.read_quality_model(spark, model).collect()
    assert 0 < len(w) <= 64


@pytest.mark.slow
def test_corpus_index_and_search_tools(spark, tmp_path):
    """CorpusIndex/CorpusSearch: build -> search matches the operator
    chain; build-on-seed + append-batch -> search matches the oracle-
    gated ivf_ingest_append composition (seed centroids, full corpus)."""
    from variant_load_pipeline_spark import cli
    from variant_load_pipeline_spark import queries as Q

    sf = "/root/testdata/sf0.001"
    emb = f"{sf}/embeddings.parquet"
    idx = str(tmp_path / "ivf")
    hits = str(tmp_path / "hits")
    cli.main(
        ["--tool", "CorpusIndex", "--docs", emb, "--out", idx], spark=spark
    )
    cli.main(
        [
            "--tool", "CorpusSearch", "--docs", emb, "--index", idx,
            "--query-id", "1", "--k", "10", "--nprobe", "2", "--out", hits,
        ],
        spark=spark,
    )
    got = sorted(tuple(r) for r in spark.read.parquet(hits).collect())
    want = sorted(
        tuple(r)
        for r in Q.registry()["ann_ivf_persisted_topk"]
        .spark_fn(spark, sf)
        .collect()
    )
    assert got == want

    # ingestion flow: seed build + batch append == ivf_ingest_append query
    e = spark.read.parquet(emb)
    seed_p = str(tmp_path / "seed.parquet")
    batch_p = str(tmp_path / "batch.parquet")
    e.filter("vec_id % 4 != 3").write.parquet(seed_p)
    e.filter("vec_id % 4 = 3").write.parquet(batch_p)
    idx2 = str(tmp_path / "ivf2")
    hits2 = str(tmp_path / "hits2")
    cli.main(
        ["--tool", "CorpusIndex", "--docs", seed_p, "--out", idx2],
        spark=spark,
    )
    cli.main(
        [
            "--tool", "CorpusIndex", "--batch", batch_p, "--batch-id", "1",
            "--out", idx2,
        ],
        spark=spark,
    )
    cli.main(
        [
            "--tool", "CorpusSearch", "--docs", emb, "--index", idx2,
            "--query-id", "1", "--k", "10", "--nprobe", "2", "--out", hits2,
        ],
        spark=spark,
    )
    got2 = sorted(tuple(r) for r in spark.read.parquet(hits2).collect())
    want2 = sorted(
        tuple(r)
        for r in Q.registry()["ivf_ingest_append"].spark_fn(spark, sf).collect()
    )
    assert got2 == want2

    # filtered search: --filter-mod pre-filters INSIDE the probed lists
    # (ann_filtered_topk's semantics) — every hit satisfies the
    # predicate, and the unfiltered result restricted to the predicate's
    # survivors within the same probes ranks identically
    hits3 = str(tmp_path / "hits_filtered")
    cli.main(
        [
            "--tool", "CorpusSearch", "--docs", emb, "--index", idx,
            "--query-id", "1", "--k", "10", "--nprobe", "2",
            "--filter-mod", "3", "--out", hits3,
        ],
        spark=spark,
    )
    filt = spark.read.parquet(hits3).collect()
    assert filt and all(r["vec_id"] % 3 == 0 for r in filt)
    unfiltered_kept = [
        r for r in spark.read.parquet(hits).collect() if r["vec_id"] % 3 == 0
    ]
    # pre-filter can only DEEPEN the candidate pool vs post-filtering
    # the unfiltered top-k: every post-filter survivor appears, in order
    got_ids = [r["vec_id"] for r in sorted(filt, key=lambda r: r["rk"])]
    want_prefix = [
        r["vec_id"] for r in sorted(unfiltered_kept, key=lambda r: r["rk"])
    ]
    assert got_ids[: len(want_prefix)] == want_prefix


@pytest.mark.slow
def test_corpus_lexical_tools(spark, tmp_path):
    """CorpusLexIndex/CorpusLexSearch: seed build + batch append ->
    search matches the operator chain over the union exactly."""
    from variant_load_pipeline_spark import cli
    from variant_load_pipeline_spark.operators import lexical as lx
    from variant_load_pipeline_spark.queries import _BM25_TERMS

    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet").select(
        "doc_id", "text"
    )
    seed_p = str(tmp_path / "seed.parquet")
    batch_p = str(tmp_path / "batch.parquet")
    docs.filter("doc_id % 4 != 3").write.parquet(seed_p)
    docs.filter("doc_id % 4 = 3").write.parquet(batch_p)
    idx = str(tmp_path / "lex")
    hits = str(tmp_path / "hits")
    cli.main(
        ["--tool", "CorpusLexIndex", "--docs", seed_p, "--out", idx],
        spark=spark,
    )
    cli.main(
        [
            "--tool", "CorpusLexIndex", "--batch", batch_p,
            "--batch-id", "3", "--out", idx,
        ],
        spark=spark,
    )
    cli.main(
        [
            "--tool", "CorpusLexSearch", "--index", idx,
            "--terms", *_BM25_TERMS, "--k", "20", "--out", hits,
        ],
        spark=spark,
    )
    got = sorted(tuple(r) for r in spark.read.parquet(hits).collect())
    full = str(tmp_path / "lex_full")
    lx.write_bm25_index(docs, full)
    want = sorted(
        tuple(r)
        for r in lx.bm25_probe_topk(spark, full, _BM25_TERMS, k=20).collect()
    )
    assert got == want and got


def test_corpus_select_tool(spark, tmp_path):
    """CorpusSelect: the written RHO selection matches the oracle-gated
    rho_loss_selection rows exactly at the default knobs."""
    from variant_load_pipeline_spark import cli
    from variant_load_pipeline_spark import queries as Q

    sf = "/root/testdata/sf0.001"
    out = str(tmp_path / "selected")
    cli.main(
        [
            "--tool", "CorpusSelect",
            "--docs", f"{sf}/documents.parquet",
            "--out", out,
        ],
        spark=spark,
    )
    cols = ["doc_id", "source", "n_tokens", "excess_micro", "rk"]
    got = sorted(
        tuple(r) for r in spark.read.parquet(out).select(*cols).collect()
    )
    want = sorted(
        tuple(r)
        for r in Q.registry()["rho_loss_selection"]
        .spark_fn(spark, sf)
        .select(*cols)
        .collect()
    )
    assert got == want


def test_corpus_epoch_manifest_tool(spark, tmp_path):
    """CorpusEpochManifest: the written manifest aggregates to exactly
    the oracle-gated epoch_shard_manifest rows."""
    from pyspark.sql import functions as F

    from variant_load_pipeline_spark import cli
    from variant_load_pipeline_spark import queries as Q

    sf = "/root/testdata/sf0.001"
    out = str(tmp_path / "manifest")
    cli.main(
        [
            "--tool", "CorpusEpochManifest",
            "--docs", f"{sf}/documents.parquet",
            "--epochs", "3", "--shards", "8", "--out", out,
        ],
        spark=spark,
    )
    m = spark.read.option("basePath", out).parquet(out)
    agg = m.groupBy(
        F.col("epoch").cast("long").alias("epoch"),
        F.col("shard").cast("long").alias("shard"),
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.array_sort(F.collect_list(F.struct("hv", "doc_id"))).alias("o"),
    )
    got = sorted(
        (r["epoch"], r["shard"], r["n_docs"],
         tuple(x["doc_id"] for x in r["o"]))
        for r in agg.collect()
    )
    want_rows = (
        Q.registry()["epoch_shard_manifest"].spark_fn(spark, sf).collect()
    )
    want = sorted(
        (r["epoch"], r["shard"], r["n_docs"]) for r in want_rows
    )
    assert [(e, s, n) for e, s, n, _ in got] == want


def test_corpus_mine_negatives_tool(spark, tmp_path):
    """CorpusMineNegatives over a CorpusIndex-built index matches the
    oracle-gated ann_hard_negatives_ivf rows."""
    from variant_load_pipeline_spark import cli
    from variant_load_pipeline_spark import queries as Q

    sf = "/root/testdata/sf0.001"
    emb = f"{sf}/embeddings.parquet"
    idx = str(tmp_path / "ivf")
    out = str(tmp_path / "neg")
    cli.main(
        ["--tool", "CorpusIndex", "--docs", emb, "--out", idx], spark=spark
    )
    cli.main(
        [
            "--tool", "CorpusMineNegatives",
            "--docs", emb, "--index", idx,
            "--anchor-every", "50", "--nprobe", "3", "--k", "5",
            "--out", out,
        ],
        spark=spark,
    )
    got = sorted(tuple(r) for r in spark.read.parquet(out).collect())
    want = sorted(
        tuple(r)
        for r in Q.registry()["ann_hard_negatives_ivf"]
        .spark_fn(spark, sf)
        .collect()
    )
    assert got == want and got


def test_corpus_compact_tool(spark, tmp_path):
    """CorpusCompact folds both the LSH index and the kept corpus;
    matching decisions and the doc set are unchanged afterwards."""
    import os

    from variant_load_pipeline_spark import cli
    from variant_load_pipeline_spark.streaming import ingest as ing

    idx = str(tmp_path / "idx")
    kept = str(tmp_path / "kept")
    docs0 = spark.createDataFrame(
        [(1, "alpha bravo charlie delta echo foxtrot golf hotel india "
              "juliet kilo lima mike november oscar papa quebec romeo")],
        "doc_id long, text string",
    )
    ing.seed_lsh_ingest(docs0, idx)
    sink = ing.lsh_ingest_sink(spark, idx, kept, threshold=0.8)
    sink(
        spark.createDataFrame(
            [(11, "zulu yankee xray whiskey victor uniform tango sierra "
                  "romeo8 quebec8 papa8 oscar8 november8 mike8 lima8")],
            "doc_id long, text string",
        ),
        0,
    )
    out = str(tmp_path / "report")
    cli.main(
        [
            "--tool", "CorpusCompact",
            "--index", idx, "--kept", kept, "--batch-id", "0",
            "--out", out,
        ],
        spark=spark,
    )
    report = {r["store"]: r["folded"] for r in spark.read.parquet(out).collect()}
    assert report == {"index": 1, "kept": 1}
    assert [d for d in os.listdir(f"{idx}/bands") if d.startswith("ingest_")] == ["ingest_batch=-2"]
    assert sorted(
        r["doc_id"] for r in ing.read_kept(spark, kept).collect()
    ) == [11]


@pytest.mark.slow
def test_cli_corpus_ingest_end_to_end(spark, tmp_path):
    """CorpusIngest drives the composed ingest door (decontam -> quality
    -> LSH dedup) through a REAL availableNow stream: artifacts built by
    their own CLI tools (CorpusBenchIndex grams, CorpusClassify model),
    seed via --seed-docs, accepted docs land as per-batch partitions in
    --out.  Outcome is batching-independent by construction: the
    synthetic docs have exactly one near-dup (of the seed), one
    contaminated doc, and one wordless doc."""
    import os

    from variant_load_pipeline_spark import queries as Q
    from variant_load_pipeline_spark.streaming import ingest as ing

    base = (
        "alpha bravo charlie delta echo foxtrot golf hotel india juliet "
        "kilo lima mike november oscar papa quebec romeo sierra tango "
        "uniform victor whiskey xray yankee zulu one two three four"
    )
    novel = (
        "red orange yellow green blue indigo violet crimson scarlet amber "
        "gold silver bronze copper iron steel titanium cobalt nickel zinc "
        "lead tin mercury chromium platinum sodium calcium neon argon "
        "xenon"
    )
    bench = (
        "apple banana cherry damson elderberry fig grape honeydew "
        "jackfruit kiwi lemon mango nectarine orange papaya quince "
        "raspberry strawberry tangerine ugli vanilla watermelon ximenia "
        "yuzu zucchini acorn barley clover dill endive"
    )
    contaminated = (
        "apple banana cherry damson flute oboe cello viola harp trumpet "
        "trombone tuba clarinet bassoon piccolo timpani cymbal marimba "
        "organ accordion banjo mandolin sitar tabla didgeridoo kazoo "
        "harmonica bagpipe lyre lute"
    )

    seed_p = str(tmp_path / "seed")
    spark.createDataFrame(
        [(1, base)], "doc_id long, text string"
    ).write.parquet(seed_p)
    bench_p = str(tmp_path / "benchdocs")
    spark.createDataFrame(
        [(900, bench)], "doc_id long, text string"
    ).write.parquet(bench_p)
    grams = str(tmp_path / "grams")
    main(
        ["--tool", "CorpusBenchIndex", "--bench", bench_p, "--k", "4",
         "--out", grams],
        spark=spark,
    )
    # model trained + persisted by its own tool (real labeled fixture)
    model = str(tmp_path / "model")
    main(
        ["--tool", "CorpusClassify",
         "--docs", "/root/testdata/sf0.001/documents.parquet",
         "--model", model, "--out", str(tmp_path / "scores")],
        spark=spark,
    )

    docs_p = str(tmp_path / "docs")
    spark.createDataFrame(
        [
            (10, base.replace("echo", "reverb")),  # near-dup of seed
            (11, novel),                           # kept
            (12, contaminated),                    # decontam drop
            (13, "?! ?! ?! ?!"),                   # wordless: quality drop
        ],
        "doc_id long, text string",
    ).repartition(2).write.parquet(docs_p)

    idx = str(tmp_path / "idx")
    kept = str(tmp_path / "kept")
    main(
        ["--tool", "CorpusIngest", "--docs", docs_p, "--index", idx,
         "--grams", grams, "--model", model, "--threshold-micro", "1",
         "--seed-docs", seed_p, "--checkpoint", str(tmp_path / "ckpt"),
         "--out", kept],
        spark=spark,
    )
    assert {
        r["doc_id"] for r in ing.read_kept(spark, kept).collect()
    } == {11}
    # per-batch kept partitions exist (file source, one file per batch)
    assert any(
        d.startswith("ingest_batch=") for d in os.listdir(kept)
    )
    # the survivor's index rows exist; dropped docs were never indexed
    bands = spark.read.option("basePath", f"{idx}/bands").parquet(
        f"{idx}/bands"
    )
    ids = {r["doc_id"] for r in bands.select("doc_id").distinct().collect()}
    assert 11 in ids and ids.isdisjoint({10, 12, 13})


def _pp55(acc="NP_1", opos="7", oaa1="D", oaa2="N", aa1="D", aa2="N",
          pred="benign"):
    cols = [""] * 55
    cols[0], cols[1], cols[2], cols[3] = acc, opos, oaa1, oaa2
    cols[5] = "Q4TU74"
    cols[6], cols[7], cols[8] = opos, aa1, aa2
    cols[11] = pred
    cols[14], cols[15] = "neutral", "0.001"
    return "\t".join(cols)


def test_cli_polyphen_loader2_stamps_and_routes_per_sample(spark, tmp_path):
    """PolyphenLoader2: 9-col info (variant_transcript_id at col 2) ->
    J16 pairing with the protein_status stamp, per-sample partition
    routing (dynamic overwrite — a second sample never clobbers the
    first), the K5 polyphen_status/uniprot_id/protein_id stamp onto
    matched variant_transcript rows, and --existing as the K4
    duplicate-probe (insert-if-not-exists on the reference's 10-key)."""
    import os

    rp = tmp_path / "res.tsv"
    rp.write_text(
        "#header\n"
        + _pp55() + "\n"
        + _pp55(oaa1="N", oaa2="D") + "\n"   # swapped AA -> rejected
        + _pp55(pred="damaging") + "\n"      # duplicate 4-key -> 2nd info
    )
    ip = tmp_path / "res.info"
    ip.write_text(
        "101\t7001\tGeneA\tNP_1\t7\tD\tN\t+\t555\n"
        "102\t7002\tGeneA\tNP_1\t7\tD\tN\t-\t556\n"
    )
    vt_p = str(tmp_path / "vt")
    spark.createDataFrame(
        [(7001, None, None, None), (7002, None, None, None),
         (7003, None, None, None)],
        "variant_transcript_id long, polyphen_status string, "
        "uniprot_id string, protein_id string",
    ).write.parquet(vt_p)
    out = str(tmp_path / "out")

    main(
        ["--tool", "PolyphenLoader2", "--results", str(rp), "--info",
         str(ip), "--variant-transcripts", vt_p, "--sample-id", "7",
         "--out", out],
        spark=spark,
    )
    # per-sample routing + protein_status stamp
    poly = spark.read.parquet(f"{out}/polyphen")
    assert os.path.isdir(f"{out}/polyphen/sample_id=7")
    rows = {r["variant_id"]: r for r in poly.collect()}
    assert set(rows) == {101, 102}
    assert all(r["protein_status"] == "100 PERC MATCH" for r in rows.values())
    assert rows[101]["variant_transcript_id"] == 7001
    assert rows[102]["variant_transcript_id"] == 7002
    # K5 stamp onto matched vt rows; unmatched row untouched
    vt = {
        r["variant_transcript_id"]: r
        for r in spark.read.parquet(f"{out}/variant_transcripts").collect()
    }
    assert vt[7001]["polyphen_status"] == "benign"
    assert vt[7002]["polyphen_status"] == "damaging"
    assert vt[7001]["uniprot_id"] == "Q4TU74"
    assert vt[7001]["protein_id"] == "NP_1"
    assert vt[7003]["polyphen_status"] is None

    # a SECOND sample routes beside the first (dynamic overwrite)
    main(
        ["--tool", "PolyphenLoader2", "--results", str(rp), "--info",
         str(ip), "--sample-id", "8", "--out", out],
        spark=spark,
    )
    assert os.path.isdir(f"{out}/polyphen/sample_id=7")
    assert os.path.isdir(f"{out}/polyphen/sample_id=8")
    assert spark.read.parquet(f"{out}/polyphen").count() == 4

    # --existing: the 10-key duplicate probe keeps re-loads out (K4)
    out2 = str(tmp_path / "out2")
    main(
        ["--tool", "PolyphenLoader2", "--results", str(rp), "--info",
         str(ip), "--existing", f"{out}/polyphen", "--sample-id", "9",
         "--out", out2],
        spark=spark,
    )
    # zero survivors -> zero partitions written (empty dir, no data files)
    assert not any(
        d.startswith("sample_id=")
        for d in (
            os.listdir(f"{out2}/polyphen")
            if os.path.isdir(f"{out2}/polyphen")
            else []
        )
    )
