"""End-to-end plan tests: VCF -> CF2 conversion and CF2 -> variant tables."""

from __future__ import annotations

import time

import pytest
from pyspark.sql import functions as F

from variant_load_pipeline_spark.plans import convert, load
from variant_load_pipeline_spark.sources import cf2

VCF = [
    "##fileformat=VCFv4.1",
    "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\tS1\tS2",
    # simple snv: S1 het (20 ref/10 alt), S2 hom-ref (skipped)
    "chr1\t100\trs10\tA\tG\t50\tPASS\t.\tGT:AD:DP\t0/1:20,10:30\t0/0:30,0:30",
    # multi-allelic -> skipped entirely
    "chr1\t150\t.\tC\tT,G\t99\tPASS\t.\tGT:AD:DP\t1/2:0,5,5:10\t0/1:5,5,0:10",
    # insertion A -> AT (padding adjust: pos 201, ref '', var 'T', pad A)
    "chr2\t200\t.\tA\tAT\t99\tPASS\t.\tGT:AD:DP\t1/1:0,9:9\t./.:.:.",
    # invalid chromosome -> dropped
    "chrUn\t300\t.\tG\tC\t99\tPASS\t.\tGT:AD:DP\t1/1:0,5:5\t1/1:0,5:5",
    # AD dotted -> zero counts
    "chr3\t400\t.\tT\tC\t99\tPASS\t.\tGT:AD:DP\t1/1:.:12\t0/0:.:12",
    # RGDID id parse
    "chr3\t500\tRGDID:8650299;NM_1:c.1A>G\tA\tG\t9\tPASS\t.\tGT:AD:DP\t0/1:3,4:7\t0/0:7,0:7",
]


def _write_vcf(tmp_path):
    p = tmp_path / "in.vcf"
    p.write_text("\n".join(VCF) + "\n")
    return str(p)


def test_convert_vcf_to_cf2(spark, tmp_path):
    out = convert.convert_vcf_to_cf2(spark, _write_vcf(tmp_path))
    rows = out.collect()
    by_key = {(r["strain"], r["chr"], r["position"]): r for r in rows}

    # S2 rows at pos 100 dropped (0/0); S1 kept
    assert ("S2", "1", 100) not in by_key
    r = by_key[("S1", "1", 100)]
    assert (r["ref_nuc"], r["var_nuc"]) == ("A", "G")
    assert (r["count_a"], r["count_g"]) == (20, 10)
    assert r["allele_depth"] == 10 and r["read_depth"] == 30
    assert r["total_depth"] == 30 and r["allele_count"] == 1
    assert r["rs_id"] == "rs10"

    # multi-allelic line gone
    assert not any(pos == 150 for (_, _, pos) in by_key)

    # insertion adjusted: pos 201, ref '', var 'T', padding 'A'; indel rows
    # carry no ACGT counts
    ins = by_key[("S1", "2", 201)]
    assert (ins["ref_nuc"], ins["var_nuc"], ins["padding_base"]) == ("", "T", "A")
    assert ins["count_a"] == 0 and ins["allele_depth"] == 9
    assert ("S2", "2", 201) not in by_key  # ./. dropped

    # chrUn dropped
    assert not any(chrom == "Un" for (_, chrom, _) in by_key)

    # AD dotted -> zeros
    dot = by_key[("S1", "3", 400)]
    assert dot["count_t"] == 0 and dot["read_depth"] == 0
    assert dot["total_depth"] == 12

    # RGDID parse
    rg = by_key[("S1", "3", 500)]
    assert rg["rgd_id"] == 8650299
    assert rg["hgvs_name"] == "NM_1:c.1A>G"


def test_convert_dbsnp_backfill(spark, tmp_path):
    """The VCF ID flows to rs_id VERBATIM — '.' included (the reference
    passes v[2] straight through, and CommonFormat2Writer only consults
    dbSNP for truly-null rsId, which a well-formed VCF never produces).
    The dbSNP join must therefore back-fill nothing here."""
    db_snp = spark.createDataFrame(
        [(400, 1, "src", "3", "C", "rs_db1", "snp"),
         (400, 1, "src", "3", "C", "rs_db0", "snp")],
        ["position", "map_key", "source", "chromosome", "allele",
         "snp_name", "snp_class"],
    )
    out = convert.convert_vcf_to_cf2(spark, _write_vcf(tmp_path), db_snp=db_snp)
    rows = out.collect()
    r = [x for x in rows if x["position"] == 400][0]
    assert r["rs_id"] == "."  # '.' passes through; no dbSNP overwrite
    # explicit rsId NOT overwritten
    r100 = [x for x in rows if x["position"] == 100][0]
    assert r100["rs_id"] == "rs10"


def test_cf2_roundtrip_and_load(spark, tmp_path):
    cf2_df = convert.convert_vcf_to_cf2(spark, _write_vcf(tmp_path))
    out_dir = str(tmp_path / "cf2_out")
    cf2.write_cf2(cf2_df.filter(F.col("strain") == "S1").drop("strain"), out_dir)
    back = cf2.read_cf2(spark, out_dir)
    assert back.count() == cf2_df.filter(F.col("strain") == "S1").count()

    genes = spark.createDataFrame(
        [(7, "1", 50, 120, 1, "ACTIVE"), (8, "3", 450, 550, 1, "ACTIVE")],
        ["gene_rgd_id", "chromosome", "start_pos", "stop_pos", "map_key",
         "object_status"],
    )
    sample = load.SampleInfo(sample_id=42, gender="F", map_key=1, source="t")
    tables = load.run_load(back, sample, genes)
    ann = tables["_annotated"].collect()
    by_pos = {r["start_pos"]: r for r in ann}

    # pos 100 snv: pct var G = 10/30 -> heterozygous, quality (100*30+15)//30
    r = by_pos[100]
    assert r["variant_type"] == "snv" and r["end_pos"] == 101
    assert r["zygosity_status"] == "heterozygous"
    assert r["zygosity_percent_read"] == 33
    assert r["quality_score"] == 100
    assert r["genic_status"] == "GENIC"

    # pos 201 insertion: end_pos == start; AD 9/9 -> homozygous
    r = by_pos[201]
    assert r["variant_type"] == "insertion" and r["end_pos"] == 201
    assert r["zygosity_status"] == "homozygous"
    assert r["genic_status"] == "INTERGENIC"

    # pos 400: all counts 0 -> score 0 -> dropped (badVariants)
    assert 400 not in by_pos

    # pos 500 in gene 8
    assert by_pos[500]["genic_status"] == "GENIC"

    # three output tables share the id space
    v = tables["variant"].collect()
    md = {r["rgd_id"]: r for r in tables["variant_map_data"].collect()}
    sd = {r["rgd_id"]: r for r in tables["variant_sample_detail"].collect()}
    assert len(v) == len(md) == len(sd) == 3
    for row in v:
        assert row["rgd_id"] in md and row["rgd_id"] in sd
    ins_id = [r["rgd_id"] for r in v if r["variant_type"] == "insertion"][0]
    assert md[ins_id]["padding_base"] == "A"
    assert sd[ins_id]["var_freq"] == 9


def test_load_upsert_against_existing(spark, tmp_path):
    cf2_df = convert.convert_vcf_to_cf2(spark, _write_vcf(tmp_path)).filter(
        F.col("strain") == "S1"
    ).drop("strain")
    genes = spark.createDataFrame(
        [(7, "9", 1, 2, 1, "ACTIVE")],
        ["gene_rgd_id", "chromosome", "start_pos", "stop_pos", "map_key",
         "object_status"],
    )
    existing = spark.createDataFrame(
        [(5000, 100, 101, "1", "a", "snv", "g")],
        ["rgd_id", "start_pos", "end_pos", "chromosome", "ref_nuc",
         "variant_type", "var_nuc"],
    )
    sample = load.SampleInfo(sample_id=42, gender="F", map_key=1)
    tables = load.run_load(cf2_df, sample, genes, existing=existing)
    ann = {r["start_pos"]: r for r in tables["_annotated"].collect()}
    assert ann[100]["rgd_id"] == 5000 and ann[100]["id_source"] == "reused"
    assert all(r["id_source"] == "new" for p, r in ann.items() if p != 100)


def test_empty_store_allocates_like_no_store(spark, tmp_path):
    """An empty store (same schema, zero rows) has max(rgd_id) NULL, so it
    allocates exactly as ``existing=None``: ids 1..n, all 'new'."""
    store_schema = (
        "rgd_id long, start_pos long, end_pos long, chromosome string,"
        " ref_nuc string, variant_type string, var_nuc string"
    )
    empty = spark.createDataFrame([], store_schema)
    key = ["chromosome", "start_pos", "end_pos", "ref_nuc", "var_nuc"]

    def ids(df):
        return {
            tuple(r[k] for k in key): (r["rgd_id"], r["id_source"])
            for r in df.collect()
        }

    cf2_df = convert.convert_vcf_to_cf2(spark, _write_vcf(tmp_path)).filter(
        F.col("strain") == "S1"
    ).drop("strain")
    sample = load.SampleInfo(sample_id=42, gender="F", map_key=1)
    v = load.derive_variants(cf2_df, sample)
    incoming = spark.createDataFrame(
        [("1", 100, 101, "A", "G", "snv"), ("1", 100, 103, "AC", None, "del"),
         ("2", 300, 301, "T", "C", "snv"), ("1", 90, 91, "G", "T", "snv")],
        "chromosome string, start_pos long, end_pos long, ref_nuc string,"
        " var_nuc string, variant_type string",
    )
    for fresh, against_empty in (
        (load.assign_ids(v, None), load.assign_ids(v, empty)),
        (
            load.run_reload_from_db(incoming, None, sample)["_ids"],
            load.run_reload_from_db(incoming, empty, sample)["_ids"],
        ),
    ):
        got = ids(fresh)
        assert ids(against_empty) == got
        assert sorted(i for i, _ in got.values()) == list(range(1, len(got) + 1))
        assert {src for _, src in got.values()} == {"new"}


def test_genotype_counts(spark, tmp_path):
    # surviving lines: pos 100, 201, 400, 500 (150 multi-allelic, 300 chrUn)
    out = convert.genotype_counts(spark, _write_vcf(tmp_path)).collect()
    counts = {(r["strain"], r["genotype"]): r["count"] for r in out}
    assert counts[("S1", "0/1")] == 2  # pos 100, 500
    assert counts[("S1", "1/1")] == 2  # pos 201, 400
    assert counts[("S2", "0/0")] == 3  # pos 100, 400, 500
    assert counts[("S2", "./.")] == 1  # pos 201


def test_polyphen_input_chain(spark):
    """Polyphen tool chain: missense selection, strand attach, flank QC."""
    from variant_load_pipeline_spark.plans.polyphen import build_polyphen_input

    variants = spark.createDataFrame(
        [
            (1, "A", "G"),   # missense candidate
            (2, "A", "G"),   # vt row is synonymous -> dropped
            (3, "AC", "G"),  # multi-base ref -> dropped (F9)
        ],
        "rgd_id long, ref_nuc string, var_nuc string",
    )
    vmd = spark.createDataFrame(
        [(1, "1", 100), (2, "1", 150), (3, "1", 200)],
        "rgd_id long, chromosome string, start_pos long",
    )
    vts = spark.createDataFrame(
        [
            (1, 70, "T", "K", 4),
            (2, 70, "T", "T", 9),   # ref_aa == var_aa -> dropped
        ],
        "variant_rgd_id long, transcript_rgd_id long, ref_aa string, "
        "var_aa string, full_ref_aa_pos int",
    )
    transcripts = spark.createDataFrame(
        [(70, 7, "NP_1")],
        "transcript_rgd_id long, gene_rgd_id long, protein_acc_id string",
    )
    features = spark.createDataFrame(
        [(70, "EXONS", "-", "1", 50, 180, 1)],
        ["transcript_rgd_id", "object_name", "strand", "chromosome",
         "start_pos", "stop_pos", "map_key"],
    )
    prot = spark.createDataFrame(
        [("NP_1", "MGDTKLSWE*")], "protein_acc_id string, seq string"
    )
    out = build_polyphen_input(
        variants, vmd, vts, transcripts, features, prot
    ).collect()
    assert len(out) == 1
    r = out[0]
    assert r["variant_id"] == 1 and r["strand"] == "-"
    # seq 'MGDTKLSWE' (trailing * stripped), pos 4 -> left 'MGD', right 'KLSWE'
    assert r["left_flank"] == "MGD"
    assert r["right_flank"] == "KLSWE"
    assert r["flank_match"] == "Y"  # residue 4 is 'T' == ref_aa


def test_convert_format_semicolon_quirk(spark, tmp_path):
    """The reference splits FORMAT on ';' when it contains one
    (VcfToCommonFormat2Converter.java:187-189) — both separator styles must
    parse to the same AD/DP fields."""
    vcf_lines = [
        "##fileformat=VCFv4.1",
        "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\tS1",
        "chr1\t100\t.\tA\tG\t50\tPASS\t.\tGT;AD;DP\t0/1:20,10:30",
        "chr1\t200\t.\tC\tT\t50\tPASS\t.\tGT:AD:DP\t0/1:8,4:12",
    ]
    p = tmp_path / "fmt.vcf"
    p.write_text("\n".join(vcf_lines) + "\n")
    out = convert.convert_vcf_to_cf2(spark, str(p))
    rows = {r["position"]: r for r in out.collect()}
    assert rows[100]["total_depth"] == 30
    assert rows[100]["allele_depth"] == 10
    assert rows[200]["total_depth"] == 12
    assert rows[200]["allele_depth"] == 4


def test_export_vcf_gzip(spark, tmp_path):
    import glob
    import gzip

    from variant_load_pipeline_spark.plans.export import export_vcf

    df = spark.createDataFrame(
        [("1", 5, "rs1", "A", "G", 7)],
        "chromosome string, position int, id string, ref string, "
        "alt string, depth int",
    )
    out = str(tmp_path / "v_gz")
    export_vcf(df, out, compress=True)
    [part] = glob.glob(f"{out}/part-*.txt.gz")
    lines = gzip.open(part, "rt").read().splitlines()
    assert lines[0].startswith("##fileformat")
    assert lines[-1].split("\t")[:2] == ["1", "5"]


def test_load_counters_dot_rsid_is_novel(spark):
    """A7: rs_id flows through CF2 verbatim, so a missing VCF ID arrives as
    the literal '.' — counted as novel alongside empty."""
    from variant_load_pipeline_spark.plans.load import load_counters

    df = spark.createDataFrame(
        [
            (7, "rs123"),   # dbSNP
            (7, "."),       # missing VCF ID -> novel
            (7, ""),        # empty -> novel
            (8, "rs9"),
        ],
        "sample_id int, rs_id string",
    )
    got = {r["sample_id"]: r for r in load_counters(df).collect()}
    assert got[7]["dbsnp_rows"] == 1
    assert got[7]["novel_rows"] == 2
    assert got[7]["rows_loaded"] == 3
    assert got[8]["dbsnp_rows"] == 1 and got[8]["novel_rows"] == 0


def test_register_views_sql_front_door(spark):
    from variant_load_pipeline_spark.queries import TABLES
    from variant_load_pipeline_spark.session import register_views

    register_views(spark, "/root/testdata/sf0.001", suffix="_t")
    for t in TABLES:
        assert spark.sql(f"SELECT COUNT(*) AS n FROM {t}_t").collect()[0]["n"] >= 0
    row = spark.sql(
        "SELECT COUNT(*) AS n FROM lineitem_t l JOIN orders_t o"
        " ON l.l_orderkey = o.o_orderkey"
    ).collect()[0]
    assert row["n"] > 0
    # events view exposes real timestamps
    assert dict(spark.table("events_t").dtypes)["ts"] == "timestamp"


def test_bench_headline_names_resolve(spark):
    # a renamed/deleted query must fail HERE, not silently drop out of
    # bench.py's record (bench.main skips unknown names)
    import bench

    from variant_load_pipeline_spark.queries import registry

    reg = registry()
    groups = [n for names in bench.GROUPS.values() for n in names]
    assert len(bench.GROUPS) == 9
    missing = [n for n in groups if n not in reg]
    assert not missing, missing
    # no duplicates across the groups (totals must not double-count)
    assert len(groups) == len(set(groups))


def _slow_builder(spark, sf_dir):
    # a builder that runs a job and spends time before returning its plan
    spark.range(1000).count()
    time.sleep(0.3)
    return spark.range(10)


def test_bench_timer_counts_construction(spark):
    import bench

    from variant_load_pipeline_spark.queries import Query

    pure = bench.time_query(
        spark, Query("pure", lambda s, d: s.range(10), None), "unused"
    )
    assert pure["construct_jobs"] == 0
    eager = Query("eager", _slow_builder, None)
    r = bench.time_query(spark, eager, "unused")
    assert r["construct_jobs"] >= 1
    assert r["construct_s"] >= 0.3
    entry = bench.run_group(spark, [eager], "unused", repeats=1)["eager"]
    assert entry["construct_jobs"] >= 1
    assert entry["min_s"] >= 0.3
    assert bench.group_total({"eager": entry}) == pytest.approx(
        entry["construct_s"] + entry["execute_s"], abs=1e-3
    )
    assert bench.group_total({"eager": entry}) >= 0.3


def test_emb_hashing_topk_construction_runs_only_the_scan_jobs(spark):
    # spread() on the documents scan, not after hash_embed's shuffles:
    # building the query starts no job beyond the scan's own
    import bench

    from variant_load_pipeline_spark.queries import Query, load, registry

    sf = "/root/testdata/sf0.001"
    scan = Query("scan", lambda s, d: load(s, d, "documents"), None)
    want = bench.time_query(spark, scan, sf)["construct_jobs"]
    got = bench.time_query(spark, registry()["emb_hashing_topk"], sf)
    assert got["construct_jobs"] == want
