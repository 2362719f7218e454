"""The VcfConverter2 pipeline (SURVEY.md §3.1): multi-sample VCF -> CF2 rows.

One DataFrame plan replaces the per-line/per-strain loops of
VcfToCommonFormat2Converter.java:109-430:

    read_vcf_multisample (strains from header, posexplode)
    -> chromosome normalize + filter (F2)
    -> multi-allelic ALT skip (F5)
    -> FORMAT AD/DP indexing (S3; AD falls back to CLCAD2)
    -> genotype-present filter (F6)
    -> AD vector parse ('.' -> zeros; missing AD/DP policy F10)
    -> per-allele explode over [ref]+alts, skip allele==ref (E2/F7)
    -> ACGT count pivot + allele depth (C7/C8), allele_count (C6)
    -> RGDID/hgvs ID parse (C17)
    -> indel padding adjust (C5; mismatched padding rows dropped)
    -> optional dbSNP rsId backfill (J11, first-match deterministic)
    -> CF2 projection (F11)

Per-strain output = ``write_cf2(df, partition_by='strain')``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import scalar
from ..operators.windows import first_match_wins
from ..sources import vcf as vcf_src


def convert_vcf_to_cf2(
    spark: SparkSession,
    path: str,
    process_missing_addp: bool = False,
    process_variants_same_as_ref: bool = False,
    db_snp: DataFrame | None = None,
) -> DataFrame:
    """Full conversion; returns CF2-shaped rows + ``strain`` column."""
    df = vcf_src.read_vcf_multisample(spark, path)

    # F2: chromosome normalize; invalid -> NULL -> dropped
    df = df.withColumn("chr", scalar.normalize_chromosome(F.col("chrom"))).filter(
        F.col("chr").isNotNull() & (F.length("chr") <= 2)
    )

    # F5: multi-allelic skip (VcfToCommonFormat2Converter.java:183-184)
    df = df.filter(~F.col("alt").contains(","))

    # S3: AD (or CLCAD2) / DP indexes; the reference splits FORMAT on ';'
    # when it contains one (:187-189)
    fmt = F.when(
        F.col("format").contains(";"), F.split(F.col("format"), ";")
    ).otherwise(F.split(F.col("format"), ":"))
    ad_idx = F.when(
        F.array_position(fmt, "AD") > 0, F.array_position(fmt, "AD")
    ).otherwise(F.array_position(fmt, "CLCAD2"))
    dp_idx = F.array_position(fmt, "DP")
    df = df.withColumn("ad_idx", ad_idx).withColumn("dp_idx", dp_idx)

    # F10: AD/DP-missing policy
    if not process_missing_addp:
        df = df.filter((F.col("ad_idx") > 0) & (F.col("dp_idx") > 0))

    # F6: genotype-present filter on the first FORMAT field block; the
    # reference tests substring(0,3) of the sample cell (:230-236)
    gt = F.when(
        F.length("sample_value") >= 3, F.substring("sample_value", 1, 3)
    ).otherwise(F.col("sample_value"))
    df = df.filter(vcf_src.genotype_is_called(gt))

    # AD vector (VcfToCommonFormat2Converter.java:240-258): a lone '.' cell
    # -> seven zeros with read_depth 0 REGARDLESS of the missing-AD flag;
    # AD genuinely absent under the flag -> eight 9s with read_depth
    # hardcoded to 9 (NOT the array sum).
    parts = F.split(F.col("sample_value"), ":")
    ad_raw = F.try_element_at(parts, F.col("ad_idx").cast("int"))
    parsed_ad = F.when(
        (ad_raw == ".") | ad_raw.isNull(),
        F.array(*[F.lit(0)] * 7),
    ).otherwise(
        F.transform(
            F.split(ad_raw, ","), lambda x: F.coalesce(x.try_cast("int"), F.lit(0))
        )
    )
    ad_arr = F.when(F.col("ad_idx") > 0, parsed_ad).otherwise(
        F.array(*[F.lit(9 if process_missing_addp else 0)] * 8)
    )
    read_depth = F.when(
        F.col("ad_idx") > 0,
        F.aggregate(parsed_ad, F.lit(0), lambda a, x: a + x),
    ).otherwise(F.lit(9 if process_missing_addp else 0))
    df = df.withColumn("ad_arr", ad_arr).withColumn("read_depth", read_depth)

    # DP (:260-272): present-but-'.' -> 0 even under the flag; absent under
    # the flag -> 9
    dp_raw = F.try_element_at(parts, F.col("dp_idx").cast("int"))
    total_depth = F.when(
        F.col("dp_idx") > 0,
        F.when(
            (dp_raw != ".") & dp_raw.isNotNull(),
            F.coalesce(dp_raw.try_cast("int"), F.lit(0)),
        ).otherwise(F.lit(0)),
    ).otherwise(F.lit(9 if process_missing_addp else 0))
    df = df.withColumn("total_depth", total_depth)

    # C17: RGDID/hgvs from the ID field
    parsed = scalar.parse_rgd_id_field(F.col("id"))
    df = df.withColumn("rgd_id", parsed["rgd_id"]).withColumn(
        "hgvs_name",
        F.when(F.col("id").startswith("RGDID:"), parsed["hgvs_name"]),
    )

    # E2/F7: per-allele explode over [ref]+alts; skip allele == ref
    alleles = F.concat(F.array(F.col("ref")), F.split(F.col("alt"), ","))
    df = df.withColumn("alleles", alleles).withColumn(
        "allele_count", scalar.allele_count(F.col("alt"))
    )
    df = df.withColumn("var_nuc_raw", F.explode(F.col("alleles")))
    if not process_variants_same_as_ref:
        df = df.filter(F.col("var_nuc_raw") != F.col("ref"))

    def count_of(allele: Column) -> Column:
        idx = F.array_position(F.col("alleles"), allele)
        return F.when(
            idx > 0, F.coalesce(F.try_element_at(F.col("ad_arr"), idx.cast("int")), F.lit(0))
        ).otherwise(F.lit(0))

    df = (
        df.withColumn("count_a", count_of(F.lit("A")))
        .withColumn("count_c", count_of(F.lit("C")))
        .withColumn("count_g", count_of(F.lit("G")))
        .withColumn("count_t", count_of(F.lit("T")))
        .withColumn("allele_depth", count_of(F.col("var_nuc_raw")))
    )

    # C5: indel padding adjust; reject rows whose padding base mismatches
    # (adjustForIndels returns false -> row dropped) and block substitutions
    ref_c, var_c = F.col("ref"), F.col("var_nuc_raw")
    is_snv = (F.length(ref_c) == 1) & (F.length(var_c) == 1)
    is_ins = (F.length(ref_c) == 1) & (F.length(var_c) > 1)
    is_del = (F.length(ref_c) > 1) & (F.length(var_c) == 1)
    pad_ok = F.substring(ref_c, 1, 1) == F.substring(var_c, 1, 1)
    df = df.filter(is_snv | ((is_ins | is_del) & pad_ok))
    adj = scalar.indel_padding_adjust(F.col("pos"), ref_c, var_c)
    df = (
        df.withColumn("position", adj["position"])
        .withColumn("ref_nuc", adj["ref_nuc"])
        .withColumn("var_nuc", adj["var_nuc"])
        .withColumn("padding_base", adj["padding_base"])
        .withColumn("is_indel", is_ins | is_del)
    )

    # The VCF ID passes through to rsId VERBATIM — '.' included (the
    # reference hands v[2] straight to setRsId, :221/:289, and
    # CommonFormat2Writer only queries dbSNP when rsId is truly null,
    # CommonFormat2Writer.java:72-74 — '.' is non-null, so no lookup).
    # J11 backfill below therefore applies only to genuinely absent IDs
    # (short lines), first match wins deterministically.
    df = df.withColumn("rs_id", F.col("id"))
    if db_snp is not None:
        snp = first_match_wins(
            db_snp.select(
                F.col("chromosome").alias("s_chr"),
                F.col("position").alias("s_pos"),
                F.col("snp_name"),
            ),
            partition_keys=["s_chr", "s_pos"],
            order_keys=["snp_name"],
        )
        df = df.join(
            snp,
            (F.col("chr") == F.col("s_chr")) & (F.col("position") == F.col("s_pos")),
            "left",
        ).withColumn(
            "rs_id", F.coalesce(F.col("rs_id"), F.col("snp_name"))
        ).drop("s_chr", "s_pos", "snp_name")

    # F11: CF2 projection — indels carry NO ACGT counts (CommonFormat2Writer
    # writes empty cells, read back as 0 by the CF2 reader)
    zero_if_indel = lambda c: F.when(F.col("is_indel"), F.lit(0)).otherwise(c)  # noqa: E731
    return df.select(
        "strain",
        "chr",
        "position",
        "ref_nuc",
        "var_nuc",
        F.coalesce(F.col("rs_id"), F.lit("")).alias("rs_id"),
        zero_if_indel(F.col("count_a")).alias("count_a"),
        zero_if_indel(F.col("count_c")).alias("count_c"),
        zero_if_indel(F.col("count_g")).alias("count_g"),
        zero_if_indel(F.col("count_t")).alias("count_t"),
        "total_depth",
        F.coalesce(F.col("hgvs_name"), F.lit("")).alias("hgvs_name"),
        "rgd_id",
        "allele_depth",
        "allele_count",
        "read_depth",
        F.coalesce(F.col("padding_base"), F.lit("")).alias("padding_base"),
    )


def genotype_counts(
    spark: SparkSession, path: str, process_missing_addp: bool = False
) -> DataFrame:
    """A1: per (strain, genotype) counts.  handleGenotype tallies every
    genotype (incl. missing ones) but only for lines that survive the
    line-level filters — chromosome validity, multi-allelic skip, AD/DP
    presence (processLine returns before the strain loop; :161-223)."""
    df = vcf_src.read_vcf_multisample(spark, path)
    df = df.filter(
        scalar.normalize_chromosome(F.col("chrom")).isNotNull()
    ).filter(~F.col("alt").contains(","))
    if not process_missing_addp:
        fmt = F.when(
            F.col("format").contains(";"), F.split(F.col("format"), ";")
        ).otherwise(F.split(F.col("format"), ":"))
        has_ad = (F.array_position(fmt, "AD") > 0) | (
            F.array_position(fmt, "CLCAD2") > 0
        )
        df = df.filter(has_ad & (F.array_position(fmt, "DP") > 0))
    gt = F.when(
        F.length("sample_value") >= 3, F.substring("sample_value", 1, 3)
    ).otherwise(F.col("sample_value"))
    return df.groupBy("strain", gt.alias("genotype")).count()

