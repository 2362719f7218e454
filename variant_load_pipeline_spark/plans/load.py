"""The VariantLoad3 pipeline (SURVEY.md §3.2): CF2 -> variant tables.

One declarative DataFrame plan replaces the reference's line loop + heap
accumulation + JDBC batches (VariantLoad3.java:178-589):

    read_cf2 -> allele validation (F4) -> derive type/end/quality (C1-C4)
    -> zygosity columns (C10/C11) -> zero-called filter (F8)
    -> genic status: one broadcast (chromosome, bin) bucket probe (J2)
    -> dedup-upsert ids against the existing store, or fresh ids (J4)
    -> project VARIANT / VARIANT_MAP_DATA / VARIANT_SAMPLE_DETAIL

Scale: the only shuffles are the upsert join and the id-allocation window;
the gene model is broadcast and everything else is narrow.  Partition the
store by (map_key, chromosome) on write so per-assembly loads prune.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import scalar
from ..functions import zygosity as Z
from ..operators.interval_join import DEFAULT_BIN
from ..operators.upsert import dedup_upsert


@dataclass
class SampleInfo:
    """SAMPLE row driving the load (LoadRn6Rn7Samples.java:252-259)."""

    sample_id: int
    gender: str  # 'M'|'F'|'U'|'P'
    map_key: int
    source: str = ""


def derive_variants(
    cf2: DataFrame,
    sample: SampleInfo,
    chr_filter: str | None = None,
    par_build: str = "36",
) -> DataFrame:
    """CF2 rows -> annotated variant rows (before genic status / ids).

    Column parity with VariantLoad3.processLine (:222-365): isSnv when both
    alleles non-empty; invalid snv alleles dropped; quality from AD/DP
    integer formula; indel vs snv zygosity paths; score==0 rows dropped
    (badVariants).
    """
    df = cf2
    if chr_filter is not None:
        df = df.filter(F.col("chr") == chr_filter)  # F3 -> partition pruning

    is_snv = (F.col("ref_nuc") != "") & (F.col("var_nuc") != "")
    df = df.withColumn("is_snv", is_snv).filter(
        ~F.col("is_snv")
        | (
            scalar.is_valid_nuc(F.col("ref_nuc"))
            & scalar.is_valid_nuc(F.col("var_nuc"))
        )
    )

    vtype = scalar.variant_type(F.col("ref_nuc"), F.col("var_nuc"))
    df = (
        df.withColumn("variant_type", vtype)
        .withColumn(
            "total_depth_eff",
            scalar.total_depth_default(
                F.col("total_depth"),
                F.col("variant_type"),
                F.col("count_a"),
                F.col("count_c"),
                F.col("count_g"),
                F.col("count_t"),
                F.col("read_depth"),
            ),
        )
        .withColumn(
            "quality_score",
            scalar.quality_score(F.col("read_depth"), F.col("total_depth_eff")),
        )
        .withColumn(
            "end_pos",
            scalar.end_pos(
                F.col("position"), F.col("ref_nuc"), F.col("variant_type")
            ),
        )
    )

    gender = F.lit(sample.gender)
    snv = Z.snv_zygosity_columns(
        F.col("count_a"),
        F.col("count_c"),
        F.col("count_g"),
        F.col("count_t"),
        F.col("ref_nuc"),
        F.col("var_nuc"),
        F.col("chr"),
        F.col("position"),
        gender,
        par_build,
    )
    indel = Z.indel_zygosity_columns(
        F.col("allele_depth"),
        F.col("read_depth"),
        F.col("ref_nuc"),
        F.col("count_a"),
        F.col("count_c"),
        F.col("count_g"),
        F.col("count_t"),
        F.col("chr"),
        F.col("position"),
        gender,
        par_build,
    )
    zyg_cols = {}
    for k in snv:
        zyg_cols[k] = F.when(F.col("is_snv"), snv[k]).otherwise(indel[k])
    df = df.select("*", *[c.alias(k) for k, c in zyg_cols.items()])

    # F8: zero-called filter (VariantLoad3.java:338-346)
    df = df.filter(F.col("score") > 0)

    return df.withColumn("sample_id", F.lit(sample.sample_id)).withColumn(
        "map_key", F.lit(sample.map_key)
    )


def attach_genic_status(
    variants: DataFrame,
    genes: DataFrame,
    chrom_col: str = "chr",
    pos_col: str = "position",
) -> DataFrame:
    """J2: point-in-interval probe against ACTIVE gene intervals ->
    ``genic_status`` GENIC/INTERGENIC (VariantLoad3.java:682-692 via
    GeneCache; GenicStatusFixUp reuses the same probe).  ``genes`` carries
    chromosome/start_pos/stop_pos and optionally object_status.

    The only genic-status code: the gene model collapses to one broadcast
    row per (chromosome, 100 kb bin) carrying that bin's interval array; a
    variant joins at most one bucket row (a left join on a unique key, so
    no row multiplication) and tests containment with ``F.exists``.  One
    pass, no semi/anti pair, and streaming-safe (stream-static anti joins
    are unsupported).  A NULL position or chromosome, or a chromosome with
    no genes, finds no bucket and is INTERGENIC.
    """
    g = genes
    if "object_status" in g.columns:
        g = g.filter(F.col("object_status") == "ACTIVE")
    gb = (
        g.select(
            F.col("chromosome").alias("g_chrom"),
            F.col("start_pos").alias("g_start"),
            F.col("stop_pos").alias("g_stop"),
        )
        .withColumn(
            "g_bin",
            F.explode(
                F.sequence(
                    F.floor(F.col("g_start") / DEFAULT_BIN),
                    F.floor(F.col("g_stop") / DEFAULT_BIN),
                )
            ),
        )
        .groupBy("g_chrom", "g_bin")
        .agg(F.collect_list(F.struct("g_start", "g_stop")).alias("ivls"))
    )
    v = variants.withColumn("__bin", F.floor(F.col(pos_col) / DEFAULT_BIN))
    joined = v.join(
        F.broadcast(gb),
        (F.col(chrom_col) == F.col("g_chrom")) & (F.col("__bin") == F.col("g_bin")),
        "left",
    )
    pos = F.col(pos_col)
    hit = F.exists("ivls", lambda i: (i["g_start"] <= pos) & (i["g_stop"] >= pos))
    return joined.withColumn(
        "genic_status", F.when(hit, F.lit("GENIC")).otherwise(F.lit("INTERGENIC"))
    ).drop("__bin", "g_chrom", "g_bin", "ivls")


def assign_ids(variants: DataFrame, existing: DataFrame | None) -> DataFrame:
    """J4: 6-key case-insensitive match against the store; reuse or allocate
    deterministic ids (VariantLoad3.java:519-562)."""
    v = variants.withColumnRenamed("chr", "chromosome").withColumnRenamed(
        "position", "start_pos"
    )
    return dedup_upsert(v, existing)


def variant_tables(
    annotated: DataFrame, sample: SampleInfo, species_type_key: int = 3
) -> dict[str, DataFrame]:
    """Project the three output tables (VariantProcessingBase.java:225-258)."""
    variant = annotated.select(
        "rgd_id",
        "ref_nuc",
        "variant_type",
        "var_nuc",
        "rs_id",
        F.lit(None).cast("string").alias("clinvar_id"),
        F.lit(species_type_key).alias("species_type_key"),
    ).dropDuplicates(["rgd_id"])
    map_data = annotated.select(
        "rgd_id",
        "chromosome",
        "start_pos",
        "end_pos",
        F.when(F.col("variant_type") != "snv", F.col("padding_base"))
        .otherwise(F.lit(None).cast("string"))
        .alias("padding_base"),
        "genic_status",
        "map_key",
    ).dropDuplicates(["rgd_id", "map_key", "chromosome", "start_pos"])
    sample_detail = annotated.select(
        "rgd_id",
        F.lit(sample.source).alias("source"),
        "sample_id",
        F.col("total_depth_eff").alias("total_depth"),
        F.col("allele_depth").alias("var_freq"),
        "zygosity_status",
        "zygosity_percent_read",
        "zygosity_poss_error",
        "zygosity_ref_allele",
        "zygosity_num_allele",
        "zygosity_in_pseudo",
        "quality_score",
    ).dropDuplicates(["rgd_id", "sample_id"])
    return {
        "variant": variant,
        "variant_map_data": map_data,
        "variant_sample_detail": sample_detail,
    }


def run_load(
    cf2: DataFrame,
    sample: SampleInfo,
    genes: DataFrame,
    existing: DataFrame | None = None,
    chr_filter: str | None = None,
) -> dict[str, DataFrame]:
    """End-to-end VariantLoad3: returns the three variant tables plus the
    annotated row set under key '_annotated' (for tests/counters)."""
    v = derive_variants(cf2, sample, chr_filter)
    v = attach_genic_status(v, genes)
    v = assign_ids(v, existing)
    out = variant_tables(v, sample)
    out["_annotated"] = v
    return out


def write_variant_store(
    df: DataFrame, path: str, mode: str = "overwrite"
) -> None:
    """K3: the batched-insert sink (VariantProcessingBase.java:223-273 —
    the reference accumulates rows and flushes JDBC batches) re-expressed
    as a partitioned parquet write: every executor appends its partition's
    rows in parallel (the distributed analog of the batch flush), and
    ``partitionBy(map_key, chromosome)`` lays the store out so per-assembly
    / per-chromosome loads prune at the source (F3)."""
    df.write.mode(mode).partitionBy("map_key", "chromosome").parquet(path)


def read_variant_store(
    spark,
    path: str,
    map_key: int | None = None,
    chromosome: str | None = None,
) -> DataFrame:
    """Re-scan the partitioned variant store.  The equality filters land
    in the scan's PartitionFilters (F3, VariantLoad3.java:229-233 — the
    reference's per-chromosome WHERE clause), so a chromosome-scoped load
    reads only that chromosome's files — the property that keeps
    incremental loads O(chromosome), not O(store), at 100 TB."""
    df = spark.read.parquet(path)
    if map_key is not None:
        df = df.filter(F.col("map_key") == map_key)
    if chromosome is not None:
        df = df.filter(F.col("chromosome") == chromosome)
    return df


_SAMPLE_DETAIL_COLS = [
    ("total_depth", "int"),
    ("var_freq", "int"),
    ("zygosity_status", "string"),
    ("zygosity_percent_read", "int"),
    ("zygosity_poss_error", "string"),
    ("zygosity_ref_allele", "string"),
    ("zygosity_num_allele", "int"),
    ("zygosity_in_pseudo", "string"),
    ("quality_score", "int"),
]


def run_reload_from_db(
    incoming: DataFrame,
    existing: DataFrame | None,
    sample: SampleInfo,
    elements: DataFrame | None = None,
    chr_filter: str | None = None,
    species_type_key: int = 3,
) -> dict[str, DataFrame]:
    """VariantRatLoaderFromDb composed end-to-end: re-load variant-shaped
    rows from a prior per-sample table into the store.

    Reference semantics (VariantRatLoaderFromDb.java):

    * run()/runClinVar() (:93-272) match each incoming row against the
      already-loaded (variant ⋈ variant_map_data) slice with the
      NULL-TOLERANT key compare (:128-145 and :220-250): var_nuc
      null==null matches, ref_nuc/var_nuc compare case-insensitively.
      Matched rows REUSE the store id; unmatched rows draw a fresh id and
      are batch-inserted into VARIANT (:309-326) + VARIANT_MAP_DATA
      (:328-342); EVERY incoming row lands in VARIANT_SAMPLE_DETAIL
      (:246-266, :352-374).
    * The ClinVar path finishes with insertClinvarIds
      (VariantProcessingBase.java:344-378): a batched
      ``UPDATE variant SET clinvar_id = symbol`` from genomic elements
      whose source == 'CLINVAR' over the WHOLE variant table — here the
      K5 merge_update stamps the fresh inserts inline, and the returned
      ``variant_clinvar_updates`` frame carries the (rgd_id, clinvar_id)
      UPDATE rows for EVERY store-or-fresh id (the reference's statement
      touches existing variants this load never re-inserted).

    Spark-first: the per-(sample, chromosome) JVM loop becomes one
    declarative plan — dedup_upsert is a single null-safe left join whose
    store side prunes to (map_key, chromosome) partitions, and the
    ClinVar update is a broadcast-able merge join, not 10k-row JDBC
    batches.  ``incoming`` carries the 6-key + rs_id + whatever sample-
    detail columns the source table had; absent detail columns surface as
    typed nulls (the reference's JDBC mapper does the same for missing
    fields).
    """
    df = incoming
    if chr_filter is not None:
        df = df.filter(F.col("chromosome") == chr_filter)
    for col, typ in _SAMPLE_DETAIL_COLS:
        if col not in df.columns:
            df = df.withColumn(col, F.lit(None).cast(typ))
    if "rs_id" not in df.columns:
        df = df.withColumn("rs_id", F.lit(None).cast("string"))
    if "genic_status" not in df.columns:
        df = df.withColumn("genic_status", F.lit(None).cast("string"))
    if "padding_base" not in df.columns:
        df = df.withColumn("padding_base", F.lit(None).cast("string"))

    ids = dedup_upsert(df, existing)

    # only unmatched rows are inserted into variant/variant_map_data
    # (varBatch collects id==0 rows only, :145-155); sample detail takes
    # every row (:156-170)
    fresh = ids.filter(F.col("id_source") == "new")
    variant = fresh.select(
        "rgd_id",
        "ref_nuc",
        "variant_type",
        "var_nuc",
        "rs_id",
        F.lit(None).cast("string").alias("clinvar_id"),
        F.lit(species_type_key).alias("species_type_key"),
    ).dropDuplicates(["rgd_id"])
    clinvar_updates = None
    if elements is not None:
        from ..operators.upsert import merge_update

        clinvar = (
            elements.filter(F.upper(F.col("source")) == "CLINVAR")
            .select("rgd_id", F.col("symbol").alias("clinvar_id"))
        )
        variant = merge_update(
            variant, clinvar, keys=["rgd_id"], set_cols=["clinvar_id"]
        )
        # insertClinvarIds (VariantProcessingBase.java:344-378) UPDATEs
        # the WHOLE variant table, not just this load's inserts — emit
        # the K5 batched-UPDATE input for every store-or-fresh id that
        # matches a CLINVAR element, so existing matched variants receive
        # their clinvar_id too (the fresh frame above already carries it
        # inline).  A semi join against the full id universe: every store
        # id (not only ones this load re-matched) plus this load's ids.
        universe = ids.select(F.col("rgd_id").cast("long").alias("rgd_id"))
        if existing is not None:
            universe = universe.unionByName(
                existing.select(
                    F.col("rgd_id").cast("long").alias("rgd_id")
                )
            )
        clinvar_updates = clinvar.join(
            universe.dropDuplicates(["rgd_id"]), "rgd_id", "leftsemi"
        )
    map_data = fresh.select(
        "rgd_id",
        "chromosome",
        "start_pos",
        "end_pos",
        "padding_base",
        "genic_status",
        F.lit(sample.map_key).alias("map_key"),
    ).dropDuplicates(["rgd_id", "map_key", "chromosome", "start_pos"])
    sample_detail = ids.select(
        "rgd_id",
        F.lit(sample.source).alias("source"),
        F.lit(sample.sample_id).alias("sample_id"),
        *[F.col(c) for c, _ in _SAMPLE_DETAIL_COLS],
    ).dropDuplicates(["rgd_id", "sample_id"])
    out = {
        "variant": variant,
        "variant_map_data": map_data,
        "variant_sample_detail": sample_detail,
        "_ids": ids,
    }
    if clinvar_updates is not None:
        out["variant_clinvar_updates"] = clinvar_updates
    return out


def load_counters(annotated: DataFrame) -> DataFrame:
    """A7: dbSnp vs novel counts per sample.  rs_id flows through CF2
    verbatim, so a missing VCF ID arrives as the literal '.' — counted as
    novel alongside empty (matches the reference, where '.' rows never get
    a dbSNP id and the novel tally counts rows without one)."""
    is_novel = (F.col("rs_id") == "") | (F.col("rs_id") == ".")
    return annotated.groupBy("sample_id").agg(
        F.sum(F.when(~is_novel, 1).otherwise(0)).alias("dbsnp_rows"),
        F.sum(F.when(is_novel, 1).otherwise(0)).alias("novel_rows"),
        F.count(F.lit(1)).alias("rows_loaded"),
    )
