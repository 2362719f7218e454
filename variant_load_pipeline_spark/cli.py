"""CLI mirroring the reference's ``Manager`` tool dispatch
(reference: Manager.java:30-84 — ``--tool <Name>`` selects one of 17 tools).

Every reference tool maps to a subcommand with the same name; inputs/outputs
are files (VCF/CF2/wiggle/TSV) and parquet tables instead of Oracle.  Each
handler is a thin adapter over the plans/sources/operators modules — the CLI
adds no logic of its own.

    python -m variant_load_pipeline_spark --tool VcfConverter2 \
        --vcf in.vcf.gz --out out_cf2/
    python -m variant_load_pipeline_spark --tool VariantLoad3 \
        --cf2 out_cf2/ --sample-id 7 --gender M --map-key 372 \
        --genes genes.parquet --out tables/
"""

from __future__ import annotations

import argparse
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TOOLS: dict[str, Callable] = {}


def tool(name: str):
    def deco(fn):
        TOOLS[name] = fn
        return fn

    return deco


def _read(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


# -- export family (ClinVar2Vcf.java, DbSnp2Vcf.java, GwasCat2Vcf.java) -----
def _export_variants_vcf(spark, args) -> None:
    from .plans.export import export_vcf

    export_vcf(_read(spark, args.variants), args.out, compress=args.gzip)


for _name in ("ClinVar2Vcf", "GwasCat2Vcf"):
    TOOLS[_name] = _export_variants_vcf


@tool("DbSnp2Vcf")
def _dbsnp2vcf(spark, args) -> None:
    """DbSnp2Vcf.java: dbSNP variant rows -> sorted VCF, deriving ref/alt
    from the HGVS nucleotide change per variation type (getRefAndVarNuc
    :216-285) with '-'-strand reverse-complement (handleStrandedness
    :193-213) and the BOTH-allele ACGT validation (qcVarNucAndRefNuc
    :161-191 — refNuc and varNuc each strict ACGT unless '-').

    When the input already carries ref/alt columns (no ``nuc_change``),
    falls back to the generic pre-derived export path."""
    from .functions import scalar
    from .plans.export import export_vcf

    df = _read(spark, args.variants)
    if "nuc_change" in df.columns:
        rv = scalar.dbsnp_ref_var(
            F.col("var_type"),
            F.col("nuc_change"),
            F.col("strand") if "strand" in df.columns else None,
        )
        df = df.select(
            "chromosome",
            "position",
            "id",
            rv["ref_nuc"].alias("ref"),
            rv["var_nuc"].alias("alt"),
            (
                F.col("depth")
                if "depth" in df.columns
                else F.lit(None).cast("long")
            ).alias("depth"),
        )
        # unsupported (type, change) rows are skipped (getRefAndVarNuc
        # returns false); qcVarNucAndRefNuc (:161-191) then requires BOTH
        # alleles strict-ACGT (or the '-' placeholder) — IUPAC/N changes
        # like 'C>R' or 'delNN' parse but are dropped here, exactly the
        # reference's parse-then-QC split
        df = df.filter(
            F.col("ref").isNotNull()
            & F.col("alt").isNotNull()
            & (
                (F.col("ref") == "-")
                | scalar.is_valid_nuc(F.col("ref"), "ACGT")
            )
            & (
                (F.col("alt") == "-")
                | scalar.is_valid_nuc(F.col("alt"), "ACGT")
            )
        )
    export_vcf(df, args.out, compress=args.gzip)


@tool("Txt2Vcf")
def _txt2vcf(spark, args) -> None:
    """Txt2Vcf.java:38-157: per-chr TSV with comma-embedded positions
    ('1,079' -> 1079, readPos :225-234) -> sorted VCF."""
    from .plans.export import export_vcf

    df = (
        spark.read.option("header", "true").option("sep", "\t").csv(args.txt)
    ).select(
        "chromosome",
        F.regexp_replace("position", "[^0-9]", "").cast("long").alias("position"),
        "id",
        "ref",
        "alt",
        F.col("depth").cast("long").alias("depth"),
    )
    export_vcf(df, args.out, compress=args.gzip)


@tool("VcfConverter2")
def _vcf_converter2(spark, args) -> None:
    """VcfToCommonFormat2Converter.java: multi-sample VCF -> per-strain CF2."""
    from .plans.convert import convert_vcf_to_cf2
    from .sources.cf2 import write_cf2

    cf2 = convert_vcf_to_cf2(
        spark,
        args.vcf,
        process_missing_addp=args.addp,
        process_variants_same_as_ref=args.same_as_ref,
        db_snp=_read(spark, args.dbsnp) if args.dbsnp else None,
    )
    write_cf2(cf2, args.out, partition_by="strain", compress=args.gzip)


@tool("Vcf8ColConverter")
def _vcf8col_converter(spark, args) -> None:
    """Vcf8ColToCommonFormat2Converter.java:154-257: 8-col VCF with INFO
    DP/AC -> one CF2 row per allele.  When AC is present and the ref allele
    is absent, the imputed ref depth (DP - sum(AC), if > 0) is APPENDED to
    the allele arrays (:175-200) — it feeds the per-base count lookups for
    every row, but its own row is emitted only under --same-as-ref (the
    allele==ref skip at :209-211 applies to it like any other allele).
    Per-base counts are first-match lookups of the literal base across the
    FULL allele/depth arrays (getSnpAlleleDepth, :249-255); rsId is the VCF
    ID column passed through verbatim ('.' included); read_depth = DP.
    """
    from .functions import scalar
    from .sources.cf2 import write_cf2
    from .sources.vcf import read_vcf8col

    df = read_vcf8col(spark, args.vcf)
    df = df.withColumn(
        "chr", scalar.normalize_chromosome(F.col("chrom"))
    ).filter(F.col("chr").isNotNull() & (F.length("chr") <= 2))
    alts = F.split(F.col("alt"), ",")
    depths0 = F.transform(
        F.split(F.col("info_map")["AC"], ","), lambda x: x.cast("long")
    )
    # malformed AC (length != ALT count) crashes the reference with an
    # index error — fail loudly here too instead of silently misaligning
    # the per-base count lookups.  The check rides inside dp (selected on
    # every output row) so column pruning can never elide it.
    ac_mismatch = depths0.isNotNull() & (alts.isNotNull()) & (
        F.size(alts) != F.size(depths0)
    )
    dp = F.when(
        ac_mismatch,
        F.raise_error(
            F.concat(
                F.lit("AC count does not match ALT count at "),
                F.col("chrom"),
                F.lit(":"),
                F.col("pos").cast("string"),
            )
        ).cast("long"),
    ).otherwise(F.col("info_map")["DP"].cast("long"))
    imputed_ref = dp - F.aggregate(
        depths0, F.lit(0).cast("long"), lambda a, x: a + x
    )
    append_ref = (
        depths0.isNotNull()
        & ~F.array_contains(alts, F.col("ref"))
        & (imputed_ref > 0)
    )
    arrays = df.select(
        "chr",
        F.col("pos").alias("position"),
        F.col("ref").alias("ref_nuc"),
        F.col("id").alias("rs_id"),
        dp.alias("dp"),
        F.when(append_ref, F.concat(alts, F.array(F.col("ref"))))
        .otherwise(alts)
        .alias("alleles"),
        F.when(append_ref, F.concat(depths0, F.array(imputed_ref)))
        .otherwise(depths0)
        .alias("depths"),
    )
    rows = arrays.select(
        "*", F.posexplode(F.col("alleles")).alias("ai", "var_nuc")
    )
    if not args.same_as_ref:
        rows = rows.filter(F.col("var_nuc") != F.col("ref_nuc"))
    has_ac = F.col("depths").isNotNull()

    def base_count(b: str):
        # first-match lookup of the literal base across the full arrays
        idx = F.array_position(F.col("alleles"), F.lit(b))
        ac_count = F.when(
            idx > 0, F.element_at(F.col("depths"), idx.cast("int"))
        ).otherwise(F.lit(0))
        no_ac_count = F.when(F.col("var_nuc") == b, F.col("dp"))
        return F.when(has_ac, ac_count).otherwise(no_ac_count).cast("int")

    cf2_rows = rows.select(
        "chr",
        "position",
        "ref_nuc",
        "var_nuc",
        "rs_id",
        base_count("A").alias("count_a"),
        base_count("C").alias("count_c"),
        base_count("G").alias("count_g"),
        base_count("T").alias("count_t"),
        F.when(F.col("dp") > 0, F.col("dp")).cast("int").alias("total_depth"),
        F.lit("").alias("hgvs_name"),
        F.lit(None).cast("long").alias("rgd_id"),
        F.when(has_ac, F.element_at(F.col("depths"), F.col("ai") + 1))
        .otherwise(F.col("dp"))
        .cast("int")
        .alias("allele_depth"),
        F.when(~has_ac, F.lit(1)).cast("int").alias("allele_count"),
        F.when(F.col("dp") > 0, F.col("dp")).cast("int").alias("read_depth"),
        F.lit("").alias("padding_base"),
    )
    write_cf2(cf2_rows, args.out, compress=args.gzip)


@tool("VariantLoad3")
def _variant_load3(spark, args) -> None:
    """VariantLoad3.java: CF2 -> VARIANT / VARIANT_MAP_DATA /
    VARIANT_SAMPLE_DETAIL parquet tables."""
    from .plans.load import SampleInfo, run_load
    from .sources.cf2 import read_cf2

    cf2 = read_cf2(spark, args.cf2)
    sample = SampleInfo(
        sample_id=args.sample_id, gender=args.gender, map_key=args.map_key
    )
    existing = _read(spark, args.existing) if args.existing else None
    tables = run_load(
        cf2,
        sample,
        _read(spark, args.genes),
        existing=existing,
        chr_filter=args.chr,
    )
    for name, df in tables.items():
        if name.startswith("_"):
            continue
        df.write.mode("overwrite").parquet(f"{args.out}/{name}")


@tool("VariantRatLoaderFromDb")
def _variant_rat_loader_from_db(spark, args) -> None:
    """VariantRatLoaderFromDb.java:93-272: re-load variant-shaped rows from
    a prior per-sample table (--variants) against the store (--existing)
    with the ClinVar null-tolerant dedup (J5), insert unmatched rows into
    VARIANT/VARIANT_MAP_DATA, every row into VARIANT_SAMPLE_DETAIL, then
    apply the clinvar_id batched UPDATE (K5) from genomic elements
    (--elements, VariantProcessingBase.java:344-378)."""
    from .plans.load import SampleInfo, run_reload_from_db

    tables = run_reload_from_db(
        _read(spark, args.variants),
        _read(spark, args.existing) if args.existing else None,
        SampleInfo(
            sample_id=args.sample_id, gender=args.gender, map_key=args.map_key
        ),
        elements=_read(spark, args.elements) if args.elements else None,
        chr_filter=args.chr,
    )
    for name, df in tables.items():
        if name.startswith("_"):
            continue
        df.write.mode("overwrite").parquet(f"{args.out}/{name}")


@tool("VariantPostProcessing")
def _variant_post_processing(spark, args) -> None:
    """VariantPostProcessing.java: variants x gene model -> VARIANT_TRANSCRIPT."""
    from .plans.postprocess import annotate_variants

    vt = annotate_variants(
        _read(spark, args.variants),
        _read(spark, args.genes),
        _read(spark, args.transcripts),
        _read(spark, args.features),
        _read(spark, args.fasta),
        existing_vt=_read(spark, args.existing_vt) if args.existing_vt else None,
        map_key=args.map_key,
        fasta_strategy=args.fasta_strategy,
    )
    vt.write.mode("overwrite").parquet(args.out)


@tool("SnpEffLoader")
def _snpeff_loader(spark, args) -> None:
    """SnpEffLoader.java: SnpEff-annotated VCF -> SNP_EFF parquet."""
    from .sources.snpeff import match_variants, read_snpeff_vcf

    ann = read_snpeff_vcf(spark, args.snpeff_vcf)
    out = match_variants(
        ann, _read(spark, args.variants), sample_id=args.sample_id
    )
    out.write.mode("overwrite").parquet(args.out)


@tool("ConservationScoreLoader")
def _conservation_loader(spark, args) -> None:
    """ConservationScoreLoader.java: fixedStep wiggle -> (chr, position,
    score) parquet, 50k-batch inserts replaced by a bulk columnar write."""
    from .sources.wiggle import read_wiggle

    read_wiggle(spark, args.wiggle).write.mode("overwrite").parquet(args.out)


@tool("Polyphen")
def _polyphen(spark, args) -> None:
    """Polyphen.java:144-341: either run the full missense -> strand ->
    flank-QC chain (when the table args are given) or take prebuilt
    missense rows (--missense), then write 'acc pos aa1 aa2' input."""
    from .sources.polyphen import write_polyphen_input

    if args.missense:
        rows = _read(spark, args.missense)
    else:
        from .plans.polyphen import build_polyphen_input

        rows = build_polyphen_input(
            _read(spark, args.variants),
            _read(spark, args.vmd),
            _read(spark, args.variant_transcripts),
            _read(spark, args.transcripts),
            _read(spark, args.features),
            protein_seqs=(
                _read(spark, args.protein_seqs) if args.protein_seqs else None
            ),
        )
    write_polyphen_input(rows, args.out)


@tool("Polyphen2")
def _polyphen2(spark, args) -> None:
    """Polyphen2.java:105-135: the Polyphen chain sourced from the
    annotated VARIANT_TRANSCRIPT table, joined to GENES for the region
    name, with optional --gene-symbols scoping.  The reference's
    randomized output order (:91) is obsolete under Spark partitioning
    (SURVEY §4 W7)."""
    from .plans.polyphen import build_polyphen2_input
    from .sources.polyphen import write_polyphen_input

    rows = build_polyphen2_input(
        _read(spark, args.variants),
        _read(spark, args.vmd),
        _read(spark, args.variant_transcripts),
        _read(spark, args.transcripts),
        _read(spark, args.features),
        genes=_read(spark, args.genes) if args.genes else None,
        gene_symbols=(
            args.gene_symbols.split(",") if args.gene_symbols else None
        ),
        protein_seqs=(
            _read(spark, args.protein_seqs) if args.protein_seqs else None
        ),
    )
    write_polyphen_input(rows, args.out)


@tool("PolyphenFasta")
def _polyphen_fasta(spark, args) -> None:
    """Polyphen.java:357-372: protein sequences -> 70-char-wrapped FASTA."""
    from .sources.fasta import write_fasta

    write_fasta(_read(spark, args.variants), args.out)


@tool("PolyphenLoader")
def _polyphen_loader(spark, args) -> None:
    """PolyphenLoader.java: 55-col results + .info sidecar ->
    consume-first-match pairing (J16) -> POLYPHEN parquet."""
    from .sources.polyphen import (
        pair_results_with_info,
        read_polyphen_info,
        read_polyphen_results,
    )

    paired = pair_results_with_info(
        read_polyphen_results(spark, args.results),
        read_polyphen_info(spark, args.info),
    )
    paired.write.mode("overwrite").parquet(args.out)


@tool("PolyphenLoader2")
def _polyphen_loader2(spark, args) -> None:
    """PolyphenLoader2.java:59-233: 55-col results + the 9-col .info
    sidecar (variant_transcript_id at column 2, :68) -> consume-first-
    match pairing (J16, info consumed in variant_id order like the
    reference's it.remove() walk :281-303) with the swapped-AA QC filter
    (:149-153) and protein_status = '100 PERC MATCH' (:165).  Routed
    into PER-SAMPLE tables (getPolyphenTable/getVariantTranscriptTable
    per sampleId, :62-63): here a ``sample_id=<n>`` partition of
    ``<out>/polyphen``, overwritten dynamically so re-running one
    sample never clobbers another's partition.  With --existing (a
    prior polyphen parquet), the reference's duplicate probe
    (:201-218) becomes insert-if-not-exists on the same 10-key (K4).
    With --variant-transcripts, the matched rows are stamped
    polyphen_status = prediction, uniprot_id, protein_id by
    variant_transcript_id (:247-251, K5 merge_update) into
    ``<out>/variant_transcripts/sample_id=<n>``."""
    from .operators.upsert import insert_if_not_exists, merge_update
    from .sources.polyphen import (
        pair_results_with_info,
        read_polyphen_info2,
        read_polyphen_results,
    )
    from .store import overwrite_partitions

    paired = pair_results_with_info(
        read_polyphen_results(spark, args.results),
        read_polyphen_info2(spark, args.info),
        extra_cols=["variant_transcript_id"],
    )
    ten_key = [
        "variant_id", "protein_acc_id", "pos", "ref_aa", "var_aa",
        "uniprot_acc_id", "transcript_rgd_id", "variant_transcript_id",
        "o_aa1", "o_aa2",
    ]
    rows = paired
    if args.existing:
        rows = insert_if_not_exists(rows, _read(spark, args.existing), ten_key)
    sample_id = args.sample_id if args.sample_id is not None else 0
    # eager checkpoint: the plan is consumed twice (polyphen write, K5
    # updates) — without it the window-heavy pairing re-executes, and
    # an --existing pointing INSIDE --out (the reference's probe-the-
    # table-you-insert-into shape) would be overwritten mid-lineage
    rows = rows.withColumn(
        "sample_id", F.lit(sample_id)
    ).localCheckpoint(eager=True)

    overwrite_partitions(rows, f"{args.out}/polyphen", ["sample_id"])
    if args.variant_transcripts:
        updates = rows.select(
            "variant_transcript_id",
            F.col("prediction").alias("polyphen_status"),
            F.col("uniprot_acc_id").alias("uniprot_id"),
            F.col("protein_acc_id").alias("protein_id"),
        )
        vt = merge_update(
            _read(spark, args.variant_transcripts),
            updates,
            keys=["variant_transcript_id"],
            set_cols=["polyphen_status", "uniprot_id", "protein_id"],
        ).withColumn("sample_id", F.lit(sample_id))
        overwrite_partitions(
            vt, f"{args.out}/variant_transcripts", ["sample_id"]
        )


@tool("UpdateVariantStatus")
def _update_variant_status(spark, args) -> None:
    """UpdateVariantStatus.java:50-65: batched UPDATE as MERGE WHEN MATCHED."""
    from .operators.upsert import merge_update

    out = merge_update(
        _read(spark, args.target),
        _read(spark, args.updates),
        keys=args.keys.split(","),
        set_cols=args.set.split(","),
    )
    out.write.mode("overwrite").parquet(args.out)


def _fixup_report(df: DataFrame, stored: str, recomputed_col) -> DataFrame:
    """fixup/*.java pattern: re-derive a column, count up-to-date vs fixed."""
    flag = F.when(F.col(stored) == recomputed_col, "up_to_date").otherwise(
        "fixed"
    )
    return df.groupBy(flag.alias("status")).agg(F.count(F.lit(1)).alias("n"))


@tool("VariantTypeFixUp")
def _variant_type_fixup(spark, args) -> None:
    """fixup/VariantTypeFixUp.java:48-72."""
    from .functions import scalar

    df = _read(spark, args.variants)
    report = _fixup_report(
        df,
        "variant_type",
        scalar.variant_type(F.col("ref_nuc"), F.col("var_nuc")),
    )
    report.write.mode("overwrite").parquet(args.out)


@tool("FrameShiftFixUp")
def _frameshift_fixup(spark, args) -> None:
    """fixup/FrameShiftFixUp.java:55-78."""
    from .functions import scalar

    df = _read(spark, args.variants)
    report = _fixup_report(
        df, "frameshift", scalar.frameshift(F.col("ref_nuc"), F.col("var_nuc"))
    )
    report.write.mode("overwrite").parquet(args.out)


@tool("CorpusIndex")
def _corpus_index(spark, args) -> None:
    """embeddings parquet (vec_id, embedding, label) -> persisted IVF
    index at --out (vectors partitioned by inverted list + centroids
    table; build-once/query-many).  With --batch, APPEND that batch to
    an existing index instead: delta partitions under the same list
    keys, idempotent per batch id (--batch-id), no rebuild — the
    ingestion half of the index lifecycle (operators/clustering.py
    write_ivf_index / append_ivf_batch, oracle-gated by
    ann_ivf_persisted_topk / ivf_ingest_append)."""
    from .operators.clustering import append_ivf_batch, write_ivf_index

    if args.batch:
        append_ivf_batch(
            _read(spark, args.batch),
            args.out,
            batch_id=args.batch_id if args.batch_id is not None else 1,
        )
    else:
        write_ivf_index(_read(spark, args.docs), args.out)


@tool("CorpusLexIndex")
def _corpus_lex_index(spark, args) -> None:
    """Build or grow the persisted BM25 lexical index: --docs + --out
    builds the seed (write_bm25_index); --batch + --batch-id + --out
    appends a document batch WITHOUT a rebuild (append_bm25_batch —
    idempotent per-batch partitions, visible to the next search
    immediately); --compact <index path> + --batch-id folds the
    committed delta batches into the main store O(delta)
    (compact_bm25_index — probe results identical before/after,
    untouched bucket directories byte-identical) and writes a
    (store, folded) report to --out; --batch-id is the checkpoint-
    commit watermark, required for the same reason as CorpusCompact's.
    The lexical twin of CorpusIndex/CorpusCompact."""
    from .operators.lexical import (
        append_bm25_batch,
        compact_bm25_index,
        write_bm25_index,
    )

    if args.compact:
        if args.batch_id is None:
            raise SystemExit(
                "CorpusLexIndex --compact requires --batch-id (highest "
                "batch id committed to the stream's checkpoint)"
            )
        folded = compact_bm25_index(
            spark, args.compact, upto_batch_id=args.batch_id
        )
        spark.createDataFrame(
            [("bm25", folded)], "store string, folded int"
        ).repartition(1).write.mode("overwrite").parquet(args.out)
    elif args.batch:
        if args.batch_id is None:
            raise SystemExit("--batch needs --batch-id")
        append_bm25_batch(_read(spark, args.batch), args.out, args.batch_id)
    elif args.docs:
        write_bm25_index(_read(spark, args.docs), args.out)
    else:
        raise SystemExit(
            "CorpusLexIndex needs --docs (build), --batch (append), "
            "or --compact (fold)"
        )


@tool("CorpusLexSearch")
def _corpus_lex_search(spark, args) -> None:
    """BM25 top-k from the persisted lexical index: --index <path>,
    --terms <t1 t2 ...>, --k -> ranked parquet (doc_id, bm25_micro,
    rk).  The postings scan prunes to the terms' hash buckets (seed +
    any appended deltas).  --filter-mod M answers the FILTERED search
    (keep docs with doc_id % M == 0 — bm25_filtered_topk's semantics:
    candidates pre-filter inside the pruned postings, IDF stays
    corpus-wide).  The lexical twin of CorpusSearch; fuse with a
    vector ranking downstream the way rrf_hybrid_topk does — with
    --filter-mod on both tools, the fused result is fully-filtered
    hybrid retrieval."""
    from .operators.lexical import bm25_probe_topk

    if not args.terms:
        raise SystemExit("CorpusLexSearch needs --terms")
    if args.filter_mod is not None and args.filter_mod < 1:
        raise SystemExit(
            f"--filter-mod must be >= 1, got {args.filter_mod}"
        )
    out = bm25_probe_topk(
        spark,
        args.index,
        list(args.terms),
        k=args.k if args.k is not None else 20,
        predicate=(
            (F.col("doc_id") % args.filter_mod == 0)
            if args.filter_mod is not None
            else None
        ),
    )
    out.write.mode("overwrite").parquet(args.out)


@tool("CorpusSearch")
def _corpus_search(spark, args) -> None:
    """Query a persisted IVF index: --index <path>, --query-id <vec_id
    of the query vector inside --docs>, --k / --nprobe knobs ->
    top-k parquet (vec_id, label, cos_sim, rk).  The probe reads ONLY
    the probed lists' partitions (seed + any ingest delta).  Optional
    --filter-mod M answers the FILTERED search (keep candidates with
    vec_id % M == 0 — the tenant/license predicate stand-in): without
    an explicit --nprobe the strategy is SELF-ACTING
    (clustering.choose_filtered_probe — widen nprobe from the measured
    selectivity, or exact-score the filtered subset when probing would
    visit every list anyway); an explicit --nprobe pins the manual
    pre-filter-inside-probed-lists path (ann_filtered_topk's
    semantics)."""
    from .operators.clustering import (
        ivf_probe_topk,
        ivf_probe_topk_filtered,
    )

    docs = _read(spark, args.docs)
    qrow = (
        docs.filter(F.col("vec_id") == args.query_id)
        .select("embedding")
        .first()
    )
    if qrow is None:
        raise SystemExit(f"query vec_id {args.query_id} not found")
    # explicit None check: --filter-mod 0 must be rejected loudly, not
    # silently ignored as falsy
    if args.filter_mod is not None and args.filter_mod < 1:
        raise SystemExit(
            f"--filter-mod must be >= 1, got {args.filter_mod}"
        )
    pred = (
        (F.col("vec_id") % args.filter_mod == 0)
        if args.filter_mod is not None
        else None
    )
    qv = [float(x) for x in qrow["embedding"]]
    k = args.k if args.k is not None else 10
    if pred is not None and args.nprobe is None:
        out = ivf_probe_topk_filtered(
            spark, args.index, qv, k=k, predicate=pred,
            exclude_id=args.query_id,
        )
    else:
        out = ivf_probe_topk(
            spark,
            args.index,
            qv,
            nprobe=args.nprobe if args.nprobe is not None else 2,
            k=k,
            exclude_id=args.query_id,
            predicate=pred,
        )
    out.write.mode("overwrite").parquet(args.out)


@tool("CorpusCompact")
def _corpus_compact(spark, args) -> None:
    """Ingest-store maintenance: fold committed batch partitions into
    one generation.  --index <lsh index path> compacts the bands +
    shingles stores (streaming/ingest.compact_lsh_index); --kept
    <accepted-corpus path> compacts the output corpus with doc_id dedup
    (compact_kept); --ivf <ivf index path> folds lists_delta batches
    into the main lists store (operators/clustering.compact_ivf_index,
    probe results identical before/after); --manifest <epoch-manifest
    path> folds streaming manifest batches into one generation with
    training order preserved (compact_epoch_manifest).  --batch-id =
    highest COMMITTED batch id (the checkpoint contract).  --mode tier
    (index/kept/manifest/count stores) folds ONLY the committed batches
    into a NEW generation, leaving existing generations untouched —
    O(delta) per fold, with a periodic --mode full collapse (LSM
    tiering; the manifest variant keeps training order bit-for-bit).
    --quality-counts / --drift-counts fold the additive count stores
    with origin-batch dedup (compact_quality_counts /
    compact_drift_counts — crash leftovers can never double-count).
    --kmv <sketch store path> folds committed sketch batches into the
    seed by the bottom-k-of-union merge law (operators/sketches.
    compact_kmv_sketches — estimates identical before/after).
    Writes a per-store (store, folded) report to --out."""
    from .operators.clustering import compact_ivf_index
    from .streaming.ingest import (
        compact_drift_counts,
        compact_epoch_manifest,
        compact_kept,
        compact_lsh_index,
        compact_quality_counts,
    )

    # --batch-id is the checkpoint-commit watermark; a silent default
    # could fold an uncommitted batch and duplicate docs on redelivery,
    # so omitting it is an error, not a guess
    if args.batch_id is None:
        raise SystemExit(
            "CorpusCompact requires --batch-id (highest batch id "
            "COMMITTED to the stream checkpoint)"
        )
    upto = args.batch_id
    mode = args.mode or "full"
    report = []
    if args.index:
        report.append(
            ("index", compact_lsh_index(spark, args.index, upto, mode=mode))
        )
    if args.kept:
        report.append(
            ("kept", compact_kept(spark, args.kept, upto, mode=mode))
        )
    if args.ivf:
        report.append(("ivf", compact_ivf_index(spark, args.ivf, upto)))
    if args.manifest:
        report.append(
            (
                "manifest",
                compact_epoch_manifest(spark, args.manifest, upto, mode=mode),
            )
        )
    if args.quality_counts:
        report.append(
            (
                "quality_counts",
                compact_quality_counts(
                    spark, args.quality_counts, upto, mode=mode
                ),
            )
        )
    if args.drift_counts:
        report.append(
            (
                "drift_counts",
                compact_drift_counts(
                    spark, args.drift_counts, upto, mode=mode
                ),
            )
        )
    if args.kmv:
        from .operators.sketches import compact_kmv_sketches

        report.append(("kmv", compact_kmv_sketches(spark, args.kmv, upto)))
    if not report:
        raise SystemExit(
            "CorpusCompact needs --index, --kept, --ivf, --manifest, "
            "--quality-counts, --drift-counts and/or --kmv"
        )
    spark.createDataFrame(
        report, "store string, folded int"
    ).repartition(1).write.mode("overwrite").parquet(args.out)


@tool("CorpusBenchIndex")
def _corpus_bench_index(spark, args) -> None:
    """benchmark documents parquet (doc_id, text) -> persisted word
    n-gram set at --out (streaming/ingest.write_benchmark_grams) — the
    build-once decontamination index decontam_gate_sink probes per
    arriving batch (--k gram width, default 4; matches the batch
    `decontaminate` query)."""
    from .streaming.ingest import write_benchmark_grams

    write_benchmark_grams(
        _read(spark, args.bench),
        args.out,
        k=args.k if args.k is not None else 4,
    )


@tool("CorpusIngest")
def _corpus_ingest(spark, args) -> None:
    """The composed ingest door, end to end: stream --docs (parquet dir,
    file source, availableNow, one file per micro-batch) through
    streaming/ingest.corpus_ingest_sink — decontamination (--grams,
    CorpusBenchIndex output) -> quality (--model + --threshold-micro,
    CorpusClassify output) -> LSH near-dup (--index) under ONE
    checkpoint (--checkpoint, default <out>_checkpoint); accepted docs
    land in --out as idempotent per-batch partitions (read them back
    with read_kept).  --rho-model (+ --min-excess-micro, CorpusSelect
    --model output) adds the RHO selection gate after quality.  --seed-docs seeds the LSH index first
    (seed_lsh_ingest) when the index does not exist yet.  Gates whose
    artifact path is omitted are skipped — the solo sinks' semantics,
    composed.  --manifest chains epoch-manifest emission (--epochs /
    --shards): survivors enter the training order in the same batch.
    --lex-index chains BM25 postings appends: survivors become
    lexically searchable (CorpusLexSearch) at the door; fold the
    accumulated deltas with CorpusLexIndex --compact."""
    from .store import exists
    from .streaming.ingest import corpus_ingest_sink, seed_lsh_ingest

    if not args.index:
        raise SystemExit("CorpusIngest needs --index <lsh index path>")
    if args.seed_docs:
        # seed only a MISSING index: re-running the same command to
        # resume the checkpointed stream after a compaction folded the
        # seed partition must not re-create it beside the generation
        # (duplicate bands/shingles growing per resume/compact cycle)
        if not exists(spark, f"{args.index}/bands"):
            seed_lsh_ingest(_read(spark, args.seed_docs), args.index)
    schema = spark.read.parquet(args.docs).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(args.docs)
    )
    sink = corpus_ingest_sink(
        spark,
        args.index,
        args.out,
        grams_path=args.grams,
        model_path=args.model,
        threshold_micro=(
            args.threshold_micro
            if args.threshold_micro is not None
            else 500_000
        ),
        # --k must match the CorpusBenchIndex build, or the gram
        # equi-join silently matches nothing; --threshold = LSH jaccard
        # (the CorpusDedup knob)
        gram_k=args.k if args.k is not None else 4,
        threshold=args.threshold if args.threshold is not None else 0.8,
        manifest_path=args.manifest,
        epochs=args.epochs if args.epochs is not None else 3,
        shards=args.shards if args.shards is not None else 8,
        rho_model_path=args.rho_model,
        min_excess_micro=(
            args.min_excess_micro
            if args.min_excess_micro is not None
            else 0
        ),
        lex_index_path=args.lex_index,
    )
    ckpt = args.checkpoint or f"{args.out}_checkpoint"
    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


@tool("CorpusRetrain")
def _corpus_retrain(spark, args) -> None:
    """Act on the IVF maintenance monitors from the command line: fold
    committed lists_delta batches into the main lists store AND retrain
    every list's centroid to the exact floor-of-mean of its current
    members (operators/clustering.compact_ivf_index with
    retrain_centroids=True; oracle-gated by ivf_retrain_centroids) —
    what ivf_centroid_drift_report's trigger asks for when append-only
    ingest has walked the member mean away from the frozen seed
    centroid.  --ivf <index path>, --batch-id = highest COMMITTED batch
    id (the checkpoint contract — required, like CorpusCompact).
    Writes a 1-row (store, folded) report to --out."""
    from .operators.clustering import compact_ivf_index

    if args.batch_id is None:
        raise SystemExit(
            "CorpusRetrain requires --batch-id (highest batch id "
            "COMMITTED to the stream checkpoint)"
        )
    if not args.ivf:
        raise SystemExit("CorpusRetrain needs --ivf <index path>")
    folded = compact_ivf_index(
        spark, args.ivf, args.batch_id, retrain_centroids=True
    )
    spark.createDataFrame(
        [("ivf", folded)], "store string, folded int"
    ).repartition(1).write.mode("overwrite").parquet(args.out)


@tool("CorpusEpochManifest")
def _corpus_epoch_manifest(spark, args) -> None:
    """documents parquet (doc_id, ...) -> per-epoch shard manifests at
    --out: parquet partitioned by (epoch, shard), each group's file
    holding its docs in training order (epoch-seeded deterministic
    pseudo-shuffle; plans/export.py write_epoch_manifest, oracle-gated
    by epoch_shard_manifest).  --epochs / --shards knobs."""
    from .plans.export import write_epoch_manifest

    write_epoch_manifest(
        _read(spark, args.docs),
        args.out,
        epochs=args.epochs if args.epochs is not None else 3,
        shards=args.shards if args.shards is not None else 8,
    )


@tool("CorpusMineNegatives")
def _corpus_mine_negatives(spark, args) -> None:
    """Hard-negative mining from a persisted IVF index: --index <path>,
    --docs <embeddings parquet> (anchors = every --anchor-every'th
    vec_id) -> parquet (qid, nid, rk) of each anchor's top---k most-
    similar DIFFERENT-label vectors among its --nprobe probed lists
    (ivf_probe_batch; oracle-gated by ann_hard_negatives_ivf).
    Candidates come from read_ivf_lists (seed + ingest delta), so
    mining over an appended index sees what CorpusSearch sees."""
    from pyspark.sql.window import Window as W

    from .operators.clustering import ivf_probe_batch, read_ivf_lists
    from .operators.similarity import cosine

    e = _read(spark, args.docs)
    every = args.anchor_every if args.anchor_every is not None else 50
    anchors = e.filter(F.col("vec_id") % every == 0).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").cast("array<double>").alias("qv"),
        F.col("label").alias("qlabel"),
    )
    probe = ivf_probe_batch(
        spark,
        args.index,
        anchors,
        nprobe=args.nprobe if args.nprobe is not None else 3,
    )
    lists = read_ivf_lists(spark, args.index).select(
        F.col("vec_id").alias("nid"),
        F.col("embedding").cast("array<double>").alias("nv"),
        F.col("list_id").cast("int").alias("list_id"),
    )
    sims = (
        lists.join(F.broadcast(probe), "list_id")
        .filter(F.col("list_id") != F.col("qlabel"))
        .select(
            "qid",
            "nid",
            F.round(cosine(F.col("nv"), F.col("qv")), 6).alias("sim"),
        )
    )
    wnd = W.partitionBy("qid").orderBy(F.col("sim").desc(), F.col("nid"))
    out = (
        sims.withColumn("rk", F.row_number().over(wnd))
        .filter(F.col("rk") <= (args.k if args.k is not None else 5))
        .select("qid", "nid", F.col("rk").cast("long").alias("rk"))
    )
    out.write.mode("overwrite").parquet(args.out)


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="variant_load_pipeline_spark",
        description="PySpark-native variant pipeline (Manager.java tool parity)",
    )
    p.add_argument("--tool", required=True, choices=sorted(TOOLS))
    p.add_argument("--vcf")
    p.add_argument("--txt")
    p.add_argument("--cf2")
    p.add_argument("--variants")
    p.add_argument("--missense")
    p.add_argument("--snpeff-vcf", dest="snpeff_vcf")
    p.add_argument("--wiggle")
    p.add_argument("--results")
    p.add_argument("--info")
    p.add_argument("--genes")
    p.add_argument("--transcripts")
    p.add_argument("--features")
    p.add_argument("--fasta")
    p.add_argument("--dbsnp")
    p.add_argument("--vmd")
    p.add_argument("--variant-transcripts", dest="variant_transcripts")
    p.add_argument("--protein-seqs", dest="protein_seqs")
    p.add_argument("--existing")
    p.add_argument("--existing-vt", dest="existing_vt")
    p.add_argument("--elements")
    p.add_argument("--gene-symbols", dest="gene_symbols")
    p.add_argument("--target")
    p.add_argument("--updates")
    p.add_argument("--keys")
    p.add_argument("--set")
    p.add_argument("--out", required=True)
    p.add_argument("--sample-id", dest="sample_id", type=int)
    p.add_argument("--gender", default="U")
    p.add_argument("--map-key", dest="map_key", type=int, default=0)
    p.add_argument("--chr")
    p.add_argument(
        "--fasta-strategy",
        dest="fasta_strategy",
        choices=["auto", "broadcast", "chunked"],
        default="auto",
    )
    p.add_argument("--docs")
    p.add_argument("--model")
    p.add_argument("--threshold", type=float)
    p.add_argument("--bench")
    p.add_argument("--k", type=int)
    p.add_argument("--max-tokens", dest="max_tokens", type=int)
    p.add_argument("--overlap", type=int)
    p.add_argument("--budget", type=int)
    p.add_argument("--fraction", type=float)
    p.add_argument("--stratum-col", dest="stratum_col")
    p.add_argument("--per-stratum", dest="per_stratum", type=int)
    p.add_argument("--salt", default="")
    p.add_argument("--batch")
    p.add_argument("--batch-id", dest="batch_id", type=int)
    p.add_argument("--index")
    p.add_argument("--query-id", dest="query_id", type=int)
    p.add_argument("--nprobe", type=int)
    p.add_argument("--filter-mod", dest="filter_mod", type=int)
    p.add_argument("--rho-model", dest="rho_model")
    p.add_argument("--terms", nargs="+")
    p.add_argument(
        "--min-excess-micro", dest="min_excess_micro", type=int
    )
    p.add_argument("--epochs", type=int)
    p.add_argument("--shards", type=int)
    p.add_argument("--anchor-every", dest="anchor_every", type=int)
    p.add_argument("--kept")
    p.add_argument("--ivf")
    p.add_argument("--kmv")
    p.add_argument("--manifest")
    p.add_argument("--grams")
    p.add_argument("--quality-counts", dest="quality_counts")
    p.add_argument("--drift-counts", dest="drift_counts")
    p.add_argument("--mode", choices=["full", "tier"])
    p.add_argument("--checkpoint")
    p.add_argument("--threshold-micro", dest="threshold_micro", type=int)
    p.add_argument("--seed-docs", dest="seed_docs")
    p.add_argument("--compact")
    p.add_argument("--lex-index", dest="lex_index")
    p.add_argument("--gzip", action="store_true")
    p.add_argument("--addp", action="store_true")
    p.add_argument(
        "--same-as-ref", dest="same_as_ref", action="store_true"
    )
    return p


def main(argv: list[str] | None = None, spark: SparkSession | None = None) -> None:
    args = build_parser().parse_args(argv)
    if spark is None:
        from .session import get_spark

        spark = get_spark(app_name=f"vlp-{args.tool}")
    TOOLS[args.tool](spark, args)


@tool("GenicStatusFixUp")
def _genic_status_fixup(spark, args) -> None:
    """fixup/GenicStatusFixUp.java:60-109: re-derive GENIC/INTERGENIC from
    the gene model and report up-to-date vs fixed counts."""
    from .plans.load import attach_genic_status

    # keep the stored value apart: the probe writes its own genic_status
    df = _read(spark, args.variants).withColumnRenamed(
        "genic_status", "stored_genic_status"
    )
    probed = attach_genic_status(
        df, _read(spark, args.genes), chrom_col="chromosome", pos_col="start_pos"
    )
    report = _fixup_report(probed, "stored_genic_status", F.col("genic_status"))
    report.write.mode("overwrite").parquet(args.out)


@tool("NumAllelesFixUp")
def _num_alleles_fixup(spark, args) -> None:
    """fixup/NumAllelesFixUp.java:41-102: rows sharing (sample_id,
    chromosome, start_pos) form one position group; n = row count (+1 if any
    row saw the ref allele) -> ZYGOSITY_NUM_ALLELE."""
    from pyspark.sql.window import Window as W

    df = _read(spark, args.variants)
    w = W.partitionBy("sample_id", "chromosome", "start_pos")
    recomputed = (
        F.count(F.lit(1)).over(w)
        + F.max(
            F.when(F.col("zygosity_ref_allele") == "Y", 1).otherwise(0)
        ).over(w)
    ).cast("int")
    report = _fixup_report(
        df.withColumn("__re", recomputed), "zygosity_num_allele", F.col("__re")
    )
    report.write.mode("overwrite").parquet(args.out)


@tool("ZygosityPercReadFixUp")
def _zygosity_perc_read_fixup(spark, args) -> None:
    """fixup/ZygosityPercReadFixUp.java:99-121: for snv rows whose stored
    zygosity_percent_read <> var_freq, qcAlleles simply ASSIGNS
    percent_read := var_freq (no renormalization — the reference's
    odd-but-actual semantics), re-derives zygosity_status from that value
    (:134-141: ==100 homozygous, >=85 possibly homozygous, else
    heterozygous) and num_allele := size of the mismatching position group.
    The report counts rows whose stored triple already matched."""
    from pyspark.sql.window import Window as W

    from .functions.zygosity import (
        HOMOZYGOUS_PERCENT,
        POSSIBLY_HOMOZYGOUS_PERCENT,
    )

    df = _read(spark, args.variants).filter(
        (F.col("variant_type") == "snv")
        & (F.col("zygosity_percent_read") != F.col("var_freq"))
    )
    w = W.partitionBy("sample_id", "chromosome", "start_pos")
    new_pct = F.col("var_freq").cast("int")
    new_status = (
        F.when(new_pct == HOMOZYGOUS_PERCENT, F.lit("homozygous"))
        .when(
            new_pct >= POSSIBLY_HOMOZYGOUS_PERCENT,
            F.lit("possibly homozygous"),
        )
        .otherwise(F.lit("heterozygous"))
    )
    fixed = (
        df.withColumn("__n", F.count(F.lit(1)).over(w).cast("int"))
        .withColumn("__pct", new_pct)
        .withColumn("__status", new_status)
    )
    # the reference's summary counters (:80-97): every selected row gets
    # percent_read rewritten; status/num_allele "fixed" only when changed
    report = fixed.agg(
        F.count(F.lit(1)).alias("rows_processed"),
        F.sum(
            F.when(F.col("zygosity_status") != F.col("__status"), 1).otherwise(0)
        ).alias("zygosity_status_fixed"),
        F.sum(
            F.when(F.col("zygosity_num_allele") != F.col("__n"), 1).otherwise(0)
        ).alias("num_allele_fixed"),
    )
    report.write.mode("overwrite").parquet(args.out)


# -- training-data corpus tools (beyond Manager.java: the LLM-pipeline
#    surface, same thin-adapter style) --------------------------------------
@tool("CorpusDedup")
def _corpus_dedup(spark, args) -> None:
    """documents parquet (doc_id, text) -> keep-list parquet
    (doc_id, keep, canonical_id): exact dedup on the normalized-text
    fingerprint first (cheap, kills byte-dups), then MinHash-LSH near-dup
    pairs over the exact survivors, connected components, keep = the
    min-id representative of each component."""
    # the exact->LSH->components->chain-resolution composition lives in
    # operators.dedup.corpus_keeplist so the corpus_dedup_keeplist query
    # oracle-gates the very code path this tool runs
    from .operators.dedup import corpus_keeplist

    docs = _read(spark, args.docs)
    out = corpus_keeplist(
        docs,
        threshold=args.threshold if args.threshold is not None else 0.8,
    )
    out.write.mode("overwrite").parquet(args.out)


@tool("CorpusSample")
def _corpus_sample(spark, args) -> None:
    """documents parquet -> deterministic sample parquet: --fraction for a
    hash-Bernoulli split, or --stratum-col + --per-stratum for a
    per-stratum cap (both repartition- and engine-stable)."""
    from .operators.sampling import hash_sample, stratified_sample

    docs = _read(spark, args.docs)
    # `x if x is not None else d`, NOT `x or d`: explicit 0 / 0.0 are
    # legitimate (empty split, zero-row cap) and must not fall to defaults
    if args.stratum_col:
        out = stratified_sample(
            docs,
            args.stratum_col,
            per_stratum=(
                args.per_stratum if args.per_stratum is not None else 1000
            ),
            key_col="doc_id",
            salt=args.salt or "",
        )
    else:
        out = hash_sample(
            docs,
            args.fraction if args.fraction is not None else 0.1,
            "doc_id",
            salt=args.salt or "",
        )
    out.write.mode("overwrite").parquet(args.out)


@tool("CorpusSelect")
def _corpus_select(spark, args) -> None:
    """RHO data selection over a documents parquet: score every doc by
    reducible holdout loss (pool-LM − reference-LM excess surprisal;
    pool = even doc_id, reference = odd) and keep the per-stratum top-b
    (--budget, default 20; --stratum-col, default source — RHO selects
    per batch, stratum≈shard is the batch unit).  Output parquet:
    (doc_id, <stratum>, n_tokens, excess_micro, rk).  --model <path>
    additionally persists the two-LM model (write_rho_model) so the
    streaming RHO gate (CorpusIngest --rho-model) scores future batches
    against the same frozen selector."""
    from pyspark.sql.window import Window as W

    from .functions.text import rho_excess

    docs = _read(spark, args.docs)
    if args.model:
        from .streaming.ingest import write_rho_model

        write_rho_model(docs, args.model)
    stratum = args.stratum_col or "source"
    topb = args.budget if args.budget is not None else 20
    sc = rho_excess(docs)
    wnd = W.partitionBy(stratum).orderBy(
        F.col("excess_micro").desc(), "doc_id"
    )
    out = (
        sc.join(docs.select("doc_id", stratum), "doc_id")
        .withColumn("rk", F.row_number().over(wnd))
        .filter(F.col("rk") <= topb)
    )
    out.write.mode("overwrite").parquet(args.out)


@tool("CorpusQuality")
def _corpus_quality(spark, args) -> None:
    """documents parquet -> per-doc quality/analysis parquet: length and
    ratio features, language id, boilerplate signals, PII counts, token
    counts — the filter columns of corpus curation, one pass."""
    from .functions.text import (
        boilerplate_columns,
        bpe_ish_token_count,
        lang_id,
        pii_counts,
        quality_columns,
        words,
    )

    # tokenize once per row; stopword + all language scores read `_w`
    docs = _read(spark, args.docs).withColumn("_w", words(F.col("text")))
    q = quality_columns(F.col("text"), words_col=F.col("_w"))
    b = boilerplate_columns(F.col("text"))
    p = pii_counts(F.col("text"))
    out = docs.select(
        "doc_id",
        *[c.alias(k) for k, c in q.items()],
        *[c.alias(k) for k, c in b.items()],
        *[c.alias(k) for k, c in p.items()],
        lang_id(F.col("text"), words_col=F.col("_w")).alias("lang"),
        bpe_ish_token_count(F.col("text")).alias("bpe_tokens"),
    )
    out.write.mode("overwrite").parquet(args.out)


@tool("CorpusDecontaminate")
def _corpus_decontaminate(spark, args) -> None:
    """documents parquet + benchmark parquet -> per-doc contamination
    report (doc_id, n_shared_grams, contaminated): training docs sharing
    any word k-gram with the held-out benchmark set are flagged.  The
    benchmark gram set dedups small and BROADCASTS; the corpus side
    meets it map-side and never shuffles on the gram key (the
    decontaminate query's oracle-gated plan, parameterized over a real
    benchmark file)."""
    from .functions.text import word_ngrams

    k = args.k if args.k is not None else 4
    docs = _read(spark, args.docs)
    bench = _read(spark, args.bench)
    grams = lambda df: df.select(
        "doc_id", F.explode(word_ngrams(F.col("text"), k)).alias("gram")
    )
    bg = grams(bench).select("gram").distinct()
    tg = grams(docs).distinct()
    hits = (
        tg.join(F.broadcast(bg), "gram")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    out = (
        docs.select("doc_id")
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_shared", F.lit(0)).cast("int").alias(
                "n_shared_grams"
            ),
            F.when(F.coalesce("n_shared", F.lit(0)) > 0, F.lit("T"))
            .otherwise(F.lit("F"))
            .alias("contaminated"),
        )
    )
    out.write.mode("overwrite").parquet(args.out)


@tool("CorpusTokenize")
def _corpus_tokenize(spark, args) -> None:
    """documents parquet -> packed training sequences parquet: chunk
    into token-budget windows with overlap (doc_chunking), then greedily
    pack chunks into fixed-budget bins per shard (sequence_packing) —
    the curated-corpus-to-training-batches step, both halves oracle-
    gated as queries."""
    from .functions.text import chunk_documents, pack_chunks

    docs = _read(spark, args.docs)
    chunks = chunk_documents(
        docs,
        max_tokens=args.max_tokens if args.max_tokens is not None else 512,
        overlap=args.overlap if args.overlap is not None else 64,
    )
    packed = pack_chunks(
        chunks,
        token_budget=args.budget if args.budget is not None else 2048,
    )
    packed.write.mode("overwrite").parquet(args.out)


@tool("CorpusClassify")
def _corpus_classify(spark, args) -> None:
    """documents parquet -> per-doc classifier scores parquet: train the
    hashed-feature logistic-regression quality model on the input corpus
    (labels = curated-source membership), optionally persist the weight
    table with --model (the build-once/score-many lifecycle the streaming
    quality gate reloads), then score every doc — (doc_id, score_micro,
    pred, label, kept) with kept thresholded at --threshold (sigmoid
    units, default 0.5)."""
    from .operators.quality import (
        hashed_features,
        lr_fit,
        lr_score,
        write_quality_model,
    )

    docs = _read(spark, args.docs)
    x = hashed_features(docs).localCheckpoint(eager=True)
    w = lr_fit(x, iters=3, lr=0.1)
    if args.model:
        write_quality_model(w, args.model)
    thr_micro = int(
        (args.threshold if args.threshold is not None else 0.5) * 1_000_000
    )
    scored = lr_score(x, w)
    out = scored.select(
        "doc_id", "score_micro", "pred", "label",
        F.when(F.col("score_micro") >= thr_micro, F.lit("T"))
        .otherwise(F.lit("F"))
        .alias("kept"),
    )
    out.write.mode("overwrite").parquet(args.out)


if __name__ == "__main__":
    main()
