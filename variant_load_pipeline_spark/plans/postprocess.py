"""The VariantPostProcessing pipeline (SURVEY.md §3.3, §2.9): variants x
gene model -> VARIANT_TRANSCRIPT consequence rows.

Relational skeleton (all Catalyst-planned):
    variants -> point-in-gene probe (binned interval join, J1/J2)
             -> x transcripts of the gene (broadcast, J6)
             -> anti-join existing (J9)
             -> + per-transcript feature array (sorted, W3) and exon count (J8)
             -> mapInPandas kernel (the one genuinely imperative step)
             -> dropDuplicates (W5)

The kernel is a pure-Python function (`annotate_pair`) replicating
VariantPostProcessing.java:225-660 EXACTLY, including its quirks:

* features iterate in (object_name, start, stop) order, so 3UTRS/5UTRS
  precede EXONS (load-bearing: TranscriptFeatureCache.java:29);
* nearSpliceSite: +-10 bp of exon start (skipped for the first exon seen)
  or exon stop (skipped when all exons seen == total), tested as
  (start-10 <= varStart && start+10 >= varStop) (:337-358);
* LOCATION_NAME comma-append algebra with EXON at most once, ',INTRON'
  when not in any exon, ',NON-CODING' for non-coding transcripts (:256-291);
* strand '-' swaps 3'/5' UTRs BEFORE trimming (:405-412);
* handleUTRs mutates exon bounds in place; fully-covered exons get
  start=stop=-1 (:626-668);
* relative position uses the strict test start <= varStart && stop > varStop
  (:432) and adds varStart-(start-1) for the hit exon;
* deletion length comes from len(var_nuc) (1 when NULL) — NOT len(ref) —
  bug-compat with :472-478;
* '-' strand: relPos = len-relPos+1, then reverse-complement (output
  uppercase) (:502-518);
* refDna/varDna truncated to %3==0 INDEPENDENTLY; TRIPLET_ERROR='T' when
  refDna needed truncation; relPos<1 after truncation -> location-only row
  (:520-552);
* AA pos = 1+(relPos-1)/3; out-of-range -> location-only row; syn_status
  incl. 'X'->unassignable; frameshift from truncated length delta (:576-624).

FASTA access: a driver-broadcast {chromosome: sequence} dict (rat-scale);
the 100 TB path swaps in sources.fasta.chunked_fasta + a bucketed join
feeding the kernel per-chunk substrings — same kernel signature.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.translate import translate_dna_py
from ..operators.interval_join import point_in_interval_join

_COMPLEMENT = {"A": "T", "C": "G", "G": "C", "T": "A", "N": "N",
               "a": "T", "c": "G", "g": "C", "t": "A", "n": "N",
               "?": "?", ".": "."}


def _revcomp(dna: str) -> str:
    return "".join(_COMPLEMENT[c] for c in reversed(dna))


def annotate_pair(
    var_start: int,
    var_stop: int,
    ref_nuc: str | None,
    var_nuc: str | None,
    features: list[tuple[str, int, int, str]],
    total_exon_count: int,
    is_non_coding: str,
    chr_seq: str,
    prep: dict[str, Any] | None = None,
) -> dict[str, Any]:
    """Annotate one (variant, transcript) pair.

    ``features`` is the (object_name, start, stop, strand) list sorted by
    (object_name, start, stop).  ``chr_seq`` is the chromosome sequence
    (1-based positions index into it).  Returns a dict of the
    VARIANT_TRANSCRIPT columns (full or location-only row).
    """
    strand = None
    three_utr: list[int] | None = None
    five_utr: list[int] | None = None
    exons: list[list[int]] = []
    location: str | None = None
    in_exon = False
    near_splice = "F"

    # --- processFeatures (:310-396) ---
    for obj, start, stop, f_strand in features:
        strand = f_strand
        if obj == "3UTRS":
            three_utr = [start, stop]
        if obj == "5UTRS":
            five_utr = [start, stop]
        if obj == "EXONS":
            exons.append([start, stop])
            if len(exons) != 1 and (start - 10 <= var_start) and (start + 10 >= var_stop):
                near_splice = "T"
            if len(exons) != total_exon_count and (stop - 10 <= var_start) and (
                stop + 10 >= var_stop
            ):
                near_splice = "T"
        if start <= var_start and stop >= var_stop:
            if obj in ("3UTRS", "5UTRS"):
                location = obj if location is None else location + "," + obj
            if obj == "EXONS" and not in_exon:
                location = "EXON" if location is None else location + ",EXON"
                in_exon = True

    if not in_exon:
        location = "INTRON" if location is None else location + ",INTRON"

    base = {
        "location_name": location,
        "near_splice_site": near_splice,
        "ref_aa": None,
        "var_aa": None,
        "syn_status": None,
        "full_ref_aa_pos": None,
        "full_ref_nuc_pos": None,
        "triplet_error": None,
        "frameshift": None,
        "full_ref_aa_seq": None,
    }

    if not in_exon or is_non_coding == "Y":
        if is_non_coding == "Y":
            base["location_name"] = (
                "NON-CODING" if location is None else location + ",NON-CODING"
            )
        return base

    # --- processTranscript (:402-574) --- via the cacheable prep + the
    # per-variant step (identical algebra, split so kernels can memoize the
    # variant-independent work per transcript — the Spark analog of the
    # reference's per-gene dnaCache, VariantPostProcessing.java:1286-1307)
    if prep is None:
        prep = prepare_transcript(features, chr_seq)
    return _annotate_with_prep(
        base, prep, var_start, var_stop, ref_nuc, var_nuc
    )


def prepare_transcript(
    features: list[tuple[str, int, int, str]], chr_seq: str
) -> dict[str, Any]:
    """Variant-independent transcript work, computed once per transcript:
    UTR swap/trim (:405-412, :626-668), exon splice + reference DNA fetch,
    strand normalization, triplet truncation, and the FULL reference-protein
    translation.  Everything here is reused verbatim by every variant on
    the transcript."""
    strand = None
    three_utr: list[int] | None = None
    five_utr: list[int] | None = None
    exons: list[list[int]] = []
    for obj, start, stop, f_strand in features:
        strand = f_strand
        if obj == "3UTRS":
            three_utr = [start, stop]
        if obj == "5UTRS":
            five_utr = [start, stop]
        if obj == "EXONS":
            exons.append([start, stop])

    if strand == "-":
        three_utr, five_utr = five_utr, three_utr

    # handleUTRs (:626-668) — in-place trimming against (possibly swapped) UTRs
    for f in exons:
        if three_utr is not None:
            if f[1] < three_utr[0]:
                pass
            elif f[0] < three_utr[0]:
                f[1] = three_utr[0] - 1
            else:
                f[0] = -1
                f[1] = -1
        if five_utr is not None:
            if f[0] > five_utr[1]:
                pass
            elif f[1] > five_utr[1]:
                f[0] = five_utr[1] + 1
            else:
                f[0] = -1
                f[1] = -1

    chunks = [chr_seq[start - 1 : stop] for start, stop in exons if start != -1]
    ref_dna_raw = "".join(chunks).lower()
    pre_len = len(ref_dna_raw)
    ref_stranded = _revcomp(ref_dna_raw) if strand == "-" else ref_dna_raw
    triplet_error = "F"
    ref_trunc = ref_stranded
    if len(ref_trunc) % 3 != 0:
        triplet_error = "T"
        ref_trunc = ref_trunc[: len(ref_trunc) - (len(ref_trunc) % 3)]
    return {
        "strand": strand,
        "exons": exons,
        "ref_dna_raw": ref_dna_raw,
        "pre_len": pre_len,
        "ref_trunc_len": len(ref_trunc),
        "triplet_error": triplet_error,
        "ref_aa_seq": translate_dna_py(ref_trunc),
    }


def _annotate_with_prep(
    base: dict[str, Any],
    prep: dict[str, Any],
    var_start: int,
    var_stop: int,
    ref_nuc: str | None,
    var_nuc: str | None,
) -> dict[str, Any]:
    exons = prep["exons"]
    strand = prep["strand"]

    # relative position (:421-449)
    rel_pos = 0
    found = False
    for start, stop in exons:
        if start != -1:
            if start <= var_start and stop > var_stop:
                rel_pos += var_start - (start - 1)
                found = True
                break
            rel_pos += (stop - start) + 1
    if not found:
        return base  # exon-UTR region: location-only row

    var_dna = prep["ref_dna_raw"]

    # apply the variant (:472-492) — deletion length quirk preserved
    if var_nuc is None or var_nuc == "" or "-" in (var_nuc or ""):
        del_len = 1 if not var_nuc else len(var_nuc)
        var_dna = var_dna[: rel_pos - 1] + var_dna[rel_pos - 1 + del_len :]
    elif ref_nuc is None or ref_nuc == "" or "-" in ref_nuc:
        var_dna = var_dna[: rel_pos - 1] + var_nuc + var_dna[rel_pos - 1 :]
    elif len(ref_nuc) == 1 and len(var_nuc) > 1:
        var_dna = var_dna[:rel_pos] + var_nuc[1:] + var_dna[rel_pos:]
    elif len(ref_nuc) != 1 or len(var_nuc) != 1:
        del_len = var_stop - var_start
        var_dna = (
            var_dna[: rel_pos - 1] + var_nuc + var_dna[rel_pos - 1 + del_len :]
        )
    else:
        var_dna = var_dna[: rel_pos - 1] + var_nuc + var_dna[rel_pos:]

    # '-' strand flip (:502-518) — rel_pos flips on the PRE-truncation length
    if strand == "-":
        rel_pos = prep["pre_len"] - rel_pos + 1
        var_dna = _revcomp(var_dna)

    # triplet truncation (:520-542); the ref side is cached in prep
    if len(var_dna) % 3 != 0:
        var_dna = var_dna[: len(var_dna) - (len(var_dna) % 3)]

    if rel_pos < 1:
        return base  # SKIPPED -> location-only row

    # handleTranslatedProtein (:576-624); the full ref protein comes from
    # the prep cache and the var side translates ONLY the affected codon
    # (codon boundaries align, so the single-codon translation equals
    # var_aa_seq[pos-1] of the full translation)
    ref_aa_seq = prep["ref_aa_seq"]
    pos = 1 + (rel_pos - 1) // 3
    if not (0 < pos <= len(ref_aa_seq) and pos * 3 <= len(var_dna)):
        return base
    l_ref = ref_aa_seq[pos - 1]
    l_var = translate_dna_py(var_dna[(pos - 1) * 3 : (pos - 1) * 3 + 3])
    syn = "synonymous" if l_ref == l_var else "nonsynonymous"
    if l_ref == "X" or l_var == "X":
        syn = "unassignable"
    frameshift = (
        "T" if abs(prep["ref_trunc_len"] - len(var_dna)) % 3 != 0 else "F"
    )
    out = dict(base)
    out.update(
        {
            "ref_aa": l_ref,
            "var_aa": l_var,
            "syn_status": syn,
            "full_ref_aa_pos": pos,
            "full_ref_nuc_pos": rel_pos,
            "triplet_error": prep["triplet_error"],
            "frameshift": frameshift,
            "full_ref_aa_seq": ref_aa_seq,
        }
    )
    return out


def _jvm_loc_near(fcol, vs_, ve_, nc_y):
    """JVM replica of processFeatures' location_name / near_splice_site
    algebra (:256-291, :310-396, :337-358) over the sorted feature array:
    returns (loc_arr, near, in_exon) Columns.  Only the broadcast path
    (annotate_variants) calls it; the chunked kernel computes the same
    strings in Python through annotate_pair.  ``vs_``/``ve_`` may be
    plain Columns (per-pair rows) or lambda variables (per-variant
    structs inside a transform over ``vars``)."""

    def _contains(f):
        return (f["start_pos"] <= vs_) & (f["stop_pos"] >= ve_)

    in_exon = F.exists(
        fcol, lambda f: (f["object_name"] == "EXONS") & _contains(f)
    )
    empty_s = F.array().cast("array<string>")
    # comma-append order = feature iteration order (3UTRS* < 5UTRS* <
    # EXONS under the (object_name, start, stop) sort), EXON at most
    # once, then INTRON / NON-CODING suffixes — :256-291 exactly
    loc_arr = F.concat(
        F.transform(
            F.filter(
                fcol, lambda f: (f["object_name"] == "3UTRS") & _contains(f)
            ),
            lambda f: F.lit("3UTRS"),
        ),
        F.transform(
            F.filter(
                fcol, lambda f: (f["object_name"] == "5UTRS") & _contains(f)
            ),
            lambda f: F.lit("5UTRS"),
        ),
        F.when(in_exon, F.array(F.lit("EXON"))).otherwise(empty_s),
        F.when(~in_exon, F.array(F.lit("INTRON"))).otherwise(empty_s),
        F.when(nc_y, F.array(F.lit("NON-CODING"))).otherwise(empty_s),
    )
    # 1-based exon index i replicates the loop's len(exons)-so-far tests
    # (first-exon start and last-exon stop are skipped); sequence(1, 0)
    # would DESCEND, so zero-exon transcripts are guarded to False.
    # The exon sub-array is _let-bound: referenced inside the per-index
    # lambda it would otherwise re-run the features filter once per
    # exon index (higher-order lambdas re-evaluate their whole body per
    # element — the r13 shingles lesson)
    from ..functions.text import _let

    def _near_body(ex):
        nex = F.size(ex)
        return F.when(
            nex >= 1,
            F.exists(
                F.sequence(F.lit(1), nex),
                lambda i: (
                    (i != 1)
                    & (F.element_at(ex, i)["start_pos"] - 10 <= vs_)
                    & (F.element_at(ex, i)["start_pos"] + 10 >= ve_)
                )
                | (
                    (i != nex)
                    & (F.element_at(ex, i)["stop_pos"] - 10 <= vs_)
                    & (F.element_at(ex, i)["stop_pos"] + 10 >= ve_)
                ),
            ),
        ).otherwise(F.lit(False))

    near = _let(
        F.filter(fcol, lambda f: f["object_name"] == "EXONS"), _near_body
    )
    return loc_arr, near, in_exon


_OUT_FIELDS = [
    ("variant_rgd_id", T.LongType()),
    ("transcript_rgd_id", T.LongType()),
    ("ref_aa", T.StringType()),
    ("var_aa", T.StringType()),
    ("syn_status", T.StringType()),
    ("location_name", T.StringType()),
    ("near_splice_site", T.StringType()),
    ("full_ref_aa_pos", T.IntegerType()),
    ("full_ref_nuc_pos", T.IntegerType()),
    ("triplet_error", T.StringType()),
    ("frameshift", T.StringType()),
    ("map_key", T.IntegerType()),
    ("full_ref_aa_seq", T.StringType()),
]
VT_OUT_SCHEMA = T.StructType([T.StructField(n, t) for n, t in _OUT_FIELDS])


# auto strategy: genomes at or under this many total bases broadcast
# whole (a rat/human genome is ~2.5-3 GB of sequence — near the practical
# broadcast ceiling); anything larger goes chunked with no code change at
# the call site
FASTA_BROADCAST_MAX_BASES = 3_000_000_000


def annotate_variants(
    variants: DataFrame,
    genes: DataFrame,
    transcripts: DataFrame,
    features: DataFrame,
    fasta: DataFrame,
    existing_vt: DataFrame | None = None,
    map_key: int | None = None,
    fasta_strategy: str = "auto",
    chunk_size: int = 1_000_000,
) -> DataFrame:
    """Full VariantPostProcessing plan -> VARIANT_TRANSCRIPT rows.

    variants: (rgd_id, chromosome, start_pos, end_pos, ref_nuc, var_nuc)
    genes:    GENES_SCHEMA; transcripts: TRANSCRIPTS_SCHEMA;
    features: TRANSCRIPT_FEATURES_SCHEMA; fasta: (chromosome, seq).

    ``fasta_strategy``:
    * ``auto`` (default) — pick by measured genome size: one
      column-pruned sum(length(seq)) aggregate, then ``broadcast`` at or
      under FASTA_BROADCAST_MAX_BASES, else ``chunked``.  The 100-TB
      call site needs no code change when the genome outgrows the
      executor heap.
    * ``broadcast`` — per-chromosome sequence strings broadcast whole
      (ChrFastaFile mmap analog; fine while the genome fits executor memory).
    * ``chunked`` — THE 100 TB PATH (SURVEY §7.4): the genome becomes a
      (chromosome, bucket, chunk_start, seq) table of ``chunk_size`` pieces;
      each transcript range-joins only the chunks its feature span covers,
      variants are grouped per transcript (sequence shipped once per
      transcript, not per pair), and the kernel runs on the rebased local
      sequence.  No driver collect, no whole-genome broadcast.
    """
    spark = variants.sparkSession

    if fasta_strategy == "auto":
        total = fasta.agg(F.sum(F.length("seq"))).first()[0] or 0
        fasta_strategy = (
            "broadcast" if total <= FASTA_BROADCAST_MAX_BASES else "chunked"
        )
    if fasta_strategy not in ("broadcast", "chunked"):
        raise ValueError(f"unknown fasta_strategy={fasta_strategy}")

    v = variants.select(
        F.col("rgd_id").alias("variant_rgd_id"),
        F.col("chromosome").alias("v_chrom"),
        F.col("start_pos").alias("var_start"),
        F.col("end_pos").alias("var_stop"),
        "ref_nuc",
        "var_nuc",
    ).filter(
        F.col("var_nuc").isNull() | ~F.col("var_nuc").contains(",")  # F5
    )

    g = genes
    if "object_status" in g.columns:
        g = g.filter(F.col("object_status") == "ACTIVE")
    g = g.select(
        F.col("gene_rgd_id"),
        F.col("chromosome").alias("g_chrom"),
        F.col("start_pos").alias("g_start"),
        F.col("stop_pos").alias("g_stop"),
    )

    # gene probe by variant START position only (GeneCache.getGeneRgdIds)
    pairs = point_in_interval_join(
        v,
        g,
        point_chrom="v_chrom",
        point_pos="var_start",
        ivl_chrom="g_chrom",
        ivl_start="g_start",
        ivl_end="g_stop",
        strategy="binned",
    ).select(
        "variant_rgd_id", "v_chrom", "var_start", "var_stop", "ref_nuc",
        "var_nuc", "gene_rgd_id",
    )

    tr = transcripts.select(
        "transcript_rgd_id", "gene_rgd_id", "is_non_coding_ind"
    )
    pairs = pairs.join(F.broadcast(tr), "gene_rgd_id")
    if existing_vt is not None:
        # J9: drop already-stored (variant, transcript) pairs before the
        # kernel, which carries these two keys unchanged to its output
        pairs = pairs.join(
            existing_vt.select("variant_rgd_id", "transcript_rgd_id"),
            ["variant_rgd_id", "transcript_rgd_id"],
            "left_anti",
        )

    # per-transcript sorted feature array (W3 order) + exon count (J8);
    # features are per (transcript, chromosome, map_key) in the reference —
    # group on transcript + chromosome so cross-chromosome transcripts keep
    # their per-chromosome feature sets
    feat = features
    if map_key is not None and "map_key" in feat.columns:
        feat = feat.filter(F.col("map_key") == map_key)
    grouped = (
        feat.groupBy("transcript_rgd_id", F.col("chromosome").alias("f_chrom"))
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct("object_name", "start_pos", "stop_pos", "strand")
                )
            ).alias("features"),
            F.sum(
                F.when(F.col("object_name") == "EXONS", 1).otherwise(0)
            ).cast("int").alias("total_exon_count"),
        )
    )

    mk = map_key
    if fasta_strategy == "chunked":
        # The chunked path never joins the per-transcript features array
        # onto the PER-PAIR frame: pairs flow straight into the per-
        # transcript variant grouping (one pass, one shuffle), and the
        # features ride the broadcast `grouped` dim onto the transcript-
        # cardinality side only.  Pairs lacking a feature row die at the
        # final inner join exactly as the old pre-join filtered them.
        out = _annotate_chunked(pairs, grouped, fasta, chunk_size, mk)
        return _dedup(out)

    pairs = pairs.join(
        F.broadcast(grouped),
        (pairs.transcript_rgd_id == grouped.transcript_rgd_id)
        & (pairs.v_chrom == grouped.f_chrom),
    ).drop(grouped.transcript_rgd_id).drop("f_chrom")

    fasta_map = {
        r["chromosome"]: r["seq"] for r in fasta.select("chromosome", "seq").collect()
    }
    bc = spark.sparkContext.broadcast(fasta_map)

    # ------------------------------------------------------------------
    # JVM half of the kernel.  location_name / near_splice_site are pure
    # array algebra over the sorted feature list (processFeatures
    # :310-396 / :337-358), so they evaluate in whole-stage codegen for
    # EVERY pair, and the Python kernel receives ONLY the rows that
    # genuinely need string surgery — in-exon pairs on coding
    # transcripts (annotate_pair returns the location-only base row for
    # everything else, :256-291 early exit).  At 10x gene density this
    # cuts the Arrow-crossing row count ~2x and, more importantly, the
    # rows that do cross carry narrow scalars instead of the per-pair
    # 5-struct features array (shipped once per TRANSCRIPT below).
    # ------------------------------------------------------------------
    vs_, ve_ = F.col("var_start"), F.col("var_stop")
    fcol = F.col("features")
    nc_y = F.coalesce(F.col("is_non_coding_ind"), F.lit("N")) == "Y"
    loc_arr, near, in_exon = _jvm_loc_near(fcol, vs_, ve_, nc_y)

    # single-consumer plan: the pairs frame flows through ONE projection
    # + ONE mapInPandas (no checkpoint, no branch union — a split into
    # bypass/kernel branches would either recompute the join per branch
    # or pay a materialization that costs more than the join itself);
    # non-coding / non-exon rows short-circuit INSIDE the kernel at
    # ~no cost since their outputs are already fully JVM-computed
    kin = (
        pairs.withColumn("location_name", F.array_join(loc_arr, ","))
        .withColumn(
            "near_splice_site", F.when(near, F.lit("T")).otherwise(F.lit("F"))
        )
        .withColumn("__coding_exon", in_exon & ~nc_y)
        .select(
            "variant_rgd_id",
            "transcript_rgd_id",
            "v_chrom",
            "var_start",
            "var_stop",
            "ref_nuc",
            "var_nuc",
            "location_name",
            "near_splice_site",
            "__coding_exon",
        )
    )

    # transcript-keyed feature lists broadcast ONCE (the gene model is
    # the small dimension of this path by contract — the whole-genome
    # fasta dict already rides the same assumption)
    feats_map = {
        (r["transcript_rgd_id"], r["f_chrom"]): [
            (f["object_name"], f["start_pos"], f["stop_pos"], f["strand"])
            for f in r["features"]
        ]
        for r in grouped.select(
            "transcript_rgd_id", "f_chrom", "features"
        ).collect()
    }
    bc_f = spark.sparkContext.broadcast(feats_map)

    def run(iterator):
        import pandas as pd

        seqs = bc.value
        fmap = bc_f.value
        prep_cache: dict[tuple, dict] = {}
        res_keys = (
            "ref_aa", "var_aa", "syn_status", "location_name",
            "near_splice_site", "full_ref_aa_pos", "full_ref_nuc_pos",
            "triplet_error", "frameshift", "full_ref_aa_seq",
        )
        for pdf in iterator:
            out_cols: dict[str, list] = {n: [] for n, _ in _OUT_FIELDS}
            o_vrid = out_cols["variant_rgd_id"].append
            o_trid = out_cols["transcript_rgd_id"].append
            o_mk = out_cols["map_key"].append
            appenders = [out_cols[k].append for k in res_keys]
            for vrid, trid, chrom, vs, ve, ref, var, loc, nsp, coding in zip(
                pdf["variant_rgd_id"].tolist(),
                pdf["transcript_rgd_id"].tolist(),
                pdf["v_chrom"].tolist(),
                pdf["var_start"].tolist(),
                pdf["var_stop"].tolist(),
                pdf["ref_nuc"].tolist(),
                pdf["var_nuc"].tolist(),
                pdf["location_name"].tolist(),
                pdf["near_splice_site"].tolist(),
                pdf["__coding_exon"].tolist(),
            ):
                o_vrid(vrid)
                o_trid(trid)
                o_mk(mk)
                if not coding:
                    # location-only base row, fully JVM-computed
                    appenders[0](None)
                    appenders[1](None)
                    appenders[2](None)
                    appenders[3](loc)
                    appenders[4](nsp)
                    for app in appenders[5:]:
                        app(None)
                    continue
                key = (trid, chrom)
                prep = prep_cache.get(key)
                if prep is None:
                    prep = prepare_transcript(
                        fmap.get(key, []), seqs.get(chrom, "")
                    )
                    prep_cache[key] = prep
                base = {
                    "location_name": loc,
                    "near_splice_site": nsp,
                    "ref_aa": None,
                    "var_aa": None,
                    "syn_status": None,
                    "full_ref_aa_pos": None,
                    "full_ref_nuc_pos": None,
                    "triplet_error": None,
                    "frameshift": None,
                    "full_ref_aa_seq": None,
                }
                res = _annotate_with_prep(base, prep, vs, ve, ref, var)
                for app, k in zip(appenders, res_keys):
                    app(res[k])
            yield pd.DataFrame(out_cols, columns=[n for n, _ in _OUT_FIELDS])

    out = kin.mapInPandas(run, schema=VT_OUT_SCHEMA)

    return _dedup(out)


def _dedup(out: DataFrame) -> DataFrame:
    """W5: one row per (variant, transcript), deterministic survivor."""
    from pyspark.sql.window import Window as W

    w = W.partitionBy("variant_rgd_id", "transcript_rgd_id").orderBy(
        F.col("location_name").asc_nulls_last()
    )
    return (
        out.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def _annotate_chunked(
    pairs: DataFrame,
    grouped: DataFrame,
    fasta: DataFrame,
    chunk_size: int,
    mk: int | None,
) -> DataFrame:
    """Chunked-FASTA kernel dispatch: transcripts pull only the sequence
    chunks their feature span covers; variants ride in per-transcript
    arrays so each local sequence is shuffled once per transcript.

    ``pairs`` arrives WITHOUT the features array (per-pair rows stay
    narrow); ``grouped`` is the per-(transcript, chromosome) feature dim,
    broadcast onto the transcript-cardinality side only.  The pair frame
    is consumed exactly once (the variant grouping below) — the
    transcript geometry derives from the grouped result, so no
    checkpoint/recompute of the interval join is needed."""
    from ..sources.fasta import chunked_fasta

    chunks = chunked_fasta(fasta, chunk_size).select(
        F.col("chromosome").alias("c_chrom"),
        F.col("bucket").alias("b_bucket"),
        "chunk_start",
        F.col("seq").alias("cseq"),
    )
    pv = (
        pairs.groupBy("transcript_rgd_id", "v_chrom", "is_non_coding_ind")
        .agg(
            F.collect_list(
                F.struct(
                    "variant_rgd_id",
                    "var_start",
                    "var_stop",
                    "ref_nuc",
                    "var_nuc",
                )
            ).alias("vars")
        )
        # two consumers (transcript geometry + the kernel join) over a
        # transcript-cardinality frame: materialize once so the interval
        # join upstream runs once (lazy localCheckpoint: blocks are
        # GC-reclaimed, no unpersist bookkeeping)
        .localCheckpoint(eager=False)
    )
    starts = F.transform("features", lambda f: f["start_pos"])
    stops = F.transform("features", lambda f: f["stop_pos"])
    tx = (
        pv.select(
            F.col("transcript_rgd_id").alias("t_tid"),
            F.col("v_chrom").alias("t_chrom"),
        )
        .dropDuplicates(["t_tid", "t_chrom"])
        .join(
            F.broadcast(grouped),
            (F.col("t_tid") == grouped.transcript_rgd_id)
            & (F.col("t_chrom") == grouped.f_chrom),
        )
        .select("t_tid", "t_chrom", "features", "total_exon_count")
        .withColumn("t_lo", F.array_min(starts))
        .withColumn("t_hi", F.array_max(stops))
        .withColumn(
            "b_bucket",
            F.explode(
                F.sequence(
                    F.floor((F.col("t_lo") - 1) / chunk_size),
                    F.floor((F.col("t_hi") - 1) / chunk_size),
                ).cast("array<int>")
            ),
        )
    )
    seq_tbl = (
        tx.join(
            chunks,
            (tx.t_chrom == chunks.c_chrom) & (tx.b_bucket == chunks.b_bucket),
        )
        .groupBy("t_tid", "t_chrom")
        .agg(
            F.first("features").alias("features"),
            F.first("total_exon_count").alias("total_exon_count"),
            F.first("t_lo").alias("t_lo"),
            F.first("t_hi").alias("t_hi"),
            F.min("chunk_start").alias("chunk0"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("chunk_start", "cseq"))
                    ),
                    lambda st: st["cseq"],
                ),
                "",
            ).alias("chunk_seq"),
        )
        # trim to the transcript's span: without this every transcript
        # carries whole chunks (chunk_size bytes for a ~kb span) through the
        # shuffle — the trim cuts shuffled sequence bytes by ~chunk/span
        .select(
            "t_tid",
            "t_chrom",
            "features",
            "total_exon_count",
            F.col("t_lo").alias("seq_offset"),
            F.expr(
                "substring(chunk_seq, cast(t_lo - chunk0 + 1 as int), "
                "cast(t_hi - t_lo + 1 as int))"
            ).alias("local_seq"),
        )
    )
    # seq_tbl is transcript-cardinality with span-trimmed sequences (the
    # same size class as the `grouped` dim that was already broadcast):
    # broadcasting it keeps the variant-group side unshuffled
    joined = pv.join(
        F.broadcast(seq_tbl),
        (pv.transcript_rgd_id == seq_tbl.t_tid) & (pv.v_chrom == seq_tbl.t_chrom),
    ).drop("t_tid", "t_chrom")

    # r14 NOTE (measured, kept for the record): moving the per-variant
    # location/near-splice algebra into a JVM transform over the vars
    # array (the broadcast path's split) was prototyped and REVERTED —
    # interpreted higher-order-function evaluation per variant cost MORE
    # than the tight Python loops it replaced (isolated medians 6.4 s ->
    # 7.4 s at sf0.1 even after _let-binding the exon sub-array).  The
    # broadcast path's win came from narrowing the Arrow-crossing rows,
    # which the grouped vars layout already has.  What stays: v_chrom /
    # is_non_coding_ind / total_exon_count are pruned or folded below
    # (guide §4 — an opaque function ships every column it is handed),
    # and all-non-coding transcripts skip prepare_transcript (UTR trim +
    # splice + full-protein translation) entirely.
    kin = joined.select(
        "transcript_rgd_id",
        "is_non_coding_ind",
        "vars",
        "features",
        "total_exon_count",
        "seq_offset",
        "local_seq",
    )

    cols = [n for n, _ in _OUT_FIELDS]

    res_keys = [n for n, _ in _OUT_FIELDS if n not in
                ("variant_rgd_id", "transcript_rgd_id", "map_key")]

    def run(iterator):
        import pandas as pd

        for pdf in iterator:
            # column-appender assembly (one list per output column, no
            # per-row dict): the same per-task shape as the broadcast
            # kernel — row dicts + DataFrame(list-of-dicts) were the
            # slowest part of this loop
            out_cols: dict[str, list] = {n: [] for n, _ in _OUT_FIELDS}
            o_vrid = out_cols["variant_rgd_id"].append
            o_trid = out_cols["transcript_rgd_id"].append
            o_mk = out_cols["map_key"].append
            appenders = [(out_cols[k].append, k) for k in res_keys]
            for r in pdf.itertuples(index=False):
                shift = int(r.seq_offset) - 1
                feats = [
                    (
                        f["object_name"],
                        f["start_pos"] - shift,
                        f["stop_pos"] - shift,
                        f["strand"],
                    )
                    for f in r.features
                ]
                trid = r.transcript_rgd_id
                tec = int(r.total_exon_count)
                nci = r.is_non_coding_ind or "N"
                seq = r.local_seq
                # non-coding transcripts never reach the prep-consuming
                # branch of annotate_pair (it early-returns after the
                # feature walk), so skip the splice + translation
                prep = (
                    None if nci == "Y" else prepare_transcript(feats, seq)
                )
                for vr in r.vars:
                    res = annotate_pair(
                        int(vr["var_start"]) - shift,
                        int(vr["var_stop"]) - shift,
                        vr["ref_nuc"],
                        vr["var_nuc"],
                        feats,
                        tec,
                        nci,
                        seq,
                        prep=prep,
                    )
                    o_vrid(vr["variant_rgd_id"])
                    o_trid(trid)
                    o_mk(mk)
                    for app, k in appenders:
                        app(res[k])
            yield pd.DataFrame(out_cols, columns=cols)

    return kin.mapInPandas(run, schema=VT_OUT_SCHEMA)
