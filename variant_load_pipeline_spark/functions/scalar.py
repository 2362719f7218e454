"""Scalar / derived-column functions (SURVEY.md §2.3, C1-C22).

Every function takes and returns pyspark Columns so Catalyst sees the whole
expression tree (whole-stage codegen; no Python in the hot path). Integer
rounding follows the reference formulas exactly — e.g. quality score is
``(100*rd + td/2) / td`` with integer division (VariantLoad3.java:270-274),
NOT round().

Reference citations are to /root/reference.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


# -- C1: variant_type -------------------------------------------------------
def variant_type(ref_nuc: Column, var_nuc: Column) -> Column:
    """ref=='' -> 'insertion'; var=='' -> 'deletion'; else 'snv'.

    Parity: VariantLoad3.java:668-680 (empty-string tests; CF2 stores indels
    stripped so the empty side tells the type).  NULL is treated as empty.
    """
    ref = F.coalesce(ref_nuc, F.lit(""))
    var = F.coalesce(var_nuc, F.lit(""))
    return (
        F.when(ref == "", F.lit("insertion"))
        .when(var == "", F.lit("deletion"))
        .otherwise(F.lit("snv"))
    )


def variant_type_dashed(ref_nuc: Column, var_nuc: Column) -> Column:
    """Fixup-variant typing over '-' notation (VariantTypeFixUp.java:48-63):
    ref=='-' -> 'ins'; var=='-' -> 'del'; len(ref)<len(var) -> 'ins';
    len(ref)>len(var) -> 'del'; else 'snv'.
    """
    return (
        F.when(ref_nuc == "-", F.lit("ins"))
        .when(var_nuc == "-", F.lit("del"))
        .when(F.length(ref_nuc) < F.length(var_nuc), F.lit("ins"))
        .when(F.length(ref_nuc) > F.length(var_nuc), F.lit("del"))
        .otherwise(F.lit("snv"))
    )


# -- C2: end_pos ------------------------------------------------------------
def end_pos(start_pos: Column, ref_nuc: Column, vtype: Column) -> Column:
    """snv: start+1; insertion: start; deletion: start+len(ref).

    Parity: VariantLoad3.java:299-315.
    """
    return (
        F.when(vtype == "snv", start_pos + 1)
        .when(vtype == "insertion", start_pos)
        .otherwise(start_pos + F.length(F.coalesce(ref_nuc, F.lit(""))))
    )


# -- C3: quality score ------------------------------------------------------
def quality_score(read_depth: Column, total_depth: Column) -> Column:
    """Integer ``(100*rd + td/2) / td`` if td>0 else 0.

    Parity: VariantLoad3.java:270-274 — Java int division, so we must use
    floor-division on non-negative ints, not round().
    """
    rd = read_depth.cast("long")
    td = total_depth.cast("long")
    return (
        F.when(td > 0, ((F.lit(100) * rd + F.floor(td / 2)) / td).cast("long"))
        .otherwise(F.lit(0))
        .cast("int")
    )


# -- C4: total_depth default ------------------------------------------------
def total_depth_default(
    total_depth: Column,
    vtype: Column,
    count_a: Column,
    count_c: Column,
    count_g: Column,
    count_t: Column,
    read_depth: Column,
) -> Column:
    """Empty/0 DP -> snv: A+C+G+T; indel: read_depth.

    Parity: VariantLoad3.java:260-268 (empty parses to 0 via parseInt
    :379-386, then 0 triggers the default).
    """
    dp = F.coalesce(total_depth, F.lit(0))
    acgt = (
        F.coalesce(count_a, F.lit(0))
        + F.coalesce(count_c, F.lit(0))
        + F.coalesce(count_g, F.lit(0))
        + F.coalesce(count_t, F.lit(0))
    )
    return F.when(dp > 0, dp).otherwise(
        F.when(vtype == "snv", acgt).otherwise(F.coalesce(read_depth, F.lit(0)))
    )


# -- C5: indel padding adjust (VCF left-anchored -> CF2 stripped form) ------
def indel_padding_adjust(pos: Column, ref: Column, var: Column) -> dict[str, Column]:
    """VCF-style left-anchored alleles -> CF2 stripped encoding.

    insertion  (len(ref)==1, len(var)>1, ref==var[0]): ref='', var=var[1:],
                pos+1, padding=ref
    deletion   (len(var)==1, len(ref)>1, ref[0]==var): var='', ref=ref[1:],
                pos+1, padding=var
    otherwise unchanged (snv / block substitution), padding NULL.

    Parity: CommonFormat2Line.java:54-90.  Returns dict of the four adjusted
    columns so callers can select/alias.
    """
    ref_c = F.coalesce(ref, F.lit(""))
    var_c = F.coalesce(var, F.lit(""))
    is_ins = (
        (F.length(ref_c) == 1)
        & (F.length(var_c) > 1)
        & (ref_c == F.substring(var_c, 1, 1))
    )
    is_del = (
        (F.length(var_c) == 1)
        & (F.length(ref_c) > 1)
        & (var_c == F.substring(ref_c, 1, 1))
    )
    return {
        "position": F.when(is_ins | is_del, pos + 1).otherwise(pos),
        "ref_nuc": F.when(is_ins, F.lit(""))
        .when(is_del, ref_c.substr(F.lit(2), F.length(ref_c)))
        .otherwise(ref_c),
        "var_nuc": F.when(is_del, F.lit(""))
        .when(is_ins, var_c.substr(F.lit(2), F.length(var_c)))
        .otherwise(var_c),
        "padding_base": F.when(is_ins, ref_c).when(is_del, var_c).otherwise(F.lit(None).cast("string")),
    }


# -- C6: allele_count -------------------------------------------------------
def allele_count(alt: Column) -> Column:
    """1 + number of ',' in ALT == size of split.

    Parity: VcfToCommonFormat2Converter.java:320-327.
    """
    return F.size(F.split(alt, ","))


# -- C7/C8: per-allele read count & ACGT pivot ------------------------------
def allele_read_count(ad_array: Column, alleles: Column, allele: Column) -> Column:
    """AD value matched to `allele` by its position in [ref]+alts.

    Parity: VcfToCommonFormat2Converter.java:277-318.  0 when absent.
    """
    idx = F.array_position(alleles, allele)
    return F.when(idx > 0, F.element_at(ad_array, idx.cast("int"))).otherwise(F.lit(0))


# -- C12: reverse complement ------------------------------------------------
def reverse_complement(seq: Column) -> Column:
    """Reverse + A<->T, C<->G (case-normalized to upper); N/?/./- pass through.

    Parity: VariantPostProcessing.java:670-693 (which errors on other chars;
    we validate separately via `is_valid_nuc`).
    """
    return F.reverse(F.translate(F.upper(seq), "ACGT", "TGCA"))


def is_valid_nuc(seq: Column, alphabet: str = "ACGTN-") -> Column:
    """Allele alphabet predicate (F4): every char in the given set.

    Parity: VariantLoad3.java:368-376 (ACGTN-); ClinVar2Vcf.java:188-220
    uses strict ACGTN.
    """
    return F.upper(F.coalesce(seq, F.lit(""))).rlike(f"^[{alphabet}]*$")


# -- C14: syn_status --------------------------------------------------------
def syn_status(ref_aa: Column, var_aa: Column) -> Column:
    """'X' either side -> 'unassignable'; equal -> 'synonymous'; else
    'nonsynonymous'.  Parity: VariantPostProcessing.java:595-605.
    """
    return (
        F.when(ref_aa.contains("X") | var_aa.contains("X"), F.lit("unassignable"))
        .when(ref_aa == var_aa, F.lit("synonymous"))
        .otherwise(F.lit("nonsynonymous"))
    )


# -- C15: frameshift --------------------------------------------------------
def frameshift(ref_nuc: Column, var_nuc: Column) -> Column:
    """abs(len(ref)-len(var)) % 3 != 0 -> 'T' else 'F'.

    Parity: VariantPostProcessing.java:607-611; '-' counts as length 0
    (FrameShiftFixUp.java:55-64 variant).
    """
    rlen = F.when(
        F.coalesce(ref_nuc, F.lit("")).isin("", "-"), F.lit(0)
    ).otherwise(F.length(ref_nuc))
    vlen = F.when(
        F.coalesce(var_nuc, F.lit("")).isin("", "-"), F.lit(0)
    ).otherwise(F.length(var_nuc))
    return F.when(((rlen - vlen) % 3) != 0, F.lit("T")).otherwise(F.lit("F"))


# -- C16: IUPAC expansion ---------------------------------------------------
_IUPAC = {
    "R": "AG",
    "Y": "CT",
    "S": "GC",
    "W": "AT",
    "K": "GT",
    "M": "AC",
    "B": "CGT",
    "D": "AGT",
    "H": "ACT",
    "V": "ACG",
    "N": "ATCG",
    "A": "A",
    "C": "C",
    "G": "G",
    "T": "T",
}


def iupac_expand(code: Column) -> Column:
    """IUPAC ambiguity code -> base set string; unknown -> 'Unknown'.

    Parity: convert/IUPAC.java:16-44.
    """
    expr: Column = F.lit("Unknown")
    out = None
    for k, v in _IUPAC.items():
        cond = F.upper(code) == k
        out = F.when(cond, F.lit(v)) if out is None else out.when(cond, F.lit(v))
    return out.otherwise(expr)


# -- C17: ID field parse ----------------------------------------------------
def parse_rgd_id_field(id_col: Column) -> dict[str, Column]:
    """'RGDID:8650299;NM_...' -> rgd_id (long) + hgvs_name.

    Parity: VcfToCommonFormat2Converter.java:207-217 — BOTH fields require
    the semicolon (an 'RGDID:123' id without one logs "missing semicolon"
    and leaves rgdId/hgvsName null); hgvs_name is EVERYTHING after the
    first ';' (the reference's substring(semicolonPos+1)), not just the
    second ';'-delimited field.
    """
    has = id_col.startswith("RGDID:") & id_col.contains(";")
    rgd = F.regexp_extract(id_col, r"^RGDID:(\d+);", 1)
    return {
        "rgd_id": F.when(has & (rgd != ""), rgd.cast("long")).otherwise(
            F.lit(None).cast("long")
        ),
        "hgvs_name": F.when(
            has, F.regexp_extract(id_col, r"^RGDID:[^;]*;(.*)$", 1)
        ).otherwise(F.lit(None).cast("string")),
    }


# -- C19: HGVS nucleotide-change parse --------------------------------------
def parse_hgvs_change(hgvs: Column) -> dict[str, Column]:
    """'c.749C>T' / 'delCT' / 'dupA' / 'insT' -> (ref, var).

    Parity: DbSnp2Vcf.java:216-308 (spec'd; commented out in the reference).
    """
    sub_ref = F.regexp_extract(hgvs, r"([ACGT]+)>([ACGT]+)", 1)
    sub_var = F.regexp_extract(hgvs, r"([ACGT]+)>([ACGT]+)", 2)
    del_seq = F.regexp_extract(hgvs, r"del([ACGT]+)", 1)
    dup_seq = F.regexp_extract(hgvs, r"dup([ACGT]+)", 1)
    ins_seq = F.regexp_extract(hgvs, r"ins([ACGT]+)", 1)
    ref = (
        F.when(sub_ref != "", sub_ref)
        .when(del_seq != "", del_seq)
        .otherwise(F.lit(""))
    )
    var = (
        F.when(sub_var != "", sub_var)
        .when(dup_seq != "", F.concat(dup_seq, dup_seq))
        .when(ins_seq != "", ins_seq)
        .otherwise(F.lit(""))
    )
    return {"ref_nuc": ref, "var_nuc": var}


def dbsnp_ref_var(
    var_type: Column, nuc_change: Column, strand: Column | None = None
) -> dict[str, Column]:
    """Type-aware dbSNP/ClinVar HGVS ref/var derivation with strand flip.

    Parity: DbSnp2Vcf.java getRefAndVarNuc (:216-285) — the switch on
    variation type — plus handleStrandedness (:193-213):

    * 'single nucleotide variant': ``C>T`` -> (C, T); ``C=`` (same-as-ref
      names) -> (C, C); anything else is unsupported.
    * 'deletion': ``delCT`` -> (CT, '-').
    * 'duplication': ``dupAA`` -> (AA, AAAA); an ``ins`` change under the
      duplication type is treated the same way (:249-262).
    * 'insertion': ``insT`` -> ('-', T).
    * strand '-': both alleles reverse-complemented unless they are the
      literal '-' placeholder (:204-210).

    Unsupported (type, change) combinations yield NULL alleles — the
    reference returns false and skips the row; filter on
    ``ref_nuc IS NOT NULL`` to replicate.  Non-ACGT letters (IUPAC, N)
    DO extract, mirroring the reference's substring parse; replicate its
    qcVarNucAndRefNuc gate (:161-191) by also filtering BOTH outputs
    with ``is_valid_nuc(col, "ACGT")`` (the '-' placeholder exempt).
    """
    # Plain-substring parsing like the reference: ANY letters extract
    # (getRefAndVarNuc takes substring(pos) with no alphabet check), so
    # IUPAC/N alleles like 'C>R' or 'delNN' parse here and are rejected
    # DOWNSTREAM by the qcVarNucAndRefNuc twin (DbSnp2Vcf.java:161-191
    # validates BOTH alleles against strict ACGT, '-' exempt) — callers
    # must gate with is_valid_nuc on ref AND var, as _dbsnp2vcf does.
    # Restricting the extraction alphabet here instead would diverge on
    # no case today, but couples parse to QC the reference keeps apart.
    sub_ref = F.regexp_extract(nuc_change, r"^([A-Z]+)>([A-Z]+)$", 1)
    sub_var = F.regexp_extract(nuc_change, r"^([A-Z]+)>([A-Z]+)$", 2)
    eq_ref = F.regexp_extract(nuc_change, r"^([A-Z]+)=$", 1)
    del_seq = F.regexp_extract(nuc_change, r"^del([A-Z]+)$", 1)
    dup_seq = F.regexp_extract(nuc_change, r"^dup([A-Z]+)$", 1)
    ins_seq = F.regexp_extract(nuc_change, r"^ins([A-Z]+)$", 1)
    null_s = F.lit(None).cast("string")
    is_snv = var_type == "single nucleotide variant"
    ref = (
        F.when(is_snv & (sub_ref != ""), sub_ref)
        .when(is_snv & (eq_ref != ""), eq_ref)
        .when((var_type == "deletion") & (del_seq != ""), del_seq)
        .when((var_type == "duplication") & (dup_seq != ""), dup_seq)
        .when((var_type == "duplication") & (ins_seq != ""), ins_seq)
        .when((var_type == "insertion") & (ins_seq != ""), F.lit("-"))
        .otherwise(null_s)
    )
    var = (
        F.when(is_snv & (sub_var != ""), sub_var)
        .when(is_snv & (eq_ref != ""), eq_ref)
        .when((var_type == "deletion") & (del_seq != ""), F.lit("-"))
        .when(
            (var_type == "duplication") & (dup_seq != ""),
            F.concat(dup_seq, dup_seq),
        )
        .when(
            (var_type == "duplication") & (ins_seq != ""),
            F.concat(ins_seq, ins_seq),
        )
        .when((var_type == "insertion") & (ins_seq != ""), ins_seq)
        .otherwise(null_s)
    )
    if strand is not None:
        minus = strand == "-"
        ref = F.when(minus & (ref != "-"), reverse_complement(ref)).otherwise(
            ref
        )
        var = F.when(minus & (var != "-"), reverse_complement(var)).otherwise(
            var
        )
    return {"ref_nuc": ref, "var_nuc": var}


# -- C20: position digit-clean ----------------------------------------------
def clean_position(pos: Column) -> Column:
    """'1,079' -> 1079.  Parity: Txt2Vcf.java:225-234."""
    return F.regexp_replace(pos, "[^0-9]", "").cast("long")


# -- C21: VCF line render ---------------------------------------------------
def vcf_line(
    chrom: Column,
    pos: Column,
    vid: Column,
    ref: Column,
    alt: Column,
    qual: Column | None = None,
    filt: Column | None = None,
    info: Column | None = None,
) -> Column:
    """Tab-joined VCF data line.  Parity: ClinVar2Vcf.java:222-262."""
    dot = F.lit(".")
    return F.concat_ws(
        "\t",
        chrom,
        pos.cast("string"),
        F.coalesce(vid, dot),
        ref,
        alt,
        F.coalesce(qual, dot) if qual is not None else dot,
        F.coalesce(filt, dot) if filt is not None else dot,
        F.coalesce(info, dot) if info is not None else dot,
    )


# -- C22: protein flank extraction ------------------------------------------
def protein_flanks(full_aa: Column, pos: Column) -> dict[str, Column]:
    """left = fullAA[0:pos-1]; right = fullAA[pos:] with trailing '*' stripped.

    Parity: Polyphen.java:230-241, 296-299.
    """
    seq = F.regexp_replace(full_aa, r"\*$", "")
    return {
        "left_flank": F.substring(seq, 1, (pos - 1).cast("int")),
        "right_flank": seq.substr(pos + 1, F.length(seq)),
    }


# -- F2: chromosome normalize ------------------------------------------------
def normalize_chromosome(chrom: Column) -> Column:
    """Remove all 'chr' then all 'c' substrings; NULL for unusable contigs
    (len>2 after strip, or contains 'r', or equals 'Un'); then 'M'->'MT'.

    Parity: VcfToCommonFormat2Base.java:16-36 — Java String.replace removes
    every occurrence, and the 'Un' test is equality, not contains.  The NC_
    accession path is a broadcast-join against an accession->chr map
    (sources.vcf), not handled here.
    """
    c = F.replace(chrom, F.lit("chr"), F.lit(""))
    c = F.replace(c, F.lit("c"), F.lit(""))
    bad = (F.length(c) > 2) | c.contains("r") | (c == "Un")
    c = F.when(bad, F.lit(None).cast("string")).otherwise(c)
    return F.when(c == "M", F.lit("MT")).otherwise(c)
