"""VariantPostProcessing kernel + plan tests.

The kernel is pure Python, so most parity cases run without Spark.  The
chromosome sequence used throughout is 'ACGT' repeating: base at 1-based
position p is 'ACGT'[(p-1) % 4].
"""

from __future__ import annotations

from variant_load_pipeline_spark.plans.postprocess import (
    annotate_pair,
    annotate_variants,
)

SEQ = "ACGT" * 16  # 64 bp


def ex(start, stop, strand="+"):
    return ("EXONS", start, stop, strand)


def utr3(start, stop, strand="+"):
    return ("3UTRS", start, stop, strand)


def utr5(start, stop, strand="+"):
    return ("5UTRS", start, stop, strand)


def test_plus_strand_snv_full_row():
    # exons (1,6)+(9,14): CDS=ACGTAC|ACGTAC; variant C->A at pos 10
    feats = sorted([ex(1, 6), ex(9, 14)])
    out = annotate_pair(10, 11, "C", "A", feats, 2, "N", SEQ)
    assert out["location_name"] == "EXON"
    assert out["near_splice_site"] == "T"  # within 10bp of exon1 stop
    assert out["full_ref_nuc_pos"] == 8
    assert out["full_ref_aa_pos"] == 3
    assert (out["ref_aa"], out["var_aa"]) == ("T", "K")
    assert out["syn_status"] == "nonsynonymous"
    assert out["triplet_error"] == "F" and out["frameshift"] == "F"
    assert out["full_ref_aa_seq"] == "TYTY"


def test_intron_row():
    feats = sorted([ex(1, 6), ex(9, 14)])
    out = annotate_pair(7, 8, "G", "A", feats, 2, "N", SEQ)
    assert out["location_name"] == "INTRON"
    assert out["ref_aa"] is None and out["syn_status"] is None


def test_non_coding_transcript():
    feats = sorted([ex(1, 6)])
    out = annotate_pair(3, 4, "G", "A", feats, 1, "Y", SEQ)
    assert out["location_name"] == "EXON,NON-CODING"
    assert out["ref_aa"] is None


def test_intron_non_coding():
    feats = sorted([ex(1, 6), ex(9, 14)])
    out = annotate_pair(7, 8, "G", "A", feats, 2, "Y", SEQ)
    assert out["location_name"] == "INTRON,NON-CODING"


def test_utr_location_prefix():
    # 5'UTR (1,3) covers variant; exon (1,12) also covers it; UTR sorts first
    feats = sorted([utr5(1, 3), ex(1, 12)])
    out = annotate_pair(2, 3, "C", "T", feats, 1, "N", SEQ)
    assert out["location_name"].startswith("5UTRS")
    # variant inside the 5'UTR-trimmed-away part -> exon starts at 4;
    # relPos loop: exon now (4,12), start<=2 false -> not found -> location row
    assert out["ref_aa"] is None


def test_five_utr_trim_shifts_relpos():
    # 5'UTR (1,3): exon (1,12) trimmed to (4,12); variant at 10 (base C)
    feats = sorted([utr5(1, 3), ex(1, 12)])
    out = annotate_pair(10, 11, "C", "G", feats, 1, "N", SEQ)
    # relPos = 10-(4-1) = 7; CDS = pos4..12 = TACGTACGT
    assert out["full_ref_nuc_pos"] == 7
    assert out["full_ref_aa_pos"] == 3
    # CDS TAC GTA CGT -> Y V R; variant pos7 C->G: TAC GTA GGT -> Y V G
    assert (out["ref_aa"], out["var_aa"]) == ("R", "G")


def test_three_utr_full_cover_removes_exon():
    # 3'UTR (9,14) fully covers exon2 -> removed; CDS = exon1 only
    feats = sorted([utr3(9, 14), ex(1, 6), ex(9, 14)])
    out = annotate_pair(3, 4, "G", "T", feats, 2, "N", SEQ)
    assert out["full_ref_nuc_pos"] == 3
    assert out["full_ref_aa_seq"] == "TY"  # ACG TAC -> T Y
    # G->T at pos 3: codon ACG -> ACT, both threonine -> synonymous
    assert (out["ref_aa"], out["var_aa"]) == ("T", "T")
    assert out["syn_status"] == "synonymous"


def test_minus_strand():
    # exon (1,6) on '-' strand: CDS = revcomp(ACGTAC) = GTACGT
    feats = sorted([ex(1, 6, "-")])
    out = annotate_pair(3, 4, "G", "A", feats, 1, "N", SEQ)
    # relPos before flip = 3; after flip = 6-3+1 = 4
    assert out["full_ref_nuc_pos"] == 4
    # refDna = GTACGT -> V R; var: pos3 g->a -> acatac? varDna before flip:
    # 'acAtac'? no: dna=acgtac, set pos3 g->A -> acAtac; revcomp -> GTATGT -> V C
    assert out["full_ref_aa_seq"] == "VR"
    assert (out["ref_aa"], out["var_aa"]) == ("R", "C")


def test_triplet_error_truncation():
    # exon (1,7): 7 bases -> %3=1 -> truncate to 6, triplet_error T
    feats = sorted([ex(1, 7)])
    out = annotate_pair(2, 3, "C", "T", feats, 1, "N", SEQ)
    assert out["triplet_error"] == "T"
    assert out["full_ref_aa_seq"] == "TY"


def test_deletion_length_quirk():
    # deletion encoded as var_nuc='' ref='CG' at pos 2: reference deletes
    # len(var_nuc)==0 -> treated as null -> deletes exactly ONE base
    feats = sorted([ex(1, 6)])
    out = annotate_pair(2, 4, "CG", "", feats, 1, "N", SEQ)
    # varDna: acgtac minus 1 char at relPos2 -> agtac (5) -> truncated to 3
    # refDna stays 6 -> frameshift |6-3|%3==0 -> F (quirk cascade)
    assert out["frameshift"] == "F"
    assert out["ref_aa"] is not None


def test_insertion_vcf_anchored():
    # ref 'A' var 'AT' at pos 5 (base A): insert 'T' AFTER relPos
    feats = sorted([ex(1, 6)])
    out = annotate_pair(5, 5, "A", "AT", feats, 1, "N", SEQ)
    # dna acgtac -> insert at rel_pos=5: acgta + T + c = acgtaTc (7) -> trunc 6
    # var translate: ACG TAT -> T Y ; ref: ACG TAC -> T Y -> synonymous
    assert out["syn_status"] == "synonymous"
    # frameshift uses TRUNCATED lengths (|6-6|=0) — the reference computes it
    # after the %3 truncation, masking the real 1-bp insertion (bug-compat)
    assert out["frameshift"] == "F"


def test_near_splice_edges():
    # exon1 start never checked; exon2 start checked
    feats = sorted([ex(1, 6), ex(20, 31)])
    out = annotate_pair(15, 16, "G", "A", feats, 2, "N", SEQ)
    # 15 within 10bp of exon2 start (20): 20-10<=15 && 20+10>=16 -> T
    assert out["near_splice_site"] == "T"
    out2 = annotate_pair(45, 46, "A", "G", feats, 2, "N", SEQ)
    assert out2["near_splice_site"] == "F"  # far from both boundaries


def test_annotate_variants_plan(spark):
    variants = spark.createDataFrame(
        [(101, "1", 10, 11, "C", "A"), (102, "1", 7, 8, "G", "A"),
         (103, "2", 999, 1000, "A", "G")],
        ["rgd_id", "chromosome", "start_pos", "end_pos", "ref_nuc", "var_nuc"],
    )
    genes = spark.createDataFrame(
        [(7, "1", 1, 20, 1, "ACTIVE")],
        ["gene_rgd_id", "chromosome", "start_pos", "stop_pos", "map_key",
         "object_status"],
    )
    transcripts = spark.createDataFrame(
        [(70, 7, "N", "NM_1", "NP_1")],
        ["transcript_rgd_id", "gene_rgd_id", "is_non_coding_ind", "acc_id",
         "protein_acc_id"],
    )
    features = spark.createDataFrame(
        [(70, "EXONS", "+", "1", 1, 6, 1), (70, "EXONS", "+", "1", 9, 14, 1)],
        ["transcript_rgd_id", "object_name", "strand", "chromosome",
         "start_pos", "stop_pos", "map_key"],
    )
    fasta = spark.createDataFrame([("1", SEQ)], ["chromosome", "seq"])
    out = annotate_variants(
        variants, genes, transcripts, features, fasta, map_key=1
    ).collect()
    by_vid = {r["variant_rgd_id"]: r for r in out}
    assert set(by_vid) == {101, 102}  # 103 is outside any gene
    assert by_vid[101]["ref_aa"] == "T" and by_vid[101]["var_aa"] == "K"
    assert by_vid[101]["location_name"] == "EXON"
    assert by_vid[102]["location_name"] == "INTRON"
    assert by_vid[102]["ref_aa"] is None


def _one_transcript(spark):
    """Variants 101 (exon, C->A) and 102 (intron) on transcript 70 of gene
    7: two coding exons (1,6)+(9,14) on chromosome 1."""
    variants = spark.createDataFrame(
        [(101, "1", 10, 11, "C", "A"), (102, "1", 7, 8, "G", "A")],
        ["rgd_id", "chromosome", "start_pos", "end_pos", "ref_nuc", "var_nuc"],
    )
    genes = spark.createDataFrame(
        [(7, "1", 1, 20, 1, "ACTIVE")],
        ["gene_rgd_id", "chromosome", "start_pos", "stop_pos", "map_key",
         "object_status"],
    )
    transcripts = spark.createDataFrame(
        [(70, 7, "N", "NM_1", "NP_1")],
        ["transcript_rgd_id", "gene_rgd_id", "is_non_coding_ind", "acc_id",
         "protein_acc_id"],
    )
    features = spark.createDataFrame(
        [(70, "EXONS", "+", "1", 1, 6, 1), (70, "EXONS", "+", "1", 9, 14, 1)],
        ["transcript_rgd_id", "object_name", "strand", "chromosome",
         "start_pos", "stop_pos", "map_key"],
    )
    fasta = spark.createDataFrame([("1", SEQ)], ["chromosome", "seq"])
    return variants, genes, transcripts, features, fasta


def test_annotate_variants_chunked_matches_broadcast(spark):
    """fasta_strategy='chunked' (bucketed sequence table, rebased kernel)
    produces identical rows to the broadcast path — chunk size forced small
    so transcripts genuinely span multiple chunks."""
    variants, genes, transcripts, features, fasta = _one_transcript(spark)

    def rows(strategy, chunk):
        out = annotate_variants(
            variants, genes, transcripts, features, fasta, map_key=1,
            fasta_strategy=strategy, chunk_size=chunk,
        ).collect()
        return sorted(
            (tuple(r[c] for c in out[0].asDict()) for r in out)
        ) if out else []

    assert rows("chunked", 5) == rows("broadcast", 5)
    assert rows("chunked", 4) == rows("broadcast", 1_000_000)
    # 'auto' picks by measured genome size against the broadcast ceiling:
    # the tiny fixture stays broadcast; with the ceiling forced below the
    # genome, auto flips to chunked — same rows either way, so the
    # 100-TB call site never changes code when the genome outgrows it
    import variant_load_pipeline_spark.plans.postprocess as pp

    hits = []
    real_chunked = pp._annotate_chunked

    def spy(*a, **kw):
        hits.append(1)
        return real_chunked(*a, **kw)

    pp._annotate_chunked = spy
    old = pp.FASTA_BROADCAST_MAX_BASES
    try:
        assert rows("auto", 5) == rows("broadcast", 5)
        assert not hits  # tiny genome: auto stayed broadcast
        pp.FASTA_BROADCAST_MAX_BASES = len(SEQ) - 1
        assert rows("auto", 5) == rows("chunked", 5)
        assert hits  # ceiling below genome size: auto flipped to chunked
    finally:
        pp.FASTA_BROADCAST_MAX_BASES = old
        pp._annotate_chunked = real_chunked


def test_annotate_variants_chunked_multichrom(spark):
    """Chunked path with transcripts on two chromosomes: per-(transcript,
    chromosome) grouping must keep each local sequence on its own chrom."""
    variants = spark.createDataFrame(
        [(201, "1", 10, 11, "C", "A"), (202, "2", 10, 11, "C", "A")],
        ["rgd_id", "chromosome", "start_pos", "end_pos", "ref_nuc", "var_nuc"],
    )
    genes = spark.createDataFrame(
        [(7, "1", 1, 20, 1, "ACTIVE"), (8, "2", 1, 20, 1, "ACTIVE")],
        ["gene_rgd_id", "chromosome", "start_pos", "stop_pos", "map_key",
         "object_status"],
    )
    transcripts = spark.createDataFrame(
        [(70, 7, "N", "NM_1", "NP_1"), (80, 8, "N", "NM_2", "NP_2")],
        ["transcript_rgd_id", "gene_rgd_id", "is_non_coding_ind", "acc_id",
         "protein_acc_id"],
    )
    features = spark.createDataFrame(
        [(70, "EXONS", "+", "1", 1, 15, 1), (80, "EXONS", "+", "2", 1, 15, 1)],
        ["transcript_rgd_id", "object_name", "strand", "chromosome",
         "start_pos", "stop_pos", "map_key"],
    )
    # different sequences per chromosome -> different amino acids prove the
    # right chromosome's bytes reached each kernel group
    fasta = spark.createDataFrame(
        [("1", "ACG" * 10), ("2", "GGG" * 10)], ["chromosome", "seq"]
    )
    out = {
        (r["variant_rgd_id"], r["transcript_rgd_id"]): r
        for r in annotate_variants(
            variants, genes, transcripts, features, fasta, map_key=1,
            fasta_strategy="chunked", chunk_size=7,
        ).collect()
    }
    assert set(out) == {(201, 70), (202, 80)}
    bro = {
        (r["variant_rgd_id"], r["transcript_rgd_id"]): r
        for r in annotate_variants(
            variants, genes, transcripts, features, fasta, map_key=1,
        ).collect()
    }
    for k in out:
        assert out[k]["ref_aa"] == bro[k]["ref_aa"]
        assert out[k]["var_aa"] == bro[k]["var_aa"]
    # chromosome 2's all-G sequence translates ref to glycine
    assert bro[(202, 80)]["ref_aa"] == "G"


def test_existing_pairs_are_dropped_before_the_kernel(spark, monkeypatch):
    """An incremental load passes the stored VARIANT_TRANSCRIPT keys: the
    stored pair is missing from the result, and the anti-join sits below
    the mapInPandas kernel, so that pair never crosses into Python."""
    variants, genes, transcripts, features, fasta = _one_transcript(spark)
    existing_vt = spark.createDataFrame(
        [(101, 70)], ["variant_rgd_id", "transcript_rgd_id"]
    )
    import variant_load_pipeline_spark.plans.postprocess as pp

    kernel_pairs = []
    real_chunked = pp._annotate_chunked

    def spy(pairs, *a, **kw):
        kernel_pairs.extend(
            (r["variant_rgd_id"], r["transcript_rgd_id"])
            for r in pairs.collect()
        )
        return real_chunked(pairs, *a, **kw)

    def annotate(strategy):
        return annotate_variants(
            variants, genes, transcripts, features, fasta,
            existing_vt=existing_vt, map_key=1, fasta_strategy=strategy,
            chunk_size=5,
        )

    out = annotate("broadcast")
    monkeypatch.setattr(pp, "_annotate_chunked", spy)
    for rows in (out.collect(), annotate("chunked").collect()):
        assert [(r["variant_rgd_id"], r["transcript_rgd_id"]) for r in rows] == [
            (102, 70)
        ]
        assert rows[0]["location_name"] == "INTRON"
    # chunked: the kernel's input pairs already lack the stored pair (its
    # plan below the kernel is a checkpoint, so no plan string shows it)
    assert kernel_pairs == [(102, 70)]
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    kernel = plan.index("MapInPandas")
    assert "Join LeftAnti" in plan[kernel:], plan
    assert "Join LeftAnti" not in plan[:kernel], plan


def test_annotate_indels_chunked_matches_broadcast(spark):
    """All four variant-application arms (deletion with the len(var_nuc)
    quirk, both '-'/NULL insertion encodings, padded insertion, block
    replace) must survive the chunked-FASTA rebase identically — the
    rebase shifts var_start/var_stop and the local sequence, and an
    off-by-one there corrupts exactly these string-surgery arms."""
    variants = spark.createDataFrame(
        [
            (201, "1", 10, 12, "CG", "-", ),    # deletion, quirk: dels 1
            (202, "1", 10, 12, "CG", "--"),     # deletion of 2
            (203, "1", 10, 11, "-", "TT"),      # insertion, '-' ref
            (204, "1", 10, 11, None, "TTA"),    # insertion, NULL ref
            (205, "1", 10, 11, "C", "CAA"),     # padded insertion
            (206, "1", 10, 12, "CG", "AT"),     # block replace
        ],
        ["rgd_id", "chromosome", "start_pos", "end_pos", "ref_nuc", "var_nuc"],
    )
    genes = spark.createDataFrame(
        [(7, "1", 1, 20, 1, "ACTIVE")],
        ["gene_rgd_id", "chromosome", "start_pos", "stop_pos", "map_key",
         "object_status"],
    )
    transcripts = spark.createDataFrame(
        [(70, 7, "N", "NM_1", "NP_1")],
        ["transcript_rgd_id", "gene_rgd_id", "is_non_coding_ind", "acc_id",
         "protein_acc_id"],
    )
    features = spark.createDataFrame(
        [(70, "EXONS", "+", "1", 1, 6, 1), (70, "EXONS", "+", "1", 9, 14, 1)],
        ["transcript_rgd_id", "object_name", "strand", "chromosome",
         "start_pos", "stop_pos", "map_key"],
    )
    fasta = spark.createDataFrame([("1", SEQ)], ["chromosome", "seq"])

    def rows(strategy, chunk):
        out = annotate_variants(
            variants, genes, transcripts, features, fasta, map_key=1,
            fasta_strategy=strategy, chunk_size=chunk,
        ).collect()
        return sorted(
            tuple(r[c] for c in sorted(out[0].asDict())) for r in out
        ) if out else []

    # chunk_size 4 forces the transcript across 4+ chunks; every indel row
    # must match the whole-genome broadcast result exactly
    got = rows("chunked", 4)
    assert got == rows("broadcast", 1_000_000)
    assert len(got) == 6


def test_fasta_auto_boundary_golden(spark):
    """Pins the auto strategy AT the switch point with a genome big enough
    to span many chunks: total bases == ceiling stays broadcast (the bound
    is inclusive), one base over routes to chunked, and the chunked rows
    hash-match the broadcast rows exactly — the 100-TB promise that the
    route flip is invisible to results."""
    import variant_load_pipeline_spark.plans.postprocess as pp

    # deterministic 2-chromosome synthetic genome, 6000 bases total
    n = 3000
    seq1 = "".join("ACGT"[(i * 7 + 3) % 4] for i in range(n))
    seq2 = "".join("TGCA"[(i * 5 + 1) % 4] for i in range(n))
    fasta = spark.createDataFrame(
        [("1", seq1), ("2", seq2)], ["chromosome", "seq"]
    )
    genes = spark.createDataFrame(
        [(7, "1", 50, 2900, 1, "ACTIVE"), (8, "2", 50, 2900, 1, "ACTIVE")],
        ["gene_rgd_id", "chromosome", "start_pos", "stop_pos", "map_key",
         "object_status"],
    )
    transcripts = spark.createDataFrame(
        [(70, 7, "N", "NM_1", "NP_1"), (80, 8, "N", "NM_2", "NP_2")],
        ["transcript_rgd_id", "gene_rgd_id", "is_non_coding_ind", "acc_id",
         "protein_acc_id"],
    )
    features = spark.createDataFrame(
        [
            (70, "EXONS", "+", "1", 100, 699, 1),
            (70, "EXONS", "+", "1", 1200, 1799, 1),
            (70, "EXONS", "+", "1", 2300, 2899, 1),
            (80, "EXONS", "-", "2", 100, 699, 1),
            (80, "EXONS", "-", "2", 1200, 1799, 1),
            (80, "EXONS", "-", "2", 2300, 2899, 1),
        ],
        ["transcript_rgd_id", "object_name", "strand", "chromosome",
         "start_pos", "stop_pos", "map_key"],
    )
    variants = spark.createDataFrame(
        [
            (301, "1", 150, 151, seq1[149], "A"),      # exon1 snv
            (302, "1", 1500, 1501, seq1[1499], "G"),   # exon2 snv
            (303, "1", 900, 901, seq1[899], "T"),      # intron snv
            (304, "1", 1205, 1206, seq1[1204], "C"),   # near splice
            (305, "1", 1500, 1502, seq1[1499:1501], "-"),   # deletion
            (306, "1", 1500, 1501, None, "TTA"),       # insertion
            (307, "2", 150, 151, seq2[149], "A"),      # minus-strand snv
            (308, "2", 2400, 2401, seq2[2399], "G"),   # minus exon3
        ],
        ["rgd_id", "chromosome", "start_pos", "end_pos", "ref_nuc", "var_nuc"],
    )

    def rows(strategy, chunk=512):
        out = annotate_variants(
            variants, genes, transcripts, features, fasta, map_key=1,
            fasta_strategy=strategy, chunk_size=chunk,
        ).collect()
        return sorted(
            (tuple(r[c] for c in sorted(out[0].asDict())) for r in out),
            key=repr,  # rows carry NULLs; repr-key keeps the sort total
        ) if out else []

    golden = rows("broadcast")
    assert len(golden) == 8 and any(t[0] is not None for t in golden)

    hits = []
    real_chunked = pp._annotate_chunked

    def spy(*a, **kw):
        hits.append(1)
        return real_chunked(*a, **kw)

    pp._annotate_chunked = spy
    old = pp.FASTA_BROADCAST_MAX_BASES
    try:
        # exactly AT the ceiling: stays broadcast (<= is inclusive)
        pp.FASTA_BROADCAST_MAX_BASES = 2 * n
        assert rows("auto") == golden
        assert not hits
        # one base over: auto routes chunked, rows identical
        pp.FASTA_BROADCAST_MAX_BASES = 2 * n - 1
        assert rows("auto") == golden
        assert hits
    finally:
        pp.FASTA_BROADCAST_MAX_BASES = old
        pp._annotate_chunked = real_chunked
