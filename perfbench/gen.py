"""Deterministic inputs for the paper-chain benchmark.

Everything here is plain Python plus pyarrow: the program under test sees
only the files written by ``write_inputs`` (a multi-sample VCF text file
and genes / transcripts / features / FASTA parquet).  The same
``(workload, seed)`` always gives byte-identical files.

Besides the files, the generator keeps the ground truth it drew them from
(``Inputs``), so the benchmark can check the convert stage's CF2 rows
exactly and the load stage's row accounting without trusting the program.
"""

from __future__ import annotations

import hashlib
import os
import random
import zlib
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq

MAP_KEY = 372
CHROMS = ["1", "2", "3", "X"]
NUCS = "ACGT"

# Workload shapes.  ``lines`` is VCF data lines per run, ``strains`` the
# sample columns per line, ``called`` the share of sample cells carrying a
# non-reference genotype, ``genes`` genes per chromosome with ``gene_len``
# bases each, ``exon_bias`` the share of sites drawn from exons, and
# ``store_x`` the pre-built store size in multiples of one strain's sites
# (``overlap`` of the new strain's sites are already in that store).
WORKLOADS: dict[str, dict] = {
    "ingest_wide": dict(
        lines=12_000, strains=3, called=0.5, chrom_len=400_000,
        genes=6, gene_len=6_000, exon_bias=0.0, store_x=0, overlap=0.0,
    ),
    "annotate_dense": dict(
        lines=10_000, strains=1, called=0.8, chrom_len=400_000,
        genes=90, gene_len=6_000, exon_bias=0.5, store_x=0, overlap=0.0,
    ),
    "incremental_load": dict(
        lines=8_000, strains=1, called=0.9, chrom_len=400_000,
        genes=40, gene_len=6_000, exon_bias=0.2, store_x=5, overlap=0.5,
    ),
    # the self-tests' input: every path of the three above, in miniature
    "tiny": dict(
        lines=400, strains=2, called=0.6, chrom_len=40_000,
        genes=8, gene_len=3_000, exon_bias=0.5, store_x=2, overlap=0.5,
    ),
}


@dataclass(frozen=True)
class Site:
    """One VCF site in CF2's stripped encoding plus its VCF spelling."""

    chrom: str
    vcf_pos: int
    vcf_ref: str
    vcf_alt: str
    rs_id: str

    @property
    def kind(self) -> str:
        if len(self.vcf_ref) == 1 and len(self.vcf_alt) == 1:
            return "snv"
        return "insertion" if len(self.vcf_alt) > 1 else "deletion"

    def cf2_key(self) -> tuple[str, int, str, str, str]:
        """(chr, position, ref_nuc, var_nuc, padding_base) as CF2 writes it."""
        if self.kind == "snv":
            return self.chrom, self.vcf_pos, self.vcf_ref, self.vcf_alt, ""
        if self.kind == "insertion":
            return self.chrom, self.vcf_pos + 1, "", self.vcf_alt[1:], self.vcf_ref
        return self.chrom, self.vcf_pos + 1, self.vcf_ref[1:], "", self.vcf_alt

    def store_key(self) -> tuple:
        """The load stage's 6-key (start, end, chromosome, ref, type, var)."""
        chrom, pos, ref, var, _ = self.cf2_key()
        end = {"snv": pos + 1, "insertion": pos, "deletion": pos + len(ref)}
        return pos, end[self.kind], chrom, ref, self.kind, var


@dataclass
class Inputs:
    """Generated files plus the ground truth behind them."""

    workload: str
    seed: int
    strains: list[str]
    genders: dict[str, str]
    # per strain: the CF2 rows convert must write, as digest strings
    cf2_rows: dict[str, list[str]] = field(default_factory=dict)
    # per strain: (dbsnp rows, novel rows) load_counters must report
    counters: dict[str, tuple[int, int]] = field(default_factory=dict)
    store_sites: list[Site] = field(default_factory=list)
    run_sites: set[tuple] = field(default_factory=set)
    genes: list[tuple] = field(default_factory=list)
    transcripts: list[tuple] = field(default_factory=list)
    features: list[tuple] = field(default_factory=list)
    genome: dict[str, str] = field(default_factory=dict)
    vcf_text: str = ""

    @property
    def cf2_row_count(self) -> int:
        return sum(len(v) for v in self.cf2_rows.values())

    def store_growth(self) -> int:
        """Variants the run adds to the store: distinct run sites not in it."""
        base = {s.store_key() for s in self.store_sites}
        return len(self.run_sites - base)


def row_text(values) -> str:
    """One row as the digest hashes it: NULL as \\N, fields joined by '|'."""
    return "|".join("\\N" if v is None else str(v) for v in values)


def py_digest(rows) -> list[int]:
    """[count, sum crc32, sum md5-prefix] over row strings — order-free and
    computed identically by ``checks.digest`` inside Spark."""
    n = crc = md = 0
    for r in rows:
        b = r.encode("utf-8")
        n += 1
        crc += zlib.crc32(b)
        md += int(hashlib.md5(b).hexdigest()[:8], 16)
    return [n, crc, md]


def _gene_model(rng: random.Random, p: dict):
    genes, transcripts, features = [], [], []
    exon_spans: dict[str, list[tuple[int, int]]] = {c: [] for c in CHROMS}
    gid = 1000
    for chrom in CHROMS:
        L = p["chrom_len"]
        for _ in range(p["genes"]):
            gid += 1
            start = rng.randrange(1, L - p["gene_len"] - 1)
            stop = start + rng.randrange(p["gene_len"] // 2, p["gene_len"])
            genes.append((gid, chrom, start, stop, MAP_KEY, "ACTIVE"))
            strand = rng.choice("+-")
            for k in range(rng.choice((1, 2))):
                tid = gid * 10 + k
                coding = rng.random() >= 0.1
                transcripts.append(
                    (tid, gid, "N" if coding else "Y", f"NM_{tid}",
                     f"NP_{tid}" if coding else None)
                )
                n_ex = rng.randrange(2, 7)
                cuts = sorted(rng.sample(range(start, stop + 1), 2 * n_ex))
                exons = [(cuts[2 * i], cuts[2 * i + 1]) for i in range(n_ex)]
                for a, b in exons:
                    features.append((tid, "EXONS", strand, chrom, a, b, MAP_KEY))
                    exon_spans[chrom].append((a, b))
                lo_a, lo_b = exons[0]
                hi_a, hi_b = exons[-1]
                lo_utr = (lo_a, lo_a + min(20, lo_b - lo_a))
                hi_utr = (hi_b - min(20, hi_b - hi_a), hi_b)
                five, three = (lo_utr, hi_utr) if strand == "+" else (hi_utr, lo_utr)
                features.append((tid, "5UTRS", strand, chrom, *five, MAP_KEY))
                features.append((tid, "3UTRS", strand, chrom, *three, MAP_KEY))
    return genes, transcripts, features, exon_spans


def _draw_sites(rng, p, genome, exon_spans, n, taken) -> list[Site]:
    """``n`` sites at distinct (chrom, pos) not in ``taken``; ~90% SNVs,
    the rest 1-3 base insertions and deletions."""
    out = []
    while len(out) < n:
        chrom = rng.choice(CHROMS)
        if exon_spans[chrom] and rng.random() < p["exon_bias"]:
            a, b = rng.choice(exon_spans[chrom])
            pos = rng.randint(a, b)
        else:
            pos = rng.randrange(2, p["chrom_len"] - 10)
        if (chrom, pos) in taken:
            continue
        taken.add((chrom, pos))
        seq = genome[chrom]
        ref = seq[pos - 1]
        r = rng.random()
        if r < 0.9:
            ref_s, alt_s = ref, rng.choice([c for c in NUCS if c != ref])
        elif r < 0.95:
            ref_s = ref
            alt_s = ref + "".join(rng.choice(NUCS) for _ in range(rng.randint(1, 3)))
        else:
            ref_s, alt_s = seq[pos - 1 : pos + rng.randint(1, 3)], ref
        rs = f"rs{rng.randrange(1, 10**8)}" if rng.random() < 0.6 else "."
        out.append(Site(chrom, pos, ref_s, alt_s, rs))
    return out


def _cell(rng: random.Random, called: float) -> tuple[str, tuple[int, int] | None]:
    """Sample cell text plus (ref reads, alt reads) when it is called."""
    if rng.random() >= called:
        return (("./.:.:.", None) if rng.random() < 0.5 else
                (f"0/0:{rng.randint(5, 30)},0:{rng.randint(5, 40)}", None))
    r, a = rng.randint(0, 30), rng.randint(1, 30)
    gt = "1/1" if r < 3 else "0/1"
    return f"{gt}:{r},{a}:{r + a + rng.randint(0, 3)}", (r, a)


def _cf2_text(strain: str, s: Site, text: str, reads: tuple[int, int]) -> str:
    r, a = reads
    chrom, pos, ref, var, pad = s.cf2_key()
    counts = [0, 0, 0, 0]
    if s.kind == "snv":
        counts[NUCS.index(s.vcf_ref)] += r
        counts[NUCS.index(s.vcf_alt)] += a
    dp = int(text.rsplit(":", 1)[1])
    return row_text(
        [strain, chrom, pos, ref, var, s.rs_id, *counts, dp, "", a, 1,
         r + a, pad]
    )


def generate(workload: str, seed: int) -> Inputs:
    """Draw the genome, gene model, store history and VCF for one run."""
    p = WORKLOADS[workload]
    rng = random.Random(f"{workload}:{seed}")
    genome = {
        c: "".join(rng.choices(NUCS, k=p["chrom_len"])) for c in CHROMS
    }
    genes, transcripts, features, exon_spans = _gene_model(rng, p)
    strains = [f"S{i:02d}" for i in range(1, p["strains"] + 1)]
    inp = Inputs(
        workload, seed, strains,
        {s: "M" if i % 2 else "F" for i, s in enumerate(strains)},
        genes=genes, transcripts=transcripts, features=features,
        genome=genome,
    )
    taken: set = set()
    per_strain = int(p["lines"] * p["called"])
    if p["store_x"]:
        inp.store_sites = _draw_sites(
            rng, p, genome, exon_spans, p["store_x"] * per_strain, taken
        )
    n_old = int(p["lines"] * p["overlap"])
    sites = rng.sample(inp.store_sites, n_old) if n_old else []
    # a few lines convert must drop: multi-allelic ALTs and unusable contigs
    n_drop = p["lines"] // 50
    sites += _draw_sites(
        rng, p, genome, exon_spans, p["lines"] - n_old - n_drop, taken
    )
    sites.sort(key=lambda s: (CHROMS.index(s.chrom), s.vcf_pos))

    header = [
        "##fileformat=VCFv4.2",
        '##FORMAT=<ID=GT,Number=1,Type=String,Description="Genotype">',
        '##FORMAT=<ID=AD,Number=R,Type=Integer,Description="Allelic depths">',
        '##FORMAT=<ID=DP,Number=1,Type=Integer,Description="Read depth">',
        "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\t"
        + "\t".join(strains),
    ]
    body = []
    cf2: dict[str, list[str]] = {s: [] for s in strains}
    counters = {s: [0, 0] for s in strains}
    for s in sites:
        cells = []
        for strain in strains:
            text, reads = _cell(rng, p["called"])
            cells.append(text)
            if reads is not None:
                cf2[strain].append(_cf2_text(strain, s, text, reads))
                counters[strain][s.rs_id == "."] += 1
                inp.run_sites.add(s.store_key())
        body.append(
            f"chr{s.chrom}\t{s.vcf_pos}\t{s.rs_id}\t{s.vcf_ref}\t{s.vcf_alt}"
            f"\t50\tPASS\t.\tGT:AD:DP\t" + "\t".join(cells)
        )
    for i in range(n_drop):
        cells = "\t".join("0/1:5,5,5:15" for _ in strains)
        if i % 2:
            body.append(f"chr1\t{i + 1}\t.\tA\tC,G\t50\tPASS\t.\tGT:AD:DP\t{cells}")
        else:
            body.append(f"chrUn_x{i}\t{i + 1}\t.\tA\tC\t50\tPASS\t.\tGT:AD:DP\t{cells}")
    inp.vcf_text = "\n".join(header + body) + "\n"
    inp.cf2_rows = cf2
    inp.counters = {s: (a, b) for s, (a, b) in counters.items()}
    return inp


def write_inputs(inp: Inputs, out_dir: str) -> dict[str, str]:
    """Write the program's input files; returns name -> path."""
    os.makedirs(out_dir, exist_ok=True)
    paths = {
        n: os.path.join(out_dir, n)
        for n in ("in.vcf", "genes.parquet", "transcripts.parquet",
                  "features.parquet", "fasta.parquet")
    }
    with open(paths["in.vcf"], "w", encoding="utf-8") as fh:
        fh.write(inp.vcf_text)

    def write(name, rows, schema):
        cols = list(zip(*rows)) if rows else [[] for _ in schema]
        table = pa.Table.from_arrays(
            [pa.array(c, type=f.type) for c, f in zip(cols, schema)],
            schema=schema,
        )
        pq.write_table(table, paths[name])

    write("genes.parquet", inp.genes, pa.schema([
        ("gene_rgd_id", pa.int64()), ("chromosome", pa.string()),
        ("start_pos", pa.int64()), ("stop_pos", pa.int64()),
        ("map_key", pa.int32()), ("object_status", pa.string())]))
    write("transcripts.parquet", inp.transcripts, pa.schema([
        ("transcript_rgd_id", pa.int64()), ("gene_rgd_id", pa.int64()),
        ("is_non_coding_ind", pa.string()), ("acc_id", pa.string()),
        ("protein_acc_id", pa.string())]))
    write("features.parquet", inp.features, pa.schema([
        ("transcript_rgd_id", pa.int64()), ("object_name", pa.string()),
        ("strand", pa.string()), ("chromosome", pa.string()),
        ("start_pos", pa.int64()), ("stop_pos", pa.int64()),
        ("map_key", pa.int32())]))
    write("fasta.parquet", sorted(inp.genome.items()), pa.schema([
        ("chromosome", pa.string()), ("seq", pa.string())]))
    return paths
