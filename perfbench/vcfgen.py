"""Seeded 146-sample joint-VCF drop and gene dimension for the benchmark.

Modelled on the production shape of the reference load (one joint GATK
VCF with 146 strain columns, ``AppConfigure.xml:10-159``): every choice is
drawn from ``random.Random(seed)``, and the load counters a correct
``--runLoad`` must report are computed here, independently of the engine,
while the lines are emitted:

* GT ``0/0`` and ``./.`` cells create no detail row;
* a called cell creates one detail row per allele whose AD depth is not 0;
* the trailing ``UNKNOWN_SMP`` column has no sample id and never counts;
* every line is an SNV at a position unique on its chromosome, so every
  allele is a new variant and its normalized ``start_pos`` is ``pos``.

The genes are written as parquet with the engine's GENE columns. The
genic truth (``is_genic``) is the point probe genic QC applies: a variant is
GENIC when an ACTIVE gene on its chromosome covers its start position.
"""

from __future__ import annotations

import gzip
import random
from dataclasses import dataclass, field
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

N_SAMPLES = 146
N_CHROMS = 5
MAP_KEY = 372

#: the 9 fixed VCF columns ahead of the sample columns
_FIXED = "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT"
_BASES = "ACGT"


def sample_names() -> list[str]:
    """Strain-like analysis names (the reference's are ``STRAIN_Source_Year``)."""
    return [f"STR{i:03d}_CubMcwi_{2019 + i % 6}" for i in range(N_SAMPLES)]


def sample_config() -> dict[str, int]:
    """name -> sample_id map, ids from the reference's 380000 block."""
    return {name: 380000 + i for i, name in enumerate(sample_names())}


@dataclass
class Drop:
    """A written drop plus what a correct load of it reports."""

    vcf_dir: Path
    genes_path: Path
    variants: int = 0
    details: int = 0
    input_bytes: int = 0
    #: chromosome -> [(start, stop)] of the ACTIVE genes
    genes: dict[str, list[tuple[int, int]]] = field(default_factory=dict)
    #: (chromosome, start_pos) of every variant the drop holds
    loci: list[tuple[str, int]] = field(default_factory=list)

    def is_genic(self, chromosome: str, start_pos: int) -> bool:
        return any(lo <= start_pos <= hi for lo, hi in self.genes.get(chromosome, ()))


def _write_genes(rng: random.Random, path: Path, max_pos: int) -> dict:
    """Three ACTIVE genes per chromosome (random spans, overlaps allowed)
    plus one RETIRED gene the load must ignore."""
    rows = []
    active: dict[str, list[tuple[int, int]]] = {}
    for c in range(1, N_CHROMS + 1):
        chrom = str(c)
        for k in range(4):
            lo = rng.randrange(1, max_pos)
            hi = lo + rng.randrange(max_pos // 8, max_pos // 3)
            status = "ACTIVE" if k < 3 else "RETIRED"
            rows.append((len(rows) + 1, chrom, lo, hi, status, MAP_KEY))
            if status == "ACTIVE":
                active.setdefault(chrom, []).append((lo, hi))
    cols = list(zip(*rows))
    table = pa.table(
        {
            "gene_rgd_id": pa.array(cols[0], pa.int32()),
            "chromosome": pa.array(cols[1], pa.string()),
            "start_pos": pa.array(cols[2], pa.int64()),
            "stop_pos": pa.array(cols[3], pa.int64()),
            "object_status": pa.array(cols[4], pa.string()),
            "map_key": pa.array(cols[5], pa.int32()),
        }
    )
    path.mkdir(parents=True, exist_ok=True)
    pq.write_table(table, path / "genes.parquet")
    return active


def write_drop(out_dir: Path, seed: int, n_lines: int, n_files: int = 4) -> Drop:
    """Write ``n_files`` gzip joint VCFs totalling ``n_lines`` lines x
    (``N_SAMPLES`` known + 1 unknown) sample columns, and the genes parquet.

    About 10% of lines are multi-allelic (two ALT alleles, AD carries three
    depths). Per sample cell: ~15% ``0/0``, ~10% ``./.``, and ~6% of cells
    are called with the first ALT allele's depth at 0.
    """
    rng = random.Random(seed)
    drop = Drop(vcf_dir=out_dir / "vcfs", genes_path=out_dir / "genes")
    drop.vcf_dir.mkdir(parents=True, exist_ok=True)
    header = _FIXED + "\t" + "\t".join(sample_names()) + "\tUNKNOWN_SMP\n"

    per_file = (n_lines + n_files - 1) // n_files
    gi = 0
    for fi in range(n_files):
        path = drop.vcf_dir / f"HRDP_{N_SAMPLES}smp_part{fi}_PASS.vcf.gz"
        with gzip.open(path, "wt") as f:
            f.write("##fileformat=VCFv4.2\n")
            f.write(f"##contig=<ID=chr{fi + 1},length=282763074>\n")
            f.write(header)
            for _ in range(min(per_file, n_lines - gi)):
                chrom = str(1 + gi % N_CHROMS)
                # gi // N_CHROMS grows per chromosome, so positions stay unique
                pos = 1000 + (gi // N_CHROMS) * 10 + rng.randrange(10)
                ref = rng.choice(_BASES)
                alts = rng.sample([b for b in _BASES if b != ref], 2)
                multi = rng.random() < 0.1
                n_alleles = 2 if multi else 1
                drop.variants += n_alleles
                drop.loci.extend([(chrom, pos)] * n_alleles)
                cells = []
                for si in range(N_SAMPLES + 1):  # +1 unknown column
                    r = rng.randrange(100)
                    if r < 25:
                        cells.append(("0/0" if r < 15 else "./.") + ":.:.")
                        continue
                    gt = ("0/1", "1/2", "0/2")[r % 3] if multi else ("0/1", "1/1")[r % 2]
                    ads = [
                        0 if (r < 31 and j == 0) else 1 + rng.randrange(9)
                        for j in range(n_alleles)
                    ]
                    ad = ",".join(["2"] + [str(a) for a in ads])
                    cells.append(f"{gt}:{ad}:{sum(ads) + 2}")
                    if si < N_SAMPLES:  # the unknown column never counts
                        drop.details += sum(1 for a in ads if a != 0)
                alt = ",".join(alts[:n_alleles])
                f.write(
                    f"chr{chrom}\t{pos}\t.\t{ref}\t{alt}\t50\tPASS\t.\tGT:AD:DP\t"
                    + "\t".join(cells)
                    + "\n"
                )
                gi += 1
        drop.input_bytes += path.stat().st_size

    max_pos = 1000 + (n_lines // N_CHROMS + 1) * 10
    drop.genes = _write_genes(rng, drop.genes_path, max_pos)
    return drop
