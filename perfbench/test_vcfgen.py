"""Smoke tests of the benchmark's drop generator (no Spark needed).

Run: python3 -m pytest -q -p no:cacheprovider perfbench/test_vcfgen.py
"""

from __future__ import annotations

import gzip

import pyarrow.parquet as pq
import vcfgen


def _reparse(drop) -> tuple[int, int, list[tuple[str, int]]]:
    """Apply the load's keep rules to the written text, independently of the
    counters the generator kept while writing it."""
    known = set(vcfgen.sample_names())
    variants = details = 0
    loci = []
    for path in sorted(drop.vcf_dir.glob("*.vcf.gz")):
        with gzip.open(path, "rt") as f:
            for line in f:
                if line.startswith("##"):
                    continue
                cols = line.rstrip("\n").split("\t")
                if line.startswith("#CHROM"):
                    names = cols[9:]
                    continue
                alts = cols[4].split(",")
                variants += len(alts)
                loci += [(cols[0].removeprefix("chr"), int(cols[1]))] * len(alts)
                for name, cell in zip(names, cols[9:]):
                    gt, ad, _dp = cell.split(":")
                    if name not in known or gt in ("0/0", "./."):
                        continue
                    depths = ad.split(",")[1:]
                    details += sum(1 for d in depths if d not in (".", "0"))
    return variants, details, loci


def test_counts_match_the_written_files(tmp_path):
    drop = vcfgen.write_drop(tmp_path, seed=7, n_lines=60)
    variants, details, loci = _reparse(drop)
    assert (variants, details) == (drop.variants, drop.details)
    assert sorted(loci) == sorted(drop.loci)
    assert len(set(loci)) < len(loci)  # multi-allelic lines share a locus
    genes = pq.read_table(drop.genes_path).to_pylist()
    assert {g["object_status"] for g in genes} == {"ACTIVE", "RETIRED"}


def test_same_seed_same_drop(tmp_path):
    a = vcfgen.write_drop(tmp_path / "a", seed=3, n_lines=40)
    b = vcfgen.write_drop(tmp_path / "b", seed=3, n_lines=40)
    c = vcfgen.write_drop(tmp_path / "c", seed=4, n_lines=40)
    assert (a.variants, a.details, a.loci, a.genes) == (b.variants, b.details, b.loci, b.genes)
    assert (a.details, a.loci) != (c.details, c.loci)
