"""Multi-sample VCF source, Spark-native.

Reference behavior (HrdpVariants.java:87-115, DAO.java:173-199):
``##`` meta lines skipped, the ``#CHROM`` header maps positional sample
columns to sample names, data lines are tab-separated with 9 fixed columns
followed by N per-sample cells; ``.vcf.gz`` is read transparently; input
dirs are walked recursively keeping ``*.vcf.gz``.

Spark design: one distributed text scan (native gzip). Only the per-file
header lines — a handful of rows — are collected to the driver to build the
file → sample-name map, which re-enters the plan as a broadcast dimension.
Data rows never leave the cluster. Gzip is unsplittable (1 task per file);
parallelism comes from many files, which matches the reference workload
(146 strains). For 100 TB, re-stage to bgzip/Parquet first.
"""

from __future__ import annotations

import fnmatch
import gzip
import io
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

FIXED_COLS = ("chrom", "pos", "vcf_id", "ref", "alt", "qual", "filter", "info", "format")

#: stop scanning a file for its #CHROM header after this many lines
_HEADER_SCAN_LIMIT = 10_000


def _list_local_files(path: str, glob: str, recursive: bool) -> list[str]:
    if os.path.isfile(path):
        return [path]
    out = []
    if recursive:
        for root, _dirs, files in os.walk(path):
            out.extend(
                os.path.join(root, f) for f in files if fnmatch.fnmatch(f, glob)
            )
    else:
        out = [
            os.path.join(path, f)
            for f in os.listdir(path)
            if fnmatch.fnmatch(f, glob) and os.path.isfile(os.path.join(path, f))
        ]
    return sorted(out)


def _read_header_line(fpath: str) -> str | None:
    """Stream the head of one file until its ``#CHROM`` line.

    Headers sit at the start of a VCF; reading them driver-side is O(files),
    whereas filtering a distributed text scan for them reads the ENTIRE
    corpus once just to find one line per file.
    """
    opener = gzip.open if fpath.endswith(".gz") else open
    with opener(fpath, "rb") as raw, io.TextIOWrapper(raw, encoding="utf-8") as f:
        for _ in range(_HEADER_SCAN_LIMIT):
            line = f.readline()
            if not line:
                return None
            if line.startswith("#CHROM"):
                return line.rstrip("\n")
    return None


def _refuse_colliding_names(paths) -> None:
    """Lines find their file's header by basename (``source_file``), so
    two inputs with one name would pair every line of either file with
    both files' sample names."""
    by_name: dict[str, list[str]] = {}
    for p in paths:
        by_name.setdefault(p.rsplit("/", 1)[-1], []).append(p)
    clashes = {n: sorted(ps) for n, ps in by_name.items() if len(ps) > 1}
    if clashes:
        raise ValueError(
            f"read_vcf: input files share a file name: {clashes}; rename "
            "them or read each directory on its own"
        )


def read_vcf(
    spark: SparkSession,
    path: str,
    recursive: bool = True,
    glob: str = "*.vcf*",
) -> DataFrame:
    """Read VCF file(s) into rows of the VCF_ROW shape plus aligned
    ``sample_names``.

    Returns columns: the 9 fixed VCF fields, ``sample_cells``
    (array<string>, one per sample column), ``sample_names``
    (array<string>, aligned with cells), ``source_file`` (basename).
    Raises ``ValueError`` when two input files share a basename.
    """
    reader = spark.read
    if recursive:
        reader = reader.option("recursiveFileLookup", "true").option("pathGlobFilter", glob)
    raw = reader.text(path).withColumn("source_path", F.input_file_name())

    # headers sit at each file's head: read them driver-side (O(files),
    # bounded bytes per file) instead of filtering a distributed scan that
    # reads the whole corpus to find one line per file. Falls back to the
    # distributed scan for non-local stores.
    local_files = (
        _list_local_files(path, glob if recursive else "*", recursive)
        if "://" not in path
        else []
    )
    if local_files:
        _refuse_colliding_names(local_files)
        sample_map = []
        for p in local_files:
            header = _read_header_line(p)
            if header is not None:
                sample_map.append((os.path.basename(p), header.split("\t")[9:]))
    else:
        header_rows = (
            raw.filter(F.col("value").startswith("#CHROM"))
            .select("source_path", "value")
            .collect()
        )
        _refuse_colliding_names({r["source_path"] for r in header_rows})
        sample_map = [
            (r["source_path"].rsplit("/", 1)[-1], r["value"].split("\t")[9:])
            for r in header_rows
        ]
    header_df = spark.createDataFrame(
        sample_map or [("", [])], "source_file string, sample_names array<string>"
    )

    fields = F.split(F.col("value"), "\t")
    data = (
        raw.filter(~F.col("value").startswith("#"))
        # ragged lines (< 9 tab-separated fields) crash the reference
        # (ArrayIndexOutOfBounds); a distributed scan must instead drop
        # them — documented divergence
        .filter(F.size(fields) >= 9)
        .select(
            *[F.get(fields, i).alias(name) for i, name in enumerate(FIXED_COLS)],
            F.slice(fields, 10, F.greatest(F.size(fields) - F.lit(9), F.lit(0))).alias(
                "sample_cells"
            ),
            F.col("source_path"),
        )
        .withColumn("pos", F.col("pos").try_cast("long"))
    )
    out = data.withColumn(
        "source_file", F.element_at(F.split(F.col("source_path"), "/"), -1)
    ).drop("source_path")
    return out.join(F.broadcast(header_df), "source_file", "left")


def unpivot_samples(df: DataFrame) -> DataFrame:
    """Explode the aligned (sample_names, sample_cells) arrays into one row
    per (line, sample column), keeping the 0-based column index.

    Equivalent of the reference's ``for (int i = 9; i < data.length; i++)``
    loop (HrdpVariants.java:465): ``col_idx`` here == ``i - 9`` there.
    """
    zipped = F.arrays_zip(F.col("sample_names"), F.col("sample_cells"))
    exploded = df.select(
        *[c for c in df.columns if c not in ("sample_names", "sample_cells")],
        F.posexplode(zipped).alias("col_idx", "cell_struct"),
    )
    return exploded.select(
        *[c for c in df.columns if c not in ("sample_names", "sample_cells")],
        "col_idx",
        F.col("cell_struct.sample_names").alias("sample_name"),
        F.col("cell_struct.sample_cells").alias("cell"),
    )


def restage_to_parquet(
    vcf: DataFrame, dest: str, partition_by: tuple[str, ...] = ("source_file",)
) -> None:
    """One-time restage of parsed VCF rows to splittable Parquet.

    Gzip text is unsplittable (1 task/file); for repeated processing at
    scale, pay the scan once and write columnar, partitioned storage —
    every later pass gets column pruning, predicate pushdown, and
    arbitrary parallelism. ``read_restaged`` round-trips the result.
    """
    vcf.write.mode("overwrite").partitionBy(*partition_by).parquet(dest)


def read_restaged(spark: SparkSession, path: str) -> DataFrame:
    """Read rows previously written by ``restage_to_parquet`` — same shape
    as ``read_vcf`` output, usable anywhere a VCF DataFrame is."""
    return spark.read.parquet(path)
