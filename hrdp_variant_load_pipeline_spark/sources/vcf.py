"""Multi-sample VCF source, Spark-native.

Reference behavior (HrdpVariants.java:87-115, DAO.java:173-199):
``##`` meta lines skipped, the ``#CHROM`` header maps positional sample
columns to sample names, data lines are tab-separated with 9 fixed columns
followed by N per-sample cells; ``.vcf.gz`` is read transparently; input
dirs are walked recursively keeping ``*.vcf.gz``.

Spark design: one distributed text scan (native gzip). Only the per-file
header lines — a handful of rows — are read on the driver to build the
file → sample-name map, which enters the plan as a literal: a line's
``sample_names`` is a lookup of its file, which needs no broadcast job and
which a plan that does not read the names drops. The same map is recorded
in the metadata of the ``sample_names`` column (``vcf_header`` reads it
back), so a plan can drop the per-line names before an exchange and map the
sample columns after it from the driver-side header. Data rows never leave
the cluster. Gzip is unsplittable (1 task per file), so the scan's
parallelism is the file count. The deployed drop is ONE joint VCF with 146
sample columns, so it scans as one task, and ``restage_to_parquet`` does not
change that: it writes one row group per input file. For 100 TB, re-stage
to bgzip first.
"""

from __future__ import annotations

import fnmatch
import gzip
import io
import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, StringType, StructField, StructType

from hrdp_variant_load_pipeline_spark.runtime import local_frame
from hrdp_variant_load_pipeline_spark.schemas import VCF_ROW
from hrdp_variant_load_pipeline_spark.sources.store import footer_schema

FIXED_COLS = ("chrom", "pos", "vcf_id", "ref", "alt", "qual", "filter", "info", "format")

#: file names ``read_vcf`` keeps, in the input directory and every subdirectory
_VCF_GLOB = "*.vcf*"

#: metadata key of ``sample_names`` holding every input file's header, a
#: JSON object ``{source_file: [sample name, ...]}``
HEADER_KEY = "vcf_header"


def _list_local_files(path: str) -> list[str]:
    if os.path.isfile(path):
        return [path]
    out = []
    for root, _dirs, files in os.walk(path):
        out.extend(os.path.join(root, f) for f in files if fnmatch.fnmatch(f, _VCF_GLOB))
    return sorted(out)


def _read_header_line(fpath: str) -> str | None:
    """Stream the head of one file until its ``#CHROM`` line, however many
    ``##`` meta lines come first. None when the file ends before a
    ``#CHROM`` line and holds no data line.

    Headers sit at the start of a VCF; reading them driver-side is O(files),
    whereas filtering a distributed text scan for them reads the ENTIRE
    corpus once just to find one line per file. Raises ``ValueError`` when
    a data line comes before any ``#CHROM`` line: its sample cells would
    load with no sample names.
    """
    opener = gzip.open if fpath.endswith(".gz") else open
    with opener(fpath, "rb") as raw, io.TextIOWrapper(raw, encoding="utf-8") as f:
        for line in f:
            if line.startswith("#CHROM"):
                return line.rstrip("\n")
            if line.strip() and not line.startswith("#"):
                raise ValueError(
                    f"read_vcf: {fpath} has a data line before its #CHROM header"
                )
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


def read_vcf(spark: SparkSession, path: str) -> DataFrame:
    """Read VCF file(s) into rows of the VCF_ROW shape plus aligned
    ``sample_names``. ``path`` is a file or a directory, walked recursively
    for ``*.vcf*`` files.

    Returns columns: the 9 fixed VCF fields, ``sample_cells``
    (array<string>, one per sample column), ``sample_names``
    (array<string>, aligned with cells), ``source_file`` (basename).
    Raises ``ValueError`` when two input files share a basename, or when a
    local file has a data line before its ``#CHROM`` header.
    """
    raw = (
        spark.read.option("recursiveFileLookup", "true")
        .option("pathGlobFilter", _VCF_GLOB)
        .text(path)
        .withColumn("source_path", F.input_file_name())
    )

    # headers sit at each file's head: read them driver-side (O(files),
    # bounded bytes per file) instead of filtering a distributed scan that
    # reads the whole corpus to find one line per file. Falls back to the
    # distributed scan for non-local stores.
    local_files = _list_local_files(path) if "://" not in path else []
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
    # a line's sample names: a lookup of its file in a literal map (folded
    # to one constant; a plan that does not read the names drops it, and no
    # broadcast job builds it). The header also rides in the column's
    # metadata (see vcf_header).
    header_json = json.dumps(dict(sample_map))
    sample_names = F.try_element_at(
        F.from_json(F.lit(header_json), "map<string, array<string>>"),
        F.col("source_file"),
    ).alias("sample_names", metadata={HEADER_KEY: header_json})

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
    return out.select(
        "source_file", *[c for c in out.columns if c != "source_file"], sample_names
    )


def vcf_header(vcf: DataFrame) -> list[tuple[str, list[str]]]:
    """``(source_file, sample names)`` of each input file of ``vcf``, on the
    driver. A ``read_vcf`` frame, or a restage of one, carries them in the
    ``sample_names`` metadata: no job. Any other frame pays one aggregate
    over its lines."""
    meta = vcf.schema["sample_names"].metadata.get(HEADER_KEY)
    if meta is not None:
        return list(json.loads(meta).items())
    rows = vcf.select("source_file", "sample_names").dropDuplicates(["source_file"])
    return [(r[0], r[1]) for r in rows.collect()]


#: the columns of a restage as ``read_restaged`` returns them: the
#: ``read_vcf`` columns, the partition column last, every field nullable
_RESTAGED_EMPTY = StructType(
    [
        *(f for f in VCF_ROW if f.name != "source_file"),
        StructField("sample_names", ArrayType(StringType())),
        VCF_ROW["source_file"],
    ]
)


def restage_to_parquet(vcf: DataFrame, dest: str) -> None:
    """One-time restage of parsed VCF rows to Parquet, partitioned by
    ``source_file``.

    Gzip text is unsplittable (1 task/file); for repeated processing,
    pay the scan once and write columnar, partitioned storage — every
    later pass gets column pruning and predicate pushdown. Parallelism
    stays per input file: each file's rows come from one scan task and
    land as one row group. ``read_restaged`` round-trips the result.
    """
    vcf.write.mode("overwrite").partitionBy("source_file").parquet(dest)


def read_restaged(spark: SparkSession, path: str) -> DataFrame:
    """Read rows previously written by ``restage_to_parquet`` — same shape
    as ``read_vcf`` output, usable anywhere a VCF DataFrame is.

    The schema is the footer schema of the first ``source_file`` partition
    (``sources.store.footer_schema``) plus the partition column, declared
    as a string: the frame ``spark.read.parquet`` returns, without its
    inference job. A restage of a drop without data lines has no partition:
    it reads as an empty local frame of the same columns."""
    jvm = spark._jvm
    pattern = jvm.org.apache.hadoop.fs.Path(path.rstrip("/") + "/source_file=*")
    fs = pattern.getFileSystem(spark._jsc.hadoopConfiguration())
    parts = sorted(
        st.getPath().toString() for st in fs.globStatus(pattern) or [] if st.isDirectory()
    )
    if not parts:
        return local_frame(spark, [], _RESTAGED_EMPTY)
    schema = footer_schema(spark, parts[0])
    return spark.read.schema(schema.add("source_file", StringType())).parquet(path)
