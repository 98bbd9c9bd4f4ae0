"""Versioned parquet stores with a single-operation atomic commit.

The reference commits each batch as ONE Oracle transaction
(``DAO.java:142-163``): a reader sees the store before the batch or after
it, never in between and never absent. Plain ``overwrite`` parquet cannot
give that (the old files die before the new ones are durable), and the
round-5 write-then-double-rename still had a window between the two
renames where NO store existed at the path.

Only ``commit_store_version`` (a whole new version) keeps that guarantee.
``append_to_store`` does not: it renames a batch's staged files into the
live location one file at a time, so a reader that lists the store
mid-append, or a crash mid-append, sees part of the batch (ROADMAP.md
item 3 plans one commit per append).

``commit_store_version`` gives the Oracle-transaction visibility guarantee
on any Hadoop filesystem with three primitives that are each atomic on
their own (file create, dir rename) and ZERO multi-step visibility
dependencies:

* a store root holds immutable version directories ``v_00000001``,
  ``v_00000002``, … — each fully written before it becomes eligible;
* a version is *committed* by creating one empty ``_COMMITTED`` marker
  file inside it — a single atomic create, the whole commit;
* readers resolve the highest committed version. Writers stage under a
  dot-prefixed temp name (hidden from Spark/Hadoop listings), rename into
  place, then commit. A crash at ANY point leaves either no new marker
  (readers keep the previous version — old data) or a complete committed
  version (new data). There is no instant where a reader sees nothing or
  a partial store.

Legacy flat stores (parquet files directly under the root) are read as
version 0; the first versioned commit migrates them — the flat files are
deleted only after the new version's marker exists.

Isolation: a write never changes what an already-built plan reads. Spark
re-caches every cached plan whose root path starts with a path it has just
written (``CacheManager.recacheByPath``), which re-lists the files under
that root. Commits stage a new version directory that no reader has
resolved; appends stage into ``<target>/.append-<uuid>`` and only then
rename their files into ``<target>``. Neither write path is a prefix of a
reader's root, so a plan built before the write keeps its cache and its
file listing, and a new ``read_store`` sees the written rows. A load that
probes a store at its start therefore inserts against that state through
all its appends, as the reference's one-transaction run does.

A real table format (Delta/Iceberg) implements the same
newest-committed-snapshot protocol with richer metadata; this is the
dependency-free core of it.
"""

from __future__ import annotations

import json
import re
import uuid

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F
from pyspark.sql.types import StructType

from hrdp_variant_load_pipeline_spark.runtime import local_frame, shuffle_partitions

_VERSION_RE = re.compile(r"^v_(\d{8})$")
COMMIT_MARKER = "_COMMITTED"
#: committed versions kept besides the current one (in-flight readers of
#: the previous version must not have their files deleted mid-scan)
KEEP_PREVIOUS = 1


def _fs(spark: SparkSession, p: str):
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(p)
    return jpath.getFileSystem(spark._jsc.hadoopConfiguration()), jvm


def _jpath(jvm, p: str):
    return jvm.org.apache.hadoop.fs.Path(p)


def write_small_file(
    spark: SparkSession, path: str, data: bytes, overwrite: bool = True
) -> None:
    """Write a small driver-side file (marker/manifest JSON) through the
    Hadoop FS API, so it lands on whatever filesystem the data does
    (HDFS/S3/local). The bytes go to a hidden (dot-prefixed) temporary
    file beside ``path`` and become visible with ONE rename, so a crash
    leaves either no file at ``path`` or the whole one, never an empty
    or partial file. With ``overwrite=False`` that rename is the atomic
    commit primitive: it FAILS if the path exists. The rename goes
    through ``FileContext``, whose rename replaces an existing target
    only when asked to (``FileSystem.rename`` on a local path would
    replace it silently)."""
    fs, jvm = _fs(spark, path)
    target = fs.makeQualified(_jpath(jvm, path))
    tmp = _jpath(
        jvm, f"{target.getParent()}/.{target.getName()}.{uuid.uuid4().hex}"
    )
    out = fs.create(tmp, False)
    try:
        try:
            out.write(bytearray(data))
        finally:
            out.close()
        Rename = jvm.org.apache.hadoop.fs.Options.Rename
        opts = spark.sparkContext._gateway.new_array(Rename, 1 if overwrite else 0)
        if overwrite:
            opts[0] = Rename.OVERWRITE
        jvm.org.apache.hadoop.fs.FileContext.getFileContext(
            fs.getUri(), spark._jsc.hadoopConfiguration()
        ).rename(tmp, target, opts)
    except BaseException:
        fs.delete(tmp, False)
        raise


def _list_names(fs, jvm, root: str) -> list[tuple[str, bool]]:
    """(name, is_dir) for the direct children of ``root`` ([] if absent)."""
    rpath = _jpath(jvm, root)
    if not fs.exists(rpath):
        return []
    return [
        (st.getPath().getName(), st.isDirectory())
        for st in fs.listStatus(rpath)
    ]


def committed_versions(spark: SparkSession, root: str) -> list[int]:
    """Ascending committed version numbers under ``root``."""
    fs, jvm = _fs(spark, root)
    out = []
    for name, is_dir in _list_names(fs, jvm, root.rstrip("/")):
        m = _VERSION_RE.match(name)
        if is_dir and m and fs.exists(
            _jpath(jvm, f"{root.rstrip('/')}/{name}/{COMMIT_MARKER}")
        ):
            out.append(int(m.group(1)))
    return sorted(out)


def resolve_store(spark: SparkSession, root: str) -> str | None:
    """Path a reader should scan: the highest committed version dir, else
    the root itself when it holds a legacy flat store, else None."""
    base = root.rstrip("/")
    versions = committed_versions(spark, base)
    if versions:
        return f"{base}/v_{versions[-1]:08d}"
    fs, jvm = _fs(spark, base)
    for name, is_dir in _list_names(fs, jvm, base):
        if not is_dir and not name.startswith((".", "_")):
            return base  # legacy flat layout
    return None


def _data_files(fs, jvm, path: str, strict: bool = True) -> list | None:
    """The parquet data files directly under ``path`` (or ``path`` itself
    when it is a file), sorted by path string — the order in which Spark's
    schema inference picks its one footer. Hidden and ``_``-prefixed names
    are skipped, as Spark's file listing skips them. ``strict``: None when
    the listing also holds a summary file or a subdirectory, whose content
    a Spark read of ``path`` takes in but these files do not show."""
    p = _jpath(jvm, path)
    if not fs.exists(p):
        return []
    files = []
    for st in fs.listStatus(p):
        name = st.getPath().getName()
        if strict and name in ("_metadata", "_common_metadata"):
            return None
        if name.startswith((".", "_")):
            continue
        if st.isDirectory():
            if strict:
                return None
            continue
        files.append(st)
    return sorted(files, key=lambda st: st.getPath().toString())


def _footers(spark: SparkSession, files: list):
    """Yield the parquet footer (``ParquetMetadata``) of each file status,
    read on the driver through Hadoop: works on any Hadoop filesystem, runs
    no job. The reader is the one Spark's parquet scans use; it reads only
    the footer (``ParquetFileReader.open`` also sets up a row-group reader
    and took ~10x longer per file). Each JVM call is a gateway round trip,
    so the classes are looked up once, not per file."""
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    read_footer = (
        jvm.org.apache.spark.sql.execution.datasources.parquet.ParquetFooterReader.readFooter
    )
    input_file = jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus
    no_filter = jvm.org.apache.parquet.format.converter.ParquetMetadataConverter.NO_FILTER
    for st in files:
        yield read_footer(input_file(st, conf), no_filter)


def _blocks(footer) -> list:
    """The row groups of a footer. Indexed reads: iterating a JVM list from
    Python costs several gateway round trips per element."""
    blocks = footer.getBlocks()
    return [blocks.get(i) for i in range(blocks.size())]


def footer_schema(spark: SparkSession, path: str) -> StructType | None:
    """The schema ``spark.read.parquet(path)`` infers, from the footer of
    the same first data file its inference reads, without the one-task job
    that inference runs. Together with ``read_parquet`` this is the
    package's one way to learn a parquet path's schema.

    None when the footer cannot speak for the read, so the caller falls
    back to Spark's inference: no data file (an absent path or a glob),
    summary files or subdirectories in the directory (partition columns
    live in directory names), or ``spark.sql.parquet.mergeSchema`` on
    (inference then merges every footer)."""
    if spark.conf.get("spark.sql.parquet.mergeSchema", "false").lower() == "true":
        return None
    fs, jvm = _fs(spark, path)
    files = _data_files(fs, jvm, path)
    if not files:
        return None
    parquet = jvm.org.apache.spark.sql.execution.datasources.parquet
    converter = parquet.ParquetToSparkSchemaConverter(
        spark._jsparkSession.sessionState().conf()
    )
    footer = jvm.org.apache.parquet.hadoop.Footer(
        files[0].getPath(), next(_footers(spark, files[:1]))
    )
    # Spark's own reader: the schema Spark wrote into the footer's
    # key-value metadata when present, else the converted parquet schema
    # (the converter takes the session's conf: nanos-as-long, NTZ
    # inference); a file relation reads every field as nullable
    jschema = parquet.ParquetFileFormat.readSchemaFromFooter(footer, converter)
    return StructType.fromJson(json.loads(jschema.asNullable().json()))


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """The package's one parquet reader: ``spark.read.parquet(path)`` with
    the schema taken from the footer (``footer_schema``) instead of
    inferred by a Spark job; the frame is the same. Where ``footer_schema``
    returns None the reader infers, as a plain ``spark.read.parquet``
    does, and pays its job. ``tests/test_parquet_reader.py`` fails on a
    parquet read elsewhere in the package that is not given a schema."""
    reader = spark.read
    if (schema := footer_schema(spark, path)) is not None:
        reader = reader.schema(schema)
    return reader.parquet(path)


def footer_max(spark: SparkSession, root: str, column: str) -> tuple[bool, object]:
    """Max of top-level numeric ``column`` in the current version of the
    store at ``root``, from the column-chunk statistics of its parquet
    footers (no job). Returns ``(True, max)`` — max None when the store is
    absent or the column holds no value — or ``(False, None)`` when a chunk
    carries no statistics and only an aggregate can tell."""
    target = resolve_store(spark, root)
    if target is None:
        return True, None
    fs, jvm = _fs(spark, target)
    files = _data_files(fs, jvm, target)
    if files is None:
        return False, None
    best, at = None, 0
    for footer in _footers(spark, files):
        for block in _blocks(footer):
            if block.getRowCount() == 0:
                continue
            chunks = block.getColumns()
            # the chunk's position is the same in every file of one schema:
            # check the last one before searching
            if at >= chunks.size() or chunks.get(at).getPath().toDotString() != column:
                names = [chunks.get(i).getPath().toDotString() for i in range(chunks.size())]
                if column not in names:
                    return False, None
                at = names.index(column)
            stats = chunks.get(at).getStatistics()
            if stats.isEmpty():
                return False, None
            if stats.hasNonNullValue():
                v = stats.genericGetMax()
                best = v if best is None else max(best, v)
    return True, best


def read_store(spark: SparkSession, root: str, schema=None) -> DataFrame:
    """Read the current committed store. Empty frame with ``schema`` when
    the store does not exist yet: a driver-local one
    (``runtime.local_frame``), which Catalyst knows is empty, so the joins
    a load makes against it plan away.

    The reader gets the schema of the version's first data file from its
    footer (``read_parquet``), the file Spark's inference would read, so
    the frame is the one ``spark.read.parquet`` returns without the
    inference job. One footer speaks for every file: ``append_to_store``
    refuses a batch whose schema differs from the store's."""
    target = resolve_store(spark, root)
    if target is None:
        if schema is None:
            raise FileNotFoundError(f"no committed store under {root}")
        return local_frame(spark, [], schema)
    return read_parquet(spark, target)


def _verify_write(fs, jvm, tmp: str, spark: SparkSession) -> None:
    """A written version must hold data files; the _SUCCESS marker is
    checked only when the job committer is configured to write one (a
    deployment may disable markers — ADVICE r5)."""
    names = [n for n, d in _list_names(fs, jvm, tmp) if not d]
    if not any(not n.startswith((".", "_")) for n in names):
        raise RuntimeError(f"store commit aborted: no data files in {tmp}")
    marks = spark._jsc.hadoopConfiguration().get(
        "mapreduce.fileoutputcommitter.marksuccessfuljobs", "true"
    )
    if marks.lower() == "true" and "_SUCCESS" not in names:
        raise RuntimeError(f"store commit aborted: no _SUCCESS in {tmp}")


def commit_store_version(df: DataFrame, root: str) -> str:
    """Write ``df`` as the next version of the store at ``root`` and make
    it visible with one atomic marker create. Returns the version path.

    Sequence (readers resolve the PREVIOUS committed version through all
    of it): stage to ``.v_N.writing`` (dot prefix: invisible to Hadoop
    globs and Spark listings) → verify data files → rename to ``v_N``
    (uncommitted: still invisible to readers, which require the marker) →
    create ``_COMMITTED`` → prune stale temps, superseded versions beyond
    ``KEEP_PREVIOUS``, and any legacy flat files.
    """
    spark = df.sparkSession
    base = root.rstrip("/")
    fs, jvm = _fs(spark, base)

    versions = committed_versions(spark, base)
    legacy_files = [
        name
        for name, is_dir in _list_names(fs, jvm, base)
        if not is_dir and not name.startswith((".", "_"))
    ]
    # next number must also clear any UNcommitted v_ dirs from crashed runs
    taken = [
        int(m.group(1))
        for name, is_dir in _list_names(fs, jvm, base)
        if is_dir and (m := _VERSION_RE.match(name))
    ]
    n = max(taken, default=0) + 1
    final = f"{base}/v_{n:08d}"
    tmp = f"{base}/.v_{n:08d}.writing"

    fs.delete(_jpath(jvm, tmp), True)  # stale temp from a crashed writer
    df.write.mode("overwrite").parquet(tmp)
    _verify_write(fs, jvm, tmp, spark)
    if not fs.rename(_jpath(jvm, tmp), _jpath(jvm, final)):
        raise RuntimeError(f"could not move staged store {tmp} to {final}")
    # re-verify AT the final path before committing: if a concurrent
    # writer raced to the same number, Hadoop rename moves the temp
    # INSIDE the existing dir instead of failing — data files would then
    # sit one level down and the marker would commit someone else's mix.
    # The reference is single-writer per batch (one cron run); this turns
    # an undetected race into a loud abort.
    _verify_write(fs, jvm, final, spark)
    # THE commit: one atomic create (fails if the marker already exists).
    # Crash before this line -> readers keep the previous version; after
    # it -> they see the new one.
    fs.create(_jpath(jvm, f"{final}/{COMMIT_MARKER}"), False).close()

    # post-commit housekeeping (failures here never affect visibility)
    for name, is_dir in _list_names(fs, jvm, base):
        if is_dir and name.startswith(".v_") and name.endswith(".writing"):
            fs.delete(_jpath(jvm, f"{base}/{name}"), True)
    for v in versions[: max(0, len(versions) - KEEP_PREVIOUS)]:
        fs.delete(_jpath(jvm, f"{base}/v_{v:08d}"), True)
    for name in legacy_files:  # flat store superseded by this version
        fs.delete(_jpath(jvm, f"{base}/{name}"), False)
    return final


def compact_store(
    spark: SparkSession, root: str, sort_by: list[str] | None = None
) -> str | None:
    """Rewrite the current store version into fewer, larger files —
    optionally clustered on ``sort_by`` for data-skipping scans.

    ``append_to_store`` adds a file set per batch (the reference appends a
    batch per cron run, ``DAO.java:68-119``); at ingest frequency that
    accretes the classic small-files problem — scan tasks, open() calls,
    and file-listing latency all scale with file COUNT, not bytes, and at
    100 TB an uncompacted store can dwarf its own data cost. Compaction is
    just a version commit whose content is the store itself, coalesced:
    readers keep resolving the old version until the marker lands, so it
    is safe to run concurrently with readers at any time.

    ``sort_by`` (e.g. ``["chromosome", "start_pos"]``) range-partitions
    and sorts the rewrite on those keys, so every file — and every parquet
    row group inside it — covers a narrow key range. Point and interval
    probes (the genic-QC re-stage scope, ``VariantDAO``'s per-gene-range
    reads) then skip whole files/row groups via parquet min/max footer
    stats instead of scanning the store: at 100 TB that is the difference
    between touching a few hundred MB and the full store. Costs one
    shuffle of the store (range exchange), which is the point of a
    clustering rewrite; plain coalesce stays the no-shuffle default.

    The rewrite has the session's shuffle parallelism in files
    (``runtime.shuffle_partitions``). Returns the new version path, or
    None when the store does not exist.
    """
    target = resolve_store(spark, root)
    if target is None:
        return None
    n = shuffle_partitions(spark)
    df = read_parquet(spark, target)
    if sort_by:
        df = df.repartitionByRange(n, *sort_by).sortWithinPartitions(*sort_by)
    else:
        # coalesce, not repartition: file-count reduction needs no shuffle
        df = df.coalesce(n)
    return commit_store_version(df, root)


def append_to_store(
    df: DataFrame,
    root: str,
    cluster_by: list[str] | None = None,
) -> int:
    """Append rows to the CURRENT store location (version dir when the
    store is versioned, the root for legacy/new flat stores) and return
    the number of rows appended. Appends are file-granular, NOT atomic:
    the staged files become visible one rename at a time (module
    docstring); use ``commit_store_version`` when all-or-nothing
    visibility is required.

    The batch is written to a staging directory ``<target>/.append-<uuid>``
    (dot prefix: hidden from Spark and Hadoop listings), its data files are
    renamed into ``<target>``, and the staging directory is deleted, also
    when the write fails, so a failed Spark write adds no file. Staging
    keeps the append invisible to plans built before it (module
    docstring): the caller's frames that read this store, cached or not,
    still see the store as it was.

    The row count is observed on the write itself (``DataFrame.observe``),
    so it costs no extra job: a caller that reports how much it loaded
    never re-executes the appended plan to count it.

    ``cluster_by`` enforces KEY-RANGE CLUSTERING on the appended file
    set: the batch is range-repartitioned then sorted within partitions
    on the keys, so each written file covers a narrow, disjoint key
    range and its parquet footer min/max actually prunes. This is the
    contract the persisted indexes' probes rely on
    (``operators/ann_store.py`` and ``operators/text_index.py``: an IN
    filter over probed keys skips files whose stats cannot hold one) —
    without it a multi-partition batch hash-scatters keys so every file
    spans the whole batch range and no file is ever skipped. Cost: one
    batch-sized range shuffle. The range shuffle takes the session's
    shuffle parallelism and AQE right-sizes it per batch. Deliberately
    NOT derived from ``df.rdd.getNumPartitions()``:
    under AQE, touching ``.rdd`` finalizes the plan by RUNNING its
    shuffle map stages, so a derived batch (e.g. an index's
    bucket-assigned rows) would execute twice per append.

    Appending a DIFFERENT schema into an existing location is refused:
    Spark's default parquet read infers from one footer, so a drifted
    append would silently drop (or null out) columns depending on which
    file gets sampled — the database behavior the reference relies on is
    a loud ALTER-or-fail: widen a store by committing a new version of
    it."""
    spark = df.sparkSession
    if cluster_by:
        df = df.repartitionByRange(*cluster_by).sortWithinPartitions(*cluster_by)
    target = resolve_store(spark, root) or root.rstrip("/")
    fs, jvm = _fs(spark, target)
    existing = footer_schema(spark, target)
    if existing is not None and {
        (f.name, f.dataType) for f in existing.fields
    } != {(f.name, f.dataType) for f in df.schema.fields}:
        raise ValueError(
            f"append schema drift at {target}: store has "
            f"{existing.simpleString()}, append has "
            f"{df.schema.simpleString()}"
        )
    # observed here, ABOVE cluster_by's range exchange: the exchange's
    # sampling job runs the plan below it, and an observation placed there
    # would count the sampled rows too. Unnamed, so each call's metric name
    # is unique even when one append's plan reads another's output.
    obs = Observation()
    # no reader's root path starts with the staging path, so Spark's
    # post-write re-cache touches no plan built before this append
    staging = f"{target}/.append-{uuid.uuid4().hex}"
    try:
        df.observe(obs, F.count(F.lit(1)).alias("rows")).write.parquet(staging)
        for name, is_dir in _list_names(fs, jvm, staging):
            if is_dir or name.startswith((".", "_")):
                continue
            src, dst = f"{staging}/{name}", f"{target}/{name}"
            if not fs.rename(_jpath(jvm, src), _jpath(jvm, dst)):
                raise RuntimeError(f"could not move staged file {src} to {dst}")
    finally:
        fs.delete(_jpath(jvm, staging), True)
    return obs.get["rows"]


def describe_store(spark: SparkSession, root: str) -> dict:
    """Operational introspection without scanning data: retained versions,
    current version's file count / bytes / row count — all from listings
    and parquet footers (the same metadata the planner's pruning reads).

    The row count sums footer row-group counts (``spark.read`` +
    ``count()`` would schedule a job over every file; footers are one
    metadata read each). At real file counts this is still O(files) —
    the same cost as planning one scan of the store.
    """
    base = root.rstrip("/")
    versions = committed_versions(spark, base)
    target = resolve_store(spark, base)
    out: dict = {
        "root": base,
        "versions_retained": versions,
        "current": target,
        "layout": "versioned" if versions else ("flat" if target else "absent"),
    }
    if target is None:
        return out
    fs, jvm = _fs(spark, target)
    files = _data_files(fs, jvm, target, strict=False)
    n_rows = sum(
        block.getRowCount() for footer in _footers(spark, files) for block in _blocks(footer)
    )
    out.update(
        n_files=len(files),
        n_bytes=int(sum(st.getLen() for st in files)),
        n_rows=int(n_rows),
    )
    return out
