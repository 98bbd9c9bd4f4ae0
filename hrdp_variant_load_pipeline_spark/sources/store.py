"""Versioned parquet stores with a single-operation atomic commit.

The reference commits each batch as ONE Oracle transaction
(``DAO.java:142-163``): a reader sees the store before the batch or after
it, never in between and never absent. Plain ``overwrite`` parquet cannot
give that (the old files die before the new ones are durable), and the
round-5 write-then-double-rename still had a window between the two
renames where NO store existed at the path.

This module gives the Oracle-transaction visibility guarantee on any
Hadoop filesystem with three primitives that are each atomic on their own
(file create, dir rename) and ZERO multi-step visibility dependencies:

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

import re
import uuid

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

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
    (HDFS/S3/local). With ``overwrite=False`` the create is the atomic
    commit primitive: it FAILS if the path exists."""
    fs, jvm = _fs(spark, path)
    out = fs.create(_jpath(jvm, path), overwrite)
    out.write(bytearray(data))
    out.close()


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


def resolve_store(
    spark: SparkSession, root: str, version: int | None = None
) -> str | None:
    """Path a reader should scan: the highest committed version dir (or
    the specific committed ``version`` — time travel within the retention
    window, ``KEEP_PREVIOUS`` back), else the root itself when it holds a
    legacy flat store, else None."""
    base = root.rstrip("/")
    versions = committed_versions(spark, base)
    if version is not None:
        if version not in versions:
            raise FileNotFoundError(
                f"store version {version} not committed under {root} "
                f"(retained: {versions})"
            )
        return f"{base}/v_{version:08d}"
    if versions:
        return f"{base}/v_{versions[-1]:08d}"
    fs, jvm = _fs(spark, base)
    for name, is_dir in _list_names(fs, jvm, base):
        if not is_dir and not name.startswith((".", "_")):
            return base  # legacy flat layout
    return None


def read_store(
    spark: SparkSession,
    root: str,
    schema=None,
    version: int | None = None,
    merge_schema: bool = False,
) -> DataFrame:
    """Read the current committed store — or a retained earlier one via
    ``version`` (the commit protocol keeps ``KEEP_PREVIOUS`` superseded
    versions, so the previous batch stays queryable: diff a repair against
    what it replaced, audit a load, roll analysis back a step). Empty
    DataFrame (with ``schema``) when the store does not exist yet.

    ``merge_schema=True`` unions schemas across files (columns absent in
    older files read as null) — needed only after an
    ``allow_schema_drift`` append widened the store. Off by default: the
    merge reads EVERY file footer, which at 100 TB file counts is a real
    listing/IO cost the common fixed-schema read should not pay."""
    target = resolve_store(spark, root, version)
    if target is None:
        if schema is None:
            raise FileNotFoundError(f"no committed store under {root}")
        return spark.createDataFrame([], schema)
    reader = spark.read
    if merge_schema:
        reader = reader.option("mergeSchema", "true")
    return reader.parquet(target)


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
    spark: SparkSession,
    root: str,
    target_partitions: int | None = None,
    sort_by: list[str] | None = None,
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

    ``target_partitions`` defaults to the session's shuffle parallelism,
    floored at 1. Returns the new version path, or None when the store
    does not exist.
    """
    target = resolve_store(spark, root)
    if target is None:
        return None
    if target_partitions is None:
        sp = spark.conf.get("spark.sql.shuffle.partitions", "32")
        target_partitions = max(1, int(sp) if sp.isdigit() else 32)
    # always merge schemas: a compaction is the rewrite that re-unifies a
    # drift-widened store (and it reads every file anyway, so the footer
    # cost is already paid) — a sampled-footer read here could silently
    # drop a column added by an allow_schema_drift append
    df = spark.read.option("mergeSchema", "true").parquet(target)
    if sort_by:
        df = df.repartitionByRange(target_partitions, *sort_by).sortWithinPartitions(
            *sort_by
        )
    else:
        # coalesce, not repartition: file-count reduction needs no shuffle
        df = df.coalesce(target_partitions)
    return commit_store_version(df, root)


def append_to_store(
    df: DataFrame,
    root: str,
    allow_schema_drift: bool = False,
    cluster_by: list[str] | None = None,
    cluster_partitions: int | None = None,
) -> int:
    """Append rows to the CURRENT store location (version dir when the
    store is versioned, the root for legacy/new flat stores) and return
    the number of rows appended. Appends are file-granular like the
    reference's batched inserts; use ``commit_store_version`` when
    replace-visibility is required.

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
    contract the incremental-dedup candidate pushdown relies on
    (``operators/dedup.py``: an In/range filter over candidate ids skips
    files whose stats cannot hold one) — without it a multi-partition
    batch hash-scatters ids so every file spans the whole batch range
    and no file is ever skipped. Cost: one batch-sized range shuffle
    (micro-batch appends are bounded by construction).
    ``cluster_partitions`` pins the written file count; left None, the
    range shuffle takes the session default and AQE right-sizes it per
    batch. Deliberately NOT derived from ``df.rdd.getNumPartitions()``:
    under AQE, touching ``.rdd`` finalizes the plan by RUNNING its
    shuffle map stages, so a derived batch (e.g. the ingest's
    shingle/minhash index rows) would execute twice per append.

    Appending a DIFFERENT schema into an existing location is refused:
    Spark's default parquet read infers from one footer, so a drifted
    append would silently drop (or null out) columns depending on which
    file gets sampled — the database behavior the reference relies on is
    a loud ALTER-or-fail. Pass ``allow_schema_drift=True`` for deliberate
    widening, and read with ``read_store(..., merge_schema=True)``."""
    spark = df.sparkSession
    if cluster_by:
        if cluster_partitions:
            df = df.repartitionByRange(cluster_partitions, *cluster_by)
        else:
            df = df.repartitionByRange(*cluster_by)
        df = df.sortWithinPartitions(*cluster_by)
    target = resolve_store(spark, root) or root.rstrip("/")
    fs, jvm = _fs(spark, target)
    if not allow_schema_drift and fs.exists(_jpath(jvm, target)):
        has_data = any(
            not d and not n.startswith((".", "_"))
            for n, d in _list_names(fs, jvm, target)
        )
        if has_data:
            existing = spark.read.parquet(target).schema
            if {(f.name, f.dataType) for f in existing.fields} != {
                (f.name, f.dataType) for f in df.schema.fields
            }:
                raise ValueError(
                    f"append schema drift at {target}: store has "
                    f"{existing.simpleString()}, append has "
                    f"{df.schema.simpleString()}; pass "
                    "allow_schema_drift=True for deliberate widening"
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


def z_order_key(
    df: DataFrame, cols: list[str], bits: int = 12, out_col: str = "z_key"
) -> DataFrame:
    """Append an interleaved-bit Z-order key over ``cols`` — the
    multi-dimension complement to ``compact_store(sort_by=...)``.

    A 1-D sort clusters perfectly on its leading column and not at all on
    the others; sorting by the Z-curve key keeps EVERY listed dimension's
    values locally narrow per file, so footer min/max stats prune
    multi-predicate probes (chromosome AND position range; time AND user)
    on all of them at once. This is the same design as Delta/Iceberg's
    OPTIMIZE ZORDER, reduced to its dependency-free core.

    Each column is min/max-normalized (one tiny driver-side aggregate)
    into ``bits`` uniform buckets, then bit-interleaved row-locally with
    shift/or arithmetic — no shuffle here; the range shuffle happens in
    the compaction that sorts by the key. Uniform bucketing trades the
    quantile pass real table formats do for zero extra jobs; heavily
    skewed columns cluster less evenly but correctness (pruning validity)
    is unaffected. Null values bucket to 0.
    """
    if bits * len(cols) > 63:
        raise ValueError(
            f"bits({bits}) * columns({len(cols)}) exceeds the 63-bit key "
            "budget: Spark's shiftleft wraps shift amounts mod 64, which "
            "would silently scramble the curve — lower bits or split the "
            "column set"
        )
    agg = df.agg(
        *[F.min(F.col(c).cast("double")).alias(f"__lo_{c}") for c in cols],
        *[F.max(F.col(c).cast("double")).alias(f"__hi_{c}") for c in cols],
    ).collect()[0]
    n = len(cols)
    buckets = (1 << bits) - 1
    z = F.lit(0).cast("long")
    for i, c in enumerate(cols):
        lo, hi = agg[f"__lo_{c}"], agg[f"__hi_{c}"]
        span = (hi - lo) if (hi is not None and lo is not None and hi > lo) else 1.0
        v = F.floor(
            (F.coalesce(F.col(c).cast("double"), F.lit(lo or 0.0)) - F.lit(lo or 0.0))
            / F.lit(span)
            * buckets
        ).cast("long")
        v = F.least(F.greatest(v, F.lit(0)), F.lit(buckets))
        for b in range(bits):
            z = z.bitwiseOR(
                F.shiftleft(
                    F.shiftright(v, b).bitwiseAND(F.lit(1)), b * n + i
                )
            )
    return df.withColumn(out_col, z)


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
    files = [
        n
        for n, is_dir in _list_names(fs, jvm, target)
        if not is_dir and not n.startswith((".", "_"))
    ]
    n_bytes = 0
    n_rows = 0
    for n in files:
        st = fs.getFileStatus(_jpath(jvm, f"{target}/{n}"))
        n_bytes += st.getLen()
    try:
        import pyarrow.parquet as pq

        local = target
        for n in files:
            p = f"{local}/{n}"
            if p.startswith("file:"):
                p = p.removeprefix("file:")
            n_rows += pq.ParquetFile(p).metadata.num_rows
    except Exception:  # noqa: BLE001 — non-local fs: row count unavailable
        n_rows = -1
    out.update(n_files=len(files), n_bytes=int(n_bytes), n_rows=int(n_rows))
    return out
