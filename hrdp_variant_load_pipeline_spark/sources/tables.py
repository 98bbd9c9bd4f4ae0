"""Parquet table catalog for the driver's synthetic star schema.

Columnar parquet scans give predicate pushdown + column pruning for free
(check with ``df.explain('formatted')`` → PushedFilters / ReadSchema).
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def normalize_ts(df: DataFrame, col: str = "ts") -> DataFrame:
    """Normalize an event-time column to session-zoned ``timestamp``.

    The driver regenerates testdata between rounds and the parquet physical
    type of ``events.ts`` has varied: TIMESTAMP(NANOS) (readable only as
    ``bigint`` under ``spark.sql.legacy.parquet.nanosAsLong``) and
    ``timestamp[us]`` (read as ``timestamp_ntz``). Both are UTC-naive wall
    times, and the session time zone is pinned UTC, so both normalizations
    are value-preserving vs the UTC-naive DuckDB oracle. Works on batch and
    streaming DataFrames alike.
    """
    from pyspark.sql import functions as F

    for field in df.schema.fields:
        if field.name != col:
            continue
        t = field.dataType.simpleString()
        if t == "bigint":
            # integer div: double division would lose precision on ns values
            df = df.withColumn(col, F.timestamp_micros(F.expr(f"{col} div 1000")))
        elif t == "timestamp_ntz":
            # session TZ pinned UTC → cast relabels the same wall-clock value
            df = df.withColumn(col, F.col(col).cast("timestamp"))
    return df


# (appId, sf_dir, name) -> DataFrame. A DataFrame is an immutable lazy
# plan, so handing the same one to every caller is safe — and skips the
# file listing + parquet footer read that spark.read.parquet pays on every
# call (~0.1 s per query on sub-second analytics jobs; at cluster scale the
# same reuse keeps the driver from re-listing object-store prefixes per
# query). Keyed by applicationId so a stopped/recreated session never
# serves plans bound to a dead SparkContext.
_TABLE_CACHE: dict[tuple[str, str, str], DataFrame] = {}


def invalidate_tables(sf_dir: str | None = None) -> None:
    """Drop cached table plans (for ``sf_dir``, or all). A cached DataFrame
    pins its file listing at creation — REQUIRED after rewriting parquet
    under a cached dir within the same application (e.g. re-staging bench
    data), or later reads serve the stale listing (FileNotFoundException,
    or silently reading the old files)."""
    if sf_dir is None:
        _TABLE_CACHE.clear()
        return
    key_dir = sf_dir.rstrip("/")
    for k in [k for k in _TABLE_CACHE if k[1] == key_dir]:
        del _TABLE_CACHE[k]


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # set defensively for sessions not built by get_spark (driver-owned):
    # timestamps must render UTC to match the UTC-naive DuckDB oracle
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    key = (spark.sparkContext.applicationId, sf_dir.rstrip("/"), name)
    cached = _TABLE_CACHE.get(key)
    if cached is not None:
        return cached
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events":
        df = normalize_ts(df)
    _TABLE_CACHE[key] = df
    return df


def register_catalog_namespaces(
    spark: SparkSession, namespaces: dict[str, dict[str, str]]
) -> None:
    """Register parquet stores as external tables under named catalog
    databases: ``{"rgd": {"genes": path}, "carpenovo": {"variant": path}}``.

    The reference talks to TWO Oracle datasources — the default RGD schema
    for dims and the "CarpeNovo" schema for the variant store
    (``DAO.java:34-36``). In Spark both become catalog databases over the
    same engine, so a deployment keeps its qualified names:
    ``spark.table("carpenovo.variant")`` /
    ``SELECT ... FROM rgd.genes JOIN carpenovo.variant ...``.

    Tables are EXTERNAL (``USING parquet LOCATION``): registration is
    metadata-only, no data copy, and stores written by the load keep
    working through their paths. Safe to call repeatedly (IF NOT EXISTS);
    re-register after replacing a store path.
    """
    for db, tbls in namespaces.items():
        spark.sql(f"CREATE DATABASE IF NOT EXISTS `{db}`")
        for name, path in tbls.items():
            escaped = path.replace("'", "''")
            spark.sql(
                f"CREATE TABLE IF NOT EXISTS `{db}`.`{name}` "
                f"USING parquet LOCATION '{escaped}'"
            )


def _parse_byte_conf(raw: str, default: int) -> int:
    """Parse a Spark byte conf string ('134217728b', '128m', '4MB')."""
    m = re.match(r"^\s*(\d+)\s*([kmgtp]?)i?b?\s*$", raw, re.IGNORECASE)
    if not m:
        return default
    mult = {"": 1, "k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40, "p": 1 << 50}
    return int(m.group(1)) * mult[m.group(2).lower()]


def _estimated_scan_partitions(df: DataFrame) -> int | None:
    """Estimate the file-scan partition count WITHOUT converting the plan
    to an RDD (`df.rdd` forces a full plan-to-RDD translation per call —
    cheap, but measurable on sub-second headline queries).

    Approximates Spark's FilePartition packing arithmetic: each file is
    charged ``size + openCostInBytes`` (Spark's totalBytes), the split
    size is ``min(maxPartitionBytes, max(openCost,
    totalBytes/parallelism))``, and partitions ≈ ceil(total/splitSize).
    Only SCAN-STAGE frames qualify — ``inputFiles()`` returns the leaf
    files of EVERY plan input, so a frame containing a join, aggregate,
    window, or explicit repartition would mis-estimate (e.g. a
    batch ⋈ history anti-join would count the whole history store);
    those plans, non-``file:`` schemes, and non-file sources all return
    None and the caller falls back to the RDD probe.

    Qualification is an ALLOWLIST over a walk of the analyzed logical
    tree: every node must be Project / Filter / SubqueryAlias / View /
    LogicalRelation. Anything else — Join, Aggregate, Window, Sort,
    Limit (collapses to 1 partition at execution), set ops, Generate,
    future operators — fails closed to the exact RDD probe. (The earlier
    substring blocklist over ``analyzed.toString()`` both missed
    unlisted operators AND false-positived on matching column/relation
    names.)
    """
    allowed = {"Project", "Filter", "SubqueryAlias", "View", "LogicalRelation"}
    try:
        stack = [df._jdf.queryExecution().analyzed()]
        while stack:
            node = stack.pop()
            if node.getClass().getSimpleName() not in allowed:
                return None
            children = node.children()
            for i in range(children.size()):
                stack.append(children.apply(i))
    except Exception:
        return None
    try:
        files = df.inputFiles()
    except Exception:
        return None
    if not files:
        return None
    conf = df.sparkSession.conf
    max_pb = _parse_byte_conf(
        conf.get("spark.sql.files.maxPartitionBytes", "128m"), 128 << 20
    )
    open_cost = _parse_byte_conf(
        conf.get("spark.sql.files.openCostInBytes", "4m"), 4 << 20
    )
    sizes = []
    total = 0
    for f in files:
        if not f.startswith("file:"):
            return None
        p = f[len("file:") :]
        while p.startswith("//"):
            p = p[1:]
        try:
            sz = os.path.getsize(p)
        except OSError:
            return None
        sizes.append(sz)
        total += sz + open_cost
    par = max(1, df.sparkSession.sparkContext.defaultParallelism)
    split = min(max_pb, max(open_cost, total // par + 1))
    # mirror FilePartition.getFilePartitions: cut each file into
    # <=split-sized pieces, then greedily pack pieces (desc) into bins,
    # charging openCost per piece and closing a bin when the next piece
    # alone would overflow it
    pieces = []
    for sz in sizes:
        while sz > split:
            pieces.append(split)
            sz -= split
        pieces.append(sz)
    pieces.sort(reverse=True)
    bins = 0
    cur = split + 1  # forces the first piece to open a bin
    for sz in pieces:
        if cur + sz > split:
            bins += 1
            cur = 0
        cur += sz + open_cost
    return max(1, bins)


def spread_for_cpu(df: DataFrame, parts: int | None = None) -> DataFrame:
    """Repartition a SMALL scan before CPU-heavy row-local work.

    The driver testdata is one row group per file, so a scan stage — and
    every narrow projection fused into it — runs as ONE task no matter
    how many cores exist; for string-/vector-heavy expressions (quality
    scoring, tokenization, dot products) that single thread IS the query
    latency. One cheap exchange of the raw rows buys parts-way
    parallelism for all downstream per-row CPU.

    No-op when the plan already has >= parts partitions, so at warehouse
    scale (thousands of input splits) this never inserts a shuffle — it
    only repairs the tiny-file/single-split pathology. The partition
    count comes from the scan's file statistics (no plan-to-RDD
    conversion on the headline path); non-file frames fall back to the
    RDD probe. Default parts is cores/4 (capped spread: per-task
    dispatch overhead beats the win on a local master when the per-task
    slice drops under ~1 MB).
    """
    spark = df.sparkSession
    if parts is None:
        parts = max(4, spark.sparkContext.defaultParallelism // 4)
    current = _estimated_scan_partitions(df)
    if current is None:
        current = df.rdd.getNumPartitions()
    if current >= parts:
        return df
    return df.repartition(parts)
