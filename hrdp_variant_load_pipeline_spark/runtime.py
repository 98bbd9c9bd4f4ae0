"""The engine's one touch point with Spark's storage runtime: snapshot and
release a frame, estimate its size, read the shuffle-partition count, build
a driver-local frame.
Every checkpoint and release in the package goes through here (plain
``.persist()`` stays as Spark's own idiom); ``tests/test_runtime.py``
fails on a raw ``localCheckpoint``/``checkpoint``/``unpersist`` call
anywhere else.

Registry protocol. An operator that leaves storage pinned past its return
(a persisted frame, an eager or lazy snapshot) takes an optional
``cache_registry: list`` and appends the pinned FRAME to it; plans hand the
list back as ``LoadResult.cached`` / ``CorpusResult.cached``, and the owner
calls :func:`release` on every entry once its outputs are materialized.
Each frame releases only the storage it owns — never found by diffing the
JVM's persistent-RDD registry, so a concurrent persist from other code is
never mistaken for ours. Iterative operators do the same per round:
snapshot the new state, release the superseded one.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType, _parse_datatype_string

#: estimates at or above this are Catalyst's stat-less Long.MaxValue
#: default, not measurements
_NO_STATS_BYTES = 1 << 60


def resolve_reliable(df: DataFrame, reliable: bool | None) -> bool:
    """None means "reliable iff the session has a checkpoint dir"
    (``sc.setCheckpointDir``): a deployment with durable checkpoint
    storage gets fault-tolerant snapshots without touching call sites, a
    bare local session keeps executor-local blocks. True/False wins."""
    if reliable is not None:
        return bool(reliable)
    return df.sparkSession.sparkContext.getCheckpointDir() is not None


def snapshot(
    df: DataFrame, *, eager: bool = True, reliable: bool | None = None
) -> DataFrame:
    """Checkpoint ``df`` to cut its lineage and return the checkpointed
    frame. Local (``reliable`` False): executor-local blocks, fast, but a
    lost executor kills the job instead of recomputing. Reliable: files in
    the checkpoint dir, which survive executor loss (kept until job end
    unless ``spark.cleaner.referenceTracking.cleanCheckpoints=true``).
    ``eager=False`` materializes inside the first consuming action."""
    if resolve_reliable(df, reliable):
        return df.checkpoint(eager=eager)
    return df.localCheckpoint(eager=eager)


def release(*dfs: DataFrame | None) -> None:
    """Free the storage behind persisted or snapshot frames (None entries
    skipped; idempotent). ``Dataset.unpersist`` reaches only the SQL cache;
    a snapshot's blocks belong to the RDD of its own ``LogicalRDD`` leaf.
    A frame DERIVED from a snapshot owns nothing: release the snapshot."""
    for df in dfs:
        if df is None:
            continue
        df.unpersist()
        plan = df._jdf.queryExecution().analyzed()
        if plan.getClass().getSimpleName() == "LogicalRDD":
            plan.rdd().unpersist(False)


def estimated_bytes(df: DataFrame) -> int | None:
    """Catalyst's logical size estimate in bytes (metadata only, no job),
    or None when the accessor fails or the plan has no statistics (e.g.
    RDD-backed frames; file-backed frames carry real file sizes)."""
    try:
        est = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:  # noqa: BLE001 — estimate only; callers fall back
        return None
    return None if est >= _NO_STATS_BYTES else est


def local_frame(spark: SparkSession, rows, schema: StructType | str) -> DataFrame:
    """A frame of driver-built ``rows`` (tuples in ``schema`` order) planned
    as a ``LocalRelation``, through a pyarrow Table.

    ``createDataFrame(list)`` plans a ``LogicalRDD`` whose size estimate is
    ``Long.MaxValue``: joins against it cannot be planned by size, an empty
    one is not recognised as empty, and collecting it runs a job. A
    ``LocalRelation`` carries its real size, an empty one is removed with
    the joins over it (``PropagateEmptyRelation``), and ``collect()`` reads
    it on the driver without a job. Broadcasting it still costs a job:
    Spark 4.1 builds every broadcast relation in a job of its own, whatever
    the source (measured: 2 jobs per action for a Python list, an Arrow or
    pandas frame, ``VALUES`` and ``inline`` alike)."""
    if isinstance(schema, str):
        schema = _parse_datatype_string(schema)
    table = pa.Table.from_pylist(
        [dict(zip(schema.names, r)) for r in rows], schema=to_arrow_schema(schema)
    )
    return spark.createDataFrame(table, schema)


def shuffle_partitions(spark: SparkSession) -> int:
    """``spark.sql.shuffle.partitions`` (at least 1), or the default
    parallelism when the value is not a number (some platforms accept
    ``auto``)."""
    sp = str(spark.conf.get("spark.sql.shuffle.partitions")).strip()
    return max(1, int(sp)) if sp.isdigit() else spark.sparkContext.defaultParallelism
