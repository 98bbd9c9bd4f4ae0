"""SparkSession factory tuned for this engine.

Local testing runs on local[N]; the config profile is written for a real
multi-executor cluster (AQE, skew handling, Arrow) and degrades gracefully
to local mode. Shuffle partitioning is sized by env for the bench harness.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _cpus() -> tuple[str, int]:
    """``SPARK_GRAFT_CPUS`` as the local master's core spec and as the
    shuffle-partition count (32 when it is not a number)."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    return cpus, int(cpus) if cpus.isdigit() else 32


def get_spark(
    app_name: str = "hrdp_variant_load_pipeline_spark",
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    At 100 TB scale the same settings apply — AQE coalesces / splits shuffle
    partitions at runtime, skew-join handles hot keys, and shuffle
    partitions start near total-cores. Only ``spark.driver.memory`` is a
    local-mode-only knob. ``extra_conf`` entries are applied LAST, so a
    caller can override any default (the shuffle-audit tool re-enables
    the UI this way to read per-stage exchange metrics).
    """
    cpus, shuffle_partitions = _cpus()
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", "128m")
        # testdata events.parquet carries TIMESTAMP(NANOS); Spark 4 reads
        # nanos only as long with this flag (sources/tables.py converts back)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


#: local/cluster boundary. Round-8 re-measurement with FULL-shape JIT
#: warmup revised both earlier crossovers: AQE-off/half-cores beats
#: AQE-on/cores at sf1 (q1 0.47→0.19, q3 1.09→0.64, q5 1.16→0.79,
#: join_semi 0.84→0.60, asof 0.56→0.32) AND beats the old 4 MiB-target
#: few-partition profile at sf0.1 on every row measured — including
#: 2 MB events inputs (tumbling 0.161→0.140, insert 0.60→0.48,
#: agg_distinct 0.66→0.53, minhash 1.03→0.81). The r5 "tiny inputs want
#: ~4 partitions" result was confounded with cold-JIT first executions;
#: warmed, more parallelism wins at every local size. The AQE cluster
#: profile starts where runtime re-planning amortizes (multi-GiB, many
#: stages of many tasks each — the regime a real cluster runs in).
MEDIUM_INPUT_BYTES = 1024**3


def _apply_profile(spark: SparkSession, size: int) -> dict[str, str]:
    """Set the runtime profile for an input byte count on the session and
    return it (see ``tune_for_input`` for the measured rationale)."""
    default_sp = _cpus()[1]
    small = size < MEDIUM_INPUT_BYTES
    conf = {
        "spark.sql.adaptive.enabled": "false" if small else "true",
        "spark.sql.shuffle.partitions": str(
            max(8, default_sp // 2) if small else default_sp
        ),
    }
    for k, v in conf.items():
        spark.conf.set(k, v)
    return conf


def _dir_bytes(path: str, cap: int) -> int:
    """Total file bytes under ``path``, short-circuiting once ``cap`` is
    reached (the profile only needs to know WHICH side of the threshold
    the input is on, not the exact size of a 100 TB tree)."""
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(dirpath, f))
            except OSError:
                continue
            if total >= cap:
                return total
    return total


def tune_for_input(spark: SparkSession, input_dir: str) -> dict[str, str]:
    """Pick the session's runtime profile from the input size.

    Query latency on small inputs is dominated by fixed per-job cost, and
    two defaults tuned for the 100 TB case are the biggest contributors:
    AQE materializes every shuffle stage-by-stage to re-plan (extra
    scheduler round-trips that cannot pay off when the whole input is a
    few hundred MB), and cores-sized shuffle partitioning schedules far
    more tasks than there are bytes. A cost-based engine picks these per
    plan; this is the same decision made once per input dataset:

    * local input (< ``MEDIUM_INPUT_BYTES``): AQE off, half the cores —
      measured best at BOTH sf0.1 and sf1 once every query shape is
      JIT-warm (full-cores over-schedules sub-second shuffles; AQE's
      stage barriers add ~0.1 s each; fewer-than-8 partitions starves
      shuffle-expanding operators);
    * large input: the cluster profile — AQE on (runtime coalescing, skew
      splitting) and cores-sized shuffle partitions — i.e. exactly the
      ``get_spark`` defaults, restored in case a small profile was set
      earlier on the session.

    Both knobs are runtime-settable so the switch is safe mid-session.
    Returns the settings applied (for logging/tests).
    """
    return _apply_profile(spark, _dir_bytes(input_dir, cap=MEDIUM_INPUT_BYTES))


def tune_for_tables(
    spark: SparkSession, input_dir: str, tables: list[str] | None
) -> dict[str, str]:
    """Per-QUERY runtime profile: the same small/large decision as
    ``tune_for_input`` but sized from the tables the query actually
    reads, not the whole dataset directory.

    This is the decision a cost-based engine makes per plan: a 1M-row
    events rollup inside an sf-large dataset is still a small-input
    query, and paying AQE's stage-by-stage re-planning plus cores-sized
    shuffles for it is pure overhead (measured: the events/documents
    rows at the 10x staging run ~1.5-2x faster under the small profile
    while lineitem-scale queries keep the cluster profile). ``None``
    falls back to whole-directory sizing.
    """
    if tables is None:
        return tune_for_input(spark, input_dir)
    size = 0
    for t in tables:
        path = os.path.join(input_dir, f"{t}.parquet")
        if not os.path.exists(path):
            # a renamed query / mistyped table list must not silently sum
            # 0 bytes and pin a LARGE query to the small profile (AQE off,
            # ~4 shuffle partitions — a quiet perf cliff): fall back to
            # whole-directory sizing, which can only err toward the
            # cluster profile
            import warnings

            warnings.warn(
                f"tune_for_tables: {path} not found; falling back to "
                "whole-directory sizing",
                stacklevel=2,
            )
            return tune_for_input(spark, input_dir)
        size += _dir_bytes(path, cap=MEDIUM_INPUT_BYTES)
        if size >= MEDIUM_INPUT_BYTES:
            break
    return _apply_profile(spark, size)
