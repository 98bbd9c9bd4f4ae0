"""Sinks (SURVEY.md §2.1 S7-S9, §2.11).

The reference writes four Oracle tables through hand-rolled batched JDBC
(10 000-row insert batches, ``DAO.java:68-119``; 5 000-row update batches,
``DAO.java:142-163``). The engine's native stores are the versioned
parquet stores of ``sources/store.py``; its QC updates rewrite a store
version (``operators.upsert.merge_update``). The JDBC sink batches inserts
only, with the reference's insert batch size: ``write_jdbc`` inserts rows
(appends by default) and has no update path.

``variant`` + ``variant_map_data`` are materialized from the engine's
unified variant DataFrame only at the sink boundary — they are 1:1 on
RGD_ID in the reference schema (``DAO.java:93-119``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

#: reference insert batch size (DAO.java:75,98,112)
JDBC_INSERT_BATCH = 10_000


def split_variant_sinks(variants: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Unified variant rows → (variant, variant_map_data) reference tables.

    Column sets per the INSERT statements at DAO.java:93-106 / 107-119.
    """
    variant = variants.select(
        "rgd_id", "ref_nuc", "variant_type", "var_nuc", "rs_id", "clinvar_id",
        "species_type_key",
    )
    variant_map_data = variants.select(
        "rgd_id", "chromosome", "start_pos", "end_pos", "padding_base",
        "genic_status", "map_key",
    )
    return variant, variant_map_data


def rgd_ids_registry(variants: DataFrame) -> DataFrame:
    """Surrogate-key registry rows (rgd_ids table, object_key=6 variants,
    status ACTIVE — rgdcore:RGDManagementDAO.createRgdId semantics)."""
    return variants.select(
        "rgd_id",
        F.lit(6).alias("object_key"),
        F.lit("ACTIVE").alias("object_status"),
        "species_type_key",
    )


def write_jdbc(
    df: DataFrame,
    url: str,
    table: str,
    mode: str = "append",
    batchsize: int = JDBC_INSERT_BATCH,
    **options: str,
) -> None:
    """Batched JDBC append — Spark's executor-parallel equivalent of the
    reference's BatchSqlUpdate flushes (DAO.java:68-119): every partition
    writes concurrently with ``batchsize``-row batches instead of one
    driver-side connection."""
    (
        df.write.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("batchsize", str(batchsize))
        .options(**options)
        .mode(mode)
        .save()
    )


def write_bucketed_store(
    df: DataFrame,
    table_name: str,
    bucket_cols: tuple[str, ...] = ("chromosome", "start_pos"),
    num_buckets: int = 32,
    sort_cols: tuple[str, ...] | None = None,
    mode: str = "overwrite",
) -> None:
    """Bucketed, optionally sorted, catalog-managed parquet store.

    The co-location path for the hot store-probe joins (variant dedup on
    every load, genic-QC scope probes): a table bucketed on its join keys
    is read pre-partitioned, so a join against it needs NO exchange (and
    with ``sort_cols`` no sort) on the store side — at 146-strain /
    100 TB scale the store is orders of magnitude larger than any
    incoming batch, so that is the shuffle worth deleting. Bucketing
    requires ``saveAsTable`` (the bucket spec lives in the catalog, plain
    ``.parquet(path)`` writes cannot carry it).
    """
    w = df.write.format("parquet").mode(mode).bucketBy(num_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.saveAsTable(table_name)


def read_bucketed_store(spark, table_name: str) -> DataFrame:
    """Read back a ``write_bucketed_store`` table with its bucket spec
    intact (the catalog carries it; reads report the bucketing to the
    planner so joins/aggregations on the bucket keys skip the exchange)."""
    return spark.table(table_name)
