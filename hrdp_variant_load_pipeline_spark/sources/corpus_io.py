"""Corpus ingest/egress: JSONL document reading with corrupt-line
quarantine, and size-balanced shard export for packed training data.

Web-scale corpora arrive as (gzipped) JSONL; at 100 TB some lines ARE
malformed — truncated uploads, encoding damage, embedded newlines — and
the job must neither die on them (ANSI-style abort) nor silently drop
them (they vanish from accounting). The reader keeps every input line:
good rows parse, bad rows land in a quarantine frame with the raw line
preserved for replay after repair.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, Observation, SparkSession, functions as F

from hrdp_variant_load_pipeline_spark.runtime import shuffle_partitions

#: documents-table JSONL schema (mirrors the parquet testdata contract)
DOC_SCHEMA = "doc_id BIGINT, text STRING, lang STRING"

_CORRUPT = "_corrupt_record"


def read_jsonl_docs(
    spark: SparkSession,
    path: str,
    schema: str = DOC_SCHEMA,
) -> tuple[DataFrame, DataFrame]:
    """Read (gzipped) JSONL documents under ``path``, recursively.

    Returns ``(docs, quarantine)``: ``docs`` carries the schema'd rows;
    ``quarantine`` one ``raw`` string column per unparseable line.

    Parsing is ``from_json`` over a text scan, NOT ``spark.read.json``:
    the JSON reader's internal corrupt column cannot be queried on its
    own (``QUERY_ONLY_CORRUPT_RECORD_COLUMN`` — quarantine counts and
    selects would need the whole frame cached), while ``from_json`` is an
    ordinary expression, so both frames are plain single-pass projections
    of the same line scan. Explicit schema means no inference pass; no
    line ever aborts the job.

    Gzip inputs are unsplittable (one task per file) — corpora should
    arrive as many files; restage to parquet for repeated scans (same
    guidance as the VCF path, ``sources/vcf.py``).
    """
    lines = spark.read.option("recursiveFileLookup", "true").text(path)
    return split_jsonl_lines(lines, schema)


def split_jsonl_lines(
    lines: DataFrame, schema: str = DOC_SCHEMA
) -> tuple[DataFrame, DataFrame]:
    """Split a one-string-column (``value``) line frame into (docs,
    quarantine) — the parsing core of ``read_jsonl_docs``, reusable on a
    streaming micro-batch (``readStream.text`` emits the same shape)."""
    parsed = lines.select(
        F.col("value").alias("raw"),
        F.from_json(
            F.col("value"),
            f"{schema}, {_CORRUPT} STRING",
            {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": _CORRUPT},
        ).alias("d"),
    )
    bad = F.col("d").isNull() | F.col(f"d.{_CORRUPT}").isNotNull()
    docs = parsed.filter(~bad).select("d.*").drop(_CORRUPT)
    quarantine = parsed.filter(bad).select("raw")
    return docs, quarantine


def shuffle_key(col: Column | str, seed: int | str) -> Column:
    """Deterministic global-shuffle key: md5(seed || value), the order a
    training run wants its corpus in (documents/languages interleaved,
    not grouped). Uniform, so range-partitioning on it yields balanced
    shards; a pure function of (seed, id) — the same seed replays the
    same order on any partitioning or engine (ORDER BY md5(...) in SQL).
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.md5(F.concat(F.lit(str(seed)), c.cast("string")))


def write_shards(
    df: DataFrame,
    path: str,
    shard_col: str,
    n_shards: int | None = None,
    order_col: str | None = None,
    manifest: Callable[[int], dict] | None = None,
    format: str = "parquet",
) -> int:
    """Export size-balanced training shards: range-partition on
    ``shard_col`` (e.g. the ``bin_id`` from ``pack_sequences``) so each
    output file holds a contiguous, disjoint shard range, optionally
    sorted by ``order_col`` within files — the layout a data loader
    streams sequentially without a shuffle on its side.

    One shuffle (the range exchange), then a straight parquet write.
    ``n_shards`` defaults to the session's shuffle parallelism. Returns
    the rows written, counted by the write itself (an unnamed
    ``Observation``, as ``sources.store.append_to_store`` counts).

    ``manifest`` (optional) is called with the rows written and returns
    the caller's context (counts, config fingerprint, seed). It is written
    AFTER the data as ``_MANIFEST.json`` alongside the shards, extended
    with the output file listing (name + bytes, from one FS metadata pass
    — no data read): the record a training job pins its data provenance
    to.
    """
    spark = df.sparkSession
    if n_shards is None:
        n_shards = shuffle_partitions(spark)
    # observed ABOVE the range exchange: the exchange's sampling job runs
    # the plan below it, so an observation there would count sampled rows
    obs = Observation()
    out = df.repartitionByRange(n_shards, shard_col).observe(
        obs, F.count(F.lit(1)).alias("rows")
    )
    out = out.sortWithinPartitions(
        shard_col, *( [order_col] if order_col else [] )
    )
    writer = out.write.mode("overwrite")
    if format == "parquet":
        writer.parquet(path)
    elif format == "jsonl":
        # one JSON object per line, gzip per file — the interchange
        # format most training stacks stream natively; within-file order
        # is preserved (sortWithinPartitions above), complex columns
        # (arrays/structs) serialize as JSON values. ignoreNullFields
        # off: a null column must stay a key (parquet-parity — otherwise
        # an all-null column vanishes from the export's schema entirely)
        writer.option("compression", "gzip").option(
            "ignoreNullFields", "false"
        ).json(path)
    else:
        raise ValueError(
            f"write_shards: unknown format {format!r} (parquet | jsonl)"
        )
    rows = obs.get["rows"]
    if manifest is not None:
        import json

        from hrdp_variant_load_pipeline_spark.sources.store import (
            _fs,
            _jpath,
            write_small_file,
        )

        fs, jvm = _fs(spark, path)
        exts = (".parquet",) if format == "parquet" else (".json", ".json.gz")
        files = [
            {"name": st.getPath().getName(), "bytes": st.getLen()}
            for st in fs.listStatus(_jpath(jvm, path))
            if st.getPath().getName().endswith(exts)
        ]
        payload = manifest(rows)
        payload["n_shards"] = n_shards
        payload["shard_col"] = shard_col
        payload["files"] = sorted(files, key=lambda f: f["name"])
        write_small_file(
            spark,
            f"{path.rstrip('/')}/_MANIFEST.json",
            json.dumps(payload, sort_keys=True).encode(),
        )
    return rows


def corpus_report(
    df: DataFrame,
    text_col: str = "text",
    lang_col: str | None = "lang",
    approx: bool = False,
) -> dict:
    """One-pass corpus summary: the numbers a dataset card leads with.

    Everything rides ONE aggregate job (plus one tiny per-language job
    when ``lang_col`` is given): document count, token totals/percentiles,
    duplicate rate (distinct md5 vs rows), and mean quality score.
    Scalars only — nothing corpus-sized reaches the driver.

    ``approx=True`` is the 100 TB shape: exact ``percentile`` buffers
    every group value in executor memory and exact ``count_distinct``
    shuffles one row per distinct hash — swap both for their sketch
    forms (Greenwald-Khanna / HyperLogLog++, ~2% relative error), which
    keep the aggregate state bounded per partition. Exact stays the
    default so small-corpus reports (and the pinned tests) are
    bit-stable.
    """
    from hrdp_variant_load_pipeline_spark.functions.text import (
        quality_score,
        token_count,
    )

    t = F.col(text_col)
    n_tok = F.size(F.split(t, " "))
    if approx:
        pcts = F.percentile_approx(
            n_tok, F.lit([0.5, 0.9, 0.99]), F.lit(10_000)
        )
        n_distinct = F.approx_count_distinct(F.md5(t), rsd=0.02)
    else:
        pcts = F.percentile(n_tok, F.lit([0.5, 0.9, 0.99]))
        n_distinct = F.count_distinct(F.md5(t))
    row = df.agg(
        F.count("*").alias("n_docs"),
        F.sum(token_count(t)).cast("long").alias("total_tokens"),
        pcts.alias("tok_pcts"),
        n_distinct.alias("n_distinct"),
        F.round(F.avg(quality_score(t)), 4).alias("avg_quality"),
    ).collect()[0]
    out = {
        "n_docs": int(row["n_docs"]),
        "total_tokens": int(row["total_tokens"] or 0),
        "tokens_p50": float(row["tok_pcts"][0]) if row["tok_pcts"] else None,
        "tokens_p90": float(row["tok_pcts"][1]) if row["tok_pcts"] else None,
        "tokens_p99": float(row["tok_pcts"][2]) if row["tok_pcts"] else None,
        "exact_dup_rate": (
            round(1.0 - row["n_distinct"] / row["n_docs"], 6)
            if row["n_docs"]
            else 0.0
        ),
        "avg_quality": float(row["avg_quality"] or 0.0),
    }
    if lang_col is not None and lang_col in df.columns:
        out["docs_per_lang"] = {
            r[0]: r[1]
            for r in df.groupBy(lang_col).count().collect()
        }
    return out
