"""Atomic store replacement for the genic-QC repair path.

The reference's QC repair is a transactional batch UPDATE (DAO.java
updateGenicStatus / one Oracle transaction per batch, DAO.java:142-163):
a reader sees the store before the batch or after it — never partial,
never absent. These drills pin that guarantee for the versioned-commit
store (sources/store.py): a crash at EVERY point of the commit sequence
leaves the previous version fully readable, and the commit itself is one
atomic marker create.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from hrdp_variant_load_pipeline_spark.cli import _atomic_replace_store
from hrdp_variant_load_pipeline_spark.sources.store import (
    COMMIT_MARKER,
    append_to_store,
    commit_store_version,
    committed_versions,
    read_store,
    resolve_store,
)


def _mk_flat(spark, path, tag="orig", n=10):
    spark.range(n).withColumn("tag", F.lit(tag)).write.parquet(path)


def test_failed_write_leaves_original_store_readable(spark, tmp_path):
    store = str(tmp_path / "store")
    _mk_flat(spark, store)

    # a frame that fails at EXECUTION time, after the write job starts —
    # the shape of a mid-write executor failure
    poison = spark.range(5).select(
        F.assert_true(F.col("id") < 0).alias("boom"), F.col("id")
    )
    with pytest.raises(Exception):
        _atomic_replace_store(poison, store)

    out = read_store(spark, store)
    assert out.count() == 10
    assert out.filter(F.col("tag") == "orig").count() == 10


def test_successful_swap_replaces_content(spark, tmp_path):
    store = str(tmp_path / "store")
    _mk_flat(spark, store)

    new = spark.range(3).withColumn("tag", F.lit("repaired"))
    _atomic_replace_store(new, store)

    out = read_store(spark, store)
    assert out.count() == 3
    assert out.filter(F.col("tag") == "repaired").count() == 3
    # migration removed the superseded flat files; no stray temp dirs
    kids = set(os.listdir(store))
    assert not any(k.endswith(".writing") for k in kids)
    assert all(k.startswith(("v_", "_", ".")) for k in kids)


def test_first_write_with_no_existing_store(spark, tmp_path):
    store = str(tmp_path / "store")
    _atomic_replace_store(spark.range(4), store)
    assert read_store(spark, store).count() == 4


def test_repeated_commits_prune_old_versions(spark, tmp_path):
    store = str(tmp_path / "store")
    for i in range(4):
        commit_store_version(spark.range(i + 1), store)
    assert read_store(spark, store).count() == 4
    # current + KEEP_PREVIOUS retained, older pruned
    assert committed_versions(spark, store) == [3, 4]


def test_crash_between_stage_and_commit_keeps_old_version_visible(spark, tmp_path):
    """The round-5 double-rename had a window where NO store existed.
    Here the equivalent point — version dir renamed into place, marker
    not yet created — must still resolve to the previous version."""
    store = str(tmp_path / "store")
    commit_store_version(
        spark.range(10).withColumn("tag", F.lit("v1")), store
    )
    # simulate the crash: a fully-written but uncommitted next version
    spark.range(99).withColumn("tag", F.lit("v2")).write.parquet(
        store + "/v_00000002"
    )
    assert not os.path.exists(store + f"/v_00000002/{COMMIT_MARKER}")
    out = read_store(spark, store)
    assert out.count() == 10 and out.filter(F.col("tag") == "v1").count() == 10

    # the next commit must skip past the dead dir, not collide with it
    commit_store_version(spark.range(3).withColumn("tag", F.lit("v3")), store)
    out = read_store(spark, store)
    assert out.count() == 3 and out.filter(F.col("tag") == "v3").count() == 3


def test_crash_mid_migration_keeps_legacy_flat_visible(spark, tmp_path):
    """Migrating a flat store: until the new version's marker exists the
    resolver must keep serving the flat files."""
    store = str(tmp_path / "store")
    _mk_flat(spark, store, tag="legacy")
    # staged-but-uncommitted version (dot temp AND renamed-no-marker forms)
    spark.range(5).write.parquet(store + "/.v_00000001.writing")
    assert resolve_store(spark, store) == store
    spark.range(5).write.parquet(store + "/v_00000001")
    assert resolve_store(spark, store) == store
    assert read_store(spark, store).filter(F.col("tag") == "legacy").count() == 10


def test_stale_temp_dirs_from_prior_crash_are_cleared(spark, tmp_path):
    store = str(tmp_path / "store")
    _mk_flat(spark, store)
    os.makedirs(store + "/.v_00000001.writing")
    _atomic_replace_store(spark.range(2), store)
    assert read_store(spark, store).count() == 2
    assert not any(k.endswith(".writing") for k in os.listdir(store))


def test_append_targets_current_version(spark, tmp_path):
    store = str(tmp_path / "store")
    commit_store_version(spark.range(5), store)
    append_to_store(spark.range(100, 103), store)
    assert read_store(spark, store).count() == 8
    # a later replace supersedes appended rows too
    commit_store_version(spark.range(2), store)
    assert read_store(spark, store).count() == 2


def test_compact_store_reduces_files_and_preserves_rows(spark, tmp_path):
    from hrdp_variant_load_pipeline_spark.sources.store import compact_store

    store = str(tmp_path / "store")
    commit_store_version(spark.range(100).repartition(8), store)
    for i in range(3):  # per-batch appends accrete small files
        append_to_store(spark.range(1000 + i * 10, 1000 + i * 10 + 10).repartition(4), store)
    cur = resolve_store(spark, store)
    n_before = sum(1 for f in os.listdir(cur) if f.startswith("part-"))
    assert n_before >= 20

    new_path = compact_store(spark, store, target_partitions=2)
    assert new_path == resolve_store(spark, store)
    n_after = sum(1 for f in os.listdir(new_path) if f.startswith("part-"))
    assert n_after <= 2
    out = read_store(spark, store)
    assert out.count() == 130
    assert out.agg(F.sum("id")).collect()[0][0] == sum(range(100)) + sum(
        range(1000, 1030)
    )


def test_time_travel_reads_retained_previous_version(spark, tmp_path):
    store = str(tmp_path / "store")
    commit_store_version(spark.range(10).withColumn("tag", F.lit("v1")), store)
    commit_store_version(spark.range(3).withColumn("tag", F.lit("v2")), store)
    assert read_store(spark, store).count() == 3
    old = read_store(spark, store, version=1)
    assert old.count() == 10 and old.filter(F.col("tag") == "v1").count() == 10
    # beyond the retention window (pruned) or never-committed -> loud error
    commit_store_version(spark.range(1), store)  # prunes v1
    with pytest.raises(Exception, match="not committed"):
        read_store(spark, store, version=1)
    with pytest.raises(Exception, match="not committed"):
        read_store(spark, store, version=99)


def test_compact_store_missing_is_noop(spark, tmp_path):
    from hrdp_variant_load_pipeline_spark.sources.store import compact_store

    assert compact_store(spark, str(tmp_path / "absent")) is None


def test_read_store_missing_returns_empty_with_schema(spark, tmp_path):
    from hrdp_variant_load_pipeline_spark import schemas

    out = read_store(spark, str(tmp_path / "absent"), schemas.VARIANT)
    assert out.count() == 0
    assert out.schema == schemas.VARIANT


def test_compact_store_sorted_clusters_files_for_data_skipping(spark, tmp_path):
    """sort_by compaction must leave every data file covering a DISJOINT
    key range (checked from the parquet footer min/max, exactly what scan
    pruning consults) — the property that lets point/range probes skip
    whole files at 100 TB."""
    import pyarrow.parquet as pq

    from hrdp_variant_load_pipeline_spark.sources.store import compact_store

    store = str(tmp_path / "store")
    # appends arrive unclustered: every batch spans the whole key space
    commit_store_version(
        spark.range(4000).selectExpr("id % 97 AS pos", "id AS payload").repartition(8),
        store,
    )
    for lo in (0, 1):
        append_to_store(
            spark.range(lo, 4000, 2).selectExpr("id % 97 AS pos", "id AS payload"),
            store,
        )
    new_path = compact_store(spark, store, target_partitions=4, sort_by=["pos"])
    files = [f for f in os.listdir(new_path) if f.startswith("part-")]
    assert 1 < len(files) <= 4
    ranges = []
    for f in files:
        md = pq.ParquetFile(os.path.join(new_path, f)).metadata
        cols = {md.schema.column(i).name: i for i in range(len(md.schema))}
        stats = [
            md.row_group(g).column(cols["pos"]).statistics
            for g in range(md.num_row_groups)
        ]
        ranges.append((min(s.min for s in stats), max(s.max for s in stats)))
    ranges.sort()
    for (_, hi), (lo, _) in zip(ranges, ranges[1:]):
        assert hi <= lo, f"file key ranges overlap: {ranges}"
    # rows and values preserved
    out = read_store(spark, store)
    assert out.count() == 8000


def test_append_refuses_silent_schema_drift(spark, tmp_path):
    """A drifted append must fail loudly: the default parquet read infers
    from ONE footer, so mixed-schema files silently drop or null columns
    depending on which file is sampled."""
    import pytest

    store = str(tmp_path / "store")
    commit_store_version(spark.range(5).selectExpr("id", "id * 2 AS v"), store)
    with pytest.raises(ValueError, match="schema drift"):
        append_to_store(
            spark.range(5).selectExpr("id", "id * 2 AS v", "'x' AS extra"), store
        )
    # same schema still appends fine
    append_to_store(spark.range(5, 8).selectExpr("id", "id * 2 AS v"), store)
    assert read_store(spark, store).count() == 8


def test_schema_widening_roundtrip_with_merge_schema(spark, tmp_path):
    from hrdp_variant_load_pipeline_spark.sources.store import compact_store

    store = str(tmp_path / "store")
    commit_store_version(spark.range(3).selectExpr("id", "id * 2 AS v"), store)
    append_to_store(
        spark.range(3, 5).selectExpr("id", "id * 2 AS v", "'new' AS extra"),
        store,
        allow_schema_drift=True,
    )
    merged = read_store(spark, store, merge_schema=True)
    assert set(merged.columns) == {"id", "v", "extra"}
    rows = {r.id: r.extra for r in merged.collect()}
    assert rows[4] == "new" and rows[0] is None
    # a compaction rewrite re-unifies the store to the widened schema;
    # plain reads then see every column without the merge cost
    compact_store(spark, store, target_partitions=1)
    plain = read_store(spark, store)
    assert set(plain.columns) == {"id", "v", "extra"} and plain.count() == 5


def _interleave_ref(vals, bits):
    z = 0
    for i, v in enumerate(vals):
        for b in range(bits):
            z |= ((v >> b) & 1) << (b * len(vals) + i)
    return z


def test_z_order_key_matches_bit_interleave_reference(spark):
    from hrdp_variant_load_pipeline_spark.sources.store import z_order_key

    # x, y already in [0, 2^4): min/max normalization maps value v of the
    # observed span [0, 15] to bucket floor(v/15*15) = v
    df = spark.createDataFrame(
        [(x, y) for x in range(16) for y in range(16)], "x long, y long"
    )
    out = z_order_key(df, ["x", "y"], bits=4)
    for r in out.collect():
        assert r["z_key"] == _interleave_ref([r["x"], r["y"]], 4), (r["x"], r["y"])


def test_z_order_compaction_clusters_both_dimensions(spark, tmp_path):
    """After a z-sorted compaction, EVERY file's min/max range is narrow in
    BOTH dimensions; a 1-D sort on x leaves y's per-file spread at ~the
    global spread. This is exactly the footer-stats property that lets a
    2-predicate probe skip files on either dimension."""
    import pyarrow.parquet as pq

    from hrdp_variant_load_pipeline_spark.sources.store import (
        compact_store,
        z_order_key,
    )

    n = 64
    grid = spark.createDataFrame(
        [(x, y, x * n + y) for x in range(n) for y in range(n)],
        "x long, y long, payload long",
    )

    def spreads(path, col):
        out = []
        for f in os.listdir(path):
            if not f.startswith("part-"):
                continue
            md = pq.ParquetFile(os.path.join(path, f)).metadata
            cols = {md.schema.column(i).name: i for i in range(len(md.schema))}
            st = [
                md.row_group(g).column(cols[col]).statistics
                for g in range(md.num_row_groups)
            ]
            out.append(max(s.max for s in st) - min(s.min for s in st))
        return out

    zstore = str(tmp_path / "zstore")
    commit_store_version(z_order_key(grid, ["x", "y"], bits=6), zstore)
    zpath = compact_store(spark, zstore, target_partitions=16, sort_by=["z_key"])

    xstore = str(tmp_path / "xstore")
    commit_store_version(grid, xstore)
    xpath = compact_store(spark, xstore, target_partitions=16, sort_by=["x"])

    # z-order: both dimensions narrow per file (Z-curve cell ~ n/4 here)
    assert max(spreads(zpath, "x")) <= n / 2
    assert max(spreads(zpath, "y")) <= n / 2
    # 1-D sort: x narrow but y spans ~everything in every file
    assert max(spreads(xpath, "x")) <= n / 2
    assert min(spreads(xpath, "y")) >= n - 1


def test_describe_store_reports_versions_files_rows(spark, tmp_path):
    from hrdp_variant_load_pipeline_spark.sources.store import describe_store

    store = str(tmp_path / "store")
    assert describe_store(spark, store)["layout"] == "absent"
    commit_store_version(spark.range(100).repartition(4), store)
    append_to_store(spark.range(100, 150).repartition(2), store)
    d = describe_store(spark, store)
    assert d["layout"] == "versioned" and d["versions_retained"] == [1]
    assert d["n_rows"] == 150
    assert d["n_files"] >= 6 and d["n_bytes"] > 0
    commit_store_version(spark.range(10), store)
    d2 = describe_store(spark, store)
    assert d2["versions_retained"] == [1, 2] and d2["n_rows"] == 10


def test_z_order_key_rejects_bit_budget_overflow(spark):
    import pytest

    from hrdp_variant_load_pipeline_spark.sources.store import z_order_key

    df = spark.createDataFrame([(1, 2, 3, 4, 5, 6)], "a long, b long, c long, d long, e long, f long")
    with pytest.raises(ValueError, match="63-bit"):
        z_order_key(df, ["a", "b", "c", "d", "e", "f"], bits=12)


def _file_ranges(spark, path, key):
    rows = (
        spark.read.parquet(path)
        .groupBy(F.input_file_name().alias("f"))
        .agg(F.min(key).alias("lo"), F.max(key).alias("hi"))
        .collect()
    )
    return sorted([(r.lo, r.hi) for r in rows])


def test_append_cluster_by_writes_disjoint_key_ranges(spark, tmp_path):
    """The cluster_by append contract (the one the incremental-dedup
    candidate pushdown relies on): a hash-scattered multi-partition
    batch must land as files covering DISJOINT key ranges, so parquet
    footer min/max can prune a candidate-id probe. Without cluster_by
    the same batch overlaps on every file — asserted too, so the test
    cannot pass vacuously."""
    df = (
        spark.range(0, 400)
        .select(F.col("id").alias("doc"), (F.col("id") % 7).alias("v"))
        .repartition(8, "v")  # hash scatter: every partition spans 0..399
    )
    clustered = str(tmp_path / "clustered")
    # explicit cluster_partitions: AQE would rightly coalesce this tiny
    # batch to one file, which passes disjointness vacuously
    append_to_store(df, clustered, cluster_by=["doc"], cluster_partitions=4)
    ranges = _file_ranges(spark, clustered, "doc")
    assert len(ranges) >= 2  # non-vacuous: multiple files written
    for (_, prev_hi), (lo, _) in zip(ranges, ranges[1:]):
        assert prev_hi < lo, ranges

    loose = str(tmp_path / "loose")
    append_to_store(df, loose, cluster_by=None)
    lranges = _file_ranges(spark, loose, "doc")
    assert len(lranges) >= 2
    assert any(
        prev_hi >= lo for (_, prev_hi), (lo, _) in zip(lranges, lranges[1:])
    ), lranges


def test_append_cluster_by_stacks_disjoint_per_batch(spark, tmp_path):
    """Two clustered appends: each batch's own files stay disjoint
    (ranges across batches may interleave — pruning needs narrow files,
    not global order)."""
    store = str(tmp_path / "store")
    b1 = spark.range(0, 200).select(F.col("id").alias("doc")).repartition(4)
    b2 = spark.range(1000, 1200).select(F.col("id").alias("doc")).repartition(4)
    append_to_store(b1, store, cluster_by=["doc"], cluster_partitions=2)
    append_to_store(b2, store, cluster_by=["doc"], cluster_partitions=2)
    ranges = _file_ranges(spark, store, "doc")
    assert len(ranges) >= 4
    # monotonic batches here, so global disjointness must hold as well
    for (_, prev_hi), (lo, _) in zip(ranges, ranges[1:]):
        assert prev_hi < lo, ranges


@pytest.mark.parametrize(
    "cluster_by, cluster_partitions",
    [(None, None), (["doc"], None), (["doc"], 3)],
)
def test_append_returns_rows_appended(spark, tmp_path, cluster_by, cluster_partitions):
    """append_to_store returns exactly the rows it wrote. With cluster_by,
    the range exchange's sampling job runs the plan below it, so a count
    taken there would see rows twice; the store's own row count is the
    oracle, for a filled batch and for an empty one."""
    store = str(tmp_path / "store")
    df = (
        spark.range(0, 250)
        .select(F.col("id").alias("doc"), (F.col("id") % 5).alias("v"))
        .repartition(4, "v")
    )
    n = append_to_store(
        df, store, cluster_by=cluster_by, cluster_partitions=cluster_partitions
    )
    assert n == 250 == spark.read.parquet(store).count()
    # a second append into the same location counts only its own rows
    n2 = append_to_store(
        df.filter("v = 0"), store, cluster_by=cluster_by, cluster_partitions=cluster_partitions
    )
    assert n2 == 50
    assert spark.read.parquet(store).count() == 300
    assert append_to_store(df.limit(0), store, cluster_by=cluster_by) == 0
    assert spark.read.parquet(store).count() == 300


def test_append_leaves_plans_built_before_it_unchanged(spark, tmp_path):
    """An append is invisible to frames planned before it: a persisted,
    materialized frame over the store keeps its rows (the append must not
    re-cache it against the new files), while a fresh read sees them."""
    store = str(tmp_path / "store")
    commit_store_version(spark.range(5), store)
    before = read_store(spark, store).filter(F.col("id") >= 0).persist()
    try:
        assert before.count() == 5
        assert append_to_store(spark.range(100, 103), store) == 3
        assert before.count() == 5
        assert read_store(spark, store).count() == 8
        target = resolve_store(spark, store).removeprefix("file:")
        assert not [k for k in os.listdir(target) if k.startswith(".append-")]
    finally:
        before.unpersist()


def test_failed_append_leaves_no_staging_and_keeps_prior_files(spark, tmp_path):
    """A write that fails during execution (an ANSI cast error in a task)
    removes its staging directory and adds nothing to the target."""
    store = str(tmp_path / "store")
    commit_store_version(spark.range(5), store)
    target = resolve_store(spark, store).removeprefix("file:")
    files = sorted(os.listdir(target))
    # not constant-foldable: the cast fails inside the write's tasks
    poison = spark.range(3).select(
        F.concat(F.lit("x"), F.col("id").cast("string")).cast("long").alias("id")
    )
    with pytest.raises(Exception):
        append_to_store(poison, store)
    assert sorted(os.listdir(target)) == files
    assert read_store(spark, store).count() == 5
