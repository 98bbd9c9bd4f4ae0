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

import contextlib
import os

import pytest
from pyspark.sql import functions as F

from hrdp_variant_load_pipeline_spark.sources.store import (
    COMMIT_MARKER,
    append_to_store,
    commit_store_version,
    committed_versions,
    footer_max,
    footer_schema,
    read_store,
    resolve_store,
)
from tests.conftest import pinned_partitions, spark_jobs_of


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
        commit_store_version(poison, store)

    out = read_store(spark, store)
    assert out.count() == 10
    assert out.filter(F.col("tag") == "orig").count() == 10


def test_successful_swap_replaces_content(spark, tmp_path):
    store = str(tmp_path / "store")
    _mk_flat(spark, store)

    new = spark.range(3).withColumn("tag", F.lit("repaired"))
    commit_store_version(new, store)

    out = read_store(spark, store)
    assert out.count() == 3
    assert out.filter(F.col("tag") == "repaired").count() == 3
    # migration removed the superseded flat files; no stray temp dirs
    kids = set(os.listdir(store))
    assert not any(k.endswith(".writing") for k in kids)
    assert all(k.startswith(("v_", "_", ".")) for k in kids)


def test_first_write_with_no_existing_store(spark, tmp_path):
    store = str(tmp_path / "store")
    commit_store_version(spark.range(4), store)
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
    commit_store_version(spark.range(2), store)
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

    with pinned_partitions(spark, 2):
        new_path = compact_store(spark, store)
    assert new_path == resolve_store(spark, store)
    n_after = sum(1 for f in os.listdir(new_path) if f.startswith("part-"))
    assert n_after <= 2
    out = read_store(spark, store)
    assert out.count() == 130
    assert out.agg(F.sum("id")).collect()[0][0] == sum(range(100)) + sum(
        range(1000, 1030)
    )


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
    with pinned_partitions(spark, 4):
        new_path = compact_store(spark, store, sort_by=["pos"])
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
    # pinned partitions: AQE would rightly coalesce this tiny batch to
    # one file, which passes disjointness vacuously
    with pinned_partitions(spark, 4):
        append_to_store(df, clustered, cluster_by=["doc"])
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
    with pinned_partitions(spark, 2):
        append_to_store(b1, store, cluster_by=["doc"])
        append_to_store(b2, store, cluster_by=["doc"])
    ranges = _file_ranges(spark, store, "doc")
    assert len(ranges) >= 4
    # monotonic batches here, so global disjointness must hold as well
    for (_, prev_hi), (lo, _) in zip(ranges, ranges[1:]):
        assert prev_hi < lo, ranges


@pytest.mark.parametrize(
    "cluster_by, partitions",
    [(None, None), (["doc"], None), (["doc"], 3)],
)
def test_append_returns_rows_appended(spark, tmp_path, cluster_by, partitions):
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
    pinned = pinned_partitions(spark, partitions) if partitions else contextlib.nullcontext()
    with pinned:
        n = append_to_store(df, store, cluster_by=cluster_by)
        assert n == 250 == spark.read.parquet(store).count()
        # a second append into the same location counts only its own rows
        n2 = append_to_store(df.filter("v = 0"), store, cluster_by=cluster_by)
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


def test_footer_max_tracks_commits_and_appends(spark, tmp_path):
    """``footer_max`` equals the aggregate max of the current version after
    a commit, an append, and a QC-style repair commit that rewrites the
    store through ``merge_update``; an absent store has no max, and a file
    written without column statistics is reported as unknown."""
    from hrdp_variant_load_pipeline_spark.operators.upsert import merge_update

    store = str(tmp_path / "store")

    def agg_max():
        return read_store(spark, store).agg(F.max("rgd_id")).collect()[0][0]

    assert footer_max(spark, store, "rgd_id") == (True, None)
    commit_store_version(
        spark.range(1, 60).selectExpr("id AS rgd_id", "'A' AS s").repartition(3), store
    )
    assert footer_max(spark, store, "rgd_id") == (True, agg_max()) == (True, 59)
    append_to_store(spark.range(60, 75).selectExpr("id AS rgd_id", "'A' AS s"), store)
    assert footer_max(spark, store, "rgd_id") == (True, agg_max()) == (True, 74)
    updates = spark.createDataFrame([(3, "B"), (70, "B")], "rgd_id long, s string")
    commit_store_version(merge_update(read_store(spark, store), updates, "rgd_id", ["s"]), store)
    assert footer_max(spark, store, "rgd_id") == (True, agg_max()) == (True, 74)

    bare = str(tmp_path / "bare")
    spark.range(5).selectExpr("id AS rgd_id").write.option(
        "parquet.column.statistics.enabled", "false"
    ).parquet(bare)
    assert footer_max(spark, bare, "rgd_id") == (False, None)


def test_footer_schema_is_the_inferred_schema_and_read_store_runs_no_job(spark, tmp_path):
    """The footer schema equals what Spark's inference returns (nested and
    non-nullable fields included), and ``read_store`` resolves its frame
    without a Spark job."""
    store = str(tmp_path / "store")
    commit_store_version(
        spark.range(20).selectExpr(
            "id", "array(id) AS a", "named_struct('x', id) AS st",
            "CAST(id AS DECIMAL(10, 2)) AS d", "CAST(id AS STRING) AS s",
        ).repartition(2),
        store,
    )
    target = resolve_store(spark, store)
    assert footer_schema(spark, target) == spark.read.parquet(target).schema
    assert footer_schema(spark, str(tmp_path / "absent")) is None

    df, jobs = spark_jobs_of(spark, read_store, spark, store)
    assert jobs == 0
    assert df.schema == spark.read.parquet(target).schema and df.count() == 20


def test_small_file_write_is_atomic_and_refuses_an_existing_marker(
    spark, tmp_path, monkeypatch
):
    """A stage marker becomes visible with one rename. A write that dies
    after the file is opened leaves nothing at the final path (before, it
    left an empty marker that resume read as "no checkpoint" and that the
    next commit then collided with); an ``overwrite=False`` write to an
    existing marker raises and leaves the marker as it was."""
    import json

    from hrdp_variant_load_pipeline_spark.plans.corpus_pipeline import (
        _ck_read_marker,
        _ck_write_marker,
    )
    from hrdp_variant_load_pipeline_spark.sources import store as store_mod

    stage = tmp_path / "stage"
    marker = str(stage / "_STAGE_COMMITTED.json")
    real_fs = store_mod._fs

    class _DiesMidWrite:
        """The FileSystem, except that the process "dies" right after a
        file is created, before a byte of it is written."""

        def __init__(self, fs):
            self._fs = fs

        def __getattr__(self, name):
            return getattr(self._fs, name)

        def create(self, *args):
            self._fs.create(*args).close()
            raise RuntimeError("killed mid-write")

    def dying_fs(spark_, path):
        fs, jvm = real_fs(spark_, path)
        return _DiesMidWrite(fs), jvm

    monkeypatch.setattr(store_mod, "_fs", dying_fs)
    with pytest.raises(RuntimeError, match="killed mid-write"):
        _ck_write_marker(spark, marker, {"stage": "ingested", "n": 1})
    monkeypatch.undo()
    assert not os.path.exists(marker)
    assert [f for f in os.listdir(stage) if not f.startswith(".")] == []
    assert _ck_read_marker(spark, marker) is None

    # the resumed run commits the stage
    _ck_write_marker(spark, marker, {"stage": "ingested", "n": 2})
    assert _ck_read_marker(spark, marker) == {"stage": "ingested", "n": 2}
    # a second commit of the same stage is refused; the marker stands
    with pytest.raises(Exception, match="FileAlreadyExists"):
        _ck_write_marker(spark, marker, {"stage": "ingested", "n": 3})
    assert _ck_read_marker(spark, marker) == {"stage": "ingested", "n": 2}
    # overwrite=True (shard manifests) replaces the file in one rename
    store_mod.write_small_file(spark, marker, json.dumps({"n": 4}).encode())
    assert _ck_read_marker(spark, marker) == {"n": 4}
    assert [f for f in os.listdir(stage) if not f.startswith(".")] == [
        "_STAGE_COMMITTED.json"
    ]
