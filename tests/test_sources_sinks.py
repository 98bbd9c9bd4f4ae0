"""Config source (S10) and sink-side reconstitution (S7-S9)."""

from __future__ import annotations

import json

from hrdp_variant_load_pipeline_spark import schemas
from hrdp_variant_load_pipeline_spark.sources.config import (
    SAMPLE_DEFAULTS,
    load_config,
    samples_dimension,
)
from hrdp_variant_load_pipeline_spark.sources.sinks import (
    rgd_ids_registry,
    split_variant_sinks,
)


def test_config_roundtrip(tmp_path):
    cfg = {"map_key": 372, "input_dir": "/data/vcfs", "samples": {"S1": 1, "S2": 2}}
    p = tmp_path / "cfg.json"
    p.write_text(json.dumps(cfg))
    loaded = load_config(str(p))
    assert loaded == cfg


def test_samples_dimension_defaults(spark):
    dim = samples_dimension(spark, {"S2": 2, "S1": 1}, map_key=372)
    rows = {r["analysis_name"]: r for r in dim.collect()}
    assert set(rows) == {"S1", "S2"}
    assert rows["S1"]["sample_id"] == 1
    assert rows["S1"]["gender"] == SAMPLE_DEFAULTS["gender"]
    assert rows["S1"]["patient_id"] == SAMPLE_DEFAULTS["patient_id"]
    assert rows["S1"]["grant_number"] == SAMPLE_DEFAULTS["grant_number"]
    assert rows["S1"]["map_key"] == 372


def _variant_rows(spark):
    return spark.createDataFrame(
        [
            (1, "A", "G", None, None, "snv", 3, "1", None, 100, 101, "GENIC", 372),
            (2, "AC", None, "rs1", None, "deletion", 3, "2", "A", 200, 202, "INTERGENIC", 372),
        ],
        schemas.VARIANT,
    )


def test_split_variant_sinks(spark):
    v, vmd = split_variant_sinks(_variant_rows(spark))
    assert v.columns == [
        "rgd_id", "ref_nuc", "variant_type", "var_nuc", "rs_id", "clinvar_id",
        "species_type_key",
    ]
    assert vmd.columns == [
        "rgd_id", "chromosome", "start_pos", "end_pos", "padding_base",
        "genic_status", "map_key",
    ]
    # 1:1 reconstitution on rgd_id
    assert v.join(vmd, "rgd_id").count() == 2


def test_rgd_ids_registry(spark):
    reg = rgd_ids_registry(_variant_rows(spark))
    rows = reg.collect()
    assert all(r["object_key"] == 6 and r["object_status"] == "ACTIVE" for r in rows)


class TestScd2Merge:
    def _hist(self, spark, rows):
        return spark.createDataFrame(
            rows,
            "sample_id long, strain string, status string, "
            "effective_from timestamp, effective_to timestamp",
        )

    def _ups(self, spark, rows):
        return spark.createDataFrame(
            rows, "sample_id long, strain string, status string, batch_ts timestamp"
        )

    def test_insert_change_and_noop(self, spark):
        from datetime import datetime

        from hrdp_variant_load_pipeline_spark.operators.upsert import scd2_merge

        t0, t1 = datetime(2024, 1, 1), datetime(2024, 6, 1)
        hist = self._hist(
            spark,
            [
                (1, "BN", "active", t0, None),
                (2, "SHR", "active", t0, None),
                (3, "WKY", "retired", t0, t1),  # already closed
                (3, "WKY", "active", t1, None),
            ],
        )
        ups = self._ups(
            spark,
            [
                (1, "BN", "retired", t1),   # changed -> close + open
                (2, "SHR", "active", t1),   # unchanged -> no-op
                (9, "F344", "active", t1),  # new key -> insert
            ],
        )
        out = scd2_merge(
            hist, ups, keys=["sample_id"], tracked=["strain", "status"]
        )
        rows = {(r.sample_id, r.status, r.effective_from, r.effective_to) for r in out.collect()}
        assert rows == {
            (1, "active", t0, t1),       # closed at the batch ts
            (1, "retired", t1, None),    # new open version
            (2, "active", t0, None),     # untouched open row
            (3, "retired", t0, t1),      # closed history passes through
            (3, "active", t1, None),
            (9, "active", t1, None),     # brand-new key
        }
        # exactly one open version per key
        opens = out.filter("effective_to IS NULL").groupBy("sample_id").count()
        assert opens.filter("count > 1").count() == 0

    def test_replay_is_idempotent(self, spark):
        from datetime import datetime

        from hrdp_variant_load_pipeline_spark.operators.upsert import scd2_merge

        t0, t1 = datetime(2024, 1, 1), datetime(2024, 6, 1)
        hist = self._hist(spark, [(1, "BN", "active", t0, None)])
        ups = self._ups(spark, [(1, "BN", "retired", t1)])
        once = scd2_merge(hist, ups, ["sample_id"], ["strain", "status"])
        twice = scd2_merge(once, ups, ["sample_id"], ["strain", "status"])
        a = sorted(map(tuple, once.collect()))
        b = sorted(map(tuple, twice.collect()))
        assert a == b  # re-applying the same batch changes nothing


class TestScd2Lookup:
    def test_point_in_time_enrichment(self, spark):
        from datetime import datetime

        from hrdp_variant_load_pipeline_spark.operators.upsert import (
            scd2_lookup,
            scd2_merge,
        )

        t0, t1, t2 = (
            datetime(2024, 1, 1),
            datetime(2024, 6, 1),
            datetime(2024, 9, 1),
        )
        hist = spark.createDataFrame(
            [], "sample_id long, status string, effective_from timestamp, effective_to timestamp"
        )
        for ts, status in ((t0, "active"), (t1, "retired"), (t2, "active")):
            ups = spark.createDataFrame(
                [(1, status, ts)], "sample_id long, status string, batch_ts timestamp"
            )
            hist = scd2_merge(hist, ups, ["sample_id"], ["status"])
        facts = spark.createDataFrame(
            [
                (10, 1, datetime(2023, 12, 1)),  # before first version -> nulls
                (11, 1, datetime(2024, 3, 1)),   # active era
                (12, 1, datetime(2024, 6, 1)),   # boundary: new version wins
                (13, 1, datetime(2024, 7, 15)),  # retired era
                (14, 1, datetime(2025, 1, 1)),   # open version
                (15, 9, datetime(2024, 7, 1)),   # unknown key -> nulls
            ],
            "fact_id long, sample_id long, ts timestamp",
        )
        out = {
            r.fact_id: r.status
            for r in scd2_lookup(facts, hist, ["sample_id"], "ts").collect()
        }
        assert out == {
            10: None,
            11: "active",
            12: "retired",
            13: "retired",
            14: "active",
            15: None,
        }
        # 1:1 — no fact duplicated, none dropped
        assert scd2_lookup(facts, hist, ["sample_id"], "ts").count() == 6

    def test_history_broadcast_no_fact_shuffle(self, spark):
        from datetime import datetime

        from hrdp_variant_load_pipeline_spark.operators.upsert import scd2_lookup

        hist = spark.createDataFrame(
            [(1, "a", datetime(2024, 1, 1), None)],
            "sample_id long, status string, effective_from timestamp, effective_to timestamp",
        )
        facts = spark.range(1000).selectExpr(
            "id AS fact_id",
            "id % 2 AS sample_id",  # non-constant: the equi key must survive
            "timestamp'2024-02-01' AS ts",
        )
        plan = (
            scd2_lookup(facts, hist, ["sample_id"], "ts")
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "BroadcastHashJoin" in plan
        assert "Exchange hashpartitioning" not in plan


def test_scd2_merge_collapses_multi_updates_per_key(spark):
    """Regression: two updates for one key in a batch must produce ONE
    open version (greatest (batch_ts, tracked) wins), not two."""
    from datetime import datetime

    from hrdp_variant_load_pipeline_spark.operators.upsert import scd2_merge

    t0, t1, t2 = (
        datetime(2024, 1, 1),
        datetime(2024, 6, 1),
        datetime(2024, 6, 2),
    )
    hist = spark.createDataFrame(
        [(1, "a", t0, None)],
        "k long, v string, effective_from timestamp, effective_to timestamp",
    )
    ups = spark.createDataFrame(
        [(1, "b", t1), (1, "c", t2), (2, "x", t1), (2, "y", t1)],
        "k long, v string, batch_ts timestamp",
    )
    out = scd2_merge(hist, ups, ["k"], ["v"]).collect()
    opens = {r.k: r.v for r in out if r.effective_to is None}
    # key 1: latest ts wins (c@t2); key 2: ts tie -> larger tracked wins (y)
    assert opens == {1: "c", 2: "y"}
    per_key_open = {}
    for r in out:
        if r.effective_to is None:
            per_key_open[r.k] = per_key_open.get(r.k, 0) + 1
    assert all(n == 1 for n in per_key_open.values())
