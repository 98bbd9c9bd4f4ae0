"""Declarative constraints validator (operators/quality.py)."""

from __future__ import annotations

import pytest

from hrdp_variant_load_pipeline_spark.operators.quality import check_constraints


def _df(spark):
    return spark.createDataFrame(
        [
            (1, "1", 100, 200, "snp", 10),
            (2, "X", 5, 4, "ins", 10),      # end < start
            (3, None, 1, 1, "snp", 99),     # null chrom; sample 99 unknown
            (3, "2", 7, 8, "weird", 10),    # dup id; bad type
        ],
        "rgd_id long, chromosome string, start_pos long, end_pos long, "
        "variant_type string, sample_id long",
    )


def test_rules_report_exact_violation_counts(spark):
    samples = spark.createDataFrame([(10,), (11,)], "id long")
    out = {
        r["rule"]: (r["violations"], r["ok"])
        for r in check_constraints(
            _df(spark),
            [
                {"type": "not_null", "col": "chromosome"},
                {"type": "in_range", "col": "start_pos", "min": 1},
                {"type": "matches", "col": "chromosome", "pattern": "^([0-9]+|X|Y|MT)$"},
                {"type": "in_set", "col": "variant_type", "values": ["snp", "ins", "del"]},
                {"type": "predicate", "expr": "end_pos >= start_pos"},
                {"type": "unique", "cols": ["rgd_id"]},
                {"type": "ref", "col": "sample_id", "ref_df": samples, "ref_col": "id"},
            ],
        ).collect()
    }
    assert out["not_null(chromosome)"] == (1, False)
    assert out["in_range(start_pos)"] == (0, True)
    # null chromosome passes the pattern rule (CHECK semantics)
    assert out["matches(chromosome)"] == (0, True)
    assert out["in_set(variant_type)"] == (1, False)
    assert out["predicate(end_pos >= start_pos)"] == (1, False)
    assert out["unique(rgd_id)"] == (1, False)  # one extra copy of id 3
    assert out["ref(sample_id)"] == (1, False)  # sample 99


def test_clean_frame_is_all_ok(spark):
    clean = spark.createDataFrame([(1, "1"), (2, "2")], "rgd_id long, chromosome string")
    out = check_constraints(
        clean,
        [
            {"type": "not_null", "col": "chromosome"},
            {"type": "unique", "cols": ["rgd_id"]},
        ],
    )
    assert out.filter("NOT ok").count() == 0


def test_unknown_rule_type_raises(spark):
    with pytest.raises(ValueError, match="unknown rule"):
        check_constraints(_df(spark), [{"type": "sorted", "col": "rgd_id"}])


def test_rowwise_rules_share_one_aggregate_job(spark):
    """Scale shape: N row-local rules must not mean N scans — the job
    count is the SAME for 2 rules as for 6 (all ride one aggregate)."""
    from tests.conftest import spark_jobs_of

    df = _df(spark)

    def jobs_for(rules):
        # counted under a job group of its own: a count of all retained
        # jobs goes negative when the status store evicts old ones
        return spark_jobs_of(
            spark, lambda: check_constraints(df, rules).collect()
        )[1]

    two = jobs_for(
        [
            {"type": "not_null", "col": "chromosome"},
            {"type": "in_range", "col": "start_pos", "min": 1},
        ]
    )
    six = jobs_for(
        [
            {"type": "not_null", "col": "chromosome"},
            {"type": "not_null", "col": "variant_type"},
            {"type": "in_range", "col": "start_pos", "min": 1},
            {"type": "in_range", "col": "end_pos", "min": 1},
            {"type": "predicate", "expr": "end_pos >= start_pos"},
            {"type": "in_set", "col": "variant_type", "values": ["snp", "ins"]},
        ]
    )
    assert six == two, (two, six)


def test_violation_examples_can_be_recovered(spark):
    """The summary is scalar counts; the rows themselves stay recoverable
    with the same predicate — no hidden state."""
    from hrdp_variant_load_pipeline_spark.operators.quality import _predicate

    df = _df(spark)
    bad = df.filter(~_predicate(df, {"type": "predicate", "expr": "end_pos >= start_pos"}))
    assert [r.rgd_id for r in bad.collect()] == [2]
