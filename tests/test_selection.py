"""k-center greedy coreset selection (operators/selection.py)."""

from __future__ import annotations

import math

import pytest

from hrdp_variant_load_pipeline_spark.operators.selection import kcenter_greedy


def _model(rows, k):
    """Brute-force Python mirror: rounded cosine distance, min over
    selected, argmax with smallest-id tie-break."""
    vecs = {i: v for i, v in rows}

    def cosd(a, b):
        dot = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return round(1.0 - dot / (na * nb), 6)

    ids = sorted(i for i, v in vecs.items()
                 if math.sqrt(sum(x * x for x in v)) > 0)
    sel = [ids[0]]
    out = [(0, sel[0], None)]
    for step in range(1, k):
        best = None
        for i in ids:
            if i in sel:
                continue
            d = min(cosd(vecs[i], vecs[s]) for s in sel)
            if best is None or d > best[0] or (d == best[0] and i < best[1]):
                best = (d, i)
        if best is None or best[0] <= 0:
            break
        out.append((step, best[1], best[0]))
        sel.append(best[1])
    return out


ROWS = [
    (1, [1.0, 0.0, 0.0]),
    (2, [0.9, 0.1, 0.0]),   # near 1
    (3, [0.0, 1.0, 0.0]),   # orthogonal to 1
    (4, [0.0, 0.0, 1.0]),   # orthogonal to both
    (5, [-1.0, 0.0, 0.0]),  # antipodal to 1 (dist 2)
    (6, [0.5, 0.5, 0.0]),
]


def test_matches_python_model(spark):
    df = spark.createDataFrame(ROWS, "vec_id long, embedding array<double>")
    got = kcenter_greedy(df, "vec_id", "embedding", k=4)
    want = _model(ROWS, k=4)
    assert got == want
    # farthest-first: the antipodal point must be picked first
    assert got[1][1] == 5 and got[1][2] == 2.0


def test_duplicates_never_repick_and_early_stop(spark):
    rows = [(1, [1.0, 0.0]), (2, [1.0, 0.0]), (3, [2.0, 0.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    # all three are cosine-identical: after the seed there is nothing
    # at distance > 0, so the trajectory is just the seed
    assert kcenter_greedy(df, "vec_id", "embedding", k=3) == [(0, 1, None)]


def test_seed_and_zero_vector_handling(spark):
    # the zero vector holds the smallest id: the seed is the smallest id
    # among the rows that have a cosine
    rows = [(0, [0.0, 0.0, 0.0])] + ROWS
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = kcenter_greedy(df, "vec_id", "embedding", k=3)
    assert got[0] == (0, 1, None)
    assert all(i != 0 for _, i, _ in got)  # zero vector excluded
    assert got == _model(ROWS, k=3)


def test_guards(spark):
    df = spark.createDataFrame(
        [(1, [1.0])], "vec_id long, embedding array<double>"
    )
    with pytest.raises(ValueError, match="k must be"):
        kcenter_greedy(df, "vec_id", "embedding", k=0)
    with pytest.raises(ValueError, match="empty input"):
        kcenter_greedy(df.filter("vec_id > 1"), "vec_id", "embedding", k=2)


def test_no_shuffle_no_join_per_iteration(spark):
    """Scale contract: the per-iteration plan is scan → row-local
    min-dist → one aggregate. No Exchange other than the final
    single-partition agg, no join operator."""
    from pyspark.sql import functions as F

    from hrdp_variant_load_pipeline_spark.operators.selection import (
        _dot_sql,
        _vec_literal,
    )
    from hrdp_variant_load_pipeline_spark.operators.similarity import (
        _norm_sql,
    )

    df = spark.createDataFrame(ROWS, "vec_id long, embedding array<double>")
    base = df.selectExpr(
        "vec_id AS __id", "embedding AS __v",
        f"{_norm_sql('embedding')} AS __n",
    ).filter("__n > 0")
    lit = _vec_literal([1.0, 0.0, 0.0])
    scored = base.selectExpr(
        "__id",
        f"round(1.0d - {_dot_sql('__v', lit)} / (__n * {_norm_sql(lit)}), 6)"
        " AS __d",
    ).agg(F.max(F.struct("__d", "__id")))
    plan = scored._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan and "Cartesian" not in plan
    assert plan.count("Exchange") <= 1, plan


def test_kcenter_literal_k_ceiling_fails_loud(spark):
    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    with pytest.raises(ValueError, match="MAX_LITERAL_K"):
        kcenter_greedy(e, "vec_id", "embedding", 129)
