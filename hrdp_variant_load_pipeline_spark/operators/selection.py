"""Diversity-aware selection: k-center greedy coreset picking over an
embedding column (Sener & Savarese 2018, "Active Learning for CNNs: A
Core-Set Approach" — iteratively add the point FARTHEST (max min-dist)
from everything selected so far, a 2-approximation of the k-center
cover). In a training-data pipeline this is the "pick k maximally
diverse documents" op, the diversity counterpart of similarity top-k.

Spark-first shape: the selected set is MODEL-SIZED (k vectors) and rides
every pass as a literal array-of-centers, so each iteration is ONE
stateless scan-sized aggregate — min-dist computed row-locally against
the literal centers, argmax via a single ``max(struct(...))``. The
corpus is never shuffled, never pairwise-joined, and never cached:
unlike a carried min-dist column (which would checkpoint corpus-sized
state per step), this shape stores nothing between iterations — at
100 TB the cost is k column-pruned scans, not k corpus materializations.
Total distance work is O(k²·n/2), the right trade while k stays
model-sized. Distances round to 6dp BEFORE every comparison so the
greedy trajectory is reproducible cross-engine (the similarity-family
convention); ties break to the smallest id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hrdp_variant_load_pipeline_spark.operators.similarity import (
    _dot_sql,
    _norm_sql,
)

_ROUND = 6


def _vec_literal(vec) -> str:
    return "array(" + ", ".join(f"{float(x)!r}d" for x in vec) + ")"


def _py_norm(vec) -> float:
    """Driver-side mirror of ``_norm_sql`` over a literal: same IEEE
    left-fold (acc + x*x in element order, doubles throughout), so the
    inlined literal is bit-identical to what the per-row expression
    would compute — lambda-bearing HOFs are not constant-folded by
    Catalyst, and re-folding a 64-term aggregate per corpus row per
    center would double every iteration's distance work."""
    import math

    acc = 0.0
    for x in vec:
        acc = acc + float(x) * float(x)
    return math.sqrt(acc)


#: largest k ``kcenter_greedy`` accepts (see its measured k ceiling)
MAX_LITERAL_K = 128


def kcenter_greedy(
    df: DataFrame, id_col: str, vec_col: str, k: int
) -> list[tuple[int, int, float | None]]:
    """Greedy k-center selection by cosine distance. Returns the
    trajectory ``[(step, id, min_dist_at_pick), ...]`` — step 0 is the
    seed (the smallest id; ``min_dist`` None), steps
    1..k-1 the successive farthest points. The trajectory is model-sized
    driver state by definition (it IS the selected coreset), hence a
    list, not a DataFrame; wrap with ``spark.createDataFrame`` to join
    it back. Stops early when every remaining point exactly duplicates
    a selected center (min-dist 0 at 6dp).

    MEASURED k CEILING (r13, dim 64): each iteration inlines all
    selected centers as SQL literals, so per-step driver cost grows with
    k — 0.41 s/step at k=64, 0.65 at k=128, 1.25 at k=256 (O(k²·dim)
    cumulative analysis). k past ``MAX_LITERAL_K`` = 128 (the measured
    knee) fails loud.

    Zero-vector rows (undefined cosine) are excluded up front — keeping
    them would put NaN into every min-fold."""
    if k < 1:
        raise ValueError("kcenter_greedy: k must be >= 1")
    if k > MAX_LITERAL_K:
        raise ValueError(
            f"kcenter_greedy: k={k} exceeds MAX_LITERAL_K={MAX_LITERAL_K} "
            "(per-step literal-expression cost grows with k — measured "
            "knee at 128)"
        )
    base = df.selectExpr(
        f"`{id_col}` AS __id",
        f"`{vec_col}` AS __v",
        f"{_norm_sql(f'`{vec_col}`')} AS __n",
    ).filter("__n > 0")
    seed_row = base.orderBy("__id").limit(1).collect()
    if not seed_row:
        raise ValueError("kcenter_greedy: empty input")
    seed = seed_row[0]
    trajectory: list[tuple[int, int, float | None]] = [
        (0, int(seed["__id"]), None)
    ]
    centers: list[tuple[int, list]] = [(int(seed["__id"]), list(seed["__v"]))]
    for step in range(1, k):
        # min over the literal center set, computed row-locally; picked
        # ids masked to -1 so duplicates of a center can't re-enter;
        # center norms inlined as scalar literals (see _py_norm)
        dists = ", ".join(
            f"round(1.0d - {_dot_sql('__v', _vec_literal(v))} / "
            f"(__n * {_py_norm(v)!r}d), {_ROUND})"
            for _, v in centers
        )
        picked = ", ".join(f"{cid}L" for cid, _ in centers)
        scored = base.selectExpr(
            "__id",
            "__v",
            f"CASE WHEN __id IN ({picked}) THEN -1.0d "
            f"ELSE array_min(array({dists})) END AS __d",
        )
        pick = scored.agg(
            F.max(
                F.struct(
                    F.col("__d"),
                    (-F.col("__id")).alias("__t"),
                    F.col("__id"),
                    F.col("__v"),
                )
            ).alias("p")
        ).collect()[0]["p"]
        if pick["__d"] <= 0:
            break
        trajectory.append((step, int(pick["__id"]), float(pick["__d"])))
        centers.append((int(pick["__id"]), list(pick["__v"])))
    return trajectory
