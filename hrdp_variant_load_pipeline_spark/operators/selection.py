"""Diversity-aware selection: k-center greedy coreset picking over an
embedding column (Sener & Savarese 2018, "Active Learning for CNNs: A
Core-Set Approach" — iteratively add the point FARTHEST (max min-dist)
from everything selected so far, a 2-approximation of the k-center
cover) and MMR re-ranking of a retrieval pool (Carbonell & Goldstein
1998). In a training-data pipeline these are the "pick k maximally
diverse documents" ops, the diversity counterpart of similarity top-k.

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
from hrdp_variant_load_pipeline_spark.runtime import release, snapshot

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


def kcenter_greedy(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    seed_id: int | None = None,
    max_literal_k: int = 128,
) -> list[tuple[int, int, float | None]]:
    """Greedy k-center selection by cosine distance. Returns the
    trajectory ``[(step, id, min_dist_at_pick), ...]`` — step 0 is the
    seed (``seed_id`` or the smallest id; ``min_dist`` None), steps
    1..k-1 the successive farthest points. The trajectory is model-sized
    driver state by definition (it IS the selected coreset), hence a
    list, not a DataFrame; wrap with ``spark.createDataFrame`` to join
    it back. Stops early when every remaining point exactly duplicates
    a selected center (min-dist 0 at 6dp).

    MEASURED k CEILING (r13, dim 64): each iteration inlines all
    selected centers as SQL literals, so per-step driver cost grows with
    k — 0.41 s/step at k=64, 0.65 at k=128, 1.25 at k=256 (O(k²·dim)
    cumulative analysis). ``max_literal_k`` fails loud past 128 (the
    measured knee); for larger k use :func:`kcenter_greedy_carried`,
    which carries the running min-dist as a checkpointed column — the
    identical trajectory (pinned in tests/test_selection.py) in
    O(k·n·dim) total distance work, at the cost of one corpus-sized
    state materialization per step.

    Zero-vector rows (undefined cosine) are excluded up front — keeping
    them would put NaN into every min-fold."""
    if k < 1:
        raise ValueError("kcenter_greedy: k must be >= 1")
    if k > max_literal_k:
        raise ValueError(
            f"kcenter_greedy: k={k} exceeds max_literal_k={max_literal_k} "
            "(per-step literal-expression cost grows with k — measured "
            "knee at 128); use kcenter_greedy_carried for large k"
        )
    base = df.selectExpr(
        f"`{id_col}` AS __id",
        f"`{vec_col}` AS __v",
        f"{_norm_sql(f'`{vec_col}`')} AS __n",
    ).filter("__n > 0")
    if seed_id is None:
        seed_row = base.orderBy("__id").limit(1).collect()
    else:
        seed_row = base.filter(F.col("__id") == seed_id).collect()
    if not seed_row:
        raise ValueError("kcenter_greedy: empty input (or seed_id absent)")
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


def kcenter_greedy_carried(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    seed_id: int | None = None,
) -> list[tuple[int, int, float | None]]:
    """``kcenter_greedy`` for large k: carry the running min-dist as a
    column instead of recomputing it against every selected center.

    Each iteration folds ONE new center into the carried state —
    ``__d := least(__d, dist_to_new_center)`` — so total distance work
    is O(k·n·dim), not the literal form's O(k²·n·dim), and the per-step
    expression stays O(dim) regardless of k (no Catalyst analysis
    growth; the literal form's measured knee is ~128 centers). The cost
    is one ``localCheckpoint`` of the (id, vec, norm, min-dist) state
    per step (released once the next step supersedes it) — corpus-sized
    I/O per iteration, which is why the
    stateless literal form stays the default below the knee. Trajectory
    is IDENTICAL to ``kcenter_greedy`` (same 6dp rounding before every
    comparison, same smallest-id ties, same duplicate-point early stop
    — pinned in tests/test_selection.py). Measured (r13, dim 64):
    k=256 on 500 rows in 26.7 s total (0.10 s/step, flat in k) vs the
    literal form's 319.7 s (1.25 s/step and growing); at CORPUS size
    (200k vectors) the crossover moves far left — k=32 runs 10.6 s
    carried vs 55.7 s literal (identical trajectory), because the
    literal form re-pays the full O(k·n·dim) distance scan per step.
    Rule of thumb: literal for model-sized inputs or single-digit k;
    carried for corpus-scale inputs or k ≳ 16."""
    if k < 1:
        raise ValueError("kcenter_greedy_carried: k must be >= 1")
    base = df.selectExpr(
        f"`{id_col}` AS __id",
        f"`{vec_col}` AS __v",
        f"{_norm_sql(f'`{vec_col}`')} AS __n",
    ).filter("__n > 0")
    if seed_id is None:
        seed_row = base.orderBy("__id").limit(1).collect()
    else:
        seed_row = base.filter(F.col("__id") == seed_id).collect()
    if not seed_row:
        raise ValueError(
            "kcenter_greedy_carried: empty input (or seed_id absent)"
        )
    seed = seed_row[0]
    trajectory: list[tuple[int, int, float | None]] = [
        (0, int(seed["__id"]), None)
    ]

    def _dist_expr(cid: int, vec: list) -> str:
        return (
            f"CASE WHEN __id = {cid}L THEN -1.0d ELSE "
            f"round(1.0d - {_dot_sql('__v', _vec_literal(vec))} / "
            f"(__n * {_py_norm(vec)!r}d), {_ROUND}) END"
        )

    # each step's snapshot supersedes the previous one: release it
    state = snapshot(
        base.selectExpr(
            "__id", "__v", "__n",
            f"{_dist_expr(int(seed['__id']), list(seed['__v']))} AS __d",
        ),
        reliable=False,
    )
    for step in range(1, k):
        pick = state.agg(
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
        if step == k - 1:
            break  # the fold below would never be read
        prev = state
        state = snapshot(
            state.selectExpr(
                "__id", "__v", "__n",
                f"least(__d, "
                f"{_dist_expr(int(pick['__id']), list(pick['__v']))})"
                " AS __d",
            ),
            reliable=False,
        )
        release(prev)
    release(state)
    return trajectory


def mmr_rerank(
    candidates: DataFrame,
    k: int,
    lam: float = 0.5,
    id_col: str = "doc_id",
    vec_col: str = "embedding",
    rel_col: str = "score",
) -> list[tuple[int, int, float]]:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein
    1998): greedily pick ``MMR_i = lam*rel_i - (1-lam)*max_{s∈S}
    cos(i, s)`` — the relevance/diversity composition applied on top of
    a retrieval pool (``text_index_topk`` / ``cosine_topk`` output
    joined back to its vectors).

    The pool is MODEL-SIZED by contract (a re-ranker's input is a
    previous top-N, not a corpus) so it is collected ONCE and the
    greedy loop runs driver-side — O(k·N) rounded cosines over ≤N
    in-memory vectors, zero further Spark jobs. For corpus-scale
    diversity selection use ``kcenter_greedy`` instead. Returns
    ``[(rank, id, mmr_score), ...]`` rank 1..k; cosines and the MMR
    objective round to 6dp before comparison (the similarity-family
    convention), ties to the smallest id. Zero-vector candidates are
    rejected (undefined cosine)."""
    if k < 1:
        raise ValueError("mmr_rerank: k must be >= 1")
    if not 0.0 <= lam <= 1.0:
        raise ValueError("mmr_rerank: lam must be in [0, 1]")
    rows = candidates.select(
        F.col(id_col).alias("__id"),
        F.col(vec_col).alias("__v"),
        F.col(rel_col).cast("double").alias("__r"),
    ).collect()
    if not rows:
        return []
    pool = {}
    for r in rows:
        vec = [float(x) for x in r["__v"]]
        nrm = _py_norm(vec)
        if nrm == 0.0:
            raise ValueError(f"mmr_rerank: zero vector for id {r['__id']}")
        # duplicate ids rejected loudly (the duplicate-input convention
        # of the query-sized-input operators, e.g. bm25_scores /
        # text_index_topk_many): a silent dict last-wins would shrink
        # the effective pool and pick an arbitrary surviving relevance
        if int(r["__id"]) in pool:
            raise ValueError(
                f"mmr_rerank: duplicate candidate id {int(r['__id'])}"
            )
        pool[int(r["__id"])] = (vec, nrm, float(r["__r"]))

    def cosd(a, b):
        va, na, _ = pool[a]
        vb, nb, _ = pool[b]
        acc = 0.0
        for x, y in zip(va, vb):
            acc = acc + x * y
        return round(acc / (na * nb), _ROUND)

    out: list[tuple[int, int, float]] = []
    selected: list[int] = []
    while len(out) < k and len(selected) < len(pool):
        best = None
        for i in sorted(pool):
            if i in selected:
                continue
            penalty = max((cosd(i, s) for s in selected), default=0.0)
            mmr = round(lam * pool[i][2] - (1.0 - lam) * penalty, _ROUND)
            if best is None or mmr > best[0] or (mmr == best[0] and i < best[1]):
                best = (mmr, i)
        out.append((len(out) + 1, best[1], best[0]))
        selected.append(best[1])
    return out
