"""Skew-mitigation join: explicit key salting.

AQE's skew-join handling (enabled in session.py) splits oversized
post-shuffle partitions automatically; explicit salting is the manual tool
for cases AQE can't fix — e.g. a single hot key whose build side must
still be replicated, or sort-merge paths where one key dominates the
probe side. The fact side gains a salt in [0, salt); the dimension side is
replicated once per salt value; the join key becomes (key..., salt), so a
hot key's rows spread over ``salt`` reducers instead of one.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, functions as F

from hrdp_variant_load_pipeline_spark.runtime import estimated_bytes

SALT_COL = "__salt"


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    keys: Sequence[str],
    salt: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Equi-join ``fact ⋈ dim`` on ``keys`` with salt-spread hot keys.

    Correctness is salt-independent: every fact row carries exactly one
    salt value, and the dim side carries all of them, so each matching
    (fact, dim) pair appears exactly once. Salt is derived from a hash of
    the fact row's columns — deterministic, no RNG, survives recompute.
    """
    fact_s = fact.withColumn(
        SALT_COL, F.pmod(F.xxhash64(*[F.col(c) for c in fact.columns]), F.lit(salt))
    )
    dim_s = dim.withColumn(
        SALT_COL, F.explode(F.sequence(F.lit(0), F.lit(salt - 1)).cast("array<long>"))
    )
    out = fact_s.join(dim_s, [*keys, SALT_COL], how)
    return out.drop(SALT_COL)


def adaptive_salted_join(
    fact: DataFrame,
    dim: DataFrame,
    keys: Sequence[str],
    salt: int = 8,
    how: str = "inner",
    hot_threshold_rows: int | None = None,
    hot_threshold_frac: float | None = None,
    sample_fraction: float | None = None,
    max_hot_keys: int = 1024,
) -> DataFrame:
    """Two-path skew join: salt ONLY the keys that are actually hot.

    Blanket salting (``salted_join``) replicates the ENTIRE dim side
    ``salt`` times and widens every row's join key — measured 10x the
    plain join's cost on uniform keys at sf10 (r13 campaign), pure waste
    when no key is hot. This operator detects hot keys first (one
    map-side-combinable count over the fact keys, optionally on a
    ``sample_fraction`` when even one counting pass must be cheap), then
    routes: fact rows with hot keys take the salted path against a
    hot-keys-only dim slice; everything else takes the plain join. With
    no hot keys it degenerates to exactly the plain join. Results are
    identical to the plain join for any threshold (each pair appears in
    exactly one path), pinned in tests/test_edge_cases.py.

    ``hot_threshold_rows`` defaults to ``max(100_000, 16x the average
    rows-per-key)`` — a key only counts as hot when it would dominate a
    reducer, not merely exceed the mean. ``hot_threshold_frac`` is the
    SCALE-FREE alternative (mutually exclusive with the row form): a
    key is hot when it holds at least that fraction of all fact rows —
    the same predicate at sf0.001 and at 100 TB, which absolute row
    counts are not. It reuses the counting pass's own total, so it
    composes with ``sample_fraction`` unchanged. The hot set is MODEL-SIZED by
    construction (few keys can each hold >=16x the average);
    ``max_hot_keys`` fails loud past 1024 — that many "hot" keys means
    the distribution is broadly heavy, where blanket ``salted_join`` or
    AQE skew handling is the right tool. ``how`` supports inner/left
    (fact-preserving); right/full would split dim-preserving rows across
    the two paths and are refused.

    At 100 TB the detection pass shuffles one row per DISTINCT key
    (partial counts combine map-side), not the fact table; prefer
    ``sample_fraction`` ~0.001 there — a key holding >=20% of rows is
    unmissable in any sample."""
    if how not in ("inner", "left", "left_outer"):
        raise ValueError(
            f"adaptive_salted_join: how={how!r} is not fact-preserving; "
            "use inner or left"
        )
    src = (
        fact.sample(fraction=sample_fraction, seed=7)
        if sample_fraction
        else fact
    )
    counts = src.groupBy(*keys).count()
    # the threshold compares against SAMPLE-scale counts when sampling,
    # so every full-data quantity converts by the fraction exactly once:
    # the auto threshold's 16x-average term is already sample-scale
    # (counts came from the sample), only the absolute floor converts
    if hot_threshold_frac is not None:
        if hot_threshold_rows is not None:
            raise ValueError(
                "adaptive_salted_join: pass hot_threshold_rows OR "
                "hot_threshold_frac, not both"
            )
        if not (0.0 < hot_threshold_frac <= 1.0):
            raise ValueError(
                f"adaptive_salted_join: hot_threshold_frac="
                f"{hot_threshold_frac} not in (0, 1]"
            )
        s = counts.agg(F.sum("count")).collect()[0][0] or 0
        # sample-scale total x fraction = sample-scale threshold
        hot_threshold_rows = max(1, int(hot_threshold_frac * int(s)))
    elif hot_threshold_rows is None:
        tot = counts.agg(
            F.sum("count").alias("s"), F.count("*").alias("k")
        ).collect()[0]
        avg = (int(tot["s"]) / int(tot["k"])) if tot["k"] else 0.0
        floor = 100_000 * (sample_fraction or 1.0)
        hot_threshold_rows = max(1, int(max(floor, 16 * avg)))
    elif sample_fraction:
        hot_threshold_rows = max(1, int(hot_threshold_rows * sample_fraction))
    hot_rows = (
        counts.filter(F.col("count") >= hot_threshold_rows)
        .select(*keys)
        .limit(max_hot_keys + 1)
        .collect()
    )
    if not hot_rows:
        return fact.join(dim, list(keys), how)
    if len(hot_rows) > max_hot_keys:
        raise ValueError(
            f"adaptive_salted_join: >{max_hot_keys} hot keys at threshold "
            f"{hot_threshold_rows} — the key distribution is broadly "
            "heavy; use salted_join (blanket) or AQE skew handling"
        )
    spark = fact.sparkSession
    hot_df = F.broadcast(
        spark.createDataFrame(hot_rows, fact.select(*keys).schema).distinct()
    )
    fact_hot = fact.join(hot_df, list(keys), "left_semi")
    fact_cold = fact.join(hot_df, list(keys), "left_anti")
    dim_hot = dim.join(hot_df, list(keys), "left_semi")
    out_hot = salted_join(fact_hot, dim_hot, keys, salt=salt, how=how)
    out_cold = fact_cold.join(dim, list(keys), how)
    return out_cold.unionByName(out_hot)


#: Below this OPTIMIZER-ESTIMATED fact size, ``eager_agg_profitable``
#: returns False without running its sampled counting job: a sub-64 MB
#: probe side is a handful of tasks under either plan, so the routing
#: job (a fixed ~0.2 s driver-blocking action) can never pay for
#: itself — while at the scales where routing matters (the sf10 drill
#: stagings are ~GB; 100 TB facts are far past it) the estimate clears
#: the gate and the sample runs as before. The estimate is Catalyst's
#: logical-plan sizeInBytes (file bytes scaled by projected row width)
#: — no job, no I/O. 0 forces the sampled decision at any size.
SMALL_FACT_BYTES = 64 * 1024 * 1024
#: share of the fact rows ``eager_agg_profitable`` counts (seeded sample)
SAMPLE_FRACTION = 0.01
#: sampled max-key share / rows per key at which the rewrite pays
HOT_SHARE_THRESHOLD = 0.05
REDUCTION_THRESHOLD = 32.0


def eager_agg_profitable(fact: DataFrame, keys: Sequence[str]) -> bool:
    """Decide whether the eager-aggregation rewrite pays for THIS key
    distribution — the cost model behind ``pre_aggregated_join``'s auto
    mode, split out so the decision is unit-testable.

    Measured both ways at sf10 (60M lineitem rows): on UNIFORM keys
    (~4 rows/key) the rewrite LOSES ~35% (6.7 s vs 4.3 s plain warm) —
    the extra keyed hash agg costs more than the probe-side shrink
    saves; on the 20%-hot-key drill staging it WINS 2.4x (3.97 s vs
    9.5 s, r13 SKEW_DRILL) because the hot key collapses to one row
    before any reducer sees it. So: route to the rewrite when the
    sampled max-key share crosses ``HOT_SHARE_THRESHOLD`` (a dominant
    reducer exists — unmissable in any sample) or the sampled rows-per-
    key crosses ``REDUCTION_THRESHOLD`` (the probe side shrinks enough
    to pay for the agg; note sampling biases this estimate LOW on
    near-unique keys, which safely favors the plain join). One
    O(sample)-sized counting job; deterministic (seeded sample).

    Facts whose estimated size is under ``SMALL_FACT_BYTES`` skip the
    counting job entirely and take the plain join: both routes are
    value-identical by contract, and at that size either plan is
    trivial, so the only effect of sampling would be its own cost."""
    if SMALL_FACT_BYTES:
        est_bytes = estimated_bytes(fact)
        if est_bytes is not None and est_bytes < SMALL_FACT_BYTES:
            return False
    est = (
        fact.sample(fraction=SAMPLE_FRACTION, seed=7)
        .groupBy(*keys)
        .count()
        .agg(
            F.sum("count").alias("s"),
            F.count("*").alias("k"),
            F.max("count").alias("m"),
        )
        .collect()[0]
    )
    s = int(est["s"] or 0)
    if s == 0:
        return True  # degenerate/tiny sample: either plan is trivial
    hot_share = int(est["m"]) / s
    reduction = s / int(est["k"])
    return hot_share >= HOT_SHARE_THRESHOLD or reduction >= REDUCTION_THRESHOLD


def pre_aggregated_join(
    fact: DataFrame,
    dim: DataFrame,
    keys: Sequence[str],
    sum_cols: Sequence[str] = (),
    min_cols: Sequence[str] = (),
    max_cols: Sequence[str] = (),
    count_col: str = "n_rows",
    how: str = "inner",
    mode: str = "pre",
    finishing: bool = False,
) -> DataFrame:
    """Eager-aggregation rewrite: collapse the fact side to one row per
    join key BEFORE the join, carrying decomposable partials
    (``count``, per-column ``sum``/``min``/``max``), then join the dim.
    The caller finishes with ``sum(count_col)`` / ``sum(sum_<c>)`` /
    ``min(min_<c>)`` / ``max(max_<c>)`` grouped however it likes —
    algebraically exact for these aggregates (float sums reassociate,
    as any distributed sum already does).

    Why it exists (measured, r13 skew drill at sf10): when the join's
    consumer is aggregative, this is the strongest skew treatment AND
    the cheapest uniform plan — a key holding 20% of 60M rows collapses
    to ONE row before it ever reaches the join (3.97 s vs 9.5 s plain
    join vs 19.7 s blanket salting), and the join's probe side shrinks
    from |fact| to |distinct keys| everywhere. The pre-aggregation
    itself is a map-side-combinable hash agg — the hot key's partials
    combine inside each map task, so no reducer ever sees its raw rows.
    Catalyst does not perform this rewrite; it is the analyst's
    eager-aggregation transform packaged as an operator.

    Output columns: ``keys``, ``count_col``, ``sum_<c>``/``min_<c>``/
    ``max_<c>`` per requested column, plus the dim's columns. ``how``
    is fact-preserving (inner/left), same contract as
    ``adaptive_salted_join``.

    ``mode``: ``"pre"`` (default) always applies the rewrite;
    ``"plain"`` skips it — each fact row carries LITERAL partials
    (count 1, the column value itself), so the caller's finishing
    aggregates are unchanged and the results are identical up to float
    sum reassociation (which any distributed sum already has). NOTE the
    plain route's output grain is one row per FACT ROW, not per key —
    the partials are a PARTIAL-AGGREGATE contract, exact only under
    finishing aggregates (``sum(count_col)`` / ``sum(sum_<c>)`` /
    ``min(min_<c>)`` / ``max(max_<c>)``). A caller relying on per-key
    grain (reading the partial columns as final per-key values) would
    get a silently different frame from ``plain`` — and from ``auto``,
    depending on a runtime sample. So the grain-unstable modes require
    an explicit declaration: ``"plain"`` and ``"auto"`` raise unless
    ``finishing=True`` is passed, stating that downstream consumption
    is finishing aggregates only; per-key consumers use ``mode="pre"``
    (grain pinned in tests/test_edge_cases.py). ``"auto"`` routes via
    :func:`eager_agg_profitable` — one sampled counting job (skipped
    outright under its byte-size gate on small facts); measured at sf10
    it reclaims the uniform-key case (−35%) while keeping the hot-key
    win."""
    if how not in ("inner", "left", "left_outer"):
        raise ValueError(
            f"pre_aggregated_join: how={how!r} is not fact-preserving; "
            "use inner or left"
        )
    if mode not in ("pre", "plain", "auto"):
        raise ValueError(f"pre_aggregated_join: unknown mode {mode!r}")
    if mode in ("plain", "auto") and not finishing:
        raise ValueError(
            f"pre_aggregated_join: mode={mode!r} can emit one row per "
            "FACT ROW instead of one per key (partial-aggregate "
            "contract); pass finishing=True to declare that the result "
            "is consumed only through finishing aggregates "
            "(sum/min/max of the partial columns), or use mode='pre' "
            "for stable per-key grain"
        )
    aggs = [F.count("*").cast("long").alias(count_col)]
    aggs += [F.sum(c).alias(f"sum_{c}") for c in sum_cols]
    aggs += [F.min(c).alias(f"min_{c}") for c in min_cols]
    aggs += [F.max(c).alias(f"max_{c}") for c in max_cols]
    if mode == "auto":
        mode = "pre" if eager_agg_profitable(fact, keys) else "plain"
    if mode == "plain":
        # literal partials, cast to the EXACT types the keyed agg would
        # produce (sum widens int->long etc.) so both routes are
        # schema-identical for any downstream consumer
        agg_schema = {
            f.name: f.dataType
            for f in fact.groupBy(*keys).agg(*aggs).schema.fields
        }
        lits = [F.lit(1).cast(agg_schema[count_col]).alias(count_col)]
        lits += [
            F.col(c).cast(agg_schema[f"sum_{c}"]).alias(f"sum_{c}")
            for c in sum_cols
        ]
        lits += [
            F.col(c).cast(agg_schema[f"min_{c}"]).alias(f"min_{c}")
            for c in min_cols
        ]
        lits += [
            F.col(c).cast(agg_schema[f"max_{c}"]).alias(f"max_{c}")
            for c in max_cols
        ]
        pre = fact.select(*keys, *lits)
    else:
        pre = fact.groupBy(*keys).agg(*aggs)
    return pre.join(dim, list(keys), how)
