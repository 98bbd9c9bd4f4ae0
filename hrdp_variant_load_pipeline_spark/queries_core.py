"""Core relational query battery — SURVEY.md §2 operator inventory.

Each entry is (spark_fn, oracle_sql): the Spark function demonstrates the
operator through the DataFrame API; the oracle is independently-written
ANSI SQL for DuckDB over the same parquet views. Column names and rounding
are aligned on both sides so the driver's order-insensitive value-hash
matches (floats are rounded after casting to double — DuckDB would
otherwise keep float32).

Operator coverage mapping (§2 ids in parens) is noted per query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hrdp_variant_load_pipeline_spark.sources.tables import table

REGISTRY: dict[str, tuple] = {}


def q(name: str, sql: str | None):
    def deco(fn):
        REGISTRY[name] = (fn, sql)
        return fn

    return deco


# --------------------------------------------------------------------------
# aggregation pipeline (A*, §2.4; flagship) — TPC-H Q1 shape
@q(
    "q1_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity)::DOUBLE, 2) AS sum_qty,
           round(sum(l_extendedprice)::DOUBLE, 2) AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount))::DOUBLE, 2) AS sum_disc_price,
           round(avg(l_quantity)::DOUBLE, 4) AS avg_qty,
           round(avg(l_discount)::DOUBLE, 4) AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf: str) -> DataFrame:
    li = table(spark, sf, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "sum_disc_price"
            ),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


# multi-way equi join + agg + top-k (J6, O-sort/limit) — TPC-H Q3 shape
@q(
    "q3_shipping_priority",
    """
    SELECT l.l_orderkey AS orderkey,
           round(sum(l.l_extendedprice * (1 - l.l_discount))::DOUBLE, 2) AS revenue,
           strftime(o.o_orderdate, '%Y-%m-%d') AS orderdate
    FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
                    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
    GROUP BY l.l_orderkey, o.o_orderdate
    ORDER BY revenue DESC, orderkey ASC
    LIMIT 10
    """,
)
def q3_shipping_priority(spark: SparkSession, sf: str) -> DataFrame:
    c = table(spark, sf, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = table(spark, sf, "orders")
    li = table(spark, sf, "lineitem")
    # join order matters at scale: reduce orders through the broadcast
    # customer filter FIRST (~5x selectivity), so the fact-table join probes
    # the shrunken side. The shuffle_hash hint keeps the fact join a
    # partitioned hash join: without it the static planner broadcasts
    # whichever side's size ESTIMATE dips under the threshold — at ~sf1
    # that is lineitem's 3-column pruned scan, i.e. the fact side.
    oc = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .select("o_orderkey", "o_orderdate")
        .hint("shuffle_hash")
    )
    # pre-project the revenue product BEFORE the fact shuffle: the
    # exchange then carries (orderkey, rev) instead of (orderkey, price,
    # discount) — ~25% less payload, measured ~5-10% at sf1
    lr = li.select(
        "l_orderkey",
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("rev"),
    )
    return (
        lr.join(oc, lr.l_orderkey == oc.o_orderkey)
        .groupBy(lr.l_orderkey.alias("orderkey"), "o_orderdate")
        .agg(F.round(F.sum("rev"), 2).alias("revenue"))
        .select(
            "orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
        )
        .orderBy(F.desc("revenue"), F.asc("orderkey"))
        .limit(10)
    )


# 6-way join through dimension chain (J5/J6 shape at star-schema scale)
@q(
    "q5_nation_volume",
    """
    SELECT n.n_name AS nation,
           round(sum(l.l_extendedprice * (1 - l.l_discount))::DOUBLE, 2) AS revenue,
           count(*) AS n_items
    FROM region r JOIN nation n ON n.n_regionkey = r.r_regionkey
                  JOIN supplier s ON s.s_nationkey = n.n_nationkey
                  JOIN lineitem l ON l.l_suppkey = s.s_suppkey
                  JOIN orders o ON o.o_orderkey = l.l_orderkey
    WHERE r.r_name IN ('ASIA', 'EUROPE')
    GROUP BY n.n_name
    """,
)
def q5_nation_volume(spark: SparkSession, sf: str) -> DataFrame:
    # Join order for scale: collapse the dimension chain region→nation→
    # supplier FIRST (broadcast, zero shuffle) into a (s_suppkey, n_name)
    # map, reduce lineitem through it (the region predicate drops ~60% of
    # fact rows), and only THEN join orders — so the one fact-fact join
    # sees the reduced side, with its payload pre-projected to
    # (l_orderkey, n_name, rev). The orders side is pruned to its join
    # key. shuffle_hash on the fact join: measured at sf1 under the
    # bench profile it beats both the r9 fact-shuffle-first shape (1.01s)
    # and a broadcast of o_orderkey (0.88s — the 1.5M-key broadcast
    # build is driver-serial) at ~0.66-0.85s, and it is the only shape
    # that holds at 100 TB, where orders cannot broadcast and sort-merge
    # would pay two sorts. Floor note (BENCH_NOTES.md): the bare
    # l_orderkey⋈o_orderkey key join alone costs ~0.60s at sf1 — ~4× the
    # entire DuckDB query — so q5 is join-floor-bound, not plan-bound.
    r = table(spark, sf, "region").filter(F.col("r_name").isin("ASIA", "EUROPE"))
    n = table(spark, sf, "nation")
    s = table(spark, sf, "supplier")
    li = table(spark, sf, "lineitem")
    o = table(spark, sf, "orders")
    sred = (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("s_suppkey", "n_name")
    )
    lred = (
        li.select(
            "l_orderkey",
            "l_suppkey",
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("rev"),
        )
        .join(F.broadcast(sred), F.col("l_suppkey") == F.col("s_suppkey"))
        .select("l_orderkey", "n_name", "rev")
    )
    # hint on the ORDERS side so the per-partition hash build is the
    # skinny key column (BuildRight), not the wide reduced fact side
    oh = o.select("o_orderkey").hint("shuffle_hash")
    return (
        lred.join(oh, lred.l_orderkey == F.col("o_orderkey"))
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.round(F.sum("rev"), 2).alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


# scan + filter + projection with parquet pushdown (S1-S4, F1-F7)
@q(
    "scan_filter_project",
    """
    SELECT l_orderkey, l_linenumber,
           floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) / 100 AS disc_price,
           upper(l_returnflag) AS flag
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1996-01-01 00:00:00'
      AND l_quantity > 30
    """,
)
def scan_filter_project(spark: SparkSession, sf: str) -> DataFrame:
    li = table(spark, sf, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_quantity") > 30)
        )
        .select(
            "l_orderkey",
            "l_linenumber",
            # floor(x*100+0.5)/100 instead of F.round: identical IEEE754 ops
            # on both engines — Spark's round goes through BigDecimal's
            # shortest-decimal string and breaks ties differently than
            # DuckDB's exact-binary rounding
            (
                F.floor(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100 + 0.5)
                / 100
            ).alias("disc_price"),
            F.upper("l_returnflag").alias("flag"),
        )
    )


# existence joins, both polarities in one battery (J1 semi / J7+M3 anti):
# parts ever shipped in quantity >= 45 (EXISTS -> left_semi) unioned with
# customers that placed no order (NOT EXISTS -> left_anti)
@q(
    "join_semi_anti_tagged",
    """
    SELECT 'part_shipped_45' AS tag, p_partkey AS key FROM part p
    WHERE EXISTS (SELECT 1 FROM lineitem l WHERE l.l_partkey = p.p_partkey
                  AND l.l_quantity >= 45)
    UNION ALL
    SELECT 'cust_no_orders' AS tag, c_custkey AS key FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def join_semi_anti_tagged(spark: SparkSession, sf: str) -> DataFrame:
    # round-11 shape (best of 3 measured variants, BENCH_NOTES r11): both
    # halves shuffle-hash with the SKINNY key projection as the hinted
    # build side — no sort, no broadcast dependence (neither side
    # broadcasts at the 100 TB target). The anti build additionally
    # pre-distincts o_custkey: map-side combine shrinks the shuffle and
    # the hash table (~1.5M orders -> <=100k keys at sf1, measured
    # 1.14 -> 0.67 s for the anti half). The semi build keeps raw keys:
    # its distinct costs more than the ~3x build shrink saves (measured
    # 0.66 vs 0.85 s).
    p = table(spark, sf, "part")
    li = (
        table(spark, sf, "lineitem")
        .filter(F.col("l_quantity") >= 45)
        .select("l_partkey")
        .hint("shuffle_hash")
    )
    semi = (
        p.join(li, p.p_partkey == F.col("l_partkey"), "left_semi")
        .select(F.lit("part_shipped_45").alias("tag"), F.col("p_partkey").alias("key"))
    )
    c = table(spark, sf, "customer")
    o = (
        table(spark, sf, "orders")
        .select("o_custkey")
        .distinct()
        .hint("shuffle_hash")
    )
    anti = (
        c.join(o, c.c_custkey == F.col("o_custkey"), "left_anti")
        .select(F.lit("cust_no_orders").alias("tag"), F.col("c_custkey").alias("key"))
    )
    return semi.unionByName(anti)


# range/theta join (J3/J4 shape): customer balance within ±100 of supplier
@q(
    "join_range_acctbal",
    """
    SELECT c.c_custkey, count(s.s_suppkey) AS n_suppliers
    FROM customer c LEFT JOIN supplier s
      ON c.c_acctbal BETWEEN s.s_acctbal - 100 AND s.s_acctbal + 100
    GROUP BY c.c_custkey
    """,
)
def join_range_acctbal(spark: SparkSession, sf: str) -> DataFrame:
    c = table(spark, sf, "customer")
    s = table(spark, sf, "supplier")
    cond = (F.col("c_acctbal") >= F.col("s_acctbal") - 100) & (
        F.col("c_acctbal") <= F.col("s_acctbal") + 100
    )
    return (
        c.join(F.broadcast(s), cond, "left")
        .groupBy("c_custkey")
        .agg(F.count("s_suppkey").alias("n_suppliers"))
    )


# insert-if-absent (M1): 1995 shipments whose (partkey, suppkey) never
# appeared in 1994 — the variant-dedup anti-join shape
@q(
    "insert_if_absent",
    """
    WITH store AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
                   WHERE l_shipdate < TIMESTAMP '1995-01-01 00:00:00'),
         incoming AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
                      WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00')
    SELECT i.l_partkey, i.l_suppkey FROM incoming i
    WHERE NOT EXISTS (SELECT 1 FROM store s
                      WHERE s.l_partkey = i.l_partkey AND s.l_suppkey = i.l_suppkey)
    """,
)
def insert_if_absent(spark: SparkSession, sf: str) -> DataFrame:
    # both sides derive from ONE table, so the two distincts + anti-join
    # collapse to a single hash-aggregate: a pair is "incoming and not in
    # store" iff its earliest shipment is on/after the cutoff. One scan,
    # one shuffle (with map-side combine), no join — at 100 TB that's one
    # pass over lineitem instead of two scans plus a pair-key join. (The
    # true two-table anti-join shape — M1 against a separate store — is
    # plans/load.py and the join_semi_anti_tagged entry.)
    li = table(spark, sf, "lineitem")
    cut = F.lit("1995-01-01").cast("timestamp")
    return (
        li.groupBy("l_partkey", "l_suppkey")
        .agg(F.min("l_shipdate").alias("__first_ship"))
        .filter(F.col("__first_ship") >= cut)
        .select("l_partkey", "l_suppkey")
    )


# MERGE WHEN MATCHED UPDATE emulation (M2/M4): urgent orders get status 'U'
@q(
    "merge_update_status",
    """
    SELECT o_orderkey,
           CASE WHEN o_orderpriority = '1-URGENT' THEN 'U' ELSE o_orderstatus END
             AS o_orderstatus
    FROM orders
    """,
)
def merge_update_status(spark: SparkSession, sf: str) -> DataFrame:
    from hrdp_variant_load_pipeline_spark.operators.upsert import merge_update

    o = table(spark, sf, "orders").select("o_orderkey", "o_orderstatus")
    updates = (
        table(spark, sf, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_orderkey", F.lit("U").alias("o_orderstatus"))
    )
    return merge_update(o, updates, "o_orderkey", ["o_orderstatus"])


# surrogate key allocation (S9): deterministic row_number + base offset
@q(
    "surrogate_ids",
    """
    SELECT c_custkey,
           row_number() OVER (ORDER BY c_acctbal DESC, c_custkey) + 90000 AS new_id
    FROM customer WHERE c_mktsegment = 'MACHINERY'
    """,
)
def surrogate_ids(spark: SparkSession, sf: str) -> DataFrame:
    from hrdp_variant_load_pipeline_spark.operators.upsert import (
        assign_surrogate_ids_scalable,
    )

    c = table(spark, sf, "customer").filter(F.col("c_mktsegment") == "MACHINERY")
    # buckets of 1000 in -acctbal ascending coarsen acctbal descending
    # (c_acctbal is non-null)
    out, _, _ = assign_surrogate_ids_scalable(
        c.select("c_custkey", "c_acctbal"),
        order_by=[F.desc("c_acctbal"), F.asc("c_custkey")],
        buckets=[F.floor(-F.col("c_acctbal") / 1000)],
        base_id=90000,
        id_col="new_id",
    )
    return out.select("c_custkey", "new_id")


# window-function battery (§2.5): ranking + rank-filter (top-3 per
# customer), running-sum frame, lag/lead/first_value, ntile — two window
# specs over orders in one pass. Merged from the round-1 trio
# window_topk_per_group / window_running_sum / window_lead_lag so every
# registry entry fits the driver's 50-query correctness window.
@q(
    "window_battery",
    """
    SELECT * FROM (
      SELECT o_custkey, o_orderkey,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rnk,
             round(sum(o_totalprice) OVER (PARTITION BY o_custkey
                   ORDER BY o_orderdate, o_orderkey
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::DOUBLE, 2)
               AS running_total,
             round(lag(o_totalprice) OVER w::DOUBLE, 2) AS prev_price,
             round(lead(o_totalprice) OVER w::DOUBLE, 2) AS next_price,
             round(first_value(o_totalprice) OVER w::DOUBLE, 2) AS first_price,
             ntile(4) OVER w AS quartile
      FROM orders
      WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)) t
    WHERE rnk <= 3
    """,
)
def window_battery(spark: SparkSession, sf: str) -> DataFrame:
    o = table(spark, sf, "orders")
    w_rank = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    w_time = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    w_run = w_time.rowsBetween(Window.unboundedPreceding, 0)
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            F.row_number().over(w_rank).alias("rnk"),
            F.round(F.sum("o_totalprice").over(w_run), 2).alias("running_total"),
            F.round(F.lag("o_totalprice").over(w_time), 2).alias("prev_price"),
            F.round(F.lead("o_totalprice").over(w_time), 2).alias("next_price"),
            F.round(F.first("o_totalprice").over(w_time), 2).alias("first_price"),
            F.ntile(4).over(w_time).alias("quartile"),
        )
        .filter(F.col("rnk") <= 3)
    )


# distinct / approximate / percentile aggregation battery (§2.4 engine
# surface), one grouping. Exact count-distincts are cross-engine-comparable
# directly; approx_count_distinct sketches are engine-specific so the
# cross-engine check is the ACCURACY CONTRACT — each engine asserts its own
# approximation lands within 5% of exact and the booleans must agree.
# Merged from round-1 agg_count_distinct / agg_approx_distinct_check /
# agg_percentiles to fit the driver's 50-query correctness window.
@q(
    "agg_distinct_battery",
    """
    SELECT l_returnflag,
           count(DISTINCT l_partkey) AS n_parts,
           count(DISTINCT l_suppkey) AS n_supps,
           (abs(approx_count_distinct(l_partkey) - count(DISTINCT l_partkey))
              <= 0.05 * count(DISTINCT l_partkey)) AS approx_within_5pct,
           round(quantile_cont(l_quantity, 0.25)::DOUBLE, 4) AS p25,
           round(quantile_cont(l_quantity, 0.50)::DOUBLE, 4) AS p50,
           round(quantile_cont(l_quantity, 0.75)::DOUBLE, 4) AS p75
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_distinct_battery(spark: SparkSession, sf: str) -> DataFrame:
    li = table(spark, sf, "lineitem")
    # ONE scan, two-level aggregation. Level 1 is a GROUPING SETS hash
    # aggregate over (flag, partkey) / (flag, suppkey) / (flag, quantity):
    # the Expand triples the rows feeding the PARTIAL (map-side, codegen)
    # aggregate, but the shuffle carries only the distinct combinations
    # per set — the canonical 100 TB shape, where scan cost dominates and
    # three separate passes (the previous formulation) read the table
    # three times. Level 2 reduces the combination table per flag:
    # count-distinct = count of the set's rows, the HLL runs over deduped
    # keys (duplicates never change an HLL), and the exact percentiles are
    # frequency-weighted over the ~50 distinct (quantity, count) rows
    # instead of streaming 6M rows through the percentile object buffer.
    # Value-identical to the 3-pass form; ~35% faster at sf1 and one scan
    # instead of three. (A single MIXED agg — distincts + HLL +
    # percentile in one Aggregate — would force the Expand into an
    # interpreted ObjectHashAggregate, measured ~4x slower.)
    combos = li.groupingSets(
        [
            ["l_returnflag", "l_partkey"],
            ["l_returnflag", "l_suppkey"],
            ["l_returnflag", "l_quantity"],
        ],
        "l_returnflag",
        "l_partkey",
        "l_suppkey",
        "l_quantity",
    ).agg(F.count("*").alias("__cnt"))
    qty = "CASE WHEN l_quantity IS NOT NULL THEN l_quantity END"
    qfreq = "coalesce(CASE WHEN l_quantity IS NOT NULL THEN __cnt END, 1L)"
    return (
        combos.groupBy("l_returnflag")
        .agg(
            F.count(F.when(F.col("l_partkey").isNotNull(), 1)).alias("n_parts"),
            F.count(F.when(F.col("l_suppkey").isNotNull(), 1)).alias("n_supps"),
            F.expr(
                "approx_count_distinct("
                "CASE WHEN l_partkey IS NOT NULL THEN l_partkey END)"
            ).alias("__acd"),
            F.round(F.expr(f"percentile({qty}, 0.25, {qfreq})"), 4).alias("p25"),
            F.round(F.expr(f"percentile({qty}, 0.50, {qfreq})"), 4).alias("p50"),
            F.round(F.expr(f"percentile({qty}, 0.75, {qfreq})"), 4).alias("p75"),
        )
        .selectExpr(
            "l_returnflag",
            "n_parts",
            "n_supps",
            "abs(__acd - n_parts) <= 0.05 * n_parts AS approx_within_5pct",
            "p25",
            "p50",
            "p75",
        )
    )


# rollup / cube / grouping sets battery (§2.4): explicit GROUPING SETS
# spelling of the full CUBE lattice over (returnflag, linestatus) — the
# four sets (a,b),(a),(b),() are exactly CUBE(a,b), and the ROLLUP sets
# are the (a,b),(a),() subset — with grouping() markers disambiguating
# genuine NULL keys from super-aggregate rows. Spark side goes through
# spark.sql to exercise the SQL GROUPING SETS surface; the DataFrame
# .rollup()/.cube() API is pinned equivalent in tests/test_edge_cases.py.
# Merged from round-1 rollup_qty / grouping_sets_marked /
# cube_status_priority to fit the driver's 50-query correctness window.
@q(
    "grouping_sets_battery",
    """
    SELECT coalesce(l_returnflag, '-') AS rf,
           coalesce(l_linestatus, '-') AS ls,
           grouping(l_returnflag)::INT AS g_rf,
           grouping(l_linestatus)::INT AS g_ls,
           count(*) AS n,
           round(sum(l_quantity)::DOUBLE, 2) AS sum_qty
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
                            (l_returnflag), (l_linestatus), ())
    """,
)
def grouping_sets_battery(spark: SparkSession, sf: str) -> DataFrame:
    table(spark, sf, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(
        """
        SELECT coalesce(l_returnflag, '-') AS rf,
               coalesce(l_linestatus, '-') AS ls,
               cast(grouping(l_returnflag) AS INT) AS g_rf,
               cast(grouping(l_linestatus) AS INT) AS g_ls,
               count(*) AS n,
               round(sum(l_quantity), 2) AS sum_qty
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
                                (l_returnflag), (l_linestatus), ())
        """
    )


# set operations (§2.7): intersect / except with tags
@q(
    "set_ops_tagged",
    """
    SELECT 'both' AS tag, c_custkey FROM
      (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
       INTERSECT
       SELECT o_custkey FROM orders WHERE o_totalprice > 200000) t
    UNION ALL
    SELECT 'only_building' AS tag, c_custkey FROM
      (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
       EXCEPT
       SELECT o_custkey FROM orders WHERE o_totalprice > 200000) t2
    """,
)
def set_ops_tagged(spark: SparkSession, sf: str) -> DataFrame:
    c = (
        table(spark, sf, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    o = (
        table(spark, sf, "orders")
        .filter(F.col("o_totalprice") > 200000)
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    both = c.intersect(o).select(F.lit("both").alias("tag"), "c_custkey")
    only = c.exceptAll(o.distinct()).distinct().select(
        F.lit("only_building").alias("tag"), "c_custkey"
    )
    return both.unionByName(only)


# generator / explode (§2.9 multi-allelic expansion shape)
@q(
    "explode_words",
    """
    SELECT p_partkey, t.word
    FROM part, unnest(string_split(p_name, ' ')) AS t(word)
    WHERE p_partkey <= 50
    """,
)
def explode_words(spark: SparkSession, sf: str) -> DataFrame:
    p = table(spark, sf, "part").filter(F.col("p_partkey") <= 50)
    return p.select("p_partkey", F.explode(F.split("p_name", " ")).alias("word"))


# scalar function surface (§2.8), string + math + datetime in one battery:
# split/substr/replace/length/contains/startswith/null-safe equality/int
# parse plus abs/ceil/floor/mod/power/sqrt/ln/sign/greatest/least over
# part, equi-joined (p_partkey = l_orderkey) with extract/trunc/diff/add
# over lineitem dates. Merged from round-1 scalar_string_funcs /
# scalar_math_funcs and round-2 scalar_datetime_funcs to fit the driver's
# 50-query correctness window (types stay native — a union-tagged long
# format would force cross-engine float-to-string casts).
@q(
    "scalar_funcs_battery",
    """
    WITH s AS (
    SELECT p_partkey,
           string_split(p_type, ' ')[1] AS type_head,
           substring(p_name, 1, 5) AS name5,
           replace(p_brand, 'Brand#', 'B') AS brand_short,
           length(p_name) AS name_len,
           CASE WHEN p_type LIKE '%BRUSHED%' THEN 'Y' ELSE 'N' END AS has_brushed,
           CASE WHEN p_name LIKE 'a%' THEN 'Y' ELSE 'N' END AS starts_a,
           CASE WHEN p_brand IS NOT DISTINCT FROM 'Brand#1' THEN 1 ELSE 0 END AS null_safe_eq,
           CAST(p_size AS INTEGER) + 1 AS size_plus,
           round(p_retailprice::DOUBLE / 7, 3) AS price_div,
           round(abs(p_retailprice)::DOUBLE, 2) AS abs_price,
           ceil(p_retailprice)::BIGINT AS ceil_price,
           floor(p_retailprice)::BIGINT AS floor_price,
           p_partkey % 7 AS mod7,
           round(sqrt(abs(p_retailprice))::DOUBLE, 4) AS sqrt_price,
           round(ln(p_partkey + 1)::DOUBLE, 4) AS ln_key,
           sign(p_size - 25)::INT AS sgn,
           greatest(p_partkey % 5, p_partkey % 3) AS gmax,
           least(p_partkey % 5, p_partkey % 3) AS lmin,
           'https://www.site' || (p_partkey % 5) || '.co.uk/p/' || p_partkey
             || '?ref=' || (p_partkey % 3) AS url_norm,
           'site' || (p_partkey % 5) || '.co.uk' AS url_domain,
           'reach <EMAIL> or call <PHONE> from <IP> ref ' || p_partkey
             AS pii_scrubbed
    FROM part
    ),
    d AS (
    SELECT l_orderkey, l_linenumber,
           year(l_shipdate) AS ship_year,
           month(l_shipdate) AS ship_month,
           dayofweek(l_shipdate) AS ship_dow,
           strftime(date_trunc('month', l_shipdate), '%Y-%m-%d') AS ship_month_start,
           datediff('day', TIMESTAMP '1995-01-01 00:00:00', l_shipdate) AS days_since_95,
           strftime(l_shipdate + INTERVAL 30 DAY, '%Y-%m-%d') AS due_date
    FROM lineitem WHERE l_orderkey <= 100
    )
    SELECT s.*, d.l_orderkey, d.l_linenumber, d.ship_year, d.ship_month,
           d.ship_dow, d.ship_month_start, d.days_since_95, d.due_date
    FROM s JOIN d ON s.p_partkey = d.l_orderkey
    """,
)
def scalar_funcs_battery(spark: SparkSession, sf: str) -> DataFrame:
    from hrdp_variant_load_pipeline_spark.functions import text as _txt_fns
    from hrdp_variant_load_pipeline_spark.functions import url as _url_fns

    def _messy_url(key):
        return F.concat(
            F.lit("HTTPS://WWW.Site"),
            (key % 5).cast("string"),
            F.lit(".CO.UK:443/p/"),
            key.cast("string"),
            F.lit("?utm_campaign=x&ref="),
            (key % 3).cast("string"),
            F.lit("&utm_id=1"),
        )

    p = table(spark, sf, "part")
    k = F.col("p_partkey")
    price = F.col("p_retailprice")
    s = p.select(
        "p_partkey",
        F.split("p_type", " ").getItem(0).alias("type_head"),
        F.substring("p_name", 1, 5).alias("name5"),
        F.replace(F.col("p_brand"), F.lit("Brand#"), F.lit("B")).alias("brand_short"),
        F.length("p_name").alias("name_len"),
        F.when(F.col("p_type").contains("BRUSHED"), "Y").otherwise("N").alias("has_brushed"),
        F.when(F.col("p_name").startswith("a"), "Y").otherwise("N").alias("starts_a"),
        F.col("p_brand").eqNullSafe(F.lit("Brand#1")).cast("int").alias("null_safe_eq"),
        (F.col("p_size").cast("int") + 1).alias("size_plus"),
        F.round(price / 7, 3).alias("price_div"),
        F.round(F.abs(price), 2).alias("abs_price"),
        F.ceil(price).alias("ceil_price"),
        F.floor(price).alias("floor_price"),
        (k % 7).alias("mod7"),
        F.round(F.sqrt(F.abs(price)), 4).alias("sqrt_price"),
        F.round(F.log(k + 1), 4).alias("ln_key"),
        F.signum(F.col("p_size") - 25).cast("int").alias("sgn"),
        F.greatest(k % 5, k % 3).alias("gmax"),
        F.least(k % 5, k % 3).alias("lmin"),
        # URL canonicalization rows: the raw url is deliberately messy
        # (upper-case scheme/host, default port, interleaved tracking
        # params) and the ORACLE writes the EXPECTED canonical string in
        # closed form — an independent expectation, not a port of the
        # implementation
        _url_fns.normalize_url(_messy_url(k)).alias("url_norm"),
        # PSL path, not the builtin heuristic: this drives the bundled
        # snapshot's rule-probe expression through the driver gate (the
        # expected value is the same closed-form 'site<N>.co.uk' — co.uk
        # is an exact 2-label rule — so the oracle stays independent)
        _url_fns.registered_domain(
            _messy_url(k), psl=_url_fns.default_psl()
        ).alias("url_domain"),
        # PII redaction row: the raw text embeds a per-key email, phone,
        # and IP; the oracle writes the EXPECTED scrubbed string in
        # closed form — only the redactor working on per-row-varying
        # spans produces it
        _txt_fns.redact_pii(
            F.concat(
                F.lit("reach p"),
                k.cast("string"),
                F.lit("@site"),
                (k % 5).cast("string"),
                F.lit(".co.uk or call 555-"),
                (100 + k % 900).cast("string"),
                F.lit("-"),
                (1000 + k % 9000).cast("string"),
                F.lit(" from 10.0."),
                (k % 256).cast("string"),
                F.lit(".7 ref "),
                k.cast("string"),
            )
        ).alias("pii_scrubbed"),
    )
    li = table(spark, sf, "lineitem").filter(F.col("l_orderkey") <= 100)
    d = li.select(
        "l_orderkey",
        "l_linenumber",
        F.year("l_shipdate").alias("ship_year"),
        F.month("l_shipdate").alias("ship_month"),
        # DuckDB dayofweek: 0=Sunday; Spark dayofweek: 1=Sunday
        (F.dayofweek("l_shipdate") - 1).alias("ship_dow"),
        F.date_format(F.date_trunc("month", "l_shipdate"), "yyyy-MM-dd").alias(
            "ship_month_start"
        ),
        F.datediff(
            F.to_date("l_shipdate"), F.lit("1995-01-01").cast("date")
        ).alias("days_since_95"),
        F.date_format(F.col("l_shipdate") + F.expr("INTERVAL 30 DAYS"), "yyyy-MM-dd").alias(
            "due_date"
        ),
    )
    # the part battery is tiny (one row per part) — broadcast it so the
    # merged battery adds no shuffle over the pre-merge pair of scans
    return d.join(F.broadcast(s), s["p_partkey"] == d["l_orderkey"])


# correlated-aggregate join battery (TPC-H Q17 + Q18 shapes, merged to fit
# the driver's 50-query correctness window): lineitems below 20% of their
# part's average quantity (decorrelated scalar subquery) and orders whose
# total quantity exceeds 250 (grouped HAVING), union-tagged into one
# (src, k, v) frame so both shapes share a driver row
@q(
    "correlated_agg_battery",
    """
    WITH pa AS (SELECT l_partkey, avg(l_quantity) AS avg_qty
                FROM lineitem GROUP BY l_partkey),
    q17 AS (SELECT count(*) AS n_lines,
                   round(sum(l.l_extendedprice)::DOUBLE / 7.0, 2) AS avg_yearly
            FROM lineitem l JOIN pa ON l.l_partkey = pa.l_partkey
            WHERE l.l_quantity < 0.2 * pa.avg_qty),
    q18 AS (SELECT l_orderkey, round(sum(l_quantity)::DOUBLE, 2) AS total_qty
            FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 250)
    SELECT 'q17' AS src, 'n_lines' AS k, n_lines::DOUBLE AS v FROM q17
    UNION ALL
    SELECT 'q17' AS src, 'avg_yearly' AS k, avg_yearly AS v FROM q17
    UNION ALL
    SELECT 'q18' AS src, l_orderkey::VARCHAR AS k, total_qty AS v FROM q18
    """,
)
def correlated_agg_battery(spark: SparkSession, sf: str) -> DataFrame:
    li = table(spark, sf, "lineitem")
    pa = li.groupBy("l_partkey").agg(F.avg("l_quantity").alias("avg_qty"))
    q17 = (
        li.join(pa, "l_partkey")
        .filter(F.col("l_quantity") < 0.2 * F.col("avg_qty"))
        .agg(
            F.count("*").alias("n_lines"),
            F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"),
        )
        .select(
            F.explode(
                F.array(
                    F.struct(
                        F.lit("n_lines").alias("k"),
                        F.col("n_lines").cast("double").alias("v"),
                    ),
                    F.struct(
                        F.lit("avg_yearly").alias("k"), F.col("avg_yearly").alias("v")
                    ),
                )
            ).alias("kv")
        )
        .select(F.lit("q17").alias("src"), F.col("kv.k").alias("k"), F.col("kv.v").alias("v"))
    )
    q18 = (
        li.groupBy("l_orderkey")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("total_qty"),
            F.sum("l_quantity").alias("__raw"),
        )
        .filter(F.col("__raw") > 250)
        .select(
            F.lit("q18").alias("src"),
            F.col("l_orderkey").cast("string").alias("k"),
            F.col("total_qty").alias("v"),
        )
    )
    return q17.unionAll(q18)


# pivot + unpivot round-trip (engine surface): lineitem metrics are melted
# wide->long (unpivot), then pivoted long->wide again — a wrong unpivot or
# pivot breaks the round-trip values. The DuckDB oracle goes through the
# same long form (UNION ALL melt, conditional-aggregation pivot). Merged
# from round-1 pivot_status / unpivot_metrics to fit the driver's 50-query
# correctness window.
@q(
    "pivot_unpivot_roundtrip",
    """
    WITH long AS (
      SELECT l_orderkey, l_linenumber, 'quantity' AS metric,
             round(l_quantity::DOUBLE, 2) AS value
      FROM lineitem WHERE l_orderkey <= 50
      UNION ALL
      SELECT l_orderkey, l_linenumber, 'discount', round(l_discount::DOUBLE, 2)
      FROM lineitem WHERE l_orderkey <= 50
      UNION ALL
      SELECT l_orderkey, l_linenumber, 'tax', round(l_tax::DOUBLE, 2)
      FROM lineitem WHERE l_orderkey <= 50)
    SELECT l_orderkey, l_linenumber,
           max(CASE WHEN metric = 'quantity' THEN value END) AS quantity,
           max(CASE WHEN metric = 'discount' THEN value END) AS discount,
           max(CASE WHEN metric = 'tax' THEN value END) AS tax
    FROM long GROUP BY l_orderkey, l_linenumber
    """,
)
def pivot_unpivot_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    li = table(spark, sf, "lineitem").filter(F.col("l_orderkey") <= 50)
    long = li.unpivot(
        ["l_orderkey", "l_linenumber"],
        ["l_quantity", "l_discount", "l_tax"],
        "metric",
        "value",
    ).select(
        "l_orderkey",
        "l_linenumber",
        F.regexp_replace("metric", "^l_", "").alias("metric"),
        F.round(F.col("value").cast("double"), 2).alias("value"),
    )
    return (
        long.groupBy("l_orderkey", "l_linenumber")
        .pivot("metric", ["quantity", "discount", "tax"])
        # max, not first: (l_orderkey, l_linenumber) is NOT unique in the
        # synthetic lineitem, so the pick must be deterministic cross-engine
        .agg(F.max("value"))
    )


# SQL entry point (engine surface): the same catalog through spark.sql —
# TPC-H Q6 forecasting-revenue shape
@q(
    "sql_interface_q6",
    """
    SELECT round(sum(l_extendedprice * l_discount)::DOUBLE, 2) AS revenue,
           count(*) AS n
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1994-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1995-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def sql_interface_q6(spark: SparkSession, sf: str) -> DataFrame:
    table(spark, sf, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(
        """
        SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue,
               count(*) AS n
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1994-01-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1995-01-01 00:00:00'
          AND l_discount BETWEEN 0.05 AND 0.07
          AND l_quantity < 24
        """
    )


# event-time tumbling window (streaming-equivalent batch form, §2.10)
@q(
    "events_tumbling_counts",
    """
    SELECT ((epoch_us(ts) // 1000000) // 300) AS bucket, event_type,
           count(*) AS n, round(sum(value)::DOUBLE, 2) AS total
    FROM events GROUP BY 1, 2
    """,
)
def events_tumbling_counts(spark: SparkSession, sf: str) -> DataFrame:
    e = table(spark, sf, "events")
    # ts.cast(long) is epoch seconds, same as unix_timestamp but ~20%
    # faster at the 100x staging (skips the session-timezone formatting
    # machinery in codegen); truncation == floor for positive epochs
    return (
        e.withColumn("bucket", (F.col("ts").cast("long") / 300).cast("long"))
        .groupBy("bucket", "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total"))
    )


# sessionization: 30-minute inactivity gap per user
@q(
    "events_sessionize",
    """
    WITH g AS (
      SELECT user_id, ts,
             CASE WHEN (epoch_us(ts) // 1000000) - (epoch_us(lag(ts) OVER (PARTITION BY user_id
                   ORDER BY ts, event_id)) // 1000000) > 1800
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events)
    SELECT user_id, CAST(sum(new_session) AS BIGINT) AS n_sessions, count(*) AS n_events
    FROM g GROUP BY user_id
    """,
)
def events_sessionize(spark: SparkSession, sf: str) -> DataFrame:
    e = table(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("ts").over(w)
    new_session = F.when(
        prev.isNull()
        | ((F.col("ts").cast("long") - prev.cast("long")) > 1800),
        1,
    ).otherwise(0)
    return (
        e.withColumn("new_session", new_session)
        .groupBy("user_id")
        .agg(F.sum("new_session").alias("n_sessions"), F.count("*").alias("n_events"))
    )


# as-of join (absent in reference; §2.3 engine extension): for each click,
# the most recent prior purchase value of the same user
@q(
    "events_asof_last_purchase",
    """
    WITH w AS (
      SELECT event_id, user_id, event_type, ts,
             last_value(CASE WHEN event_type = 'purchase' THEN value END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS last_purchase
      FROM events)
    SELECT event_id, user_id, round(last_purchase::DOUBLE, 2) AS last_purchase
    FROM w WHERE event_type = 'click'
    """,
)
def events_asof_last_purchase(spark: SparkSession, sf: str) -> DataFrame:
    e = table(spark, sf, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    last_purchase = F.last(
        F.when(F.col("event_type") == "purchase", F.col("value")), ignorenulls=True
    ).over(w)
    return (
        e.withColumn("last_purchase", last_purchase)
        .filter(F.col("event_type") == "click")
        .select("event_id", "user_id", F.round("last_purchase", 2).alias("last_purchase"))
    )


# semi-structured extraction (engine surface; events.props is JSON text)
@q(
    "events_json_extract",
    """
    SELECT event_id, json_extract_string(props, '$.k')::BIGINT AS k
    FROM events WHERE json_extract_string(props, '$.k') IS NOT NULL
    """,
)
def events_json_extract(spark: SparkSession, sf: str) -> DataFrame:
    e = table(spark, sf, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return e.select("event_id", k.alias("k")).filter(F.col("k").isNotNull())
