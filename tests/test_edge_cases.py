"""Edge-case hardening: empty inputs, unknown samples, malformed cells."""

from __future__ import annotations

import gzip

import pytest
from pyspark.sql import functions as F

from hrdp_variant_load_pipeline_spark import schemas
from hrdp_variant_load_pipeline_spark.operators.dedup import (
    connected_components,
    minhash_lsh_pairs,
)
from hrdp_variant_load_pipeline_spark.plans.genic_qc import genic_qc
from hrdp_variant_load_pipeline_spark.plans.load import run_load
from hrdp_variant_load_pipeline_spark.sources.vcf import read_vcf

HEADER = "##fileformat=VCFv4.2\n#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\tS1\tGHOST\n"


def _load(spark, tmp_path, body, samples_rows):
    vdir = tmp_path / "v"
    vdir.mkdir()
    with gzip.open(vdir / "A_B_2020_v1_PASS.vcf.gz", "wt") as f:
        f.write(HEADER + body)
    vcf = read_vcf(spark, str(vdir))
    genes = spark.createDataFrame([(1, "1", 50, 150, "ACTIVE", 372)], schemas.GENE)
    samples = spark.createDataFrame(samples_rows, schemas.SAMPLE)
    return run_load(
        vcf,
        genes,
        samples,
        spark.createDataFrame([], schemas.VARIANT),
        spark.createDataFrame([], schemas.VARIANT_SAMPLE_DETAIL),
        map_key=372,
        next_rgd_id=1,
    )


def test_unknown_sample_column_dropped_not_crashed(spark, tmp_path):
    """GHOST has no dimension row: its cells drop (the reference would NPE,
    documented divergence); S1 still loads."""
    body = "chr1\t100\t.\tA\tG\t50\tPASS\t.\tGT:AD:DP\t0/1:5,5:10\t0/1:5,5:10\n"
    res = _load(spark, tmp_path, body, [(1, "S1", "U", 380, 372, None, None, None)])
    details = res.new_sample_details.collect()
    assert len(details) == 1 and details[0]["sample_id"] == 1


def test_all_filtered_vcf_yields_empty_outputs(spark, tmp_path):
    body = (
        "chr1_scaffold\t10\t.\tA\tG\t50\tPASS\t.\tGT:AD:DP\t0/1:5,5:10\t./.:.:.\n"
        "chr2\t20\t.\tC\tT\t50\tPASS\t.\tGT:AD:DP\t0/0:9,0:9\t./.:.:.\n"
    )
    res = _load(spark, tmp_path, body, [(1, "S1", "U", 380, 372, None, None, None)])
    # scaffold line dropped entirely; chr2 line survives as a variant but
    # yields no sample details (all GTs filtered)
    assert res.new_variants.count() == 1
    assert res.new_sample_details.count() == 0


def test_malformed_cells_yield_null_depth_rows(spark, tmp_path):
    """Cells with truncated AD / non-numeric DP survive with nulls instead
    of aborting the job (ANSI-safe scan path)."""
    body = "chr1\t100\t.\tA\tG\t50\tPASS\t.\tGT:AD:DP\t0/1:7:xyz\t0/1:3,4:12\n"
    res = _load(
        spark,
        tmp_path,
        body,
        [(1, "S1", "U", 380, 372, None, None, None), (2, "GHOST", "U", 380, 372, None, None, None)],
    )
    rows = {r["sample_id"]: r for r in res.new_sample_details.collect()}
    # S1: AD has no allele entry at index 1 -> no detail row (var_freq null)
    # GHOST: proper cell -> detail row with depth 12
    assert set(rows) == {2}
    assert rows[2]["total_depth"] == 12


def test_genic_qc_empty_store_and_empty_genes(spark):
    empty_v = spark.createDataFrame([], schemas.VARIANT)
    genes = spark.createDataFrame([], schemas.GENE)
    assert genic_qc(empty_v, genes, map_key=372).count() == 0

    one = spark.createDataFrame(
        [(1, None, None, None, None, "snv", 3, "1", None, 100, 101, "GENIC", 372)],
        schemas.VARIANT,
    )
    # no genes -> everything INTERGENIC -> the GENIC row drifts
    drift = genic_qc(one, genes, map_key=372).collect()
    assert [(r["rgd_id"], r["genic_status"]) for r in drift] == [(1, "INTERGENIC")]


def test_minhash_empty_and_single_doc(spark):
    empty = spark.createDataFrame([], "doc_id long, text string")
    assert minhash_lsh_pairs(empty, "doc_id", "text").count() == 0
    one = spark.createDataFrame([(1, "a b c d e")], "doc_id long, text string")
    assert minhash_lsh_pairs(one, "doc_id", "text").count() == 0


def test_minhash_signature_forms_agree(spark):
    """The exploded-rows signature form (minhash_signatures, the public
    per-doc API) and the array-column form the LSH path uses
    (_with_minhash_cols) must compute IDENTICAL mh values."""
    from pyspark.sql import functions as F

    from hrdp_variant_load_pipeline_spark.operators.dedup import (
        _with_minhash_cols,
        minhash_signatures,
        shingle_array,
    )

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "pack my box with five dozen liquor jugs"),
            (3, "the quick brown fox naps near the lazy dog"),
        ],
        "doc_id long, text string",
    )
    agg_form = {
        r["doc"]: tuple(r[f"mh{i}"] for i in range(6))
        for r in minhash_signatures(docs, "doc_id", "text").collect()
    }
    arr_form = {
        r["doc"]: tuple(r[f"mh{i}"] for i in range(6))
        for r in _with_minhash_cols(
            docs.select(
                F.col("doc_id").alias("doc"),
                shingle_array(F.col("text"), 3).alias("sh"),
            ),
            6,
        ).drop("sh").collect()
    }
    assert agg_form == arr_form and len(agg_form) == 3


def test_connected_components_chain_and_star(spark):
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (10, 12), (10, 13)],
        "doc_a long, doc_b long",
    )
    out = {r["doc"]: r["cluster"] for r in connected_components(pairs).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10, 13: 10}


def test_merge_update_duplicate_update_keys_no_fanout(spark):
    """Duplicate keys in the update set must NOT fan out store rows (that
    would duplicate the store after overwrite); the max set-col tuple per
    key wins, deterministically."""
    from hrdp_variant_load_pipeline_spark.operators.upsert import merge_update

    store = spark.createDataFrame(
        [(1, 10, "a"), (2, 20, "b"), (3, 30, "c")], "k long, end_pos long, tag string"
    )
    updates = spark.createDataFrame(
        [(1, 15), (1, 17), (2, 25)], "k long, end_pos long"
    )
    out = merge_update(store, updates, "k", ["end_pos"]).orderBy("k").collect()
    assert len(out) == 3
    assert [(r["k"], r["end_pos"], r["tag"]) for r in out] == [
        (1, 17, "a"),  # max of the two duplicate updates
        (2, 25, "b"),
        (3, 30, "c"),
    ]


def test_connected_components_releases_round_checkpoints(spark):
    """Only the FINAL round's checkpoint (the returned frame's backing
    data) may remain persisted; superseded rounds and the edge cache must
    be released — an unbounded chain of round checkpoints is a storage
    leak in iterative jobs."""
    from hrdp_variant_load_pipeline_spark.operators.dedup import (
        connected_components,
    )

    def cached_ids():
        sc = spark.sparkContext
        return {int(k) for k in sc._jsc.getPersistentRDDs().keySet().toArray()}

    # chain 0-1-2-...-9: diameter 9 forces many propagation rounds
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(9)], "doc_a long, doc_b long"
    )
    before = cached_ids()
    out = connected_components(pairs)
    rows = {(r["doc"], r["cluster"]) for r in out.collect()}
    assert rows == {(i, 0) for i in range(10)}
    leftover = cached_ids() - before
    assert len(leftover) <= 1, f"round checkpoints leaked: {leftover}"


def test_adaptive_salted_join_matches_plain_join(spark):
    """Two-path skew join == plain join on a skewed frame (one key holds
    ~half the rows), for inner and left, with per-pair multiplicity
    preserved; the hot path must actually engage (plan shows the salt
    machinery) at a threshold the hot key crosses."""
    from hrdp_variant_load_pipeline_spark.operators.skew import (
        adaptive_salted_join,
    )

    fact = spark.range(10000).selectExpr(
        "CASE WHEN id % 2 = 0 THEN 1L ELSE 2 + id % 500 END AS k",
        "id AS v",
    )
    # dim misses key 451.. and carries a duplicate row for key 2 (join
    # multiplicity must survive the two-path split)
    dim = spark.createDataFrame(
        [(1, "hot"), (2, "a"), (2, "b")]
        + [(i, f"d{i}") for i in range(3, 452)],
        "k long, tag string",
    )
    for how in ("inner", "left"):
        got = sorted(
            map(
                tuple,
                adaptive_salted_join(
                    fact, dim, ["k"], salt=4, how=how,
                    hot_threshold_rows=1000,
                ).collect(),
            )
        )
        want = sorted(map(tuple, fact.join(dim, ["k"], how).collect()))
        assert got == want and got
    plan = (
        adaptive_salted_join(
            fact, dim, ["k"], salt=4, hot_threshold_rows=1000
        )
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "__salt" in plan  # hot path engaged


def test_adaptive_salted_join_degenerates_to_plain_on_uniform(spark):
    """No hot keys -> EXACTLY the plain join plan: no salt column, no
    dim replication, no count-pass residue in the executed plan."""
    from hrdp_variant_load_pipeline_spark.operators.skew import (
        adaptive_salted_join,
    )

    fact = spark.range(2000).selectExpr("id % 500 AS k", "id AS v")
    dim = spark.range(500).selectExpr("id AS k", "concat('d', id) AS tag")
    out = adaptive_salted_join(fact, dim, ["k"], salt=8)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "__salt" not in plan
    assert out.count() == 2000


def test_adaptive_salted_join_guards(spark):
    from hrdp_variant_load_pipeline_spark.operators.skew import (
        adaptive_salted_join,
    )

    fact = spark.range(100).selectExpr("id AS k", "id AS v")
    dim = spark.range(100).selectExpr("id AS k", "id AS tag")
    with pytest.raises(ValueError, match="fact-preserving"):
        adaptive_salted_join(fact, dim, ["k"], how="full")
    # every key "hot" at threshold 1 with a tiny cap -> loud refusal
    with pytest.raises(ValueError, match="hot keys"):
        adaptive_salted_join(
            fact, dim, ["k"], hot_threshold_rows=1, max_hot_keys=10
        )


def test_pre_aggregated_join_matches_naive_join_agg(spark):
    """Eager-aggregation rewrite == naive join-then-aggregate for
    count/sum/min/max, on a skewed fact (one key ~half the rows), for
    inner and left (unmatched fact keys survive left with null dim)."""
    from hrdp_variant_load_pipeline_spark.operators.skew import (
        pre_aggregated_join,
    )

    fact = spark.range(10000).selectExpr(
        "CASE WHEN id % 2 = 0 THEN 1L ELSE 2 + id % 400 END AS k",
        "cast(id % 977 AS double) AS x",
    )
    dim = spark.createDataFrame(
        [(i, f"d{i}") for i in range(1, 300)], "k long, tag string"
    )
    for how in ("inner", "left"):
        # left-join rows carry tag=None; sort by repr so None and str
        # compare
        got = sorted(
            map(
                tuple,
                pre_aggregated_join(
                    fact, dim, ["k"],
                    sum_cols=["x"], min_cols=["x"], max_cols=["x"],
                    how=how,
                )
                .groupBy("tag")
                .agg(
                    F.sum("n_rows").cast("long").alias("n"),
                    F.round(F.sum("sum_x"), 6).alias("s"),
                    F.min("min_x").alias("lo"),
                    F.max("max_x").alias("hi"),
                )
                .collect(),
            ),
            key=repr,
        )
        want = sorted(
            map(
                tuple,
                fact.join(dim, ["k"], how)
                .groupBy("tag")
                .agg(
                    F.count("*").cast("long").alias("n"),
                    F.round(F.sum("x"), 6).alias("s"),
                    F.min("x").alias("lo"),
                    F.max("x").alias("hi"),
                )
                .collect(),
            ),
            key=repr,
        )
        assert got == want and got
    with pytest.raises(ValueError, match="fact-preserving"):
        pre_aggregated_join(fact, dim, ["k"], how="right")


def test_pre_aggregated_join_modes_are_route_invariant(spark, monkeypatch):
    """mode="plain" (literal partials, no keyed agg) and mode="auto"
    must produce the same finishing aggregates and the same SCHEMA as
    mode="pre" — the contract that lets the auto cost model route
    freely. Also pins the cost model itself: near-unique keys -> plain
    is profitable (False), a 50%-hot key -> rewrite pays (True)."""
    from hrdp_variant_load_pipeline_spark.operators.skew import (
        eager_agg_profitable,
        pre_aggregated_join,
    )

    fact = spark.range(10000).selectExpr(
        "CASE WHEN id % 2 = 0 THEN 1L ELSE 2 + id % 400 END AS k",
        "cast(id % 977 AS double) AS x",
        "cast(id % 31 AS int) AS y",
    )
    dim = spark.createDataFrame(
        [(i, f"d{i}") for i in range(1, 300)], "k long, tag string"
    )

    def finish(df):
        return sorted(
            map(
                tuple,
                df.groupBy("tag")
                .agg(
                    F.sum("n_rows").cast("long").alias("n"),
                    F.round(F.sum("sum_x"), 6).alias("s"),
                    F.sum("sum_y").cast("long").alias("sy"),
                    F.min("min_x").alias("lo"),
                )
                .collect(),
            ),
            key=repr,
        )

    frames = {
        m: pre_aggregated_join(
            fact, dim, ["k"],
            sum_cols=["x", "y"], min_cols=["x"], how="left", mode=m,
            finishing=True,
        )
        for m in ("pre", "plain", "auto")
    }
    # schema identity across routes (sum widens int->long in BOTH)
    schemas = {m: [(f.name, f.dataType) for f in frames[m].schema.fields]
               for m in frames}
    assert schemas["plain"] == schemas["pre"] == schemas["auto"]
    want = finish(frames["pre"])
    assert finish(frames["plain"]) == want and want
    assert finish(frames["auto"]) == want
    with pytest.raises(ValueError, match="unknown mode"):
        pre_aggregated_join(fact, dim, ["k"], mode="eager")

    # the cost model: sample the WHOLE frame so the decision is exact
    # (SMALL_FACT_BYTES=0 disables the byte gate — these in-memory
    # fixtures are below any sensible production threshold)
    from hrdp_variant_load_pipeline_spark.operators import skew

    monkeypatch.setattr(skew, "SAMPLE_FRACTION", 1.0)
    monkeypatch.setattr(skew, "SMALL_FACT_BYTES", 0)
    uniform = spark.range(20000).selectExpr("id AS k", "id AS x")
    assert not eager_agg_profitable(uniform, ["k"])
    hot = spark.range(20000).selectExpr(
        "CASE WHEN id % 2 = 0 THEN 1L ELSE id END AS k"
    )
    assert eager_agg_profitable(hot, ["k"])


def test_pre_aggregated_join_grain_contract(spark):
    """The grain hazard closed (r15 verdict #2): mode="pre" is the ONLY
    per-key-grain route — exactly one output row per (key, dim row), so
    a per-key consumer can read the partial columns as final values.
    plain/auto change the grain to per-fact-row and therefore REFUSE to
    run without finishing=True (the caller's declaration that it only
    ever applies finishing aggregates); with the declaration, plain's
    finishing aggregates equal pre's (pinned above). No runtime sample
    can silently hand a per-key consumer a per-row frame."""
    from hrdp_variant_load_pipeline_spark.operators.skew import (
        pre_aggregated_join,
    )

    fact = spark.range(1000).selectExpr(
        "id % 7 AS k", "cast(id AS double) AS x"
    )
    dim = spark.createDataFrame(
        [(i, f"d{i}") for i in range(7)], "k long, tag string"
    )
    # per-key grain: one row per key, partials ARE the per-key values
    pre = pre_aggregated_join(fact, dim, ["k"], sum_cols=["x"], mode="pre")
    rows = pre.collect()
    assert len(rows) == 7
    assert {r["k"] for r in rows} == set(range(7))
    naive = {
        r["k"]: (r["n"], r["s"])
        for r in fact.groupBy("k")
        .agg(F.count("*").alias("n"), F.sum("x").alias("s"))
        .collect()
    }
    for r in rows:
        assert (r["n_rows"], r["sum_x"]) == naive[r["k"]]
    # grain-unstable modes refuse without the declaration
    for m in ("plain", "auto"):
        with pytest.raises(ValueError, match="finishing=True"):
            pre_aggregated_join(fact, dim, ["k"], sum_cols=["x"], mode=m)


def test_skew_adaptive_driver_row_exercises_both_paths(spark):
    """The r14 driver row (skew_adaptive_join_detail) must actually
    take the two-path plan: the manufactured hot key (every 5th
    orderkey -> key 1, ~20% of rows) is detected at every SF, so the
    executed plan unions a salted-hot arm with a plain-cold arm."""
    from hrdp_variant_load_pipeline_spark.queries_ml import (
        skew_adaptive_join_detail,
    )

    out = skew_adaptive_join_detail(spark, "/root/testdata/sf0.001")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Union" in plan, plan[:2000]
    assert "__salt" in plan, plan[:2000]
    # and the result matches the plain join on the same remapped key
    from pyspark.sql import functions as F

    li = (
        spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
        .where("l_linenumber = 1")
        .select(
            F.when(F.pmod(F.col("l_orderkey"), 5) == 0, F.lit(1))
            .otherwise(F.col("l_orderkey"))
            .cast("long")
            .alias("k"),
            "l_orderkey",
            "l_linenumber",
            "l_extendedprice",
        )
    )
    o = spark.read.parquet("/root/testdata/sf0.001/orders.parquet").select(
        F.col("o_orderkey").alias("k"), "o_orderpriority"
    )
    want = sorted(
        map(
            tuple,
            li.join(o, "k")
            .select(
                "l_orderkey",
                "l_linenumber",
                "o_orderpriority",
                F.round("l_extendedprice", 2).alias("price"),
            )
            .collect(),
        )
    )
    assert sorted(map(tuple, out.collect())) == want


def test_connected_components_skew_routing_identical(spark):
    """`skew` routes each CC round's edges ⋈ labels join through
    adaptive_salted_join — labels identical to the default plan on a
    hub-heavy graph (one node is the dst of most edges: the giant
    boilerplate cluster shape), including transitive chains."""
    edges = (
        # star: hub 0 linked to 1..40 (hub-heavy), plus a chain 50-51-52
        [(0, i) for i in range(1, 41)]
        + [(50, 51), (51, 52)]
    )
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    base = {
        (r["doc"], r["cluster"])
        for r in connected_components(pairs).collect()
    }
    skewed = {
        (r["doc"], r["cluster"])
        for r in connected_components(
            pairs, skew={"salt": 4, "hot_threshold_frac": 0.2}
        ).collect()
    }
    assert skewed == base
    assert all(c == 0 for d, c in base if d <= 40)
    assert all(c == 50 for d, c in base if d >= 50)


@pytest.mark.parametrize("scheme", ["", "file://"])
def test_vcf_inputs_with_one_file_name_are_refused(spark, tmp_path, scheme):
    """Lines find their sample names by file basename: ``a/x.vcf.gz`` and
    ``b/x.vcf.gz`` would pair every line with both headers. Both header
    paths (driver-side listing, and the distributed scan a URI takes)
    refuse such an input; renamed, each line keeps its own samples."""
    for sub, sample, pos in (("a", "S1", 100), ("b", "S2", 200)):
        (tmp_path / sub).mkdir()
        with gzip.open(tmp_path / sub / "x.vcf.gz", "wt") as f:
            f.write(
                "##fileformat=VCFv4.2\n"
                f"#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\t{sample}\n"
                f"chr1\t{pos}\t.\tA\tG\t50\tPASS\t.\tGT\t0/1\n"
            )
    with pytest.raises(ValueError, match="share a file name") as err:
        read_vcf(spark, f"{scheme}{tmp_path}")
    assert "a/x.vcf.gz" in str(err.value) and "b/x.vcf.gz" in str(err.value)

    (tmp_path / "b" / "x.vcf.gz").rename(tmp_path / "b" / "y.vcf.gz")
    rows = read_vcf(spark, f"{scheme}{tmp_path}").collect()
    assert sorted((r["pos"], tuple(r["sample_names"])) for r in rows) == [
        (100, ("S1",)),
        (200, ("S2",)),
    ]


def test_vcf_header_after_many_meta_lines_is_read(spark, tmp_path):
    """The #CHROM line is found however many ## meta lines precede it (a
    contig-heavy reference header runs to tens of thousands of lines), so
    every data line keeps its sample names."""
    from hrdp_variant_load_pipeline_spark.sources.vcf import vcf_header

    with gzip.open(tmp_path / "long.vcf.gz", "wt") as f:
        f.write("##fileformat=VCFv4.2\n")
        f.writelines(f"##contig=<ID=c{i},length=1000>\n" for i in range(10_050))
        f.write(HEADER.split("\n")[1] + "\n")
        f.write("chr1\t100\t.\tA\tG\t50\tPASS\t.\tGT\t0/1\t1/1\n")
    vcf = read_vcf(spark, str(tmp_path))
    assert vcf_header(vcf) == [("long.vcf.gz", ["S1", "GHOST"])]
    assert [tuple(r["sample_names"]) for r in vcf.collect()] == [("S1", "GHOST")]


def test_vcf_with_data_lines_and_no_header_is_refused(spark, tmp_path):
    with gzip.open(tmp_path / "bare.vcf.gz", "wt") as f:
        f.write("##fileformat=VCFv4.2\n")
        f.write("chr1\t100\t.\tA\tG\t50\tPASS\t.\tGT\t0/1\n")
    with pytest.raises(ValueError, match="bare.vcf.gz has a data line before"):
        read_vcf(spark, str(tmp_path))
