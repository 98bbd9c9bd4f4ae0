"""Corpus-preparation operators: chunking, packing, stratified sampling."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from hrdp_variant_load_pipeline_spark.operators.corpus import (
    chunk_documents,
    decontaminate,
    pack_sequences,
    stratified_sample,
)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")


def test_chunk_documents_overlap_and_coverage(spark):
    text = " ".join(f"w{i}" for i in range(10))
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    out = chunk_documents(df, "doc_id", "text", chunk_tokens=4, overlap_tokens=2).collect()
    # stride 2 over 10 tokens -> starts 1,3,5,7,9
    assert [r["chunk_idx"] for r in out] == [0, 1, 2, 3, 4]
    assert out[0]["chunk_text"] == "w0 w1 w2 w3"
    assert out[1]["chunk_text"] == "w2 w3 w4 w5"  # 2-token overlap
    assert out[-1]["chunk_text"] == "w8 w9"  # short tail kept
    # every token appears in some chunk
    covered = {t for r in out for t in r["chunk_text"].split()}
    assert covered == {f"w{i}" for i in range(10)}
    assert all(r["n_tokens"] <= 4 for r in out)


def test_chunk_documents_carry_cols_row_local(spark):
    """carry_cols projects per-document columns through the explode so
    callers never re-join chunks to the corpus (ADVICE r10: that join's
    build side is corpus-cardinality and cannot broadcast at scale)."""
    df = spark.createDataFrame(
        [(1, "a b c d e f", "en", "web"), (2, "x y", "de", "books")],
        "doc_id long, text string, lang string, source string",
    )
    out = chunk_documents(
        df, "doc_id", "text", chunk_tokens=3, overlap_tokens=1,
        carry_cols=["lang", "source"],
    )
    assert out.columns == [
        "doc_id", "lang", "source", "chunk_idx", "chunk_text", "n_tokens"
    ]
    rows = out.collect()
    assert all(r["lang"] == "en" and r["source"] == "web"
               for r in rows if r["doc_id"] == 1)
    assert all(r["lang"] == "de" for r in rows if r["doc_id"] == 2)
    # row-local: no join / exchange anywhere in the plan
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "Join" not in plan and "Exchange" not in plan, plan


def test_chunk_documents_short_and_empty(spark):
    df = spark.createDataFrame(
        [(1, "only three tokens"), (2, "")], "doc_id long, text string"
    )
    out = chunk_documents(df, "doc_id", "text", chunk_tokens=8, overlap_tokens=2)
    rows = {r["doc_id"]: r for r in out.collect()}
    assert rows[1]["chunk_text"] == "only three tokens" and rows[1]["chunk_idx"] == 0
    assert rows[2]["n_tokens"] == 0  # empty doc kept (one empty chunk), not dropped
    assert rows[2]["chunk_text"] == ""
    assert out.count() == 2


def test_chunk_documents_whitespace_runs_not_counted(spark):
    # repeated/leading/trailing whitespace must not mint phantom tokens:
    # token counts feed pack_sequences budgets
    df = spark.createDataFrame(
        [(1, "  a   b \t c  ")], "doc_id long, text string"
    )
    out = chunk_documents(df, "doc_id", "text", chunk_tokens=8, overlap_tokens=2).collect()
    assert len(out) == 1
    assert out[0]["chunk_text"] == "a b c"
    assert out[0]["n_tokens"] == 3


def test_chunk_documents_rejects_bad_overlap(spark):
    df = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    with pytest.raises(ValueError):
        chunk_documents(df, "doc_id", "text", chunk_tokens=4, overlap_tokens=4)


def test_pack_sequences_bins_respect_capacity(spark):
    rows = [(i, 300) for i in range(10)]  # 10 docs x 300 tokens, cap 1000
    df = spark.createDataFrame(rows, "doc_id long, n_tokens long")
    out = pack_sequences(
        df, "doc_id", "n_tokens", max_tokens=1000, allow_global_order=True
    ).collect()
    bins: dict[int, int] = {}
    for r in out:
        bins[r["bin_id"]] = bins.get(r["bin_id"], 0) + r["n_tokens"]
        assert not r["oversize"]
    # cumsum binning: ceil-based bins hold 900/1200-style splits; every bin
    # except possibly the last stays within cap + one document
    assert set(bins) == {0, 1, 2}
    assert sum(bins.values()) == 3000
    assert all(total <= 1000 + 300 for total in bins.values())


def test_pack_sequences_oversize_isolated_in_own_bin(spark):
    # ADVICE r5: [100, 5000, 100] @ cap 1000 used to put doc 3 in the
    # oversize doc's bin (real load 5100). Oversize docs now take negative
    # bin ids of their own; the packable docs pack as if they were absent.
    df = spark.createDataFrame(
        [(1, 100), (2, 5000), (3, 100), (4, 7000)], "doc_id long, n_tokens long"
    )
    out = {
        r["doc_id"]: r
        for r in pack_sequences(
            df, "doc_id", "n_tokens", 1000, allow_global_order=True
        ).collect()
    }
    assert out[2]["oversize"] and out[4]["oversize"]
    assert not out[1]["oversize"] and not out[3]["oversize"]
    assert out[2]["bin_id"] == -1 and out[4]["bin_id"] == -2
    # packable docs share bin 0 (200 tokens) — the oversize run is invisible
    assert out[1]["bin_id"] == 0 and out[3]["bin_id"] == 0
    # no bin mixes an oversize doc with anything else
    bins: dict[int, list[int]] = {}
    for r in out.values():
        bins.setdefault(r["bin_id"], []).append(r["doc_id"])
    for bid, members in bins.items():
        if bid < 0:
            assert len(members) == 1


def test_pack_sequences_zero_token_doc_never_collides_with_oversize(spark):
    df = spark.createDataFrame(
        [(1, 0), (2, 5000), (3, 10)], "doc_id long, n_tokens long"
    )
    out = {
        r["doc_id"]: r
        for r in pack_sequences(
            df, "doc_id", "n_tokens", 1000, allow_global_order=True
        ).collect()
    }
    assert out[1]["bin_id"] == 0  # not -1
    assert out[2]["bin_id"] == -1 and out[2]["oversize"]
    assert out[3]["bin_id"] == 0


def test_pack_sequences_requires_partition_or_optin(spark):
    df = spark.createDataFrame([(1, 10)], "doc_id long, n_tokens long")
    with pytest.raises(ValueError, match="partition_col"):
        pack_sequences(df, "doc_id", "n_tokens", 1000)


def test_pack_sequences_partitioned_packs_within_shards(spark):
    rows = [(i, f"shard{i % 3}", 300) for i in range(30)]
    df = spark.createDataFrame(rows, "doc_id long, shard string, n_tokens long")
    out = pack_sequences(
        df, "doc_id", "n_tokens", 1000, partition_col="shard"
    ).collect()
    # per shard: 10 docs x 300 -> bins 0,1,2 with loads 900/900/1200-style
    per_shard: dict[str, dict[int, int]] = {}
    for r in out:
        per_shard.setdefault(r["shard"], {}).setdefault(r["bin_id"], 0)
        per_shard[r["shard"]][r["bin_id"]] += r["n_tokens"]
    assert set(per_shard) == {"shard0", "shard1", "shard2"}
    for bins in per_shard.values():
        assert set(bins) == {0, 1, 2}
        assert sum(bins.values()) == 3000
        assert all(t <= 1000 + 300 for t in bins.values())


def test_pack_sequences_partitioned_plan_has_no_single_partition_exchange(spark):
    # scale guard: the partitioned path must hash-partition by the shard
    # key, never funnel the corpus through Exchange SinglePartition
    df = spark.range(1000).selectExpr(
        "id as doc_id", "concat('s', id % 8) as shard", "id % 700 + 1 as n_tokens"
    )
    plan = pack_sequences(
        df, "doc_id", "n_tokens", 1000, partition_col="shard"
    )._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan, plan
    assert "hashpartitioning(shard" in plan, plan


def test_pack_sequences_deterministic_ordering(spark):
    rows = [(i, (i * 37) % 400 + 50) for i in range(50)]
    df = spark.createDataFrame(rows, "doc_id long, n_tokens long")
    a = {
        (r["doc_id"], r["bin_id"])
        for r in pack_sequences(
            df, "doc_id", "n_tokens", 800, allow_global_order=True
        ).collect()
    }
    b = {
        (r["doc_id"], r["bin_id"])
        for r in pack_sequences(
            df.repartition(7), "doc_id", "n_tokens", 800, allow_global_order=True
        ).collect()
    }
    assert a == b, "bin assignment must not depend on partitioning"


@pytest.mark.skipif(
    not os.path.isdir(SF_DIR), reason="driver testdata fixture not present"
)
def test_stratified_sample_deterministic_and_proportional(spark):
    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    fr = {"en": 0.5, "de": 0.1}
    s1 = stratified_sample(docs, "lang", fr, id_col="doc_id")
    s2 = stratified_sample(docs.repartition(13), "lang", fr, id_col="doc_id")
    ids1 = {r["doc_id"] for r in s1.select("doc_id").collect()}
    ids2 = {r["doc_id"] for r in s2.select("doc_id").collect()}
    assert ids1 == ids2, "sample must be independent of partitioning"

    totals = {r["lang"]: r["n"] for r in docs.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    got = {r["lang"]: r["n"] for r in s1.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    for lang, frac in fr.items():
        if totals.get(lang, 0) >= 50:
            assert abs(got.get(lang, 0) / totals[lang] - frac) < 0.15
    # strata not in the map default to dropped
    assert set(got) <= set(fr)

    # a different salt draws a different (but still deterministic) sample
    s3 = stratified_sample(docs, "lang", fr, id_col="doc_id", salt="other")
    ids3 = {r["doc_id"] for r in s3.select("doc_id").collect()}
    assert ids3 != ids1


# --- property-based invariants (SURVEY.md §5.4 style: hypothesis generates
# the corpus, invariants checked in bulk through the actual expressions) ---

def _random_docs(n=150):
    from hypothesis import given, settings, strategies as st

    docs = []
    WORD = st.text(alphabet="abcdefg", min_size=1, max_size=5)

    @settings(max_examples=n, derandomize=True, deadline=None)
    @given(words=st.lists(WORD, min_size=0, max_size=40))
    def gen(words):
        docs.append(" ".join(words))

    gen()
    return [(i, t) for i, t in enumerate(docs)]


def test_chunk_reconstruction_property(spark):
    """For any document: stride-spaced chunks cover every token in order —
    dropping each chunk's leading overlap and concatenating reconstructs
    the original token sequence exactly."""
    chunk, overlap = 7, 3
    stride = chunk - overlap
    rows = _random_docs()
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = chunk_documents(df, "doc_id", "text", chunk, overlap)
    got = {}
    for r in out.collect():
        got.setdefault(r["doc_id"], []).append((r["chunk_idx"], r["chunk_text"]))
    for doc_id, text in rows:
        toks = text.split(" ")
        parts = []
        for idx, ctext in sorted(got[doc_id]):
            ctoks = ctext.split(" ")
            parts.extend(ctoks if idx == 0 else ctoks[overlap:])
        assert parts == toks, f"doc {doc_id}: {parts} != {toks}"


def test_pack_bins_contiguous_and_conserving_property(spark):
    """Packing never loses or duplicates documents, bins are contiguous in
    the packing order, and no non-oversize bin exceeds cap + one doc."""
    import random

    rng = random.Random(7)
    rows = [(i, rng.randint(1, 900)) for i in range(300)]
    cap = 2000
    df = spark.createDataFrame(rows, "doc_id long, n_tokens long")
    out = sorted(
        pack_sequences(
            df, "doc_id", "n_tokens", cap, allow_global_order=True
        ).collect(),
        key=lambda r: r["doc_id"],
    )
    assert [r["doc_id"] for r in out] == [i for i, _ in rows]
    last_bin = -1
    totals: dict[int, int] = {}
    for r in out:
        assert r["bin_id"] >= last_bin, "bins must be monotone in packing order"
        last_bin = r["bin_id"]
        totals[r["bin_id"]] = totals.get(r["bin_id"], 0) + r["n_tokens"]
    assert all(t <= cap + 900 for t in totals.values())


def _decon_fixture(spark):
    bench_text = " ".join(f"b{i}" for i in range(12))
    docs = spark.createDataFrame(
        [
            # shares the benchmark's words 3..10 (an 8-gram) -> contaminated
            (1, "x y " + " ".join(f"b{i}" for i in range(2, 10)) + " z"),
            # shares only a 7-gram -> clean at n=8
            (2, " ".join(f"b{i}" for i in range(3, 10)) + " q r s t u v w x"),
            (3, "entirely unrelated text with plenty of distinct words here"),
            (4, "short doc"),  # < n words: no shingles, never contaminated
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame([(bench_text,)], "text string")
    return docs, bench


def test_decontaminate_drops_docs_sharing_an_ngram(spark):
    docs, bench = _decon_fixture(spark)
    kept = decontaminate(docs, bench, "doc_id", "text", n=8)
    assert sorted(r.doc_id for r in kept.collect()) == [2, 3, 4]


def test_decontaminate_empty_benchmark_keeps_all(spark):
    docs, bench = _decon_fixture(spark)
    kept = decontaminate(docs, bench.limit(0), "doc_id", "text", n=8)
    assert kept.count() == docs.count()


def test_decontaminate_corpus_shingles_never_shuffled(spark):
    """Scale guard: the benchmark shingle set is broadcast, so the corpus's
    exploded shingles are filtered map-side — no Exchange may sit between
    the corpus Generate (explode) and the semi join consuming it."""
    docs, bench = _decon_fixture(spark)
    plan = (
        decontaminate(docs, bench, "doc_id", "text", n=8)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    semi = plan.index("BroadcastHashJoin")
    gen = plan.index("Generate explode", semi)
    assert "Exchange hashpartitioning" not in plan[semi:gen]


def _mixture_corpus(spark):
    # web: 40000 tokens over 400 docs; books: 10000 over 100; code: 2000 over 40
    return spark.range(540).selectExpr(
        "id AS doc_id",
        "CASE WHEN id < 400 THEN 'web' WHEN id < 500 THEN 'books' ELSE 'code' END AS source",
        "CASE WHEN id < 400 THEN 100 WHEN id < 500 THEN 100 ELSE 50 END AS n_tokens",
    )


def test_plan_mixture_fractions_and_shortfall(spark):
    from hrdp_variant_load_pipeline_spark.operators.corpus import plan_mixture

    df = _mixture_corpus(spark)
    plan = plan_mixture(
        df, "source", "n_tokens",
        weights={"web": 0.5, "books": 0.3, "code": 0.2},
        total_tokens=10000,
    )
    assert abs(plan["web"]["fraction"] - 5000 / 40000) < 1e-9
    assert abs(plan["books"]["fraction"] - 3000 / 10000) < 1e-9
    # code: wants 2000, has 2000 -> exactly 1.0, no shortfall
    assert plan["code"]["fraction"] == 1.0
    assert plan["code"]["shortfall_tokens"] == 0.0
    # oversubscribed without upsample: capped at 1 with reported shortfall
    plan2 = plan_mixture(
        df, "source", "n_tokens", {"code": 1.0}, total_tokens=6000
    )
    assert plan2["code"]["fraction"] == 1.0
    assert plan2["code"]["shortfall_tokens"] == 4000.0
    # with upsample: 3 epochs of the 2000-token source
    plan3 = plan_mixture(
        df, "source", "n_tokens", {"code": 1.0}, 6000, allow_upsample=True
    )
    assert abs(plan3["code"]["fraction"] - 3.0) < 1e-9
    # unknown source -> fraction 0, full shortfall
    plan4 = plan_mixture(df, "source", "n_tokens", {"wiki": 1.0}, 1000)
    assert plan4["wiki"]["fraction"] == 0.0
    assert plan4["wiki"]["shortfall_tokens"] == 1000.0


def test_apply_mixture_hits_budget_and_is_deterministic(spark):
    from hrdp_variant_load_pipeline_spark.operators.corpus import (
        apply_mixture,
        plan_mixture,
    )

    df = _mixture_corpus(spark)
    plan = plan_mixture(
        df, "source", "n_tokens",
        weights={"web": 0.5, "books": 0.3, "code": 0.2},
        total_tokens=10000,
    )
    out = apply_mixture(df, "source", "doc_id", plan)
    got = {
        r["source"]: r["tok"]
        for r in out.groupBy("source").agg(
            F.sum("n_tokens").alias("tok")
        ).collect()
    }
    # hash sampling: each source within 30% of its token target
    assert abs(got["web"] - 5000) < 1500
    assert abs(got["books"] - 3000) < 900
    assert got["code"] == 2000  # fraction exactly 1: everything kept once
    # deterministic under repartitioning
    a = sorted((r.doc_id, r.epoch) for r in out.collect())
    b = sorted(
        (r.doc_id, r.epoch)
        for r in apply_mixture(df.repartition(7), "source", "doc_id", plan).collect()
    )
    assert a == b


def test_apply_mixture_upsample_epochs(spark):
    from hrdp_variant_load_pipeline_spark.operators.corpus import (
        apply_mixture,
        plan_mixture,
    )

    df = _mixture_corpus(spark).filter("source = 'code'")
    plan = plan_mixture(
        df, "source", "n_tokens", {"code": 1.0}, 5000, allow_upsample=True
    )
    assert abs(plan["code"]["fraction"] - 2.5) < 1e-9
    out = apply_mixture(df, "source", "doc_id", plan)
    per_epoch = {
        r["epoch"]: r["n"]
        for r in out.groupBy("epoch").agg(F.count("*").alias("n")).collect()
    }
    # two full epochs of all 40 docs + a ~half partial epoch
    assert per_epoch[0] == 40 and per_epoch[1] == 40
    assert 5 <= per_epoch.get(2, 0) <= 35
    total_tok = out.agg(F.sum("n_tokens")).collect()[0][0]
    assert abs(total_tok - 5000) < 1000


def test_plan_mixture_all_null_counts_treated_as_empty(spark):
    from hrdp_variant_load_pipeline_spark.operators.corpus import plan_mixture

    df = spark.createDataFrame(
        [(1, "web", None), (2, "web", None), (3, "books", 100)],
        "doc_id long, source string, n_tokens long",
    )
    plan = plan_mixture(df, "source", "n_tokens", {"web": 0.5, "books": 0.5}, 100)
    assert plan["web"]["fraction"] == 0.0
    assert plan["web"]["shortfall_tokens"] == 50.0
    assert plan["books"]["fraction"] == 0.5


def test_temperature_weights_closed_form_and_composition(spark):
    from hrdp_variant_load_pipeline_spark.operators.corpus import (
        plan_mixture,
        temperature_weights,
    )

    rows = (
        [(i, "en", 80) for i in range(10)]     # 800 tokens
        + [(100 + i, "de", 15) for i in range(10)]  # 150 tokens
        + [(200 + i, "sw", 5) for i in range(10)]   # 50 tokens
        + [(300, None, 40), (301, "xx", None)]      # null source / null mass
    )
    df = spark.createDataFrame(rows, "doc_id long, lang string, n_tok long")

    # alpha=1: natural shares, null source and null-mass sources omitted
    w1 = temperature_weights(df, "lang", "n_tok", alpha=1.0)
    assert set(w1) == {"en", "de", "sw"}
    assert abs(w1["en"] - 0.8) < 1e-12 and abs(w1["sw"] - 0.05) < 1e-12

    # alpha=0.5: closed form (share**0.5, renormalized); ordering kept
    # but flattened — sw gains, en loses, nothing overtakes
    import math

    shares = {"en": 0.8, "de": 0.15, "sw": 0.05}
    z = sum(v**0.5 for v in shares.values())
    w5 = temperature_weights(df, "lang", "n_tok", alpha=0.5)
    for s in shares:
        assert abs(w5[s] - shares[s] ** 0.5 / z) < 1e-12
    assert w5["sw"] > w1["sw"] and w5["en"] < w1["en"]
    assert w5["en"] > w5["de"] > w5["sw"]
    assert abs(sum(w5.values()) - 1.0) < 1e-12

    # composes with plan_mixture: targets proportional to the weights
    plan = plan_mixture(df, "lang", "n_tok", weights=w5, total_tokens=500)
    assert abs(plan["en"]["target_tokens"] - 500 * w5["en"]) < 1e-9
    # sw's flattened share may exceed its 50 available tokens -> honest
    # fraction cap + shortfall
    assert plan["sw"]["fraction"] <= 1.0

    import pytest as _pytest

    with _pytest.raises(ValueError, match="alpha"):
        temperature_weights(df, "lang", "n_tok", alpha=0.0)
    empty = spark.createDataFrame([], "doc_id long, lang string, n_tok long")
    assert temperature_weights(empty, "lang", "n_tok") == {}


def test_contamination_report_matches_python_model(spark):
    """Per-eval-item leak audit vs a brute-force python recompute:
    contaminated-doc counts, leaked-shingle counts, and clean rows."""
    from hrdp_variant_load_pipeline_spark.operators.corpus import (
        contamination_report,
    )

    docs_rows = [
        (1, "alpha beta gamma delta epsilon"),
        (2, "beta gamma delta epsilon zeta"),
        (3, "one two three four five"),
        (4, "alpha beta gamma delta epsilon"),  # exact dup of 1
        (5, "too short"),
    ]
    bench_rows = [
        (100, "alpha beta gamma delta epsilon zeta"),  # leaks via 1,2,4
        (200, "six seven eight nine ten"),              # clean
        (300, "tiny"),                                  # no shingles
    ]
    docs = spark.createDataFrame(docs_rows, "doc_id long, text string")
    bench = spark.createDataFrame(bench_rows, "bid long, text string")
    n = 4

    def sh(t):
        w = t.split()
        return {" ".join(w[i:i + n]) for i in range(len(w) - n + 1)}

    want = {}
    for bid, btext in bench_rows:
        bs = sh(btext)
        if not bs:
            continue
        leaked = set()
        cdocs = set()
        for did, dtext in docs_rows:
            inter = sh(dtext) & bs
            if inter:
                cdocs.add(did)
                leaked |= inter
        want[bid] = (len(cdocs), len(leaked), len(bs),
                     round(len(leaked) / len(bs), 6))

    got = {
        r["bench_id"]: (
            r["n_contaminated_docs"], r["n_leaked_shingles"],
            r["n_bench_shingles"], r["leaked_frac"],
        )
        for r in contamination_report(
            docs, bench, "doc_id", "text", "bid", n=n
        ).collect()
    }
    assert got == want
    assert got[200][0] == 0 and got[200][3] == 0.0  # clean row present
    assert 300 not in got  # shingle-less eval doc has no row


def test_densify_ids_dense_ordered_and_distributed(spark):
    """densify_ids: hash-wide ids -> dense 0..n-1 in id order, original
    preserved, and the plan stays distributed (range exchange +
    per-partition window — no single-partition global window)."""
    from hrdp_variant_load_pipeline_spark.operators.corpus import densify_ids

    wide = [(2**60 + 7 * i, f"d{i}") for i in range(200)]
    df = spark.createDataFrame(wide, "doc_id long, text string")
    out = densify_ids(df, "doc_id", partitions=8)
    rows = sorted(map(tuple, out.select("doc_id", "doc_id_src").collect()))
    assert [r[0] for r in rows] == list(range(200))  # dense 0..n-1
    # order preserved: dense rank == original id rank
    assert [r[1] for r in rows] == sorted(w[0] for w in wide)
    # text rides along
    m = {r["doc_id_src"]: r["text"] for r in out.collect()}
    assert m[2**60] == "d0"
    # deterministic across evaluations
    again = sorted(map(tuple, densify_ids(df, "doc_id", partitions=8)
                       .select("doc_id", "doc_id_src").collect()))
    assert again == rows
    # distributed: the ranking window partitions by __pid (never a
    # global empty-partition window)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan, plan


def test_densify_ids_null_and_collision_guards(spark):
    from hrdp_variant_load_pipeline_spark.operators.corpus import densify_ids

    with pytest.raises(ValueError, match="null"):
        densify_ids(
            spark.createDataFrame([(None, "x")], "doc_id long, text string"),
            "doc_id",
        ).count()
    with pytest.raises(ValueError, match="already exists"):
        densify_ids(
            spark.createDataFrame(
                [(1, 2)], "doc_id long, doc_id_src long"
            ),
            "doc_id",
        )


def test_densify_ids_drift_guard_fails_loud(spark, tmp_path):
    """ADVICE r11: densify_ids evaluates its input in two separate jobs
    (stats collect, then rank); a source whose id multiset changes
    between them would otherwise silently mint colliding dense ids. The
    row-local bucket-overflow guard must raise instead. Drift is
    simulated with a nondeterministic UDF that collapses every id to 0
    once a marker file appears — touched after the stats job, before
    the rank job."""
    from hrdp_variant_load_pipeline_spark.operators.corpus import densify_ids

    marker = str(tmp_path / "drift_marker")
    drifting = F.udf(
        lambda i: 0 if os.path.exists(marker) else i, "long"
    ).asNondeterministic()
    df = spark.range(100).select(
        drifting("id").alias("doc_id"), F.col("id").alias("payload")
    )
    out = densify_ids(df, "doc_id", partitions=8)  # stats job: ids 0..99
    open(marker, "w").close()  # rank job will see 100 copies of id 0
    with pytest.raises(Exception, match="input changed between"):
        out.collect()


def test_densify_ids_stable_across_jobs_at_scale(spark):
    """Regression (r11): v1 trusted repartitionByRange to recompute the
    SAME sampled boundaries in the counts job and the ranking job; at
    5k rows the boundaries diverged between jobs and dense ids silently
    shifted. The rework derives buckets row-locally from collected
    boundary values — the result must equal the global id-order rank
    exactly, at a size where the v1 bug reproduced."""
    from hrdp_variant_load_pipeline_spark.operators.corpus import densify_ids

    df = spark.range(5000).selectExpr(
        "id * 1099511627776 + 7 AS doc_id", "id AS payload"
    )
    out = densify_ids(df, "doc_id", partitions=8)
    rows = out.select("doc_id", "doc_id_src", "payload").collect()
    assert sorted(r["doc_id"] for r in rows) == list(range(5000))
    # dense rank == global id order, row for row
    for r in rows:
        assert r["doc_id"] == r["payload"], (r["doc_id"], r["payload"])
