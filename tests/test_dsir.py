"""DSIR importance resampling (operators/dsir.py) + gopher_rules
(functions/text.py): exact recompute against a pure-Python model, scale
shape (zero corpus shuffle), determinism, and per-rule unit cases."""

from __future__ import annotations

import hashlib
import math

import pytest
from pyspark.sql import functions as F

from hrdp_variant_load_pipeline_spark.functions.text import gopher_rules
from hrdp_variant_load_pipeline_spark.operators.dsir import (
    bucket_logratio,
    dsir_log_weight,
    dsir_resample,
    featurize,
    hashed_ngram_buckets,
)

B = 16
TARGET = [
    (0, "the quick brown fox jumps over the lazy dog"),
    (1, "the brown dog sleeps in the quick shade"),
]
RAW = TARGET + [
    (2, "zzz qqq xxx vvv kkk www"),
    (3, "numeric 111 222 333 filler noise tokens"),
    (4, "the quick brown fox naps near the lazy dog"),
    (5, ""),
]


DSIR_P = 999_999_999_989


def _py_buckets(text: str, salt: str = "dsir", b: int = B) -> list[int]:
    words = [w for w in text.split() if w]

    def h(w: str) -> int:
        return int(hashlib.md5((salt + w).encode()).hexdigest()[:15], 16)

    return [h(w) % b for w in words] + [
        ((h(a) + 3 * h(c)) % DSIR_P) % b for a, c in zip(words, words[1:])
    ]


def _py_model(docs):
    counts = {}
    total = 0
    for _, text in docs:
        for bkt in _py_buckets(text):
            counts[bkt] = counts.get(bkt, 0) + 1
            total += 1
    return counts, total


def _py_logratio():
    tc, tt = _py_model(TARGET)
    rc, rt = _py_model(RAW)
    return [
        math.log((tc.get(b, 0) + 1) / (tt + B))
        - math.log((rc.get(b, 0) + 1) / (rt + B))
        for b in range(B)
    ]


def _py_weights():
    lut = _py_logratio()
    return {
        doc_id: sum(lut[b] for b in _py_buckets(text))
        for doc_id, text in RAW
    }


@pytest.fixture(scope="module")
def frames(spark):
    raw = spark.createDataFrame(RAW, "doc_id long, text string")
    target = raw.filter(F.col("doc_id") < 2)
    return target, raw


def test_buckets_match_python_model(spark, frames):
    _, raw = frames
    rows = raw.select(
        "doc_id", hashed_ngram_buckets(F.col("text"), B).alias("b")
    ).collect()
    for r in rows:
        expect = _py_buckets(dict(RAW)[r["doc_id"]])
        assert r["b"] == expect, r["doc_id"]
        assert all(0 <= x < B for x in r["b"])


def test_log_weights_match_python_model(spark, frames):
    target, raw = frames
    lr = bucket_logratio(target, raw, "text", n_buckets=B)
    got = {
        r["doc_id"]: r["dsir_logw"]
        for r in dsir_log_weight(raw, lr, "text", B).collect()
    }
    want = _py_weights()
    assert got.keys() == want.keys()
    for k in want:
        assert got[k] == pytest.approx(want[k], abs=1e-9), k
    # target-like docs outscore the junk docs; empty text scores exactly 0
    assert min(got[0], got[1], got[4]) > max(got[2], got[3])
    assert got[5] == 0.0


def test_featurize_once_path_is_bit_identical(spark, frames):
    """The single-gram-pass path (featurize + *_buckets_col) must produce
    the SAME logratio table and weights as the naive recompute-from-text
    path — it is a plan change only (BENCH_NOTES.md: gram construction
    dominates the chain, the featurized pool pays it once)."""
    target, raw = frames
    feat = featurize(raw, "text", B).persist()
    try:
        lr = bucket_logratio(
            feat.filter(F.col("doc_id") < 2), feat, "text", n_buckets=B,
            raw_buckets_col="_dsir_buckets",
            target_buckets_col="_dsir_buckets",
        )
        naive = bucket_logratio(target, raw, "text", n_buckets=B)
        assert sorted(map(tuple, lr.collect())) == sorted(
            map(tuple, naive.collect())
        )
        got = {
            r["doc_id"]: r["dsir_logw"]
            for r in dsir_log_weight(
                feat, lr, "text", B, buckets_col="_dsir_buckets"
            ).collect()
        }
        want = _py_weights()
        assert got.keys() == want.keys()
        for k in want:
            assert got[k] == pytest.approx(want[k], abs=1e-9), k
        # the featurized scoring plan must not re-derive grams from text:
        # everything ABOVE the cache boundary is md5-free (the one md5
        # pass lives in the InMemoryRelation's build plan, paid once)
        plan = (
            dsir_log_weight(feat, lr, "text", B, buckets_col="_dsir_buckets")
            ._jdf.queryExecution().optimizedPlan().toString()
        )
        assert "InMemoryRelation" in plan, plan
        above_cache = plan.split("InMemoryRelation")[0]
        assert "md5" not in above_cache, plan
    finally:
        feat.unpersist()


def test_scoring_plan_never_shuffles_the_corpus(spark, frames):
    target, raw = frames
    lr = bucket_logratio(target, raw, "text", n_buckets=B)
    plan = (
        dsir_log_weight(raw, lr, "text", B)
        ._jdf.queryExecution().executedPlan().toString()
    )
    # the LUT is inlined as a literal, so scoring is scan -> project:
    # no Exchange, no Generate (explode), no Join in the scored plan
    for op in ("Exchange", "Generate", "Join"):
        assert op not in plan, plan


def test_topk_and_resample_are_deterministic_and_weight_driven(spark, frames):
    target, raw = frames
    lr = bucket_logratio(target, raw, "text", n_buckets=B)
    scored = dsir_log_weight(raw, lr, "text", B)
    want = _py_weights()

    top3 = [
        r["doc_id"]
        for r in scored.orderBy(F.desc("dsir_logw"), "doc_id").limit(3).collect()
    ]
    expect_order = sorted(want, key=lambda k: (-want[k], k))[:3]
    assert top3 == expect_order

    def py_key(doc_id):
        h = int(
            hashlib.md5(f"dsirpick{doc_id}".encode()).hexdigest()[:8], 16
        )
        u = (h + 0.5) / 2**32
        return want[doc_id] + -math.log(-math.log(u))

    picked = dsir_resample(scored, 3, "doc_id")
    got = [(r["doc_id"], r["dsir_key"]) for r in picked.collect()]
    expect = sorted(want, key=lambda k: (-py_key(k), k))[:3]
    assert [d for d, _ in got] == expect
    for d, key in got:
        assert key == pytest.approx(py_key(d), abs=1e-9)
    # an independent salt draws an independent sample — same size, and
    # keys change even where membership overlaps
    other = dsir_resample(scored, 3, "doc_id", salt="other")
    keys = {r["doc_id"]: r["dsir_key"] for r in other.collect()}
    assert len(keys) == 3
    assert all(keys[d] != dict(got).get(d) for d in keys if d in dict(got))


GOPHER_CASES = [
    # (text, expected FAILED rule names)
    ("the dog and the cat have been to the park with all of that gear "
     "and they be very happy about the trip that day so it all went well "
     "and the crew came home to rest with the gang for the long evening",
     set()),
    ("too short", {"words_ok", "stopword_ok"}),
    ("a " * 60, {"avg_len_ok", "stopword_ok"}),  # avg word length 1
    ("the # tag # and # more # of # the # usual # hash # spam # with "
     "# extra # tags # that # have # run # long # enough # to # pass "
     "# the # word # count # rule # here # now # ok # fine # done #",
     # every other token is a bare '#': symbol ratio ~1.0 and only half
     # the words contain a letter
     {"symbol_ok", "alpha_ok"}),
    ("1234 5678 " * 15 + "the end of and that have with be to the stuff",
     {"alpha_ok"}),
    ("zzzz yyyy xxxx wwww " * 8,
     {"stopword_ok"}),
]


@pytest.mark.parametrize("text,expect_failed", GOPHER_CASES)
def test_gopher_rules_per_rule(spark, text, expect_failed):
    row = (
        spark.range(1)
        .select(
            gopher_rules(
                F.lit(text),
                min_words=20,
                max_words=200,
                min_avg_word_len=2.0,
                max_avg_word_len=8.0,
                max_symbol_word_ratio=0.1,
                min_alpha_word_frac=0.8,
                min_stopword_hits=2,
            ).alias("g")
        )
        .collect()[0]["g"]
        .asDict()
    )
    failed = {
        k for k, v in row.items()
        if k not in ("passes", "n_words") and v is False
    }
    assert failed == expect_failed, (failed, row)
    assert row["passes"] is (not expect_failed)
    assert row["n_words"] == len(text.split())


def test_gopher_line_rules_and_empty_doc(spark):
    bullet_doc = "\n".join(["- item one", "- item two", "* item three"])
    ellipsis_doc = "\n".join(["to be continued...", "and more…", "done."])
    rows = spark.createDataFrame(
        [(1, bullet_doc), (2, ellipsis_doc), (3, ""), (4, "   ")],
        "id long, text string",
    ).select(
        "id",
        gopher_rules(
            F.col("text"),
            min_words=1,
            max_bullet_line_frac=0.5,
            max_ellipsis_line_frac=0.5,
            min_stopword_hits=0,
        ).alias("g"),
    ).collect()
    g = {r["id"]: r["g"].asDict() for r in rows}
    assert g[1]["bullet_ok"] is False and g[1]["ellipsis_ok"] is True
    assert g[2]["ellipsis_ok"] is False and g[2]["bullet_ok"] is True
    # empty/whitespace docs: word rules fail, line rules pass vacuously,
    # and nothing errors under ANSI division semantics
    for i in (3, 4):
        assert g[i]["words_ok"] is False
        assert g[i]["avg_len_ok"] is False
        assert g[i]["alpha_ok"] is False
        assert g[i]["bullet_ok"] is True and g[i]["ellipsis_ok"] is True
        assert g[i]["passes"] is False and g[i]["n_words"] == 0


def test_select_fraction_threshold_cut(spark, frames):
    from hrdp_variant_load_pipeline_spark.operators.dsir import (
        dsir_select_fraction,
    )

    target, raw = frames
    lr = bucket_logratio(target, raw, "text", n_buckets=B)
    scored = dsir_log_weight(raw, lr, "text", B)
    want = _py_weights()
    half = dsir_select_fraction(scored, 0.5)
    got = {r["doc_id"] for r in half.collect()}
    # the cut is approximate (tau is an actual data value, so small-n
    # keeps fraction*n +/- 1) but must be a SUFFIX of the weight order:
    # every kept doc outweighs-or-ties every dropped doc
    order = sorted(want, key=lambda k: -want[k])
    assert 2 <= len(got) <= 4
    assert got == set(order[:len(got)])
    assert dsir_select_fraction(scored, 1.0) is scored
    with pytest.raises(ValueError, match="fraction"):
        dsir_select_fraction(scored, 0.0)


def test_log_weight_rejects_mismatched_bucket_table(spark, frames):
    target, raw = frames
    lr = bucket_logratio(target, raw, "text", n_buckets=B)
    with pytest.raises(ValueError, match="outside"):
        dsir_log_weight(raw, lr, "text", B // 2)


def test_mismatched_featurize_params_fail_loud(spark, frames):
    _, raw = frames
    feat = featurize(raw, "text", B)
    with pytest.raises(ValueError, match="featurized with n_buckets"):
        bucket_logratio(
            feat.filter(F.col("doc_id") < 2), feat, "text",
            n_buckets=B * 2, raw_buckets_col="_dsir_buckets",
        )
    lr = bucket_logratio(feat.filter(F.col("doc_id") < 2), feat, "text",
                         n_buckets=B, raw_buckets_col="_dsir_buckets",
                         target_buckets_col="_dsir_buckets")
    with pytest.raises(ValueError, match="featurized with n_buckets"):
        dsir_log_weight(feat, lr, "text", B, salt="other",
                        buckets_col="_dsir_buckets")
    # an unstamped user-built column passes (the stamp is the guard)
    hand = raw.withColumn(
        "b", hashed_ngram_buckets(F.col("text"), B)
    )
    got = dsir_log_weight(hand, lr, "text", B, buckets_col="b")
    assert got.count() == raw.count()


# ---------------------------------------------------------------- C4 rules
def test_c4_line_rules_per_rule(spark):
    """Each C4 line rule (Raffel et al. 2020 §2.2) in isolation: terminal
    punctuation required, >=3 words required, drop-phrase lines removed
    (case-insensitive), survivors keep original order."""
    from pyspark.sql import functions as F

    from hrdp_variant_load_pipeline_spark.functions.text import c4_clean

    text = "\n".join([
        "A perfectly fine sentence.",       # kept
        "no terminal punctuation here",     # dropped: no terminal punct
        "Too short.",                       # dropped: < 3 words
        "Enable JAVASCRIPT to proceed.",    # dropped: phrase (case-insens)
        "Read our Privacy Policy today.",   # dropped: phrase
        "Does this survive as well?",       # kept (question mark)
        'He said "yes indeed."',            # kept (closing quote)
        "Trailing whitespace is fine.   ",  # kept (punct before spaces)
    ])
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    got = df.select(c4_clean(F.col("text")).alias("c")).collect()[0].c
    assert got.split("\n") == [
        "A perfectly fine sentence.",
        "Does this survive as well?",
        'He said "yes indeed."',
        "Trailing whitespace is fine.   ",
    ]


def test_c4_page_rules_per_rule(spark):
    """Page verdicts: brace pages, lorem-ipsum pages, and under-5-sentence
    pages fail; a clean >=5-sentence page passes; empty text is safe."""
    from pyspark.sql import functions as F

    from hrdp_variant_load_pipeline_spark.functions.text import (
        c4_clean,
        c4_page_rules,
    )

    five = "\n".join(f"This is sentence number {i} right here." for i in range(5))
    cases = [
        (1, five, True),
        (2, five + "\nif (x) { y(); }", False),          # brace
        (3, five + "\nLOREM IPSUM dolor sit amet.", False),  # placeholder
        (4, "Only one real sentence survives here.", False),  # < 5 sentences
        (5, "", False),
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t, _ in cases], "doc_id long, text string"
    )
    got = {
        r.doc_id: r.p
        for r in df.select(
            "doc_id",
            c4_page_rules(F.col("text"), c4_clean(F.col("text")))["passes"].alias("p"),
        ).collect()
    }
    assert got == {i: want for i, _, want in cases}
