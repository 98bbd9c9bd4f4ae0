"""Persisted inverted index (operators/text_index.py): probe parity vs
the batch BM25 operator, pushdown + clustering contracts, compaction."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hrdp_variant_load_pipeline_spark.operators.text_index import (
    append_text_index_batch,
    text_index_scores,
    text_index_topk_many,
)
from hrdp_variant_load_pipeline_spark.operators.vocab import bm25_scores
from tests.conftest import pinned_partitions

TERMS = ["cat", "dog", "mat"]

BATCH1 = [
    (1, "the cat sat on the mat"),
    (2, "the dog  sat"),
    (3, "cat cat cat"),
    (4, ""),  # tokenless: no postings, still counts toward N/avgdl
]
BATCH2 = [
    (5, "dog runs far away from the cat and the dog"),
    (6, "nothing relevant here"),
    (7, "mat mat dog"),
]


def _topk(spark, store, terms, k):
    """One query's top-k: (doc_id, score, rank) rows, rank-ordered."""
    q = spark.createDataFrame([(0, terms)], "query_id long, terms array<string>")
    return sorted(text_index_topk_many(spark, store, q, k=k).collect(), key=lambda r: r.rank)


def _ingest(spark, tmp_path):
    store = str(tmp_path / "tix")
    for batch in (BATCH1, BATCH2):
        df = spark.createDataFrame(batch, "doc_id long, text string")
        with pinned_partitions(spark, 3):
            append_text_index_batch(df, store)
    return store


def test_probe_is_bit_equal_to_bm25_scores(spark, tmp_path):
    """A probe over the fully-built index returns EXACTLY what the
    one-shot operator computes over the same corpus — same tf integers,
    mirrored float association, in-order fold."""
    store = _ingest(spark, tmp_path)
    corpus = spark.createDataFrame(BATCH1 + BATCH2, "doc_id long, text string")
    want = {
        r.doc_id: r.bm25
        for r in bm25_scores(corpus, "doc_id", "text", TERMS).collect()
        if r.bm25 > 0
    }
    got = {
        r.doc_id: r.score
        for r in text_index_scores(spark, store, TERMS).collect()
    }
    assert got == want  # bit-equal, not approximately
    # rank: dense from 1, by (score desc, doc_id asc)
    ranked = _topk(spark, store, TERMS, k=3)
    assert [r.rank for r in ranked] == [1, 2, 3]
    order = sorted(want.items(), key=lambda kv: (-kv[1], kv[0]))[:3]
    assert [(r.doc_id, r.score) for r in ranked] == order


def test_probe_pushes_bucket_filter(spark, tmp_path):
    store = _ingest(spark, tmp_path)
    plan = (
        text_index_scores(spark, store, ["cat", "dog"])
        ._jdf.queryExecution().executedPlan().toString()
    ).replace("\n", " ")
    # single-bucket probes simplify In -> EqualTo; accept either form
    assert "In(bucket" in plan or "EqualTo(bucket" in plan, plan
    assert "In(term" in plan or "EqualTo(term" in plan, plan
    assert "PushedFilters: [" in plan, plan


def test_postings_files_are_bucket_disjoint(spark, tmp_path):
    """Clustering contract: each appended file covers a narrow, disjoint
    (bucket) range so footer min/max actually prunes."""
    store = _ingest(spark, tmp_path)
    per_file = (
        spark.read.parquet(f"{store}/postings")
        .select("bucket", F.input_file_name().alias("f"))
        .groupBy("f")
        .agg(F.min("bucket").alias("lo"), F.max("bucket").alias("hi"))
        .collect()
    )
    assert len(per_file) >= 4  # 2 appends x >=2 non-empty partitions
    spans = sorted((r.lo, r.hi, r.f) for r in per_file)
    full = (min(r.lo for r in per_file), max(r.hi for r in per_file))
    assert any((r.lo, r.hi) != full for r in per_file), spans


def test_compaction_keeps_probe_parity(spark, tmp_path):
    from hrdp_variant_load_pipeline_spark.sources.store import compact_store

    store = _ingest(spark, tmp_path)
    before = [(r.doc_id, r.score) for r in
              text_index_scores(spark, store, TERMS).collect()]
    compact_store(spark, f"{store}/postings", sort_by=["bucket", "term"])
    after = [(r.doc_id, r.score) for r in
             text_index_scores(spark, store, TERMS).collect()]
    assert sorted(before) == sorted(after)


def test_empty_index_and_guards(spark, tmp_path):
    store = str(tmp_path / "empty")
    assert text_index_scores(spark, store, ["cat"]).count() == 0
    with pytest.raises(ValueError, match="empty"):
        text_index_scores(spark, store, [])
    with pytest.raises(ValueError, match="duplicate"):
        text_index_scores(spark, store, ["cat", "cat"])


def test_unmatched_terms_and_small_match_set(spark, tmp_path):
    store = _ingest(spark, tmp_path)
    # a term absent from the corpus contributes nothing and breaks nothing
    rows = _topk(spark, store, ["mat", "zzz_absent"], k=50)
    corpus = spark.createDataFrame(BATCH1 + BATCH2, "doc_id long, text string")
    want = {
        r.doc_id: r.bm25
        for r in bm25_scores(
            corpus, "doc_id", "text", ["mat", "zzz_absent"]
        ).collect()
        if r.bm25 > 0
    }
    assert {r.doc_id: r.score for r in rows} == want
    assert len(rows) == len(want)  # k past the match set returns matches
    assert [r.rank for r in rows] == list(range(1, len(want) + 1))


def test_n_buckets_is_a_store_property(spark, tmp_path):
    """The routing modulus persists with the store: appends under a
    different modulus are refused, probes derive it (a caller-guessed
    wrong modulus would silently drop valid postings), and an explicit
    probe n_buckets is cross-checked."""
    store = str(tmp_path / "tix")
    df = spark.createDataFrame(BATCH1, "doc_id long, text string")
    append_text_index_batch(df, store, n_buckets=256)
    with pytest.raises(ValueError, match="n_buckets=256"):
        append_text_index_batch(
            spark.createDataFrame(BATCH2, "doc_id long, text string"),
            store,
            n_buckets=64,
        )
    with pytest.raises(ValueError, match="n_buckets=256"):
        text_index_scores(spark, store, ["cat"], n_buckets=64)
    # derived probe under the non-default modulus matches the operator
    corpus = spark.createDataFrame(BATCH1, "doc_id long, text string")
    want = {
        r.doc_id: r.bm25
        for r in bm25_scores(corpus, "doc_id", "text", TERMS).collect()
        if r.bm25 > 0
    }
    got = {r.doc_id: r.score
           for r in text_index_scores(spark, store, TERMS).collect()}
    assert got == want


def test_null_text_counts_as_empty_doc_both_paths(spark, tmp_path):
    """NULL text = empty document in BOTH paths (dl 0 in avgdl, score
    exactly 0.0 from the operator, no postings in the index) — the
    bit-equality contract holds with NULLs present."""
    rows = BATCH1 + [(8, None)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    store = str(tmp_path / "tix")
    assert append_text_index_batch(df, store) == 5  # NULL row ingested
    scored = {r.doc_id: r.bm25
              for r in bm25_scores(df, "doc_id", "text", TERMS).collect()}
    assert scored[8] == 0.0  # never NULL
    got = {r.doc_id: r.score
           for r in text_index_scores(spark, store, TERMS).collect()}
    assert got == {i: s for i, s in scored.items() if s > 0}


def test_topk_many_matches_per_query_operator(spark, tmp_path):
    """Batch retrieval: each query's scores are bit-equal to running the
    one-shot operator alone with that query's terms — overlapping terms
    across queries included."""
    store = _ingest(spark, tmp_path)
    corpus = spark.createDataFrame(BATCH1 + BATCH2, "doc_id long, text string")
    queries = {
        10: ["cat", "dog", "mat"],
        11: ["dog"],            # overlaps query 10
        12: ["mat", "the"],     # overlaps both
        13: ["zzz_absent"],     # no rows expected
    }
    qdf = spark.createDataFrame(
        [(qid, ts) for qid, ts in queries.items()],
        "query_id long, terms array<string>",
    )
    got = text_index_topk_many(spark, store, qdf, k=100).collect()
    by_q: dict = {}
    for r in got:
        by_q.setdefault(r.query_id, {})[r.doc_id] = r.score
    for qid, terms in queries.items():
        want = {
            r.doc_id: r.bm25
            for r in bm25_scores(corpus, "doc_id", "text", terms).collect()
            if r.bm25 > 0
        }
        assert by_q.get(qid, {}) == want, qid
    # rank: 1..n per query, ordered by (score desc, doc_id asc)
    for qid in (10, 11, 12):
        rows = sorted(
            [r for r in got if r.query_id == qid], key=lambda r: r.rank
        )
        assert [r.rank for r in rows] == list(range(1, len(rows) + 1))
        keys = [(-r.score, r.doc_id) for r in rows]
        assert keys == sorted(keys)
    # k bounds each query independently
    top1 = text_index_topk_many(spark, store, qdf, k=1).collect()
    assert {r.query_id for r in top1} == {10, 11, 12}
    assert all(r.rank == 1 for r in top1)


def test_topk_many_guards_and_empty(spark, tmp_path):
    store = _ingest(spark, tmp_path)
    with pytest.raises(ValueError, match="duplicate terms in query 5"):
        text_index_topk_many(
            spark,
            store,
            spark.createDataFrame(
                [(5, ["cat", "cat"])], "query_id long, terms array<string>"
            ),
        )
    with pytest.raises(ValueError, match="empty query 6"):
        text_index_topk_many(
            spark,
            store,
            spark.createDataFrame(
                [(6, [])], "query_id long, terms array<string>"
            ),
        )
    empty_store = str(tmp_path / "none")
    out = text_index_topk_many(
        spark,
        empty_store,
        spark.createDataFrame(
            [(1, ["cat"])], "query_id long, terms array<string>"
        ),
    )
    assert out.count() == 0


def test_verify_detects_orphaned_postings(spark, tmp_path):
    """Crash drill: postings land, the stats append doesn't (simulated
    by appending postings for a second batch directly). The one-sided
    integrity probe must flag it; a healthy store (including one with
    tokenless docs, where n_docs > posted docs) must pass."""
    from hrdp_variant_load_pipeline_spark.operators.text_index import (
        verify_text_index,
    )
    from hrdp_variant_load_pipeline_spark.sources.store import append_to_store

    store = _ingest(spark, tmp_path)  # BATCH1 has a tokenless doc
    ok = verify_text_index(spark, store)
    assert ok["consistent"] and ok["n_docs"] > ok["distinct_posted_docs"]
    # orphan a batch: postings appended, stats write "crashed". The
    # check is one-sided — the tokenless doc gives one doc of slack —
    # so the orphaned batch must exceed that slack to be provable.
    orphan = spark.createDataFrame(
        [(0, "cat", 99, 1, 1), (0, "dog", 100, 1, 1)],
        "bucket bigint, term string, doc_id bigint, tf bigint, dl bigint",
    )
    append_to_store(orphan, f"{store}/postings")
    bad = verify_text_index(spark, store)
    assert not bad["consistent"]
    assert bad["distinct_posted_docs"] == bad["n_docs"] + 1


def test_batch_key_makes_append_replay_idempotent(spark, tmp_path):
    """At-least-once appends: a replayed batch_key is skipped; a crashed
    attempt (postings landed, stats didn't) followed by a replay leaves
    exact-duplicate posting rows that the probe's distinct scores once —
    bit-equality vs the one-shot operator survives both."""
    from hrdp_variant_load_pipeline_spark.operators.text_index import (
        verify_text_index,
    )

    store = str(tmp_path / "tix")
    b1 = spark.createDataFrame(BATCH1, "doc_id long, text string")
    b2 = spark.createDataFrame(BATCH2, "doc_id long, text string")
    assert append_text_index_batch(b1, store, batch_key="b1") == 4
    # straight replay: skipped
    assert append_text_index_batch(b1, store, batch_key="b1") == 0

    # crashed attempt for b2: postings written, stats "crashed" —
    # simulated by appending the postings the real append would write
    from hrdp_variant_load_pipeline_spark.sources.store import (
        append_to_store,
        read_store,
    )

    crash_store = str(tmp_path / "scratch")
    append_text_index_batch(b2, crash_store, batch_key="b2")
    orphan = read_store(spark, f"{crash_store}/postings")
    append_to_store(orphan, f"{store}/postings")
    assert not verify_text_index(spark, store)["consistent"]

    # replay of b2 through the real path: marker absent -> appends fully
    assert append_text_index_batch(b2, store, batch_key="b2") == 3
    ok = verify_text_index(spark, store)
    assert ok["consistent"]
    corpus = spark.createDataFrame(BATCH1 + BATCH2, "doc_id long, text string")
    want = {
        r.doc_id: r.bm25
        for r in bm25_scores(corpus, "doc_id", "text", TERMS).collect()
        if r.bm25 > 0
    }
    got = {r.doc_id: r.score
           for r in text_index_scores(spark, store, TERMS).collect()}
    assert got == want  # duplicates scored once, stats counted once


def test_topk_many_rejects_duplicate_query_ids(spark, tmp_path):
    store = _ingest(spark, tmp_path)
    with pytest.raises(ValueError, match="duplicate query_id 1"):
        text_index_topk_many(
            spark,
            store,
            spark.createDataFrame(
                [(1, ["cat"]), (1, ["dog"])],
                "query_id long, terms array<string>",
            ),
        )


def test_lifecycle_random_walk_matches_model(spark, tmp_path):
    """Stateful drill: a seeded random interleaving of keyed appends and
    at-least-once replays of earlier batches; after EVERY op the probe
    must be bit-equal to bm25_scores over the ingested corpus and the
    integrity probe must pass. Catches stats drift across appends that
    no single-op test can (a replay that double-counts shows up as a
    changed N/avgdl on the next check)."""
    import random

    from hrdp_variant_load_pipeline_spark.operators.text_index import (
        verify_text_index,
    )

    rng = random.Random(42)
    words = ["cat", "dog", "mat", "sun", "sky", "run"]
    store = str(tmp_path / "walk")
    ingested: dict[int, str] = {}
    sent: dict[str, list] = {}  # batch_key -> the rows delivered under it
    next_id = 0

    def check():
        corpus = spark.createDataFrame(
            sorted(ingested.items()), "doc_id long, text string"
        )
        want = {
            r.doc_id: r.bm25
            for r in bm25_scores(corpus, "doc_id", "text", TERMS).collect()
            if r.bm25 > 0
        }
        got = {r.doc_id: r.score
               for r in text_index_scores(spark, store, TERMS).collect()}
        assert got == want
        assert verify_text_index(spark, store)["consistent"]

    ops = {"append": 0, "replay": 0}
    for step in range(8):
        op = rng.choice(["append", "append", "replay"])
        if op == "replay" and sent:
            key = rng.choice(sorted(sent))
            df = spark.createDataFrame(sent[key], "doc_id long, text string")
            assert append_text_index_batch(df, store, batch_key=key) == 0
        else:
            op = "append"
            rows = []
            for _ in range(rng.randint(1, 4)):
                rows.append(
                    (next_id, " ".join(rng.choices(words, k=rng.randint(0, 7))))
                )
                next_id += 1
            key = f"walk-{step}"
            df = spark.createDataFrame(rows, "doc_id long, text string")
            assert append_text_index_batch(df, store, batch_key=key) == len(rows)
            sent[key] = rows
            ingested.update(rows)
        ops[op] += 1
        check()
    assert ops["append"] and ops["replay"]


def test_index_is_append_only_two_substores(spark, tmp_path):
    """The persisted layout after keyed appends: exactly the postings
    and stats substores, nothing beside them."""
    import os

    store = str(tmp_path / "tix")
    for key, batch in (("b1", BATCH1), ("b2", BATCH2)):
        df = spark.createDataFrame(batch, "doc_id long, text string")
        assert append_text_index_batch(df, store, batch_key=key) == len(batch)
    assert sorted(os.listdir(store)) == ["postings", "stats"]


def test_topk_many_max_df_frac_prunes_common_terms(spark, tmp_path):
    """df-based query-term pruning: terms above the df cutoff neither
    score nor reach the contribution join; surviving-term scores equal
    a probe run with ONLY those terms; an all-pruned batch returns the
    empty typed frame."""
    store = _ingest(spark, tmp_path)  # 7 docs; 'cat' df=3, 'dog' df=3
    q = spark.createDataFrame(
        [(1, ["cat", "mat"])], "query_id long, terms array<string>"
    )
    # cutoff 2/7: 'cat' (df 3) pruned, 'mat' (df 2) survives
    got = {
        (r.query_id, r.doc_id): r.score
        for r in text_index_topk_many(
            spark, store, q, k=10, max_df_frac=2 / 7
        ).collect()
    }
    only_mat = {
        (r.query_id, r.doc_id): r.score
        for r in text_index_topk_many(
            spark,
            store,
            spark.createDataFrame(
                [(1, ["mat"])], "query_id long, terms array<string>"
            ),
            k=10,
        ).collect()
    }
    assert got == only_mat and got
    all_pruned = text_index_topk_many(
        spark, store, q, k=10, max_df_frac=0.01
    )
    assert all_pruned.columns == ["query_id", "doc_id", "score", "rank"]
    assert all_pruned.count() == 0


def test_topk_many_max_query_terms_keeps_rarest(spark, tmp_path):
    """Rare-term probing: with max_query_terms=1 the probe scores each
    query by its rarest surviving term only ('mat' df=2 beats 'cat'/
    'dog' df=3), equal to a probe with just that term."""
    store = _ingest(spark, tmp_path)
    q = spark.createDataFrame(
        [(1, ["cat", "mat", "dog"])], "query_id long, terms array<string>"
    )
    got = {
        (r.query_id, r.doc_id): r.score
        for r in text_index_topk_many(
            spark, store, q, k=10, max_query_terms=1
        ).collect()
    }
    want = {
        (r.query_id, r.doc_id): r.score
        for r in text_index_topk_many(
            spark,
            store,
            spark.createDataFrame(
                [(1, ["mat"])], "query_id long, terms array<string>"
            ),
            k=10,
        ).collect()
    }
    assert got == want and got


def test_topk_many_oov_terms_do_not_consume_probe_budget(spark, tmp_path):
    """ADVICE r13: df=0 (out-of-vocabulary) terms sort FIRST under the
    rarest-N key and used to crowd real rare terms out of the
    max_query_terms budget — a query with >= budget OOV tokens probed
    only no-op terms and retrieved nothing. They are now dropped before
    the cut (strictly recall-improving, score-neutral)."""
    store = _ingest(spark, tmp_path)
    # two OOV tokens + one real rare term, budget 1: the real term must
    # survive the cut and the probe must equal a probe with just it
    q = spark.createDataFrame(
        [(1, ["zzyzx", "qwerty", "mat"])],
        "query_id long, terms array<string>",
    )
    got = {
        (r.query_id, r.doc_id): r.score
        for r in text_index_topk_many(
            spark, store, q, k=10, max_query_terms=1
        ).collect()
    }
    want = {
        (r.query_id, r.doc_id): r.score
        for r in text_index_topk_many(
            spark,
            store,
            spark.createDataFrame(
                [(1, ["mat"])], "query_id long, terms array<string>"
            ),
            k=10,
        ).collect()
    }
    assert got == want and got
    # an ALL-OOV query retrieves nothing but must not error or poison
    # the batch's other queries
    q2 = spark.createDataFrame(
        [(1, ["zzyzx", "qwerty"]), (2, ["mat"])],
        "query_id long, terms array<string>",
    )
    rows = text_index_topk_many(
        spark, store, q2, k=10, max_query_terms=1
    ).collect()
    assert {r.query_id for r in rows} == {2}


def test_topk_many_round_digits_rounds_before_ranking(spark, tmp_path):
    """round_digits (r14): scores round BEFORE the rank window, so the
    top-k cut and rank order are stable against sub-round_digits score
    noise (the engine-portability convention the similarity operators
    use)."""
    store = _ingest(spark, tmp_path)
    q = spark.createDataFrame(
        [(1, ["cat", "mat"])], "query_id long, terms array<string>"
    )
    raw = text_index_topk_many(spark, store, q, k=10).collect()
    rounded = text_index_topk_many(
        spark, store, q, k=10, round_digits=2
    ).collect()
    assert {r.doc_id for r in raw} == {r.doc_id for r in rounded}
    for r in rounded:
        assert r.score == round(r.score, 2)
    # rank follows the ROUNDED score: ties collapse onto doc_id order
    order = sorted(rounded, key=lambda r: (-r.score, r.doc_id))
    assert [r.doc_id for r in sorted(rounded, key=lambda r: r.rank)] == [
        r.doc_id for r in order
    ]
