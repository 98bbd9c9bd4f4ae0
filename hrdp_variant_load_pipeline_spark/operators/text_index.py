"""Persisted inverted index (term → posting list): the text-retrieval
twin of the ANN store (`operators/ann_store.py`), for standing keyword
search over a corpus — retrieval-based data selection and
decontamination-by-search without rescanning 100 TB of text per query.

``bm25_scores`` (operators/vocab.py) re-tokenizes the whole corpus on
every call — right for one-shot scoring, wrong for a standing index.
Here the postings are MATERIALIZED: each ingest batch tokenizes once,
reduces to (term, doc) term frequencies, and appends them to a store
CLUSTERED BY (bucket, term) — ``bucket = pmod(xxhash64(term), n)`` is an
engine-internal routing key (never compared across engines), so each
parquet file covers a narrow, disjoint bucket range and a probe's
``bucket IN (...)`` filter prunes at the footer level, with the
secondary term sort narrowing row groups further. Corpus-wide BM25
statistics (N, Σdl) reduce to ONE long-typed row per append in a side
store, so probes never touch the corpus at all.

A probe over a fully-built index returns EXACTLY the scores
``bm25_scores`` computes over the same corpus (pinned in
tests/test_text_index.py): term frequencies are the same integers, the
per-term float association mirrors the operator term-for-term, and the
per-document sum folds contributions in query-term order (absent terms
contribute an exact +0.0, which IEEE addition ignores), so the two
paths agree bit-for-bit, not approximately.

Scale shape: an append pays one (doc, term)-keyed aggregate plus the
store's bucket-range shuffle — O(tokens) wire, once per batch. A probe
reads O(postings of the probed terms): the term→bucket mapping is
computed on a query-sized frame, df arrives from ONE tiny aggregate
over the already-pruned postings, and the top-k is a
TakeOrderedAndProject, never a global sort.

The index is APPEND-ONLY: a store directory holds exactly two
substores, ``postings`` and ``stats``, and nothing is ever deleted from
either. Ids must be unique across appends (same contract as the ANN
store); re-ingesting a doc_id double-counts its postings, so a batch
that may be delivered twice carries a ``batch_key`` and its replay is
skipped (``append_text_index_batch``).

Run ``sources.store.compact_store(spark, postings_dir,
sort_by=["bucket", "term"])`` periodically to re-tile —
keep term as the secondary key or row-group pruning on the term IN
filter silently degrades (probe parity across compaction is pinned).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from hrdp_variant_load_pipeline_spark.operators.vocab import bm25_tokens
from hrdp_variant_load_pipeline_spark.runtime import snapshot
from hrdp_variant_load_pipeline_spark.sources.store import (
    append_to_store,
    read_store,
)

_POSTINGS = "postings"
_STATS = "stats"
_POSTINGS_SCHEMA = (
    "bucket BIGINT, term STRING, doc_id BIGINT, tf BIGINT, dl BIGINT"
)
# n_buckets rides every stats row: the routing modulus is a property of
# the STORE, not of a call site — a probe recomputing buckets under a
# different modulus would silently filter out valid postings, so probes
# derive it from here and appends refuse a drifted value. batch_key is
# the at-least-once commit marker: the stats row is written AFTER the
# postings, so a present key proves the batch fully landed and a replay
# skips it; postings duplicated by a crashed attempt are neutralized by
# the probes' (distinct) over the pruned frame.
_STATS_SCHEMA = "n_docs BIGINT, sum_dl BIGINT, n_buckets BIGINT, batch_key STRING"


def _bucket_of(term_col, n_buckets: int):
    return F.pmod(F.xxhash64(term_col), F.lit(n_buckets)).cast("long")


def _stats_summary(spark: SparkSession, store_dir: str) -> dict:
    """ONE read of the model-sized stats ledger: corpus totals and the
    persisted routing modulus (mixed moduli fail loud — rebuild). Every
    stats consumer goes through here so the validation cannot drift
    between call sites. Commit-marker keys are deliberately NOT
    collected — a long-lived stream writes one marker per micro-batch,
    so materializing the full key set on the driver per call would grow
    without bound; membership is checked distributedly
    (``_has_marker_key``)."""
    st = (
        read_store(spark, f"{store_dir}/{_STATS}", schema=_STATS_SCHEMA)
        .agg(
            F.sum("n_docs").alias("n"),
            F.sum("sum_dl").alias("s"),
            F.collect_set("n_buckets").alias("nbs"),
        )
        .collect()[0]
    )
    nbs = sorted(int(v) for v in st["nbs"] if v is not None)
    if len(nbs) > 1:
        raise ValueError(
            f"text index at {store_dir} has mixed n_buckets {nbs}; "
            "rebuild the store"
        )
    return {
        "n": int(st["n"] or 0),
        "s": int(st["s"] or 0),
        "nb": nbs[0] if nbs else None,
    }


def _has_marker_key(spark: SparkSession, store_dir: str, key: str) -> bool:
    """Membership probe for one commit-marker key: a filtered count over
    the ledger (one scalar back to the driver), not a collect of the
    whole key set."""
    return bool(
        read_store(spark, f"{store_dir}/{_STATS}", schema=_STATS_SCHEMA)
        .filter(F.col("batch_key") == key)
        .take(1)
    )


def append_text_index_batch(
    docs: DataFrame,
    store_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 64,
    batch_key: str | None = None,
) -> int:
    """Tokenize a document batch ONCE (the staged frame is pinned with
    ``localCheckpoint`` — batch-sized by construction — so the stats
    aggregate and the postings append share the same tokenization pass),
    reduce to (term, doc) postings, and append them clustered by
    (bucket, term). Also appends the batch's (n_docs, Σdl, n_buckets)
    row to the side stats store — documents with no tokens (including
    NULL text) produce no postings but still count toward N/avgdl,
    exactly as ``bm25_scores`` counts them. ``n_buckets`` is persisted
    with the store; an append under a different modulus than earlier
    appends is refused (it would corrupt probe routing). The two writes
    (postings, then stats) are file-granular, not atomic — pass
    ``batch_key`` (a stable per-batch id, e.g. the micro-batch id) to
    make the append REPLAY-IDEMPOTENT under at-least-once delivery: the
    stats row doubles as the batch's commit marker, so a replay whose
    key is already present skips entirely, and a crashed attempt's
    orphaned postings are both uncounted-and-harmless (probes distinct
    the pruned postings, so exact-duplicate rows score once). Without a
    ``batch_key``, run ``verify_text_index`` after unclean shutdowns and
    rebuild on inconsistency (blind re-appending would double-count).
    Returns docs ingested (0 when the batch_key was already committed).
    """
    spark = docs.sparkSession
    st = _stats_summary(spark, store_dir)
    if st["nb"] is not None and st["nb"] != n_buckets:
        raise ValueError(
            f"append_text_index_batch: store was built with "
            f"n_buckets={st['nb']}, got {n_buckets}"
        )
    if batch_key is not None and _has_marker_key(spark, store_dir, batch_key):
        return 0
    staged = snapshot(
        docs.select(
            F.col(id_col).cast("long").alias("doc_id"),
            bm25_tokens(F.col(text_col)).alias("__w"),
        ).select("doc_id", F.size("__w").cast("long").alias("dl"), "__w"),
        reliable=False,
    )
    stats = staged.agg(
        F.count("*").alias("n_docs"), F.sum("dl").alias("sum_dl")
    ).collect()[0]
    postings = (
        staged.select("doc_id", "dl", F.explode("__w").alias("term"))
        .groupBy("doc_id", "dl", "term")  # dl rides the key (functionally
        # dependent on doc_id) so no first()-style pick is needed
        .agg(F.count("*").alias("tf"))
        .select(
            _bucket_of(F.col("term"), n_buckets).alias("bucket"),
            "term",
            "doc_id",
            "tf",
            "dl",
        )
    )
    append_to_store(
        postings,
        f"{store_dir}/{_POSTINGS}",
        cluster_by=["bucket", "term"],
    )
    append_to_store(
        spark.createDataFrame(
            [(int(stats["n_docs"]), int(stats["sum_dl"] or 0), n_buckets,
              batch_key)],
            _STATS_SCHEMA,
        ),
        f"{store_dir}/{_STATS}",
    )
    return int(stats["n_docs"])


def text_index_scores(
    spark: SparkSession,
    store_dir: str,
    terms: list[str],
    k1: float = 1.2,
    b: float = 0.75,
    n_buckets: int | None = None,
) -> DataFrame:
    """BM25 of every MATCHED document against a query-term bag, reading
    ONLY the probed terms' postings (bucket IN + term IN pushed to the
    parquet scan) and the model-sized stats store — the corpus text is
    never touched.

    Output: (doc_id, score). Only documents containing ≥1 query term
    appear (everything else scores an exact 0.0 under BM25) — the same
    relation as filtering ``bm25_scores`` output to score > 0, and
    bit-equal to it row for row (tests/test_text_index.py)."""
    if not terms:
        raise ValueError("text_index_scores: empty query")
    if len(set(terms)) != len(terms):
        raise ValueError("text_index_scores: duplicate query terms")
    # ONE read of the model-sized stats store yields corpus stats AND
    # the persisted routing modulus (a probe recomputing buckets under a
    # caller-guessed modulus would silently filter out valid postings;
    # an explicit n_buckets is only accepted as a cross-check)
    st = _stats_summary(spark, store_dir)
    if n_buckets is not None and st["nb"] is not None and n_buckets != st["nb"]:
        raise ValueError(
            f"text_index_scores: store was built with n_buckets="
            f"{st['nb']}, got {n_buckets}"
        )
    nb = st["nb"] if st["nb"] is not None else (n_buckets or 64)
    n_docs = st["n"]
    if n_docs == 0:
        return spark.createDataFrame([], "doc_id BIGINT, score DOUBLE")
    # exact avg: integer-valued doubles below 2^53, same value avg() sees
    avgdl = float(st["s"]) / float(n_docs)
    if avgdl == 0.0:  # every ingested doc tokenless -> no postings exist
        return spark.createDataFrame([], "doc_id BIGINT, score DOUBLE")
    # term → (fold position, bucket): computed on a query-sized frame so
    # the bucket function stays the engine-side xxhash64 (never
    # reimplemented driver-side, where a drift would silently mis-route)
    tdf = spark.createDataFrame(
        [(i, t) for i, t in enumerate(terms)], "ti INT, term STRING"
    ).select("ti", "term", _bucket_of(F.col("term"), nb).alias("bucket"))
    trows = tdf.collect()
    needed = sorted({r["bucket"] for r in trows})

    # distinct over the PRUNED frame (probed terms only): exact-duplicate
    # posting rows from a crashed-then-replayed batch append score once —
    # O(probed postings) for crash-tolerance everywhere
    post = (
        read_store(spark, f"{store_dir}/{_POSTINGS}", schema=_POSTINGS_SCHEMA)
        .filter(F.col("bucket").isin(needed))
        .filter(F.col("term").isin(list(terms)))
        .distinct()
    )
    # df per probed term: ONE tiny aggregate over the pruned postings
    # (ids unique across appends ⇒ one posting per (term, doc))
    dfs = {r["term"]: r["df"] for r in
           post.groupBy("term").agg(F.count("*").alias("df")).collect()}
    tmeta = spark.createDataFrame(
        [(r["ti"], r["term"], float(dfs.get(r["term"], 0))) for r in trows],
        "ti INT, term STRING, df DOUBLE",
    )
    n_lit = F.lit(float(n_docs))
    tf = F.col("tf").cast("double")
    dl = F.col("dl").cast("double")
    # float association mirrors bm25_scores term-for-term (vocab.py)
    idf = F.log(1.0 + (n_lit - F.col("df") + 0.5) / (F.col("df") + 0.5))
    denom = tf + k1 * (1.0 - b + b * dl / F.lit(avgdl))
    contrib = (
        post.join(F.broadcast(tmeta), "term")
        .select(
            "doc_id",
            F.col("ti"),
            (idf * tf * (k1 + 1.0) / denom).alias("__c"),
        )
    )
    # fold per-term contributions in query order: bm25_scores sums terms
    # 0..m-1 from 0.0; skipping absent terms adds an exact 0.0, which
    # cannot change the IEEE result, so this fold is bit-equal to it
    return (
        contrib.groupBy("doc_id")
        .agg(
            F.aggregate(
                F.sort_array(F.collect_list(F.struct("ti", "__c"))),
                F.lit(0.0),
                lambda acc, x: acc + x["__c"],
            ).alias("score")
        )
    )


def text_index_topk_many(
    spark: SparkSession,
    store_dir: str,
    queries_df: DataFrame,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    query_id_col: str = "query_id",
    terms_col: str = "terms",
    max_df_frac: float | None = None,
    max_query_terms: int | None = None,
    round_digits: int | None = None,
) -> DataFrame:
    """Batch retrieval: top-k per query over the persisted index in ONE
    postings pass — the decontamination-by-search shape, where thousands
    of eval prompts probe the corpus at once.

    ``max_df_frac`` (None = exact BM25 over every query term) drops
    query terms whose document frequency exceeds that fraction of the
    corpus BEFORE scoring. A term in 20%+ of documents carries
    near-zero IDF but multiplies the contribution join by
    df × (queries containing it) — with full-document queries (the
    decontamination shape) the un-pruned join is effectively quadratic
    and measured-unrunnable at sf10 (r13). ``max_query_terms`` (None =
    all surviving terms) additionally keeps only each query's N
    RAREST surviving terms (smallest df, ties by term) — rare-term
    probing, the standard decontamination-by-search design: it bounds
    the contribution join at queries × N × df_cap BY CONSTRUCTION,
    instead of hoping the vocabulary is Zipf-shaped. Scores under
    either pruning are NOT bit-equal to ``bm25_scores`` with the full
    term list — they are BM25 over the surviving (informative) terms;
    queries whose terms are all pruned produce no rows.

    ``queries_df`` is (query_id, terms array<string>) and MODEL-SIZED by
    contract (it is collected once for routing and broadcast back for
    scoring — same discipline as every dim side in the engine). The
    postings scan is pruned to the UNION of all queried terms' buckets
    and terms; a term shared by multiple queries joins each of them, so
    its postings are read ONCE regardless of how many queries carry it.
    Per (query, doc) contributions fold in that query's term order, so
    each query's scores are bit-equal to ``text_index_scores`` (and
    hence to ``bm25_scores``) run alone with the same terms — pinned in
    tests/test_text_index.py. The per-query top-k is a
    rank-window (WindowGroupLimit keeps ~k rows per query ahead of the
    one query-keyed exchange).

    Output: (query_id, doc_id, score, rank), rank 1..k per query by
    (score desc, doc_id asc); queries whose terms are all absent from
    the corpus produce no rows. ``round_digits`` rounds scores BEFORE
    ranking (the similarity operators' engine-portability convention):
    an external oracle recomputing the same scores can land 1 ulp away
    on libm boundaries, and ranking on the rounded value keeps the
    top-k cut and rank order comparable across engines."""
    qrows = queries_df.select(
        F.col(query_id_col).alias("qid"), F.col(terms_col).alias("qterms")
    ).collect()
    if not qrows:
        return spark.createDataFrame(
            [], "query_id BIGINT, doc_id BIGINT, score DOUBLE, rank INT"
        )
    seen_qids: set[int] = set()
    qmeta_py: list[tuple] = []
    all_terms: set[str] = set()
    for r in qrows:
        qid = int(r["qid"])
        if qid in seen_qids:
            # two rows under one id would silently blend their term
            # lists into a fold neither query asked for
            raise ValueError(f"text_index_topk_many: duplicate query_id {qid}")
        seen_qids.add(qid)
        terms = list(r["qterms"] or [])
        if not terms:
            raise ValueError(f"text_index_topk_many: empty query {qid}")
        if len(set(terms)) != len(terms):
            raise ValueError(
                f"text_index_topk_many: duplicate terms in query {qid}"
            )
        for pos, t in enumerate(terms):
            qmeta_py.append((qid, pos, t))
            all_terms.add(t)

    st = _stats_summary(spark, store_dir)
    n_docs = st["n"]
    avgdl = float(st["s"]) / float(n_docs) if n_docs else 0.0
    if n_docs == 0 or avgdl == 0.0:
        return spark.createDataFrame(
            [], "query_id BIGINT, doc_id BIGINT, score DOUBLE, rank INT"
        )
    nb = st["nb"]

    term_list = sorted(all_terms)
    tdf = spark.createDataFrame(
        [(t,) for t in term_list], "term STRING"
    ).select("term", _bucket_of(F.col("term"), nb).alias("bucket"))
    needed = sorted({r["bucket"] for r in tdf.collect()})
    scan = read_store(
        spark, f"{store_dir}/{_POSTINGS}", schema=_POSTINGS_SCHEMA
    ).filter(F.col("bucket").isin(needed))
    # term pruning: a literal IN pushes to the parquet footer and is the
    # fastest path for query-sized term sets, but a batch of thousands
    # of queries can union tens of thousands of distinct terms — a
    # 50k-element In() expression stalled planning/codegen for minutes
    # (r13, 2000-doc decontamination probe). Above the threshold the
    # term filter becomes a broadcast semi-join against the (probe-
    # sized) term table: bucket pruning still hits the footer, the term
    # prune moves to the hash join.
    if len(term_list) <= 1024:
        scan = scan.filter(F.col("term").isin(term_list))
    else:
        scan = scan.join(
            F.broadcast(tdf.select("term")), "term", "left_semi"
        )
    post = scan.distinct()  # crashed-replay duplicate rows score once
    # (see text_index_scores)
    dfs = {r["term"]: r["df"] for r in
           post.groupBy("term").agg(F.count("*").alias("df")).collect()}
    if max_df_frac is not None:
        cutoff = float(max_df_frac) * float(n_docs)
        surviving = {t for t, df in dfs.items() if df <= cutoff}
        qmeta_py = [
            (qid, pos, t) for qid, pos, t in qmeta_py if t in surviving
        ]
    if max_query_terms is not None:
        # out-of-vocabulary terms (df == 0) can never contribute to any
        # score, but they sort FIRST under the rarest-N key and would
        # crowd genuinely rare shared terms out of the probe budget — a
        # query with >= max_query_terms OOV tokens would probe only
        # no-op terms and retrieve nothing. Dropping them is strictly
        # recall-improving and score-neutral.
        by_q: dict = {}
        for qid, pos, t in qmeta_py:
            df = dfs.get(t, 0)
            if df == 0:
                continue
            by_q.setdefault(qid, []).append((df, t, pos))
        qmeta_py = [
            (qid, pos, t)
            for qid, entries in by_q.items()
            for _df, t, pos in sorted(entries)[:max_query_terms]
        ]
    if max_df_frac is not None or max_query_terms is not None:
        if not qmeta_py:
            return spark.createDataFrame(
                [], "query_id BIGINT, doc_id BIGINT, score DOUBLE, rank INT"
            )
        # re-prune the postings to the surviving terms so the dropped
        # terms' (large) posting lists never reach the contribution join
        surv_list = sorted({t for _qid, _pos, t in qmeta_py})
        if len(surv_list) <= 1024:
            post = post.filter(F.col("term").isin(surv_list))
        else:
            post = post.join(
                F.broadcast(
                    spark.createDataFrame(
                        [(t,) for t in surv_list], "term STRING"
                    )
                ),
                "term",
                "left_semi",
            )
    qmeta = spark.createDataFrame(
        [(qid, pos, t, float(dfs.get(t, 0))) for qid, pos, t in qmeta_py],
        "qid BIGINT, qpos INT, term STRING, df DOUBLE",
    )
    n_lit = F.lit(float(n_docs))
    tf = F.col("tf").cast("double")
    dl = F.col("dl").cast("double")
    idf = F.log(1.0 + (n_lit - F.col("df") + 0.5) / (F.col("df") + 0.5))
    denom = tf + k1 * (1.0 - b + b * dl / F.lit(avgdl))
    contrib = post.join(F.broadcast(qmeta), "term").select(
        "qid",
        F.col("doc_id"),
        F.col("qpos"),
        (idf * tf * (k1 + 1.0) / denom).alias("__c"),
    )
    scored = contrib.groupBy("qid", "doc_id").agg(
        F.aggregate(
            F.sort_array(F.collect_list(F.struct("qpos", "__c"))),
            F.lit(0.0),
            lambda acc, x: acc + x["__c"],
        ).alias("score")
    )
    if round_digits is not None:
        scored = scored.withColumn("score", F.round("score", round_digits))
    from pyspark.sql.window import Window

    w = Window.partitionBy("qid").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("qid").alias("query_id"), "doc_id", "score", "rank"
        )
    )


def verify_text_index(spark: SparkSession, store_dir: str) -> dict:
    """Integrity probe for the two-write append: each ingest appends the
    postings FIRST and the stats row SECOND, so a crash between the two
    leaves the last batch's postings present but uncounted in N/Σdl —
    every subsequent score would use drifted corpus statistics. This
    check is one-sided but decisive for that failure: with consistent
    appends, distinct doc_ids in the postings can never EXCEED stats
    n_docs (tokenless docs only push the inequality the other way), so
    ``distinct_doc_ids > n_docs`` proves an orphaned postings batch.
    Returns the counts and a boolean; on ``consistent=False`` the remedy
    is to rebuild the store (re-appending the lost batch would
    double-count its postings — ids are unique-once by contract)."""
    n_docs = _stats_summary(spark, store_dir)["n"]
    posted = (
        read_store(spark, f"{store_dir}/{_POSTINGS}", schema=_POSTINGS_SCHEMA)
        .agg(F.countDistinct("doc_id").alias("d"))
        .collect()[0]
    )
    distinct_docs = int(posted["d"] or 0)
    return {
        "n_docs": n_docs,
        "distinct_posted_docs": distinct_docs,
        "consistent": distinct_docs <= n_docs,
    }
