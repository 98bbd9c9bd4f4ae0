"""DSIR-style importance resampling for training-data selection
(Xie et al., NeurIPS 2023 — "Data Selection for Language Models via
Importance Resampling"), re-expressed as Spark DataFrame operators.

The method: featurize every document as a bag of hashed word n-grams
(unigrams + bigrams hashed into ``n_buckets`` feature buckets), fit two
smoothed bag-of-buckets models — one on a small TARGET corpus (the
distribution you want, e.g. curated text) and one on the RAW pool — and
score each raw document by its log importance weight

    log w(d) = sum over d's hashed n-grams g of
               [ log p_target(bucket(g)) - log p_raw(bucket(g)) ]

then sample without replacement proportionally to the weights via the
Gumbel top-k trick. Documents whose features look more target-like than
pool-like are preferentially kept.

Scale shape (100 TB pool, model-sized feature space):

* featurization is ROW-LOCAL — the bucket array is a ``transform`` over
  the doc's own n-grams, no explode of the corpus;
* the two bucket-count tables are map-side-combined aggregates whose
  result is at most ``n_buckets`` rows (the one shuffle in the whole
  pipeline, and its payload is <= 2 * n_buckets rows per partition);
* the log-ratio table is ``n_buckets`` doubles — model-sized. It is
  collected once and inlined as a SINGLE array literal, so scoring is a
  row-local ``aggregate`` over each doc's bucket array: the corpus is
  never shuffled, exploded, or joined to score it;
* selection is TakeOrderedAndProject (per-partition top-k, then a
  k-sized merge on the driver) — never a global sort.

Determinism: the bucket hash and the Gumbel noise both derive from md5,
so features, weights, and the resampled set are pure functions of
(text, salt) — reproducible across runs, partitionings, and engines
(the DuckDB oracle in queries_model.py recomputes them bit-for-bit).

No Python UDFs anywhere; everything is built-in column expressions.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from hrdp_variant_load_pipeline_spark.runtime import snapshot


#: modulus combining the two word hashes of a bigram bucket (prime, <2^40
#: — the same decorrelating modulus family as operators/dedup.MINHASH_P)
DSIR_P = 999_999_999_989


def _word_hashes(words: Column, salt: str) -> Column:
    """60-bit md5-prefix hash per word: int(md5(salt||w)[:15], 16)."""
    return F.transform(
        words,
        lambda w: F.conv(
            F.substring(F.md5(F.concat(F.lit(salt), w)), 1, 15), 16, 10
        ).cast("bigint"),
    )


def _buckets_from_hashes(h: Column, n_words: Column, n_buckets: int) -> Column:
    """Unigram + bigram bucket ids from a (bound) word-hash array.

    unigram bucket = h(w) mod n_buckets; bigram bucket =
    (h(a) + 3*h(b)) mod DSIR_P mod n_buckets — exact bigint in any
    engine (h < 2^60 so h + 3*h < 2^62). ONE md5 per word total,
    replacing one md5 per unigram AND per joined bigram string (the
    gram construction was the measured dominant DSIR cost).
    """
    uni = F.transform(h, lambda x: x % n_buckets)
    m = F.size(h)
    # slice(start=..., length=0) is legal, but guard like shingle_array
    # so single-word docs produce an explicit empty bigram array
    big = F.when(
        n_words >= 2,
        F.zip_with(
            F.slice(h, 1, m - 1),
            F.slice(h, 2, m - 1),
            lambda a, b: ((a + 3 * b) % DSIR_P) % n_buckets,
        ),
    ).otherwise(F.array().cast("array<bigint>"))
    return F.concat(uni, big)


def hashed_ngram_buckets(
    text: Column, n_buckets: int, salt: str = "dsir"
) -> Column:
    """Hashed feature-bucket ids (WITH multiplicity — bag, not set) for a
    doc's word unigrams + bigrams, as an ``array<long>``, uni then bi.

    Hash family: one 60-bit md5-prefix hash per WORD (md5(salt || w)),
    unigram bucket = h mod n_buckets, bigram bucket =
    (h(a) + 3*h(b)) mod DSIR_P mod n_buckets — reproducible exactly by
    an ANSI-SQL oracle (see the dbuck CTE in queries_model.py) and by
    ~5 lines of Python (tests/test_dsir.py).

    NOTE: as a single Column expression the word-hash array is evaluated
    ~3x per row (once per referencing slice/transform — still far
    cheaper than per-gram digests). :func:`featurize` binds it as a
    staged column so the hot pipeline path pays ONE digest pass.
    """
    words = F.filter(F.split(text, r"\s+"), lambda t: t != "")
    return _buckets_from_hashes(
        _word_hashes(words, salt), F.size(words), n_buckets
    )


def _check_buckets_col(
    df: DataFrame, buckets_col: str, n_buckets: int, salt: str
) -> None:
    """A precomputed bucket column hashed under a DIFFERENT n_buckets or
    salt silently skews every downstream count/score (out-of-domain
    buckets drop from the logratio join; element_at nulls discard docs).
    :func:`featurize` stamps its parameters into the column metadata;
    refuse a stamped column that disagrees. Unstamped columns (user-
    built) pass — the stamp is the guard, not a requirement."""
    field = df.schema[buckets_col]
    meta = field.metadata or {}
    if "dsir_n_buckets" in meta and (
        int(meta["dsir_n_buckets"]) != n_buckets
        or meta.get("dsir_salt") != salt
    ):
        raise ValueError(
            f"{buckets_col!r} was featurized with n_buckets="
            f"{meta['dsir_n_buckets']}, salt={meta.get('dsir_salt')!r} "
            f"but is being consumed with n_buckets={n_buckets}, "
            f"salt={salt!r}"
        )


def _bucket_counts(
    df: DataFrame,
    text_col: str,
    n_buckets: int,
    salt: str,
    buckets_col: str | None = None,
) -> DataFrame:
    """(bucket, c) hashed-n-gram counts — the corpus's only shuffle, and
    it carries at most ``n_buckets`` rows per partition after the
    map-side partial aggregate. ``buckets_col`` names a precomputed
    :func:`hashed_ngram_buckets` column to count instead of re-deriving
    the grams from text (see :func:`featurize`)."""
    if buckets_col:
        _check_buckets_col(df, buckets_col, n_buckets, salt)
        arr = F.col(buckets_col)
    else:
        arr = hashed_ngram_buckets(F.col(text_col), n_buckets, salt)
    return (
        df.select(F.explode(arr).alias("bucket"))
        .groupBy("bucket")
        .agg(F.count("*").alias("c"))
    )


def featurize(
    docs: DataFrame,
    text_col: str,
    n_buckets: int,
    salt: str = "dsir",
    buckets_col: str = "_dsir_buckets",
) -> DataFrame:
    """Attach the hashed-n-gram bucket array as a real column so ONE
    gram-construction pass can feed every downstream consumer.

    Gram hashing (split + per-word md5) is the measured dominant cost of
    the DSIR chain (BENCH_NOTES.md) — and the naive chain pays it once
    for raw counts and again for scoring (plus again per re-score in a
    weight sweep). Callers that persist the featurized frame and pass
    ``raw_buckets_col=``/``buckets_col=`` to :func:`bucket_logratio` /
    :func:`dsir_log_weight` pay it once. The word-hash array is staged
    as a bound column here, so this path runs ONE digest pass per doc
    (the bare :func:`hashed_ngram_buckets` Column form pays ~3).
    """
    if buckets_col in docs.columns:
        docs = docs.drop(buckets_col)
    keep = docs.columns
    words = F.filter(F.split(F.col(text_col), r"\s+"), lambda t: t != "")
    staged = docs.select(*keep, words.alias("__dsir_ws"))
    staged = staged.select(
        *keep,
        F.size(F.col("__dsir_ws")).alias("__dsir_n"),
        _word_hashes(F.col("__dsir_ws"), salt).alias("__dsir_h"),
    )
    return staged.select(
        *keep,
        _buckets_from_hashes(
            F.col("__dsir_h"), F.col("__dsir_n"), n_buckets
        ).alias(
            buckets_col,
            # consumers validate these against their own parameters —
            # a stale/mismatched featurization fails loud, not skewed
            metadata={"dsir_n_buckets": n_buckets, "dsir_salt": salt},
        ),
    )


def bucket_logratio(
    target: DataFrame,
    raw: DataFrame,
    text_col: str,
    n_buckets: int = 1024,
    salt: str = "dsir",
    raw_buckets_col: str | None = None,
    target_buckets_col: str | None = None,
    cache_registry: list | None = None,
) -> DataFrame:
    """Per-bucket log importance ratio
    ``ln p_target(b) - ln p_raw(b)`` over the FULL bucket domain
    (add-1 smoothing, so unseen buckets still carry the ratio of the
    two smoothing floors). Output: (bucket, logratio), n_buckets rows.

    ``raw_buckets_col`` / ``target_buckets_col`` name precomputed
    :func:`featurize` columns on the respective side (when the target is
    a slice OF the featurized pool — the common in-pipeline case — both
    sides then ride one cached gram pass).
    ``cache_registry`` receives the two count snapshots (``runtime``).
    """
    dom = target.sparkSession.range(n_buckets).select(
        F.col("id").alias("bucket")
    )
    t = _bucket_counts(target, text_col, n_buckets, salt, target_buckets_col)
    r = _bucket_counts(raw, text_col, n_buckets, salt, raw_buckets_col)
    # pin both (≤ n_buckets rows) count frames: the t_total/r_total
    # broadcasts below otherwise re-execute each corpus-scale counting
    # plan a second time beside the dom-join execution (same pathology
    # as lm_doc_score's derived broadcasts, BENCH_NOTES r12)
    if not t.isStreaming:
        t = snapshot(t, eager=False, reliable=False)
    if not r.isStreaming:
        r = snapshot(r, eager=False, reliable=False)
    if cache_registry is not None:
        cache_registry.extend((t, r))
    tt = t.agg(F.sum("c").alias("t_total"))
    rt = r.agg(F.sum("c").alias("r_total"))
    b = float(n_buckets)
    return (
        dom.join(t.withColumnRenamed("c", "tc"), "bucket", "left")
        .join(r.withColumnRenamed("c", "rc"), "bucket", "left")
        .crossJoin(F.broadcast(tt))
        .crossJoin(F.broadcast(rt))
        .select(
            "bucket",
            (
                F.log(
                    (F.coalesce("tc", F.lit(0)) + 1)
                    / (F.coalesce("t_total", F.lit(0)) + b)
                )
                - F.log(
                    (F.coalesce("rc", F.lit(0)) + 1)
                    / (F.coalesce("r_total", F.lit(0)) + b)
                )
            ).alias("logratio"),
        )
    )


def dsir_log_weight(
    docs: DataFrame,
    logratio: DataFrame,
    text_col: str,
    n_buckets: int,
    salt: str = "dsir",
    out_col: str = "dsir_logw",
    buckets_col: str | None = None,
) -> DataFrame:
    """Score every doc with its log importance weight — ROW-LOCAL.

    The (bucket, logratio) table is model-sized (``n_buckets`` doubles),
    so it is collected ONCE into a single array literal indexed by
    bucket id and each doc folds its own bucket array through it with
    ``aggregate`` — zero shuffle, zero explode, zero join on the corpus
    side. Docs with no n-grams (empty text) score 0.0. ``buckets_col``
    names a precomputed :func:`featurize` column to fold instead of
    re-deriving the grams from text.
    """
    rows = logratio.collect()  # model-sized: n_buckets rows
    table = [0.0] * n_buckets
    for row in rows:
        if not 0 <= row["bucket"] < n_buckets:
            raise ValueError(
                f"dsir_log_weight: logratio bucket {row['bucket']} is "
                f"outside [0, {n_buckets}) — the logratio table was "
                "built with a different n_buckets than this scoring call"
            )
        table[row["bucket"]] = float(row["logratio"])
    lut = F.lit(table)
    if buckets_col:
        _check_buckets_col(docs, buckets_col, n_buckets, salt)
        buckets = F.col(buckets_col)
    else:
        buckets = hashed_ngram_buckets(F.col(text_col), n_buckets, salt)
    score = F.aggregate(
        buckets,
        F.lit(0.0),
        lambda acc, bkt: acc + F.element_at(lut, (bkt + 1).cast("int")),
    )
    return docs.withColumn(out_col, score)


def gumbel_key(
    id_col: Column, logw_col: Column, salt: str = "dsirpick"
) -> Column:
    """Gumbel-perturbed key ``logw + Gumbel(0,1)`` for weighted sampling
    WITHOUT replacement (top-k of these keys is an exact sample
    proportional to the softmax of the weights — the Gumbel top-k
    trick). The noise is deterministic: u = (md5-prefix + 0.5) / 2^32
    (never exactly 0 or 1), g = -ln(-ln(u)).
    """
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(salt), id_col.cast("string"))), 1, 8
        ),
        16,
        10,
    ).cast("double")
    u = (h + 0.5) / F.lit(float(2**32))
    return logw_col + -F.log(-F.log(u))


def dsir_resample(
    scored: DataFrame,
    k: int,
    id_col: str,
    logw_col: str = "dsir_logw",
    salt: str = "dsirpick",
    key_col: str = "dsir_key",
) -> DataFrame:
    """Select ``k`` docs by Gumbel top-k over the log weights — the DSIR
    resampling step, deterministic in (salt, id). The plan is
    TakeOrderedAndProject: each partition keeps its local top-k and the
    driver merges k-sized heads — no global sort, no full-data shuffle.
    Ties (already measure-zero given the noise) break on id.
    """
    key = gumbel_key(F.col(id_col), F.col(logw_col), salt)
    return (
        scored.withColumn(key_col, key)
        .orderBy(F.col(key_col).desc(), F.col(id_col))
        .limit(k)
    )


#: relative error of the ``approxQuantile`` cut in ``dsir_select_fraction``
_QUANTILE_ERROR = 0.001


def dsir_select_fraction(
    scored: DataFrame,
    fraction: float,
    logw_col: str = "dsir_logw",
) -> DataFrame:
    """The petabyte-scale selection shape: keep (approximately) the top
    ``fraction`` of the pool by weight via a THRESHOLD cut — tau =
    approx-quantile(logw, 1 - fraction), then a row-local filter. One
    Greenwald-Khanna sketch pass + one filter pass; no ordered merge,
    no driver-sized result dependency (a billion-row top-k has a
    billion-row "k"). The kept fraction deviates from the target by at
    most ``_QUANTILE_ERROR`` quantile mass plus threshold ties.
    """
    if not 0.0 < fraction <= 1.0:
        raise ValueError(f"fraction must be in (0, 1], got {fraction}")
    if fraction == 1.0:
        return scored
    tau = scored.approxQuantile(logw_col, [1.0 - fraction], _QUANTILE_ERROR)[0]
    return scored.filter(F.col(logw_col) >= tau)
