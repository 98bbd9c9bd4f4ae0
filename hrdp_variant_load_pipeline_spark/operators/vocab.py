"""Corpus vocabulary building and token-statistics document scoring.

Tokenizer training and quality filtering both start from corpus-level
token statistics: the vocabulary builder is the input to a BPE/WordPiece
trainer, and the n-gram LM scorer (``lm_doc_score``) is the
LM-perplexity filter (CCNet-style) — documents made of rare tokens score
low.

Scale shape: one explode → hash aggregate with map-side combine (the
shuffle carries one row per distinct token per map partition, not one per
occurrence), a TakeOrdered top-k for the vocabulary, and a BROADCAST of
bounded model tables back onto the corpus for scoring — the corpus
itself never shuffles during scoring.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from hrdp_variant_load_pipeline_spark.runtime import estimated_bytes, snapshot


def build_vocab(
    df: DataFrame,
    text_col: str,
    max_vocab: int = 30000,
) -> DataFrame:
    """Top-``max_vocab`` tokens by corpus frequency.

    Output: (token, tf, df, rank) — total occurrences, number of distinct
    documents containing the token, and dense frequency rank (1 = most
    frequent; ties broken by token for determinism).
    """
    # the synthetic doc id must exist BEFORE the explode (assigned after,
    # it would be per-token and df would silently equal tf)
    src = df.select(F.col(text_col)).withColumn(
        "__doc", F.monotonically_increasing_id()
    )
    tok = src.select(
        F.explode(
            F.filter(F.split(F.col(text_col), r"\s+"), lambda t: t != "")
        ).alias("token"),
        "__doc",
    )
    # tf + df via TWO stacked hash aggregates: (token, doc) partial
    # counts, then per-token sum/count. A mixed count + count_distinct
    # in one agg plans an Expand (2x every exploded row before the
    # shuffle); the stacked form ships each (token, doc) pair once —
    # measured 5.18 -> 4.04 s at sf10 (27M tokens), and the advantage
    # grows with in-doc token repetition (the expand is O(tokens), the
    # pair shuffle O(distinct pairs)).
    stats = (
        tok.groupBy("token", "__doc")
        .agg(F.count("*").alias("__c"))
        .groupBy("token")
        .agg(F.sum("__c").alias("tf"), F.count("*").alias("df"))
    )
    # two-stage exact top-k: (tf desc, token asc) is a TOTAL order (token
    # is unique after the aggregate), so orderBy+limit — a distributed
    # TakeOrdered: per-partition top-k heaps, merged — selects exactly
    # the rows the global rank would keep, ties included. The
    # single-partition rank window then runs over ≤ max_vocab survivors
    # (model-sized by construction), never the full distinct-token table
    # (corpus-like at web scale: 10^8+ rows).
    top = stats.orderBy(F.desc("tf"), F.asc("token")).limit(max_vocab)
    return top.withColumn(
        "rank",
        F.row_number().over(Window.orderBy(F.desc("tf"), F.asc("token"))),
    )


def word_weighted_stats(
    df: DataFrame,
    text_col: str,
    group_cols: list[str],
    word_stats,
    n_docs_col: str = "n_docs",
) -> DataFrame:
    """Tokenize the VOCABULARY, not the corpus: group-level sums of any
    per-word statistic, with the expensive per-word function applied once
    per DISTINCT word.

    For a statistic f that decomposes over whitespace words —
    ``f(doc) = Σ_w∈doc f(w)`` (token counts under a word-bounded
    tokenizer like BPE or unigram-LM, per-word scores, per-word
    byte/char costs) — the corpus total factorizes as
    ``Σ_docs f(doc) = Σ_(g,w) freq(g,w) · f(w)``. So the corpus is
    touched ONCE by a JVM-side explode + hash aggregate (map-side
    combined, one shuffle on (group, word)), and ``word_stats`` — the
    Python/Arrow slow path — runs over the distinct-word table only:
    vocabulary-sized work (Zipf-bounded: 10^5..10^7 rows) instead of
    corpus-sized (10^9+ tokens at 100 TB). Measured at sf10 (382k types
    / 27M tokens): the BPE+unigram battery arms drop ~4x vs Arrow-UDF
    passes over every document, identical values (integer counts and
    dyadic per-word scores make the reassociated sums EXACT, not
    approximately equal).

    ``word_stats``: callable ``words_df -> DataFrame`` mapping a frame
    with a single ``word`` column to (word, <numeric stat columns>). It
    must return EXACTLY ONE row per input word: a missing word silently
    drops its occurrences from every sum, a duplicated word double-
    counts them (the weighted join is a plain inner join by design —
    guarding would cost a corpus-independent but vocabulary-sized check
    per call). Words are split with the same
    ``\\s+``-and-drop-empties rule the vocab/TF-IDF family uses.

    Output: ``group_cols`` + ``n_docs_col`` (docs per group, INCLUDING
    wordless docs — counted from ``df`` itself, not the word table) +
    one ``sum_<stat>`` per stat column (double, 0.0 for groups with no
    words).
    """
    if not group_cols:
        raise ValueError(
            "word_weighted_stats: group_cols must be non-empty (for a "
            "corpus-global total, add a literal group column)"
        )
    words = df.select(
        *group_cols,
        F.explode(
            F.filter(F.split(F.col(text_col), r"\s+"), lambda t: t != "")
        ).alias("word"),
    )
    # (group, word) frequencies: the ONE corpus-sized pass. Snapshotted
    # — both the distinct-word frame and the weighted join read it, and
    # an unmaterialized diamond would re-run the explode twice.
    # eager=False (r15's eager-trap lesson applied here, r16): the
    # snapshot materializes inside the FIRST consuming action instead
    # of as a blocking construction-time job, so a battery that unions
    # this operator with sibling components keeps scheduling them
    # concurrently (measured in model_ops_battery's union action at
    # sf10 — see OPTIMIZATION_r16.md).
    wf = snapshot(
        words.groupBy(*group_cols, "word").agg(F.count("*").alias("freq")),
        eager=False,
        reliable=False,
    )
    stats = word_stats(wf.select("word").distinct())
    stat_cols = [c for c in stats.columns if c != "word"]
    joined = wf.join(stats, "word")
    sums = joined.groupBy(*group_cols).agg(
        *[
            F.sum(F.col("freq") * F.col(c)).cast("double").alias(f"sum_{c}")
            for c in stat_cols
        ]
    )
    docs = df.groupBy(*group_cols).agg(F.count("*").alias(n_docs_col))
    out = docs.join(sums, group_cols, "left")
    return out.select(
        *group_cols,
        n_docs_col,
        *[
            F.coalesce(F.col(f"sum_{c}"), F.lit(0.0)).alias(f"sum_{c}")
            for c in stat_cols
        ],
    )


def tfidf_vectors(
    df: DataFrame,
    id_col: str,
    text_col: str,
    vocab: DataFrame,
    n_docs: int | None = None,
    out_prefix: str = "tfidf",
) -> DataFrame:
    """Sparse TF-IDF document vectors against a ``build_vocab`` table —
    the text → vector bridge feeding the ANN/near-dup operators when no
    learned embeddings exist.

    Weights: ``tf_d * (ln((N+1)/(df_t+1)) + 1)`` (smoothed idf), then
    L2-normalized per document so downstream cosine is a plain dot
    product. Output: input columns plus ``{out_prefix}_idx``
    (``array<int>`` of vocabulary ranks, ascending) and
    ``{out_prefix}_val`` (``array<double>``) — a sparse encoding that
    stays array-native (no UDFs). Documents with no in-vocabulary tokens
    keep empty arrays.

    Scale: the vocabulary is broadcast (bounded by ``max_vocab``); the
    corpus pays one explode + one (doc, rank)-keyed aggregate + one
    doc-keyed collect — wire volume O(matched tokens), and the corpus
    text itself never shuffles. ``n_docs`` (the idf N) is a metadata
    scalar: pass it when known, else ONE count() action derives it.
    """
    if n_docs is None:
        n_docs = df.count()
    tok = df.select(
        F.col(id_col),
        F.explode(
            F.filter(F.split(F.col(text_col), r"\s+"), lambda t: t != "")
        ).alias("token"),
    )
    idf = F.log((F.lit(float(n_docs) + 1.0)) / (F.col("df") + 1.0)) + 1.0
    matched = tok.join(
        F.broadcast(vocab.select("token", "rank", "df")), "token"
    )
    weights = (
        # df rides the key (functionally dependent on rank) so the idf
        # factor needs no first()-style pick
        matched.groupBy(id_col, "rank", "df")
        .agg((F.count("*") * idf).alias("w"))
        .groupBy(id_col)
        .agg(
            F.sort_array(
                F.collect_list(
                    F.struct(
                        F.col("rank").cast("int").alias("rank"), F.col("w")
                    )
                )
            ).alias("__pairs")
        )
    )
    norm = F.sqrt(
        F.aggregate(
            "__pairs", F.lit(0.0), lambda acc, p: acc + p["w"] * p["w"]
        )
    )
    vecs = weights.select(
        F.col(id_col),
        F.transform("__pairs", lambda p: p["rank"]).alias(f"{out_prefix}_idx"),
        F.transform("__pairs", lambda p: F.round(p["w"] / norm, 6)).alias(
            f"{out_prefix}_val"
        ),
    )
    empty_i = F.array().cast("array<int>")
    empty_v = F.array().cast("array<double>")
    return df.join(vecs, id_col, "left").select(
        *df.columns,
        F.coalesce(F.col(f"{out_prefix}_idx"), empty_i).alias(f"{out_prefix}_idx"),
        F.coalesce(F.col(f"{out_prefix}_val"), empty_v).alias(f"{out_prefix}_val"),
    )


def sparse_cosine_pairs(
    a: DataFrame,
    b: DataFrame,
    id_col: str,
    idx_col: str = "tfidf_idx",
    val_col: str = "tfidf_val",
    min_cosine: float = 0.0,
) -> DataFrame:
    """Cosine between L2-normalized sparse vectors (``tfidf_vectors``
    output): broadcast the (small) ``b`` side, intersect index arrays
    row-locally via a map lookup — no explode, no shuffle of ``a``.

    Output: (id_a, id_b, cosine). For corpus-scale × corpus-scale use an
    inverted-index/LSH blocking strategy instead (operators.dedup) —
    this is the query-set path, queries ≪ corpus.
    """
    bm = F.map_from_arrays(F.col(f"b_{idx_col}"), F.col(f"b_{val_col}"))
    dot = F.aggregate(
        F.zip_with(
            F.col(idx_col),
            F.col(val_col),
            lambda i, v: v * F.coalesce(bm[i], F.lit(0.0)),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    bside = b.select(
        F.col(id_col).alias("id_b"),
        F.col(idx_col).alias(f"b_{idx_col}"),
        F.col(val_col).alias(f"b_{val_col}"),
    )
    return (
        a.select(F.col(id_col).alias("id_a"), idx_col, val_col)
        .crossJoin(F.broadcast(bside))
        .where(F.col("id_a") != F.col("id_b"))
        .select("id_a", "id_b", F.round(dot, 6).alias("cosine"))
        .where(F.col("cosine") >= min_cosine)
    )


def sparse_cosine_candidates(
    a: DataFrame,
    b: DataFrame,
    id_col: str,
    idx_col: str = "tfidf_idx",
    val_col: str = "tfidf_val",
    min_cosine: float = 0.0,
    max_df_frac: float = 0.2,
    max_probe_terms: int = 16,
    n_a: int | None = None,
) -> DataFrame:
    """``sparse_cosine_pairs`` with the pair space bounded BY
    CONSTRUCTION — the corpus-scale path. The plain form cross-joins
    every ``a`` row with every broadcast ``b`` row (|a|·|b| row-local
    evaluations: 500k docs x 2000 queries = 1e9, measured unrunnable at
    the 100x staging, r14). This form probes like the retrieval
    decontaminator (rare-term probing, ``text_index_topk_many``): each
    ``b`` vector keeps its ``max_probe_terms`` RAREST ranks (df
    ascending; weight descending then rank as tiebreaks) whose corpus
    document frequency is at most ``max_df_frac`` of |a|, an inverted
    pass over ``a`` emits one candidate per (a row, b row) sharing at
    least one probed rank, and ONLY candidates get the exact
    full-vector cosine (bit-equal to the plain form for every scored
    pair — same map-lookup dot). A ``b`` row whose probe set comes out
    EMPTY (every term above the df cutoff) falls back to EXHAUSTIVE
    scoring against all of ``a``: under this repo's smoothed idf
    (floored at 1.0 — idf = ln((N+1)/(df+1)) + 1) a vector built
    entirely from corpus-common terms can still score cosine ≈ 1
    against a common-termed document, so silently skipping it would be
    a recall hole in a decontamination stage (r14 ADVICE). Empty-probe
    rows are detected on the query-sized ``b`` side and each costs one
    row-local pass over ``a`` (the plain-form price, paid only by the
    rows that need it); probed rows that merely share no rank with a
    given ``a`` row are still skipped — that is the bound doing its
    job, and for those the shared mass is capped by the probed-df
    cutoff rather than the idf floor.

    Cost: one rank-df aggregate over ``a``'s exploded entries (wire =
    one row per distinct rank per partition), then sum over probed
    ranks of df(rank) x queries-probing(rank) candidate rows, df capped
    by ``max_df_frac`` — never |a|·|b|. Output: (id_a, id_b, cosine),
    like the plain form.

    ``n_a`` (the |a| the df cutoff scales by) is a metadata scalar like
    ``tfidf_vectors``' ``n_docs``: pass it when the caller already
    knows the corpus row count (one parquet metadata count serves the
    vector build AND this probe, r16) — else ONE count() action derives
    it here, which also makes this operator's construction a blocking
    driver job when ``a`` is an unmaterialized lazy snapshot."""
    a_slim = a.select(F.col(id_col).alias("id_a"), idx_col, val_col)
    b_slim = b.select(F.col(id_col).alias("id_b"), idx_col, val_col)
    if n_a is None:
        n_a = a_slim.count()
    # corpus df per rank, from the vectors themselves (one explode +
    # map-combined count; ranks are vocab-bounded so the result is
    # model-sized)
    rank_df = (
        a_slim.select(F.explode(idx_col).alias("__r"))
        .groupBy("__r")
        .agg(F.count("*").alias("__df"))
    )
    # per-b probe set: the max_probe_terms RAREST surviving ranks
    # (df ascending — weight descending then rank as tiebreaks). Rarest
    # -first is load-bearing, not a style choice: TF-IDF weight alone
    # can promote a corpus-COMMON rank (high tf beats low idf on Zipf
    # heads), and one df-100k rank probed by many queries re-creates
    # the quadratic candidate blowup this form exists to avoid (first
    # sf10 drive of the weight-ordered form: unrunnable). Same
    # selection rule as text_index_topk_many's rare-term probing.
    b_entries = b_slim.select(
        "id_b",
        F.explode(F.arrays_zip(idx_col, val_col)).alias("e"),
    ).select(
        "id_b",
        F.col(f"e.{idx_col}").alias("__r"),
        F.col(f"e.{val_col}").alias("__w"),
    )
    # floor at 1: a rank in a SINGLE document is maximally
    # discriminative and must always be probeable — a fractional cutoff
    # below one row (tiny corpora) would silently prune every rank and
    # the probe would flag nothing
    cutoff = max(1.0, float(max_df_frac) * float(n_a))
    probe = (
        b_entries.join(F.broadcast(rank_df), "__r")
        .filter(F.col("__df") <= cutoff)
        .withColumn(
            "__k",
            F.row_number().over(
                Window.partitionBy("id_b").orderBy(
                    F.asc("__df"), F.desc("__w"), F.asc("__r")
                )
            ),
        )
        .filter(F.col("__k") <= max_probe_terms)
        .select("id_b", "__r")
    )
    # consumed twice (candidate join + the empty-probe anti-join below)
    # and its plan embeds the corpus-wide rank_df aggregate — the lazy
    # snapshot materializes the query-sized table on first use so the
    # corpus pays that aggregate once
    probe = snapshot(probe, eager=False, reliable=False)
    # candidates: one inverted pass over a's entries against the
    # (query-sized) broadcast probe table
    cands = (
        a_slim.select("id_a", F.explode(idx_col).alias("__r"))
        .join(F.broadcast(probe), "__r")
        .select("id_a", "id_b")
        .distinct()
    )
    # empty-probe fallback (r14 ADVICE): b rows with NO surviving probe
    # rank get every a row as a candidate — detected on the query-sized
    # b side (left anti against the probed ids), so the exhaustive arm
    # is empty whenever every b row probed. unionByName keeps the two
    # arms disjoint: a fallback id_b by definition appears in no probe
    # row, hence in no `cands` row.
    unprobed = b_slim.select("id_b").join(
        probe.select("id_b").distinct(), "id_b", "left_anti"
    )
    fallback = a_slim.select("id_a").crossJoin(F.broadcast(unprobed))
    cands = cands.unionByName(fallback)
    # exact cosine for candidates only — identical arithmetic to the
    # plain form (map-lookup dot over the full vectors)
    bm = F.map_from_arrays(F.col(f"b_{idx_col}"), F.col(f"b_{val_col}"))
    dot = F.aggregate(
        F.zip_with(
            F.col(idx_col),
            F.col(val_col),
            lambda i, v: v * F.coalesce(bm[i], F.lit(0.0)),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    bvecs = b_slim.select(
        "id_b",
        F.col(idx_col).alias(f"b_{idx_col}"),
        F.col(val_col).alias(f"b_{val_col}"),
    )
    return (
        cands.join(a_slim, "id_a")
        .join(F.broadcast(bvecs), "id_b")
        .where(F.col("id_a") != F.col("id_b"))
        .select("id_a", "id_b", F.round(dot, 6).alias("cosine"))
        .where(F.col("cosine") >= min_cosine)
    )


def ngram_counts(
    df: DataFrame,
    text_col: str,
    n: int = 2,
    min_count: int = 1,
    bos: str = "<s>",
    eos: str = "</s>",
) -> DataFrame:
    """Word n-gram count table — the corpus statistic a KenLM-style LM
    (or the CCNet perplexity filter it powers) trains from.

    Each document contributes its padded word sequence's n-grams
    (``bos`` ×(n−1) prefix, one ``eos``), built row-locally with a
    transform over index windows (no explode until the single hash
    aggregate keyed on the gram; map-side combine applies). ``min_count``
    prunes the heavy tail inside the cluster — the same bound every LM
    toolkit applies — so the result is model-sized, not corpus-sized.

    Output: (gram array<string>, count) with count >= min_count.
    """
    words = F.filter(F.split(F.col(text_col), r"\s+"), lambda t: t != "")
    padded = F.concat(
        F.array(*[F.lit(bos)] * (n - 1)), words, F.array(F.lit(eos))
    )
    m = F.size(padded)
    grams = F.when(
        m >= n,
        F.transform(
            F.sequence(F.lit(1), m - (n - 1)),
            lambda i: F.slice(padded, i, n),
        ),
    ).otherwise(F.array().cast("array<array<string>>"))
    counted = (
        df.select(F.explode(grams).alias("gram"))
        .groupBy("gram")
        .agg(F.count("*").alias("count"))
    )
    if min_count > 1:
        counted = counted.filter(F.col("count") >= min_count)
    return counted


def lm_doc_score(
    df: DataFrame,
    id_col: str,
    text_col: str,
    counts: DataFrame,
    n: int = 2,
    add_k: float = 1.0,
    bos: str = "<s>",
    eos: str = "</s>",
    out_col: str = "lm_logprob",
    smoothing: str = "add_k",
    alpha: float = 0.4,
    cache_registry: list | None = None,
) -> DataFrame:
    """N-gram LM document scoring over an ``ngram_counts`` table — the
    step that completes the CCNet chain (counts ≙ the KenLM seed; this is
    the perplexity filter those counts power).

    ``smoothing="add_k"`` (default):

        logprob(doc) = mean over doc n-grams g of
                       ln((count(g) + k) / (count(ctx(g)) + k·V))

    where ``ctx(g)`` is the gram's first n−1 words, context counts are
    aggregated FROM the (pruned) counts table itself, and ``V`` is the
    table's distinct-continuation count + 1 (the +1 is the shared OOV
    bucket; grams pruned by the table's ``min_count`` smooth like unseen
    ones).

    ``smoothing="stupid_backoff"`` (Brants et al. 2007, the scheme web-
    scale LM filters actually run): a SEEN gram scores its raw relative
    frequency; an unseen one backs off to the continuation word's
    unigram frequency, discounted by ``alpha``:

        S(g) = count(g) / count(ctx(g))          if count(g) > 0
             = α · (count(w) + k) / (N + k·V)    otherwise

    with ``count(w)`` the continuation word's total count, ``N`` the
    table's count mass (both derived from the counts table — one extra
    broadcast lookup level), and the add-k form on the unigram backstop
    keeping ln finite for fully-OOV words. Unlike add-k, frequent-word
    held-out bigrams are not flattened to the OOV floor — the classic
    add-k failure mode on large vocabularies (pinned in tests).

    Higher = more ordinary language; the production filter drops the low
    tail. Documents shorter than one n-gram window still score (their
    single padded gram).

    Scale shape (100 TB): the counts table and its derived frames
    (context counts, unigram counts, the 1-row V/N) are model-sized by
    construction (``min_count`` pruning) and BROADCAST; the corpus pays
    one row-local gram construction + explode and ONE doc-keyed hash
    aggregate with map-side partial (a doc's grams are partition-local
    after the explode). The corpus text itself never shuffles.

    Hot-path layout (r12, measured at the 100x staging): grams enter the
    probe joins as FLAT STRINGS (``concat_ws`` with an ASCII unit
    separator) rather than ``array<string>`` keys — string hashing beats
    per-row array hashing in the broadcast joins — and the per-gram
    ``ln`` is precomputed INTO the model-sized score tables on the
    stupid-backoff path (a seen gram's relative frequency and a word's
    discounted backstop are pure functions of the counts table), so the
    corpus-sized side evaluates only coalesce + avg. Tokens containing
    the 0x1F separator would alias gram boundaries; whitespace
    tokenization upstream cannot produce them.

    Output: input columns + ``out_col`` (double, rounded to 6; null ONLY
    for null text — a contract downstream filters rely on: a null score
    means "no text", never "text we failed to score").
    ``cache_registry`` receives the counts and score snapshots (``runtime``).
    """
    if out_col in df.columns:
        raise ValueError(
            f"lm_doc_score: output column {out_col!r} already exists on "
            "the input — pass a different out_col (duplicate names are "
            "ambiguous downstream)"
        )
    if smoothing not in ("add_k", "stupid_backoff"):
        raise ValueError(
            f"lm_doc_score: unknown smoothing {smoothing!r} "
            "(expected 'add_k' or 'stupid_backoff')"
        )
    # pin the counts table before deriving: ctx / V-N / seen / backstop
    # each materialize as their OWN broadcast job, and without a pin each
    # one re-executes the counts PLAN — a full corpus ngram pass per
    # broadcast (~5 passes; measured as the dominant term of the 100x
    # staging battery, not the probe joins). The checkpoint is lazy and
    # model-sized (counts is min_count-pruned by construction): the first
    # broadcast pays the single corpus pass, the rest read the snapshot.
    if not counts.isStreaming:
        counts = snapshot(counts, eager=False, reliable=False)
    scored = _lm_scored(
        df, id_col, text_col, counts, n, add_k, bos, eos, out_col,
        smoothing, alpha,
    )
    # pin the id-sized (id, score) aggregate: downstream consumers that
    # evaluate the result in more than one job (perplexity thresholds ->
    # filter is the canonical pair, plans/corpus_pipeline lm_gate) would
    # otherwise re-run the whole exploded probe per job. Lazy, so a
    # single-action caller pays only the snapshot write of 2 columns x
    # O(docs) rows during the job it already runs.
    if not scored.isStreaming:
        scored = snapshot(scored, eager=False, reliable=False)
    if cache_registry is not None:
        cache_registry.extend((counts, scored))
    return df.join(scored, id_col, "left")


#: LM model tables (seen-gram scores, word backstops, context counts)
#: broadcast below this CORPUS-SIZE estimate and probe via a
#: shuffle-hash join with the model as the hinted build side above it.
#: r14 established the row-count form of this gate (1M model rows —
#: past the point where N executor copies of the hash map beat one
#: partitioned build, and far below where a broadcast simply fails;
#: the r14 Zipf staging measured a 3M-row model at the 100x scale:
#: shuffle-hash 22.9 s vs broadcast 24.5 s — a near-tie, so the
#: crossover is a BAND, not an edge). r16 moves the gate off
#: ``counts.count()`` onto Catalyst's logical size estimate of the
#: CORPUS side: the exact count was a blocking construction-time job
#: that ran the full bigram aggregate before any consumer action
#: existed (measured 23.8 s of corpus_stats_battery's 69.9 s
#: construction at sf10 — the single largest construction job), while
#: the estimate is metadata-only. The gate's only effect is physical
#: join strategy — both routes are value-identical — and the mapping
#: is pinned by measurement: 32 MB estimated (doc_id, text) bytes sits
#: between sf1 (5.0 MB est → 284k model rows, broadcast measured
#: faster) and sf10 (53.4 MB est → 2.97M rows, shuffle-hash measured
#: faster), i.e. ~1.8M rows at the measured rows-per-estimated-byte —
#: inside the r14 tie band. The failure direction is safe: bigger
#: corpora only ever move AWAY from broadcast, so the 8 GB broadcast
#: cap can never be hit by a mis-estimate of a large model.
_BROADCAST_MODEL_INPUT_BYTES = 32 * 1024 * 1024

#: the r14 row-count gate, kept as the FALLBACK when no size estimate
#: exists (RDD-backed frames — e.g. createDataFrame corpora — report
#: spark.sql.defaultSizeInBytes = Long.MaxValue, not a measurement)
_BROADCAST_MODEL_ROWS = 1_000_000

def _lm_scored(
    df: DataFrame,
    id_col: str,
    text_col: str,
    counts: DataFrame,
    n: int,
    add_k: float,
    bos: str,
    eos: str,
    out_col: str,
    smoothing: str,
    alpha: float,
) -> DataFrame:
    """The (id, score) aggregate plan of :func:`lm_doc_score`, pre-pin —
    split out so the probe-join shape (model frames broadcast, corpus
    tokens never shuffled before the doc-keyed partial agg) stays
    directly assertable in tests/test_vocab.py after the public function
    hides it behind the snapshot boundary."""
    ctx = counts.groupBy(F.slice("gram", 1, n - 1).alias("__ctx")).agg(
        F.sum("count").alias("__ctx_count")
    )
    vrow = (
        counts.select(F.element_at("gram", n).alias("__w"), "count")
        .groupBy()
        .agg(
            (F.count_distinct("__w") + 1).cast("double").alias("__V"),
            F.sum("count").cast("double").alias("__N"),
        )
    )
    sep = "\x1f"
    words = F.filter(F.split(F.col(text_col), r"\s+"), lambda t: t != "")
    padded = F.concat(
        F.array(*[F.lit(bos)] * (n - 1)), words, F.array(F.lit(eos))
    )
    m = F.size(padded)
    grams = F.when(
        m >= n,
        F.transform(
            F.sequence(F.lit(1), m - (n - 1)),
            lambda i: F.concat_ws(sep, F.slice(padded, i, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    exploded = df.select(F.col(id_col), F.explode(grams).alias("__g"))
    # "model-sized" is an assumption the data can break: on a realistic
    # Zipf vocabulary the min_count-pruned bigram table at the 100x
    # staging is ~3M rows (r14; the bounded-vocab fixture hid this at
    # ~500), and it GROWS with the corpus — a broadcast model is a
    # hard ceiling at 100 TB (multi-GB broadcast fails outright) and
    # already measured slightly slower than a shuffle-hash probe at sf10
    # (24.5 s vs 22.9 s). Gate on the CORPUS-SIZE estimate (see
    # _BROADCAST_MODEL_INPUT_BYTES): broadcast below (the pinned
    # small-scale plan), shuffle-hash join with the model as the hinted
    # BUILD side above. r16: the previous counts.count() gate was a
    # blocking construction-time job running the full bigram aggregate
    # (23.8 s at sf10); the estimate gate routes identically at every
    # measured scale, and the model now materializes inside the first
    # consuming action (under AQE its exchange stages still execute
    # when the lazy checkpoint converts to an RDD, so a broadcast
    # thread at most runs the model's final reduce stage, never the
    # whole pass). No estimate (RDD-backed corpus, a test fixture or an
    # exotic plan) falls back to the r14 exact-count gate — correct at
    # any size, just paid as a construction-time job.
    est = estimated_bytes(df)
    if est is not None:
        big_model = est > _BROADCAST_MODEL_INPUT_BYTES
    else:
        big_model = counts.count() > _BROADCAST_MODEL_ROWS

    def _model_side(mdf: DataFrame) -> DataFrame:
        return mdf.hint("shuffle_hash") if big_model else F.broadcast(mdf)

    if smoothing == "stupid_backoff":
        # seen grams: ln(count / ctx_count), precomputed model-side
        # (counts ⨝ ctx is model-sized; every gram's context is in ctx
        # by construction, so the inner join loses nothing)
        seen = counts.join(
            ctx, F.slice("gram", 1, n - 1) == F.col("__ctx"), "inner"
        ).select(
            F.concat_ws(sep, "gram").alias("__g"),
            F.log(F.col("count") / F.col("__ctx_count")).alias("__seen_lp"),
        )
        # unseen grams back off to the continuation word, discounted —
        # also a pure function of the counts table, precomputed per word
        uni = counts.groupBy(F.element_at("gram", n).alias("__w")).agg(
            F.sum("count").alias("__w_count")
        )
        back = uni.crossJoin(vrow).select(
            "__w",
            F.log(
                F.lit(alpha)
                * (F.col("__w_count") + F.lit(add_k))
                / (
                    F.coalesce(F.col("__N"), F.lit(0.0))
                    + F.lit(add_k) * F.col("__V")
                )
            ).alias("__back_lp"),
        )
        # fully-OOV words share one constant: the backstop at count 0
        oov = vrow.select(
            F.log(
                F.lit(alpha)
                * F.lit(add_k)
                / (
                    F.coalesce(F.col("__N"), F.lit(0.0))
                    + F.lit(add_k) * F.col("__V")
                )
            ).alias("__oov_lp")
        )
        logp = F.coalesce("__seen_lp", "__back_lp", "__oov_lp")
        joined = (
            exploded.join(_model_side(seen), "__g", "left")
            .join(
                _model_side(back),
                F.substring_index("__g", sep, -1) == F.col("__w"),
                "left",
            )
            .crossJoin(F.broadcast(oov))
        )
    else:
        cts = counts.select(F.concat_ws(sep, "gram").alias("__g"), "count")
        ctxs = ctx.select(
            F.concat_ws(sep, "__ctx").alias("__cg"), "__ctx_count"
        )
        joined = (
            exploded.join(_model_side(cts), "__g", "left")
            .join(
                _model_side(ctxs),
                F.substring_index("__g", sep, n - 1) == F.col("__cg"),
                "left",
            )
            .crossJoin(F.broadcast(vrow))
        )
        logp = F.log(
            (F.coalesce(F.col("count"), F.lit(0)) + F.lit(add_k))
            / (
                F.coalesce(F.col("__ctx_count"), F.lit(0))
                + F.lit(add_k) * F.col("__V")
            )
        )
    return joined.groupBy(id_col).agg(
        F.round(F.avg(logp), 6).alias(out_col)
    )


def perplexity_buckets(
    scored: DataFrame,
    score_col: str,
    fracs: tuple[float, float] = (1 / 3, 2 / 3),
    labels: tuple[str, str, str] = ("tail", "middle", "head"),
    out_col: str = "ppl_bucket",
) -> DataFrame:
    """CCNet's head/middle/tail perplexity split (Wenzek et al. 2020):
    partition the corpus into three quality tiers by LM score quantile —
    ``head`` = best-scoring (lowest perplexity) third, the slice CCNet
    trains on first. Works on any score column; pair with
    ``lm_doc_score`` for the canonical chain.

    Scale shape: thresholds come from ONE exact-percentile aggregate
    (1 row) broadcast back onto the corpus — no global sort, no window
    over a single partition; the label is then a row-local CASE.
    A null score (null text upstream) yields a null bucket, never a
    silent 'head'. Output: input columns + ``out_col``.
    """
    if out_col in scored.columns:
        raise ValueError(
            f"perplexity_buckets: output column {out_col!r} already exists"
        )
    lo, hi = fracs
    if not 0.0 < lo < hi < 1.0:
        raise ValueError(f"fracs must satisfy 0 < lo < hi < 1, got {fracs}")
    qs = scored.agg(
        F.percentile(score_col, F.lit(lo)).alias("__t1"),
        F.percentile(score_col, F.lit(hi)).alias("__t2"),
    )
    return (
        scored.crossJoin(F.broadcast(qs))
        .withColumn(
            out_col,
            F.when(F.col(score_col).isNull(), F.lit(None).cast("string"))
            .when(F.col(score_col) < F.col("__t1"), F.lit(labels[0]))
            .when(F.col(score_col) < F.col("__t2"), F.lit(labels[1]))
            .otherwise(F.lit(labels[2])),
        )
        .drop("__t1", "__t2")
    )


def bm25_tokens(text_col):
    """THE BM25 tokenization — whitespace split, empties dropped, NULL
    text coalesced to the empty array (dl 0, every tf 0, score exactly
    0.0). `operators/text_index.py` imports this same expression for its
    ingest path: the probe-vs-operator bit-equality contract requires
    the two tokenizations to stay structurally identical, so neither
    side declares its own copy."""
    return F.coalesce(
        F.filter(F.split(text_col, r"\s+"), lambda t: t != ""),
        F.array().cast("array<string>"),
    )


def bm25_scores(
    df: DataFrame,
    id_col: str,
    text_col: str,
    terms: list[str],
    k1: float = 1.2,
    b: float = 0.75,
    out_col: str = "bm25",
) -> DataFrame:
    """Okapi BM25 relevance of every document against a fixed query-term
    bag (Robertson & Zaragoza 2009), with Lucene's non-negative idf
    ``ln(1 + (N - df + 0.5) / (df + 0.5))`` — the ranking function behind
    retrieval-based data selection and decontamination-by-search in
    training-data pipelines.

    Scale shape: the term list is query-sized (a handful of literals),
    so each per-term tf is a ROW-LOCAL higher-order ``filter`` over the
    one bound token array — the corpus never explodes and never
    shuffles. Corpus statistics (N, avgdl, per-term df) reduce to ONE
    single-row aggregate (map-side partial, O(partitions) wire) that is
    broadcast back; scoring is then pure row-local arithmetic inside
    codegen. Total cost: one scan + one scalar agg, independent of
    ``len(terms)`` in shuffle volume.

    Output: input columns plus ``out_col`` (double, 0.0 for documents
    containing no query term; NULL text counts as an empty document —
    dl 0 in avgdl, score 0.0 — never a NULL score). Duplicate query
    terms are rejected — they would silently double-count their
    contribution.
    """
    if len(set(terms)) != len(terms):
        raise ValueError("bm25_scores: duplicate query terms")
    if not terms:
        raise ValueError("bm25_scores: empty query")
    if out_col in df.columns:
        raise ValueError(f"bm25_scores: output column {out_col!r} already exists")
    if k1 < 0:
        raise ValueError(f"bm25_scores: k1 must be >= 0, got {k1}")
    if not 0.0 <= b <= 1.0:
        raise ValueError(f"bm25_scores: b must be in [0, 1], got {b}")
    toks = bm25_tokens(F.col(text_col))

    def _is(term):
        # single-arg lambda via a closure: a default-arg capture would
        # change the HOF signature to (element, index)
        return lambda t: t == F.lit(term)

    tf_cols = [
        F.size(F.filter(F.col("__w"), _is(term))).cast("double").alias(f"__tf{i}")
        for i, term in enumerate(terms)
    ]
    staged = df.select(*df.columns, toks.alias("__w")).select(
        *df.columns, F.size("__w").cast("double").alias("__dl"), *tf_cols
    )
    stats = staged.agg(
        F.count("*").cast("double").alias("__n"),
        F.avg("__dl").alias("__avgdl"),
        *[
            F.sum((F.col(f"__tf{i}") > 0).cast("double")).alias(f"__df{i}")
            for i in range(len(terms))
        ],
    )
    # avgdl = 0 only when EVERY document is tokenless (then every tf is 0
    # and the score is identically 0); guard the ratio or ANSI mode
    # aborts the job on the division. Association stays (b*dl)/avgdl —
    # the oracle-mirrored order.
    b_dl_ratio = F.when(
        F.col("__avgdl") > 0, b * F.col("__dl") / F.col("__avgdl")
    ).otherwise(F.lit(0.0))
    score = F.lit(0.0)
    for i in range(len(terms)):
        tf = F.col(f"__tf{i}")
        idf = F.log(
            1.0
            + (F.col("__n") - F.col(f"__df{i}") + 0.5)
            / (F.col(f"__df{i}") + 0.5)
        )
        denom = tf + k1 * (1.0 - b + b_dl_ratio)
        # tf = 0 contributes an EXACT 0.0 without touching the division:
        # at b=1 a tokenless doc (or k1=0, any non-matching doc) makes
        # denom 0 and 0.0/0.0 would poison the sum with NaN. For tf > 0
        # the expression is unchanged, so index-probe bit-equality holds.
        score = score + F.when(
            tf > 0, idf * tf * (k1 + 1.0) / denom
        ).otherwise(F.lit(0.0))
    internal = (
        ["__dl", "__n", "__avgdl"]
        + [f"__tf{i}" for i in range(len(terms))]
        + [f"__df{i}" for i in range(len(terms))]
    )
    return (
        staged.crossJoin(F.broadcast(stats))
        .withColumn(out_col, score)
        .drop(*internal)
    )
