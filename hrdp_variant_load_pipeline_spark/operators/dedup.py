"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash.

Engine extensions for training-data pipelines (BASELINE.json north-star).
Design notes for 100 TB:

* exact dedup is a single hash-aggregate (map-side partial combine);
* n-gram Jaccard generates candidate pairs ONLY for docs sharing a shingle
  (inverted-index self-join) and drops ubiquitous shingles (``MAX_DF``) to
  bound the quadratic blow-up on hot shingles — the same role stopword
  removal plays in web-scale dedup;
* MinHash uses md5-based hash families, so signatures are reproducible
  across engines and runs (no JVM-specific hashing); LSH bands turn
  near-dup search into an equi-join on band keys;
* SimHash is a pure column-expression bit-vote over token md5s.

Everything is built from built-in expressions — no Python UDFs.
"""

from __future__ import annotations

import functools

from pyspark.sql import Column, DataFrame, Window, functions as F

from hrdp_variant_load_pipeline_spark.runtime import (
    release,
    shuffle_partitions,
    snapshot,
)


def exact_dedup_groups(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Group identical texts: (content_hash, n_docs, keeper_id).

    ``content_hash`` is part of the public output (md5 hex, matching the
    SQL oracle); callers that only need the SURVIVOR id set should use
    :func:`exact_dedup_keepers`, which anchors on a long key instead."""
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("content_hash"))
        .agg(F.count("*").alias("n_docs"), F.min(id_col).alias("keeper_id"))
    )


def exact_dedup_keepers(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Survivor ids of exact-text dedup (lowest id per identical text),
    as a 1-column frame. The grouping anchor is xxhash64 — internal,
    never exposed, so the agg/exchange key is a LONG instead of md5's
    32-char hex (the same anchor-class swap as paragraph/span dedup)."""
    return (
        df.groupBy(F.xxhash64(F.col(text_col)).alias("__h"))
        .agg(F.min(id_col).alias(id_col))
        .select(id_col)
    )


def shingle_array(text_col: Column, k: int = 3) -> Column:
    """Distinct word k-gram shingles of a text column, as an array —
    computed row-local (narrow, whole-stage codegen), no explode."""
    words = F.split(text_col, " ")
    n = F.size(words)
    grams = F.transform(
        F.sequence(F.lit(1), n - (k - 1)),
        lambda i: F.array_join(F.slice(words, i, k), " "),
    )
    # guard BOTH branches: sequence(1, 0) infers step -1 and DESCENDS to
    # [1, 0], whose slice(start=0) aborts the job under ANSI mode — docs
    # shorter than k words simply have no k-grams
    return F.when(n >= k, F.array_distinct(grams)).otherwise(
        F.array().cast("array<string>")
    )


def shingle_sets(
    df: DataFrame, id_col: str, text_col: str, k: int = 3
) -> DataFrame:
    """Distinct word k-gram shingles, one row per (doc, shingle) — the
    inverted-index layout used by the all-pairs Jaccard path."""
    return df.select(
        F.col(id_col).alias("doc"),
        F.explode(shingle_array(F.col(text_col), k)).alias("shingle"),
    )


#: document-frequency ceiling of ``ngram_jaccard_pairs``: shingles in more
#: documents are pruned before pair expansion
MAX_DF = 100


def _pair_jaccard(sh: DataFrame, sizes: DataFrame) -> DataFrame:
    """Candidate pairs sharing ≥1 shingle, with Jaccard over df-pruned
    shingle sets: ``n_shared`` counts only shingles with document
    frequency ≤ ``MAX_DF`` while the union denominator uses the
    UNFILTERED set sizes, so when documents share hot shingles above
    ``MAX_DF`` the reported value is a LOWER BOUND on the exact Jaccard.
    df-pruning is the standard recall/cost trade: hot shingles generate
    O(df²) candidate pairs while contributing the least similarity
    evidence.

    ``sizes``: (doc, n_sh) frame with each doc's UNFILTERED
    distinct-shingle count — the row-local ``size(shingle_array(...))``
    projection of the pre-explode corpus (r16): the shingle arrays are
    already distinct, so the count needs no explode, no aggregate and no
    exchange. Extra rows for shingle-less docs are harmless — every
    consumer inner-joins on docs that appear in pairs."""
    # inverted-list pair expansion (r14): ONE aggregate keyed on the
    # shingle collects its (<= MAX_DF, sorted) doc list, and the
    # C(df, 2) ordered pairs expand ROW-LOCALLY from that list — the
    # per-row pair count is bounded by C(MAX_DF, 2) by construction.
    # The previous self-join shuffled the df-pruned (doc, shingle)
    # table TWICE (both join sides) plus a third exchange for the
    # pair count; this shape pays one shingle exchange and the pair
    # exchange (measured 89.6 s -> see BENCH_NOTES r14 on the sf10
    # Zipf fixture).
    # the grouping key is engine-INTERNAL (the oracle groups by its
    # own shingle strings), so hash it to a long before the exchange
    # — anchor-class keys may be any collision-negligible function
    # (r12 precedent, span/paragraph dedup): ~half the wire bytes of
    # the ~25-char gram strings, value-identity pinned at 2 scales
    # df-prune BEFORE the list materialization (r15): a hot shingle
    # (boilerplate gram in 10^7+ docs at web scale) must never reach
    # collect_list — the C(MAX_DF, 2) bound below applies to pair
    # EXPANSION, not the aggregation buffer, and one unbounded doc
    # list per hot key is exactly the executor-memory cliff the r14
    # rebuild was meant to remove.
    # The prune is an ANTI-join against the HOT set (r16), not a
    # semi-join against the rare set: "df <= MAX_DF" keeps almost
    # every shingle on any Zipf-shaped corpus (measured at the 100x
    # staging: 20,279,790 of 20,279,825 distinct shingles are rare,
    # 35 are hot), so joining on the KEEP side made the build/
    # broadcast side corpus-sized — the planner shipped a 1.5 GiB,
    # 20M-row broadcast at sf10, the exact anti-pattern this family
    # is specced to avoid at 100 TB. The DROP side is bounded by
    # total_occurrences / MAX_DF and in practice is the Zipf head
    # (boilerplate grams — model-sized), so the anti-join's build
    # side stays broadcastable and the full (doc, shingle) table
    # crosses the wire exactly once, for the collect_list exchange.
    # The count aggregate is unchanged (map-side combinable) and the
    # size(ds) filter stays as a belt-and-braces re-check of the
    # same bound. Values identical: keep(df <= MAX_DF) == drop(df >
    # MAX_DF), pinned vs the oracle at sf0.01/sf0.1.
    hashed = sh.select("doc", F.xxhash64("shingle").alias("__sh"))
    hot_sh = (
        hashed.groupBy("__sh")
        .agg(F.count("*").alias("__df"))
        .filter(F.col("__df") > MAX_DF)
        .select("__sh")
    )
    docs_by_sh = (
        hashed.join(hot_sh, "__sh", "left_anti")
        .groupBy("__sh")
        .agg(F.sort_array(F.collect_list("doc")).alias("ds"))
        .filter(F.size("ds") <= MAX_DF)
    )
    pair_arr = F.flatten(
        F.transform(
            F.col("ds"),
            lambda x, i: F.transform(
                F.slice(
                    F.col("ds"), i + 2, F.size(F.col("ds")) - i - 1
                ),
                lambda y: F.struct(
                    x.alias("doc_a"), y.alias("doc_b")
                ),
            ),
        )
    )
    shared = (
        docs_by_sh.select(F.explode(pair_arr).alias("p"))
        .groupBy(F.col("p.doc_a").alias("doc_a"),
                 F.col("p.doc_b").alias("doc_b"))
        .agg(F.count("*").alias("n_shared"))
    )
    return (
        shared.join(sizes.withColumnsRenamed({"doc": "doc_a", "n_sh": "n_a"}), "doc_a")
        .join(sizes.withColumnsRenamed({"doc": "doc_b", "n_sh": "n_b"}), "doc_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_shared").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_shared")),
                4,
            ),
        )
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    threshold: float = 0.2,
) -> DataFrame:
    """Near-duplicate pairs by k-gram Jaccard ≥ threshold. Shingles in
    more than ``MAX_DF`` documents are pruned, so the score is a lower
    bound — see ``_pair_jaccard`` — and the pair list errs toward fewer,
    higher-precision matches."""
    sh = shingle_sets(df, id_col, text_col, k)
    # per-doc set sizes row-locally from the (already-distinct) shingle
    # array — no third corpus explode, no aggregate (r16)
    sizes = df.select(
        F.col(id_col).alias("doc"),
        F.size(shingle_array(F.col(text_col), k)).alias("n_sh"),
    )
    return (
        _pair_jaccard(sh, sizes)
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


# --- MinHash hash family: double hashing with modular decorrelation.
# One md5 digest per shingle; seed i's value is (h1 + i*h2) mod P where
# h1/h2 are the first and second 60-bit halves (15 hex chars each) of the
# digest and P is a ~2^40 prime. One digest instead of num_hashes seeded
# digests cut the signature stage ~70% at sf1; 60-bit halves keep
# h1 + 5*h2 < 6*2^60 < 2^63, so the arithmetic is exact bigint in BOTH
# engines (Spark: conv(substr(md5,..),16,10)::bigint then pmod; DuckDB:
# ('0x'||substr(md5(..),..))::BIGINT then % — verified value-identical).
# The mod-P wrap is NOT optional: the plain linear form h1 + i*h2 keeps
# a shingle with small (h1, h2) minimal under EVERY seed, correlating all
# bands — it missed a 0.9882-Jaccard fixture pair across all 3 bands.
# With P ~ 2^40 the sum (up to ~7e18) wraps ~7e6 times, so seed-to-seed
# rank order decorrelates; recall vs the exhaustive Jaccard path is
# empirically 28/28, 25/25, 256/256 at sf0.001/0.01/0.1 (threshold 0.5).
# Engine- and run-stable like the previous seeded-md5 scheme (no JVM
# seeded hashing), so signatures stay reproducible for the DuckDB oracle.

#: modulus of the minhash value family (prime, < 2^40)
MINHASH_P = 999_999_999_989


def _digest_half(hex_col: Column, start: int) -> Column:
    """One 60-bit (15-hex-char) half of an md5 hex digest, as bigint."""
    return F.conv(F.substring(hex_col, start, 15), 16, 10).cast("bigint")


def _seed_value(h1: Column, h2: Column, seed: int) -> Column:
    """Seed ``seed``'s hash value: (h1 + seed*h2) mod MINHASH_P."""
    return F.pmod(h1 + seed * h2, F.lit(MINHASH_P))


def _with_minhash_cols(df: DataFrame, num_hashes: int) -> DataFrame:
    """Append mh0..mh{n-1} bigint signature columns to a frame carrying a
    shingle-array column ``sh``, preserving the frame's other columns.

    Three staging selects so the digest/half arrays bind as columns — each
    is referenced more than once downstream, which stops CollapseProject
    from inlining the md5 transform into every consuming expression (the
    inlined form recomputes the digest array per seed)."""
    keep = [c for c in df.columns]
    staged = df.select(*keep, F.transform(F.col("sh"), F.md5).alias("__hx"))
    staged = staged.select(
        *keep,
        F.transform(F.col("__hx"), lambda x: _digest_half(x, 1)).alias("__h1"),
        F.transform(F.col("__hx"), lambda x: _digest_half(x, 17)).alias("__h2"),
    )
    return staged.select(
        *keep,
        *[
            F.array_min(
                F.zip_with(
                    F.col("__h1"), F.col("__h2"),
                    (lambda s: lambda a, b: _seed_value(a, b, s))(i),
                )
            ).alias(f"mh{i}")
            for i in range(num_hashes)
        ],
    )


def _band_key(mh_cols: list[Column]) -> Column:
    """'|'-delimited concat of a band's minhash values, as the band bucket
    key. Decimal strings are variable-width (unlike the old fixed 32-hex
    digests), so a bare concat would alias ('1','23') with ('12','3');
    ``F.concat`` (NOT concat_ws) propagates the null signatures of
    shingle-less docs, so they can never band-match — concat_ws would
    collide every such doc on the key ""."""
    parts: list[Column] = []
    for c in mh_cols:
        parts.append(c.cast("string"))
        parts.append(F.lit("|"))
    return F.concat(*parts[:-1])


def minhash_signatures(
    df: DataFrame, id_col: str, text_col: str, k: int = 3, num_hashes: int = 6
) -> DataFrame:
    """Per-doc MinHash signature: for seed i, min((h1 + i*h2) mod P) over
    the doc's shingles (double hashing of one md5 digest, above)."""
    sh = shingle_sets(df, id_col, text_col, k)
    # stage the digest then its halves as bound columns so md5 runs ONCE
    # per (doc, shingle) row, not once per referencing aggregate
    sh = sh.select("doc", F.md5(F.col("shingle")).alias("__hx"))
    sh = sh.select(
        "doc", _digest_half(F.col("__hx"), 1).alias("__h1"),
        _digest_half(F.col("__hx"), 17).alias("__h2"),
    )
    aggs = [
        F.min(_seed_value(F.col("__h1"), F.col("__h2"), i)).alias(f"mh{i}")
        for i in range(num_hashes)
    ]
    return sh.groupBy("doc").agg(*aggs)


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    num_hashes: int = 6,
    band_rows: int = 2,
    verify_threshold: float = 0.5,
    cache_registry: list | None = None,
) -> DataFrame:
    """LSH candidate generation + exact-Jaccard verification.

    Bands of ``band_rows`` minhashes become equi-join keys; only candidate
    pairs sharing a band are verified — the scale path for corpus-level
    near-dup detection.

    Shape: shingles stay an ARRAY column (never exploded to rows), so the
    signature computation is entirely narrow — one md5 transform, then an
    ``array_min(zip_with(...))`` per seed over the bound digest-half
    arrays, all inside whole-stage codegen, zero shuffles. The only shuffles
    are the band-bucket self-join and the two verify joins, and
    verification intersects shingle arrays row-locally
    (``array_intersect``), costing |cands| not all-pairs.

    The returned frame is EAGER (checkpointed at call time) so the large
    persisted doc/shingle frame can be dropped before returning — the
    trade for composing into lazy plans is a pinned (small) pair set.
    Pass ``cache_registry`` to receive that pair-set snapshot for release
    once consumed (the registry protocol in ``runtime``); without it the
    pair set lives until session end. The snapshot is reliable when the
    session has a checkpoint dir (``runtime.snapshot``).
    """
    spark = df.sparkSession
    src = df.select(F.col(id_col).alias("doc"), F.col(text_col).alias("__text"))
    # single-file/tiny inputs arrive as 1 partition; the shingle+md5 work is
    # CPU-bound, so spread it at full parallelism (no-op at real scale where
    # inputs are split; scan-estimate based, so no plan-to-RDD probe job)
    from hrdp_variant_load_pipeline_spark.sources.tables import spread_for_cpu

    src = spread_for_cpu(src, spark.sparkContext.defaultParallelism)
    docs = _with_minhash_cols(
        src.select("doc", shingle_array(F.col("__text"), k).alias("sh")), num_hashes
    ).persist()  # consumed by the band explode AND both verify joins;
    # released in the finally below once the result is materialized
    n_bands = num_hashes // band_rows
    bands = F.array(
        *[
            F.struct(
                F.lit(bi).alias("band_idx"),
                _band_key(
                    [F.col(f"mh{bi * band_rows + r}") for r in range(band_rows)]
                ).alias("band_val"),
            )
            for bi in range(n_bands)
        ]
    )
    exploded = docs.select("doc", F.explode(bands).alias("b")).select(
        "doc", F.col("b.band_idx").alias("band_idx"), F.col("b.band_val").alias("band_val")
    )
    a = exploded.alias("a")
    b = exploded.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .distinct()
    )
    # verify ONLY candidate pairs: two equi-joins pull each side's shingle
    # array, then the intersection is computed row-locally
    pairs = cands.join(
        docs.select(F.col("doc").alias("doc_a"), F.col("sh").alias("sh_a")), "doc_a"
    ).join(docs.select(F.col("doc").alias("doc_b"), F.col("sh").alias("sh_b")), "doc_b")
    n_shared = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    jaccard = F.round(
        n_shared.cast("double") / (F.size("sh_a") + F.size("sh_b") - n_shared), 4
    )
    result = (
        pairs.withColumn("jaccard", jaccard)
        .filter(F.col("jaccard") >= verify_threshold)
        .select("doc_a", "doc_b", "jaccard")
    )
    # materialize the (small) pair set so the (large) persisted doc/shingle
    # frame can be released NOW instead of leaking for the session lifetime
    # — in a long-lived session each minhash call would otherwise pin a
    # full copy of the corpus shingles in the cache
    try:
        out = snapshot(result)
        if cache_registry is not None:
            cache_registry.append(out)
        return out
    finally:
        release(docs)


def connected_components(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iter: int = 25,
    skew: dict | None = None,
    cache_registry: list | None = None,
) -> DataFrame:
    """Cluster near-duplicate pairs into components: (doc, cluster) where
    cluster = min doc id reachable — the step that turns pairwise dedup
    output into canonical-document groups (keep min, drop the rest).

    Iterative min-label propagation; each round is one join + one
    aggregate, with a checkpoint truncating lineage so plans don't
    grow with iterations. Converges in O(diameter) rounds — near-dup
    clusters are shallow (stars/chains), so the loop is short. The
    driver-side loop carries only a converged/not flag, never data.
    With a cluster checkpoint dir (``sc.setCheckpointDir``) rounds
    checkpoint there, so a lost executor recomputes instead of killing
    the job; without one, executor-local blocks are the fast local[n]
    form (``runtime.snapshot``).

    Storage hygiene: each round's snapshot supersedes the previous one,
    which is released through its own frame (``runtime.release``). Only
    the final round's snapshot — the returned frame's backing data —
    stays, owned by the caller: pass ``cache_registry`` to receive it for
    release (the registry protocol in ``runtime``). ``edges`` is released
    on exit.

    ``skew`` routes each round's edges ⋈ labels join through
    ``operators.skew.adaptive_salted_join`` (keys forwarded verbatim,
    e.g. ``{"salt": 16, "hot_threshold_frac": 0.01}``). The skew shape
    here is a GIANT CLUSTER's hub: a boilerplate page near-duplicated
    across 20% of a crawl makes one node the ``dst`` of millions of
    edges, and every propagation round funnels those rows through one
    reducer — exactly the non-collapsing-consumer case the kit's drill
    ranked adaptive salting for (the per-round consumer groups by
    ``src``, not the join key, so eager pre-aggregation does not
    apply). Results are identical for any setting (pinned); the cost is
    one hot-key detection pass per round, so leave it off unless the
    pair distribution is actually hub-heavy.
    """
    # pre-partition the symmetrized edge set by the per-round join key
    # (r16, depth drill): one exchange now, zero edge exchanges in every
    # round — the persisted frame's hashpartitioning(dst) satisfies each
    # round's join requirement. On the shallow (1-round) in-repo fixtures
    # this is cost-neutral; on deep components it is paid back every round.
    edges = (
        pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
        .unionByName(
            pairs.select(F.col(b_col).alias("src"), F.col(a_col).alias("dst"))
        )
        .distinct()
        .repartition(shuffle_partitions(pairs.sparkSession), "dst")
        .persist()
    )
    try:
        # build the edge cache in its own job, ahead of the seed round
        edges.count()
        # seed with the FIRST propagation round directly: with identity
        # labels, round 1's neighbor-min is just min(dst) per src, so
        # label₀ = least(node, min neighbor) is one aggregate — no join,
        # and one fewer loop round for every input (edges are
        # symmetrized, so every node appears as src)
        labels = snapshot(
            edges.groupBy("src").agg(
                F.least(F.col("src"), F.min("dst")).alias("label")
            ).select(F.col("src").alias("node"), "label"),
        )
        prev_round = labels
        lbl_type = labels.schema["label"].dataType
        for _ in range(max_iter):
            if skew:
                from hrdp_variant_load_pipeline_spark.operators.skew import (
                    adaptive_salted_join,
                )

                stepped_join = adaptive_salted_join(
                    edges,
                    labels.withColumnRenamed("node", "dst"),
                    ["dst"],
                    **skew,
                )
            else:
                stepped_join = edges.join(labels, edges.dst == labels.node)
            # union-form round (r16, adopted from the depth drill): the
            # neighbor rows and each node's own label row union into ONE
            # aggregate — min(label) is the propagation, max(__self)
            # (non-null only on the self row) carries the previous label
            # for convergence detection. 2 exchanges per round (labels
            # into the join + the src aggregate; edges are
            # pre-partitioned) vs the previous join + groupBy +
            # label-carry join at 3 — measured per-round 2.50 -> 2.00 s
            # on 32-deep path components (1.24M edges), value-identical,
            # and tied on the shallow star/pair fixtures every in-repo
            # caller produces.
            neighbor = stepped_join.select(
                "src", "label", F.lit(None).cast(lbl_type).alias("__self")
            )
            self_rows = labels.select(
                F.col("node").alias("src"),
                "label",
                F.col("label").alias("__self"),
            )
            stepped = snapshot(
                neighbor.unionByName(self_rows)
                .groupBy("src")
                .agg(
                    F.min("label").alias("label"),
                    F.max("__self").alias("__old"),
                )
                .select(F.col("src").alias("node"), "__old", "label"),
                # lazy: the convergence count below materializes it —
                # ONE job per round, not checkpoint-job + count-job
                eager=False,
            )
            changed = (
                stepped.filter(F.col("__old") != F.col("label")).limit(1).count()
            )
            labels = stepped.drop("__old")
            release(prev_round)  # superseded round
            prev_round = stepped
            if changed == 0:
                break
        if cache_registry is not None:
            cache_registry.append(prev_round)
    finally:
        release(edges)
    return labels.select(F.col("node").alias("doc"), F.col("label").alias("cluster"))


def simhash(df: DataFrame, id_col: str, text_col: str, bits: int = 64) -> DataFrame:
    """64-bit SimHash as a bit-string, from token md5s (term-frequency
    weighted bit vote).

    Fully ROW-LOCAL: each token is md5-hashed once into an array column,
    then ``aggregate``/``zip_with`` folds the per-token ±1 bit votes into
    one ``bits``-length vote vector per document — no explode, no shuffle,
    the whole operator is a single narrow projection inside whole-stage
    codegen. (The round-1 formulation exploded every token into
    hex-position × bit rows — a 64× inflation of the token stream feeding
    a two-level shuffle aggregation; at corpus scale that was the worst
    bytes-per-row plan in the repo.)

    Bit order matches the cross-engine oracle: output char index
    ``i = hex_pos * 4 + bit`` with the bit index LSB-first within each
    hex nibble.
    """
    n_hex = bits // 4
    n_groups = (n_hex + 7) // 8
    # one md5 per token (duplicates kept: term-frequency weighting),
    # converted ONCE into 8-hex-char integer groups (< 2^32 each). The
    # previous fold did string work PER BIT — 64 substr+conv+pow per
    # token; this does n_groups convs per token and pure integer
    # bit-masks per bit (r14: the simhash arm of dedup_text_battery
    # measured 53.3 s at sf10, dominated by exactly that string work).
    # Bit semantics are IDENTICAL (same md5, same hex_pos*4 + LSB-first
    # bit order, pinned vs the DuckDB oracle and the plan-shape test):
    # hex char p (0-based) of group g at in-group offset q = p - 8g
    # contributes place value 16^(L_g-1-q) to that group's integer, so
    # global bit i = 4p + b is mask 1 << ((L_g-1-q)*4 + b) of group g.
    def _tok_groups(w: Column) -> Column:
        h = F.substring(F.md5(w), 1, n_hex)
        return F.array(
            *[
                F.conv(
                    F.substring(h, g * 8 + 1, min(8, n_hex - g * 8)), 16, 10
                ).cast("bigint")
                for g in range(n_groups)
            ]
        )

    hashes = F.transform(F.split(F.col(text_col), " "), _tok_groups)
    route = []
    for i in range(bits):
        p, b = divmod(i, 4)
        g, q = divmod(p, 8)
        group_len = min(8, n_hex - g * 8)
        route.append((g, 1 << ((group_len - 1 - q) * 4 + b)))
    route_arr = F.array(
        *[
            F.struct(
                F.lit(g).alias("g"), F.lit(m).cast("bigint").alias("m")
            )
            for g, m in route
        ]
    )
    votes = F.aggregate(
        hashes,
        F.array_repeat(F.lit(0), bits),
        lambda acc, hv: F.zip_with(
            acc,
            route_arr,
            lambda a, r: a
            + F.when(
                F.element_at(hv, r["g"] + 1).bitwiseAND(r["m"]) != 0, 1
            ).otherwise(-1),
        ),
    )
    sig = F.array_join(
        F.transform(votes, lambda s: F.when(s > 0, "1").otherwise("0")), ""
    )
    # explode-based formulations drop null texts; keep that contract
    return df.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("doc"), sig.alias("simhash")
    )


def _merge_removed_intervals(spans: DataFrame) -> DataFrame:
    """Merge per-doc removal spans ``(__doc, __lo, __hi)`` (0-based piece
    positions, inclusive) into sorted disjoint intervals
    ``(__doc, __ivs array<struct<lo,hi>>)``.

    The merge is the classic running-max window over the
    duplication-rate-sized span set — NOT a row-local fold, so a doc
    with millions of overlapping spans (a long fully-duplicated doc)
    merges in O(spans) distributed work and collapses to ONE interval.
    The window partitions by ``__doc`` and the two follow-up aggregates
    group by ``__doc``(+run), so the whole merge costs one exchange."""
    w = Window.partitionBy("__doc").orderBy("__lo")
    prev_hi = F.max("__hi").over(w.rowsBetween(Window.unboundedPreceding, -1))
    run = F.sum(
        F.when(prev_hi >= F.col("__lo") - 1, 0).otherwise(1)
    ).over(w.rowsBetween(Window.unboundedPreceding, 0))
    return (
        spans.withColumn("__run", run)
        .groupBy("__doc", "__run")
        .agg(F.min("__lo").alias("lo"), F.max("__hi").alias("hi"))
        .groupBy("__doc")
        .agg(F.array_sort(F.collect_list(F.struct("lo", "hi"))).alias("__ivs"))
    )


def _remove_pieces_rowlocal(
    df: DataFrame,
    id_col: str,
    text_col: str,
    spans: DataFrame,
    pieces: Column,
    sep: str,
) -> DataFrame:
    """Shared reassembly tail for the corpus-wide dedups, REMOVAL-keyed:
    ``spans`` holds the per-occurrence piece ranges to drop
    (``(__doc, __lo, __hi)``, 0-based inclusive — docs with nothing to
    drop are ABSENT). Spans are merged into disjoint intervals
    (``_merge_removed_intervals``), the original frame left-joins that
    (typically tiny, broadcastable) frame, and the text rebuilds
    row-locally by filtering ``pieces`` (the split expression over
    ``text_col``) on position against the interval list.

    Scale contract — this is why the tail is removal-keyed rather than
    survivor-keyed: the previous formulation exploded EVERY piece,
    anti-joined the corpus-sized piece set against the covered set, and
    re-aggregated pieces into docs — document text crossed two exchanges
    and the explode tripled the row count. Here the only corpus-side
    work is one join whose build side holds just the docs that actually
    lose pieces, and the rebuild is a row-local positional filter whose
    per-piece cost is the number of merged REMOVAL RUNS in that doc
    (1 for a fully-duplicated doc; an index-set membership test instead
    was measured quadratic — 10 s for one 20k-token duplicated pair).
    At a realistic duplication rate the text never crosses an exchange
    at all (broadcast build side); worst case it crosses once. A doc
    whose every piece is removed keeps an empty string; a null text
    stays '' (both match the previous formulation).
    """
    merged = _merge_removed_intervals(spans)
    ivs = F.coalesce(
        F.col("__ivs"), F.array().cast("array<struct<lo:int,hi:int>>")
    )
    new_text = F.coalesce(
        F.array_join(
            # two-parameter lambda = (element, 0-based index) — the index
            # form is load-bearing here, matching posexplode numbering
            F.filter(
                pieces,
                lambda p, i: ~F.exists(
                    ivs, lambda s: (i >= s["lo"]) & (i <= s["hi"])
                ),
            ),
            sep,
        ),
        F.lit(""),
    )
    out_cols = [
        new_text.alias(c) if c == text_col else F.col(c) for c in df.columns
    ]
    return df.join(
        merged, df[id_col] == merged["__doc"], "left"
    ).select(*out_cols)


def paragraph_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    sep: str = "\n\n",
    min_chars: int = 1,
) -> DataFrame:
    """Corpus-wide EXACT paragraph deduplication (the RefinedWeb/CCNet
    preprocessing step): every paragraph that already occurred earlier in
    the corpus — in any document — is removed; the first occurrence
    (lowest ``(doc, paragraph index)``) survives. Documents are
    reassembled in original paragraph order; a document whose every
    paragraph was removed keeps an empty string (callers drop or filter).

    ``min_chars`` exempts short paragraphs (headers, separators,
    boilerplate fragments) from deduplication — they survive everywhere,
    matching production pipelines which only dedup substantial spans.

    Scale shape: hash-keyed shuffles carry (hash, doc, idx) rows ONLY —
    paragraph text never crosses an exchange. The canonical-occurrence
    agg is keyed on the paragraph hash (min-struct pick, map-side
    combine); the duplicate-occurrence join is hash-keyed and returns
    just the occurrences to REMOVE (duplication-rate-sized, not
    corpus-sized); the rebuild is a row-local positional filter of the
    re-split text (``_remove_pieces_rowlocal``). Nothing is collected,
    nothing is quadratic, no window over the full corpus.
    """
    occ = df.select(
        F.col(id_col).alias("__doc"),
        F.posexplode(F.split(F.col(text_col), F.lit(sep), -1)).alias(
            "__idx", "__para"
        ),
    ).filter(F.length(F.col("__para")) >= min_chars).select(
        # xxhash64: content-pure grouping like md5, long key instead of
        # 32-char hex through the agg (see repeated_span_dedup); the
        # text itself is dropped HERE, before any exchange
        "__doc", "__idx", F.xxhash64(F.col("__para")).alias("__h")
    )
    keepers = occ.groupBy("__h").agg(
        F.min(F.struct(F.col("__doc"), F.col("__idx"))).alias("__keep")
    )
    spans = (
        occ.join(keepers, "__h")
        .filter(
            (F.col("__doc") != F.col("__keep.__doc"))
            | (F.col("__idx") != F.col("__keep.__idx"))
        )
        .select("__doc", F.col("__idx").alias("__lo"), F.col("__idx").alias("__hi"))
    )
    return _remove_pieces_rowlocal(
        df, id_col, text_col, spans,
        F.split(F.col(text_col), F.lit(sep), -1), sep,
    )


def repeated_span_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 10,
    min_count: int = 2,
) -> DataFrame:
    """Substring-level exact dedup, k-gram anchored (the Spark-shaped
    approximation of Lee et al. 2021's suffix-array span dedup,
    arXiv:2107.06499): any WORD span repeated >= ``min_count`` times
    across the corpus — regardless of paragraph/line boundaries — is
    removed everywhere except its first ``(doc, position)`` occurrence.

    Anchoring: every length-``k`` word window is hashed; windows whose
    hash repeats are "anchors", and every non-canonical anchor
    occurrence marks its k token positions covered. A repeated span of
    length L >= k has all its L−k+1 windows repeated, so the whole span
    is covered in the duplicate copies; spans shorter than ``k`` are
    invisible (the knob mirrors the paper's 50-token threshold —
    boilerplate shorter than that is usually legitimate repetition).
    Unlike a suffix array, detection is hash-granular: one shared window
    between two otherwise-different texts removes exactly those k
    tokens, not a maximal match.

    Scale shape: O(tokens) row-local work, duplication-rate-sized
    shuffles — one row-local window construction, one hash aggregate on
    the window hash carrying (hash, doc, start) rows only (min-struct
    canonical pick, map-side combine; hot boilerplate windows are
    exactly the skew a partial agg absorbs), one hash-keyed join of
    window occurrences against the repeated set yielding just the
    occurrences to REMOVE, then the row-local positional rebuild
    (``_remove_pieces_rowlocal`` — document text never crosses an
    exchange). Nothing is collected; nothing is quadratic in docs or in
    occurrence count.

    Output: the input frame with ``text_col`` rewritten (survivor
    tokens in original order; covered tokens removed). Documents
    entirely covered keep an empty string.
    """
    words = F.filter(F.split(F.col(text_col), r"\s+"), lambda t: t != "")
    # window anchor = XOR of position-rotated per-word xxhash64 values:
    # ONE xxhash64 per word (staged as a bound array column), then k
    # rotate/XOR long ops per window — measured 3.2x faster than hashing
    # the joined window text (2.43 -> 0.76 s for the anchor stage at sf1;
    # the join-string form built a ~40-char string per window). Grouping
    # is still by CONTENT: distinct position rotations (5i mod 64,
    # injective for i < 64 since gcd(5,64)=1 — far beyond any span
    # window) make the key order-sensitive, and a cross-
    # window collision needs the XOR of rotated word-hash diffs to cancel
    # — ≤2^-56 for random 64-bit word hashes (the worst case is a
    # rotation-periodic diff), the same negligible-collision class as
    # hashing the window text. Verified: identical anchor-group structure
    # (group-size histogram) vs the text-hash form at sf1.
    staged = df.select(F.col(id_col).alias("__doc"), words.alias("__ws"))
    staged = staged.select(
        "__doc", "__ws",
        F.transform(F.col("__ws"), lambda w: F.xxhash64(w)).alias("__wh"),
    )
    m = F.size(F.col("__ws"))

    def _rotl(c: Column, r: int) -> Column:
        if r == 0:
            return c
        return F.shiftleft(c, r).bitwiseOR(F.shiftrightunsigned(c, 64 - r))

    def _win_hash(s: Column) -> Column:
        terms = [
            _rotl(F.get(F.col("__wh"), s + i), (5 * i) % 64) for i in range(k)
        ]
        return functools.reduce(lambda a, b: a.bitwiseXOR(b), terms)

    win = F.when(
        m >= k,
        F.transform(
            F.sequence(F.lit(0), m - k),
            lambda s: F.struct(s.alias("start"), _win_hash(s).alias("h")),
        ),
    ).otherwise(F.array().cast("array<struct<start:int,h:bigint>>"))
    grams = staged.select("__doc", F.explode(win).alias("__g")).select(
        "__doc", F.col("__g.start").alias("__start"), F.col("__g.h").alias("__h")
    )
    anchors = (
        grams.groupBy("__h")
        .agg(
            F.min(F.struct(F.col("__doc"), F.col("__start"))).alias("__keep"),
            F.count("*").alias("__c"),
        )
        .filter(F.col("__c") >= min_count)
        .select("__h", "__keep")
    )
    dup_occ = grams.join(anchors, "__h").filter(
        (F.col("__doc") != F.col("__keep.__doc"))
        | (F.col("__start") != F.col("__keep.__start"))
    )
    spans = dup_occ.select(
        "__doc",
        F.col("__start").alias("__lo"),
        (F.col("__start") + (k - 1)).alias("__hi"),
    )
    return _remove_pieces_rowlocal(df, id_col, text_col, spans, words, " ")
