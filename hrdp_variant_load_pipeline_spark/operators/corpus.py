"""Corpus-preparation operators for training-data pipelines: document
chunking, sequence packing, and deterministic stratified sampling.

These sit downstream of dedup/quality filtering (``operators.dedup``,
``functions.text``) and upstream of tokenizer/training jobs. Design notes
for 100 TB:

* chunking is row-local (split → slice windows → posexplode) — the only
  data growth is the overlap factor, and no shuffle is introduced;
* packing uses contiguous cumulative-sum binning per partition key — the
  scalable stand-in for first-fit-decreasing (which is inherently
  sequential); the shuffle carries (key, token_count) pairs only;
* sampling is hash-thresholded per stratum — deterministic across runs,
  engines, and partitionings (no RNG state), so samples are reproducible
  and joinable against the source;
* decontamination broadcasts the benchmark's shingle set — corpus
  shingles are filtered map-side and never shuffled.

Everything is built-in column expressions — no Python UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from hrdp_variant_load_pipeline_spark.runtime import shuffle_partitions


def chunk_documents(
    df: DataFrame,
    id_col: str,
    text_col: str,
    chunk_tokens: int = 256,
    overlap_tokens: int = 32,
    carry_cols: list[str] | None = None,
) -> DataFrame:
    """Split documents into overlapping whitespace-token windows.

    Output: (id, *carry_cols, chunk_idx, chunk_text, n_tokens) — one row
    per chunk, chunks of ``chunk_tokens`` tokens starting every
    ``chunk_tokens - overlap_tokens`` tokens, so consecutive chunks share
    ``overlap_tokens`` tokens (the standard training-data windowing that
    keeps context across chunk boundaries). The last window may be short;
    empty documents yield one empty chunk so no document silently vanishes.

    ``carry_cols`` projects extra per-document columns (language, source
    tag) through the explode row-locally — callers must NOT re-join chunks
    back to the corpus to recover them (that join's build side is
    corpus-cardinality and cannot broadcast at scale).

    Row-local: tokens stay an array column, windows are ``slice`` calls
    over a ``sequence`` of start offsets, and only the final ``posexplode``
    grows the data (by roughly ``chunk/(chunk-overlap)``x).
    """
    if overlap_tokens >= chunk_tokens:
        raise ValueError("overlap_tokens must be < chunk_tokens")
    stride = chunk_tokens - overlap_tokens
    # whitespace-run tokenization: split("a  b", " ") would yield an empty
    # token per extra space (inflating n_tokens and shifting windows), and
    # split("", ...) yields [""] (a phantom token). Split on \s+ and drop
    # empties so n_tokens counts real tokens — empty docs report n_tokens=0
    # but still yield their one (empty) chunk below.
    toks = F.filter(F.split(F.col(text_col), r"\s+"), lambda t: t != "")
    n = F.size(toks)
    # start offsets 1, 1+stride, ... — always at least one window
    starts = F.sequence(F.lit(1), F.greatest(n - F.lit(1), F.lit(1)), F.lit(stride))
    chunks = F.transform(starts, lambda s: F.slice(toks, s, chunk_tokens))
    carry = list(carry_cols or [])
    return df.select(
        F.col(id_col),
        *[F.col(c) for c in carry],
        F.posexplode(chunks).alias("chunk_idx", "__chunk"),
    ).select(
        id_col,
        *carry,
        "chunk_idx",
        F.array_join("__chunk", " ").alias("chunk_text"),
        F.size("__chunk").alias("n_tokens"),
    )


def densify_ids(
    df: DataFrame,
    id_col: str,
    partitions: int | None = None,
    order_extra: list[str] | None = None,
) -> DataFrame:
    """Deterministically remap arbitrary (e.g. hash-minted 60-bit WARC)
    ids to dense ``0..n-1`` longs, ordered by the original id — the
    precondition for ``chunk_uid = id * factor + chunk_idx`` arithmetic,
    whose int64 capacity guard fails loud on wide ids.

    Scale shape: one stats pass (range exchange, O(partitions) driver
    rows) + one ranking pass (hash exchange on a row-locally derived
    bucket, per-bucket ``row_number`` — no global single-partition
    window), with offsets broadcast back as one array literal — the
    zipWithIndex algorithm expressed in DataFrame ops. Deterministic
    for a given id set. Null ids are rejected loudly.

    ``{id_col}_src`` preserves the original id for provenance joins.

    Ids should be unique (run after dedup) unless ``order_extra``
    appends tie-break columns to the within-bucket rank order (e.g. the
    epoch column of an upsampled corpus, where the same id repeats once
    per epoch); bucketing itself keys on the id alone, so tied ids never
    straddle a bucket boundary, and remaining duplicate
    (id, *order_extra) keys rank arbitrarily among themselves.

    Two jobs, like RDD ``zipWithIndex`` — but unlike zipWithIndex the
    second job does NOT trust the first job's physical partitioning to
    recompute identically (range-exchange boundary sampling is not
    stable across separate jobs; observed diverging at 5k rows): job 1
    collects per-range (count, max id) stats, and job 2 re-derives each
    row's bucket ROW-LOCALLY from the collected boundary values. The
    result equals the global id-order rank under ANY ordered disjoint
    bucketization, so it is deterministic even if the sampled ranges
    shift between runs.

    **Determinism precondition**: the input must produce the IDENTICAL
    id multiset in both jobs — read from an immutable snapshot (parquet,
    a pinned/checkpointed frame), never from a nondeterministic source
    (upstream ``monotonically_increasing_id``, files mutated between
    jobs, a live stream). Drift is not silent: job 2 cross-checks each
    bucket's row count against the job-1 stats and raises mid-plan on
    overflow — the direction that would otherwise mint colliding dense
    ids (a shrunk bucket merely leaves a gap, keeping ids unique).
    """
    orig_col = f"{id_col}_src"
    if orig_col in df.columns:
        raise ValueError(f"densify_ids: column {orig_col!r} already exists")
    spark = df.sparkSession
    if partitions is None:
        partitions = shuffle_partitions(spark)
    # job 1: O(partitions) driver rows of (count, max id, null count) per
    # range, in range order (equal ids compare equal -> never split
    # across ranges). The null guard rides this same aggregate — a
    # separate pre-scan would be a third full pass over the input.
    stats = (
        df.repartitionByRange(partitions, F.col(id_col))
        .withColumn("__pid", F.spark_partition_id())
        .groupBy("__pid")
        .agg(
            F.count("*").alias("n"),
            F.max(id_col).alias("hi"),
            F.sum(F.col(id_col).isNull().cast("long")).alias("n_null"),
        )
        .collect()
    )
    if any(r["n_null"] for r in stats):
        raise ValueError(f"densify_ids: null {id_col!r} cannot be ranked")
    keep = [c for c in df.columns if c != id_col]
    if not stats:
        # schema-identical to the non-empty path: dense id first (long),
        # then the kept columns, then the untouched original id
        cols = [F.col(id_col).cast("long").alias(id_col)] + [
            F.col(c) for c in keep
        ]
        return df.select(*cols, F.col(id_col).alias(orig_col))
    stats = sorted(
        (r for r in stats if r["n"] > 0), key=lambda r: r["__pid"]
    )
    offsets: list[int] = []
    acc = 0
    for r in stats:
        offsets.append(acc)
        acc += r["n"]
    # bucket(id) = number of non-final range upper-bounds < id — a pure
    # function of the id, O(partitions) per row against a literal array
    bounds = [r["hi"] for r in stats[:-1]]
    if bounds:
        bucket = F.size(
            F.filter(
                F.array(*[F.lit(b) for b in bounds]),
                lambda x: x < F.col(id_col),
            )
        )
    else:
        bucket = F.lit(0)
    off = F.element_at(
        F.array(*[F.lit(o).cast("long") for o in offsets]),
        F.col("__bucket") + 1,
    )
    order_cols = [id_col] + list(order_extra or [])
    w = Window.partitionBy("__bucket").orderBy(*order_cols)
    # drift guard (see docstring): a bucket ranking MORE rows than job 1
    # counted means the source changed between jobs and offsets would
    # collide — fail loud row-locally, no extra job
    n_in_bucket = F.element_at(
        F.array(*[F.lit(int(r["n"])).cast("long") for r in stats]),
        F.col("__bucket") + 1,
    )
    rn = F.row_number().over(w)
    rn = F.when(
        rn > n_in_bucket,
        F.raise_error(
            F.concat(
                F.lit(
                    "densify_ids: input changed between the stats and rank "
                    "jobs (bucket overflow at id "
                ),
                F.col(id_col).cast("string"),
                F.lit("); read from an immutable snapshot"),
            )
        ).cast("int"),
    ).otherwise(rn)
    dense = (rn - 1 + off).cast("long")
    cols = [dense.alias(id_col)] + [F.col(c) for c in keep]
    return df.withColumn("__bucket", bucket).select(*cols, F.col(id_col).alias(orig_col))


def pack_sequences(
    df: DataFrame,
    id_col: str,
    token_count_col: str,
    max_tokens: int = 2048,
    order_col: str | None = None,
    partition_col: str | None = None,
    allow_global_order: bool = False,
) -> DataFrame:
    """Assign documents to training-batch bins of ~``max_tokens`` tokens.

    Contiguous cumulative-sum binning: documents are ordered (by
    ``order_col``, default the id — deterministic), token counts are
    cumulatively summed, and ``bin_id = ceil(cumsum / max_tokens) - 1``.
    A bin may overflow ``max_tokens`` by at most one document's remainder,
    the usual trade for a single-pass scalable packer; exact
    first-fit-decreasing is inherently sequential and does not distribute.

    Documents longer than ``max_tokens`` are flagged ``oversize`` and each
    gets a bin of its own (``bin_id`` −1, −2, … in packing order — disjoint
    from the packed ids, never shared with any other document); chunk them
    first (``chunk_documents``) if that is not acceptable. They are
    excluded from the cumulative sum, so an oversize run never skews the
    surrounding bins' loads.

    Scale contract: pass ``partition_col`` (a shard/source/language key) so
    every window runs per-partition — bins are then dense only within a
    partition, which training-data sharding does not need globally. The
    unpartitioned call serializes the whole corpus through ONE task (a
    single-partition sort at 100 TB) and therefore requires the explicit
    ``allow_global_order=True`` opt-in; it exists for small, driver-sized
    inputs only.

    Output: input columns + (bin_id, oversize).
    """
    if partition_col is None and not allow_global_order:
        raise ValueError(
            "pack_sequences without partition_col sorts the whole corpus in "
            "one task; pass partition_col=<shard key> (scale path) or "
            "allow_global_order=True (small inputs only)"
        )
    order = F.col(order_col if order_col is not None else id_col)
    w = Window.partitionBy(partition_col).orderBy(order) if partition_col \
        else Window.orderBy(order)
    tc = F.col(token_count_col).cast("long")
    oversize = tc > F.lit(max_tokens)
    # cumsum over the packable docs only; oversize docs contribute 0 and
    # take negative ids from their own running count — true isolation, not
    # the clamp-to-max approximation (which let the NEXT doc share the bin)
    cum = F.sum(F.when(oversize, F.lit(0)).otherwise(tc)).over(w)
    n_oversize = F.sum(oversize.cast("long")).over(w)
    return (
        df.withColumn("__cum", cum)
        .withColumn("__nov", n_oversize)
        .withColumn("oversize", oversize)
        .withColumn(
            "bin_id",
            F.when(F.col("oversize"), -F.col("__nov")).otherwise(
                # greatest(cum, 1): zero-token docs ahead of any tokens
                # would hit cum=0 -> bin -1, colliding with oversize ids
                F.ceil(
                    F.greatest(F.col("__cum"), F.lit(1))
                    / F.lit(float(max_tokens))
                ).cast("long")
                - 1
            ),
        )
        .drop("__cum", "__nov")
    )


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    text_col: str,
    bench_text_col: str | None = None,
    n: int = 8,
) -> DataFrame:
    """Remove training documents sharing any word ``n``-gram with a
    benchmark/eval set — the standard pretraining decontamination step
    (GPT-3 appendix C / PaLM style n-gram overlap, word-level) — and
    return the clean corpus. Documents shorter than ``n`` words produce no
    shingles and are never contaminated.

    Scale shape (100 TB corpus, MB-scale benchmark): the benchmark's
    distinct shingle set is eval-sized, so it is BROADCAST and the corpus
    side's exploded shingles are filtered map-side by a broadcast semi
    join — corpus shingles are never shuffled. The only shuffles are the
    distinct over the (small) contaminated-id set and the final id-keyed
    join, whose build side AQE sizes at runtime.
    """
    from hrdp_variant_load_pipeline_spark.operators.dedup import shingle_array

    bcol = bench_text_col if bench_text_col is not None else text_col
    bench_shingles = (
        benchmark.select(
            F.explode(shingle_array(F.col(bcol), n)).alias("__shingle")
        ).distinct()
    )
    contaminated = (
        docs.select(
            F.col(id_col),
            F.explode(shingle_array(F.col(text_col), n)).alias("__shingle"),
        )
        .join(F.broadcast(bench_shingles), "__shingle", "left_semi")
        .select(id_col)
        .distinct()
    )
    return docs.join(contaminated, id_col, "left_anti")


def contamination_report(
    docs: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    text_col: str,
    bench_id_col: str,
    bench_text_col: str | None = None,
    n: int = 8,
) -> DataFrame:
    """Per-benchmark-item leak audit: for each eval doc, how many
    training docs share at least one word ``n``-gram with it, and how
    many of ITS shingles leak. ``decontaminate`` answers "what do I
    drop"; this answers the release-audit question "which eval items
    are compromised, and how badly" (the number a model card reports).

    Scale shape: identical to ``decontaminate`` — the benchmark shingle
    table is eval-sized and BROADCAST into the corpus shingle explode
    (corpus shingles never shuffle); the post-join aggregate is keyed on
    eval ids, so its state is eval-sized too.

    Output: (bench_id, n_contaminated_docs, n_leaked_shingles,
    n_bench_shingles, leaked_frac) — one row per benchmark doc that HAS
    shingles, leaked or not (leaked_frac 0.0 = clean).
    """
    from hrdp_variant_load_pipeline_spark.operators.dedup import shingle_array

    bcol = bench_text_col if bench_text_col is not None else text_col
    bench_shingles = (
        benchmark.select(
            F.col(bench_id_col).alias("bench_id"),
            F.explode(shingle_array(F.col(bcol), n)).alias("__shingle"),
        ).distinct()
    )
    totals = bench_shingles.groupBy("bench_id").agg(
        F.count("*").alias("n_bench_shingles")
    )
    # no .distinct() here: shingle_array is per-doc distinct already and
    # both aggregates below are count_distinct — a distinct would shuffle
    # the full exploded corpus below the broadcast join for zero effect
    doc_shingles = docs.select(
        F.col(id_col).alias("__doc"),
        F.explode(shingle_array(F.col(text_col), n)).alias("__shingle"),
    )
    hits = doc_shingles.join(F.broadcast(bench_shingles), "__shingle")
    leaks = hits.groupBy("bench_id").agg(
        F.count_distinct("__doc").alias("n_contaminated_docs"),
        F.count_distinct("__shingle").alias("n_leaked_shingles"),
    )
    return (
        totals.join(leaks, "bench_id", "left")
        .fillna({"n_contaminated_docs": 0, "n_leaked_shingles": 0})
        .select(
            "bench_id",
            "n_contaminated_docs",
            "n_leaked_shingles",
            "n_bench_shingles",
            F.round(
                F.col("n_leaked_shingles") / F.col("n_bench_shingles"), 6
            ).alias("leaked_frac"),
        )
    )


def _stratum_hash_unit(id_col: Column, salt: str) -> Column:
    """Deterministic uniform [0,1) from an id: first 8 md5 hex chars."""
    return (
        F.conv(F.substring(F.md5(F.concat(F.lit(salt), id_col.cast("string"))), 1, 8), 16, 10)
        .cast("double")
        / F.lit(float(16**8))
    )


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    fractions: dict[str, float],
    id_col: str,
    salt: str = "strat",
    default_fraction: float = 0.0,
) -> DataFrame:
    """Deterministic per-stratum sampling: keep a row iff
    ``hash(salt, id) < fraction[stratum]``.

    Unlike ``DataFrame.sampleBy`` (RNG per partition — resampling changes
    with partitioning and run), the hash threshold is a pure function of
    (salt, id): reruns, engines, and re-partitionings all keep the SAME
    rows, so downstream joins against the sample are stable and the sample
    composition is auditable. Strata missing from ``fractions`` fall back
    to ``default_fraction``. Changing ``salt`` draws an independent sample.
    """
    mapping = F.create_map(
        *[F.lit(x) for kv in fractions.items() for x in kv]
    )
    frac = F.coalesce(
        mapping[F.col(strata_col)], F.lit(float(default_fraction))
    )
    return df.filter(_stratum_hash_unit(F.col(id_col), salt) < frac)


def temperature_weights(
    df: DataFrame,
    source_col: str,
    token_count_col: str,
    alpha: float = 0.3,
) -> dict[str, float]:
    """Temperature-rebalanced mixture weights from the corpus's own
    per-source token mass — the multilingual-balancing rule of
    XLM-R / mC4 (Conneau et al. 2020 §3.1; Xue et al. 2021 §3.2):

        w_s ∝ (n_s / N) ** alpha,   normalized to sum 1

    ``alpha=1`` reproduces the natural distribution; lowering alpha
    flattens it toward uniform, up-weighting low-resource sources
    without ever reordering them. Feed the result straight into
    ``plan_mixture`` as its ``weights``.

    Scale: ONE sources-sized aggregate on the cluster; the power/
    normalize arithmetic is driver-side over len(sources) floats.
    Sources with zero/null token mass are omitted (they cannot
    contribute rows; plan_mixture would report a full shortfall).
    """
    if alpha <= 0:
        raise ValueError("temperature_weights: alpha must be > 0")
    avail = {
        r["src"]: r["tok"]
        for r in df.groupBy(F.col(source_col).alias("src"))
        .agg(F.sum(token_count_col).cast("long").alias("tok"))
        .collect()
    }
    mass = {s: float(t) for s, t in avail.items() if s is not None and t}
    total = sum(mass.values())
    if not total:
        return {}
    powed = {s: (t / total) ** alpha for s, t in mass.items()}
    z = sum(powed.values())
    return {s: w / z for s, w in sorted(powed.items())}


def plan_mixture(
    df: DataFrame,
    source_col: str,
    token_count_col: str,
    weights: dict[str, float],
    total_tokens: int,
    allow_upsample: bool = False,
) -> dict[str, dict[str, float]]:
    """Turn target mixture ``weights`` (source -> share of the token
    budget) into per-source sampling fractions, from the corpus's actual
    per-source token counts.

    The cluster computes one sources-sized aggregate; the arithmetic is
    driver-side. A source that cannot fill its share gets fraction 1.0
    and a reported ``shortfall_tokens`` (the honest default) — or, with
    ``allow_upsample=True``, a fraction > 1 meaning whole-epoch repeats
    plus a fractional remainder (``apply_mixture`` materializes them).
    Returns {source: {fraction, target_tokens, available_tokens,
    shortfall_tokens}}.
    """
    wsum = sum(weights.values())
    if wsum <= 0:
        raise ValueError("weights must sum to a positive value")
    avail = {
        r["src"]: r["tok"]
        for r in df.groupBy(F.col(source_col).alias("src"))
        .agg(F.sum(token_count_col).cast("long").alias("tok"))
        .collect()
    }
    plan: dict[str, dict[str, float]] = {}
    for src, w in weights.items():
        target = total_tokens * w / wsum
        have = float(avail.get(src) or 0)  # null sum (all-null counts) == empty
        if have <= 0:
            plan[src] = {
                "fraction": 0.0,
                "target_tokens": target,
                "available_tokens": 0.0,
                "shortfall_tokens": target,
            }
            continue
        frac = target / have
        if frac > 1.0 and not allow_upsample:
            plan[src] = {
                "fraction": 1.0,
                "target_tokens": target,
                "available_tokens": have,
                "shortfall_tokens": target - have,
            }
        else:
            plan[src] = {
                "fraction": frac,
                "target_tokens": target,
                "available_tokens": have,
                "shortfall_tokens": 0.0,
            }
    return plan


def apply_mixture(
    df: DataFrame,
    source_col: str,
    id_col: str,
    plan: dict[str, dict[str, float]],
    salt: str = "mix",
) -> DataFrame:
    """Materialize a ``plan_mixture`` result deterministically.

    Fractions <= 1 reuse the stratified hash threshold (same id set on
    every run/partitioning). Fractions > 1 emit ``floor(f)`` whole epochs
    of the source plus a hash-sampled remainder; the output's ``epoch``
    column (0-based) distinguishes repeats so downstream shuffling can
    interleave them. Row-local: one ``explode`` per row, no shuffle.
    """
    fr_map = F.create_map(
        *[
            x
            for src, p in plan.items()
            for x in (F.lit(src), F.lit(float(p["fraction"])))
        ]
    )
    frac = F.coalesce(fr_map[F.col(source_col)], F.lit(0.0))
    u = _stratum_hash_unit(F.col(id_col), salt)
    # epochs 0..floor(frac)-1 are full copies; epoch floor(frac) keeps the
    # row iff its hash falls under the fractional remainder
    n_full = F.floor(frac).cast("int")
    keep_partial = u < (frac - F.floor(frac))
    n_copies = (n_full + F.when(keep_partial, 1).otherwise(0)).cast("int")
    return (
        df.withColumn("__n", n_copies)
        .filter(F.col("__n") > 0)
        # explode must be the top-level expression (no generator nesting):
        # emit 0-based epochs directly
        .withColumn(
            "epoch", F.explode(F.sequence(F.lit(0), F.col("__n") - 1))
        )
        .drop("__n")
    )


def url_curation_keys(
    df: DataFrame,
    url_col: str = "url",
    psl_file: str | None = None,
    url_out: str = "url_norm",
    domain_out: str = "domain",
) -> DataFrame:
    """Attach the two web-curation grouping keys to a crawled frame:
    ``url_out`` = canonical URL (``functions.url.normalize_url`` — the
    exact-dedup key) and ``domain_out`` = registered domain / eTLD+1
    (``registered_domain`` — the per-site cap / blocklist key, fed to
    ``sample_n_per_group``).

    ``psl_file`` points at a publicsuffix.org snapshot (full list,
    ~10k rules — wildcards/exceptions handled); without it the bundled
    ``psl_snapshot.dat`` subset applies. Either way the rules compile
    to driver-side InSet literals — the added columns are pure Column
    expressions (whole-stage codegen, zero UDFs, zero shuffles), so
    this composes into any scan at 100 TB for free.
    """
    from hrdp_variant_load_pipeline_spark.functions import url as U

    clobbered = {url_out, domain_out} & set(df.columns)
    if clobbered:
        raise ValueError(
            f"url_curation_keys: output column(s) {sorted(clobbered)} "
            "already exist on the input — pass different url_out/"
            "domain_out (silent overwrite is ambiguous downstream)"
        )
    psl = U.load_public_suffixes(psl_file) if psl_file else U.default_psl()
    return df.withColumn(url_out, U.normalize_url(F.col(url_col))).withColumn(
        domain_out, U.registered_domain(F.col(url_col), psl=psl)
    )


def sample_n_per_group(
    df: DataFrame,
    group_col: str,
    n: int,
    id_col: str,
    salt: str = "",
) -> DataFrame:
    """Exactly ``min(n, group size)`` rows per group, hash-deterministic.

    The companion to ``stratified_sample`` (which takes FRACTIONS and so
    cannot promise exact counts): rows are ordered inside each group by
    a salted md5 of their id — a fixed pseudo-random order, reproducible
    across runs/engines, re-drawable via ``salt`` — and the first ``n``
    survive. Eval-set carving and per-source caps want this exactness.

    Scale: one shuffle keyed on the group column plus a per-group sort;
    no global sort, no driver round-trips. For a pathologically hot
    group the sort is bounded by that group's size — pre-filter with
    ``stratified_sample`` to knock oversized groups down first if a
    single group would not fit one task.
    """
    order = F.md5(
        F.concat_ws("|", F.lit(salt), F.col(id_col).cast("string"))
    )
    w = Window.partitionBy(group_col).orderBy(order, F.col(id_col))
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= n)
        .drop("__rn")
    )
