"""Vector similarity search over embedding columns (array<float>).

Engine extensions (BASELINE.json north-star). JVM-side math via
``zip_with`` / ``aggregate`` higher-order functions — elementwise in
codegen, no Python round trips. All math in double (floats widened first)
so results are reproducible against columnar oracles.

Scale paths:

* brute-force top-k broadcasts the (small) query set and scans the corpus
  once — the right plan when queries ≪ corpus;
* near-dup pair search blocks on caller-supplied keys (label, coarse
  quantization) or on self-contained hyperplane-LSH buckets
  (``near_dup_pairs_lsh``) so the pair space is bounded per block instead
  of quadratic in the corpus;
* IVF centroids come from the deterministic first-n stand-in (oracle
  path) or a real distributed k-means (``train_centroids``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from hrdp_variant_load_pipeline_spark.runtime import release, snapshot


def dot(a: Column, b: Column) -> Column:
    prod = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prod, F.lit(0.0), lambda acc, x: acc + x)


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def _dot_sql(a: str, b: str) -> str:
    """SQL-text form of ``dot`` — semantically identical, but ONE py4j
    call to parse instead of the dozens a lambda-built Column tree costs.
    Plan-construction latency is real per-query engine overhead on
    sub-second analytics (measured ~0.5 s per similarity query built
    through the Column API); the parsed tree, codegen, and runtime are
    the same either way."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> cast(x AS double) * "
        f"cast(y AS double)), 0.0d, (acc, x) -> acc + x)"
    )


def _norm_sql(a: str) -> str:
    return f"sqrt({_dot_sql(a, a)})"


def _rank_topk(scored: DataFrame, k: int) -> DataFrame:
    """Per-query top-k rank over (query_id, neighbor_id, cosine) — the
    shared tail of every cosine search here (brute force, IVF,
    persisted-store probes): ties break on
    neighbor_id, so results are deterministic and engine-portable."""
    return scored.selectExpr(
        "*",
        "row_number() OVER (PARTITION BY query_id "
        "ORDER BY cosine DESC, neighbor_id ASC) AS rank",
    ).where(f"rank <= {k}")


def _collapse_cents(cent_src: DataFrame) -> DataFrame:
    """Collapse a (cent_id, cvec, cvec_norm) centroid frame into ONE
    sorted-array row (`__cents`) — the broadcastable shape every IVF
    path assigns/probes against."""
    return cent_src.agg(
        F.array_sort(
            F.collect_list(F.struct("cent_id", "cvec", "cvec_norm"))
        ).alias("__cents")
    )


def _cent_scored_sql(vec: str, vnorm: str, round_digits: int = 6) -> str:
    """Array of (neg_cos, cent_id) structs, one per centroid; natural
    struct ordering = (cos desc, cent_id asc)."""
    return (
        f"transform(__cents, x -> named_struct("
        f"'neg_cos', -round({_dot_sql(vec, 'x.cvec')} / "
        f"({vnorm} * x.cvec_norm), {round_digits}), "
        f"'cent_id', x.cent_id))"
    )


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    round_digits: int = 6,
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    Output: (query_id, neighbor_id, cosine, rank). Similarity is rounded
    before ranking and ties break on neighbor id, so results are
    deterministic and engine-portable.
    """
    from hrdp_variant_load_pipeline_spark.sources.tables import spread_for_cpu

    # the corpus side is pure per-row vector CPU (norm + q dot products):
    # spread a single-split scan so it parallelizes (no-op on real
    # multi-split inputs)
    corpus = spread_for_cpu(corpus)
    # norms are per-row, so compute them BEFORE the pair join: O(n+q)
    # instead of O(n*q) sqrt-of-self-dot evaluations. Whole stages are
    # built as selectExpr strings (see _dot_sql) — identical plan, a
    # fraction of the construction latency.
    q = queries.selectExpr(
        f"`{id_col}` AS query_id",
        f"`{vec_col}` AS q_vec",
        f"{_norm_sql(f'`{vec_col}`')} AS q_norm",
    )
    c = corpus.selectExpr(
        f"`{id_col}` AS neighbor_id",
        f"`{vec_col}` AS c_vec",
        f"{_norm_sql(f'`{vec_col}`')} AS c_norm",
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        # zero-norm vectors have no defined cosine (0/0): exclude them
        # like self-matches rather than let NaN propagate — Spark ranks
        # NaN FIRST descending, which would put garbage at rank 1. Same
        # contract as the BLAS form and the kcenter zero-exclusion.
        .where("neighbor_id != query_id AND c_norm != 0.0 AND q_norm != 0.0")
        .selectExpr(
            "query_id",
            "neighbor_id",
            f"round({_dot_sql('q_vec', 'c_vec')} / (q_norm * c_norm), "
            f"{round_digits}) AS cosine",
        )
    )
    return _rank_topk(scored, k)


def brute_force_topk_blas(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    round_digits: int = 6,
) -> DataFrame:
    """``brute_force_topk`` with the dot products evaluated as ONE
    numpy/BLAS matrix multiply per Arrow batch (``mapInPandas``) instead
    of per-row ``aggregate(zip_with(...))`` codegen — the r11 triage's
    last unmeasured lever for the cosine-topk family.

    Same contract and output as ``brute_force_topk`` (rounded cosine,
    ties on neighbor_id, self-matches excluded). The query set is
    MODEL-SIZED by contract (a top-k probe's queries, not a corpus) and
    is collected once and shipped inside the UDF closure as a dense
    (q × dim) matrix; each Arrow batch of corpus vectors becomes a
    (b × dim) matrix, one ``C @ Q.T`` scores the whole block, and only
    the per-batch top-k rows per query survive to the global rank — the
    exchange carries O(batches · q · k) rows, never the corpus. Rounding
    uses the half-up formula (``floor(|x|·10^d + 0.5)``, sign restored)
    to mirror Spark/DuckDB ``round`` rather than numpy's banker's
    rounding. This stays consistent with the repo's UDF discipline:
    Arrow-batched matrix math over genuinely non-columnar work, never
    row-at-a-time Python.

    Zero-norm vectors (no defined cosine) are EXCLUDED on both paths —
    masked like self-matches here, filtered pre-join in the JVM form —
    rather than letting 0/0 NaN propagate with engine-dependent
    ordering (numpy lexsort ranks NaN last in-batch; Spark ranks NaN
    first descending). Rounding-tie caveat: the half-up formula here is
    binary half-up, while Spark ``round`` goes through BigDecimal
    shortest-decimal strings (see ``train_centroids``'s note) — a
    cosine whose 1e-6 digit sits exactly on a representation boundary
    can round differently and flip a rank tie between the two forms.
    Observed bit-equal at all four tested scales on real embeddings;
    the caveat is theoretical headroom, not a measured divergence."""
    import numpy as np
    import pandas as pd

    qrows = queries.select(id_col, vec_col).collect()
    if not qrows:
        return corpus.sparkSession.createDataFrame(
            [], "query_id BIGINT, neighbor_id BIGINT, cosine DOUBLE, "
            "rank INT"
        )
    q_ids = np.array([int(r[0]) for r in qrows], dtype=np.int64)
    q_mat = np.array([[float(x) for x in r[1]] for r in qrows])
    q_norm = np.sqrt((q_mat * q_mat).sum(axis=1))
    q_zero = q_norm == 0.0
    q_norm = np.where(q_zero, 1.0, q_norm)  # avoid 0/0; masked below
    scale = float(10 ** round_digits)

    def _score(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            c_mat = np.array(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )
            c_norm = np.sqrt((c_mat * c_mat).sum(axis=1))
            c_zero = c_norm == 0.0
            c_norm = np.where(c_zero, 1.0, c_norm)  # avoid 0/0
            sims = (c_mat @ q_mat.T) / np.outer(c_norm, q_norm)
            # half-up to round_digits (Spark/DuckDB round semantics)
            sims = np.sign(sims) * np.floor(
                np.abs(sims) * scale + 0.5
            ) / scale
            # self-matches and zero-norm rows/queries never rank
            sims[ids[:, None] == q_ids[None, :]] = -np.inf
            sims[c_zero, :] = -np.inf
            sims[:, q_zero] = -np.inf
            kk = min(k, len(ids))
            # per-query partial top-k with the (cos desc, id asc) order:
            # lexsort on (ids, -sims) gives ascending id within equal sims
            out_q, out_n, out_c = [], [], []
            for j in range(len(q_ids)):
                order = np.lexsort((ids, -sims[:, j]))[:kk]
                keep = sims[order, j] != -np.inf
                sel = order[keep]
                out_q.append(np.full(len(sel), q_ids[j], dtype=np.int64))
                out_n.append(ids[sel])
                out_c.append(sims[sel, j])
            yield pd.DataFrame(
                {
                    "query_id": np.concatenate(out_q),
                    "neighbor_id": np.concatenate(out_n),
                    "cosine": np.concatenate(out_c),
                }
            )

    from hrdp_variant_load_pipeline_spark.sources.tables import spread_for_cpu

    partial = spread_for_cpu(corpus).select(id_col, vec_col).mapInPandas(
        _score, "query_id BIGINT, neighbor_id BIGINT, cosine DOUBLE"
    )
    return _rank_topk(partial, k)


# crossover measured r14 (BENCH_NOTES.md "embedding_cosine_topk dispatch
# crossover": local[32], 10 queries, k=5, dim 64, best-of-3, parity
# asserted per rung):
#   rows   2k     10k    25k    50k    100k   200k
#   jvm    0.43   0.50   0.61   0.87   1.22   2.22
#   blas   0.51   0.48   0.47   0.40   0.46   0.53
# JVM wins below ~10k (Python-worker + Arrow startup dominates), BLAS
# from 10k up (0.24x at 200k = the staged sf10 corpus) — the knee sits
# between 2k and 10k, so 10k keeps sf0.1 (2k rows) on the JVM fast path
# and everything sf1-sized and up on BLAS
_BLAS_CORPUS_ROWS = 10_000


def brute_force_topk_auto(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    round_digits: int = 6,
) -> DataFrame:
    """Size-gated dispatch between the two bit-equal brute-force forms:
    the ``zip_with``/``aggregate`` JVM form below ``_BLAS_CORPUS_ROWS``
    corpus rows (no Python-worker/Arrow startup — wins at small scale),
    the Arrow/BLAS batch-dot form at or above it (one ``C @ Q.T`` per
    batch — 2.1x the JVM form at sf10). Threshold from a measured
    crossover (see the ``_BLAS_CORPUS_ROWS`` note).

    The sizing ``corpus.count()`` is footer-only on a raw parquet scan but
    executes the full plan on derived lineage."""
    n = corpus.count()
    form = brute_force_topk_blas if n >= _BLAS_CORPUS_ROWS else brute_force_topk
    return form(corpus, queries, id_col, vec_col, k, round_digits)


def train_centroids(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 8,
    n_iter: int = 5,
    round_digits: int = 6,
    centroid_round_digits: int | None = None,
) -> DataFrame:
    """Distributed Lloyd's k-means for IVF training: cosine assignment,
    element-wise mean update.

    Each iteration is two narrow-plus-one-shuffle stages: (1) row-local
    nearest-centroid assignment against the broadcast centroid array
    (identical shape to ``ivf_topk``'s inverted file — the corpus is never
    shuffled); (2) ``posexplode`` the assigned vectors to (bucket, dim,
    value) and hash-aggregate per-dimension means — the shuffle carries
    ``n_centroids x dim`` partial sums per partition after map-side
    combine, independent of corpus size. Buckets that lose all members
    keep their previous centroid. Initialization is the first
    ``n_centroids`` vectors by id (deterministic across runs); float-sum
    ordering makes exact values run-dependent in the last digits, which is
    why ``ivf_topk``'s cross-engine oracle keeps the deterministic
    first-n stand-in while production search uses this trainer via the
    ``centroids`` parameter. ``centroid_round_digits`` quantizes each
    iteration's means (half-up floor trick, identical on any engine) so a
    fixed-iteration run IS cross-engine reproducible: both engines restart
    every iteration from bit-identical centroids, killing float-sum
    order drift before it can flip an assignment.

    Returns (cent_id, cvec) — pass as ``ivf_topk(..., centroids=...)``.
    """
    c = corpus.select(F.col(vec_col).alias("c_vec"), norm(F.col(vec_col)).alias("c_norm"))
    w = Window.orderBy(id_col)
    cents = (
        corpus.orderBy(F.col(id_col))
        .limit(n_centroids)
        .withColumn("cent_id", F.row_number().over(w).cast("long") - 1)
        .select("cent_id", F.col(vec_col).alias("cvec"))
    )
    for _ in range(n_iter):
        cent_arr = cents.agg(
            F.array_sort(
                F.collect_list(
                    F.struct("cent_id", "cvec", norm(F.col("cvec")).alias("cvec_norm"))
                )
            ).alias("__cents")
        )
        # half-up floor trick instead of round(): the assignment is a
        # per-row comparison that COMPOUNDS across iterations, so the
        # rounding must be bit-identical on any engine re-running it
        p10 = F.lit(float(10**round_digits))
        scored = F.transform(
            F.col("__cents"),
            lambda x: F.struct(
                (
                    -(
                        F.floor(
                            dot(F.col("c_vec"), x["cvec"])
                            / (F.col("c_norm") * x["cvec_norm"])
                            * p10
                            + F.lit(0.5)
                        )
                        / p10
                    )
                ).alias("neg_cos"),
                x["cent_id"].alias("cent_id"),
            ),
        )
        assigned = c.crossJoin(F.broadcast(cent_arr)).select(
            F.coalesce(F.array_min(scored)["cent_id"], F.lit(-1)).alias("bucket"),
            "c_vec",
        )
        m = F.avg(F.col("x").cast("double"))
        if centroid_round_digits is not None:
            # half-up floor trick, NOT round(): identical tie behavior on
            # every engine (Spark round goes through BigDecimal shortest-
            # decimal strings, DuckDB rounds the binary value)
            p10 = F.lit(float(10 ** centroid_round_digits))
            m = F.floor(m * p10 + F.lit(0.5)) / p10
        means = (
            assigned.select("bucket", F.posexplode("c_vec").alias("i", "x"))
            .groupBy("bucket", "i")
            .agg(m.alias("m"))
            .groupBy("bucket")
            .agg(F.array_sort(F.collect_list(F.struct("i", "m"))).alias("im"))
            .select(
                F.col("bucket").alias("cent_id"),
                F.transform("im", lambda s: s["m"]).alias("new_cvec"),
            )
        )
        stepped = cents.join(means, "cent_id", "left").select(
            "cent_id", F.coalesce("new_cvec", "cvec").alias("cvec")
        )
        # k rows; truncate the per-iteration lineage so n_iter rounds don't
        # stack n_iter full assignment plans, and release the superseded
        # round. With sc.setCheckpointDir the snapshot is reliable and
        # survives executor loss on a real cluster
        prev, cents = cents, snapshot(stepped)
        release(prev)
    return cents


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 8,
    nprobe: int = 2,
    k: int = 5,
    round_digits: int = 6,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF-style approximate top-k: the scale path for ANN search.

    Deterministic "training": the first ``n_centroids`` corpus vectors (by
    id) act as centroids — reproducible across engines without an iterative
    k-means (swap in real centroids at production time; the plan shape is
    identical). Scores are rounded before ranking so argmax/ties are
    engine-portable.

    Scale shape: the centroid set is tiny by construction, so it is
    collapsed to ONE array row and broadcast; bucket assignment (nearest
    centroid per corpus vector) and probe selection (``nprobe`` nearest per
    query) are then row-local array argmax/sort — the corpus is NEVER
    shuffled for assignment (the previous window-over-neighbor_id shape
    shuffled the full corpus once before any probing). The only remaining
    wide ops are the bucket equi-join and the per-query top-k rank.

    Output: (query_id, neighbor_id, cosine, rank).
    """
    if centroids is not None:  # e.g. train_centroids output
        cent_src = centroids.selectExpr(
            "cent_id", "cvec", f"{_norm_sql('cvec')} AS cvec_norm"
        )
    else:
        cent_src = (
            corpus.orderBy(F.col(id_col))
            .limit(n_centroids)
            .selectExpr(
                f"`{id_col}` AS cent_id",
                f"`{vec_col}` AS cvec",
                f"{_norm_sql(f'`{vec_col}`')} AS cvec_norm",
            )
        )
    # single array row (bounded: n_centroids structs), broadcast below
    cent_arr = _collapse_cents(cent_src)
    from hrdp_variant_load_pipeline_spark.sources.tables import spread_for_cpu

    # bucket assignment costs n_centroids dot products per corpus row —
    # spread a single-split scan so that CPU parallelizes (no-op on real
    # multi-split inputs; measured 0.86 -> 0.55 s at sf0.1, 0.73 -> 0.55 s
    # on the sf1 staging)
    corpus = spread_for_cpu(corpus)
    # per-row norms precomputed before any pair join (O(n), not O(n*pairs));
    # stages built as SQL text (see _dot_sql) — same plan, cheap to build
    c = corpus.selectExpr(
        f"`{id_col}` AS neighbor_id",
        f"`{vec_col}` AS c_vec",
        f"{_norm_sql(f'`{vec_col}`')} AS c_norm",
    )

    def _scored(vec: str, vnorm: str) -> str:
        return _cent_scored_sql(vec, vnorm, round_digits)

    # inverted file: nearest centroid per corpus vector, row-local argmax.
    # coalesce makes the bucket expression non-nullable, so the downstream
    # equi-join does NOT infer an IsNotNull(bucket) predicate — which
    # Catalyst would push into this cross join's condition and evaluate the
    # whole 8-dot-product argmax a second time per corpus row
    assigned = c.crossJoin(F.broadcast(cent_arr)).selectExpr(
        "neighbor_id",
        "c_vec",
        "c_norm",
        f"coalesce(array_min({_scored('c_vec', 'c_norm')}).cent_id, -1L)"
        " AS bucket",
    )

    # probe list: nprobe nearest centroids per query, row-local sort+slice
    q = queries.selectExpr(
        f"`{id_col}` AS query_id",
        f"`{vec_col}` AS q_vec",
        f"{_norm_sql(f'`{vec_col}`')} AS q_norm",
    )
    probes = (
        q.crossJoin(F.broadcast(cent_arr))
        .selectExpr(
            "query_id",
            "q_vec",
            "q_norm",
            f"explode(slice(array_sort({_scored('q_vec', 'q_norm')}),"
            f" 1, {nprobe})) AS __p",
        )
        .selectExpr("query_id", "q_vec", "q_norm", "__p.cent_id AS bucket")
    )

    scored = (
        assigned.join(F.broadcast(probes), "bucket")
        .where("neighbor_id != query_id")
        .selectExpr(
            "query_id",
            "neighbor_id",
            f"round({_dot_sql('q_vec', 'c_vec')} / (q_norm * c_norm), "
            f"{round_digits}) AS cosine",
        )
    )
    return _rank_topk(scored, k)


def quantize_int8(
    df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Scalar int8 quantization: per-vector symmetric scale to [-127, 127].

    The storage scale-path for embedding corpora (4× smaller than float32,
    distance ranking almost preserved). floor(x*scale+0.5) rounding keeps
    the result bit-identical across engines. Returns
    (id, scale, q array<int>); dequantize ≈ q / scale.
    """
    v = F.col(vec_col)
    max_abs = F.array_max(F.transform(v, lambda x: F.abs(x.cast("double"))))
    scale = F.when(max_abs > 0, 127.0 / max_abs).otherwise(F.lit(1.0))
    return df.select(
        F.col(id_col),
        F.round(scale, 6).alias("scale"),
        F.transform(
            v, lambda x: F.floor(x.cast("double") * scale + 0.5).cast("int")
        ).alias("q"),
    )


def near_dup_pairs(
    corpus: DataFrame,
    block_cols: list[str],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.3,
    round_digits: int = 6,
) -> DataFrame:
    """Embedding near-duplicate pairs within blocks.

    ``block_cols`` bound the pair space (coarse quantization / labels /
    LSH buckets); at 100 TB this is what keeps the join from being a
    corpus×corpus cross product.
    """
    sel = corpus.select(
        *[F.col(c) for c in block_cols],
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("vec"),
        norm(F.col(vec_col)).alias("nrm"),  # per-row, before the pair join
    )
    a = sel.alias("a")
    b = sel.alias("b")
    cond = F.col("a.id") < F.col("b.id")
    for c in block_cols:
        cond = cond & (F.col(f"a.{c}") == F.col(f"b.{c}"))
    return (
        a.join(b, cond)
        .withColumn(
            "cosine",
            F.round(
                dot(F.col("a.vec"), F.col("b.vec")) / (F.col("a.nrm") * F.col("b.nrm")),
                round_digits,
            ),
        )
        .filter(F.col("cosine") >= threshold)
        .select(
            F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"), "cosine"
        )
    )


def make_planes(n_planes: int, dim: int, seed: int = 7) -> list[list[float]]:
    """Deterministic pseudo-random hyperplane matrix, components in [-1, 1].

    Derived driver-side from ``(seed, plane, dim-index)`` with a splitmix64
    mix — pure integer arithmetic, so the SAME matrix is reproducible in any
    engine (the DuckDB oracle embeds these exact literals). n_planes x dim
    doubles is a few KiB: it rides the plan as literals, nothing is
    broadcast or persisted.
    """
    mask = (1 << 64) - 1

    def mix(j: int, i: int) -> float:
        h = (seed * 0x9E3779B97F4A7C15 + j * 0xBF58476D1CE4E5B9 + i * 0x94D049BB133111EB) & mask
        h ^= h >> 31
        h = (h * 0xD6E8FEB86659FD93) & mask
        h ^= h >> 27
        return (h % 10007) / 5003.5 - 1.0

    return [[mix(j, i) for i in range(dim)] for j in range(n_planes)]


def hyperplane_buckets(
    df: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 16,
    band_planes: int = 8,
    seed: int = 7,
) -> DataFrame:
    """Sign-sketch LSH buckets: bit j of a vector's sketch is the sign of
    its dot product with pseudo-random hyperplane j (``make_planes``) of
    ``dim`` components.

    All ``n_planes`` dot products are produced by ONE expression — a
    ``transform`` over the literal plane matrix with a ``zip_with`` fold
    per plane — so the vector column is traversed per-plane with pure
    multiply-adds and no per-element hashing (round 2 recomputed a hash
    per (element, plane): ~16x the necessary CPU on the corpus's hottest
    loop). With ``n_planes`` split into bands of ``band_planes`` bits
    (banding exactly like MinHash-LSH), vectors at cosine ~0.9 collide in
    at least one band with high probability while unrelated vectors
    rarely do.

    Output: one row per (vector, band): (id, band_idx, bucket).
    """
    planes = make_planes(n_planes, dim, seed)
    plane_lit = F.array(*[F.array(*[F.lit(p) for p in row]) for row in planes])
    v = F.col(vec_col)
    # one sums array per row: sums[j] = <v, plane_j>
    sums = F.transform(
        plane_lit,
        lambda plane: F.aggregate(
            F.zip_with(v, plane, lambda x, p: x.cast("double") * p),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
    )
    powers = F.array(*[F.lit(1 << r) for r in range(band_planes)])
    n_bands = n_planes // band_planes
    bands = F.transform(
        F.sequence(F.lit(0), F.lit(n_bands - 1)),
        lambda b: F.struct(
            b.alias("band_idx"),
            F.aggregate(
                F.zip_with(
                    F.slice(sums, b * band_planes + 1, band_planes),
                    powers,
                    lambda s, pw: F.when(s >= 0, pw).otherwise(F.lit(0)).cast("long"),
                ),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ).alias("bucket"),
        ),
    )
    return df.select(
        F.col(id_col).alias("id"), F.explode(bands).alias("bb")
    ).select("id", F.col("bb.band_idx").alias("band_idx"), F.col("bb.bucket").alias("bucket"))


def near_dup_pairs_lsh(
    corpus: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    n_planes: int = 16,
    band_planes: int = 8,
    seed: int = 7,
    round_digits: int = 6,
) -> DataFrame:
    """Embedding near-duplicate pairs with self-contained LSH blocking.

    The scale path when no natural blocking key exists: candidates are
    pairs sharing any (band, bucket) from ``hyperplane_buckets`` — a pure
    equi-self-join — then ONLY candidates are verified with the exact
    cosine (two id-equi-joins pull the vectors; the intersection math is
    row-local). Same candidate→verify shape as MinHash-LSH for text:
    bounded by collisions, never all-pairs. Verification makes precision
    exact; recall is tuned by (n_planes, band_planes).
    """
    bk = hyperplane_buckets(corpus, dim, id_col, vec_col, n_planes, band_planes, seed)
    a, b = bk.alias("a"), bk.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    vecs = corpus.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("vec"),
        norm(F.col(vec_col)).alias("nrm"),
    )
    return (
        cands.join(vecs.select(F.col("id").alias("id_a"), F.col("vec").alias("va"), F.col("nrm").alias("na")), "id_a")
        .join(vecs.select(F.col("id").alias("id_b"), F.col("vec").alias("vb"), F.col("nrm").alias("nb")), "id_b")
        .withColumn(
            "cosine",
            F.round(dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")), round_digits),
        )
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )
