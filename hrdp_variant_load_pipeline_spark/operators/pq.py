"""Product quantization (PQ) for embedding compression + approximate
search — the remaining piece of the ANN toolbox beside IVF
(``similarity.train_centroids``/``ivf_topk``), int8 quantization, and
hyperplane LSH.

A ``dim``-dimensional vector splits into ``m`` contiguous subvectors;
each subspace gets its own ``n_codes``-entry k-means codebook (L2, the
standard PQ objective — Jégou et al., TPAMI'11). A vector stores as
``m`` small ints (e.g. 64 floats → 8 bytes at m=8/n_codes=256 — 32×), and
query distances come from an ``m × n_codes`` lookup table (ADC), never
from decoded vectors.

Scale shape:

* training explodes to (subspace, subvec) ONCE and trains all ``m``
  codebooks simultaneously — per iteration one broadcast join for
  assignment and one hash-aggregate whose shuffle carries
  ``m × n_codes × d_sub`` partial sums after map-side combine,
  independent of corpus size (same recipe as ``train_centroids``);
* the trained codebook is a model (``m × n_codes`` rows) — it is
  COLLECTED and inlined as literals, so encoding and ADC scoring are
  row-local column expressions: the corpus is never shuffled or joined
  to encode or to search;
* search broadcasts the (small) query side with its per-query LUT and
  ranks with the same per-query window as ``brute_force_topk``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from hrdp_variant_load_pipeline_spark.runtime import release, snapshot


def _sqdist(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _subvectors(df: DataFrame, id_col: str, vec_col: str, m: int, d_sub: int):
    slices = F.array(
        *[F.slice(F.col(vec_col), j * d_sub + 1, d_sub) for j in range(m)]
    )
    return df.select(
        F.col(id_col), F.posexplode(slices).alias("subspace", "subvec")
    )


def train_pq_codebooks(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    m: int = 8,
    n_codes: int = 16,
    n_iter: int = 4,
) -> DataFrame:
    """Train the ``m`` subspace codebooks with distributed Lloyd's k-means
    under squared-L2. Returns (subspace, code_id, cvec) — pass to
    ``pq_encode`` / ``pq_topk``. Initialization is the first ``n_codes``
    vectors by id per subspace (deterministic); a code that loses all
    members keeps its previous centroid.
    """
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    d_sub = dim // m
    sub = _subvectors(corpus, id_col, vec_col, m, d_sub)
    w = Window.partitionBy("subspace").orderBy(id_col)
    cents = (
        sub.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= n_codes)
        .select(
            "subspace",
            (F.col("__rn") - 1).cast("long").alias("code_id"),
            F.col("subvec").alias("cvec"),
        )
    )
    for _ in range(n_iter):
        cent_arr = cents.groupBy("subspace").agg(
            F.array_sort(F.collect_list(F.struct("code_id", "cvec"))).alias(
                "__cents"
            )
        )
        scored = F.transform(
            F.col("__cents"),
            lambda x: F.struct(
                _sqdist(F.col("subvec"), x["cvec"]).alias("d"),
                x["code_id"].alias("code_id"),
            ),
        )
        assigned = sub.join(F.broadcast(cent_arr), "subspace").select(
            "subspace",
            F.array_min(scored)["code_id"].alias("code_id"),
            "subvec",
        )
        means = (
            assigned.select(
                "subspace", "code_id", F.posexplode("subvec").alias("i", "x")
            )
            .groupBy("subspace", "code_id", "i")
            .agg(F.avg(F.col("x").cast("double")).alias("mv"))
            .groupBy("subspace", "code_id")
            .agg(F.array_sort(F.collect_list(F.struct("i", "mv"))).alias("im"))
            .select(
                "subspace",
                "code_id",
                F.transform("im", lambda s: s["mv"]).alias("new_cvec"),
            )
        )
        stepped = cents.join(means, ["subspace", "code_id"], "left").select(
            "subspace",
            "code_id",
            F.coalesce("new_cvec", "cvec").alias("cvec"),
        )
        # m*n_codes rows; truncate per-iteration lineage like train_centroids
        prev, cents = cents, snapshot(stepped, reliable=False)
        release(prev)
    return cents


def _collect_codebooks(codebooks: DataFrame) -> list[list[list[float]]]:
    """[subspace][code_id] -> centroid list. Model-sized driver collect."""
    rows = codebooks.collect()
    m = max(r["subspace"] for r in rows) + 1
    n = max(r["code_id"] for r in rows) + 1
    out: list[list[list[float]] | None] = [[None] * n for _ in range(m)]
    for r in rows:
        out[r["subspace"]][r["code_id"]] = [float(v) for v in r["cvec"]]
    return out  # type: ignore[return-value]


def _lit_vec(v: list[float]) -> Column:
    return F.array(*[F.lit(x) for x in v])


def pq_encode(
    corpus: DataFrame,
    codebooks: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_col: str = "pq_codes",
) -> DataFrame:
    """Row-local encode: each subvector's nearest code (squared-L2, ties
    to the lowest code_id). The codebook is inlined as literals, so the
    plan is one narrow projection over the corpus scan — no join, no
    shuffle. Output: input columns minus the vector, plus ``out_col``
    (``array<int>`` of length m)."""
    cb = _collect_codebooks(codebooks)
    code_cols = []
    for j, codes in enumerate(cb):
        d_sub = len(codes[0])
        sl = F.slice(F.col(vec_col), j * d_sub + 1, d_sub)
        dists = F.array(*[_sqdist(sl, _lit_vec(c)) for c in codes])
        code_cols.append(
            (F.array_position(dists, F.array_min(dists)) - 1).cast("int")
        )
    keep = [c for c in corpus.columns if c != vec_col]
    return corpus.select(*keep, F.array(*code_cols).alias(out_col))


def pq_topk(
    encoded: DataFrame,
    queries: DataFrame,
    codebooks: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codes_col: str = "pq_codes",
) -> DataFrame:
    """Asymmetric-distance top-k: raw queries against the PQ-encoded
    corpus. Each query precomputes its flat LUT (subvector-to-code squared
    distances); a corpus row's approximate distance is the sum of m LUT
    lookups selected by its stored codes — the corpus side touches only
    its codes, never reconstructs vectors, and never shuffles (queries +
    LUTs broadcast; ranking reuses the per-query window).

    Output: (query_id, neighbor_id, approx_dist, rank).
    """
    cb = _collect_codebooks(codebooks)
    m = len(cb)
    n_codes = len(cb[0])
    lut_parts = []
    for j, codes in enumerate(cb):
        d_sub = len(codes[0])
        sl = F.slice(F.col(vec_col), j * d_sub + 1, d_sub)
        lut_parts.extend(_sqdist(sl, _lit_vec(c)) for c in codes)
    q = queries.select(
        F.col(id_col).alias("query_id"), F.array(*lut_parts).alias("__lut")
    )
    score = F.aggregate(
        F.sequence(F.lit(0), F.lit(m - 1)),
        F.lit(0.0),
        lambda acc, s: acc
        + F.get(F.col("__lut"), s * n_codes + F.get(F.col(codes_col), s)),
    )
    return (
        encoded.select(F.col(id_col).alias("neighbor_id"), codes_col)
        .crossJoin(F.broadcast(q))
        .where("neighbor_id != query_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(score, 6).alias("approx_dist"),
        )
        .withColumn(
            "rank",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(
                    F.asc("approx_dist"), F.asc("neighbor_id")
                )
            ),
        )
        .where(F.col("rank") <= k)
    )


def _lut_expr(cb: list[list[list[float]]], vec_col: str) -> Column:
    parts = []
    for j, codes in enumerate(cb):
        d_sub = len(codes[0])
        sl = F.slice(F.col(vec_col), j * d_sub + 1, d_sub)
        parts.extend(_sqdist(sl, _lit_vec(c)) for c in codes)
    return F.array(*parts)


def coarse_bucket_expr(coarse: list[list[float]], vec_col: str):
    """Nearest coarse-centroid id for a vector column — row-local literal
    arithmetic (shared by ivfpq_topk and the persisted IVF-PQ store)."""
    cdists = F.array(*[_sqdist(F.col(vec_col), _lit_vec(c)) for c in coarse])
    return (F.array_position(cdists, F.array_min(cdists)) - 1).cast("int")


def coarse_probes_expr(coarse: list[list[float]], vec_col: str, nprobe: int):
    """Array of the ``nprobe`` nearest coarse-centroid ids for a query
    vector column — row-local sort+slice."""
    nb = len(coarse)
    cdists = F.array(*[_sqdist(F.col(vec_col), _lit_vec(c)) for c in coarse])
    idxs = F.sequence(F.lit(0), F.lit(nb - 1))
    scored = F.transform(
        idxs, lambda i: F.struct(F.get(cdists, i).alias("d"), i.alias("b"))
    )
    return F.transform(
        F.slice(F.array_sort(scored), 1, min(nprobe, nb)),
        lambda s: s["b"].cast("int"),
    )


def adc_score_expr(m: int, n_codes: int, lut_col: str = "__lut",
                   codes_col: str = "pq_codes"):
    """ADC distance: fold the m codes through the broadcast per-query
    LUT (m*n_codes doubles)."""
    return F.aggregate(
        F.sequence(F.lit(0), F.lit(m - 1)),
        F.lit(0.0),
        lambda acc, s: acc
        + F.get(F.col(lut_col), s * n_codes + F.get(F.col(codes_col), s)),
    )


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    coarse_codebook: DataFrame,
    codebooks: DataFrame,
    nprobe: int = 2,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-PQ: the coarse quantizer restricts candidates to ``nprobe``
    probed buckets, PQ codes score them by ADC — together the standard
    billion-scale recipe (candidate count bounded by the inverted file,
    per-candidate cost by the code length).

    ``coarse_codebook`` is just a one-subspace PQ codebook
    (``train_pq_codebooks(corpus, m=1, n_codes=n_buckets)``) — full-vector
    L2 k-means, the same metric the sub-quantizers use. This variant
    encodes raw vectors rather than centroid residuals (classic IVFADC
    subtracts the centroid first; raw encoding trades a little accuracy
    for reusing one corpus-wide codebook verbatim).

    Scale shape: bucket assignment AND encoding are row-local literal
    arithmetic — the corpus is never shuffled or joined to index; the
    query side (ids × nprobe probes, with the m×n_codes LUT) broadcasts
    into a bucket equi-join, and ranking reuses the per-query window.

    Output: (query_id, neighbor_id, approx_dist, rank).
    """
    coarse = _collect_codebooks(coarse_codebook)[0]
    cb = _collect_codebooks(codebooks)
    m, n_codes = len(cb), len(cb[0])

    enc = pq_encode(
        corpus.withColumn("__bucket", coarse_bucket_expr(coarse, vec_col)),
        codebooks,
        id_col=id_col,
        vec_col=vec_col,
    ).select(F.col(id_col).alias("neighbor_id"), "__bucket", "pq_codes")

    # explode must be the select's top-level expression (no nesting)
    q = queries.select(
        F.col(id_col).alias("query_id"),
        _lut_expr(cb, vec_col).alias("__lut"),
        coarse_probes_expr(coarse, vec_col, nprobe).alias("__probes"),
    ).select("query_id", "__lut", F.explode("__probes").alias("__bucket"))
    score = adc_score_expr(m, n_codes)
    return (
        enc.join(F.broadcast(q), "__bucket")
        .where("neighbor_id != query_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(score, 6).alias("approx_dist"),
        )
        .withColumn(
            "rank",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(
                    F.asc("approx_dist"), F.asc("neighbor_id")
                )
            ),
        )
        .where(F.col("rank") <= k)
    )
