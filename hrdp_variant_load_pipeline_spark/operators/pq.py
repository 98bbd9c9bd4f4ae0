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

