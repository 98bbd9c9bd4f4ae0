"""Training-data pipeline query battery: text analysis, deduplication,
similarity search, multimodal plumbing (BASELINE.json north-star operators).

Spark side uses the engine operators (functions/text.py, operators/dedup.py,
operators/similarity.py, operators/multimodal.py); oracle side is
independently written DuckDB SQL over the same tables. md5-based hash
families keep MinHash/SimHash reproducible across both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hrdp_variant_load_pipeline_spark.functions import text as TXT
from hrdp_variant_load_pipeline_spark.operators import dedup as DD
from hrdp_variant_load_pipeline_spark.operators import multimodal as MM
from hrdp_variant_load_pipeline_spark.operators import similarity as SIM
from hrdp_variant_load_pipeline_spark.runtime import snapshot
from hrdp_variant_load_pipeline_spark.sources.tables import (
    normalize_ts,
    spread_for_cpu,
    table,
)

REGISTRY: dict[str, tuple] = {}


def q(name: str, sql: str | None):
    def deco(fn):
        REGISTRY[name] = (fn, sql)
        return fn

    return deco


# --------------------------------------------------------------------- text
# token statistics battery: whitespace tokens + BPE-ish regex tokens in one
# pass (round-1 text_token_bpe merged in to fit the driver's 50-query
# correctness window)
@q(
    "text_token_stats",
    """
    WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS w FROM documents)
    SELECT doc_id,
           len(w) AS n_tokens,
           round(len(list_distinct(w))::DOUBLE / len(w), 4) AS distinct_ratio,
           round(len(list_filter(w, x -> x IN ('the','a','of','and','to','in')))::DOUBLE
                 / len(w), 4) AS stopword_ratio,
           round(length(replace(text, ' ', ''))::DOUBLE / len(w), 4) AS avg_word_len,
           len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')) AS n_bpe_tokens
    FROM t
    """,
)
def text_token_stats(spark: SparkSession, sf: str) -> DataFrame:
    # spread the single-split scan: every output column is per-row string
    # CPU, which otherwise runs on ONE task (see spread_for_cpu)
    d = spread_for_cpu(table(spark, sf, "documents"))
    t = F.col("text")
    return d.select(
        "doc_id",
        TXT.token_count(t).alias("n_tokens"),
        TXT.distinct_token_ratio(t).alias("distinct_ratio"),
        TXT.stopword_ratio(t).alias("stopword_ratio"),
        TXT.avg_word_len(t).alias("avg_word_len"),
        TXT.bpe_token_count(t).alias("n_bpe_tokens"),
    )


# per-document profile battery: language-ID + quality score + vocabulary
# fingerprint + winnowing fingerprint, all keyed by doc_id in one driver
# row (round-2's text_lang_id / text_quality_score / text_winnow_fingerprint
# merged so the freed window slots carry the round-2 operators). EVERY
# column is row-local and rides a single scan — winnowing included: grams
# hash with a base-31 polynomial over the char-code array (bit-identical
# cross-engine, no per-gram md5 — md5-per-gram was ~50M digests at sf1,
# 41 s Spark / DuckDB DNF) and window minima are O(window) slices of the
# bound hash array, so there is no explode, no window shuffle, no join.
@q(
    "text_doc_profile",
    """
    WITH t AS (
      SELECT doc_id, text, lower(text) AS lt, string_split(text, ' ') AS w,
             replace(text, ' ', '') AS no_space
      FROM documents),
    lang AS (
      SELECT doc_id,
        CASE WHEN greatest(n_en, n_de, n_fr, n_es) = 0 THEN 'unknown'
             WHEN n_en = greatest(n_en, n_de, n_fr, n_es) THEN 'en'
             WHEN n_de = greatest(n_en, n_de, n_fr, n_es) THEN 'de'
             WHEN n_fr = greatest(n_en, n_de, n_fr, n_es) THEN 'fr'
             ELSE 'es' END AS lang_pred
      FROM (SELECT doc_id,
              len(list_filter(w, x -> x IN ('the','a','is','and'))) AS n_en,
              len(list_filter(w, x -> x IN ('der','die','das','und'))) AS n_de,
              len(list_filter(w, x -> x IN ('le','la','les','et'))) AS n_fr,
              len(list_filter(w, x -> x IN ('el','los','las','y'))) AS n_es
            FROM t)),
    m AS (
      SELECT doc_id, len(w)::DOUBLE AS n_tok,
             round((length(no_space) - length(regexp_replace(no_space, '[^A-Za-z0-9]', '', 'g')))::DOUBLE
                   / greatest(length(no_space), 1), 4) AS pr,
             round(len(list_filter(w, x -> x IN ('the','a','of','and','to','in')))::DOUBLE
                   / len(w), 4) AS sr,
             round(len(list_distinct(w))::DOUBLE / len(w), 4) AS dr
      FROM t),
    qual AS (
      SELECT m.doc_id,
             floor((0.25 * least(n_tok / 20.0, 1.0)
                   + 0.25 * (1.0 - least(pr * 5.0, 1.0))
                   + 0.25 * least(sr * 4.0, 1.0)
                   + 0.25 * dr) * 10000 + 0.5) / 10000 AS quality,
             md5(array_to_string(list_sort(list_distinct(string_split(lt, ' '))), ' '))
               AS fingerprint
      FROM m JOIN t ON t.doc_id = m.doc_id),
    g AS (SELECT doc_id,
            list_transform(string_split(lt, ''), ch -> ascii(ch)) AS c
          FROM t),
    gh AS (SELECT doc_id,
             list_transform(range(1, greatest(len(c) - 4, 1) + 1),
               i -> ((((coalesce(c[i], 0)::BIGINT * 31 + coalesce(c[i+1], 0)) * 31
                      + coalesce(c[i+2], 0)) * 31 + coalesce(c[i+3], 0)) * 31
                      + coalesce(c[i+4], 0))) AS h
           FROM g),
    winnow AS (
      SELECT doc_id,
             md5(array_to_string(list_sort(list_distinct(wins)), '')) AS winnow_fp
      FROM (SELECT doc_id,
              list_transform(range(1, greatest(len(h) - 7, 1) + 1),
                             j -> list_min(h[j:j+7])) AS wins
            FROM gh))
    SELECT q.doc_id, l.lang_pred, q.quality, q.fingerprint, wn.winnow_fp
    FROM qual q
    JOIN lang l ON l.doc_id = q.doc_id
    JOIN winnow wn ON wn.doc_id = q.doc_id
    """,
)
def text_doc_profile(spark: SparkSession, sf: str) -> DataFrame:
    # spread BEFORE the gram hashing so the per-row CPU runs in parallel
    # rather than on the single input-file partition (cores/4 target:
    # measured faster than full-cores spread at this input size — task
    # dispatch overhead dominates under ~1 MB per slice)
    d = spread_for_cpu(table(spark, sf, "documents").select("doc_id", "text"))
    # two staging selects so the code/hash arrays bind as columns: each is
    # referenced more than once downstream, which stops CollapseProject
    # from inlining the producing expression into every lambda element
    # (inlined, the gram hash would recompute the whole char array per
    # element — the O(n²) trap the round-2 explode form existed to avoid)
    staged = d.select("doc_id", "text", TXT.char_codes(F.lower(F.col("text"))).alias("__c"))
    staged = staged.select(
        "doc_id", "text", TXT.gram_code_hashes(F.col("__c"), k=5).alias("__h")
    )
    return staged.select(
        "doc_id",
        TXT.lang_predict(F.col("text")).alias("lang_pred"),
        TXT.quality_score(F.col("text")).alias("quality"),
        TXT.fingerprint(F.col("text")).alias("fingerprint"),
        TXT.winnow_fp(F.col("__h"), window=8).alias("winnow_fp"),
    )


# -------------------------------------------------------------------- dedup
@q(
    "dedup_exact",
    """
    SELECT md5(text) AS content_hash, count(*) AS n_docs, min(doc_id) AS keeper_id
    FROM documents GROUP BY md5(text)
    """,
)
def dedup_exact(spark: SparkSession, sf: str) -> DataFrame:
    return DD.exact_dedup_groups(table(spark, sf, "documents"), "doc_id", "text")


_SHINGLE_CTE = """
docs AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
sh0 AS (SELECT doc_id,
          unnest(list_transform(range(1, greatest(len(words) - 2, 0) + 1),
                                i -> array_to_string(words[i:i+2], ' '))) AS shingle
        FROM docs),
sh AS (SELECT DISTINCT doc_id AS doc, shingle FROM sh0)
"""

# exact n-gram Jaccard pairs and SimHash signatures share a driver-window
# slot as one tagged battery (dedup_text_battery below) — both stay
# hash-gated; the minhash/clusters entries keep their own rows (headline)
_NGRAM_JACCARD_SQL = f"""
    WITH {_SHINGLE_CTE},
    rare AS (SELECT shingle FROM sh GROUP BY shingle HAVING count(*) <= 100),
    shj AS (SELECT sh.doc, sh.shingle FROM sh JOIN rare USING (shingle)),
    sizes AS (SELECT doc, count(*) AS n_sh FROM sh GROUP BY doc),
    shared AS (SELECT a.doc AS doc_a, b.doc AS doc_b, count(*) AS n_shared
               FROM shj a JOIN shj b ON a.shingle = b.shingle AND a.doc < b.doc
               GROUP BY 1, 2)
    SELECT doc_a, doc_b,
           round(n_shared::DOUBLE / (sa.n_sh + sb.n_sh - n_shared), 4) AS jaccard
    FROM shared JOIN sizes sa ON sa.doc = doc_a JOIN sizes sb ON sb.doc = doc_b
    WHERE round(n_shared::DOUBLE / (sa.n_sh + sb.n_sh - n_shared), 4) >= 0.2
"""


def _ngram_jaccard(spark: SparkSession, sf: str) -> DataFrame:
    return DD.ngram_jaccard_pairs(
        table(spark, sf, "documents"), "doc_id", "text", k=3, threshold=0.2
    )


_MINHASH_SQL = f"""
WITH {_SHINGLE_CTE},
hx AS (SELECT doc, ('0x' || substr(md5(shingle), 1, 15))::BIGINT AS h1,
              ('0x' || substr(md5(shingle), 17, 15))::BIGINT AS h2
       FROM sh),
mh AS (SELECT doc, s.i AS seed, min((h1 + s.i * h2) % 999999999989) AS h
       FROM hx, generate_series(0, 5) s(i) GROUP BY doc, s.i),
sig AS (SELECT doc,
          min(CASE WHEN seed = 0 THEN h END) AS mh0,
          min(CASE WHEN seed = 1 THEN h END) AS mh1,
          min(CASE WHEN seed = 2 THEN h END) AS mh2,
          min(CASE WHEN seed = 3 THEN h END) AS mh3,
          min(CASE WHEN seed = 4 THEN h END) AS mh4,
          min(CASE WHEN seed = 5 THEN h END) AS mh5
        FROM mh GROUP BY doc),
bands AS (
  SELECT doc, 0 AS band_idx, mh0::VARCHAR || '|' || mh1::VARCHAR AS band_val FROM sig
  UNION ALL SELECT doc, 1, mh2::VARCHAR || '|' || mh3::VARCHAR FROM sig
  UNION ALL SELECT doc, 2, mh4::VARCHAR || '|' || mh5::VARCHAR FROM sig),
cand AS (SELECT DISTINCT a.doc AS doc_a, b.doc AS doc_b
         FROM bands a JOIN bands b
           ON a.band_idx = b.band_idx AND a.band_val = b.band_val AND a.doc < b.doc),
sizes AS (SELECT doc, count(*) AS n_sh FROM sh GROUP BY doc),
shared AS (SELECT a.doc AS doc_a, b.doc AS doc_b, count(*) AS n_shared
           FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc < b.doc
           GROUP BY 1, 2),
verified AS (
  SELECT s.doc_a, s.doc_b,
         round(n_shared::DOUBLE / (sa.n_sh + sb.n_sh - n_shared), 4) AS jaccard
  FROM shared s JOIN cand USING (doc_a, doc_b)
       JOIN sizes sa ON sa.doc = s.doc_a JOIN sizes sb ON sb.doc = s.doc_b)
SELECT doc_a, doc_b, jaccard FROM verified WHERE jaccard >= 0.5
"""


@q("dedup_minhash_lsh", _MINHASH_SQL)
def dedup_minhash_lsh(spark: SparkSession, sf: str) -> DataFrame:
    return DD.minhash_lsh_pairs(
        table(spark, sf, "documents"),
        "doc_id",
        "text",
        k=3,
        num_hashes=6,
        band_rows=2,
        verify_threshold=0.5,
    )


# near-dup clusters: minhash pairs -> connected components -> canonical id
@q(
    "dedup_clusters",
    f"""
    WITH RECURSIVE pairs AS ({_MINHASH_SQL}),
    edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
              UNION SELECT doc_b, doc_a FROM pairs),
    reach(src, dst) AS (
      SELECT src, dst FROM edges
      UNION
      SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
    closure AS (SELECT src, dst FROM reach UNION SELECT src, src FROM edges)
    SELECT src AS doc, min(dst) AS cluster FROM closure GROUP BY src
    """,
)
def dedup_clusters(spark: SparkSession, sf: str) -> DataFrame:
    pairs = DD.minhash_lsh_pairs(
        table(spark, sf, "documents"),
        "doc_id",
        "text",
        k=3,
        num_hashes=6,
        band_rows=2,
        verify_threshold=0.5,
    )
    return DD.connected_components(pairs)


_SIMHASH_SQL = """
    WITH tok AS (SELECT doc_id AS doc, unnest(string_split(text, ' ')) AS w FROM documents),
    h AS (SELECT doc, substring(md5(w), 1, 16) AS hh FROM tok),
    pb AS (SELECT doc, p.i AS p, b.i AS b,
             strpos('0123456789abcdef', substring(hh, p.i + 1, 1)) - 1 AS v
           FROM h, generate_series(0, 15) p(i), generate_series(0, 3) b(i)),
    votes AS (SELECT doc, p, b,
                sum(2 * ((v // CAST(power(2, b) AS INT)) % 2) - 1) AS s
              FROM pb GROUP BY doc, p, b)
    SELECT doc, string_agg(CASE WHEN s > 0 THEN '1' ELSE '0' END, ''
                           ORDER BY p * 4 + b) AS simhash
    FROM votes GROUP BY doc
"""


@q(
    "dedup_text_battery",
    f"""
    WITH jac AS ({_NGRAM_JACCARD_SQL}),
    sim AS ({_SIMHASH_SQL})
    SELECT 'jaccard' AS component, doc_a, doc_b, jaccard,
           CAST(NULL AS VARCHAR) AS simhash
    FROM jac
    UNION ALL
    SELECT 'simhash', doc, NULL, NULL, simhash FROM sim
    """,
)
def dedup_text_battery(spark: SparkSession, sf: str) -> DataFrame:
    jac = _ngram_jaccard(spark, sf).select(
        F.lit("jaccard").alias("component"),
        "doc_a",
        "doc_b",
        "jaccard",
        F.lit(None).cast("string").alias("simhash"),
    )
    sim = DD.simhash(table(spark, sf, "documents"), "doc_id", "text").select(
        F.lit("simhash").alias("component"),
        F.col("doc").alias("doc_a"),
        F.lit(None).cast("long").alias("doc_b"),
        F.lit(None).cast("double").alias("jaccard"),
        "simhash",
    )
    return jac.unionAll(sim)


# composite training-data cleaning pipeline: quality gate -> exact-dup
# canonicalization -> per-language corpus stats (the end-to-end shape a
# 100 TB pretraining-data job runs; every stage is one of the operators
# above, composed)
@q(
    "corpus_clean_pipeline",
    """
    WITH t AS (
      SELECT doc_id, text, lang, string_split(text, ' ') AS w,
             replace(text, ' ', '') AS no_space
      FROM documents),
    m AS (
      SELECT doc_id, text, lang, len(w)::DOUBLE AS n_tok,
             round((length(no_space) - length(regexp_replace(no_space, '[^A-Za-z0-9]', '', 'g')))::DOUBLE
                   / greatest(length(no_space), 1), 4) AS pr,
             round(len(list_filter(w, x -> x IN ('the','a','of','and','to','in')))::DOUBLE
                   / len(w), 4) AS sr,
             round(len(list_distinct(w))::DOUBLE / len(w), 4) AS dr
      FROM t),
    scored AS (
      SELECT doc_id, text, lang, n_tok,
             floor((0.25 * least(n_tok / 20.0, 1.0)
                   + 0.25 * (1.0 - least(pr * 5.0, 1.0))
                   + 0.25 * least(sr * 4.0, 1.0)
                   + 0.25 * dr) * 10000 + 0.5) / 10000 AS quality
      FROM m),
    kept AS (SELECT * FROM scored WHERE quality >= 0.5),
    canon AS (SELECT *, row_number() OVER (PARTITION BY md5(text)
                       ORDER BY doc_id) AS rn FROM kept)
    SELECT lang, count(*) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS total_tokens,
           floor(avg(quality) * 10000 + 0.5) / 10000 AS avg_quality
    FROM canon WHERE rn = 1 GROUP BY lang
    """,
)
def corpus_clean_pipeline(spark: SparkSession, sf: str) -> DataFrame:
    # quality_score + token_count are the heavy per-row CPU here; spread
    # the single-split scan so they parallelize (no-op on real multi-split
    # inputs — see spread_for_cpu)
    d = spread_for_cpu(table(spark, sf, "documents"))
    scored = d.select(
        "doc_id",
        "text",
        "lang",
        TXT.token_count(F.col("text")).cast("double").alias("n_tok"),
        TXT.quality_score(F.col("text")).alias("quality"),
    ).filter(F.col("quality") >= 0.5)
    # canonical row per exact-duplicate group (lowest doc_id) via min_by
    # hash-agg, NOT a window: partial aggregation combines map-side and the
    # shuffle carries (hash, slim struct) — the window form exchanged every
    # kept row WITH its full text as part of the partition sort. The anchor
    # is xxhash64 (internal, never exposed — the oracle's md5 grouping
    # forms the same groups), a long key instead of 32-char hex
    canon = (
        scored.groupBy(F.xxhash64("text").alias("__h"))
        .agg(F.min_by(F.struct("lang", "n_tok", "quality"), "doc_id").alias("c"))
        .select("c.lang", "c.n_tok", "c.quality")
    )
    return canon.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tok").cast("long").alias("total_tokens"),
        (F.floor(F.avg("quality") * 10000 + 0.5) / 10000).alias("avg_quality"),
    )


# corpus-prep battery: the operators/corpus.py stages composed the way a
# pretraining-data job runs them — deterministic stratified sample →
# benchmark n-gram decontamination (docs 0 mod 10 play the eval set) →
# data-driven token-budget mixture (fractions from the cleaned corpus's
# own per-language counts; capped at 1.0 on both engines) →
# overlapping chunking → per-language sequence packing — reduced to
# per-(lang, bin) loads so the row stays small and hash-stable. The pack
# runs the PARTITIONED path (partition_col="lang"), i.e. the 100 TB shape,
# not the allow_global_order escape hatch.
_PREP_FRACTIONS = {"en": 0.6, "de": 0.4, "es": 0.4, "fr": 0.4, "zh": 0.4}
_PREP_CASE = " ".join(
    f"WHEN '{k}' THEN {v}" for k, v in _PREP_FRACTIONS.items()
)
#: mixture stage: weights sum to exactly 1.0 so target = budget * w is the
#: literal mirrored in the oracle CASE (3000/1500/1500)
_PREP_WEIGHTS = {"en": 0.5, "de": 0.25, "zh": 0.25}
_PREP_BUDGET = 6000

@q(
    "corpus_prep_battery",
    f"""
    WITH sampled AS (
      SELECT doc_id, text, lang FROM documents
      WHERE doc_id % 10 <> 0
        AND ('0x' || substr(md5('prep' || doc_id::VARCHAR), 1, 8))::BIGINT::DOUBLE
            / 4294967296.0
            < CASE lang {_PREP_CASE} ELSE 0.0 END),
    bw AS (SELECT string_split(text, ' ') AS w FROM documents WHERE doc_id % 10 = 0),
    bench_g AS (
      SELECT DISTINCT array_to_string(w[s:s+7], ' ') AS g
      FROM bw, unnest(range(1, greatest(len(w) - 7, 0) + 1)) t(s)),
    sw AS (SELECT doc_id, string_split(text, ' ') AS w FROM sampled),
    sg AS (
      SELECT doc_id, array_to_string(w[s:s+7], ' ') AS g
      FROM sw, unnest(range(1, greatest(len(w) - 7, 0) + 1)) t(s)),
    contaminated AS (SELECT DISTINCT doc_id FROM sg JOIN bench_g USING (g)),
    clean AS (
      SELECT * FROM sampled
      WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)),
    ctoks AS (
      SELECT doc_id, lang, text,
             len(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> ''))::BIGINT AS n_tok
      FROM clean),
    avail AS (SELECT lang, sum(n_tok)::BIGINT::DOUBLE AS tok FROM ctoks GROUP BY lang),
    mixed AS (
      SELECT c.doc_id, c.text, c.lang FROM ctoks c JOIN avail a USING (lang)
      WHERE ('0x' || substr(md5('mixprep' || c.doc_id::VARCHAR), 1, 8))::BIGINT::DOUBLE
            / 4294967296.0
            < least(1.0, (CASE c.lang WHEN 'en' THEN 3000.0 WHEN 'de' THEN 1500.0
                          WHEN 'zh' THEN 1500.0 ELSE 0.0 END) / a.tok)),
    toks AS (
      SELECT doc_id, lang,
             list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS w
      FROM mixed),
    starts AS (
      SELECT doc_id, lang, len(w) AS n,
             unnest(range(1, greatest(len(w) - 1, 1) + 1, 48)) AS s
      FROM toks),
    chunks AS (
      SELECT doc_id, lang,
             row_number() OVER (PARTITION BY doc_id ORDER BY s) - 1 AS chunk_idx,
             least(64, greatest(n - s + 1, 0))::BIGINT AS n_tokens
      FROM starts),
    packed AS (
      SELECT lang, n_tokens,
             doc_id * 100000 + chunk_idx AS chunk_uid,
             ceil(greatest(sum(n_tokens) OVER (PARTITION BY lang
                    ORDER BY doc_id, chunk_idx ROWS UNBOUNDED PRECEDING), 1)
                  / 256.0)::BIGINT - 1 AS bin_id
      FROM chunks)
    SELECT lang, bin_id, count(*)::BIGINT AS n_chunks,
           sum(n_tokens)::BIGINT AS bin_tokens,
           count(DISTINCT substr(md5('7' || chunk_uid::VARCHAR), 1, 1))::BIGINT
             AS n_shard_keys,
           (SELECT sum(chk)::BIGINT FROM (
              SELECT (row_number() OVER (ORDER BY doc_id) - 1)
                     * ((doc_id * 1048576 + 7) % 97) AS chk
              FROM documents)) AS densify_chk
    FROM packed GROUP BY lang, bin_id
    """,
)
def corpus_prep_battery(spark: SparkSession, sf: str) -> DataFrame:
    from hrdp_variant_load_pipeline_spark.operators.corpus import (
        apply_mixture,
        chunk_documents,
        decontaminate,
        pack_sequences,
        plan_mixture,
        stratified_sample,
    )

    d = table(spark, sf, "documents")
    bench = d.filter(F.col("doc_id") % 10 == 0)
    src = d.filter(F.col("doc_id") % 10 != 0)
    sampled = stratified_sample(src, "lang", _PREP_FRACTIONS, id_col="doc_id", salt="prep")
    # decontaminate AFTER sampling: only surviving docs pay the shingling.
    # Pin the cleaned slice: plan_mixture's collect executes this chain
    # once and the final plan would execute it AGAIN — the r13 sf10
    # decomposition measured the sample+shingle-join chain at ~7s, paid
    # twice without the pin; the pinned slice is the sampled fraction of
    # the corpus (bounded by the mixture fractions), not the corpus
    clean = snapshot(
        decontaminate(sampled, bench, "doc_id", "text", n=8).withColumn(
            "n_tok",
            F.size(
                F.filter(F.split("text", r"\s+"), lambda t: t != "")
            ).cast("long"),
        ),
        reliable=False,
    )
    # mixture: rebalance languages to the _PREP_BUDGET token budget; the
    # fractions derive from the cleaned corpus's own per-language token
    # counts (plan_mixture collects the sources-sized aggregate), so this
    # stage is data-driven on both engines
    plan = plan_mixture(clean, "lang", "n_tok", _PREP_WEIGHTS, _PREP_BUDGET)
    mixed = apply_mixture(clean, "lang", "doc_id", plan, salt="mixprep").drop(
        "epoch", "n_tok"
    )
    # the stratum key rides through the explode row-locally (carry_cols)
    # — not a corpus-cardinality rejoin (the shape ADVICE r10 flagged)
    with_lang = chunk_documents(
        mixed, "doc_id", "text", chunk_tokens=64, overlap_tokens=16,
        carry_cols=["lang"],
    )
    packed = pack_sequences(
        with_lang.withColumn(
            "chunk_uid", F.col("doc_id") * 100000 + F.col("chunk_idx")
        ),
        id_col="doc_id",
        token_count_col="n_tokens",
        max_tokens=256,
        order_col="chunk_uid",
        partition_col="lang",
    )
    # shuffle-order component: the seeded training-shard key
    # (sources/corpus_io.shuffle_key) pinned cross-engine as the count of
    # distinct first-hex-char shard buckets each pack bin fans out to
    from hrdp_variant_load_pipeline_spark.sources.corpus_io import (
        shuffle_key,
    )

    # densify_ids full-mapping pin (r11): remap artificially-widened ids
    # (doc_id * 2^20 + 7 — the hash-minted-WARC-id shape the operator
    # exists for) and fold the whole dense<->source mapping into one
    # rank-weighted checksum the oracle states as a global-window scalar;
    # any rank misassignment shifts the sum. Broadcast onto every row.
    # The widening factor is 2^20, NOT 2^40: ANSI long multiply overflows
    # at doc_id > ~8.4M under 2^40, and the sf10 staging mints doc_ids to
    # 9.9M — 2^20 keeps the ids sparse-and-wide (the shape the pin
    # exercises) with headroom to doc_id ~ 8.8e12 (found by the r13 sf10
    # campaign run, not by review — scale bugs hide below their scale).
    from hrdp_variant_load_pipeline_spark.operators.corpus import (
        densify_ids,
    )

    den = densify_ids(
        d.select((F.col("doc_id") * F.lit(2**20) + 7).alias("doc_id")),
        "doc_id",
        partitions=8,
    )
    chk = den.agg(
        F.sum(F.col("doc_id") * (F.col("doc_id_src") % 97))
        .cast("long")
        .alias("densify_chk")
    )
    return (
        packed.groupBy("lang", "bin_id")
        .agg(
            F.count("*").alias("n_chunks"),
            F.sum("n_tokens").cast("long").alias("bin_tokens"),
            F.count_distinct(
                F.substring(shuffle_key("chunk_uid", 7), 1, 1)
            ).alias("n_shard_keys"),
        )
        .crossJoin(F.broadcast(chk))
    )


# --------------------------------------------------------------- similarity
_COS_EXPR = "dot / (sqrt(na) * sqrt(nb))"

@q(
    "embedding_cosine_topk",
    f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
    pairs AS (SELECT q.query_id, e.vec_id AS neighbor_id, q.qv, e.embedding AS cv
              FROM embeddings e, q WHERE e.vec_id <> q.query_id),
    dots AS (SELECT query_id, neighbor_id,
               sum(qv[i]::DOUBLE * cv[i]::DOUBLE) AS dot,
               sum(qv[i]::DOUBLE * qv[i]::DOUBLE) AS na,
               sum(cv[i]::DOUBLE * cv[i]::DOUBLE) AS nb
             FROM pairs, generate_series(1, 64) t(i) GROUP BY 1, 2),
    scored AS (SELECT query_id, neighbor_id, round({_COS_EXPR}, 6) AS cosine
               FROM dots WHERE na <> 0 AND nb <> 0),
    r AS (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY cosine DESC, neighbor_id) AS rank
          FROM scored)
    SELECT query_id, neighbor_id, cosine, rank FROM r WHERE rank <= 5
    """,
)
def embedding_cosine_topk(spark: SparkSession, sf: str) -> DataFrame:
    # size-gated dispatch (r14): the zip_with/aggregate JVM form below
    # 10k corpus rows (no Python-worker/Arrow startup — the r13 BLAS
    # adoption cost sf0.1 1.60x), the Arrow/BLAS batch-dot form above
    # (0.24x the JVM form at the 200k-row staged sf10). Crossover
    # recorded in BENCH_NOTES.md; both forms bit-equal.
    e = table(spark, sf, "embeddings")
    return SIM.brute_force_topk_auto(e, e.filter(F.col("vec_id") < 10), k=5)


# blocked-exact AND hyperplane-LSH near-dup as ONE tagged battery (the
# two strategies share a schema; merging them frees a driver-window slot
# for the r8 operator families while keeping BOTH hash-gated)
_NEAR_DUP_BLOCK_SQL = f"""
    WITH pairs AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                          a.embedding AS av, b.embedding AS bv
                   FROM embeddings a JOIN embeddings b
                     ON a.label = b.label AND a.vec_id < b.vec_id),
    dots AS (SELECT id_a, id_b,
               sum(av[i]::DOUBLE * bv[i]::DOUBLE) AS dot,
               sum(av[i]::DOUBLE * av[i]::DOUBLE) AS na,
               sum(bv[i]::DOUBLE * bv[i]::DOUBLE) AS nb
             FROM pairs, generate_series(1, 64) t(i) GROUP BY 1, 2)
    SELECT id_a, id_b, round({_COS_EXPR}, 6) AS cosine
    FROM dots WHERE round({_COS_EXPR}, 6) >= 0.3
"""


def _near_dup_block(spark: SparkSession, sf: str) -> DataFrame:
    return SIM.near_dup_pairs(
        table(spark, sf, "embeddings"), block_cols=["label"], threshold=0.3
    )


_IVF_COS = (
    "round(sum({a}[i]::DOUBLE * {b}[i]::DOUBLE)"
    " / (sqrt(sum({a}[i]::DOUBLE * {a}[i]::DOUBLE))"
    " * sqrt(sum({b}[i]::DOUBLE * {b}[i]::DOUBLE))), 6)"
)

@q(
    "embedding_ivf_topk",
    f"""
    WITH cents AS (SELECT vec_id AS cent_id, embedding AS cvec FROM embeddings
                   ORDER BY vec_id LIMIT 8),
    adots AS (SELECT e.vec_id AS neighbor_id, c.cent_id,
                {_IVF_COS.format(a="e.embedding", b="c.cvec")} AS cent_cos
              FROM embeddings e, cents c, generate_series(1, 64) t(i)
              GROUP BY 1, 2),
    assign AS (SELECT neighbor_id, cent_id AS bucket FROM
                 (SELECT *, row_number() OVER (PARTITION BY neighbor_id
                            ORDER BY cent_cos DESC, cent_id) AS rn FROM adots) x
               WHERE rn = 1),
    qdots AS (SELECT e.vec_id AS query_id, c.cent_id,
                {_IVF_COS.format(a="e.embedding", b="c.cvec")} AS cent_cos
              FROM embeddings e, cents c, generate_series(1, 64) t(i)
              WHERE e.vec_id < 10 GROUP BY 1, 2),
    probes AS (SELECT query_id, cent_id AS bucket FROM
                 (SELECT *, row_number() OVER (PARTITION BY query_id
                            ORDER BY cent_cos DESC, cent_id) AS rn FROM qdots) x
               WHERE rn <= 2),
    cand AS (SELECT p.query_id, a.neighbor_id FROM probes p
             JOIN assign a USING (bucket) WHERE a.neighbor_id <> p.query_id),
    scored AS (SELECT cd.query_id, cd.neighbor_id,
                 {_IVF_COS.format(a="qe.embedding", b="ce.embedding")} AS cosine
               FROM cand cd
               JOIN embeddings qe ON qe.vec_id = cd.query_id
               JOIN embeddings ce ON ce.vec_id = cd.neighbor_id,
                    generate_series(1, 64) t(i)
               GROUP BY 1, 2),
    r AS (SELECT *, row_number() OVER (PARTITION BY query_id
                    ORDER BY cosine DESC, neighbor_id) AS rank FROM scored)
    SELECT query_id, neighbor_id, cosine, rank FROM r WHERE rank <= 5
    """,
)
def embedding_ivf_topk(spark: SparkSession, sf: str) -> DataFrame:
    e = table(spark, sf, "embeddings")
    return SIM.ivf_topk(
        e, e.filter(F.col("vec_id") < 10), n_centroids=8, nprobe=2, k=5
    )


@q(
    "embedding_quantize_int8",
    """
    WITH m AS (SELECT vec_id, embedding,
                 list_max(list_transform(embedding, x -> abs(x::DOUBLE))) AS max_abs
               FROM embeddings),
    s AS (SELECT vec_id, embedding,
            CASE WHEN max_abs > 0 THEN 127.0 / max_abs ELSE 1.0 END AS scale
          FROM m)
    SELECT vec_id, round(scale, 6) AS scale,
           array_to_string(
             list_transform(embedding, x -> floor(x::DOUBLE * scale + 0.5)::INT),
             ',') AS q
    FROM s
    """,
)
def embedding_quantize_int8(spark: SparkSession, sf: str) -> DataFrame:
    # The operator's array<int> is the real storage shape; serialize it to a
    # CSV string at the query boundary so the harness' order-insensitive hash
    # (pandas sort over all columns) can canonicalize the frame.
    out = SIM.quantize_int8(table(spark, sf, "embeddings"))
    return out.withColumn("q", F.array_join(F.col("q").cast("array<string>"), ","))


# hyperplane-LSH near-dup: the plane matrix is derived driver-side from the
# seed (operators/similarity.py make_planes) and embedded as literals in
# BOTH plans, so candidate generation is cross-engine identical; verify is
# the exact cosine on candidates only — never all-pairs
_LSH_PLANE_VALUES = ",\n           ".join(
    "({}, [{}])".format(j, ", ".join(repr(p) for p in row))
    for j, row in enumerate(SIM.make_planes(n_planes=16, dim=64, seed=7))
)

_NEAR_DUP_LSH_SQL = f"""
    WITH planes AS (SELECT * FROM (VALUES
           {_LSH_PLANE_VALUES}) p(j, pv)),
    v AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS e
          FROM embeddings),
    dots AS (SELECT v.vec_id, p.j, sum(v.e[i] * p.pv[i]) AS s
             FROM v CROSS JOIN planes p, generate_series(1, 64) t(i)
             GROUP BY 1, 2),
    bk AS (SELECT vec_id, (j // 8)::BIGINT AS band_idx,
                  sum(CASE WHEN s >= 0 THEN 1::BIGINT << (j % 8) ELSE 0 END)::BIGINT AS bucket
           FROM dots GROUP BY 1, 2),
    cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
             FROM bk a JOIN bk b
               ON a.band_idx = b.band_idx AND a.bucket = b.bucket
              AND a.vec_id < b.vec_id),
    pairs AS (SELECT c.id_a, c.id_b, va.e AS av, vb.e AS bv
              FROM cand c
              JOIN v va ON va.vec_id = c.id_a
              JOIN v vb ON vb.vec_id = c.id_b),
    d2 AS (SELECT id_a, id_b,
             sum(av[i] * bv[i]) AS dot,
             sum(av[i] * av[i]) AS na,
             sum(bv[i] * bv[i]) AS nb
           FROM pairs, generate_series(1, 64) t(i) GROUP BY 1, 2)
    SELECT id_a, id_b, round(dot / (sqrt(na) * sqrt(nb)), 6) AS cosine
    FROM d2 WHERE round(dot / (sqrt(na) * sqrt(nb)), 6) >= 0.3
"""


@q(
    "embedding_near_dup",
    f"""
    WITH blk AS ({_NEAR_DUP_BLOCK_SQL}),
    lsh AS ({_NEAR_DUP_LSH_SQL})
    SELECT 'block' AS method, id_a, id_b, cosine FROM blk
    UNION ALL
    SELECT 'lsh', id_a, id_b, cosine FROM lsh
    """,
)
def embedding_near_dup(spark: SparkSession, sf: str) -> DataFrame:
    e = table(spark, sf, "embeddings")
    blk = _near_dup_block(spark, sf).select(
        F.lit("block").alias("method"), "id_a", "id_b", "cosine"
    )
    lsh = SIM.near_dup_pairs_lsh(e, threshold=0.3, dim=64).select(
        F.lit("lsh").alias("method"), "id_a", "id_b", "cosine"
    )
    return blk.unionAll(lsh)


# distributed Lloyd's k-means, fixed 2 iterations / k=4 so the whole run is
# SQL-expressible: per-iteration centroid rounding (half-up floor trick on
# both engines) pins the iteration state bit-identical, making the final
# centroids a hard cross-engine row. Output unnested to (cent_id, i, m) —
# no array columns reach the driver's canonicalizer.
_KMEANS_ITER_SQL = """
    s_{out} AS (SELECT n.vec_id, c.cent_id,
                  floor(sum(n.e[i] * c.cvec[i])
                        / (n.nrm * sqrt(sum(c.cvec[i] * c.cvec[i]))) * 1e6 + 0.5) / 1e6 AS cos
                FROM n CROSS JOIN {prev} c, generate_series(1, 64) t(i)
                GROUP BY n.vec_id, c.cent_id, n.nrm),
    a_{out} AS (SELECT vec_id, cent_id FROM
                  (SELECT vec_id, cent_id,
                          row_number() OVER (PARTITION BY vec_id
                                             ORDER BY cos DESC, cent_id) AS rn
                   FROM s_{out}) WHERE rn = 1),
    m_{out} AS (SELECT a.cent_id, t.i, floor(avg(n.e[t.i]) * 1e6 + 0.5) / 1e6 AS m
                FROM a_{out} a JOIN n USING (vec_id), generate_series(1, 64) t(i)
                GROUP BY 1, 2),
    {out} AS (SELECT p.cent_id, coalesce(l.cv, p.cvec) AS cvec
              FROM {prev} p LEFT JOIN
                   (SELECT cent_id, list(m ORDER BY i) AS cv
                    FROM m_{out} GROUP BY cent_id) l USING (cent_id))"""

@q(
    "embedding_kmeans_centroids",
    f"""
    WITH v AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS e
               FROM embeddings),
    n AS (SELECT vec_id, e,
                 sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm FROM v),
    c0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cent_id, e AS cvec
           FROM (SELECT * FROM v ORDER BY vec_id LIMIT 4)),
    {_KMEANS_ITER_SQL.format(prev="c0", out="c1")},
    {_KMEANS_ITER_SQL.format(prev="c1", out="c2")}
    SELECT cent_id, (t.i - 1)::INT AS i, c2.cvec[t.i] AS m
    FROM c2, generate_series(1, 64) t(i)
    """,
)
def embedding_kmeans_centroids(spark: SparkSession, sf: str) -> DataFrame:
    e = table(spark, sf, "embeddings")
    cents = SIM.train_centroids(
        e, n_centroids=4, n_iter=2, round_digits=6, centroid_round_digits=6
    )
    return cents.select("cent_id", F.posexplode("cvec").alias("i", "m"))


# trained-centroids ANN composition: the production path train_centroids →
# ivf_topk(centroids=...) as ONE cross-engine row. The k-means row above
# proves the trainer's centroid VALUES are engine-stable (fixed 2
# iterations, per-iteration rounding); this row proves the composed search
# — bucket assignment, probe selection, and top-k over the TRAINED
# inverted file — returns identical neighbors on both engines.
@q(
    "embedding_ann_trained",
    f"""
    WITH v AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS e
               FROM embeddings),
    n AS (SELECT vec_id, e,
                 sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm FROM v),
    c0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cent_id, e AS cvec
           FROM (SELECT * FROM v ORDER BY vec_id LIMIT 4)),
    {_KMEANS_ITER_SQL.format(prev="c0", out="c1")},
    {_KMEANS_ITER_SQL.format(prev="c1", out="c2")},
    adots AS (SELECT e.vec_id AS neighbor_id, c.cent_id,
                {_IVF_COS.format(a="e.embedding", b="c.cvec")} AS cent_cos
              FROM embeddings e, c2 c, generate_series(1, 64) t(i)
              GROUP BY 1, 2),
    assign AS (SELECT neighbor_id, cent_id AS bucket FROM
                 (SELECT *, row_number() OVER (PARTITION BY neighbor_id
                            ORDER BY cent_cos DESC, cent_id) AS rn FROM adots) x
               WHERE rn = 1),
    qdots AS (SELECT e.vec_id AS query_id, c.cent_id,
                {_IVF_COS.format(a="e.embedding", b="c.cvec")} AS cent_cos
              FROM embeddings e, c2 c, generate_series(1, 64) t(i)
              WHERE e.vec_id < 10 GROUP BY 1, 2),
    probes AS (SELECT query_id, cent_id AS bucket FROM
                 (SELECT *, row_number() OVER (PARTITION BY query_id
                            ORDER BY cent_cos DESC, cent_id) AS rn FROM qdots) x
               WHERE rn <= 2),
    cand AS (SELECT p.query_id, a.neighbor_id FROM probes p
             JOIN assign a USING (bucket) WHERE a.neighbor_id <> p.query_id),
    scored AS (SELECT cd.query_id, cd.neighbor_id,
                 {_IVF_COS.format(a="qe.embedding", b="ce.embedding")} AS cosine
               FROM cand cd
               JOIN embeddings qe ON qe.vec_id = cd.query_id
               JOIN embeddings ce ON ce.vec_id = cd.neighbor_id,
                    generate_series(1, 64) t(i)
               GROUP BY 1, 2),
    r AS (SELECT *, row_number() OVER (PARTITION BY query_id
                    ORDER BY cosine DESC, neighbor_id) AS rank FROM scored)
    SELECT query_id, neighbor_id, cosine, rank FROM r WHERE rank <= 5
    """,
)
def embedding_ann_trained(spark: SparkSession, sf: str) -> DataFrame:
    # round-11: the composed search runs through the PERSISTED index path
    # (operators/ann_store.py) — append_ivf_batch's bucket-clustered store
    # + ivf_store_topk's footer-pruned `bucket IN` probe now face the
    # DuckDB oracle directly, not just the pytest pin against ivf_topk.
    # The store is built once per embeddings fixture (atomic-rename cache
    # keyed on the source file stats) so repeated bench runs time the
    # PROBE, not the build.
    import hashlib
    import os

    from hrdp_variant_load_pipeline_spark.operators.ann_store import (
        append_ivf_batch,
        ivf_store_topk,
    )

    e = table(spark, sf, "embeddings")
    cents = SIM.train_centroids(
        e, n_centroids=4, n_iter=2, round_digits=6, centroid_round_digits=6
    )
    src = os.path.join(sf, "embeddings.parquet")
    st = os.stat(src)
    key = hashlib.md5(
        f"{os.path.realpath(src)}:{st.st_size}:{st.st_mtime_ns}:v1".encode()
    ).hexdigest()[:16]
    store = _cached_tmp_dir(
        f"graft_ann_store_{key}", lambda tmp: append_ivf_batch(e, cents, tmp)
    )
    return ivf_store_topk(
        spark,
        store,
        e.filter(F.col("vec_id") < 10),
        centroids=cents,
        nprobe=2,
        k=5,
    )


# ------------------------------------------------------------------- WARC
# WARC ingest driver gate (merged into multimodal_probe_battery to keep the
# 50-row correctness window): every document is wrapped in a deterministic
# 3-record WARC archive (warcinfo + HTTP response + conversion) whose
# response body carries BOTH framing traps from tests/test_warc.py — a
# blank line and a literal "WARC/1.0" inside the HTML — then parsed back
# through the REAL ingest chain (sources/warc.py _iter_warc_records /
# _split_http_payload, then the html_to_text operator for charset-aware
# extraction). If framing ever regressed to blank-line/magic splitting,
# every parsed column here would shear off the trap and hash-mismatch.

def _cached_tmp_dir(key: str, build) -> str:
    """Write-once /tmp fixture cache shared by the WARC fixture and the
    ANN store gate: ``build(tmp_dir)`` populates a scratch dir which is
    atomically renamed to the key-derived path; concurrent builders race
    safely (the loser cleans up its scratch). ``key`` must encode the
    CONTENT (hash of bytes / source-file stats), never a hand-bumped
    tag — a stale named cache silently serves old bytes against new
    oracle constants.

    Caches live under a per-user mode-0700 subdirectory whose ownership
    and permissions are verified before trust: on a shared host the key
    paths are predictable, and a world-writable flat /tmp layout would
    let another local user pre-create a key and feed the bench their
    bytes. A failed ``build`` removes its scratch dir before re-raising.
    """
    import os
    import shutil
    import stat
    import tempfile

    base = os.path.join(tempfile.gettempdir(), f"graft-{os.getuid()}")
    os.makedirs(base, mode=0o700, exist_ok=True)
    st = os.stat(base)
    if st.st_uid != os.getuid() or stat.S_IMODE(st.st_mode) & 0o077:
        raise RuntimeError(
            f"refusing fixture cache {base}: uid={st.st_uid} "
            f"mode={oct(stat.S_IMODE(st.st_mode))} (expected own uid, 0700)"
        )
    final = os.path.join(base, key)
    if os.path.isdir(final):
        return final
    tmp = tempfile.mkdtemp(dir=base)
    try:
        build(tmp)
    except BaseException:
        shutil.rmtree(tmp, ignore_errors=True)
        raise
    try:
        os.rename(tmp, final)
    except OSError:  # concurrent builder won the race
        shutil.rmtree(tmp, ignore_errors=True)
    return final


_WINFO_BODY = b"software: graft-crawler/1.0\r\n"
_WINFO_REC = (
    b"WARC/1.0\r\nWARC-Type: warcinfo\r\n"
    + b"Content-Length: " + str(len(_WINFO_BODY)).encode() + b"\r\n\r\n"
    + _WINFO_BODY + b"\r\n\r\n"
)
#: offset of the response record in every per-doc archive (constant: the
#: warcinfo record's total length) — stated literally in the oracle
_WARC_RESP_OFFSET = len(_WINFO_REC)

_WARC_DOC_SCHEMA = (
    "doc_id long, warc_url string, warc_status int, warc_ctype string, "
    "payload binary, warc_conv_len long, warc_n_records int, "
    "warc_resp_offset long"
)


def _warc_record(headers: list[tuple[str, str]], body: bytes) -> bytes:
    head = "WARC/1.0\r\n" + "".join(f"{k}: {v}\r\n" for k, v in headers)
    return (
        head.encode("latin-1")
        + f"Content-Length: {len(body)}\r\n\r\n".encode("latin-1")
        + body + b"\r\n\r\n"
    )


def _warc_doc_probe(docs: DataFrame) -> DataFrame:
    """(doc_id, text) -> per-doc parsed-WARC columns via the real record
    iterator; payload stays binary for the html_to_text stage."""
    import pandas as pd

    from hrdp_variant_load_pipeline_spark.sources.warc import (
        _iter_warc_records,
    )

    import re

    def batches(it):
        for pdf in it:
            rows = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                url = f"http://ex.example/{doc_id}"
                status = 404 if doc_id % 7 == 0 else 200
                raw = text or ""
                # total over ANY regenerated fixture text: HTML
                # metacharacters and control whitespace are blanked (the
                # oracle mirrors the class), the visible text is wrapped
                # in 'x' sentinels so no trim/strip semantics are in
                # play, and the latin-1 charset branch only fires for
                # ASCII text (ASCII <=> octet_length == length, which
                # the oracle can state) — non-Latin-1 text would throw
                # in encode() otherwise
                clean = re.sub(r"[<>&\t\n\r\f\v]", " ", raw)
                cs = (
                    "latin-1"
                    if doc_id % 5 == 0 and raw.isascii()
                    else "utf-8"
                )
                html = (
                    '<html><head><script>var t="WARC/1.0\r\n\r\ntrap";'
                    f"</script></head><body><p>x{clean}x</p>\r\n\r\n"
                    "<p>tail</p></body></html>"
                ).encode(cs)
                http = (
                    f"HTTP/1.1 {status} X\r\n"
                    f"Content-Type: text/html; charset={cs}\r\n"
                    "X-Crawl: graft\r\n\r\n"
                ).encode("latin-1") + html
                buf = (
                    _WINFO_REC
                    + _warc_record(
                        [
                            ("WARC-Type", "response"),
                            ("WARC-Target-URI", url),
                            ("Content-Type", "application/http; msgtype=response"),
                        ],
                        http,
                    )
                    + _warc_record(
                        [
                            ("WARC-Type", "conversion"),
                            ("WARC-Target-URI", url + "#text"),
                            ("Content-Type", "text/plain"),
                        ],
                        raw.encode("utf-8"),
                    )
                )
                recs = [
                    r
                    for r in _iter_warc_records(buf, "mem")
                    if r["record_type"] in ("response", "conversion")
                ]
                resp = next(r for r in recs if r["record_type"] == "response")
                conv = next(r for r in recs if r["record_type"] == "conversion")
                rows.append(
                    {
                        "doc_id": doc_id,
                        "warc_url": resp["url"],
                        "warc_status": resp["http_status"],
                        "warc_ctype": resp["content_type"],
                        "payload": resp["payload"],
                        "warc_conv_len": len(conv["payload"]),
                        "warc_n_records": len(recs),
                        "warc_resp_offset": resp["record_offset"],
                    }
                )
            yield pd.DataFrame(
                rows,
                columns=[f.split()[0] for f in _WARC_DOC_SCHEMA.split(", ")],
            )

    return docs.select("doc_id", "text").mapInPandas(batches, _WARC_DOC_SCHEMA)


def _warc_fixture_dir() -> str:
    """Write-once on-disk WARC fixture driving the real ``read_warc``
    binaryFile entry point (recursive glob + multi-member gzip + the
    truncated-tail member that must not kill intact leading records).
    Literal contents; the battery pins its summary to literal constants:
    3 response records, payload bytes 17+27+12=56, status sum 804."""
    import gzip as _gzip
    import hashlib
    import os

    resp = []
    for url, status, body in [
        ("http://fx.example/a", 200, b"<p>alpha beta</p>"),
        # trap body: blank line + WARC magic inside the HTML
        ("http://fx.example/b", 404, b"<p>WARC/1.0</p>\r\n\r\n<p>x</p>"),
        ("http://fx.example/c", 200, b"<p>gz ok</p>"),
        ("http://fx.example/d", 200, b"<p>never lands</p>"),
    ]:
        http = (
            f"HTTP/1.1 {status} X\r\nContent-Type: text/html\r\n\r\n"
        ).encode("latin-1") + body
        resp.append(
            _warc_record(
                [
                    ("WARC-Type", "response"),
                    ("WARC-Target-URI", url),
                    ("Content-Type", "application/http; msgtype=response"),
                ],
                http,
            )
        )
    req = _warc_record(
        [("WARC-Type", "request"), ("WARC-Target-URI", "http://fx.example/a")],
        b"GET /a HTTP/1.1\r\n\r\n",
    )
    plain = resp[0] + resp[1] + req  # request filtered by default
    # nested dir exercises the recursive glob; one gzip member PER record
    # (the standard .warc.gz layout), final member truncated mid-stream.
    # mtime=0 pins the gzip header so the content hash below is stable.
    member_c = _gzip.compress(resp[2], mtime=0)
    member_d = _gzip.compress(resp[3], mtime=0)
    gz = member_c + member_d[: len(member_d) // 2]
    # cache keyed by CONTENT, not a hand-bumped version tag: editing any
    # record body invalidates automatically (a stale named cache would
    # silently keep serving old bytes against the new oracle constants)
    key = hashlib.md5(plain + gz).hexdigest()[:16]

    def build(tmp: str) -> None:
        os.makedirs(os.path.join(tmp, "sub"), exist_ok=True)
        with open(os.path.join(tmp, "plain.warc"), "wb") as f:
            f.write(plain)
        with open(os.path.join(tmp, "sub", "crawl.warc.gz"), "wb") as f:
            f.write(gz)

    return _cached_tmp_dir(f"graft_warc_fixture_{key}", build)


# --------------------------------------------------------------- multimodal
# multimodal battery (round-2's decode_stub/audio_probe merged round 2;
# round-6 folds frame_sample in too, freeing a window slot for
# corpus_prep_battery; round-11 folds the WARC ingest gate in — see the
# WARC section above): image + audio mapInPandas probes over the same
# binary payload, plus the video frame sampler aggregated per doc (count +
# index sum keep the row per-doc and hash-stable while still running the
# explode-and-select path end to end)
@q(
    "multimodal_probe_battery",
    f"""
    WITH base AS (
      SELECT doc_id,
             octet_length(text::BLOB)::BIGINT AS byte_len,
             md5(text) AS content_md5,
             (octet_length(text::BLOB) % 640)::INT AS width,
             ((octet_length(text::BLOB) * 7) % 480)::INT AS height,
             3 AS channels,
             (8000 + (octet_length(text::BLOB) % 5) * 8000)::INT AS sample_rate,
             (octet_length(text::BLOB) * 64)::BIGINT AS n_samples,
             (octet_length(text::BLOB) * 64 * 1000)
               // (8000 + (octet_length(text::BLOB) % 5) * 8000) AS duration_ms,
             (octet_length(text::BLOB) % 60 + 1)::INT AS n_frames
      FROM documents),
    frames AS (
      SELECT doc_id, count(*)::BIGINT AS n_sampled_frames,
             sum(f.i)::BIGINT AS frame_idx_sum
      FROM base, unnest(range(0, n_frames, 5)) f(i) GROUP BY doc_id),
    warc AS (
      SELECT doc_id,
             'http://ex.example/' || doc_id AS warc_url,
             CASE WHEN doc_id % 7 = 0 THEN 404 ELSE 200 END AS warc_status,
             'text/html; charset='
               || CASE WHEN doc_id % 5 = 0
                        AND octet_length(coalesce(text, '')::BLOB)
                            = length(coalesce(text, ''))
                       THEN 'latin-1' ELSE 'utf-8' END
               AS warc_ctype,
             octet_length(coalesce(text, '')::BLOB)::BIGINT AS warc_conv_len,
             2 AS warc_n_records,
             {_WARC_RESP_OFFSET}::BIGINT AS warc_resp_offset,
             'x' || regexp_replace(coalesce(text, ''),
                                   '[<>&\t\n\r\f\v]', ' ', 'g')
                 || 'x tail' AS warc_text
      FROM documents)
    SELECT base.*, frames.n_sampled_frames, frames.frame_idx_sum,
           warc.warc_url, warc.warc_status, warc.warc_ctype,
           warc.warc_conv_len, warc.warc_n_records, warc.warc_resp_offset,
           warc.warc_text,
           3 AS wfx_n_records, 56::BIGINT AS wfx_payload_bytes,
           3::BIGINT AS wfx_url_count, 804::BIGINT AS wfx_status_sum
    FROM base JOIN frames USING (doc_id) JOIN warc USING (doc_id)
    """,
)
def multimodal_probe_battery(spark: SparkSession, sf: str) -> DataFrame:
    from hrdp_variant_load_pipeline_spark.sources.warc import (
        html_to_text,
        read_warc,
    )

    d = table(spark, sf, "documents")
    payload = MM.with_binary_payload(d, "doc_id", "text")
    img = MM.decode_image_features(payload)
    aud = MM.decode_audio_features(payload).drop("byte_len")
    with_frames = payload.select(
        "doc_id", (F.octet_length("payload") % 60 + 1).cast("int").alias("n_frames")
    )
    frames = (
        MM.frame_sample_indices(with_frames, "n_frames", every=5)
        .groupBy("doc_id", "n_frames")
        .agg(
            F.count("*").alias("n_sampled_frames"),
            F.sum("frame_idx").cast("long").alias("frame_idx_sum"),
        )
    )
    # per-doc WARC roundtrip: build → _iter_warc_records → html_to_text
    # (charset-aware, the real extraction operator)
    warc = html_to_text(
        _warc_doc_probe(spread_for_cpu(d)),
        payload_col="payload",
        out_col="warc_text",
        content_type_col="warc_ctype",
    )
    # fixed fixture through the real binaryFile entry point (read_warc):
    # recursive glob + Content-Length framing + truncated-tail gzip; the
    # 1-row summary broadcasts onto every battery row
    wfx = read_warc(spark, _warc_fixture_dir()).agg(
        F.count("*").cast("int").alias("wfx_n_records"),
        F.sum(F.octet_length("payload")).cast("long").alias("wfx_payload_bytes"),
        F.countDistinct("url").alias("wfx_url_count"),
        F.sum("http_status").cast("long").alias("wfx_status_sum"),
    )
    return (
        img.join(aud, "doc_id")
        .join(frames, "doc_id")
        .join(warc, "doc_id")
        .crossJoin(F.broadcast(wfx))
    )


# skew-treated join+agg (engine surface beside AQE skew handling): the
# r13 Zipf drill (tools/skew_drill.py, 60M rows, one key = 20%) ranked
# the treatments: eager pre-aggregation 3.97s < plain+AQE 9.5-11.2s <
# blanket salting 19.7s — for an aggregative consumer the hot key
# collapses to ONE row before the join ever sees it, so the row runs
# pre_aggregated_join (the measured winner); adaptive_salted_join is
# the treatment for NON-collapsing consumers (pytest-pinned + drill-
# measured: 9.57s, ties plain on uniform, caps the hot reducer on
# skew). Results identical to the naive join+agg by construction.
@q(
    "skew_salted_join_agg",
    """
    SELECT o.o_orderpriority, count(*) AS n,
           round(sum(l.l_extendedprice)::DOUBLE, 2) AS total
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderpriority
    """,
)
def skew_salted_join_agg(spark: SparkSession, sf: str) -> DataFrame:
    from hrdp_variant_load_pipeline_spark.operators.skew import (
        pre_aggregated_join,
    )

    li = table(spark, sf, "lineitem").select("l_orderkey", "l_extendedprice")
    o = table(spark, sf, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority"
    )
    # mode="auto": the sampled cost model picks the plain join on these
    # uniform keys (~4 rows/key — the rewrite measured −35% there at
    # sf10) and the eager rewrite wherever a hot key or a high
    # reduction factor makes it pay; below the operator's byte-size
    # gate (sub-64 MB estimated fact) the sampling job itself is
    # skipped — either plan is trivial there. finishing=True declares
    # the grain contract: the aggregates below are route-invariant
    # finishing sums, never per-key reads of the partial columns.
    joined = pre_aggregated_join(
        li, o, ["l_orderkey"], sum_cols=["l_extendedprice"], mode="auto",
        finishing=True,
    )
    return joined.groupBy("o_orderpriority").agg(
        F.sum("n_rows").cast("long").alias("n"),
        F.round(F.sum("sum_l_extendedprice"), 2).alias("total"),
    )


# adaptive_salted_join under the oracle (r13 verdict #2): the kit's
# recommended treatment for NON-collapsing consumers never faced DuckDB
# before — it was value-identity-pinned against the plain join in
# pytest only. This row manufactures a real hot key with ENGINE-PORTABLE
# arithmetic (every 5th orderkey remaps to key 1, so ~20% of fact rows
# share one key at every SF — always past the 16x-average detection
# threshold, never more than one hot key), joins through the two-path
# operator, and keeps a per-row projection so nothing collapses: both
# the salted-hot path and the plain-cold path land in the hash-compared
# result.
@q(
    "skew_adaptive_join_detail",
    """
    WITH lk AS (SELECT CASE WHEN l_orderkey % 5 = 0 THEN 1
                            ELSE l_orderkey END AS k,
                       l_orderkey, l_linenumber, l_extendedprice
                FROM lineitem WHERE l_linenumber = 1)
    SELECT lk.l_orderkey, lk.l_linenumber, o.o_orderpriority,
           round(lk.l_extendedprice::DOUBLE, 2) AS price
    FROM lk JOIN orders o ON lk.k = o.o_orderkey
    """,
)
def skew_adaptive_join_detail(spark: SparkSession, sf: str) -> DataFrame:
    from hrdp_variant_load_pipeline_spark.operators.skew import (
        adaptive_salted_join,
    )

    li = (
        table(spark, sf, "lineitem")
        .where("l_linenumber = 1")
        .select(
            F.when(F.pmod(F.col("l_orderkey"), 5) == 0, F.lit(1))
            .otherwise(F.col("l_orderkey"))
            .cast("long")
            .alias("k"),
            "l_orderkey",
            "l_linenumber",
            "l_extendedprice",
        )
    )
    o = table(spark, sf, "orders").select(
        F.col("o_orderkey").alias("k"), "o_orderpriority"
    )
    # scale-free detection: the manufactured key holds ~20% of rows at
    # every SF, so a 10% fraction threshold fires from sf0.001 to sf10
    # (the default 100k-row absolute floor would miss it below ~sf1 and
    # the row would face the oracle through the trivial plain path)
    joined = adaptive_salted_join(li, o, ["k"], salt=8, hot_threshold_frac=0.1)
    return joined.select(
        "l_orderkey",
        "l_linenumber",
        "o_orderpriority",
        F.round("l_extendedprice", 2).alias("price"),
    )


# per-user purchase-value trend: centered least-squares slope as ONE hash
# aggregate. The slope's closed form sxy/sxx equals covar_pop(x,y)/var_pop(x)
# exactly (the group count cancels), and Spark's covar_pop/var_pop use
# Welford-style shifted co-moments — numerically equivalent to the oracle's
# explicit per-group centering (epoch-seconds squared without centering
# would cancel catastrophically; the co-moment update never forms them).
# Unlike the earlier applyInPandas form, this is map-side combinable: a
# hot user straggles one partial-agg task, never one Python worker's
# memory (plan pinned UDF-free in tests/test_plan_shapes.py).
# NOT @q-registered since r15: the driver's correctness window is 50
# registration-order rows and the registry held 52 — this one-agg row
# rides iterative_ts_battery (queries_model.py) as its 'utrend'/
# 'utrend_n' components now, same oracle semantics, freeing a slot so
# every registered query keeps driver evidence.
def events_user_trend(spark: SparkSession, sf: str) -> DataFrame:
    e = (
        table(spark, sf, "events")
        .filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            (F.unix_micros("ts") / 1_000_000.0).alias("x"),
            F.col("value").alias("y"),
        )
    )
    g = e.groupBy("user_id").agg(
        F.count("*").alias("n"),
        F.covar_pop("x", "y").alias("__cxy"),
        F.var_pop("x").alias("__vx"),
    )
    # TWO-STAGE floor-round (identical in the oracle): the raw slopes
    # differ between engines in the last bits (summation order), so a
    # single floor(x*1e4+0.5) could land the two values on opposite
    # sides of a .5 boundary. Snapping to 1e-10 first makes both engines
    # bit-identical before the 1e-4 round unless the raw values straddle
    # a 1e-10 boundary — shrinking the mismatch window by ~1e6.
    pre = F.floor(F.col("__cxy") / F.col("__vx") * 1e10 + F.lit(0.5)) / 1e10
    return g.filter((F.col("n") >= 3) & (F.col("__vx") > 0)).select(
        "user_id",
        "n",
        (F.floor(pre * 10000 + F.lit(0.5)) / 10000).alias("slope"),
    )


# bucketed-store round-trip: write the dim through the bucketed catalog
# sink, read it back with the bucket spec intact, and join-aggregate
# against a probe — the oracle computes the same join directly, so a green
# row proves the write→read round-trip is lossless AND the store-side
# exchange elimination (pinned by tests/test_bucketed_store.py) returns
# correct results
@q(
    "bucketed_store_join",
    """
    SELECT p.p_brand,
           count(*)::BIGINT AS n_lines,
           round(sum(l.l_quantity)::DOUBLE, 2) AS total_qty
    FROM part p JOIN lineitem l ON l.l_partkey = p.p_partkey
    GROUP BY p.p_brand
    """,
)
def bucketed_store_join(spark: SparkSession, sf: str) -> DataFrame:
    from hrdp_variant_load_pipeline_spark.sources.sinks import (
        read_bucketed_store,
        write_bucketed_store,
    )

    # drop a previous run's table AND its location: overwrite only replaces
    # tables the CURRENT catalog knows about — an orphaned warehouse dir
    # from an earlier session fails the write with LOCATION_ALREADY_EXISTS
    spark.sql("DROP TABLE IF EXISTS store_bucketed_part")
    loc = spark.conf.get("spark.sql.warehouse.dir") + "/store_bucketed_part"
    jpath = spark._jvm.org.apache.hadoop.fs.Path(loc)
    jpath.getFileSystem(spark._jsc.hadoopConfiguration()).delete(jpath, True)

    part = table(spark, sf, "part").select("p_partkey", "p_brand")
    write_bucketed_store(
        part,
        "store_bucketed_part",
        bucket_cols=("p_partkey",),
        num_buckets=8,
        sort_cols=("p_partkey",),
    )
    store = read_bucketed_store(spark, "store_bucketed_part")
    li = table(spark, sf, "lineitem").select("l_partkey", "l_quantity")
    return (
        store.join(li, store["p_partkey"] == li["l_partkey"])
        .groupBy("p_brand")
        .agg(
            F.count("*").alias("n_lines"),
            F.round(F.sum("l_quantity"), 2).alias("total_qty"),
        )
    )


# ---------------------------------------------------------------- streaming
# Structured Streaming variant of events_tumbling_counts. Uses the file
# stream source with a memory sink, drained synchronously. The oracle is
# valid because the input is finite and the sink runs in COMPLETE mode:
# once processAllAvailable() returns, the memory table holds exactly the
# batch aggregate over the whole fixture — the same relation the batch
# twin (events_tumbling_counts) computes, here with the window start
# formatted as a string. Pinned value-equal to the batch twin in
# tests/test_streaming_batch_equivalence.py as well.
@q(
    "streaming_tumbling_counts",
    """
    SELECT strftime(make_timestamp((epoch_us(ts) // 300000000) * 300000000),
                    '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type, count(*) AS n, round(sum(value)::DOUBLE, 2) AS total
    FROM events GROUP BY 1, 2
    """,
)
def streaming_tumbling_counts(spark: SparkSession, sf: str) -> DataFrame:
    import os
    import uuid

    path = os.path.join(sf, "events.parquet")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw_schema = spark.read.parquet(path).schema  # ts arrives as long (nanos)
    # the file stream source requires a directory: stream the sf dir with a
    # glob pinned to the events table
    stream = (
        spark.readStream.schema(raw_schema)
        .format("parquet")
        .option("pathGlobFilter", "events.parquet")
        .load(sf)
    )
    stream = normalize_ts(stream)
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "5 minutes").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n",
            "total",
        )
    )
    name = f"stream_out_{uuid.uuid4().hex[:8]}"
    query = (
        agg.writeStream.outputMode("complete").format("memory").queryName(name).start()
    )
    try:
        query.processAllAvailable()
    finally:
        query.stop()
    return spark.table(name)


# arbitrary per-key state via applyInPandasWithState (§2.10 extension).
# The oracle is valid because the fixture is ONE parquet file and the file
# stream source (no maxFilesPerTrigger) ingests all available files in a
# single micro-batch: UPDATE mode then emits each user exactly once, with
# the final running total — i.e. the plain batch GROUP BY. The general
# group-state semantics (per-batch emission across many batches) stay
# covered by tests/test_streaming_batch_equivalence.py.
@q(
    "streaming_stateful_totals",
    """
    SELECT user_id, count(*) AS n_events,
           round(sum(value)::DOUBLE, 2) AS total_value
    FROM events GROUP BY user_id
    """,
)
def streaming_stateful_totals(spark: SparkSession, sf: str) -> DataFrame:
    import os
    import uuid

    from hrdp_variant_load_pipeline_spark.streaming.stateful import running_user_totals

    path = os.path.join(sf, "events.parquet")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw_schema = spark.read.parquet(path).schema
    stream = (
        spark.readStream.schema(raw_schema)
        .format("parquet")
        .option("pathGlobFilter", "events.parquet")
        .load(sf)
        .select("user_id", "value")
    )
    out = running_user_totals(stream)
    name = f"stream_state_{uuid.uuid4().hex[:8]}"
    query = (
        out.writeStream.outputMode("update").format("memory").queryName(name).start()
    )
    try:
        query.processAllAvailable()
    finally:
        query.stop()
    return spark.table(name)


# streaming exact-dedup (streaming/stateful.py dedup_stream,
# dropDuplicatesWithinWatermark); the emitted row per key is
# first-arrival-wins, so only the KEY columns are projected (the winning
# row's other fields depend on partition order). With keys-only
# projection the result IS SQL-expressible: exactly one row per distinct
# (user_id, event_type), regardless of batching or arrival order.
@q(
    "streaming_dedup_events",
    "SELECT DISTINCT user_id, event_type FROM events",
)
def streaming_dedup_events(spark: SparkSession, sf: str) -> DataFrame:
    import os
    import uuid

    from hrdp_variant_load_pipeline_spark.streaming.stateful import dedup_stream

    path = os.path.join(sf, "events.parquet")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw_schema = spark.read.parquet(path).schema
    stream = (
        spark.readStream.schema(raw_schema)
        .format("parquet")
        .option("pathGlobFilter", "events.parquet")
        .load(sf)
    )
    stream = normalize_ts(stream)
    deduped = dedup_stream(
        stream.select("user_id", "event_type", "ts"),
        keys=("user_id", "event_type"),
        event_time_col="ts",
    )
    out = deduped.select("user_id", "event_type")
    name = f"stream_dedup_{uuid.uuid4().hex[:8]}"
    query = (
        out.writeStream.outputMode("append").format("memory").queryName(name).start()
    )
    try:
        query.processAllAvailable()
    finally:
        query.stop()
    return spark.table(name)
