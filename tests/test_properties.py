"""Property-based invariants (SURVEY.md §5.4) over random VCF-shaped input.

Hypothesis generates REF/ALT/position tuples (seeded, deterministic via
derandomize); invariants are checked in bulk through the engine's actual
column expressions — one Spark job per property, not one per example.
"""

from __future__ import annotations

import gzip

from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from hrdp_variant_load_pipeline_spark import schemas
from hrdp_variant_load_pipeline_spark.functions.normalize import normalize_allele
from hrdp_variant_load_pipeline_spark.plans.load import run_load
from hrdp_variant_load_pipeline_spark.sources.vcf import read_vcf

BASES = st.text(alphabet="ACGT", min_size=1, max_size=6)


def _collect_cases(n=200):
    """Materialize a deterministic batch of hypothesis examples."""
    cases = []

    @settings(max_examples=n, derandomize=True, deadline=None)
    @given(ref=BASES, alt=st.one_of(BASES, st.just("*")), pos=st.integers(1, 10_000_000),
           is_copy=st.booleans())
    def gen(ref, alt, pos, is_copy):
        cases.append((ref, ref, alt, pos, is_copy))

    gen()
    return cases


def test_normalize_invariants_bulk(spark):
    cases = _collect_cases(300)
    df = spark.createDataFrame(
        cases, "copy_ref string, orig_ref string, var string, raw_start long, is_copy boolean"
    )
    n = normalize_allele(
        F.col("copy_ref"), F.col("orig_ref"), F.col("var"), F.col("raw_start"), F.col("is_copy")
    )
    out = df.select("copy_ref", "var", "raw_start", "is_copy", n.alias("n")).select(
        "copy_ref", "var", "raw_start", "is_copy", "n.*"
    )
    bad = out.filter(
        (F.col("end_pos") < F.col("start_pos"))
        | (F.col("start_pos") < F.col("raw_start"))
        | F.col("variant_type").isNull()
        | ~F.col("variant_type").isin(
            "snv", "snp", "mnv", "insertion", "deletion", "delins"
        )
        # a deletion stores ref, never var; an insertion stores var, never ref
        | (F.col("variant_type").isin("deletion") & F.col("var_nuc").isNotNull())
        | (F.col("variant_type").isin("insertion") & F.col("ref_nuc").isNotNull())
        # padding base only appears on trimmed indel paths
        | (F.col("variant_type").isin("snv", "snp", "mnv") & F.col("padding_base").isNotNull())
    )
    rows = bad.collect()
    assert not rows, f"invariant violations: {rows[:5]}"


def test_explode_count_matches_allele_count(spark, tmp_path):
    """Each VCF line yields exactly len(split(ALT or REF, ',')) variant
    candidates after multi-allelic expansion."""
    lines = [
        "##fileformat=VCFv4.2",
        "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\tS1",
    ]
    expected = 0
    alts = ["G", "G,T", "G,T,C", "*", "AC", "A"]
    for i, alt in enumerate(alts):
        lines.append(f"chr1\t{100 + i * 10}\t.\tAC\t{alt}\t50\tPASS\t.\tGT:AD:DP\t0/1:5,5:10")
        expected += len(alt.split(","))
    vdir = tmp_path / "vcfs"
    vdir.mkdir()
    with gzip.open(vdir / "X_Y_2020_v1_PASS.vcf.gz", "wt") as f:
        f.write("\n".join(lines) + "\n")

    vcf = read_vcf(spark, str(vdir))
    genes = spark.createDataFrame([], schemas.GENE)
    samples = spark.createDataFrame(
        [(1, "S1", "U", 380, 372, None, None, None)], schemas.SAMPLE
    )
    res = run_load(
        vcf,
        genes,
        samples,
        spark.createDataFrame([], schemas.VARIANT),
        spark.createDataFrame([], schemas.VARIANT_SAMPLE_DETAIL),
        map_key=372,
        next_rgd_id=1,
    )
    assert res.all_line_variants.count() == expected


def test_load_idempotence_random_store(spark):
    """Re-matching the produced variants against themselves finds zero new
    rows for any normalized output (dedup identity is total)."""
    from hrdp_variant_load_pipeline_spark.plans.load import _dedup_against_store

    cases = _collect_cases(150)
    df = spark.createDataFrame(
        cases, "copy_ref string, orig_ref string, var string, raw_start long, is_copy boolean"
    )
    n = normalize_allele(
        F.col("copy_ref"), F.col("orig_ref"), F.col("var"), F.col("raw_start"), F.col("is_copy")
    )
    variants = (
        df.select(n.alias("n"), "raw_start", "is_copy")
        .select("n.*", "raw_start", "is_copy")
        .withColumn("rgd_id", F.monotonically_increasing_id())
        .withColumn("map_key", F.lit(372))
        .withColumn("chromosome", F.lit("1"))
        .withColumn("rs_id", F.lit(None).cast("string"))
        .dropDuplicates(["start_pos", "ref_nuc", "var_nuc"])
    )
    cand = variants.select(
        F.lit("f").alias("source_file"),
        "chromosome",
        F.col("raw_start").alias("pos"),
        F.coalesce("ref_nuc", F.lit("")).alias("ref"),
        F.coalesce("var_nuc", F.lit("")).alias("alt"),
        F.lit(0).alias("allele_idx"),
        "rs_id",
        "start_pos",
        F.col("start_pos").alias("probe_start"),
        "ref_nuc",
        "var_nuc",
        "map_key",
        "end_pos",
    )
    matched = _dedup_against_store(cand, variants)
    unmatched = matched.filter(F.col("store_rgd_id").isNull()).count()
    assert unmatched == 0


def _collect_decon_cases(n=25):
    cases = []

    @settings(max_examples=n, derandomize=True, deadline=None)
    @given(
        corpus=st.lists(
            st.lists(st.integers(min_value=0, max_value=5), min_size=0, max_size=10),
            min_size=1,
            max_size=8,
        ),
        bench=st.lists(
            st.lists(st.integers(min_value=0, max_value=5), min_size=0, max_size=10),
            min_size=0,
            max_size=3,
        ),
    )
    def gen(corpus, bench):
        cases.append((corpus, bench))

    gen()
    return cases


def _ngrams(words, n):
    return {tuple(words[i : i + n]) for i in range(len(words) - n + 1)}


def test_decontaminate_matches_bruteforce_bulk(spark):
    """decontaminate == brute force: a doc is dropped iff it shares at
    least one word n-gram with some benchmark doc. All hypothesis cases
    ride ONE Spark job: tokens are namespaced per case (c<i>w<t>) so cases
    cannot cross-contaminate inside the single corpus/benchmark pair."""
    from hrdp_variant_load_pipeline_spark.operators.corpus import decontaminate

    n = 3
    doc_rows, bench_rows, expect_kept = [], [], set()
    for ci, (corpus, bench) in enumerate(_collect_decon_cases()):
        tok = lambda t: f"c{ci}w{t}"
        bench_grams = set()
        for ws in bench:
            words = [tok(t) for t in ws]
            bench_rows.append((" ".join(words),))
            bench_grams |= _ngrams(words, n)
        for di, ws in enumerate(corpus):
            words = [tok(t) for t in ws]
            doc_id = ci * 1000 + di
            doc_rows.append((doc_id, " ".join(words)))
            if not (_ngrams(words, n) & bench_grams):
                expect_kept.add(doc_id)
    docs = spark.createDataFrame(doc_rows, "doc_id long, text string")
    bdf = (
        spark.createDataFrame(bench_rows, "text string")
        if bench_rows
        else spark.createDataFrame([], "text string")
    )
    kept = {r.doc_id for r in decontaminate(docs, bdf, "doc_id", "text", n=n).collect()}
    assert kept == expect_kept


def _collect_scd2_cases(n=12):
    cases = []

    @settings(max_examples=n, derandomize=True, deadline=None)
    @given(
        batches=st.lists(
            st.lists(
                st.tuples(
                    st.integers(min_value=1, max_value=5),   # key
                    st.sampled_from(["a", "b", "c"]),        # tracked value
                ),
                min_size=1,
                max_size=5,
                unique_by=lambda kv: kv[0],  # one update per key per batch
            ),
            min_size=1,
            max_size=5,
        )
    )
    def gen(batches):
        cases.append(batches)

    gen()
    return cases


def test_scd2_invariants_over_random_update_sequences(spark):
    """Apply random batch sequences through scd2_merge; afterwards every
    key must have exactly one open version, per-key intervals must be
    non-overlapping and contiguous, and the open value must equal the
    key's last CHANGED update."""
    from datetime import datetime

    from hrdp_variant_load_pipeline_spark.operators.upsert import scd2_merge

    for ci, batches in enumerate(_collect_scd2_cases()):
        hist = spark.createDataFrame(
            [],
            "k long, v string, effective_from timestamp, effective_to timestamp",
        )
        expected: dict[int, str] = {}
        for bi, batch in enumerate(batches):
            ts = datetime(2024, 1, 1 + bi)
            ups = spark.createDataFrame(
                [(k, v, ts) for k, v in batch], "k long, v string, batch_ts timestamp"
            )
            hist = scd2_merge(hist, ups, keys=["k"], tracked=["v"])
            for k, v in batch:
                expected[k] = v
        rows = hist.collect()
        by_key: dict[int, list] = {}
        for r in rows:
            by_key.setdefault(r["k"], []).append(r)
        assert set(by_key) == set(expected), (ci, batches)
        for k, krows in by_key.items():
            opens = [r for r in krows if r["effective_to"] is None]
            assert len(opens) == 1, (ci, k, krows)
            assert opens[0]["v"] == expected[k], (ci, k)
            closed = sorted(
                (r for r in krows if r["effective_to"] is not None),
                key=lambda r: r["effective_from"],
            )
            # contiguous, non-overlapping: each closed row ends where the
            # next version starts; the last closed row ends at the open
            # row's start
            chain = closed + [opens[0]]
            for a, b in zip(chain, chain[1:]):
                assert a["effective_to"] == b["effective_from"], (ci, k, krows)


def test_sample_n_per_group_invariants_bulk(spark):
    """Random (id, group) populations: per-group output size is exactly
    min(n, group size); output ⊆ input; determinism across invocations;
    changing the salt re-draws without changing counts."""
    from collections import Counter

    from hrdp_variant_load_pipeline_spark.operators.corpus import (
        sample_n_per_group,
    )

    cases: list[tuple[int, str]] = []

    @settings(max_examples=250, derandomize=True, deadline=None)
    @given(i=st.integers(0, 100_000), g=st.sampled_from("abcdefgh"))
    def gen(i, g):
        cases.append((i, g))

    gen()
    # hypothesis may repeat ids; dedup so ids are unique keys
    cases = list({i: g for i, g in cases}.items())
    df = spark.createDataFrame(cases, "id long, grp string")
    sizes = Counter(g for _, g in cases)
    for n in (1, 3, 50):
        got = [(r.grp, r.id) for r in sample_n_per_group(df, "grp", n, "id").collect()]
        counts = Counter(g for g, _ in got)
        assert counts == {g: min(n, c) for g, c in sizes.items() if c}
        assert set(got) <= set((g, i) for i, g in cases)
        again = [
            (r.grp, r.id) for r in sample_n_per_group(df, "grp", n, "id").collect()
        ]
        assert sorted(got) == sorted(again)
    a = {(r.grp, r.id) for r in sample_n_per_group(df, "grp", 3, "id").collect()}
    b = {(r.grp, r.id) for r in sample_n_per_group(df, "grp", 3, "id", salt="s2").collect()}
    assert Counter(g for g, _ in a) == Counter(g for g, _ in b)
    assert a != b


def test_repeated_span_dedup_invariants_bulk(spark):
    """Random low-alphabet corpora through the REAL operator, one Spark
    job: (a) each output text is a SUBSEQUENCE of its input tokens (only
    removal, order preserved); (b) a corpus with no repeated k-window is
    returned verbatim; (c) deterministic across runs."""
    from hrdp_variant_load_pipeline_spark.operators.dedup import (
        repeated_span_dedup,
    )

    corpora = []

    @settings(max_examples=40, derandomize=True, deadline=None)
    @given(
        docs=st.lists(
            st.lists(st.sampled_from("abcdef"), min_size=0, max_size=24),
            min_size=1,
            max_size=6,
        )
    )
    def gen(docs):
        corpora.append([" ".join(w) for w in docs])

    gen()

    k = 3
    rows = [
        (ci * 1000 + di, ci, text)
        for ci, corpus in enumerate(corpora)
        for di, text in enumerate(corpus)
    ]
    df = spark.createDataFrame(rows, "doc_id long, corpus int, text string")
    # per-corpus dedup in ONE frame: corpus id rides inside doc ordering,
    # but windows must not match ACROSS corpora — salt each corpus's
    # tokens so cross-corpus collisions are impossible
    salted = df.withColumn(
        "text",
        F.regexp_replace(
            F.col("text"), r"(\S+)", F.concat(F.lit("c"), F.col("corpus"), F.lit("$1"))
        ),
    )
    out1 = {
        r.doc_id: r.text
        for r in repeated_span_dedup(salted, "doc_id", "text", k=k).collect()
    }
    out2 = {
        r.doc_id: r.text
        for r in repeated_span_dedup(salted, "doc_id", "text", k=k).collect()
    }
    assert out1 == out2  # (c) determinism

    inputs = {r.doc_id: r.text for r in salted.collect()}
    from collections import Counter

    for ci, corpus in enumerate(corpora):
        # all k-windows of the salted corpus
        wins = Counter()
        for di, _ in enumerate(corpus):
            toks = inputs[ci * 1000 + di].split()
            for s in range(0, max(0, len(toks) - k + 1)):
                wins[tuple(toks[s : s + k])] += 1
        for di, _ in enumerate(corpus):
            doc_id = ci * 1000 + di
            in_toks = inputs[doc_id].split()
            out_toks = [t for t in out1[doc_id].split(" ") if t != ""]
            # (a) subsequence
            it = iter(in_toks)
            assert all(t in it for t in out_toks), (doc_id, in_toks, out_toks)
        if all(c < 2 for c in wins.values()):
            # (b) nothing repeated -> identity on every doc of the corpus
            for di, _ in enumerate(corpus):
                doc_id = ci * 1000 + di
                assert out1[doc_id] == inputs[doc_id]


def _collect_text_cases(n=150):
    cases = []

    @settings(max_examples=n, derandomize=True, deadline=None)
    @given(
        text=st.text(
            alphabet=st.characters(
                codec="utf-8", categories=("L", "N", "P", "S", "Zs")
            ),
            max_size=120,
        )
    )
    def gen(text):
        cases.append(text)

    gen()
    return cases


def test_gopher_rules_invariants_bulk(spark):
    """gopher_rules over adversarial random text (unicode letters,
    punctuation incl. regex metacharacters, symbols): no field is ever
    null (ANSI division safety), ``passes`` is exactly the conjunction
    of the seven rules, and ``n_words`` equals the whitespace token
    count — all cases in ONE Spark job."""
    from hrdp_variant_load_pipeline_spark.functions.text import gopher_rules

    rows = [(i, t) for i, t in enumerate(_collect_text_cases())]
    df = spark.createDataFrame(rows, "id long, text string")
    out = df.select(
        "id", "text", gopher_rules(F.col("text"), min_words=2).alias("g")
    )
    fields = [
        "words_ok", "avg_len_ok", "symbol_ok", "bullet_ok",
        "ellipsis_ok", "alpha_ok", "stopword_ok", "passes", "n_words",
    ]
    nulls = out.filter(
        F.greatest(*[F.col(f"g.{f}").isNull() for f in fields])
    )
    assert nulls.count() == 0
    conj = (
        F.col("g.words_ok") & F.col("g.avg_len_ok") & F.col("g.symbol_ok")
        & F.col("g.bullet_ok") & F.col("g.ellipsis_ok")
        & F.col("g.alpha_ok") & F.col("g.stopword_ok")
    )
    assert out.filter(F.col("g.passes") != conj).count() == 0
    n_words = F.size(F.filter(F.split("text", r"\s+"), lambda t: t != ""))
    assert out.filter(F.col("g.n_words") != n_words).count() == 0


def test_dsir_self_ratio_is_zero_and_partition_invariant_bulk(spark):
    """DSIR invariants over random text: (1) when target == raw every
    bucket log ratio — and therefore every doc score — is EXACTLY 0.0
    (the smoothed models coincide term-by-term); (2) buckets are always
    in [0, B); (3) scores are invariant under repartitioning (pure
    function of text, not of data layout)."""
    from hrdp_variant_load_pipeline_spark.operators.dsir import (
        bucket_logratio,
        dsir_log_weight,
        hashed_ngram_buckets,
    )

    B = 32
    rows = [(i, t) for i, t in enumerate(_collect_text_cases())]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    bad_bucket = df.select(
        F.explode(hashed_ngram_buckets(F.col("text"), B)).alias("b")
    ).filter((F.col("b") < 0) | (F.col("b") >= B))
    assert bad_bucket.count() == 0

    lr = bucket_logratio(df, df, "text", n_buckets=B)
    assert lr.count() == B
    assert lr.filter(F.col("logratio") != 0.0).count() == 0
    scored = dsir_log_weight(df, lr, "text", B)
    assert scored.filter(F.col("dsir_logw") != 0.0).count() == 0

    # partition invariance against a skewed target split
    target = df.filter(F.col("doc_id") % 3 == 0)
    lr2 = bucket_logratio(target, df, "text", n_buckets=B)
    base = {
        r["doc_id"]: r["dsir_logw"]
        for r in dsir_log_weight(df, lr2, "text", B).collect()
    }
    shuffled = {
        r["doc_id"]: r["dsir_logw"]
        for r in dsir_log_weight(df.repartition(7), lr2, "text", B).collect()
    }
    assert base == shuffled


def test_remove_pieces_rowlocal_matches_python_model(spark):
    """The removal-keyed rebuild tail (interval merge + row-local
    positional filter) against a brute-force Python model: random texts
    and random (possibly overlapping, unsorted) removal spans must yield
    exactly ' '.join(tokens whose index is covered by no span)."""
    from pyspark.sql import functions as F

    from hrdp_variant_load_pipeline_spark.operators.dedup import (
        _remove_pieces_rowlocal,
    )

    cases = []

    @settings(max_examples=60, derandomize=True, deadline=None)
    @given(
        words=st.lists(st.sampled_from("abcdef"), min_size=0, max_size=20),
        spans=st.lists(
            st.tuples(st.integers(0, 22), st.integers(0, 5)),
            min_size=0,
            max_size=8,
        ),
    )
    def gen(words, spans):
        cases.append((words, [(lo, lo + ln) for lo, ln in spans]))

    gen()

    rows = [(i, " ".join(w)) for i, (w, _) in enumerate(cases)]
    span_rows = [
        (i, lo, hi) for i, (_, spans) in enumerate(cases) for lo, hi in spans
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    spans_df = spark.createDataFrame(
        span_rows or [(-1, 0, 0)], "__doc long, __lo int, __hi int"
    )
    if not span_rows:
        spans_df = spans_df.filter(F.col("__doc") >= 0)
    pieces = F.filter(F.split(F.col("text"), r"\s+"), lambda t: t != "")
    out = {
        r.doc_id: r.text
        for r in _remove_pieces_rowlocal(
            docs, "doc_id", "text", spans_df, pieces, " "
        ).collect()
    }
    for i, (words, spans) in enumerate(cases):
        want = " ".join(
            w
            for j, w in enumerate(words)
            if not any(lo <= j <= hi for lo, hi in spans)
        )
        assert out[i] == want, (i, words, spans)


def _collect_bm25_cases(n=6):
    cases = []

    @settings(max_examples=n, deadline=None)
    @given(
        docs=st.lists(
            st.lists(st.sampled_from("abcdef"), min_size=0, max_size=12),
            min_size=1,
            max_size=8,
        ),
        terms=st.lists(
            st.sampled_from("abcz"), min_size=1, max_size=3, unique=True
        ),
    )
    def gen(docs, terms):
        cases.append((docs, terms))

    gen()
    return cases


def test_bm25_matches_bruteforce_bulk(spark):
    """bm25_scores == the textbook formula over random corpora/queries
    (incl. empty docs and a never-present query term 'z'): exact float
    match, zero iff no query term present."""
    import math

    from hrdp_variant_load_pipeline_spark.operators.vocab import bm25_scores

    k1, b = 1.2, 0.75
    for docs, terms in _collect_bm25_cases():
        rows = [(i, " ".join(ws)) for i, ws in enumerate(docs)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {
            r.doc_id: r.bm25
            for r in bm25_scores(df, "doc_id", "text", list(terms)).collect()
        }
        n = len(docs)
        avgdl = sum(len(ws) for ws in docs) / n
        for i, ws in enumerate(docs):
            want = 0.0
            for t in terms:
                tf = ws.count(t)
                dfreq = sum(1 for w in docs if t in w)
                idf = math.log(1.0 + (n - dfreq + 0.5) / (dfreq + 0.5))
                ratio = b * len(ws) / avgdl if avgdl > 0 else 0.0
                want += (
                    idf * tf * (k1 + 1.0)
                    / (tf + k1 * (1.0 - b + ratio))
                )
            assert abs(got[i] - want) < 1e-9, (i, got[i], want)
            assert (got[i] == 0.0) == all(t not in ws for t in terms)


def _collect_wws_cases():
    cases = []

    @settings(max_examples=40, deadline=None)
    @given(
        docs=st.lists(
            st.tuples(
                st.sampled_from(["en", "de", "xx"]),
                st.lists(
                    st.integers(min_value=0, max_value=6),
                    min_size=0, max_size=12,
                ),
            ),
            min_size=1,
            max_size=8,
        )
    )
    def gen(docs):
        cases.append(docs)

    gen()
    return cases


def test_word_weighted_stats_matches_bruteforce_bulk(spark):
    """word_weighted_stats == brute force over random corpora: for any
    per-word statistic, the group sums equal a direct per-doc Python
    pass — including empty docs, all-empty groups, and repeated words.
    All hypothesis cases ride ONE Spark job via case-namespaced groups
    (case index folded into the group key)."""
    from hrdp_variant_load_pipeline_spark.operators.vocab import (
        word_weighted_stats,
    )

    rows, expect = [], {}
    for ci, docs in enumerate(_collect_wws_cases()):
        for lang, toks in docs:
            g = f"c{ci}_{lang}"
            words = [f"c{ci}w{t}" for t in toks]
            rows.append((g, " ".join(words)))
            n, s = expect.get(g, (0, 0))
            expect[g] = (n + 1, s + sum(len(w) for w in words))
    df = spark.createDataFrame(rows, "g string, text string")

    def stats(words):
        return words.select("word", F.length("word").alias("n_chars"))

    got = {
        r["g"]: (r["n_docs"], r["sum_n_chars"])
        for r in word_weighted_stats(df, "text", ["g"], stats).collect()
    }
    assert set(got) == set(expect)
    for g, (n, s) in expect.items():
        assert got[g] == (n, float(s)), g
