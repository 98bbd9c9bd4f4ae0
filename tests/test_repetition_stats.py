"""Gopher-style repetition signals (functions/text.py): duplicate n-gram
fractions and top-token concentration, hand-verified plus bulk invariants.
"""

from __future__ import annotations

import collections
import random

from pyspark.sql import functions as F

from hrdp_variant_load_pipeline_spark.functions.text import (
    dup_ngram_fraction,
    repetition_flags,
    top_token_fraction,
    word_ngrams,
)


def _one(spark, text, col):
    df = spark.createDataFrame([(text,)], "text string")
    return df.select(col.alias("v")).collect()[0]["v"]


def test_word_ngrams_and_short_docs(spark):
    assert _one(spark, "a b c d", word_ngrams(F.col("text"), 2)) == [
        "a b",
        "b c",
        "c d",
    ]
    assert _one(spark, "a", word_ngrams(F.col("text"), 2)) == []
    assert _one(spark, "", word_ngrams(F.col("text"), 2)) == []


def test_dup_ngram_fraction_hand_values(spark):
    # "a b a b a" -> bigrams [a b, b a, a b, b a]: 2 distinct of 4 -> 0.5
    assert _one(spark, "a b a b a", dup_ngram_fraction(F.col("text"), 2)) == 0.5
    # all-unique bigrams -> 0.0; doc shorter than n -> 0.0
    assert _one(spark, "a b c", dup_ngram_fraction(F.col("text"), 2)) == 0.0
    assert _one(spark, "a", dup_ngram_fraction(F.col("text"), 2)) == 0.0


def test_top_token_fraction_hand_values(spark):
    # "x x x y z": top token x is 3 of 5
    assert _one(spark, "x x x y z", top_token_fraction(F.col("text"))) == 0.6
    assert _one(spark, "a b c d", top_token_fraction(F.col("text"))) == 0.25
    assert _one(spark, "", top_token_fraction(F.col("text"))) == 0.0
    assert _one(spark, "same same same", top_token_fraction(F.col("text"))) == 1.0


def test_repetition_flags_gate(spark):
    spam = " ".join(["buy now"] * 30)  # dup bigrams + concentrated tokens
    clean = " ".join(f"w{i}" for i in range(30))
    df = spark.createDataFrame([(1, spam), (2, clean)], "id long, text string")
    out = {
        r["id"]: r["ok"]
        for r in df.select(
            "id", repetition_flags(F.col("text")).alias("ok")
        ).collect()
    }
    assert out[1] is False and out[2] is True


def test_bulk_invariants_match_python_reference(spark):
    rng = random.Random(11)
    vocab = [f"t{i}" for i in range(12)]
    docs = [
        " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 60)))
        for _ in range(200)
    ]
    df = spark.createDataFrame([(i, d) for i, d in enumerate(docs)], "id long, text string")
    got = {
        r["id"]: (r["d2"], r["top"])
        for r in df.select(
            "id",
            dup_ngram_fraction(F.col("text"), 2).alias("d2"),
            top_token_fraction(F.col("text")).alias("top"),
        ).collect()
    }
    import math

    def r4(x):  # Spark rounds HALF_UP; Python round() is banker's
        return math.floor(x * 10000 + 0.5) / 10000

    for i, d in enumerate(docs):
        toks = d.split()
        grams = [" ".join(toks[j : j + 2]) for j in range(len(toks) - 1)]
        want_d2 = r4(1 - len(set(grams)) / len(grams)) if grams else 0.0
        want_top = (
            r4(collections.Counter(toks).most_common(1)[0][1] / len(toks))
            if toks
            else 0.0
        )
        assert abs(got[i][0] - want_d2) < 1e-9, (i, d)
        assert abs(got[i][1] - want_top) < 1e-9, (i, d)


class TestNormalizeText:
    def _norm(self, spark, text, **kw):
        from hrdp_variant_load_pipeline_spark.functions.text import normalize_text

        df = spark.createDataFrame([(text,)], "t string")
        return df.select(normalize_text(F.col("t"), **kw).alias("n")).first().n

    def test_masks_urls_emails_and_case(self, spark):
        got = self._norm(
            spark,
            "Visit https://ex.com/a?b=1 or www.ex.org/x, mail Bob@Ex.COM now",
        )
        assert got == "visit <url> or <url> mail <email> now"

    def test_number_masking_opt_in(self, spark):
        text = "pi is 3.14 and 1,000 items"
        assert self._norm(spark, text) == "pi is 3.14 and 1,000 items"
        assert (
            self._norm(spark, text, mask_numbers=True)
            == "pi is <num> and <num> items"
        )

    def test_whitespace_collapse_and_trim(self, spark):
        assert self._norm(spark, "  a \t b\n\nc  ") == "a b c"

    def test_url_wins_over_embedded_email_and_number(self, spark):
        # an URL containing @ and digits masks as ONE <url>, not a mix
        got = self._norm(spark, "see https://u:p@host:8080/p?q=1 ok")
        assert got == "see <url> ok"

    def test_all_off_is_identity(self, spark):
        t = "Mixed CASE  and https://x.y 42"
        got = self._norm(
            spark,
            t,
            lowercase=False,
            mask_urls=False,
            mask_emails=False,
            mask_numbers=False,
            collapse_whitespace=False,
        )
        assert got == t


def test_normalize_text_matches_duckdb(spark):
    """Cross-engine parity of the masking chain (URL -> email -> lower ->
    whitespace collapse) on adversarial rows — the regexes must mean the
    same thing in Java and RE2."""
    import duckdb

    from hrdp_variant_load_pipeline_spark.functions.text import (
        EMAIL_RE,
        URL_RE,
        normalize_text,
    )

    rows = [
        ("Visit https://Ex.com/A?b=1#f and www.site.org/x now",),
        ("mail A.B-c_9@Sub.Ex.CO.uk or root@host.io!",),
        ("  MiXeD   Case\twith\n\nruns  ",),
        ("https://u:p@h:1/q?a=b plus plain@ex.com trailing",),
        ("no masks here at all",),
    ]
    df = spark.createDataFrame(rows, "t string")
    got = [
        r.n for r in df.select(normalize_text(F.col("t")).alias("n")).collect()
    ]
    con = duckdb.connect()
    want = [
        con.execute(
            """
            SELECT trim(regexp_replace(lower(
                     regexp_replace(regexp_replace(?, ?, '<url>', 'g'),
                                    ?, '<email>', 'g')),
                   '\\s+', ' ', 'g'))
            """,
            [t, URL_RE, EMAIL_RE],
        ).fetchone()[0]
        for (t,) in rows
    ]
    assert got == want


def test_normalize_text_masks_uppercase_urls_and_emails(spark):
    """Regression: masking runs BEFORE lowercasing, so the patterns must
    be case-insensitive — uppercase schemes used to escape."""
    from hrdp_variant_load_pipeline_spark.functions.text import normalize_text

    df = spark.createDataFrame(
        [("Visit WWW.FOO.COM or HTTP://X.COM/a mail BOB@EX.COM",)], "t string"
    )
    got = df.select(normalize_text(F.col("t")).alias("n")).first().n
    assert got == "visit <url> or <url> mail <email>"


def test_compression_ratio_separates_spam_noise_prose(spark):
    from hrdp_variant_load_pipeline_spark.functions.text import (
        compression_ratio,
    )
    import random

    rng = random.Random(7)
    noise = " ".join(
        "".join(rng.choice("abcdefghijklmnopqrstuvwxyz0123456789") for _ in range(8))
        for _ in range(60)
    )
    docs = spark.createDataFrame(
        [
            (1, "buy now " * 200),                       # looped spam
            (2, noise),                                  # incompressible
            (3, "the quick brown fox jumps over the lazy dog and keeps "
                "running through the quiet field toward the river " * 4),
            (4, ""),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r.compression_ratio for r in compression_ratio(docs, "text").collect()}
    assert out[1] < 0.1            # spam compresses to almost nothing
    assert out[2] > 0.6            # noise barely compresses
    assert out[1] < out[3] < out[2]  # prose sits between
    assert out[4] is None
    # row-local: no exchange in the plan
    plan = (
        compression_ratio(docs, "text")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan
