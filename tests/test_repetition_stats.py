"""Pre-tokenization text normalization (functions/text.py:normalize_text):
masking, case and whitespace rules, and parity with DuckDB's regexes.
"""

from __future__ import annotations

from pyspark.sql import functions as F


class TestNormalizeText:
    def _norm(self, spark, text):
        from hrdp_variant_load_pipeline_spark.functions.text import normalize_text

        df = spark.createDataFrame([(text,)], "t string")
        return df.select(normalize_text(F.col("t")).alias("n")).first().n

    def test_masks_urls_emails_and_case(self, spark):
        got = self._norm(
            spark,
            "Visit https://ex.com/a?b=1 or www.ex.org/x, mail Bob@Ex.COM now",
        )
        assert got == "visit <url> or <url> mail <email> now"
        # numbers are kept
        assert self._norm(spark, "pi is 3.14 and 1,000 items") == "pi is 3.14 and 1,000 items"

    def test_whitespace_collapse_and_trim(self, spark):
        assert self._norm(spark, "  a \t b\n\nc  ") == "a b c"

    def test_url_wins_over_embedded_email_and_number(self, spark):
        # an URL containing @ and digits masks as ONE <url>, not a mix
        got = self._norm(spark, "see https://u:p@host:8080/p?q=1 ok")
        assert got == "see <url> ok"


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
