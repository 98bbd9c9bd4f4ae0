"""WARC ingest (sources/warc.py): Content-Length framing against
embedded traps, gzip multi-member layout, record-type filtering, HTTP
unwrapping, recursive lookup, and html_to_text extraction."""

from __future__ import annotations

import gzip

import pytest
from pyspark.sql import functions as F

from hrdp_variant_load_pipeline_spark.sources.warc import (
    html_to_text,
    read_warc,
)

# bodies that would shred any blank-line or magic-token splitter: an
# HTML payload containing BOTH a blank CRLF line and the WARC magic
TRAP_HTML = (
    b"<html><head><title>t</title><script>var x = 'WARC/1.0';</script>"
    b"</head><body>\r\n\r\nreal body text WARC/1.0 inside</body></html>"
)
PLAIN_TXT = b"just plain text payload"


def _record(rtype: str, body: bytes, url: str | None = None,
            ctype: str | None = None) -> bytes:
    headers = [b"WARC/1.0", b"WARC-Type: " + rtype.encode()]
    if url:
        headers.append(b"WARC-Target-URI: " + url.encode())
    headers.append(b"WARC-Date: 2026-08-15T00:00:00Z")
    if ctype:
        headers.append(b"Content-Type: " + ctype.encode())
    headers.append(b"Content-Length: " + str(len(body)).encode())
    return b"\r\n".join(headers) + b"\r\n\r\n" + body + b"\r\n\r\n"


def _http_response(payload: bytes, status: int = 200,
                   ctype: str = "text/html; charset=utf-8") -> bytes:
    return (
        f"HTTP/1.1 {status} OK\r\nContent-Type: {ctype}\r\n"
        f"Content-Length: {len(payload)}\r\n\r\n"
    ).encode() + payload


def _archive() -> list[bytes]:
    return [
        _record("warcinfo", b"software: test\r\n", ctype="application/warc-fields"),
        _record("request", b"GET / HTTP/1.1\r\nHost: a.example\r\n\r\n",
                url="http://a.example/", ctype="application/http;msgtype=request"),
        _record("response", _http_response(TRAP_HTML),
                url="http://a.example/", ctype="application/http;msgtype=response"),
        _record("response", _http_response(PLAIN_TXT, status=404,
                                           ctype="text/plain"),
                url="http://b.example/missing", ctype="application/http;msgtype=response"),
        _record("conversion", b"already extracted text",
                url="http://c.example/", ctype="text/plain"),
    ]


@pytest.fixture(scope="module")
def warc_dir(tmp_path_factory):
    root = tmp_path_factory.mktemp("crawl")
    (root / "plain").mkdir()
    (root / "plain" / "part-0.warc").write_bytes(b"".join(_archive()))
    # standard .warc.gz: one gzip MEMBER per record, concatenated
    gz = b"".join(gzip.compress(r) for r in _archive())
    (root / "gz").mkdir()
    (root / "gz" / "part-1.warc.gz").write_bytes(gz)
    (root / "ignored.txt").write_bytes(b"not a warc")
    return str(root)


def test_response_framing_and_unwrapping(spark, warc_dir):
    rows = read_warc(spark, warc_dir).collect()
    # 2 response records per archive x 2 archives (plain + gz)
    assert len(rows) == 4
    by_key = {(r["url"], r["source_file"].split("/")[-1]): r for r in rows}
    assert len(by_key) == 4
    for fname in ("part-0.warc", "part-1.warc.gz"):
        html = by_key[("http://a.example/", fname)]
        assert html["http_status"] == 200
        assert html["content_type"].startswith("text/html")
        # Content-Length framing survived the embedded traps byte-exact
        assert bytes(html["payload"]) == TRAP_HTML
        txt = by_key[("http://b.example/missing", fname)]
        assert txt["http_status"] == 404
        assert bytes(txt["payload"]) == PLAIN_TXT
        assert txt["record_type"] == "response"
    assert all(r["warc_date"] == "2026-08-15T00:00:00Z" for r in rows)
    # offsets are distinct within a file (framing walked forward, never
    # re-read)
    vals = sorted(r["record_offset"] for r in rows if r["source_file"].endswith("part-0.warc"))
    assert len(set(vals)) == len(vals) == 2


def test_html_to_text_extraction(spark, warc_dir):
    docs = html_to_text(
        read_warc(spark, warc_dir).filter(
            F.col("content_type").startswith("text/html")
        )
    )
    assert "payload" not in docs.columns and "text" in docs.columns
    texts = [r["text"] for r in docs.collect()]
    assert len(texts) == 2
    for t in texts:
        assert "real body text WARC/1.0 inside" in t
        # script + head subtrees dropped
        assert "var x" not in t and "t" != t.split()[0]


def test_truncated_archive_degrades_without_error(spark, tmp_path):
    # a garbled Content-Length ends that FILE's parse at the bad record
    good = _record("response", _http_response(b"ok body", ctype="text/plain"),
                   url="http://good.example/", ctype="application/http;msgtype=response")
    bad = good.replace(b"Content-Length: ", b"Content-Length: x", 1)
    p = tmp_path / "broken.warc"
    p.write_bytes(good + bad)
    rows = read_warc(spark, str(tmp_path)).collect()
    assert len(rows) == 1
    assert rows[0]["url"] == "http://good.example/"


def test_parser_never_raises_on_arbitrary_bytes():
    """Fuzz the record walker driver-side (pure function): arbitrary
    byte soup — including truncated headers, bogus lengths, stray CRLFs
    and partial magic — must terminate without raising and yield only
    fully-framed records."""
    from hypothesis import given, settings, strategies as st

    from hrdp_variant_load_pipeline_spark.sources.warc import (
        _iter_warc_records,
        _maybe_gunzip,
    )

    @settings(max_examples=300, derandomize=True, deadline=None)
    @given(
        blob=st.binary(max_size=400),
        prefix=st.sampled_from(
            [b"", b"WARC/1.0\r\n", b"WARC/1.0\r\nContent-Length: 10\r\n\r\n",
             b"\r\n\r\n", b"\x1f\x8b"]
        ),
    )
    def run(blob, prefix):
        buf = prefix + blob
        for rec in _iter_warc_records(buf, "fuzz"):
            assert rec["record_offset"] >= 0
            assert isinstance(rec["payload"], bytes)
        assert isinstance(_maybe_gunzip(buf), bytes)  # salvages, never raises

    run()


def test_truncated_gzip_salvages_leading_records(spark, tmp_path):
    good = _record("response", _http_response(b"salvaged", ctype="text/plain"),
                   url="http://ok.example/", ctype="application/http;msgtype=response")
    tail = _record("response", _http_response(b"lost", ctype="text/plain"),
                   url="http://lost.example/", ctype="application/http;msgtype=response")
    blob = gzip.compress(good) + gzip.compress(tail)[:-12]  # shear the tail member
    (tmp_path / "cut.warc.gz").write_bytes(blob)
    rows = read_warc(spark, str(tmp_path)).collect()
    assert [r["url"] for r in rows] == ["http://ok.example/"]
    assert bytes(rows[0]["payload"]) == b"salvaged"


def test_declared_charset_drives_decoding(spark, tmp_path):
    # latin-1 page with declared charset: é (0xE9) must survive; the
    # same bytes utf-8-replaced would become U+FFFD
    body = "<html><body>café motif</body></html>".encode("latin-1")
    recs = _record(
        "response",
        _http_response(body, ctype="text/html; charset=ISO-8859-1"),
        url="http://l1.example/", ctype="application/http;msgtype=response",
    ) + _record(
        "response",
        _http_response(body, ctype="text/html; charset=no-such-codec"),
        url="http://bogus.example/", ctype="application/http;msgtype=response",
    )
    (tmp_path / "cs.warc").write_bytes(recs)
    docs = html_to_text(read_warc(spark, str(tmp_path)))
    got = {r["url"]: r["text"] for r in docs.collect()}
    assert got["http://l1.example/"] == "café motif"
    # bogus charset falls back to utf-8-replace, never raises
    assert "motif" in got["http://bogus.example/"]
    # content_type_col=None forces utf-8: the latin-1 byte degrades to
    # a replacement char instead of raising
    forced = html_to_text(
        read_warc(spark, str(tmp_path)), content_type_col=None
    )
    t = {r["url"]: r["text"] for r in forced.collect()}["http://l1.example/"]
    assert "�" in t and "motif" in t


def test_warc_doc_probe_total_over_adversarial_texts(spark):
    """The driver battery's per-doc WARC roundtrip must be TOTAL over any
    regenerated documents fixture: unicode (non-Latin-1) text, empty
    text, null text, and HTML metacharacters must neither throw inside
    mapInPandas nor diverge from the oracle's closed form (review r11:
    the first version encoded latin-1 unconditionally for doc_id%5==0
    and let '<' open a tag)."""
    import re

    from hrdp_variant_load_pipeline_spark.queries_ml import _warc_doc_probe
    from hrdp_variant_load_pipeline_spark.sources.warc import html_to_text

    docs = spark.createDataFrame(
        [
            (0, "plain ascii words"),          # %5==0 -> latin-1 branch
            (5, "euro € and CJK 漢"),  # %5==0 but NOT ascii -> utf-8
            (7, ""),                            # empty text, 404 branch
            (10, None),                         # null text
            (3, "a <script>alert(1)</script> & b\tc"),  # metachars + tab
        ],
        "doc_id long, text string",
    )
    out = html_to_text(
        _warc_doc_probe(docs), payload_col="payload", out_col="warc_text",
        content_type_col="warc_ctype",
    )
    rows = {r["doc_id"]: r for r in out.collect()}
    assert len(rows) == 5

    def expect_text(t):
        return "x" + re.sub(r"[<>&\t\n\r\f\v]", " ", t or "") + "x tail"

    for i, t in [(0, "plain ascii words"), (5, "euro € and CJK 漢"),
                 (7, ""), (10, None), (3, "a <script>alert(1)</script> & b\tc")]:
        assert rows[i]["warc_text"] == expect_text(t), (i, rows[i]["warc_text"])
    assert rows[0]["warc_ctype"].endswith("charset=latin-1")
    assert rows[5]["warc_ctype"].endswith("charset=utf-8")  # ascii gate
    assert rows[7]["warc_status"] == 404 and rows[7]["warc_conv_len"] == 0
    assert rows[10]["warc_conv_len"] == 0
    assert rows[5]["warc_conv_len"] == len("euro € and CJK 漢".encode())
    assert all(r["warc_n_records"] == 2 for r in rows.values())
