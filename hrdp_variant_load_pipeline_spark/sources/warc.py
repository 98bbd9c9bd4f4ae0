"""WARC (ISO 28500) raw-crawl ingest — the CommonCrawl-shaped front end
of the training-data pipeline (crawl archive → url + payload rows that
feed html_to_text → the corpus gates in operators/corpus.py).

Parsing honors each record's ``Content-Length`` header — the ONLY
correct framing. Splitting on blank lines or on the ``WARC/1.0`` magic
corrupts the stream the moment an HTML body contains either token
(real crawl bodies contain both), so no lineSep/text-scan shortcut is
taken; the tests feed bodies with exactly those traps.

Scale shape (CommonCrawl: ~90k gzip files of ~1 GB per monthly crawl):

* parallelism is PER FILE — same contract as the gzip VCF scan
  (sources/vcf.py): gzip members are unsplittable, so one task parses
  one archive file end-to-end and the cluster rides the file count
  (tens of thousands of files >> executor slots);
* the parse is an Arrow-batched ``mapInPandas`` over the
  ``binaryFile`` source — record boundaries never cross files, so no
  shuffle exists anywhere in the ingest;
* downstream restage to parquet (``write_shards`` /
  ``append_to_store``) for anything scanned twice, exactly like the
  VCF restage path.

Memory note: ``binaryFile`` materializes each file's bytes in one task
(Spark caps the source at 2 GB/file) and the parser walks that buffer
with O(record) extra space. Crawl shards are produced ~1 GB
precisely so archive-at-a-time processing fits; pathological
single-file archives should be split upstream.
"""

from __future__ import annotations

import zlib
from html.parser import HTMLParser
from typing import Iterator

from pyspark.sql import DataFrame, SparkSession, functions as F

WARC_SCHEMA = (
    "url string, warc_date string, record_type string, http_status int, "
    "content_type string, payload binary, source_file string, "
    "record_offset long"
)

_CRLF2 = b"\r\n\r\n"


def _split_http_payload(body: bytes) -> tuple[int | None, str | None, bytes]:
    """Split an HTTP response block into (status, content_type, payload).
    Malformed HTTP (no status line / no header break) degrades to the
    whole body as payload — ingest never throws on crawl garbage."""
    head_end = body.find(_CRLF2)
    if head_end < 0 or not body.startswith(b"HTTP/"):
        return None, None, body
    head = body[:head_end].decode("latin-1", "replace")
    lines = head.split("\r\n")
    status: int | None = None
    parts = lines[0].split()
    if len(parts) >= 2 and parts[1].isdigit():
        status = int(parts[1])
    ctype = None
    for line in lines[1:]:
        k, _, v = line.partition(":")
        if k.strip().lower() == "content-type":
            ctype = v.strip().lower() or None
            break
    return status, ctype, body[head_end + len(_CRLF2):]


def _iter_warc_records(
    buf: bytes, source_file: str
) -> Iterator[dict]:
    """Walk one (decompressed) WARC buffer record by record. Yields dicts
    matching WARC_SCHEMA. Tolerant: a record with a missing/garbled
    Content-Length ends the file's parse (the remaining bytes cannot be
    framed) rather than raising."""
    i = 0
    n = len(buf)
    while True:
        # skip inter-record CRLF padding
        while i < n and buf[i:i + 2] == b"\r\n":
            i += 2
        if i >= n:
            return
        offset = i
        head_end = buf.find(_CRLF2, i)
        if head_end < 0 or not buf.startswith(b"WARC/", i):
            return
        headers: dict[str, str] = {}
        head = buf[i:head_end].decode("latin-1", "replace")
        for line in head.split("\r\n")[1:]:
            k, _, v = line.partition(":")
            headers[k.strip().lower()] = v.strip()
        try:
            length = int(headers["content-length"])
        except (KeyError, ValueError):
            return
        body_start = head_end + len(_CRLF2)
        if body_start + length > n:
            return  # body cut off mid-record: never yield a short payload
        body = buf[body_start:body_start + length]
        i = body_start + length
        rtype = headers.get("warc-type", "")
        status = ctype = None
        payload = body
        if rtype == "response" and headers.get(
            "content-type", ""
        ).startswith("application/http"):
            status, ctype, payload = _split_http_payload(body)
        elif rtype in ("resource", "conversion"):
            ctype = headers.get("content-type") or None
        yield {
            "url": headers.get("warc-target-uri"),
            "warc_date": headers.get("warc-date"),
            "record_type": rtype,
            "http_status": status,
            "content_type": ctype,
            "payload": payload,
            "source_file": source_file,
            "record_offset": offset,
        }


def _maybe_gunzip(content: bytes) -> bytes:
    """Transparent multi-member gunzip (the standard .warc.gz layout is
    one gzip member PER RECORD; ``GzipFile`` concatenates members). A
    truncated or corrupt tail — crawl transfers fail mid-file — yields
    the bytes that DID decompress, so the file's intact leading records
    still ingest (found by fuzzing: GzipFile raises EOFError on a
    truncated member, which would otherwise kill the whole task)."""
    if content[:2] != b"\x1f\x8b":
        return content
    out = bytearray()
    i = 0
    n = len(content)
    view = memoryview(content)
    # member-by-member decompressobj, NOT GzipFile.read: a read() that
    # crosses from an intact member into a truncated one raises after
    # the fact and DISCARDS the chunk it had already decompressed
    while i < n and content[i:i + 2] == b"\x1f\x8b":
        d = zlib.decompressobj(wbits=31)
        try:
            out += d.decompress(view[i:])
        except zlib.error:
            break
        if not d.eof:
            break  # truncated final member: keep what decompressed
        i = n - len(d.unused_data)
    return bytes(out)


def read_warc(spark: SparkSession, path: str) -> DataFrame:
    """Read WARC archives (plain or .gz, recursive glob) into one row
    per ``response`` record (warcinfo, request, metadata and conversion
    records are skipped):

      (url, warc_date, record_type, http_status, content_type,
       payload binary, source_file, record_offset)

    Records are unwrapped: status and content-type come from the HTTP
    block and ``payload`` is the body alone.
    """
    import pandas as pd

    files = (
        spark.read.format("binaryFile")
        .option("recursiveFileLookup", "true")
        .option("pathGlobFilter", "*.warc*")
        .load(path)
        .select("path", "content")
    )
    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [f.split()[0] for f in WARC_SCHEMA.split(", ")]
        for pdf in it:
            rows = []
            for fpath, content in zip(pdf["path"], pdf["content"]):
                buf = _maybe_gunzip(bytes(content))
                for rec in _iter_warc_records(buf, fpath):
                    if rec["record_type"] == "response":
                        rows.append(rec)
            yield pd.DataFrame(rows, columns=cols)

    return files.mapInPandas(batches, WARC_SCHEMA)


class _TextExtractor(HTMLParser):
    """Visible-text extractor: drops script/style/head subtrees, keeps
    everything else's text. The stdlib stand-in for a real extraction
    library (trafilatura/justext are not in this environment); the
    Spark-side contract (signature, batching, schema) is the real one."""

    _SKIP = {"script", "style", "head", "noscript", "template"}

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.chunks: list[str] = []
        self._skip_depth = 0

    def handle_starttag(self, tag, attrs):  # noqa: D102
        if tag in self._SKIP:
            self._skip_depth += 1

    def handle_endtag(self, tag):  # noqa: D102
        if tag in self._SKIP and self._skip_depth:
            self._skip_depth -= 1

    def handle_data(self, data):  # noqa: D102
        if not self._skip_depth and data.strip():
            self.chunks.append(data.strip())


def _charset_of(content_type: str | None) -> str | None:
    """Pull ``charset=`` out of an HTTP Content-Type value; None when
    absent or unrecognizable (caller falls back to utf-8)."""
    if not content_type:
        return None
    for part in content_type.split(";")[1:]:
        k, _, v = part.partition("=")
        if k.strip().lower() == "charset":
            return v.strip().strip("\"'").lower() or None
    return None


def _extract_text(payload: bytes, charset: str | None = None) -> str:
    if charset:
        try:
            decoded = payload.decode(charset, "replace")
        except LookupError:  # bogus charset token in the crawl
            decoded = payload.decode("utf-8", "replace")
    else:
        decoded = payload.decode("utf-8", "replace")
    p = _TextExtractor()
    try:
        p.feed(decoded)
        p.close()
    except Exception:  # noqa: BLE001 — crawl HTML is adversarial by nature
        pass
    return " ".join(p.chunks)


def html_to_text(
    df: DataFrame,
    payload_col: str = "payload",
    out_col: str = "text",
    content_type_col: str | None = "content_type",
) -> DataFrame:
    """Extract visible text from an HTML ``binary`` column — Arrow-
    batched ``mapInPandas`` (the one genuinely non-columnar stage of the
    crawl front end; everything after it is codegen expressions).

    When ``content_type_col`` names a column (default: read_warc's), its
    ``charset=`` parameter drives decoding (real crawls are full of
    declared latin-1/windows-1252 pages that utf-8-replace would shred
    into U+FFFD soup); unknown/absent charsets fall back to utf-8 with
    replacement. Pass ``content_type_col=None`` to force utf-8.
    Output: input columns minus the payload, plus ``out_col``."""
    import pandas as pd

    if out_col in df.columns:
        raise ValueError(f"html_to_text: column {out_col!r} already exists")
    ct = content_type_col if content_type_col in df.columns else None
    keep = [c for c in df.columns if c != payload_col]
    fields = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in df.schema.fields
        if f.name != payload_col
    )
    schema = f"{fields}, {out_col} string" if fields else f"{out_col} string"

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = pdf[keep].copy()
            charsets = (
                [_charset_of(c) for c in pdf[ct]]
                if ct is not None
                else [None] * len(pdf)
            )
            out[out_col] = [
                _extract_text(bytes(p), cs) if p is not None else None
                for p, cs in zip(pdf[payload_col], charsets)
            ]
            yield out

    return df.mapInPandas(batches, schema)
