"""Web-archive ingest queries — the Common Crawl seam of the
LLM-pipeline tier (operators/warc.py).

The fixture tables carry no crawl payloads, so — exactly like the
media-codec queries (plans/multimodal.py) — each query DETERMINISTICALLY
wraps the documents table into real WARC bytes inside the kernel
(HTML page → HTTP response → WARC record → per-record gzip member),
then runs the honest ingest path back: gzip-member walk → WARC header
parse → HTTP split → stdlib-HTML text extraction.  The DuckDB oracles
rebuild the expected outputs arithmetically from the same documents
rows (the fixture text is pure ASCII with no markup characters, so
HTML-escaping is the identity and every length is computable in SQL),
which certifies byte-exact header formatting and loss-free text
extraction — a broken Content-Length, a mis-split HTTP head, or an
extractor that mangles one character each flip a count or a sum.

Scale shape: WARC payload bytes are built and consumed inside ONE
Arrow-batched mapInPandas kernel per query — payloads never shuffle;
only (host, chars, counts) leave the kernel.  On a real crawl the same
kernel runs over `binaryFile`-scanned .warc.gz objects; the per-record
gzip-member layout means split boundaries land between members.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load
from ..operators.rows import map_rows
from .registry import query

#: page template (ASCII; fixture text has no &<>"' so escape == id)
_HTML_PREFIX = "<html><head><title>"
_HTML_MID = "</title><style>p{margin:0}</style></head><body><h1>"
_HTML_MID2 = "</h1><p>"
_HTML_SUFFIX = "</p><script>var x=1;</script></body></html>"


def _page_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load(spark, sf_dir)
    return t.documents.select("doc_id", "source", "text")


def _warc_rows(emit):
    """Row function over (doc_id, source, text): wrap the document in
    real WARC bytes, parse them back and yield what
    `emit(row_dict, records)` yields."""

    def row(doc_id, source, text):
        import html as _html

        from ..operators.warc import (
            build_http_request,
            build_http_response,
            parse_warc,
            write_warc,
            write_warc_record,
        )

        host = f"{source}.example.com"
        uri = f"https://{host}/{doc_id}"
        title = f"doc {doc_id}"
        page = (
            _HTML_PREFIX
            + title
            + _HTML_MID
            + title
            + _HTML_MID2
            + _html.escape(text, quote=False)
            + _HTML_SUFFIX
        )
        req = write_warc_record(
            "request",
            build_http_request(f"/{doc_id}", host),
            uri=uri,
            content_type="application/http; msgtype=request",
        )
        resp = write_warc_record(
            "response",
            build_http_response(page.encode("utf-8")),
            uri=uri,
        )
        warc = write_warc([req, resp], gzip_members=True)
        yield from emit(
            {
                "doc_id": int(doc_id),
                "source": source,
                "text": text,
                "host": host,
                "uri": uri,
                "title": title,
            },
            list(parse_warc(warc)),
        )

    return row


@query(
    "warc_html_extraction",
    # expected extraction: title == 'doc <id>', body text == title
    # (the h1) + the original text verbatim (entities resolved).  One
    # mangled character anywhere in the WARC/HTTP/HTML round trip
    # drops n_extract_ok below n_docs and shifts body_chars.
    oracle="""
    SELECT source || '.example.com' AS host,
           count(*) AS n_docs,
           count(*) AS n_extract_ok,
           CAST(sum(length('doc ' || doc_id) + length(text)) AS BIGINT)
               AS body_chars
    FROM documents
    GROUP BY source
    """,
    tags=("warc", "ingest", "html"),
)
def warc_html_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl ingest parity: build real per-record-gzipped WARC bytes
    around every document, run the full read path (gzip members →
    WARC headers → HTTP split → HTMLParser text extraction), and
    prove per host that every page round-trips loss-free."""
    return html_extraction_report(
        _page_rows(spark, sf_dir).repartition("source")
    )


def html_extraction_report(docs: DataFrame) -> DataFrame:
    """The extraction pipeline over any ``(doc_id, source, text)``
    frame — batch or streaming (the kernel is stateless per batch, so
    the same graph runs under a complete-mode streaming aggregate;
    parity with the batch answer is pinned in
    tests/test_streaming.py)."""

    def emit(row, records):
        from urllib.parse import urlparse

        from ..operators.warc import extract_html_text, split_http_response

        resp = next(r for r in records if r["type"] == "response")
        status, headers, body = split_http_response(resp["block"])
        title, text = extract_html_text(body.decode("utf-8"))
        ok = (
            status == 200
            and headers.get("content-type", "").startswith("text/html")
            and title == row["title"]
            and text == row["title"] + row["text"]
            and urlparse(resp["uri"]).hostname == row["host"]
        )
        yield urlparse(resp["uri"]).hostname, 1, int(ok), len(text)

    rows = map_rows(
        docs,
        "host string, n_docs long, n_extract_ok long, body_chars long",
        _warc_rows(emit),
    )
    return rows.groupBy("host").agg(
        F.sum("n_docs").alias("n_docs"),
        F.sum("n_extract_ok").alias("n_extract_ok"),
        F.sum("body_chars").alias("body_chars"),
    )


@query(
    "warc_record_census",
    # block sizes rebuilt arithmetically: the oracle constructs the
    # SAME HTTP request/response strings and sums their lengths, so a
    # single formatting drift (status line, header order, CRLF count,
    # Content-Length digits) breaks the byte totals.
    oracle="""
    WITH d AS (
        SELECT doc_id, source,
               '<html><head><title>doc ' || doc_id ||
               '</title><style>p{margin:0}</style></head><body><h1>doc '
               || doc_id || '</h1><p>' || text ||
               '</p><script>var x=1;</script></body></html>' AS page
        FROM documents
    ),
    blocks AS (
        SELECT
            length('GET /' || doc_id || ' HTTP/1.1' || chr(13) || chr(10)
                   || 'Host: ' || source || '.example.com'
                   || chr(13) || chr(10) || chr(13) || chr(10))
                AS req_bytes,
            length('HTTP/1.1 200 OK' || chr(13) || chr(10)
                   || 'Content-Type: text/html; charset=utf-8'
                   || chr(13) || chr(10)
                   || 'Content-Length: ' || length(page)
                   || chr(13) || chr(10) || chr(13) || chr(10))
                + length(page) AS resp_bytes
        FROM d
    )
    SELECT 'request' AS rtype, count(*) AS n_records,
           CAST(sum(req_bytes) AS BIGINT) AS block_bytes FROM blocks
    UNION ALL
    SELECT 'response', count(*), CAST(sum(resp_bytes) AS BIGINT)
    FROM blocks
    """,
    tags=("warc", "ingest", "census"),
)
def warc_record_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Record-type census over the parsed archive: per WARC-Type,
    record count and total content-block bytes (as DECLARED by
    Content-Length and as delivered — the parser enforces both)."""

    def emit(row, records):
        for r in records:
            yield r["type"], 1, len(r["block"])

    rows = map_rows(
        _page_rows(spark, sf_dir).repartition("source"),
        "rtype string, n_records long, block_bytes long",
        _warc_rows(emit),
    )
    return rows.groupBy("rtype").agg(
        F.sum("n_records").alias("n_records"),
        F.sum("block_bytes").alias("block_bytes"),
    )
