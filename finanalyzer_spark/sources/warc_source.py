"""WARC file source — the production entry for crawl ingest.

`read_warc` scans .warc / .warc.gz files with Spark's `binaryFile`
source (one task per archive file — the right grain for the Common
Crawl layout, which ships ~1 GB archives precisely so that
file-per-task parallelism works without byte-range splitting) and
explodes each archive into WARC records via operators/warc.parse_warc
inside one Arrow kernel.  `read_warc_pages` goes one step further to
the (url, status, html) page table a curation pipeline starts from.

Payload bytes stay inside the kernel partition — only the requested
columns leave it; nothing shuffles archive bytes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..operators.rows import map_rows


def read_warc(spark: SparkSession, path: str) -> DataFrame:
    """(archive, record_no, rtype, uri, date, content_type, block)
    for every record of every WARC file under `path`."""
    files = spark.read.format("binaryFile").load(path)

    def explode_records(fpath, content):
        from ..operators.warc import parse_warc

        for i, rec in enumerate(parse_warc(bytes(content))):
            yield (
                fpath, i, rec["type"], rec["uri"], rec["date"],
                rec["content_type"], rec["block"],
            )

    return map_rows(
        files.select("path", "content"),
        "archive string, record_no long, rtype string, uri string,"
        " date string, content_type string, block binary",
        explode_records,
    )


def read_warc_pages(spark: SparkSession, path: str) -> DataFrame:
    """(archive, uri, status, title, text) for every HTML response
    record — the page table curation starts from.  Non-HTML responses
    and non-response records are dropped in the kernel."""
    files = spark.read.format("binaryFile").load(path)

    def extract_pages(fpath, content):
        from ..operators.warc import (
            extract_html_text,
            parse_warc,
            split_http_response,
        )

        for rec in parse_warc(bytes(content)):
            if rec["type"] != "response":
                continue
            try:
                status, headers, body = split_http_response(rec["block"])
            except ValueError:
                continue
            if not headers.get("content-type", "").startswith("text/html"):
                continue
            title, text = extract_html_text(
                body.decode("utf-8", errors="replace")
            )
            yield fpath, rec["uri"], status, title, text

    return map_rows(
        files.select("path", "content"),
        "archive string, uri string, status int, title string,"
        " text string",
        extract_pages,
    )
