"""External feed as a first-class Python DataSource (S2).

`sources/fetcher.fetch_history` maps fetch *tasks* through
`mapInPandas`; this module exposes the same feed through Spark's
Python DataSource API (Spark 4+) so it composes as a reader:

    spark.dataSource.register(FeedDataSource)
    spark.read.format("fake_feed")
         .option("tickers", "AAPL,MSFT")
         .option("start", "2026-08-01").option("end", "2026-08-05")
         .load()

One InputPartition per ticker → each executor fetches its tickers
independently (the reference's serial per-ticker loop with proxy
rotation, dataAcquisition.py:36-51 / findatabase.py:128-133,
parallelized). Rate limiting sits inside `read`, per partition: the
`wait_secs` option sleeps before each feed request — the reference's
WAIT_TIME_BETWEEN_REQUESTS (constants.py:2) applied per executor-side
fetch, so a 1000-partition fan-out still honors the per-connection
budget the upstream API expects (each partition is one connection).
Filters on ticker/date could prune partitions at planning time; kept
minimal here since the fixture feed is cheap.
"""

from __future__ import annotations

import datetime as dt
import time

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)

from .fetcher import HISTORY_SCHEMA, FakeFeed


def _parse_options(options: dict) -> tuple[list[str], dt.date, dt.date, float]:
    """(tickers, start, end, wait_secs): the options both readers take.
    `start` and `end` are inclusive ISO dates."""
    tickers = options.get("tickers", "")
    if not tickers:
        raise ValueError("fake_feed requires option 'tickers' (csv list)")
    start, end = options.get("start"), options.get("end")
    if not (start and end):
        raise ValueError("fake_feed requires options 'start' and 'end'")
    return (
        [t.strip() for t in tickers.split(",") if t.strip()],
        dt.date.fromisoformat(start),
        dt.date.fromisoformat(end),
        float(options.get("wait_secs", "0")),
    )


def _history_rows(ticker: str, lo: dt.date, hi: dt.date, wait_secs: float):
    """One partition's rows: the feed's history of `ticker` over
    [lo, hi], after the reference's inter-request throttle."""
    if wait_secs:
        time.sleep(wait_secs)
    for row in FakeFeed().history(ticker, lo, hi).itertuples(index=False):
        yield (
            ticker,
            row.date_value,
            float(row.open),
            float(row.high),
            float(row.low),
            float(row.close),
        )


class FeedDataSource(DataSource):
    """Batch reader over the deterministic FakeFeed; a yfinance-backed
    variant would differ only in the feed constructed inside read().

    Also a STREAMING source (`spark.readStream.format("fake_feed")`):
    the reference's daily-refresh cadence (findatabase.py:62
    "rafraichies chaque jour" + the per-key incremental cursor,
    findatabase.py:211-222) becomes real stream offsets — each
    micro-batch ingests the next `days_per_batch` calendar days for
    every ticker, exactly-once via the engine's offset log."""

    @classmethod
    def name(cls) -> str:
        return "fake_feed"

    def schema(self) -> str:
        return HISTORY_SCHEMA

    def reader(self, schema) -> "FeedReader":
        return FeedReader(self.options)

    def streamReader(self, schema) -> "FeedStreamReader":
        return FeedStreamReader(self.options)


class FeedReader(DataSourceReader):
    def __init__(self, options: dict):
        self.tickers, self.start, self.end, self.wait_secs = _parse_options(options)

    def partitions(self) -> list[InputPartition]:
        # one partition per ticker — fetch parallelism == ticker count
        return [InputPartition(t) for t in self.tickers]

    def read(self, partition: InputPartition):
        return _history_rows(partition.value, self.start, self.end, self.wait_secs)


class FeedStreamReader(DataSourceStreamReader):
    """Micro-batch stream over the feed: offsets are calendar days.

    Offset = {"next_day": "<iso date>"} — the first day NOT yet
    ingested. Pacing lives in `latestOffset` (the only legal place: a
    `partitions()` that clamps below the engine-chosen end would mark
    skipped days as processed — data loss): a driver-side cursor
    advances at most `days_per_batch` days per trigger, never past
    `end` — `maxFilesPerTrigger`'s analog. `partitions(start, end)`
    covers exactly [start, end) with one partition per ticker, so the
    fetch fans out across executors like the batch reader. The engine's
    checkpointed offset log replays any batch deterministically — the
    FakeFeed is a pure function of (ticker, day), which is what makes
    replay exactly-once all the way to the sink. After a restart the
    fresh cursor may briefly trail the checkpoint (empty batches, no
    loss) until it catches up via the max() in _bump."""

    def __init__(self, options: dict):
        self.tickers, self.start, self.end, self.wait_secs = _parse_options(options)
        # clamp: 0/negative would pin latestOffset forever (a stream
        # that never makes progress and never finishes)
        self.days_per_batch = max(1, int(options.get("days_per_batch", "1")))
        self._cursor: dt.date | None = None

    def _bump(self, day: dt.date) -> None:
        if self._cursor is None or day > self._cursor:
            self._cursor = day

    def initialOffset(self) -> dict:
        return {"next_day": self.start.isoformat()}

    def latestOffset(self) -> dict:
        if self._cursor is None:
            self._cursor = self.start
        nxt = min(
            self._cursor + dt.timedelta(days=self.days_per_batch),
            self.end + dt.timedelta(days=1),  # bounded: end is inclusive
        )
        self._bump(nxt)
        return {"next_day": nxt.isoformat()}

    def partitions(self, start: dict, end: dict) -> list[InputPartition]:
        lo = dt.date.fromisoformat(start["next_day"])
        hi = dt.date.fromisoformat(end["next_day"])  # exclusive
        self._bump(hi)
        if hi <= lo:
            return []
        span = (lo.isoformat(), (hi - dt.timedelta(days=1)).isoformat())
        return [InputPartition((t, *span)) for t in self.tickers]

    def read(self, partition: InputPartition):
        ticker, lo, hi = partition.value
        return _history_rows(
            ticker, dt.date.fromisoformat(lo), dt.date.fromisoformat(hi), self.wait_secs
        )

    def commit(self, end: dict) -> None:
        # offsets live in the engine's checkpoint; the feed is
        # stateless — just keep the pacing cursor monotone
        self._bump(dt.date.fromisoformat(end["next_day"]))
