"""External-feed fetch kernel — S2/S3.

Reference: receive_history / receive_info pull per-ticker OHLC frames
and fundamentals rows from the yfinance HTTP API, serially, with rate
limiting and proxy rotation (finanalyzer/database/dataAcquisition.py:36-67,
findatabase.py:128-133). Missing fundamentals coerce to 0, never NULL
(dataAcquisition.py:59-66).

Spark-first: the fetch is a `mapInPandas` kernel over a frame of
(ticker, start_date) fetch tasks — every ticker fetches IN PARALLEL
across executors instead of the reference's serial N+1 loop. The feed
itself is injected: `FakeFeed` (deterministic synthetic OHLC, used by
all tests — nothing touches the network) or a yfinance-backed feed
gated behind an import-try. Rate limiting stays inside the kernel
(per-task token sleep), exactly where the reference kept it.
"""

from __future__ import annotations

import datetime as dt
import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

HISTORY_SCHEMA = (
    "ticker string, date_value string, open double, high double, "
    "low double, close double"
)

#: the 44 fundamentals columns of the reference's financialData table
#: (sqlrequests.sql:58-145) — kept as a short representative subset plus
#: the full list for schema completeness.
FUNDAMENTALS = (
    "averageVolume beta bid bidSize bookValue currentPrice currentRatio "
    "dayHigh dayLow dividendRate dividendYield earningsGrowth "
    "earningsQuarterlyGrowth ebitda ebitdaMargins enterpriseValue "
    "fiftyDayAverage fiftyTwoWeekHigh fiftyTwoWeekLow forwardEps forwardPE "
    "freeCashflow grossProfits grossMargins marketCap numberOfAnalystOpinions "
    "operatingCashflow payoutRatio pegRatio priceToBook profitMargins "
    "quickRatio regularMarketPrice regularMarketVolume returnOnAssets "
    "returnOnEquity revenuePerShare sharesShort shortRatio totalCashPerShare "
    "totalDebt totalRevenue volume twoHundredDayAverage"
).split()

INFO_SCHEMA = "ticker string, date_value string, " + ", ".join(
    f"{c} double" for c in FUNDAMENTALS
)


class FakeFeed:
    """Deterministic synthetic feed — the test stand-in for yfinance.

    Prices are a pure function of (ticker, date): close =
    100 + (md5(ticker:date) % 10000)/100, OHLC derived from it. Missing
    data is simulated for tickers starting with 'MISSING' (returns
    empty frames → exercises check_exists semantics)."""

    @staticmethod
    def _px(ticker: str, day: dt.date, salt: str = "") -> float:
        h = hashlib.md5(f"{ticker}:{day.isoformat()}:{salt}".encode()).hexdigest()
        return 100.0 + (int(h[:8], 16) % 10000) / 100.0

    def history(self, ticker: str, start: dt.date, end: dt.date) -> pd.DataFrame:
        if ticker.startswith("MISSING") or start > end:
            return pd.DataFrame(
                columns=["date_value", "open", "high", "low", "close"]
            )
        days = pd.date_range(start, end, freq="D")
        rows = []
        for d in days:
            day = d.date()
            close = self._px(ticker, day)
            o = self._px(ticker, day, "o")
            rows.append(
                {
                    "date_value": day.isoformat(),
                    "open": o,
                    "high": max(o, close) + 1.0,
                    "low": min(o, close) - 1.0,
                    "close": close,
                }
            )
        return pd.DataFrame(rows)

    def info(self, ticker: str, day: dt.date) -> dict[str, float]:
        if ticker.startswith("MISSING"):
            return {}
        out = {}
        for i, c in enumerate(FUNDAMENTALS):
            # simulate sparse feeds: every 7th field absent → caller
            # coerces to 0 (reference dataAcquisition.py:59-66)
            if (i + len(ticker)) % 7 == 0:
                continue
            out[c] = self._px(ticker, day, c)
        return out


#: reference operational constants (constants.py:2,13) — zero wait and
#: rotate-every-600 are the reference's shipped defaults
WAIT_TIME_BETWEEN_REQUESTS = 0.0
MAX_REQUESTS_BEFORE_PROXY_CHANGE = 600


class YFinanceFeed:
    """yfinance-backed feed (reference dataAcquisition.py:36-67) with
    the same duck-typed interface as FakeFeed, so the fetch kernels
    take either interchangeably.

    Operational parity with the reference:

    * inter-request throttle — `wait_secs` sleeps before each HTTP
      call, like WAIT_TIME_BETWEEN_REQUESTS around every yf request
      (dataAcquisition.py:44-46, constants.py:2);
    * proxy rotation — when a `proxy_provider` callable is given, its
      proxy is passed to every history call and refreshed every
      `rotate_every` requests, reproducing Findatabase.request_count
      (findatabase.py:128-133, constants.py:13; proxy sourcing itself —
      the reference uses FreeProxy — stays behind the provider).

    The yfinance module is injectable for unit testing (a mock module
    exercises the full mapping without the package or the network);
    `yfinance_feed()` builds the real one when the package exists.
    """

    def __init__(
        self,
        module=None,
        wait_secs: float = WAIT_TIME_BETWEEN_REQUESTS,
        proxy_provider=None,
        rotate_every: int = MAX_REQUESTS_BEFORE_PROXY_CHANGE,
        sleep_fn=None,
    ):
        if module is None:  # pragma: no cover - needs the real package
            import yfinance as module
        self._yf = module
        self._wait = wait_secs
        self._provider = proxy_provider
        self._rotate_every = max(1, rotate_every)
        self._sleep = sleep_fn
        self._req_count = 0
        self._proxy = proxy_provider() if proxy_provider else None

    def _before_request(self) -> None:
        """Throttle + proxy-rotation bookkeeping, once per HTTP call.

        Mirrors the reference exactly: sleep WAIT_TIME_BETWEEN_REQUESTS
        per request, and on every MAX_REQUESTS_BEFORE_PROXY_CHANGE-th
        request pull a fresh proxy and reset the counter."""
        if self._wait:
            sleep = self._sleep
            if sleep is None:
                import time

                sleep = time.sleep
            sleep(self._wait)
        self._req_count += 1
        if self._provider and self._req_count >= self._rotate_every:
            self._proxy = self._provider()
            self._req_count = 0

    def history(self, ticker: str, start: dt.date, end: dt.date) -> pd.DataFrame:
        """OHLC frame for [start, end] INCLUSIVE (yfinance's `end` is
        exclusive — shifted by one day; reference dataAcquisition.py:36-51)."""
        self._before_request()
        kwargs = dict(
            start=start.isoformat(),
            end=(end + dt.timedelta(days=1)).isoformat(),
            auto_adjust=False,
        )
        if self._proxy is not None:
            kwargs["proxy"] = self._proxy
        hist = self._yf.Ticker(ticker).history(**kwargs)
        if hist is None or len(hist) == 0:
            return pd.DataFrame(
                columns=["date_value", "open", "high", "low", "close"]
            )
        return pd.DataFrame(
            {
                "date_value": [
                    d.date().isoformat() for d in pd.to_datetime(hist.index)
                ],
                "open": hist["Open"].astype(float).to_numpy(),
                "high": hist["High"].astype(float).to_numpy(),
                "low": hist["Low"].astype(float).to_numpy(),
                "close": hist["Close"].astype(float).to_numpy(),
            }
        )

    def info(self, ticker: str, day: dt.date) -> dict[str, float]:
        """Fundamentals snapshot; only numeric, non-NaN fields survive —
        the caller's null→0 coercion (dataAcquisition.py:59-66) fills
        the rest. `day` is part of the interface (FakeFeed uses it);
        the live API only serves 'now'."""
        self._before_request()
        raw = self._yf.Ticker(ticker).info or {}
        out: dict[str, float] = {}
        for c in FUNDAMENTALS:
            v = raw.get(c)
            if isinstance(v, (int, float)) and not isinstance(v, bool) and v == v:
                out[c] = float(v)
        return out


def yfinance_feed() -> YFinanceFeed:
    """Real feed, only if yfinance is importable (never in tests/CI)."""
    try:
        import yfinance  # noqa: F401
    except ImportError as exc:
        raise RuntimeError(
            "yfinance not installed; use FakeFeed for offline operation"
        ) from exc
    return YFinanceFeed()  # pragma: no cover - needs the real package


def fetch_history(
    tasks: DataFrame, feed: FakeFeed | None = None, wait_secs: float = 0.0
) -> DataFrame:
    """Parallel history fetch: tasks(ticker, start_date, end_date) →
    OHLC rows. The reference's serial per-ticker loop with sleep
    throttling (findatabase.py:163-172, dataAcquisition.py:44-46)
    becomes one `mapInPandas` stage; `wait_secs` reproduces the
    throttle inside the kernel (per fetch, per executor)."""
    feed = feed or FakeFeed()

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import time

        for pdf in batches:
            for row in pdf.itertuples(index=False):
                if wait_secs:
                    time.sleep(wait_secs)
                hist = feed.history(
                    row.ticker,
                    dt.date.fromisoformat(str(row.start_date)),
                    dt.date.fromisoformat(str(row.end_date)),
                )
                if len(hist):
                    hist.insert(0, "ticker", row.ticker)
                    yield hist

    return tasks.select(
        F.col("ticker").cast("string"),
        F.col("start_date").cast("string"),
        F.col("end_date").cast("string"),
    ).mapInPandas(kernel, schema=HISTORY_SCHEMA)


def fetch_info(tasks: DataFrame, feed: FakeFeed | None = None) -> DataFrame:
    """Parallel fundamentals fetch with the null→0 coercion applied in
    the kernel (reference dataAcquisition.py:54-67)."""
    # imported here: a worker unpickling the feed imports this module,
    # and should not import the operators package with it
    from ..operators.rows import map_rows

    feed = feed or FakeFeed()

    def row(ticker, as_of):
        day = dt.date.fromisoformat(str(as_of))
        info = feed.info(ticker, day)
        yield (
            ticker,
            day.isoformat(),
            *(float(info.get(c, 0.0)) for c in FUNDAMENTALS),  # null→0 sentinel
        )

    return map_rows(
        tasks.select(F.col("ticker").cast("string"), F.col("as_of").cast("string")),
        INFO_SCHEMA,
        row,
    )
