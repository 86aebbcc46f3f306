"""Reference-shaped finance pipeline queries — the heart of the
original system re-expressed on the star schema.

Role mapping (FIXTURES.md): `part` plays the ticker registry
(namesCompanies), `lineitem` plays the OHLC history (valuesFinHistory),
`l_shipdate` plays dateValue, `l_extendedprice` plays close.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..catalog import load
from ..operators.ids import positional_ids
from ..operators.rank import ordered_scan
from .daily import daily_revenue, daily_revenue_sql
from .registry import query


@query(
    "latest_price_per_key",
    oracle="""
    WITH ranked AS (
        SELECT l_partkey,
               strftime(l_shipdate, '%Y-%m-%d') AS last_date,
               l_extendedprice AS last_price,
               row_number() OVER (
                   PARTITION BY l_partkey
                   ORDER BY l_shipdate DESC, l_orderkey DESC,
                            l_linenumber DESC, l_extendedprice DESC
               ) AS rn,
               count(*) OVER (PARTITION BY l_partkey) AS n_obs
        FROM lineitem
    )
    SELECT p.p_partkey AS key_id, p.p_name AS key_name,
           r.last_date, r.last_price, r.n_obs
    FROM ranked r
    JOIN part p ON p.p_partkey = r.l_partkey
    WHERE r.rn = 1
    """,
    tags=("finance", "flagship"),
)
def latest_price_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE flagship: latest close per ticker with dedup + dimension join
    — the decision core of the reference's update_database
    (findatabase.py:203-232: per-key last date → fetch decision), as
    ONE aggregation + ONE broadcast join instead of an N+1 loop.

    `max_by` with a (date, orderkey, linenumber) tuple gives the
    deterministic latest observation; `part` is the broadcast
    dimension (namesCompanies role, findatabase.py:112-117)."""
    t = load(spark, sf_dir)
    latest = t.lineitem.groupBy("l_partkey").agg(
        F.date_format(F.max("l_shipdate"), "yyyy-MM-dd").alias("last_date"),
        F.count("*").alias("n_obs"),
        # single-pass max_by: no second shuffle, no self-join; the struct
        # ordering (incl. price) is total because duplicate keys carry
        # different payloads in the fixture
        F.expr(
            "max_by(l_extendedprice,"
            " struct(l_shipdate, l_orderkey, l_linenumber, l_extendedprice))"
        ).alias("last_price"),
    )
    return latest.join(
        F.broadcast(t.part), F.col("l_partkey") == F.col("p_partkey")
    ).select(
        F.col("p_partkey").alias("key_id"),
        F.col("p_name").alias("key_name"),
        "last_date",
        "last_price",
        "n_obs",
    )


@query(
    "registry_bootstrap_ids",
    oracle="""
    SELECT row_number() OVER (ORDER BY p_name, p_partkey) AS id,
           p_partkey AS ticker_key, p_name AS name, p_brand AS exchange
    FROM part
    """,
    tags=("finance", "ids"),
)
def registry_bootstrap_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Surrogate-id generation replacing SQLite AUTOINCREMENT
    (sqlrequests.sql:24-27): deterministic 1-based numbering over an
    explicit ordering — never monotonically_increasing_id, whose values
    depend on partition layout (SURVEY §7 'what's hard' (b)).

    Uses the distributed range-partition + offset recipe
    (operators/ids.positional_ids) rather than a global window, so the
    numbering never funnels all rows through one partition."""
    t = load(spark, sf_dir)
    return positional_ids(t.part, ["p_name", "p_partkey"], id_name="id").select(
        "id",
        F.col("p_partkey").alias("ticker_key"),
        F.col("p_name").alias("name"),
        F.col("p_brand").alias("exchange"),
    )


@query(
    "idempotent_merge",
    oracle="""
    WITH base AS (
        SELECT * FROM lineitem WHERE l_shipdate < TIMESTAMP '2000-06-01 00:00:00'
    ),
    incoming AS (  -- re-delivery overlaps the last 90 days already loaded
        SELECT * FROM lineitem WHERE l_shipdate >= TIMESTAMP '2000-03-01 00:00:00'
    ),
    merged AS (
        SELECT DISTINCT l_orderkey, l_linenumber, l_quantity, l_extendedprice,
                        l_shipdate
        FROM (SELECT * FROM base UNION ALL SELECT * FROM incoming)
    )
    SELECT count(*) AS n_rows,
           count(DISTINCT (l_orderkey, l_linenumber)) AS n_keys,
           round(sum(l_extendedprice), 2) AS total_price
    FROM merged
    """,
    tags=("finance", "merge", "incremental"),
)
def idempotent_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental load with overlapping re-delivery: union + dedup is
    idempotent (the reference loads first, dedups after —
    redundancy.sql; Spark expresses it as one distinct-union). The
    n_rows == n_keys invariant proves duplicate collapse."""
    t = load(spark, sf_dir)
    cols = ["l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_shipdate"]
    base = t.lineitem.where(F.col("l_shipdate") < F.lit("2000-06-01").cast("timestamp"))
    incoming = t.lineitem.where(
        F.col("l_shipdate") >= F.lit("2000-03-01").cast("timestamp")
    )
    merged = base.unionAll(incoming).select(*cols).distinct()
    return merged.agg(
        F.count("*").alias("n_rows"),
        F.countDistinct("l_orderkey", "l_linenumber").alias("n_keys"),
        F.round(F.sum("l_extendedprice"), 2).alias("total_price"),
    )


@query(
    "orphan_fk_check",
    oracle="""
    SELECT count(*) AS n_orphans
    FROM lineitem l
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
    """,
    tags=("finance", "integrity"),
)
def orphan_fk_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FK integrity as an anti-join count (the reference declares
    FOREIGN KEY but SQLite never checks it on these paths;
    sqlrequests.sql:46-54 → SURVEY §1.2 'orphan check')."""
    t = load(spark, sf_dir)
    return (
        t.lineitem.join(
            t.orders, t.lineitem.l_orderkey == t.orders.o_orderkey, "left_anti"
        ).agg(F.count("*").alias("n_orphans"))
    )


# --------------------------------------------------------------------------
# technical indicators over the price series (ticker = l_partkey,
# close = l_extendedprice, date = l_shipdate — FIXTURES.md role map)
# --------------------------------------------------------------------------
#: shared indicator ordering — the PRICE payload is the final
#: tiebreak because the fixture's (l_orderkey, l_linenumber) is NOT
#: unique (duplicate keys with different payloads, FIXTURES.md): a
#: lag/lead over a tied order hands each engine a different
#: predecessor for the tied rows (round-5 sf0.1 oracle sweep caught
#: atr_14 doing exactly that). Rows tied on all four columns are
#: interchangeable for every user of this order (they lag the price
#: only), so the order is effectively total.
_ORD = "l_shipdate, l_orderkey, l_linenumber, l_extendedprice"


@query(
    "max_drawdown",
    oracle=f"""
    WITH s AS (
        SELECT l_partkey, l_extendedprice AS px,
               max(l_extendedprice) OVER (
                   PARTITION BY l_partkey ORDER BY {_ORD}
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS runmax
        FROM lineitem
    )
    SELECT l_partkey,
           count(*) AS n_obs,
           round(max((runmax - px) / runmax), 6) + 0.0 AS max_drawdown
    FROM s
    GROUP BY l_partkey
    """,
    tags=("finance", "window", "indicator"),
)
def max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown per ticker: peak-to-trough loss fraction off
    the running maximum — THE risk statistic every portfolio report
    carries, and the natural extension of the reference's 52-week
    high/low (rolling_high_low): same running-extreme window, one
    extra arithmetic map and aggregate.

    Scale shape: one (ticker, time) window sort + one groupBy on the
    window's own partition key — the sort is reused, nothing else
    shuffles."""
    t = load(spark, sf_dir)
    w = (
        W.partitionBy("l_partkey")
        .orderBy("l_shipdate", "l_orderkey", "l_linenumber", "l_extendedprice")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    s = t.lineitem.select(
        "l_partkey",
        F.col("l_extendedprice").alias("px"),
        F.max("l_extendedprice").over(w).alias("runmax"),
    )
    dd = (F.col("runmax") - F.col("px")) / F.col("runmax")
    return s.groupBy("l_partkey").agg(
        F.count("*").alias("n_obs"),
        (F.round(F.max(dd), 6) + 0.0).alias("max_drawdown"),
    )


_RSI_N = 14


@query(
    "rsi_14",
    oracle=f"""
    WITH d AS (
        SELECT l_partkey, l_shipdate, l_orderkey, l_linenumber,
               l_extendedprice,
               l_extendedprice
                   - lag(l_extendedprice) OVER (
                         PARTITION BY l_partkey ORDER BY {_ORD}
                     ) AS delta
        FROM lineitem
    ),
    g AS (
        SELECT l_partkey,
               avg(CASE WHEN delta > 0 THEN delta ELSE 0.0 END) OVER w AS ag,
               avg(CASE WHEN delta < 0 THEN -delta ELSE 0.0 END) OVER w AS al
        FROM d
        WHERE delta IS NOT NULL
        WINDOW w AS (PARTITION BY l_partkey ORDER BY {_ORD}
                     ROWS BETWEEN {_RSI_N - 1} PRECEDING AND CURRENT ROW)
    ),
    r AS (
        SELECT l_partkey,
               CASE WHEN al = 0 THEN 100.0
                    ELSE 100.0 - 100.0 / (1.0 + ag / al) END AS rsi
        FROM g
    )
    SELECT l_partkey,
           count(*) AS n_obs,
           round(avg(rsi), 4) + 0.0 AS avg_rsi,
           CAST(sum(CASE WHEN rsi > 70 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_overbought,
           CAST(sum(CASE WHEN rsi < 30 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_oversold
    FROM r
    GROUP BY l_partkey
    """,
    tags=("finance", "window", "indicator"),
)
def rsi_14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """14-period RSI (Cutler\'s SMA form — the windowed variant;
    Wilder\'s recursive smoothing would be the streaming/EWMA twin):
    per-ticker average RSI and overbought/oversold day counts. The
    natural next indicator after the reference\'s rolling averages
    (plot_rolling_mean, SURVEY W4).

    Scale shape: the lag and the two trailing means share ONE
    (ticker, time) sort; the rollup groups on the window\'s own
    partition key. Zero average-loss frames pin RSI to 100 with the
    same CASE on both engines (no inf/NaN divergence)."""
    t = load(spark, sf_dir)
    order = ["l_shipdate", "l_orderkey", "l_linenumber", "l_extendedprice"]
    wl = W.partitionBy("l_partkey").orderBy(*order)
    wf = wl.rowsBetween(-(_RSI_N - 1), W.currentRow)
    d = t.lineitem.select(
        "l_partkey",
        *order,
        (
            F.col("l_extendedprice")
            - F.lag("l_extendedprice").over(wl)
        ).alias("delta"),
    ).where(F.col("delta").isNotNull())
    g = d.select(
        "l_partkey",
        F.avg(F.when(F.col("delta") > 0, F.col("delta")).otherwise(0.0))
        .over(wf)
        .alias("ag"),
        F.avg(F.when(F.col("delta") < 0, -F.col("delta")).otherwise(0.0))
        .over(wf)
        .alias("al"),
    )
    rsi = F.when(F.col("al") == 0, F.lit(100.0)).otherwise(
        100.0 - 100.0 / (1.0 + F.col("ag") / F.col("al"))
    )
    return g.select("l_partkey", rsi.alias("rsi")).groupBy("l_partkey").agg(
        F.count("*").alias("n_obs"),
        (F.round(F.avg("rsi"), 4) + 0.0).alias("avg_rsi"),
        F.sum(F.when(F.col("rsi") > 70, 1).otherwise(0)).alias("n_overbought"),
        F.sum(F.when(F.col("rsi") < 30, 1).otherwise(0)).alias("n_oversold"),
    )


# MACD(12, 26, 9) in the finite-window normalized EWMA form (the same
# truncation convention as ewma_anomaly_flags; Wilder-style recursion is
# the streaming twin's job). Weights fold in Python so both engines
# consume identical IEEE doubles.
_MACD_L = 26
_W12 = [(2.0 / 13.0) * (1.0 - 2.0 / 13.0) ** i for i in range(_MACD_L)]
_W26 = [(2.0 / 27.0) * (1.0 - 2.0 / 27.0) ** i for i in range(_MACD_L)]
_W9 = [(2.0 / 10.0) * (1.0 - 2.0 / 10.0) ** i for i in range(9)]


def _macd_oracle() -> str:
    def filt(col: str, ws: list[float]) -> str:
        return " + ".join(
            f"coalesce(lag({col}, {i}) OVER w, 0.0) * {wt!r}"
            for i, wt in enumerate(ws)
        )

    return f"""
    WITH m AS (
        SELECT l_partkey, l_shipdate, l_orderkey, l_linenumber,
               l_extendedprice,
               ({filt('l_extendedprice', _W12)})
               - ({filt('l_extendedprice', _W26)}) AS macd
        FROM lineitem
        WINDOW w AS (PARTITION BY l_partkey ORDER BY {_ORD})
    ),
    sgn AS (
        SELECT l_partkey, macd,
               {filt('macd', _W9)} AS signal
        FROM m
        WINDOW w AS (PARTITION BY l_partkey ORDER BY {_ORD})
    )
    SELECT l_partkey,
           count(*) AS n_obs,
           round(avg(macd), 4) + 0.0 AS avg_macd,
           round(avg(signal), 4) + 0.0 AS avg_signal,
           CAST(sum(CASE WHEN macd > signal THEN 1 ELSE 0 END) AS BIGINT)
               AS n_bullish
    FROM sgn
    GROUP BY l_partkey
    """


@query("macd_signal", oracle=_macd_oracle(), tags=("finance", "window", "indicator"))
def macd_signal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MACD(12, 26) with its 9-period signal line and per-ticker
    bullish-day counts — the momentum companion to rsi_14, computed as
    two stacked linear filters: the MACD lags and the signal's lags
    each share ONE (ticker, time) window sort per level (Catalyst
    plans one Window operator per level over the same exchange — the
    sort order never changes, so the second level needs no second
    shuffle)."""
    t = load(spark, sf_dir)
    order = ["l_shipdate", "l_orderkey", "l_linenumber", "l_extendedprice"]
    # one parsed SQL string per filter level instead of ~10 py4j round
    # trips per lag term (61 terms — operators/sqlexpr discipline, r12);
    # the inline OVER specs are textually identical, so Catalyst still
    # plans one Window operator per level over one exchange
    over = (
        "OVER (PARTITION BY l_partkey "
        f"ORDER BY {', '.join(order)})"
    )

    def filt_sql(col, ws):
        expr = "0.0D"
        for i, wt in enumerate(ws):
            expr = (
                f"{expr} + coalesce(lag({col}, {i}) {over}, 0.0D)"
                f" * {wt!r}D"
            )
        return expr

    m = t.lineitem.select(
        "l_partkey",
        *order,
        F.expr(
            f"({filt_sql('l_extendedprice', _W12)})"
            f" - ({filt_sql('l_extendedprice', _W26)})"
        ).alias("macd"),
    )
    sgn = m.select(
        "l_partkey", "macd", F.expr(filt_sql("macd", _W9)).alias("signal")
    )
    return sgn.groupBy("l_partkey").agg(
        F.count("*").alias("n_obs"),
        (F.round(F.avg("macd"), 4) + 0.0).alias("avg_macd"),
        (F.round(F.avg("signal"), 4) + 0.0).alias("avg_signal"),
        F.sum(F.when(F.col("macd") > F.col("signal"), 1).otherwise(0)).alias(
            "n_bullish"
        ),
    )


@query(
    "sma_crossover_backtest",
    oracle=f"""
    WITH s AS (
        SELECT l_partkey, l_shipdate, l_orderkey, l_linenumber,
               l_extendedprice, l_extendedprice AS px,
               avg(l_extendedprice) OVER (
                   PARTITION BY l_partkey ORDER BY {_ORD}
                   ROWS BETWEEN 11 PRECEDING AND CURRENT ROW) AS sma_fast,
               avg(l_extendedprice) OVER (
                   PARTITION BY l_partkey ORDER BY {_ORD}
                   ROWS BETWEEN 25 PRECEDING AND CURRENT ROW) AS sma_slow,
               lead(l_extendedprice) OVER (
                   PARTITION BY l_partkey ORDER BY {_ORD}) AS next_px
        FROM lineitem
    ),
    g AS (
        SELECT l_partkey, l_shipdate, l_orderkey, l_linenumber,
               l_extendedprice, px, next_px,
               CASE WHEN sma_fast > sma_slow THEN 1 ELSE 0 END AS long_now,
               lag(CASE WHEN sma_fast > sma_slow THEN 1 ELSE 0 END) OVER (
                   PARTITION BY l_partkey ORDER BY {_ORD}) AS long_prev
        FROM s
    )
    SELECT l_partkey,
           CAST(sum(CASE WHEN long_prev IS NOT NULL
                         AND long_now != long_prev THEN 1 ELSE 0 END)
                AS BIGINT) AS n_crossovers,
           round(sum(CASE WHEN long_now = 1 AND next_px IS NOT NULL
                          THEN next_px / px - 1.0 ELSE 0.0 END), 6) + 0.0
               AS strategy_return,
           round(sum(CASE WHEN next_px IS NOT NULL
                          THEN next_px / px - 1.0 ELSE 0.0 END), 6) + 0.0
               AS hold_return
    FROM g
    GROUP BY l_partkey
    """,
    tags=("finance", "window", "backtest"),
)
def sma_crossover_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Moving-average crossover backtest per ticker: 12/26-row SMA
    signal, crossover event counts, and the in-position sum of
    next-period simple returns against buy-and-hold — the analysis the
    reference's rolling-mean plots exist to feed, as one query.

    Scale shape: BOTH SMAs, the lead, the signal lag — five frame
    functions — share a single (ticker, time) window sort; the backtest
    aggregate groups on the partition key. One shuffle end to end."""
    t = load(spark, sf_dir)
    order = ["l_shipdate", "l_orderkey", "l_linenumber", "l_extendedprice"]
    wl = W.partitionBy("l_partkey").orderBy(*order)
    s = t.lineitem.select(
        "l_partkey",
        *order,
        F.col("l_extendedprice").alias("px"),
        F.avg("l_extendedprice")
        .over(wl.rowsBetween(-11, W.currentRow))
        .alias("sma_fast"),
        F.avg("l_extendedprice")
        .over(wl.rowsBetween(-25, W.currentRow))
        .alias("sma_slow"),
        F.lead("l_extendedprice").over(wl).alias("next_px"),
    )
    long_now = F.when(F.col("sma_fast") > F.col("sma_slow"), 1).otherwise(0)
    g = s.select(
        "l_partkey",
        "px",
        "next_px",
        long_now.alias("long_now"),
        F.lag(long_now).over(wl).alias("long_prev"),
    )
    ret = F.col("next_px") / F.col("px") - 1.0
    return g.groupBy("l_partkey").agg(
        F.sum(
            F.when(
                F.col("long_prev").isNotNull()
                & (F.col("long_now") != F.col("long_prev")),
                1,
            ).otherwise(0)
        ).alias("n_crossovers"),
        (
            F.round(
                F.sum(
                    F.when(
                        (F.col("long_now") == 1) & F.col("next_px").isNotNull(),
                        ret,
                    ).otherwise(0.0)
                ),
                6,
            )
            + 0.0
        ).alias("strategy_return"),
        (
            F.round(
                F.sum(
                    F.when(F.col("next_px").isNotNull(), ret).otherwise(0.0)
                ),
                6,
            )
            + 0.0
        ).alias("hold_return"),
    )


@query(
    "market_beta",
    oracle="""
    WITH px AS (
        SELECT l_partkey, l_shipdate AS d, avg(l_extendedprice) AS p
        FROM lineitem GROUP BY l_partkey, l_shipdate
    ),
    idx AS (SELECT d, avg(p) AS mkt FROM px GROUP BY d),
    j AS (SELECT px.l_partkey, px.p, idx.mkt FROM px JOIN idx USING (d))
    SELECT l_partkey,
           count(*) AS n_days,
           round(covar_pop(p, mkt) / var_pop(mkt), 6) + 0.0 AS beta,
           round(corr(p, mkt), 6) + 0.0 AS mkt_corr
    FROM j
    GROUP BY l_partkey
    HAVING var_pop(mkt) > 0
    """,
    tags=("finance", "aggregate", "bivariate"),
)
def market_beta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-ticker market beta and correlation against an equal-weight
    index: daily panel (ticker, day) average prices, a per-day index,
    and per-ticker covariance/variance — CAPM's workhorse regression
    coefficient as three aggregations.

    Scale shape: the panel collapse is the big shuffle (ticker x day
    keys); the index is day-cardinality and broadcasts back; the beta
    aggregate groups on ticker with map-side partials. The per-ticker
    variance guard (HAVING) drops degenerate single-day tickers
    identically on both engines."""
    t = load(spark, sf_dir)
    px = t.lineitem.groupBy(
        "l_partkey", F.col("l_shipdate").alias("d")
    ).agg(F.avg("l_extendedprice").alias("p"))
    idx = px.groupBy("d").agg(F.avg("p").alias("mkt"))
    j = px.join(F.broadcast(idx), "d")
    return (
        j.groupBy("l_partkey")
        .agg(
            F.count("*").alias("n_days"),
            (
                F.round(F.covar_pop("p", "mkt") / F.var_pop("mkt"), 6) + 0.0
            ).alias("beta"),
            (F.round(F.corr("p", "mkt"), 6) + 0.0).alias("mkt_corr"),
            F.var_pop("mkt").alias("_vm"),
        )
        .where(F.col("_vm") > 0)
        .drop("_vm")
    )


@query(
    "realized_volatility",
    oracle=f"""
    WITH r AS (
        SELECT l_partkey,
               l_extendedprice / lag(l_extendedprice) OVER (
                   PARTITION BY l_partkey ORDER BY {_ORD}
               ) - 1.0 AS ret
        FROM lineitem
    )
    SELECT l_partkey,
           count(ret) AS n_returns,
           round(stddev_samp(ret), 6) + 0.0 AS vol,
           round(avg(ret), 6) + 0.0 AS mean_ret,
           round(stddev_samp(ret) * sqrt(252.0), 6) + 0.0 AS vol_annualized
    FROM r
    GROUP BY l_partkey
    HAVING count(ret) >= 2
    """,
    tags=("finance", "window", "risk"),
)
def realized_volatility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Realized volatility per ticker: stddev of simple period returns
    with the sqrt-252 annualization — the risk denominator under every
    Sharpe ratio, completing the indicator set (drawdown = path risk,
    beta = systematic risk, this = total risk).

    Scale shape: one lag over the (ticker, time) sort, then a keyed
    aggregate with map-side partials; the HAVING guard drops
    single-observation tickers identically on both engines."""
    t = load(spark, sf_dir)
    order = ["l_shipdate", "l_orderkey", "l_linenumber", "l_extendedprice"]
    wl = W.partitionBy("l_partkey").orderBy(*order)
    r = t.lineitem.select(
        "l_partkey",
        (
            F.col("l_extendedprice") / F.lag("l_extendedprice").over(wl) - 1.0
        ).alias("ret"),
    )
    return (
        r.groupBy("l_partkey")
        .agg(
            F.count("ret").alias("n_returns"),
            (F.round(F.stddev_samp("ret"), 6) + 0.0).alias("vol"),
            (F.round(F.avg("ret"), 6) + 0.0).alias("mean_ret"),
            (
                F.round(F.stddev_samp("ret") * F.sqrt(F.lit(252.0)), 6) + 0.0
            ).alias("vol_annualized"),
        )
        .where(F.col("n_returns") >= 2)
    )


_BB_N = 20


@query(
    "bollinger_breakouts",
    oracle=f"""
    WITH s AS (
        SELECT l_partkey, l_extendedprice AS px,
               avg(l_extendedprice) OVER w AS sma,
               stddev_samp(l_extendedprice) OVER w AS sd,
               row_number() OVER (
                   PARTITION BY l_partkey ORDER BY {_ORD}
               ) AS rn
        FROM lineitem
        WINDOW w AS (PARTITION BY l_partkey ORDER BY {_ORD}
                     ROWS BETWEEN {_BB_N - 1} PRECEDING AND CURRENT ROW)
    )
    SELECT l_partkey,
           count(*) AS n_windows,
           CAST(sum(CASE WHEN px > sma + 2 * sd THEN 1 ELSE 0 END) AS BIGINT)
               AS n_above_upper,
           CAST(sum(CASE WHEN px < sma - 2 * sd THEN 1 ELSE 0 END) AS BIGINT)
               AS n_below_lower,
           round(avg(4 * sd / sma), 6) + 0.0 AS avg_bandwidth
    FROM s
    WHERE rn >= {_BB_N}
    GROUP BY l_partkey
    """,
    tags=("finance", "window", "indicator"),
)
def bollinger_breakouts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bollinger bands (20-row SMA +/- 2 sigma) with per-ticker breakout
    counts and average relative bandwidth — the volatility-envelope
    indicator alongside RSI/MACD (reference roadmap: technical
    indicators, README.md 'Moving averages').

    Only full 20-row windows count (row_number gate), so the result is
    identical on both engines regardless of how partial leading windows
    would round.

    Scale shape: a single (ticker, time) window sort feeds sma, sd and
    row_number; the breakout flags fold into one keyed aggregate with
    map-side partials. One shuffle total."""
    t = load(spark, sf_dir)
    order = ["l_shipdate", "l_orderkey", "l_linenumber", "l_extendedprice"]
    wb = (
        W.partitionBy("l_partkey")
        .orderBy(*order)
        .rowsBetween(-(_BB_N - 1), W.currentRow)
    )
    wr = W.partitionBy("l_partkey").orderBy(*order)
    s = t.lineitem.select(
        "l_partkey",
        F.col("l_extendedprice").alias("px"),
        F.avg("l_extendedprice").over(wb).alias("sma"),
        F.stddev_samp("l_extendedprice").over(wb).alias("sd"),
        F.row_number().over(wr).alias("rn"),
    ).where(F.col("rn") >= _BB_N)
    upper = F.col("sma") + 2 * F.col("sd")
    lower = F.col("sma") - 2 * F.col("sd")
    return s.groupBy("l_partkey").agg(
        F.count("*").alias("n_windows"),
        F.sum((F.col("px") > upper).cast("long")).alias("n_above_upper"),
        F.sum((F.col("px") < lower).cast("long")).alias("n_below_lower"),
        (
            F.round(F.avg(4 * F.col("sd") / F.col("sma")), 6) + 0.0
        ).alias("avg_bandwidth"),
    )


_ATR_N = 14


@query(
    "atr_14",
    oracle=f"""
    WITH b AS (
        SELECT l_partkey,
               CAST(round(l_extendedprice * (1 + l_tax) * 10000, 0)
                    AS BIGINT) AS hi_u,
               CAST(round(l_extendedprice * (1 - l_discount) * 10000, 0)
                    AS BIGINT) AS lo_u,
               lag(CAST(round(l_extendedprice * 10000, 0) AS BIGINT)) OVER (
                   PARTITION BY l_partkey ORDER BY {_ORD}
               ) AS prev_u
        FROM lineitem
    ),
    tr AS (
        SELECT l_partkey,
               greatest(hi_u - lo_u, abs(hi_u - prev_u),
                        abs(lo_u - prev_u)) AS tr_u
        FROM b WHERE prev_u IS NOT NULL
    )
    SELECT l_partkey,
           count(*) AS n_obs,
           CAST(sum(tr_u) // count(*) AS BIGINT) AS avg_tr_u,
           CAST(max(tr_u) AS BIGINT) AS max_tr_u
    FROM tr
    GROUP BY l_partkey
    HAVING count(*) >= {_ATR_N}
    """,
    tags=("finance", "window", "indicator"),
)
def atr_14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average True Range: per-bar true range
    greatest(high-low, |high-prev_close|, |low-prev_close|) averaged per
    ticker (Cutler SMA form, matching rsi_14's convention). High/low are
    derived deterministically from the fixture's price via the tax and
    discount rates (FIXTURES.md role map — the fixture carries one price
    column, so the envelope is synthesized the same way on both
    engines).

    True ranges are quantized to INTEGER 1e-4 price units before
    aggregation (both engines round the identical doubles, then all
    algebra is integer): a float avg(tr) rounded at 6 digits landed
    ULP-apart across engines on 3 groups at sf0.1 (round-5 oracle
    sweep) — the summation-order tie the integer-exact discipline
    (SCALE.md) exists to eliminate. avg_tr_u is one exact floor
    division.

    Scale shape: one lag window over the (ticker, time) sort, then a
    keyed aggregate; tickers with fewer than 14 ranges drop identically
    via HAVING."""
    t = load(spark, sf_dir)
    order = ["l_shipdate", "l_orderkey", "l_linenumber", "l_extendedprice"]
    wl = W.partitionBy("l_partkey").orderBy(*order)
    px = F.col("l_extendedprice")
    u = lambda c: F.round(c * 10000, 0).cast("long")  # noqa: E731
    b = t.lineitem.select(
        "l_partkey",
        u(px * (1 + F.col("l_tax"))).alias("hi_u"),
        u(px * (1 - F.col("l_discount"))).alias("lo_u"),
        F.lag(u(px)).over(wl).alias("prev_u"),
    ).where(F.col("prev_u").isNotNull())
    tr = F.greatest(
        F.col("hi_u") - F.col("lo_u"),
        F.abs(F.col("hi_u") - F.col("prev_u")),
        F.abs(F.col("lo_u") - F.col("prev_u")),
    )
    return (
        b.select("l_partkey", tr.alias("tr_u"))
        .groupBy("l_partkey")
        .agg(
            F.count("*").alias("n_obs"),
            F.expr("CAST(sum(tr_u) div count(*) AS BIGINT)").alias("avg_tr_u"),
            F.max("tr_u").alias("max_tr_u"),
        )
        .where(F.col("n_obs") >= _ATR_N)
    )


@query(
    "sharpe_sortino",
    oracle=f"""
    WITH r AS (
        SELECT l_partkey,
               l_extendedprice / lag(l_extendedprice) OVER (
                   PARTITION BY l_partkey ORDER BY {_ORD}
               ) - 1.0 AS ret
        FROM lineitem
    ),
    a AS (
        SELECT l_partkey,
               count(ret) AS n_returns,
               avg(ret) AS mu,
               stddev_samp(ret) AS sd,
               sqrt(avg(CASE WHEN ret < 0 THEN ret * ret ELSE 0.0 END))
                   AS dd
        FROM r
        GROUP BY l_partkey
        HAVING count(ret) >= 2 AND stddev_samp(ret) > 0
    )
    SELECT l_partkey, n_returns,
           round(mu / sd * sqrt(252.0), 6) + 0.0 AS sharpe,
           round(CASE WHEN dd > 0 THEN mu / dd * sqrt(252.0) END, 6) + 0.0
               AS sortino
    FROM a
    """,
    tags=("finance", "risk"),
)
def sharpe_sortino(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Annualized Sharpe and Sortino ratios per ticker (risk-free rate
    0): Sharpe divides mean return by total volatility, Sortino by the
    downside semi-deviation sqrt(E[min(ret,0)^2]) — the pair every
    portfolio screen ranks by, built on realized_volatility's return
    series.

    Scale shape: one lag window + one keyed aggregate; the downside
    branch is a CASE inside the same map-side partial, no second
    pass."""
    t = load(spark, sf_dir)
    order = ["l_shipdate", "l_orderkey", "l_linenumber", "l_extendedprice"]
    wl = W.partitionBy("l_partkey").orderBy(*order)
    r = t.lineitem.select(
        "l_partkey",
        (
            F.col("l_extendedprice") / F.lag("l_extendedprice").over(wl) - 1.0
        ).alias("ret"),
    )
    ret = F.col("ret")
    a = (
        r.groupBy("l_partkey")
        .agg(
            F.count("ret").alias("n_returns"),
            F.avg("ret").alias("mu"),
            F.stddev_samp("ret").alias("sd"),
            F.sqrt(
                F.avg(F.when(ret < 0, ret * ret).otherwise(F.lit(0.0)))
            ).alias("dd"),
        )
        .where((F.col("n_returns") >= 2) & (F.col("sd") > 0))
    )
    ann = F.sqrt(F.lit(252.0))
    return a.select(
        "l_partkey",
        "n_returns",
        (F.round(F.col("mu") / F.col("sd") * ann, 6) + 0.0).alias("sharpe"),
        (
            F.round(
                F.when(F.col("dd") > 0, F.col("mu") / F.col("dd") * ann), 6
            )
            + 0.0
        ).alias("sortino"),
    )


@query(
    "vwap_premium",
    oracle="""
    WITH c AS (
        SELECT l_partkey,
               CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS cents,
               CAST(l_quantity AS BIGINT) AS qty
        FROM lineitem
    ),
    a AS (
        SELECT l_partkey, count(*) AS n_obs,
               sum(cents * qty) AS pv, sum(qty) AS v, sum(cents) AS c
        FROM c GROUP BY l_partkey
    )
    SELECT l_partkey, n_obs,
           CAST(pv * 10000 // v AS DOUBLE) / 1e6 AS vwap,
           CAST(c * 10000 // n_obs AS DOUBLE) / 1e6 AS mean_px,
           CAST(c * v * 1000000 // (n_obs * pv) - 1000000 AS BIGINT)
               AS premium_ppm
    FROM a
    """,
    tags=("finance",),
)
def vwap_premium(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume-weighted average price per ticker (volume = l_quantity,
    FIXTURES.md role map) and the premium of the unweighted mean price
    over it — the execution-quality benchmark (TWAP vs VWAP gap).

    Everything runs in exact integer cents (prices are 2-decimal
    money, the quantities integral): sums, the micro-dollar quotients
    and the ppm premium are integer arithmetic end-to-end, because the
    float quotients land exactly on decimal half-boundaries for small
    groups, where cross-engine round() tie-breaking (decimal-string
    HALF_UP vs binary) is flaky by construction.

    Scale shape: a pure one-pass keyed aggregate — three partial sums,
    map-side combined, one shuffle; no window, no join."""
    t = load(spark, sf_dir)
    cents = F.round(F.col("l_extendedprice") * 100, 0).cast("long")
    qty = F.col("l_quantity").cast("long")
    a = (
        t.lineitem.select(
            "l_partkey", cents.alias("cents"), qty.alias("qty")
        )
        .groupBy("l_partkey")
        .agg(
            F.count("*").alias("n_obs"),
            F.expr("sum(cents * qty)").alias("pv"),
            F.sum("qty").alias("v"),
            F.sum("cents").alias("c"),
        )
    )
    return a.select(
        "l_partkey",
        "n_obs",
        (F.expr("pv * 10000 div v").cast("double") / 1e6).alias("vwap"),
        (
            F.expr("c * 10000 div n_obs").cast("double") / 1e6
        ).alias("mean_px"),
        F.expr("c * v * 1000000 div (n_obs * pv) - 1000000").alias(
            "premium_ppm"
        ),
    )


@query(
    "cusum_changepoint",
    oracle=f"""
    WITH daily AS ({daily_revenue_sql("x")}),
    s AS (
        SELECT d, x,
               row_number() OVER (ORDER BY d) AS k,
               sum(x) OVER (ORDER BY d
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS cum,
               count(*) OVER () AS n,
               sum(x) OVER () AS total
        FROM daily
    ),
    c AS (
        SELECT strftime(d, '%Y-%m-%d') AS cp_day,
               CAST(n AS BIGINT) AS n_days,
               CAST(abs(n * cum - k * total) AS BIGINT) AS s_abs,
               CAST(cum * 1000000 // k AS BIGINT) AS mean_before_ucents,
               CAST(CASE WHEN k < n
                    THEN (total - cum) * 1000000 // (n - k) END AS BIGINT)
                   AS mean_after_ucents
        FROM s
    )
    SELECT * FROM c ORDER BY s_abs DESC, cp_day ASC LIMIT 1
    """,
    tags=("finance", "timeseries", "changepoint"),
)
def cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change-point detection on the daily revenue series: the
    day k maximizing |n*cum_k - k*total| — the scaled cumulative
    deviation from the global mean (the classic offline CUSUM
    statistic, scaled by n to stay in exact integer cents; the
    unscaled S_k = cum_k - k*mean is this divided by n). Output is the
    argmax day with segment means on each side in integer
    micro-cents.

    Scale shape: the raw fact scan reduces to ONE ROW PER DAY first
    (map-side-combined sum of integer cents); the day index and
    cumulative revenue then come from operators/rank.ordered_scan
    (range repartition + local rank/running sums + driver partition
    offsets), so even a decades-deep or finer-grained series never
    funnels through a single-task `Window.orderBy()` sort; n and the
    grand total ride along as exact literals. Tie-break on earliest
    day makes the argmax deterministic."""
    t = load(spark, sf_dir)
    daily = daily_revenue(t.orders, "x")
    s = ordered_scan(
        daily,
        ["d"],
        rank="k",
        running={"cum": "x"},
        totals={"n": "*", "total": "x"},
        checkpoint_input=True,
    )
    c = s.select(
        F.date_format("d", "yyyy-MM-dd").alias("cp_day"),
        F.col("n").alias("n_days"),
        F.abs(
            F.col("n") * F.col("cum") - F.col("k") * F.col("total")
        ).alias("s_abs"),
        F.expr("cum * 1000000 div k").alias("mean_before_ucents"),
        F.expr(
            "CASE WHEN k < n THEN (total - cum) * 1000000 div (n - k) END"
        ).alias("mean_after_ucents"),
    )
    return c.orderBy(F.col("s_abs").desc(), F.col("cp_day").asc()).limit(1)


@query(
    "time_weighted_avg_price",
    oracle=f"""
    WITH s AS (
        SELECT l_partkey,
               CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS cents,
               date_diff('day',
                   CAST(l_shipdate AS DATE),
                   CAST(lead(l_shipdate) OVER (
                       PARTITION BY l_partkey ORDER BY {_ORD}
                   ) AS DATE)) AS w_days
        FROM lineitem
    )
    SELECT l_partkey,
           count(*) AS n_intervals,
           CAST(sum(w_days) AS BIGINT) AS span_days,
           CAST(sum(cents * w_days) * 10000
                // NULLIF(sum(w_days), 0) AS BIGINT) AS twap_ucents
    FROM s
    WHERE w_days IS NOT NULL AND w_days > 0
    GROUP BY l_partkey
    """,
    tags=("finance", "window", "timeseries"),
)
def time_weighted_avg_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUE time-weighted average price over an IRREGULAR observation
    grid: each close is weighted by the days it was the live price
    (lead-date gap), unlike the per-observation mean in vwap_premium
    which over-weights densely-sampled periods. Zero-day gaps
    (same-date duplicate keys in the fixture) drop identically on
    both engines. Integer cents x integer days end-to-end; the
    micro-cent output is an exact integer division.

    Scale shape: one lead over the (ticker, time) window sort, one
    keyed aggregate — identical single-shuffle shape as the other
    indicators."""
    t = load(spark, sf_dir)
    order = ["l_shipdate", "l_orderkey", "l_linenumber", "l_extendedprice"]
    wl = W.partitionBy("l_partkey").orderBy(*order)
    s = t.lineitem.select(
        "l_partkey",
        F.round(F.col("l_extendedprice") * 100, 0).cast("long").alias("cents"),
        F.datediff(
            F.to_date(F.lead("l_shipdate").over(wl)),
            F.to_date("l_shipdate"),
        ).alias("w_days"),
    ).where(F.col("w_days").isNotNull() & (F.col("w_days") > 0))
    return s.groupBy("l_partkey").agg(
        F.count("*").alias("n_intervals"),
        F.sum("w_days").cast("long").alias("span_days"),
        F.expr(
            "CAST(sum(cents * w_days) * 10000"
            " div nullif(sum(w_days), 0) AS BIGINT)"
        ).alias("twap_ucents"),
    )


# --------------------------------------------------------------------------
# Stochastic oscillator %K / %D (round 9)
# --------------------------------------------------------------------------
_STOCH_N = 14
_STOCH_D = 3


@query(
    "stochastic_oscillator",
    # %K is quantized to integer 1e-4 percent units the moment it is
    # computed (both engines round the IDENTICAL double — close and the
    # channel extremes are exact 1e-4 price-unit integers), so the %D
    # smoothing and every per-ticker aggregate run on exact integers
    # (the atr_14 integer-exact discipline).
    oracle=f"""
    WITH b AS (
        SELECT l_partkey,
               CAST(round(l_extendedprice * 10000, 0) AS BIGINT) AS px_u,
               CAST(round(l_extendedprice * (1 + l_tax) * 10000, 0)
                    AS BIGINT) AS hi_u,
               CAST(round(l_extendedprice * (1 - l_discount) * 10000, 0)
                    AS BIGINT) AS lo_u,
               l_shipdate, l_orderkey, l_linenumber, l_extendedprice
        FROM lineitem
    ),
    ch AS (
        SELECT l_partkey, px_u,
               max(hi_u) OVER w AS hmax,
               min(lo_u) OVER w AS lmin,
               row_number() OVER (
                   PARTITION BY l_partkey ORDER BY {_ORD}
               ) AS rn,
               l_shipdate, l_orderkey, l_linenumber, l_extendedprice
        FROM b
        WINDOW w AS (PARTITION BY l_partkey ORDER BY {_ORD}
                     ROWS BETWEEN {_STOCH_N - 1} PRECEDING AND CURRENT ROW)
    ),
    k AS (
        SELECT l_partkey,
               CAST(round(1000000.0 * (px_u - lmin) / (hmax - lmin), 0)
                    AS BIGINT) AS k_u,
               l_shipdate, l_orderkey, l_linenumber, l_extendedprice
        FROM ch WHERE rn >= {_STOCH_N} AND hmax > lmin
    ),
    d AS (
        SELECT l_partkey, k_u,
               avg(CAST(k_u AS DOUBLE)) OVER (
                   PARTITION BY l_partkey ORDER BY {_ORD}
                   ROWS BETWEEN {_STOCH_D - 1} PRECEDING AND CURRENT ROW
               ) AS d_u,
               row_number() OVER (
                   PARTITION BY l_partkey ORDER BY {_ORD}
               ) AS rn2
        FROM k
    )
    SELECT l_partkey,
           CAST(count(*) AS BIGINT) AS n_obs,
           CAST(sum(k_u) // count(*) AS DOUBLE) / 10000.0 + 0.0
               AS avg_pct_k,
           CAST(sum(CASE WHEN rn2 >= {_STOCH_D} AND d_u > 800000.0
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_overbought,
           CAST(sum(CASE WHEN rn2 >= {_STOCH_D} AND d_u < 200000.0
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_oversold
    FROM d
    GROUP BY l_partkey
    """,
    tags=("finance", "window", "indicator"),
)
def stochastic_oscillator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stochastic oscillator: %K = 100·(close − low_n)/(high_n − low_n)
    over the {_STOCH_N}-bar channel (high/low from the fixture's
    tax/discount envelope, the atr_14 convention), %D = {_STOCH_D}-bar
    SMA of %K; per ticker the average %K plus %D>80 / %D<20
    overbought/oversold counts — the momentum channel indicator
    alongside RSI (Lane's %K/%D).

    Parity: %K is rounded to integer 1e-4 percent units immediately
    (identical doubles both sides — inputs are exact integers), so all
    smoothing/aggregation is integer-exact; degenerate flat channels
    (hmax == lmin) drop identically on both engines.

    Scale shape: one (ticker, time) window sort shared by the channel
    extremes and row_number, a second over the derived %K frame, then
    one keyed aggregate. Two shuffles on the same key."""
    t = load(spark, sf_dir)
    order = ["l_shipdate", "l_orderkey", "l_linenumber", "l_extendedprice"]
    px = F.col("l_extendedprice")
    u = lambda c: F.round(c * 10000, 0).cast("long")  # noqa: E731
    b = t.lineitem.select(
        "l_partkey",
        u(px).alias("px_u"),
        u(px * (1 + F.col("l_tax"))).alias("hi_u"),
        u(px * (1 - F.col("l_discount"))).alias("lo_u"),
        *order,
    )
    wch = (
        W.partitionBy("l_partkey")
        .orderBy(*order)
        .rowsBetween(-(_STOCH_N - 1), W.currentRow)
    )
    wrn = W.partitionBy("l_partkey").orderBy(*order)
    ch = b.select(
        "l_partkey", "px_u",
        F.max("hi_u").over(wch).alias("hmax"),
        F.min("lo_u").over(wch).alias("lmin"),
        F.row_number().over(wrn).alias("rn"),
        *order,
    )
    k = ch.where(
        (F.col("rn") >= _STOCH_N) & (F.col("hmax") > F.col("lmin"))
    ).select(
        "l_partkey",
        F.round(
            1000000.0 * (F.col("px_u") - F.col("lmin"))
            / (F.col("hmax") - F.col("lmin")),
            0,
        ).cast("long").alias("k_u"),
        *order,
    )
    wd = (
        W.partitionBy("l_partkey")
        .orderBy(*order)
        .rowsBetween(-(_STOCH_D - 1), W.currentRow)
    )
    d = k.select(
        "l_partkey", "k_u",
        F.avg(F.col("k_u").cast("double")).over(wd).alias("d_u"),
        F.row_number().over(
            W.partitionBy("l_partkey").orderBy(*order)
        ).alias("rn2"),
    )
    full_d = F.col("rn2") >= _STOCH_D
    return d.groupBy("l_partkey").agg(
        F.count("*").alias("n_obs"),
        (
            (
                (F.sum("k_u") - F.sum("k_u") % F.count("*"))
                / F.count("*")
            ).cast("long").cast("double") / 10000.0 + 0.0
        ).alias("avg_pct_k"),
        F.sum(
            (full_d & (F.col("d_u") > 800000.0)).cast("long")
        ).alias("n_overbought"),
        F.sum(
            (full_d & (F.col("d_u") < 200000.0)).cast("long")
        ).alias("n_oversold"),
    )


# --------------------------------------------------------------------------
# Garman-Klass range-based volatility (round 9)
# --------------------------------------------------------------------------
@query(
    "garman_klass_volatility",
    # per-day OHLC come out of arg_min/arg_max/min/max over exact 1e-4
    # price-unit integers (total order via the _ORD tuple), the
    # per-day GK term is the identical double on both engines and is
    # quantized to integer 1e-8 units before the per-ticker average
    # (atr_14 discipline: no float accumulation crosses an engine).
    oracle=f"""
    WITH b AS (
        SELECT l_partkey,
               CAST(date_trunc('day', l_shipdate) AS DATE) AS d,
               CAST(round(l_extendedprice * 10000, 0) AS BIGINT) AS px_u,
               CAST(round(l_extendedprice * (1 + l_tax) * 10000, 0)
                    AS BIGINT) AS hi_u,
               CAST(round(l_extendedprice * (1 - l_discount) * 10000, 0)
                    AS BIGINT) AS lo_u,
               l_orderkey, l_linenumber, l_extendedprice
        FROM lineitem
    ),
    oc AS (
        SELECT l_partkey, d, hi_u, lo_u,
               first_value(px_u) OVER w AS o,
               last_value(px_u) OVER w AS c
        FROM b
        WINDOW w AS (PARTITION BY l_partkey, d
                     ORDER BY l_orderkey, l_linenumber, l_extendedprice
                     ROWS BETWEEN UNBOUNDED PRECEDING
                              AND UNBOUNDED FOLLOWING)
    ),
    ohlc AS (
        SELECT l_partkey, d, any_value(o) AS o, any_value(c) AS c,
               max(hi_u) AS h, min(lo_u) AS l
        FROM oc GROUP BY 1, 2
    ),
    gk AS (
        SELECT l_partkey,
               CAST(round(1e8 * (
                   0.5 * ln(CAST(h AS DOUBLE) / l)
                       * ln(CAST(h AS DOUBLE) / l)
                   - (2.0 * ln(2.0) - 1.0)
                       * ln(CAST(c AS DOUBLE) / o)
                       * ln(CAST(c AS DOUBLE) / o)), 0) AS BIGINT) AS gk_u
        FROM ohlc WHERE l > 0 AND o > 0
    )
    SELECT l_partkey,
           CAST(count(*) AS BIGINT) AS n_days,
           round(sqrt(greatest(CAST(sum(gk_u) AS DOUBLE)
                               / count(*) / 1e8, 0.0)), 6) + 0.0
               AS gk_vol_daily,
           round(sqrt(greatest(252.0 * CAST(sum(gk_u) AS DOUBLE)
                               / count(*) / 1e8, 0.0)), 6) + 0.0
               AS gk_vol_annual
    FROM gk
    GROUP BY l_partkey
    """,
    tags=("finance", "volatility", "indicator"),
)
def garman_klass_volatility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Garman-Klass range-based volatility estimator per ticker:
    σ²_GK = 0.5·ln(H/L)² − (2ln2−1)·ln(C/O)² per day, averaged and
    annualized (×252) — the OHLC estimator that is ~7x more efficient
    than close-to-close realized_volatility (Garman & Klass 1980),
    using the fixture's tax/discount high/low envelope and
    first/last-by-_ORD open/close (the ohlc_downsample convention).

    Parity: OHLC are exact 1e-4 price-unit integers selected under the
    _ORD total order (arg_min/arg_max on both engines); the per-day GK
    term is one identical double expression quantized to integer 1e-8
    units before any cross-row accumulation.

    Scale shape: one (ticker, day) map-side-combined groupBy, then one
    keyed per-ticker aggregate — two shuffles, no windows."""
    t = load(spark, sf_dir)
    px = F.col("l_extendedprice")
    u = lambda c: F.round(c * 10000, 0).cast("long")  # noqa: E731
    tb = F.struct("l_orderkey", "l_linenumber", "l_extendedprice")
    b = t.lineitem.select(
        "l_partkey",
        F.to_date(F.date_trunc("day", "l_shipdate")).alias("d"),
        u(px).alias("px_u"),
        u(px * (1 + F.col("l_tax"))).alias("hi_u"),
        u(px * (1 - F.col("l_discount"))).alias("lo_u"),
        "l_orderkey", "l_linenumber", "l_extendedprice",
    )
    ohlc = b.groupBy("l_partkey", "d").agg(
        F.min_by("px_u", tb).alias("o"),
        F.max_by("px_u", tb).alias("c"),
        F.max("hi_u").alias("h"),
        F.min("lo_u").alias("l"),
    )
    lnhl = F.log(F.col("h").cast("double") / F.col("l"))
    lnco = F.log(F.col("c").cast("double") / F.col("o"))
    import math
    gk = ohlc.where((F.col("l") > 0) & (F.col("o") > 0)).select(
        "l_partkey",
        F.round(
            1e8 * (0.5 * lnhl * lnhl
                   - (2.0 * math.log(2.0) - 1.0) * lnco * lnco),
            0,
        ).cast("long").alias("gk_u"),
    )
    mean_gk = F.sum("gk_u").cast("double") / F.count("*") / 1e8
    return gk.groupBy("l_partkey").agg(
        F.count("*").alias("n_days"),
        (
            F.round(F.sqrt(F.greatest(mean_gk, F.lit(0.0))), 6) + 0.0
        ).alias("gk_vol_daily"),
        (
            F.round(
                F.sqrt(F.greatest(252.0 * mean_gk, F.lit(0.0))), 6
            ) + 0.0
        ).alias("gk_vol_annual"),
    )


# --------------------------------------------------------------------------
# Amihud illiquidity ratio (round 9)
# --------------------------------------------------------------------------
@query(
    "amihud_illiquidity",
    # daily close is an exact integer under the _ORD total order,
    # daily dollar volume is an exact integer-cents x integer-quantity
    # sum, the |return|/volume ratio is one identical double quantized
    # to integer units before the per-ticker average (atr_14
    # discipline).
    oracle="""
    WITH b AS (
        SELECT l_partkey,
               CAST(date_trunc('day', l_shipdate) AS DATE) AS d,
               CAST(round(l_extendedprice * 10000, 0) AS BIGINT) AS px_u,
               CAST(round(l_extendedprice * 100, 0) AS BIGINT)
                   * CAST(round(l_quantity, 0) AS BIGINT) AS dv_cents,
               l_orderkey, l_linenumber, l_extendedprice
        FROM lineitem
    ),
    lc AS (
        SELECT l_partkey, d, dv_cents,
               last_value(px_u) OVER (
                   PARTITION BY l_partkey, d
                   ORDER BY l_orderkey, l_linenumber, l_extendedprice
                   ROWS BETWEEN UNBOUNDED PRECEDING
                            AND UNBOUNDED FOLLOWING
               ) AS c
        FROM b
    ),
    daily AS (
        SELECT l_partkey, d, any_value(c) AS c, sum(dv_cents) AS dv
        FROM lc GROUP BY 1, 2
    ),
    r AS (
        SELECT l_partkey, d, c, dv,
               lag(c) OVER (PARTITION BY l_partkey ORDER BY d) AS c1
        FROM daily
    ),
    il AS (
        SELECT l_partkey,
               CAST(round(1e9 * abs(CAST(c AS DOUBLE) / c1 - 1.0)
                          / dv * 1e4, 0) AS BIGINT) AS illiq_u
        FROM r WHERE c1 IS NOT NULL AND dv > 0
    )
    SELECT l_partkey,
           CAST(count(*) AS BIGINT) AS n_days,
           CAST(sum(illiq_u) // count(*) AS DOUBLE) / 1e4 + 0.0
               AS amihud_illiq
    FROM il
    GROUP BY l_partkey
    """,
    tags=("finance", "liquidity", "indicator"),
)
def amihud_illiquidity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Amihud (2002) illiquidity ratio per ticker: the average of
    |daily return| / daily dollar volume (scaled x1e9) — the standard
    price-impact-per-traded-dollar proxy used in asset-pricing and
    execution-cost screens; the liquidity companion to vwap_premium.

    Parity: daily close is the last observation under the _ORD total
    order (arg_max over exact integer price units), dollar volume is
    an exact integer (cents x integral quantity), and the per-day
    ratio is one identical double quantized to integer 1e-4 units
    before the per-ticker average.

    Scale shape: one (ticker, day) map-side-combined groupBy, one lag
    window on the per-ticker daily frame (same key — sort reused),
    one keyed aggregate."""
    t = load(spark, sf_dir)
    px = F.col("l_extendedprice")
    tb = F.struct("l_orderkey", "l_linenumber", "l_extendedprice")
    b = t.lineitem.select(
        "l_partkey",
        F.to_date(F.date_trunc("day", "l_shipdate")).alias("d"),
        F.round(px * 10000, 0).cast("long").alias("px_u"),
        (
            F.round(px * 100, 0).cast("long")
            * F.round(F.col("l_quantity"), 0).cast("long")
        ).alias("dv_cents"),
        "l_orderkey", "l_linenumber", "l_extendedprice",
    )
    daily = b.groupBy("l_partkey", "d").agg(
        F.max_by("px_u", tb).alias("c"),
        F.sum("dv_cents").alias("dv"),
    )
    r = daily.select(
        "l_partkey", "c", "dv",
        F.lag("c").over(
            W.partitionBy("l_partkey").orderBy("d")
        ).alias("c1"),
    )
    il = r.where(F.col("c1").isNotNull() & (F.col("dv") > 0)).select(
        "l_partkey",
        F.round(
            1e9
            * F.abs(F.col("c").cast("double") / F.col("c1") - 1.0)
            / F.col("dv") * 1e4,
            0,
        ).cast("long").alias("illiq_u"),
    )
    return il.groupBy("l_partkey").agg(
        F.count("*").alias("n_days"),
        (
            (
                (F.sum("illiq_u") - F.sum("illiq_u") % F.count("*"))
                / F.count("*")
            ).cast("long").cast("double") / 1e4 + 0.0
        ).alias("amihud_illiq"),
    )


# --------------------------------------------------------------------------
# On-balance volume (round 9)
# --------------------------------------------------------------------------
@query(
    "obv_trend",
    # OBV is pure integer arithmetic end to end: integral quantities
    # signed by an exact integer price comparison, summed by a
    # per-ticker running window — nothing to round.
    oracle=f"""
    WITH b AS (
        SELECT l_partkey,
               CAST(round(l_quantity, 0) AS BIGINT) AS qty,
               CAST(round(l_extendedprice * 10000, 0) AS BIGINT) AS px_u,
               lag(CAST(round(l_extendedprice * 10000, 0) AS BIGINT))
                   OVER (PARTITION BY l_partkey ORDER BY {_ORD})
                   AS prev_u,
               l_shipdate, l_orderkey, l_linenumber, l_extendedprice
        FROM lineitem
    ),
    s AS (
        SELECT l_partkey,
               CASE WHEN px_u > prev_u THEN qty
                    WHEN px_u < prev_u THEN -qty
                    ELSE 0 END AS signed_qty,
               sum(CASE WHEN px_u > prev_u THEN qty
                        WHEN px_u < prev_u THEN -qty
                        ELSE 0 END) OVER (
                   PARTITION BY l_partkey ORDER BY {_ORD}
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS obv_run
        FROM b WHERE prev_u IS NOT NULL
    )
    SELECT l_partkey,
           CAST(count(*) AS BIGINT) AS n_obs,
           CAST(sum(signed_qty) AS BIGINT) AS obv_final,
           CAST(max(obv_run) AS BIGINT) AS obv_peak,
           CAST(min(obv_run) AS BIGINT) AS obv_trough
    FROM s
    GROUP BY l_partkey
    """,
    tags=("finance", "window", "indicator"),
)
def obv_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """On-balance volume per ticker (Granville 1963): quantity flows
    signed by the direction of each price change, accumulated along
    the series — final OBV plus its running peak/trough, the
    volume-confirms-price indicator beside the price-only channel
    family (RSI/MACD/Bollinger/stochastic).

    Parity + scale shape: one (ticker, time) window sort shared by the
    lag and the running sum, then a keyed aggregate; every value is an
    exact integer (integral quantities, exact integer price compare),
    so no float parity surface exists at all."""
    t = load(spark, sf_dir)
    order = ["l_shipdate", "l_orderkey", "l_linenumber", "l_extendedprice"]
    u = F.round(F.col("l_extendedprice") * 10000, 0).cast("long")
    wl = W.partitionBy("l_partkey").orderBy(*order)
    b = t.lineitem.select(
        "l_partkey",
        F.round(F.col("l_quantity"), 0).cast("long").alias("qty"),
        u.alias("px_u"),
        F.lag(u).over(wl).alias("prev_u"),
        *order,
    ).where(F.col("prev_u").isNotNull())
    signed = (
        F.when(F.col("px_u") > F.col("prev_u"), F.col("qty"))
        .when(F.col("px_u") < F.col("prev_u"), -F.col("qty"))
        .otherwise(F.lit(0))
    )
    wrun = (
        W.partitionBy("l_partkey")
        .orderBy(*order)
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    s = b.select(
        "l_partkey",
        signed.alias("signed_qty"),
        F.sum(signed).over(wrun).alias("obv_run"),
    )
    return s.groupBy("l_partkey").agg(
        F.count("*").alias("n_obs"),
        F.sum("signed_qty").cast("long").alias("obv_final"),
        F.max("obv_run").cast("long").alias("obv_peak"),
        F.min("obv_run").cast("long").alias("obv_trough"),
    )


# --------------------------------------------------------------------------
# Log-log price elasticity by brand (round 9)
# --------------------------------------------------------------------------
@query(
    "price_elasticity_by_brand",
    # per-row logs are identical doubles (exact integer cents /
    # integral quantities in); the bivariate regression aggregates are
    # the only float accumulations, absorbed by the 4-digit rounding
    # (the acf/heaps float discipline).
    oracle="""
    WITH b AS (
        SELECT p.p_brand,
               ln(CAST(round(l.l_extendedprice * 100, 0) AS DOUBLE))
                   AS lp,
               ln(CAST(round(l.l_quantity, 0) AS DOUBLE)) AS lq
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    )
    SELECT p_brand,
           CAST(count(*) AS BIGINT) AS n_obs,
           round(regr_slope(lq, lp), 4) + 0.0 AS elasticity,
           round(regr_intercept(lq, lp), 4) + 0.0 AS log_intercept,
           round(corr(lq, lp) * corr(lq, lp), 4) + 0.0 AS r2
    FROM b
    GROUP BY p_brand
    """,
    tags=("finance", "regression"),
)
def price_elasticity_by_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Own-price elasticity of demand per brand: the log-log OLS slope
    of quantity on price (d ln q / d ln p — THE elasticity estimator
    of empirical pricing work), with intercept and fit quality — the
    pricing-decision companion to ols_price_on_qty's level-space
    regression, grouped by the brand dimension.

    Scale shape + parity: one broadcast dimension join (part is tiny),
    one keyed bivariate-aggregate pass with map-side partials; logs
    run on exact integers so only the regression sums are float
    (rounded at 4 digits, the acf discipline)."""
    t = load(spark, sf_dir)
    b = t.lineitem.join(
        F.broadcast(t.part.select("p_partkey", "p_brand")),
        F.col("p_partkey") == F.col("l_partkey"),
    ).select(
        "p_brand",
        F.log(
            F.round(F.col("l_extendedprice") * 100, 0).cast("double")
        ).alias("lp"),
        F.log(F.round(F.col("l_quantity"), 0).cast("double")).alias(
            "lq"
        ),
    )
    lq, lp = F.col("lq"), F.col("lp")
    return b.groupBy("p_brand").agg(
        F.count("*").alias("n_obs"),
        (F.round(F.regr_slope(lq, lp), 4) + 0.0).alias("elasticity"),
        (F.round(F.regr_intercept(lq, lp), 4) + 0.0).alias(
            "log_intercept"
        ),
        (F.round(F.corr(lq, lp) * F.corr(lq, lp), 4) + 0.0).alias("r2"),
    )


# --------------------------------------------------------------------------
# Herfindahl-Hirschman supplier concentration (round 9)
# --------------------------------------------------------------------------
@query(
    "hhi_supplier_concentration",
    # per-supplier revenues are exact integer cents; shares are exact
    # ratios of DECIMAL sums, HHI is one squared-share sum per nation
    # over the bounded supplier frame (absorbed by rounding).
    oracle="""
    WITH r AS (
        SELECT s.s_nationkey,
               l.l_suppkey,
               sum(CAST(round(l.l_extendedprice * 100, 0) AS BIGINT))
                   AS cents
        FROM lineitem l JOIN supplier s ON s.s_suppkey = l.l_suppkey
        GROUP BY 1, 2
    ),
    n AS (
        SELECT r.s_nationkey, r.l_suppkey, r.cents,
               sum(r.cents) OVER (PARTITION BY r.s_nationkey) AS tot,
               count(*) OVER (PARTITION BY r.s_nationkey) AS n_sup
        FROM r
    )
    SELECT nat.n_name,
           CAST(max(n_sup) AS BIGINT) AS n_suppliers,
           round(sum((CAST(cents AS DOUBLE) / tot)
                     * (CAST(cents AS DOUBLE) / tot)) * 10000.0, 4)
               + 0.0 AS hhi,
           round(1.0 / max(n_sup) * 10000.0, 4) + 0.0 AS hhi_floor
    FROM n JOIN nation nat ON nat.n_nationkey = n.s_nationkey
    GROUP BY nat.n_name
    """,
    tags=("finance", "concentration"),
)
def hhi_supplier_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl-Hirschman index of supplier revenue concentration
    per nation (on the DOJ's 0-10,000 scale; > 2,500 = highly
    concentrated), with the 1/n perfect-competition floor — the
    antitrust-standard concentration measure beside
    gini_revenue_concentration's inequality view and
    revenue_share_by_nation's raw shares.

    Scale shape + parity: facts collapse to one integer-cents row per
    (nation, supplier) in a map-side-combined groupBy (the supplier
    dim joins broadcast); shares are exact ratios over the
    nation-partitioned window; one keyed rollup."""
    t = load(spark, sf_dir)
    r = (
        t.lineitem.join(
            F.broadcast(t.supplier.select("s_suppkey", "s_nationkey")),
            F.col("s_suppkey") == F.col("l_suppkey"),
        )
        .groupBy("s_nationkey", "l_suppkey")
        .agg(
            F.sum(
                F.round(F.col("l_extendedprice") * 100, 0).cast("long")
            ).alias("cents")
        )
    )
    wn = W.partitionBy("s_nationkey")
    n = r.select(
        "s_nationkey", "cents",
        F.sum("cents").over(wn).alias("tot"),
        F.count("*").over(wn).alias("n_sup"),
    )
    share = F.col("cents").cast("double") / F.col("tot")
    return (
        n.join(
            F.broadcast(t.nation.select("n_nationkey", "n_name")),
            F.col("n_nationkey") == F.col("s_nationkey"),
        )
        .groupBy("n_name")
        .agg(
            F.max("n_sup").cast("long").alias("n_suppliers"),
            (F.round(F.sum(share * share) * 10000.0, 4) + 0.0).alias(
                "hhi"
            ),
            (
                F.round(1.0 / F.max("n_sup") * 10000.0, 4) + 0.0
            ).alias("hhi_floor"),
        )
    )


# --------------------------------------------------------------------------
# Laspeyres / Paasche / Fisher price indexes (round 9)
# --------------------------------------------------------------------------
_IDX_BASE = ("1994-01-01", "1995-01-01")   #: base period [lo, hi)
_IDX_CURR = ("1996-01-01", "1997-01-01")   #: current period [lo, hi)


@query(
    "fisher_price_index",
    # per-part period aggregates are exact integers (cents sums,
    # integral quantity sums); the four basket cross-sums use exact
    # average prices (integer ratios) times integer base/current
    # quantities — identical doubles both engines, with only the
    # final part-level sums floating (absorbed by the rounding).
    oracle=f"""
    WITH base AS (
        SELECT l_partkey,
               sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT))
                   AS cents0,
               sum(CAST(round(l_quantity, 0) AS BIGINT)) AS q0,
               count(*) AS n0
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '{_IDX_BASE[0]} 00:00:00'
          AND l_shipdate <  TIMESTAMP '{_IDX_BASE[1]} 00:00:00'
        GROUP BY l_partkey
    ),
    curr AS (
        SELECT l_partkey,
               sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT))
                   AS cents1,
               sum(CAST(round(l_quantity, 0) AS BIGINT)) AS q1,
               count(*) AS n1
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '{_IDX_CURR[0]} 00:00:00'
          AND l_shipdate <  TIMESTAMP '{_IDX_CURR[1]} 00:00:00'
        GROUP BY l_partkey
    ),
    j AS (
        SELECT b.l_partkey,
               CAST(b.cents0 AS DOUBLE) / b.n0 AS p0,
               CAST(c.cents1 AS DOUBLE) / c.n1 AS p1,
               b.q0, c.q1
        FROM base b JOIN curr c ON c.l_partkey = b.l_partkey
    ),
    s AS (
        SELECT count(*) AS n_parts,
               sum(p1 * q0) AS p1q0, sum(p0 * q0) AS p0q0,
               sum(p1 * q1) AS p1q1, sum(p0 * q1) AS p0q1
        FROM j
    )
    SELECT CAST(n_parts AS BIGINT) AS n_parts,
           round(p1q0 / p0q0, 6) + 0.0 AS laspeyres,
           round(p1q1 / p0q1, 6) + 0.0 AS paasche,
           round(sqrt((p1q0 / p0q0) * (p1q1 / p0q1)), 6) + 0.0
               AS fisher
    FROM s
    """,
    tags=("finance", "index"),
)
def fisher_price_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Laspeyres (base-period basket), Paasche (current basket) and
    Fisher ideal price indexes between two fixed years, over the parts
    traded in BOTH periods — the national-accounts standard for
    aggregate price change (Fisher's geometric mean is the
    superlative index CPI methodology prefers), and the level-shift
    companion to mom_revenue_growth's revenue deltas.

    Scale shape + parity: two pushdown-filtered per-part aggregates
    (map-side combined), one part-keyed equi-join, one basket rollup;
    per-part average prices are exact integer ratios, so only the
    final four basket sums are float accumulations (rounded)."""
    t = load(spark, sf_dir)
    cents = F.round(F.col("l_extendedprice") * 100, 0).cast("long")
    qty = F.round(F.col("l_quantity"), 0).cast("long")

    def period(lo: str, hi: str, tagn: str):
        return (
            t.lineitem.where(
                (F.col("l_shipdate") >= F.lit(lo).cast("timestamp"))
                & (F.col("l_shipdate") < F.lit(hi).cast("timestamp"))
            )
            .groupBy("l_partkey")
            .agg(
                F.sum(cents).alias(f"cents{tagn}"),
                F.sum(qty).alias(f"q{tagn}"),
                F.count("*").alias(f"n{tagn}"),
            )
        )

    base = period(*_IDX_BASE, "0")
    curr = period(*_IDX_CURR, "1")
    j = base.join(curr, "l_partkey").select(
        (F.col("cents0").cast("double") / F.col("n0")).alias("p0"),
        (F.col("cents1").cast("double") / F.col("n1")).alias("p1"),
        "q0", "q1",
    )
    s = j.agg(
        F.count("*").alias("n_parts"),
        F.expr("sum(p1 * q0)").alias("p1q0"),
        F.expr("sum(p0 * q0)").alias("p0q0"),
        F.expr("sum(p1 * q1)").alias("p1q1"),
        F.expr("sum(p0 * q1)").alias("p0q1"),
    )
    lasp = F.col("p1q0") / F.col("p0q0")
    paas = F.col("p1q1") / F.col("p0q1")
    return s.select(
        F.col("n_parts").cast("long").alias("n_parts"),
        (F.round(lasp, 6) + 0.0).alias("laspeyres"),
        (F.round(paas, 6) + 0.0).alias("paasche"),
        (F.round(F.sqrt(lasp * paas), 6) + 0.0).alias("fisher"),
    )


# --------------------------------------------------------------------------
# Historical VaR / CVaR on daily revenue changes (round 10)
# --------------------------------------------------------------------------
@query(
    "var_cvar_daily_revenue",
    # day-over-day revenue changes are exact integer cents; VaR is the
    # interpolated 5% quantile (quantile_cont — the same definition
    # grouped_exact_percentiles computes distributed), CVaR the exact
    # integer mean of the changes at or below it. The d <= var
    # comparison is integer-vs-identical-double, so membership in the
    # tail is deterministic on both engines.
    oracle=f"""
    WITH daily AS ({daily_revenue_sql("y")}),
    diffs AS (
        SELECT y - lag(y) OVER (ORDER BY d) AS dy FROM daily
        QUALIFY dy IS NOT NULL
    ),
    v AS (SELECT quantile_cont(dy, 0.05) AS var95 FROM diffs)
    SELECT (SELECT count(*) FROM diffs)::BIGINT AS n_days,
           round(v.var95, 4) + 0.0 AS var95_cents,
           round((SELECT avg(dy) FROM diffs WHERE dy <= v.var95), 4)
               + 0.0 AS cvar95_cents,
           (SELECT count(*) FROM diffs WHERE dy <= v.var95)::BIGINT
               AS n_tail
    FROM v
    """,
    tags=("finance", "risk", "percentile", "bounded-window"),
)
def var_cvar_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Historical 95% Value-at-Risk and Conditional VaR (expected
    shortfall) of day-over-day revenue changes: VaR is the empirical
    5% quantile of the change distribution, CVaR the mean change at or
    below it — the regulatory-style tail-risk pair that complements
    max_drawdown (path risk) and garman_klass_volatility (dispersion)
    with explicit tail numbers.

    Scale shape + parity: one row per day first (calendar-bounded);
    the lag is a window over that daily frame only (bounded-window
    tag); the exact quantile comes from
    operators/percentiles.grouped_exact_percentiles — range-partitioned
    order statistics, NO holistic single-task percentile — and the
    tail mean is one broadcast-scalar filter + exact integer mean."""
    from ..operators.percentiles import grouped_exact_percentiles

    t = load(spark, sf_dir)
    daily = daily_revenue(t.orders, "y")
    diffs = (
        daily.select(
            (F.col("y") - F.lag("y").over(W.orderBy("d"))).alias("dy")
        )
        .where(F.col("dy").isNotNull())
        .withColumn("_g", F.lit(1))
    )
    v = grouped_exact_percentiles(
        diffs, ["_g"], "dy", [0.05], names=["var95"]
    ).select("var95")
    return (
        diffs.crossJoin(F.broadcast(v))
        .groupBy("var95")
        .agg(
            F.count("*").cast("long").alias("n_days"),
            F.round(
                F.avg(F.when(F.col("dy") <= F.col("var95"), F.col("dy"))),
                4,
            ).alias("_cvar"),
            F.sum(
                F.when(F.col("dy") <= F.col("var95"), 1).otherwise(0)
            ).cast("long").alias("n_tail"),
        )
        .select(
            "n_days",
            (F.round(F.col("var95"), 4) + 0.0).alias("var95_cents"),
            (F.col("_cvar") + 0.0).alias("cvar95_cents"),
            "n_tail",
        )
    )


# --------------------------------------------------------------------------
# Gumbel extreme-value fit on weekly block maxima (round 10)
# --------------------------------------------------------------------------
_EULER_GAMMA = 0.5772156649015329
_GUMBEL_T = 52  #: return period in blocks (weeks) — one trading year


@query(
    "gumbel_weekly_max_revenue",
    # weekly block maxima are exact integer cents (max of exact daily
    # sums); their first two moments come from exact DECIMAL sums; the
    # method-of-moments Gumbel parameters and the T-block return level
    # are one identical double expression per engine (the Euler-
    # Mascheroni literal is interpolated into both from the same
    # Python float, so the IEEE arithmetic matches bit for bit).
    oracle=f"""
    WITH daily AS ({daily_revenue_sql("y")}),
    blocks AS (
        SELECT date_trunc('week', d) AS w, max(y) AS m
        FROM daily GROUP BY 1
    ),
    mo AS (
        SELECT CAST(count(*) AS DECIMAL(38,0)) AS n,
               sum(CAST(m AS DECIMAL(38,0))) AS s,
               sum(CAST(m AS DECIMAL(38,0)) * CAST(m AS DECIMAL(38,0)))
                   AS ss
        FROM blocks
    ),
    d AS (
        SELECT CAST(n AS DOUBLE) AS n,
               CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS mean,
               sqrt((CAST(ss AS DOUBLE)
                     - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                       / CAST(n AS DOUBLE))
                    / (CAST(n AS DOUBLE) - 1)) AS sd
        FROM mo
    ),
    p AS (
        SELECT n, mean, sd,
               sd * sqrt(6.0) / pi() AS beta
        FROM d
    )
    SELECT CAST(n AS BIGINT) AS n_blocks,
           round(mean - {_EULER_GAMMA!r} * beta, 4) + 0.0 AS gumbel_loc,
           round(beta, 4) + 0.0 AS gumbel_scale,
           round((mean - {_EULER_GAMMA!r} * beta)
                 - beta * ln(-ln(1.0 - 1.0 / {_GUMBEL_T})), 4) + 0.0
               AS return_level_{_GUMBEL_T}w
    FROM p
    """,
    tags=("finance", "risk", "stats"),
)
def gumbel_weekly_max_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extreme-value analysis of weekly peak revenue: fit a Gumbel
    (EV-I) distribution to weekly block maxima by method of moments
    (scale = s sqrt(6)/pi, loc = mean - gamma*scale — the classical
    Fisher-Tippett block-maxima recipe) and report the {T}-week return
    level, the 'once-a-year peak' a capacity planner provisions for —
    the extreme-tail complement to var_cvar_daily_revenue (which
    prices the 5% tail, not the annual maximum).

    Scale shape + parity: daily collapse, weekly max (both keyed
    aggregates — no windows at all), one exact-DECIMAL moment pass
    over the ~n_weeks-row block frame, scalar double arithmetic."""
    t = load(spark, sf_dir)
    daily = daily_revenue(t.orders, "y")
    blocks = daily.groupBy(F.date_trunc("week", "d").alias("w")).agg(
        F.max("y").alias("m")
    )
    dec = "decimal(38,0)"
    mo = blocks.agg(
        F.expr("CAST(count(*) AS DECIMAL(38,0))").alias("n"),
        F.expr("sum(CAST(m AS DECIMAL(38,0)))").alias("s"),
        F.expr("sum(CAST(m AS DECIMAL(38,0)) * CAST(m AS DECIMAL(38,0)))").alias("ss"),
    )
    d = mo.select(
        F.col("n").cast("double").alias("n"),
        (F.col("s").cast("double") / F.col("n").cast("double")).alias(
            "mean"
        ),
        F.sqrt(
            (
                F.col("ss").cast("double")
                - F.col("s").cast("double") * F.col("s").cast("double")
                / F.col("n").cast("double")
            )
            / (F.col("n").cast("double") - 1)
        ).alias("sd"),
    )
    import math

    p = d.select(
        "n", "mean",
        (F.col("sd") * math.sqrt(6.0) / math.pi).alias("beta"),
    )
    loc = F.col("mean") - _EULER_GAMMA * F.col("beta")
    return p.select(
        F.col("n").cast("long").alias("n_blocks"),
        (F.round(loc, 4) + 0.0).alias("gumbel_loc"),
        (F.round(F.col("beta"), 4) + 0.0).alias("gumbel_scale"),
        (
            F.round(
                loc
                - F.col("beta")
                * F.log(-F.log(F.lit(1.0) - 1.0 / _GUMBEL_T)),
                4,
            ) + 0.0
        ).alias(f"return_level_{_GUMBEL_T}w"),
    )
