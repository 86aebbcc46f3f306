"""Data-quality profiling — the expectations-style checks a warehouse
migration runs before trusting a table (row counts, key uniqueness,
referential integrity, domain constraints), emitted as one long
(check, value, pass) frame.

Reference parity: the reference validates inputs ad hoc (regex guard
`main.py:23-31`, null→0 coercion `dataAcquisition.py:58-66`); this is
the systematized form a 100 TB lakehouse actually operates with.

Scale notes: every metric folds into ONE pass over `orders` (conditional
aggregates in a single HashAggregate, map-side partials) plus one
broadcast anti-join for the FK orphan count; the per-check rows come
from unpivoting the single aggregate row — no per-check scan, no
driver-side loop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..catalog import load
from ..operators.rank import ordered_scan
from .daily import daily_revenue, daily_revenue_sql
from .registry import query

#: o_orderdate sanity bounds (TPC-H generation window)
DATE_LO, DATE_HI = "1992-01-01", "1998-12-31"


@query(
    "table_profile_checks",
    oracle=f"""
    WITH m AS (
        SELECT count(*) AS row_count,
               count(*) - count(DISTINCT o_orderkey) AS pk_dup_count,
               sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)
                   AS null_custkey_count,
               sum(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END)
                   AS nonpos_totalprice_count,
               sum(CASE WHEN o_orderdate < DATE '{DATE_LO}'
                         OR o_orderdate > DATE '{DATE_HI}'
                        THEN 1 ELSE 0 END) AS date_out_of_range_count,
               sum(CASE WHEN o_orderstatus NOT IN ('O', 'F', 'P')
                        THEN 1 ELSE 0 END) AS bad_status_count
        FROM orders
    ),
    orphan AS (
        SELECT count(*) AS fk_orphan_count
        FROM orders o
        WHERE NOT EXISTS (
            SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey
        )
    )
    SELECT 'row_count' AS check_name, row_count::BIGINT AS value,
           row_count > 0 AS pass FROM m
    UNION ALL
    SELECT 'pk_dup_count', pk_dup_count::BIGINT, pk_dup_count = 0 FROM m
    UNION ALL
    SELECT 'null_custkey_count', null_custkey_count::BIGINT,
           null_custkey_count = 0 FROM m
    UNION ALL
    SELECT 'nonpos_totalprice_count', nonpos_totalprice_count::BIGINT,
           nonpos_totalprice_count = 0 FROM m
    UNION ALL
    SELECT 'date_out_of_range_count', date_out_of_range_count::BIGINT,
           date_out_of_range_count = 0 FROM m
    UNION ALL
    SELECT 'bad_status_count', bad_status_count::BIGINT,
           bad_status_count = 0 FROM m
    UNION ALL
    SELECT 'fk_orphan_count', fk_orphan_count::BIGINT,
           fk_orphan_count = 0 FROM orphan
    """,
    tags=("profile", "quality", "constraints"),
)
def table_profile_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expectations suite over `orders`: row count, primary-key
    uniqueness, FK null rate, price domain, date range, status domain,
    and customer referential integrity. Six metrics fold into one
    conditional HashAggregate over a single scan; the FK orphan count
    is a broadcast anti-join (customer is the dimension side); the
    (check, value, pass) rows unpivot from the one aggregate row."""
    t = load(spark, sf_dir)
    m = t.orders.agg(
        F.count("*").alias("row_count"),
        (F.count("*") - F.countDistinct("o_orderkey")).alias("pk_dup_count"),
        F.sum(F.when(F.col("o_custkey").isNull(), 1).otherwise(0)).alias(
            "null_custkey_count"
        ),
        F.sum(F.when(F.col("o_totalprice") <= 0, 1).otherwise(0)).alias(
            "nonpos_totalprice_count"
        ),
        F.sum(
            F.when(
                (F.col("o_orderdate") < F.lit(DATE_LO).cast("date"))
                | (F.col("o_orderdate") > F.lit(DATE_HI).cast("date")),
                1,
            ).otherwise(0)
        ).alias("date_out_of_range_count"),
        F.sum(
            F.when(~F.col("o_orderstatus").isin("O", "F", "P"), 1).otherwise(0)
        ).alias("bad_status_count"),
    )
    orphan = (
        t.orders.join(
            F.broadcast(t.customer),
            F.col("o_custkey") == F.col("c_custkey"),
            "left_anti",
        )
        .agg(F.count("*").alias("fk_orphan_count"))
    )
    checks = [
        ("row_count", F.col("row_count"), F.col("row_count") > 0),
        ("pk_dup_count", F.col("pk_dup_count"), F.col("pk_dup_count") == 0),
        (
            "null_custkey_count",
            F.col("null_custkey_count"),
            F.col("null_custkey_count") == 0,
        ),
        (
            "nonpos_totalprice_count",
            F.col("nonpos_totalprice_count"),
            F.col("nonpos_totalprice_count") == 0,
        ),
        (
            "date_out_of_range_count",
            F.col("date_out_of_range_count"),
            F.col("date_out_of_range_count") == 0,
        ),
        (
            "bad_status_count",
            F.col("bad_status_count"),
            F.col("bad_status_count") == 0,
        ),
    ]
    rows = m.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(name).alias("check_name"),
                        val.cast("long").alias("value"),
                        ok.alias("pass"),
                    )
                    for name, val, ok in checks
                ]
            )
        ).alias("c")
    ).select("c.*")
    orphan_row = orphan.select(
        F.lit("fk_orphan_count").alias("check_name"),
        F.col("fk_orphan_count").cast("long").alias("value"),
        (F.col("fk_orphan_count") == 0).alias("pass"),
    )
    return rows.unionByName(orphan_row)


# --------------------------------------------------------------------------
# Exact heavy hitters: Misra-Gries candidates + exact recount
# --------------------------------------------------------------------------
HH_SUPPORT = 0.2

_HH_ORACLE = f"""
WITH c AS (SELECT event_type, count(*) AS cnt FROM events GROUP BY 1),
n AS (SELECT count(*) AS total FROM events)
SELECT c.event_type, c.cnt
FROM c CROSS JOIN n
WHERE c.cnt > {HH_SUPPORT} * n.total
"""


@query(
    "heavy_hitters_exact",
    oracle=_HH_ORACLE,
    tags=("aggregate", "sketch", "profile", "scale-path"),
)
def heavy_hitters_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event types with frequency > 20%, found the bounded-memory way:
    per-partition Misra-Gries summaries (operators/heavy.py) generate a
    provably complete candidate set with O(1/support) state and NO
    shuffle, then only candidates are recounted exactly behind a
    broadcast semi-join.  The result is exact — the sketch bounds the
    candidate set, never the reported counts — so a plain GROUP BY twin
    checks it.

    Scale shape: a full groupBy on a hot-key column shuffles every
    distinct key; this shuffles only candidate rows after the semi-join
    filter.  At 100 TB with billions of distinct keys and support 1e-4,
    pass-1 state is 20k counters per task and the recount aggregates
    ~1/support keys — the standard hot-key detector in front of
    operators/skew.salted_join."""
    from ..operators.heavy import heavy_hitters

    t = load(spark, sf_dir)
    return heavy_hitters(t.events, "event_type", support=HH_SUPPORT)


@query(
    "gini_revenue_concentration",
    oracle="""
    WITH rev AS (
        SELECT o_custkey,
               sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS x
        FROM orders GROUP BY o_custkey
    ),
    stats AS (
        SELECT count(*) AS n, sum(x) AS total FROM rev
    ),
    -- INDEPENDENT algorithm: the O(n^2) pairwise identity
    -- sum_ij |x_i - x_j| == 2*(2*sum(i*x_(i)) - (n+1)*sum(x)); exact
    -- integer equality (the sum is even by symmetry), so any rank/tie
    -- bug in the window form is caught by a formula that never ranks
    pairsum AS (
        SELECT sum(abs(a.x - b.x)) AS s
        FROM rev a CROSS JOIN rev b
    )
    SELECT CAST(stats.n AS BIGINT) AS n_customers,
           CAST(stats.total AS BIGINT) AS total_cents,
           CAST((pairsum.s // 2 * 1000000)
                // NULLIF(stats.n * stats.total, 0) AS BIGINT)
               AS gini_ppm
    FROM stats CROSS JOIN pairsum
    """,
    tags=("profile", "analytics", "inequality"),
)
def gini_revenue_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of customer revenue concentration via the
    rank formula G = (2*sum(i*x_i) - (n+1)*sum(x)) / (n*sum(x)) over
    ascending-ranked revenues — the inequality statistic completing
    the Pareto/ABC family. All integer cents, with WIDE intermediates:
    `sum(i*x)` and `n*total` leave int64 around sf10 (n ~ 1.5e5·sf,
    total ~ 2e13·sf cents), so the Spark side accumulates them in
    DECIMAL(38,0) — exact to ~1e38, covering any realistic SF — while
    DuckDB's sum() is already HUGEINT (int128). The ppm is ONE exact
    integer division, (numerator·1e6) div (n·total), all-wide until
    the final div whose quotient is ≤ 1e6 (numerator and denominator
    are non-negative, so Spark's truncating `div` and DuckDB's
    flooring `//` agree); documented convention: deterministic integer
    div, not round(G*1e6).

    Scale shape: facts reduce to one integer per customer; the global
    rank comes from operators/rank.ordered_scan — range repartition +
    local row_number + driver-computed partition offsets — so the rank
    of 1e9 customers is a fully parallel range shuffle, never a
    single-task `Window.orderBy()` sort; one final aggregate."""
    t = load(spark, sf_dir)
    rev = (
        t.orders.select(
            "o_custkey",
            F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("x"),
        )
        .groupBy("o_custkey")
        .agg(F.sum("x").alias("x"))
    )
    ranked = ordered_scan(
        rev, ["x", "o_custkey"], rank="i", checkpoint_input=True
    )
    return ranked.agg(
        F.count("*").alias("n_customers"),
        F.sum("x").alias("total_cents"),
        F.expr(
            "((2 * sum(CAST(i AS DECIMAL(38,0)) * x)"
            " - (CAST(count(*) AS DECIMAL(38,0)) + 1)"
            " * sum(CAST(x AS DECIMAL(38,0))))"
            " * 1000000)"
            " div nullif(CAST(count(*) AS DECIMAL(38,0))"
            " * sum(CAST(x AS DECIMAL(38,0))), 0)"
        ).alias("gini_ppm"),
    )


#: Poisson(1) inverse-CDF thresholds on a 32-bit md5 uniform — the
#: SAME literals in the Spark plan and the oracle SQL (shared-constant
#: convention, cf. plans/similarity.py plane literals). k caps at 6
#: (P[k>6] < 1e-4).
_POIS_T = (1580030169, 3160060337, 3950075422, 4213413783, 4279248374,
           4292415292)
_BOOT_B = 100


def _pois_case(u: str) -> str:
    branches = " ".join(
        f"WHEN {u} < {t} THEN {k}" for k, t in enumerate(_POIS_T)
    )
    return f"CASE {branches} ELSE 6 END"


@query(
    "poisson_bootstrap_ci",
    oracle=f"""
    WITH rev AS (
        SELECT o_custkey,
               sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS x
        FROM orders GROUP BY o_custkey
    ),
    reps AS (
        SELECT b.b, r.x,
               ('0x' || substr(md5('boot' || b.b::VARCHAR || '|'
                                   || r.o_custkey::VARCHAR), 1, 8))::BIGINT
                   AS u
        FROM rev r CROSS JOIN (
            SELECT unnest(range({_BOOT_B})) AS b
        ) b
    ),
    means AS (
        SELECT b,
               CAST(sum({_pois_case('u')} * x) * 100
                    // NULLIF(sum({_pois_case('u')}), 0) AS BIGINT)
                   AS mean_tcents
        FROM reps GROUP BY b
    ),
    ranked AS (
        SELECT mean_tcents,
               row_number() OVER (ORDER BY mean_tcents, b) AS rn
        FROM means
    ),
    point AS (
        SELECT CAST(sum(x) * 100 // count(*) AS BIGINT) AS est FROM rev
    )
    SELECT CAST({_BOOT_B} AS BIGINT) AS n_replicas,
           max(point.est) AS mean_tcents,
           max(CASE WHEN rn = {(5 * _BOOT_B + 99) // 100}
               THEN ranked.mean_tcents END) AS ci_lo_tcents,
           max(CASE WHEN rn = {(95 * _BOOT_B + 99) // 100}
               THEN ranked.mean_tcents END) AS ci_hi_tcents
    FROM ranked CROSS JOIN point
    """,
    tags=("profile", "stats", "bootstrap", "bounded-window"),
)
def poisson_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson(1) multiplier bootstrap for the mean customer revenue —
    the distributed bootstrap (each replica reweights rows by an iid
    Poisson(1) count, the large-n limit of multinomial resampling —
    the trick that makes bootstrap shuffle-free on a cluster: no
    resample materialization, just B weighted aggregates in ONE pass).
    Weights come from the portable md5 hash through a shared
    inverse-CDF threshold table, so the oracle rebuilds the identical
    replicas; the 5th/95th replica means bound the 90% CI. Outputs in
    integer hundredths-of-cents (tcents*100 scaling keeps the integer
    div exact-deterministic).

    Scale shape: facts reduce to one row per customer; the B-way
    expansion is a broadcast range join (B tiny literals); one keyed
    aggregate over (replica) with map-side partials; the final rank
    window sorts B rows. Nothing driver-side."""
    t = load(spark, sf_dir)
    rev = (
        t.orders.select(
            "o_custkey",
            F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("x"),
        )
        .groupBy("o_custkey")
        .agg(F.sum("x").alias("x"))
    )
    seeds = spark.range(_BOOT_B).select(F.col("id").alias("b"))
    u = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.lit("boot"),
                    F.col("b").cast("string"),
                    F.lit("|"),
                    F.col("o_custkey").cast("string"),
                )
            ),
            1,
            8,
        ),
        16,
        10,
    ).cast("long")
    k = F.lit(6)
    for kk in range(len(_POIS_T) - 1, -1, -1):
        k = F.when(F.col("u") < _POIS_T[kk], F.lit(kk)).otherwise(k)
    reps = rev.crossJoin(F.broadcast(seeds)).select(
        "b", "x", u.alias("u")
    )
    means = (
        reps.select("b", "x", k.alias("k"))
        .groupBy("b")
        .agg(
            F.expr(
                "CAST(sum(k * x) * 100 div nullif(sum(k), 0) AS BIGINT)"
            ).alias("mean_tcents")
        )
    )
    ranked = means.select(
        "mean_tcents",
        F.row_number().over(W.orderBy("mean_tcents", "b")).alias("rn"),
    )
    point = rev.agg(
        F.expr("CAST(sum(x) * 100 div count(*) AS BIGINT)").alias("est")
    )
    lo_rn = (5 * _BOOT_B + 99) // 100
    hi_rn = (95 * _BOOT_B + 99) // 100
    return (
        ranked.crossJoin(F.broadcast(point))
        .agg(
            F.count("*").alias("n_replicas"),
            F.max("est").alias("mean_tcents"),
            F.max(
                F.when(F.col("rn") == lo_rn, F.col("mean_tcents"))
            ).alias("ci_lo_tcents"),
            F.max(
                F.when(F.col("rn") == hi_rn, F.col("mean_tcents"))
            ).alias("ci_hi_tcents"),
        )
    )


@query(
    "weighted_median_price",
    oracle="""
    WITH c AS (
        SELECT l_returnflag,
               CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS cents,
               CAST(l_quantity AS BIGINT) AS qty
        FROM lineitem
    ),
    v AS (  -- collapse ties BEFORE the running sum: one row per value
        SELECT l_returnflag, cents, sum(qty) AS qty
        FROM c GROUP BY l_returnflag, cents
    ),
    r AS (
        SELECT l_returnflag, cents,
               sum(qty) OVER (PARTITION BY l_returnflag ORDER BY cents
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS cum,
               sum(qty) OVER (PARTITION BY l_returnflag) AS total
        FROM v
    )
    SELECT l_returnflag,
           CAST(max(total) AS BIGINT) AS total_qty,
           CAST(min(CASE WHEN cum * 2 >= total THEN cents END) AS BIGINT)
               AS wmedian_cents
    FROM r GROUP BY l_returnflag
    """,
    tags=("profile", "robust", "percentile"),
)
def weighted_median_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted median price per return flag: the smallest
    price whose cumulative traded quantity reaches half the total —
    the volume-centric center (where half the VOLUME traded at or
    below), vs the observation-median of rolling_median_price.
    Integer cents and quantities end-to-end; the threshold compare
    `cum * 2 >= total` avoids ever forming total/2 as a float.

    Scale shape: ties collapse in a keyed aggregate BEFORE the window
    (the running sum then walks distinct prices, not raw rows — at
    2-decimal prices that bounds the sorted frame), one keyed window
    sort, one final aggregate."""
    t = load(spark, sf_dir)
    c = t.lineitem.select(
        "l_returnflag",
        F.round(F.col("l_extendedprice") * 100, 0).cast("long").alias("cents"),
        F.col("l_quantity").cast("long").alias("qty"),
    )
    v = c.groupBy("l_returnflag", "cents").agg(F.sum("qty").alias("qty"))
    wcum = (
        W.partitionBy("l_returnflag")
        .orderBy("cents")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    wall = W.partitionBy("l_returnflag")
    r = v.select(
        "l_returnflag",
        "cents",
        F.sum("qty").over(wcum).alias("cum"),
        F.sum("qty").over(wall).alias("total"),
    )
    return r.groupBy("l_returnflag").agg(
        F.max("total").alias("total_qty"),
        F.min(
            F.when(F.col("cum") * 2 >= F.col("total"), F.col("cents"))
        ).alias("wmedian_cents"),
    )


@query(
    "ks_statistic_returned_vs_kept",
    oracle="""
    WITH c AS (
        SELECT CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS cents,
               CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS in_a,
               CASE WHEN l_returnflag = 'N' THEN 1 ELSE 0 END AS in_b
        FROM lineitem WHERE l_returnflag IN ('R', 'N')
    ),
    v AS (
        SELECT cents, sum(in_a) AS a, sum(in_b) AS b
        FROM c GROUP BY cents
    ),
    r AS (
        SELECT cents,
               sum(a) OVER (ORDER BY cents
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ca,
               sum(b) OVER (ORDER BY cents
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cb,
               sum(a) OVER () AS na,
               sum(b) OVER () AS nb
        FROM v
    )
    SELECT CAST(max(na) AS BIGINT) AS n_returned,
           CAST(max(nb) AS BIGINT) AS n_kept,
           CAST(max(abs(ca * nb - cb * na)) * 1000000
                // (max(na) * max(nb)) AS BIGINT) AS ks_ppm
    FROM r
    """,
    tags=("profile", "stats"),
)
def ks_statistic_returned_vs_kept(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT two-sample Kolmogorov-Smirnov statistic between the
    price distributions of returned (R) and kept (N) lineitems —
    distribution-drift detection, the two-sample test a data-quality
    monitor runs between yesterday's and today's feature
    distributions. D = max |F_a - F_b| over the pooled support,
    computed as cross-multiplied integer counts |ca*nb - cb*na| so no
    CDF is ever a float; the ppm output is one integer division.

    Scale shape: both empirical CDFs come from ONE pass — collapse to
    distinct values with per-group counts, then the cumulative counts
    come from operators/rank.ordered_scan (range repartition + local
    running sums + driver partition offsets), so the CDF walk over an
    unbounded distinct-value domain is a parallel range shuffle, never
    a single-task `Window.orderBy()`; grand totals ride along as exact
    literals from the same pass. One final max.  The ppm division
    widens to DECIMAL(38,0) first: max|ca·nb−cb·na|·1e6 leaves int64
    near sf1 while DuckDB silently promotes to HUGEINT (the gini /
    binned_wasserstein discipline)."""
    t = load(spark, sf_dir)
    c = t.lineitem.where(F.col("l_returnflag").isin("R", "N")).select(
        F.round(F.col("l_extendedprice") * 100, 0).cast("long").alias("cents"),
        (F.col("l_returnflag") == "R").cast("long").alias("in_a"),
        (F.col("l_returnflag") == "N").cast("long").alias("in_b"),
    )
    v = c.groupBy("cents").agg(
        F.sum("in_a").alias("a"), F.sum("in_b").alias("b")
    )
    r = ordered_scan(
        v,
        ["cents"],
        running={"ca": "a", "cb": "b"},
        totals={"na": "a", "nb": "b"},
    )
    return r.agg(
        F.max("na").alias("n_returned"),
        F.max("nb").alias("n_kept"),
        F.expr(
            "CAST(CAST(max(abs(ca * nb - cb * na)) AS DECIMAL(38,0))"
            " * 1000000"
            " div (CAST(max(na) AS DECIMAL(38,0)) * max(nb)) AS BIGINT)"
        ).alias("ks_ppm"),
    )


#: bin count for the approximate (binned) KS variant — the cumulative
#: window runs over at most this many rows regardless of value
#: cardinality, so the drift check never needs a single-partition sort
#: over the raw distinct-value domain.
KS_BINS = 256


@query(
    "binned_ks_drift",
    oracle=f"""
    WITH c AS (
        SELECT CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS cents,
               CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS in_a,
               CASE WHEN l_returnflag = 'N' THEN 1 ELSE 0 END AS in_b
        FROM lineitem WHERE l_returnflag IN ('R', 'N')
    ),
    mm AS (SELECT min(cents) AS mn, max(cents) AS mx FROM c),
    bkt AS (
        SELECT CAST((cents - mn) * {KS_BINS} // (mx - mn + 1) AS BIGINT)
                   AS bucket,
               in_a, in_b
        FROM c, mm
    ),
    v AS (SELECT bucket, sum(in_a) AS a, sum(in_b) AS b
          FROM bkt GROUP BY bucket),
    r AS (
        SELECT bucket, a, b,
               sum(a) OVER (ORDER BY bucket
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ca,
               sum(b) OVER (ORDER BY bucket
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cb,
               sum(a) OVER () AS na,
               sum(b) OVER () AS nb
        FROM v
    )
    SELECT CAST(max(na) AS BIGINT) AS n_returned,
           CAST(max(nb) AS BIGINT) AS n_kept,
           CAST(count(*) AS BIGINT) AS n_bins,
           CAST(max(abs(ca * nb - cb * na)) * 1000000
                // (max(na) * max(nb)) AS BIGINT) AS ks_ppm,
           CAST(max(greatest(a * 1000000 // na,
                             b * 1000000 // nb)) AS BIGINT)
               AS err_bound_ppm
    FROM r
    """,
    tags=("profile", "stats", "approx", "scale-path", "bounded-window"),
)
def binned_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPROXIMATE two-sample KS between returned (R) and kept (N)
    price distributions — the raw-fact-scale companion to the exact
    `ks_statistic_returned_vs_kept`.  Prices are binned into KS_BINS
    fixed-width buckets (pure integer arithmetic on cents, identical
    in both engines), so the cumulative-CDF window runs over AT MOST
    KS_BINS rows no matter how many distinct raw values exist — the
    exact variant's `Window.partitionBy()` over the distinct-value
    frame (fine for bounded domains, fatal for unbounded ones per
    plans/lint.py) never happens here.

    The binned D is a LOWER bound on the exact D; `err_bound_ppm` is
    the max per-bin mass share max_k max(massA_k, massB_k), so
    D_exact ∈ [ks_ppm, ks_ppm + err_bound_ppm] — the monitor gets a
    certified interval, tightened by raising KS_BINS.  All CDF algebra
    stays in cross-multiplied integers (|ca*nb - cb*na|) exactly like
    the exact variant: no float CDFs, bit-identical across engines.

    Scale shape: one scan → (min,max) scalar broadcast → narrow bucket
    map → KS_BINS-row aggregate → window over ≤KS_BINS rows.  At
    100 TB the only shuffle is the KS_BINS-key partial agg."""
    t = load(spark, sf_dir)
    c = t.lineitem.where(F.col("l_returnflag").isin("R", "N")).select(
        F.round(F.col("l_extendedprice") * 100, 0).cast("long").alias("cents"),
        (F.col("l_returnflag") == "R").cast("long").alias("in_a"),
        (F.col("l_returnflag") == "N").cast("long").alias("in_b"),
    )
    mm = c.agg(F.min("cents").alias("mn"), F.max("cents").alias("mx"))
    bkt = c.crossJoin(F.broadcast(mm)).select(
        F.expr(
            f"CAST((cents - mn) * {KS_BINS} div (mx - mn + 1) AS BIGINT)"
        ).alias("bucket"),
        "in_a",
        "in_b",
    )
    v = bkt.groupBy("bucket").agg(
        F.sum("in_a").alias("a"), F.sum("in_b").alias("b")
    )
    wcum = W.orderBy("bucket").rowsBetween(W.unboundedPreceding, W.currentRow)
    wall = W.partitionBy()
    r = v.select(
        "a",
        "b",
        F.sum("a").over(wcum).alias("ca"),
        F.sum("b").over(wcum).alias("cb"),
        F.sum("a").over(wall).alias("na"),
        F.sum("b").over(wall).alias("nb"),
    )
    return r.agg(
        F.max("na").alias("n_returned"),
        F.max("nb").alias("n_kept"),
        F.count("*").alias("n_bins"),
        F.expr(
            # DECIMAL(38,0) before the ×1e6 and in the denominator:
            # na·nb·1e6 leaves int64 near sf1 while DuckDB's oracle
            # silently promotes to HUGEINT — a narrow Spark side would
            # wrap and diverge (the binned_wasserstein / gini
            # discipline; ADVICE r5).
            "CAST(CAST(max(abs(ca * nb - cb * na)) AS DECIMAL(38,0))"
            " * 1000000"
            " div (CAST(max(na) AS DECIMAL(38,0)) * max(nb)) AS BIGINT)"
        ).alias("ks_ppm"),
        F.expr(
            "CAST(max(greatest(a * 1000000 div na,"
            " b * 1000000 div nb)) AS BIGINT)"
        ).alias("err_bound_ppm"),
    )


@query(
    "binned_wasserstein_drift",
    oracle=f"""
    WITH c AS (
        SELECT CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS cents,
               CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS in_a,
               CASE WHEN l_returnflag = 'N' THEN 1 ELSE 0 END AS in_b
        FROM lineitem WHERE l_returnflag IN ('R', 'N')
    ),
    mm AS (SELECT min(cents) AS mn, max(cents) AS mx FROM c),
    bkt AS (
        SELECT CAST((cents - mn) * {KS_BINS} // (mx - mn + 1) AS BIGINT)
                   AS bucket,
               in_a, in_b
        FROM c, mm
    ),
    v AS (SELECT bucket, sum(in_a) AS a, sum(in_b) AS b
          FROM bkt GROUP BY bucket),
    r AS (
        SELECT sum(a) OVER (ORDER BY bucket
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ca,
               sum(b) OVER (ORDER BY bucket
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cb,
               sum(a) OVER () AS na,
               sum(b) OVER () AS nb
        FROM v
    )
    SELECT CAST(max(na) AS BIGINT) AS n_returned,
           CAST(max(nb) AS BIGINT) AS n_kept,
           CAST(sum(abs(ca * nb - cb * na)) * (max(mm.mx) - max(mm.mn) + 1)
                // (max(na) * max(nb) * {KS_BINS}) AS BIGINT) AS w1_cents
    FROM r CROSS JOIN mm
    """,
    tags=("profile", "stats", "approx", "scale-path", "bounded-window"),
)
def binned_wasserstein_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binned Wasserstein-1 (earth mover's) distance between returned
    and kept price distributions — the drift metric that reports HOW
    FAR mass moved in price units, complementing KS (max gap) and PSI
    (log score).  W1 = ∫|F_a − F_b| dx, discretized over the same
    KS_BINS fixed-width integer bins as `binned_ks_drift`: bin width
    times the sum of cross-multiplied CDF gaps, one exact integer
    division at the end — quantization error ≤ one bin width, in the
    same certified-approximation spirit.  Intermediates accumulate in
    DECIMAL(38,0) on the Spark side / HUGEINT in DuckDB (Σ|ca·nb−cb·na|
    × width leaves int64 near sf100 — the gini discipline).

    Scale shape: identical to binned_ks_drift — one scan, scalar
    broadcast, narrow bucket map, KS_BINS-row agg, window over
    ≤KS_BINS rows."""
    t = load(spark, sf_dir)
    c = t.lineitem.where(F.col("l_returnflag").isin("R", "N")).select(
        F.round(F.col("l_extendedprice") * 100, 0).cast("long").alias("cents"),
        (F.col("l_returnflag") == "R").cast("long").alias("in_a"),
        (F.col("l_returnflag") == "N").cast("long").alias("in_b"),
    )
    mm = c.agg(F.min("cents").alias("mn"), F.max("cents").alias("mx"))
    bkt = c.crossJoin(F.broadcast(mm)).select(
        F.expr(
            f"CAST((cents - mn) * {KS_BINS} div (mx - mn + 1) AS BIGINT)"
        ).alias("bucket"),
        "in_a",
        "in_b",
    )
    v = bkt.groupBy("bucket").agg(
        F.sum("in_a").alias("a"), F.sum("in_b").alias("b")
    )
    wcum = W.orderBy("bucket").rowsBetween(W.unboundedPreceding, W.currentRow)
    wall = W.partitionBy()
    r = v.select(
        F.sum("a").over(wcum).alias("ca"),
        F.sum("b").over(wcum).alias("cb"),
        F.sum("a").over(wall).alias("na"),
        F.sum("b").over(wall).alias("nb"),
    )
    return r.crossJoin(F.broadcast(mm)).agg(
        F.max("na").alias("n_returned"),
        F.max("nb").alias("n_kept"),
        F.expr(
            "CAST(sum(CAST(abs(ca * nb - cb * na) AS DECIMAL(38,0)))"
            " * (max(mx) - max(mn) + 1)"
            f" div (CAST(max(na) AS DECIMAL(38,0)) * max(nb) * {KS_BINS})"
            " AS BIGINT)"
        ).alias("w1_cents"),
    )


#: PSI bin count — coarser than KS_BINS on purpose: PSI's industry
#: convention is 10-20 bins; 64 keeps per-bin mass stable while the
#: window/agg stays trivially bounded.
PSI_BINS = 64


@query(
    "psi_drift",
    oracle=f"""
    WITH c AS (
        SELECT CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS cents,
               CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS in_a,
               CASE WHEN l_returnflag = 'N' THEN 1 ELSE 0 END AS in_b
        FROM lineitem WHERE l_returnflag IN ('R', 'N')
    ),
    mm AS (SELECT min(cents) AS mn, max(cents) AS mx FROM c),
    bkt AS (
        SELECT CAST((cents - mn) * {PSI_BINS} // (mx - mn + 1) AS BIGINT)
                   AS bucket,
               in_a, in_b
        FROM c, mm
    ),
    v AS (SELECT bucket, sum(in_a) AS a, sum(in_b) AS b
          FROM bkt GROUP BY bucket),
    tot AS (SELECT sum(a) AS na, sum(b) AS nb, count(*) AS k FROM v)
    SELECT CAST(max(na) AS BIGINT) AS n_current,
           CAST(max(nb) AS BIGINT) AS n_baseline,
           CAST(max(k) AS BIGINT) AS n_bins,
           round(sum(
               ((a + 1) / CAST(na + k AS DOUBLE)
                - (b + 1) / CAST(nb + k AS DOUBLE))
               * ln(((a + 1) / CAST(na + k AS DOUBLE))
                    / ((b + 1) / CAST(nb + k AS DOUBLE)))
           ), 6) + 0.0 AS psi
    FROM v CROSS JOIN tot
    """,
    tags=("profile", "stats", "approx", "scale-path"),
)
def psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index between returned (current) and kept
    (baseline) price distributions — the industry-standard production
    drift monitor (PSI < 0.1 stable, > 0.25 shifted), completing the
    drift family alongside the exact and binned KS.  Same fixed-width
    integer binning as `binned_ks_drift`; per-bin shares are
    Laplace-smoothed ((cnt+1)/(n+k), identical algebra both engines)
    so empty bins never hit ln(0) — the standard PSI practice.  The
    log terms are irrational-valued, so the round-6 comparison has no
    half-boundary exposure (theil_index_revenue's convention).

    Scale shape: one scan → (min,max) scalar broadcast → narrow bucket
    map → PSI_BINS-row aggregate → one final fold over ≤PSI_BINS rows.
    No window at all — PSI needs no CDF."""
    t = load(spark, sf_dir)
    c = t.lineitem.where(F.col("l_returnflag").isin("R", "N")).select(
        F.round(F.col("l_extendedprice") * 100, 0).cast("long").alias("cents"),
        (F.col("l_returnflag") == "R").cast("long").alias("in_a"),
        (F.col("l_returnflag") == "N").cast("long").alias("in_b"),
    )
    mm = c.agg(F.min("cents").alias("mn"), F.max("cents").alias("mx"))
    bkt = c.crossJoin(F.broadcast(mm)).select(
        F.expr(
            f"CAST((cents - mn) * {PSI_BINS} div (mx - mn + 1) AS BIGINT)"
        ).alias("bucket"),
        "in_a",
        "in_b",
    )
    v = bkt.groupBy("bucket").agg(
        F.sum("in_a").alias("a"), F.sum("in_b").alias("b")
    )
    tot = v.agg(
        F.sum("a").alias("na"), F.sum("b").alias("nb"), F.count("*").alias("k")
    )
    pa = (F.col("a") + 1) / (F.col("na") + F.col("k")).cast("double")
    pb = (F.col("b") + 1) / (F.col("nb") + F.col("k")).cast("double")
    return (
        v.crossJoin(F.broadcast(tot))
        .agg(
            F.max("na").cast("long").alias("n_current"),
            F.max("nb").cast("long").alias("n_baseline"),
            F.max("k").cast("long").alias("n_bins"),
            (F.round(F.sum((pa - pb) * F.log(pa / pb)), 6) + 0.0).alias("psi"),
        )
    )


@query(
    "chi2_status_priority",
    oracle="""
    WITH cells AS (
        SELECT o_orderstatus AS s, o_orderpriority AS p,
               count(*) AS o
        FROM orders GROUP BY 1, 2
    ),
    m AS (
        SELECT s, p, o,
               sum(o) OVER (PARTITION BY s) AS row_tot,
               sum(o) OVER (PARTITION BY p) AS col_tot,
               sum(o) OVER () AS total
        FROM cells
    ),
    stat AS (
        SELECT CAST(max(total) AS BIGINT) AS n,
               count(*) AS n_cells,
               sum(power(o * total - row_tot * col_tot, 2)
                   / (CAST(row_tot AS DOUBLE) * col_tot * total)) / max(total)
                   AS chi2,
               count(DISTINCT s) AS r, count(DISTINCT p) AS c
        FROM m
    )
    SELECT n, n_cells,
           round(chi2, 6) + 0.0 AS chi2,
           round(sqrt(chi2 / (n * least(r - 1, c - 1))), 6) + 0.0
               AS cramers_v
    FROM stat
    """,
    tags=("profile", "stats", "bounded-window"),
)
def chi2_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence test between order status and priority
    (+ Cramér's V effect size) — the categorical drift/association
    companion to the KS statistic: chi2 = sum((O-E)^2/E) computed in
    the algebraically-expanded form (O*T - r*c)^2 / (r*c*T) / T so
    every count stays an exact integer until the 15-cell final fold.

    Scale shape: the contingency table is ONE keyed aggregate (counts
    per cell); marginals are windows over the 15-row cell frame; the
    statistic folds in a single final aggregate. Nothing after the
    first groupBy touches fact rows."""
    t = load(spark, sf_dir)
    cells = t.orders.groupBy(
        F.col("o_orderstatus").alias("s"),
        F.col("o_orderpriority").alias("p"),
    ).agg(F.count("*").alias("o"))
    m = cells.select(
        "s",
        "p",
        "o",
        F.sum("o").over(W.partitionBy("s")).alias("row_tot"),
        F.sum("o").over(W.partitionBy("p")).alias("col_tot"),
        F.sum("o").over(W.partitionBy()).alias("total"),
    )
    term = F.pow(
        F.col("o") * F.col("total") - F.col("row_tot") * F.col("col_tot"), 2
    ) / (
        F.col("row_tot").cast("double") * F.col("col_tot") * F.col("total")
    )
    stat = m.agg(
        F.max("total").alias("n"),
        F.count("*").alias("n_cells"),
        (F.sum(term) / F.max("total")).alias("chi2"),
        F.countDistinct("s").alias("r"),
        F.countDistinct("p").alias("c"),
    )
    return stat.select(
        "n",
        "n_cells",
        (F.round(F.col("chi2"), 6) + 0.0).alias("chi2"),
        (
            F.round(
                F.sqrt(
                    F.col("chi2")
                    / (F.col("n") * F.least(F.col("r") - 1, F.col("c") - 1))
                ),
                6,
            )
            + 0.0
        ).alias("cramers_v"),
    )


@query(
    "weekday_anomaly_days",
    oracle="""
    WITH daily AS (
        SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS d,
               count(*) AS n
        FROM orders GROUP BY 1
    ),
    wk AS (
        SELECT d, n, dayofweek(d) AS dow,
               avg(n) OVER (PARTITION BY dayofweek(d)) AS mu,
               stddev_samp(n) OVER (PARTITION BY dayofweek(d)) AS sd,
               count(*) OVER (PARTITION BY dayofweek(d)) AS n_days_dow
        FROM daily
    )
    SELECT CAST(count(*) AS BIGINT) AS n_days,
           CAST(sum(CASE WHEN sd > 0 AND n > mu + 2 * sd
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_high,
           CAST(sum(CASE WHEN sd > 0 AND n < mu - 2 * sd
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_low,
           CAST(min(CASE WHEN sd > 0 AND abs(n - mu) > 2 * sd
                    THEN strftime(d, '%Y-%m-%d') END) AS VARCHAR)
               AS first_anomaly_day
    FROM wk WHERE n_days_dow >= 10
    """,
    tags=("profile", "timeseries", "anomaly"),
)
def weekday_anomaly_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-baseline anomaly detection: each day's order count
    against the mean ± 2σ of ITS OWN WEEKDAY — the seasonality-aware
    version of ewma_anomaly_flags' trailing z-score (a busy Monday is
    only anomalous relative to Mondays). Weekday groups with fewer
    than 10 observations are excluded from flagging on both engines.

    Scale shape: facts reduce to one count per day; the per-weekday
    baseline is a window over the daily frame partitioned 7 ways; one
    final aggregate. Counts stay integers; the ±2σ compare never
    materializes a rounded float."""
    t = load(spark, sf_dir)
    daily = (
        t.orders.select(
            F.to_date(F.date_trunc("day", "o_orderdate")).alias("d")
        )
        .groupBy("d")
        .agg(F.count("*").alias("n"))
    )
    wdow = W.partitionBy(F.dayofweek("d"))
    wk = daily.select(
        "d",
        "n",
        F.avg("n").over(wdow).alias("mu"),
        F.stddev_samp("n").over(wdow).alias("sd"),
        F.count("*").over(wdow).alias("n_days_dow"),
    ).where(F.col("n_days_dow") >= 10)
    high = (F.col("sd") > 0) & (F.col("n") > F.col("mu") + 2 * F.col("sd"))
    low = (F.col("sd") > 0) & (F.col("n") < F.col("mu") - 2 * F.col("sd"))
    anom = (F.col("sd") > 0) & (
        F.abs(F.col("n") - F.col("mu")) > 2 * F.col("sd")
    )
    return wk.agg(
        F.count("*").alias("n_days"),
        F.sum(high.cast("long")).alias("n_high"),
        F.sum(low.cast("long")).alias("n_low"),
        F.min(
            F.when(anom, F.date_format("d", "yyyy-MM-dd"))
        ).alias("first_anomaly_day"),
    )


@query(
    "iqr_outlier_fences",
    oracle="""
    WITH b AS (
        SELECT l_returnflag,
               quantile_cont(l_extendedprice, 0.25) AS q1,
               quantile_cont(l_extendedprice, 0.75) AS q3
        FROM lineitem GROUP BY l_returnflag
    ),
    f AS (
        SELECT l_returnflag, q1, q3,
               q1 - 1.5 * (q3 - q1) AS lo,
               q3 + 1.5 * (q3 - q1) AS hi
        FROM b
    )
    SELECT l.l_returnflag,
           count(*) AS n,
           round(max(f.q1), 4) + 0.0 AS q1,
           round(max(f.q3), 4) + 0.0 AS q3,
           CAST(sum(CASE WHEN l.l_extendedprice < f.lo
                          OR l.l_extendedprice > f.hi
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM lineitem l JOIN f ON f.l_returnflag = l.l_returnflag
    GROUP BY l.l_returnflag
    """,
    tags=("profile", "robust", "percentile"),
)
def iqr_outlier_fences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey's IQR outlier fences per return flag: flag rows outside
    [Q1 - 1.5*IQR, Q3 + 1.5*IQR] — the boxplot rule, completing the
    robust-outlier trio (MAD z-score = mad_outlier_flags, clipping =
    winsorized_price_stats, fencing = this). Exact interpolated
    quartiles; the fence compare runs on the raw doubles (never a
    rounded bound), so both engines flag identical rows.

    Scale shape: the per-group fences are a 3-row holistic aggregate
    broadcast back onto the stream; one keyed count after the
    filter map."""
    t = load(spark, sf_dir)
    # ONE holistic buffer for both quartiles (array form) — two
    # scalar percentile() calls build two independent sort buffers
    # over the same column and measured ~2.3x slower at sf0.1
    b = (
        t.lineitem.groupBy("l_returnflag")
        .agg(
            F.expr(
                "percentile(l_extendedprice, array(0.25, 0.75))"
            ).alias("qs")
        )
        .select(
            "l_returnflag",
            F.col("qs")[0].alias("q1"),
            F.col("qs")[1].alias("q3"),
        )
    )
    iqr = F.col("q3") - F.col("q1")
    f = b.select(
        "l_returnflag",
        "q1",
        "q3",
        (F.col("q1") - 1.5 * iqr).alias("lo"),
        (F.col("q3") + 1.5 * iqr).alias("hi"),
    )
    out = (
        (F.col("l_extendedprice") < F.col("lo"))
        | (F.col("l_extendedprice") > F.col("hi"))
    ).cast("long")
    return (
        t.lineitem.join(F.broadcast(f), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n"),
            (F.round(F.max("q1"), 4) + 0.0).alias("q1"),
            (F.round(F.max("q3"), 4) + 0.0).alias("q3"),
            F.sum(out).alias("n_outliers"),
        )
    )



def mann_whitney_u(c: "DataFrame") -> "DataFrame":
    """Exact tie-corrected Mann-Whitney U over a ``(cents, in_a,
    in_b)`` indicator frame — extracted from
    mann_whitney_u_returned_vs_kept for property testing against an
    independent numpy implementation (tests/test_properties.py).
    Returns (n_a, n_b, u1_x2 = 2*U1, cles_ppm)."""
    v = c.groupBy("cents").agg(
        F.sum("in_a").alias("a"), F.sum("in_b").alias("b")
    ).withColumn("run", F.col("a") + F.col("b"))
    scanned = ordered_scan(
        v,
        ["cents"],
        running={"crun": "run"},
        totals={"na": "a", "nb": "b"},
    )
    run = F.col("run")
    r = scanned.select(
        "a",
        "b",
        (2 * (F.col("crun") - run) + run + 1).alias("dr"),
        "na",
        "nb",
    )
    u1x2 = F.expr("sum(a * dr)") - F.max("na") * (F.max("na") + 1)
    return r.agg(
        F.max("na").alias("n_a"),
        F.max("nb").alias("n_b"),
        u1x2.alias("u1_x2"),
        F.expr(
            "CAST(CAST(sum(a * dr) - max(na) * (max(na) + 1)"
            " AS DECIMAL(38,0)) * 1000000"
            " div (2 * CAST(max(na) AS DECIMAL(38,0)) * max(nb))"
            " AS BIGINT)"
        ).alias("cles_ppm"),
    )


@query(
    "mann_whitney_u_returned_vs_kept",
    oracle="""
    WITH c AS (
        SELECT CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS cents,
               CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS in_a,
               CASE WHEN l_returnflag = 'N' THEN 1 ELSE 0 END AS in_b
        FROM lineitem WHERE l_returnflag IN ('R', 'N')
    ),
    v AS (
        SELECT cents, sum(in_a) AS a, sum(in_b) AS b
        FROM c GROUP BY cents
    ),
    r AS (
        SELECT a, b,
               2 * (sum(a + b) OVER (ORDER BY cents
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    - (a + b)) + (a + b + 1) AS dr,
               sum(a) OVER () AS na,
               sum(b) OVER () AS nb
        FROM v
    )
    SELECT CAST(max(na) AS BIGINT) AS n_returned,
           CAST(max(nb) AS BIGINT) AS n_kept,
           CAST(sum(a * dr) - max(na) * (max(na) + 1) AS BIGINT) AS u1_x2,
           CAST((sum(a * dr) - max(na) * (max(na) + 1)) * 1000000
                // (2 * max(na) * max(nb)) AS BIGINT) AS cles_ppm
    FROM r
    """,
    tags=("profile", "stats"),
)
def mann_whitney_u_returned_vs_kept(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Mann-Whitney U (Wilcoxon rank-sum) between returned (R)
    and kept (N) price distributions, tie-corrected with average
    ranks — the nonparametric location test next to KS (shape) and
    chi2 (association). Doubled ranks keep everything integer: the
    average rank of a tied run is `prev_count + (run+1)/2`, so
    `2*rank` = 2*prev_count + run + 1 is exact; `u1_x2` = 2*U1 and
    the common-language effect size U1/(n1*n2) comes out as one
    integer ppm division.

    Scale shape: identical to the KS plan — collapse to distinct
    values with per-group counts, then the cumulative pooled counts
    come from operators/rank.ordered_scan (range repartition + local
    running sums + driver partition offsets): a parallel range
    shuffle, never a single-task `Window.orderBy()` over the
    distinct-value frame; totals ride along as exact literals.  The
    ppm division widens to DECIMAL(38,0) first (the gini/KS
    discipline — DuckDB promotes to HUGEINT silently)."""
    t = load(spark, sf_dir)
    c = t.lineitem.where(F.col("l_returnflag").isin("R", "N")).select(
        F.round(F.col("l_extendedprice") * 100, 0).cast("long").alias("cents"),
        (F.col("l_returnflag") == "R").cast("long").alias("in_a"),
        (F.col("l_returnflag") == "N").cast("long").alias("in_b"),
    )
    return mann_whitney_u(c).select(
        F.col("n_a").alias("n_returned"),
        F.col("n_b").alias("n_kept"),
        "u1_x2",
        "cles_ppm",
    )


@query(
    "theil_index_revenue",
    oracle="""
    WITH rev AS (
        SELECT o_custkey,
               sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS x
        FROM orders GROUP BY o_custkey
    ),
    s AS (SELECT count(*) AS n, sum(x) AS total FROM rev)
    SELECT CAST(max(s.n) AS BIGINT) AS n_customers,
           round(sum((x / (CAST(total AS DOUBLE) / n))
                     * ln(x / (CAST(total AS DOUBLE) / n))) / max(s.n), 6)
               + 0.0 AS theil_t,
           round(-sum(ln(x / (CAST(total AS DOUBLE) / n))) / max(s.n), 6)
               + 0.0 AS theil_l
    FROM rev CROSS JOIN s
    """,
    tags=("profile", "analytics", "inequality"),
)
def theil_index_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil T and L inequality indices of customer revenue — the
    entropy-based decomposable complements to the Gini coefficient
    (Theil decomposes exactly into between-group + within-group
    terms, which Gini cannot). T = mean(r*ln r), L = -mean(ln r)
    with r = x/mean(x); the log ratios are irrational-valued so the
    round-6 comparison has no half-boundary exposure (unlike plain
    ratios — cf. the integer-ppm discipline elsewhere).

    Scale shape: facts reduce to one integer row per customer; the
    (n, total) scalars ride a 1-row broadcast; one final aggregate.
    No window, no sort."""
    t = load(spark, sf_dir)
    rev = (
        t.orders.select(
            "o_custkey",
            F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("x"),
        )
        .groupBy("o_custkey")
        .agg(F.sum("x").alias("x"))
    )
    s = rev.agg(F.count("*").alias("n"), F.sum("x").alias("total"))
    mu = F.col("total").cast("double") / F.col("n")
    r = F.col("x") / mu
    return (
        rev.crossJoin(F.broadcast(s))
        .agg(
            F.max("n").alias("n_customers"),
            (
                F.round(F.sum(r * F.log(r)) / F.max("n"), 6) + 0.0
            ).alias("theil_t"),
            (
                F.round(-F.sum(F.log(r)) / F.max("n"), 6) + 0.0
            ).alias("theil_l"),
        )
    )


# --------------------------------------------------------------------------
# ext — classical time-series decomposition + autocorrelation
# diagnostics over the daily revenue series.  The series is bounded
# by the calendar (~2.4k days for the 1995-2001 span at ANY fact
# scale), so the ordered windows ride the acknowledged
# bounded-window tier.
# --------------------------------------------------------------------------
@query(
    "seasonal_decompose_weekday",
    oracle=f"""
    WITH daily AS ({daily_revenue_sql("rev")}),
    tr AS (
        SELECT d, rev,
               CASE WHEN count(*) OVER w = 7
                    THEN sum(rev) OVER w / 7.0 END AS trend
        FROM daily
        WINDOW w AS (ORDER BY d ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
    ),
    det AS (
        -- DuckDB dayofweek is 0=Sun..6; Spark's is 1=Sun..7
        SELECT CAST(dayofweek(d) + 1 AS INT) AS dow, rev - trend AS dt
        FROM tr WHERE trend IS NOT NULL
    ),
    s AS (
        SELECT dow, count(*) AS n_days, avg(dt) AS raw_seasonal
        FROM det GROUP BY dow
    ),
    c AS (SELECT avg(raw_seasonal) AS grand FROM s)
    SELECT dow, n_days,
           round((raw_seasonal - grand) / 100.0, 4) + 0.0
               AS seasonal_dollars
    FROM s, c
    """,
    tags=("profile", "timeseries", "seasonality", "bounded-window"),
)
def seasonal_decompose_weekday(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical (moving-average) seasonal decomposition of daily
    revenue, weekday component: trend = centered 7-day moving average
    (full windows only), seasonal = per-weekday mean of the detrended
    series re-centered to sum to zero — the additive-decomposition
    recipe of every forecasting textbook, and the day-of-week effect a
    revenue dashboard reports.

    Integer-cents daily sums keep the trend a deterministic rational
    (sum of integers / 7.0); the per-weekday means are rounded on
    both engines.  Scale shape: facts collapse to one integer row per
    day; the centered window runs over the calendar-bounded daily
    frame (bounded-window tier); two scalar aggregates finish."""
    t = load(spark, sf_dir)
    daily = daily_revenue(t.orders, "rev")
    w = W.orderBy("d").rowsBetween(-3, 3)
    tr = daily.select(
        "d",
        "rev",
        F.when(
            F.count("*").over(w) == 7, F.sum("rev").over(w) / 7.0
        ).alias("trend"),
    )
    det = tr.where(F.col("trend").isNotNull()).select(
        F.dayofweek("d").cast("int").alias("dow"),
        (F.col("rev") - F.col("trend")).alias("dt"),
    )
    s = det.groupBy("dow").agg(
        F.count("*").alias("n_days"), F.avg("dt").alias("raw_seasonal")
    )
    c = s.agg(F.avg("raw_seasonal").alias("grand"))
    return s.crossJoin(F.broadcast(c)).select(
        "dow",
        "n_days",
        (
            F.round((F.col("raw_seasonal") - F.col("grand")) / 100.0, 4)
            + 0.0
        ).alias("seasonal_dollars"),
    )


#: autocorrelation diagnostic depth
ACF_MAX_LAG = 7


@query(
    "acf_ljung_box",
    oracle=f"""
    WITH daily AS ({daily_revenue_sql("rev")}),
    m AS (SELECT avg(rev) AS mu, count(*) AS n FROM daily),
    dev AS (
        SELECT row_number() OVER (ORDER BY d) AS t, rev - mu AS e, n
        FROM daily, m
    ),
    rho AS (
        SELECT k.lag,
               sum(a.e * b.e) / max(den.s2) AS r,
               max(a.n) AS n
        FROM (SELECT unnest(range(1, {ACF_MAX_LAG + 1})) AS lag) k
        JOIN dev a ON TRUE
        JOIN dev b ON b.t = a.t - k.lag
        CROSS JOIN (SELECT sum(e * e) AS s2 FROM dev) den
        GROUP BY k.lag
    ),
    q AS (
        SELECT sum(r * r / (n - lag)) * max(n) * (max(n) + 2) AS lb
        FROM rho
    )
    SELECT CAST(rho.lag AS INT) AS lag,
           round(rho.r, 6) + 0.0 AS rho,
           round(q.lb, 4) + 0.0 AS ljung_box_q
    FROM rho, q
    """,
    tags=("profile", "timeseries", "stats", "bounded-window"),
)
def acf_ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample autocorrelation of daily revenue at lags 1..7 plus the
    Ljung-Box portmanteau statistic Q = n(n+2) * sum(rho_k^2/(n-k)) —
    the is-this-white-noise diagnostic run before fitting any
    forecasting model.  rho_k uses the standard biased estimator
    (denominator = total sum of squares), lags taken over the
    observed day sequence.

    Scale shape: facts collapse to the calendar-bounded daily frame;
    the lagged products come from lag() windows over that bounded
    frame (bounded-window tier); one aggregate per output.  The
    deviations are integer-cents minus a rational mean — identical
    expressions both engines, rounded outputs."""
    t = load(spark, sf_dir)
    daily = daily_revenue(t.orders, "rev")
    m = daily.agg(F.avg("rev").alias("mu"), F.count("*").alias("n"))
    dev = daily.crossJoin(F.broadcast(m)).select(
        "d", (F.col("rev") - F.col("mu")).alias("e"), "n"
    )
    wo = W.orderBy("d")
    lagged = dev.select(
        "e",
        "n",
        *[
            (F.col("e") * F.lag("e", k).over(wo)).alias(f"p{k}")
            for k in range(1, ACF_MAX_LAG + 1)
        ],
    )
    agg = lagged.agg(
        F.max("n").alias("n"),
        F.expr("sum(e * e)").alias("s2"),
        *[F.sum(f"p{k}").alias(f"sp{k}") for k in range(1, ACF_MAX_LAG + 1)],
    )
    rows = agg.select(
        "n",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(k).alias("lag"),
                        (F.col(f"sp{k}") / F.col("s2")).alias("r"),
                    )
                    for k in range(1, ACF_MAX_LAG + 1)
                ]
            )
        ).alias("kr"),
    ).select("n", F.col("kr.lag").alias("lag"), F.col("kr.r").alias("r"))
    q = rows.agg(
        (
            F.sum(F.col("r") * F.col("r") / (F.col("n") - F.col("lag")))
            * F.max("n")
            * (F.max("n") + 2)
        ).alias("lb")
    )
    return rows.crossJoin(F.broadcast(q)).select(
        F.col("lag").cast("int").alias("lag"),
        (F.round("r", 6) + 0.0).alias("rho"),
        (F.round("lb", 4) + 0.0).alias("ljung_box_q"),
    )


# --------------------------------------------------------------------------
# Spearman rank correlation (tie-corrected, integer-exact moments)
# --------------------------------------------------------------------------

def spearman_rho(x: "DataFrame") -> "DataFrame":
    """Tie-corrected Spearman rho over an ``(xv, yv)`` integer pair
    frame — extracted from spearman_price_discount for property
    testing against an independent numpy implementation
    (tests/test_properties.py)."""
    dec = "decimal(38,0)"

    def ranks(col: str, out: str) -> DataFrame:
        v = x.groupBy(col).agg(F.count("*").alias("cnt"))
        r = ordered_scan(v, [col], running={"cum": "cnt"})
        # min rank of the tie block = cum - cnt + 1;
        # doubled average rank = 2*minrank + cnt - 1 = 2*cum - cnt + 1
        return r.select(
            col, (2 * F.col("cum") - F.col("cnt") + 1).alias(out)
        )

    j = x.join(ranks("xv", "dx"), "xv").join(
        F.broadcast(ranks("yv", "dy")), "yv"
    )
    m = j.agg(
        F.expr("CAST(count(*) AS DECIMAL(38,0))").alias("n"),
        F.expr("sum(CAST(dx AS DECIMAL(38,0)))").alias("sx"),
        F.expr("sum(CAST(dy AS DECIMAL(38,0)))").alias("sy"),
        F.expr("sum(CAST(dx AS DECIMAL(38,0)) * dx)").alias("sxx"),
        F.expr("sum(CAST(dy AS DECIMAL(38,0)) * dy)").alias("syy"),
        F.expr("sum(CAST(dx AS DECIMAL(38,0)) * dy)").alias("sxy"),
    )
    return m.select(
        F.col("n").cast("long").alias("n"),
        (
            F.round(
                (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
                / F.sqrt((F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double"))
                / F.sqrt((F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")),
                6,
            )
            + 0.0
        ).alias("rho"),
    )


@query(
    "spearman_price_discount",
    oracle="""
    WITH x AS (
        SELECT l_orderkey, l_linenumber,
               CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS xv,
               CAST(round(l_discount * 100, 0) AS BIGINT) AS yv
        FROM lineitem
    ),
    rx AS (
        SELECT xv, 2 * min(mr) + count(*) - 1 AS dx
        FROM (SELECT xv, rank() OVER (ORDER BY xv) AS mr FROM x)
        GROUP BY xv
    ),
    ry AS (
        SELECT yv, 2 * min(mr) + count(*) - 1 AS dy
        FROM (SELECT yv, rank() OVER (ORDER BY yv) AS mr FROM x)
        GROUP BY yv
    ),
    m AS (
        SELECT count(*)::HUGEINT AS n,
               sum(dx::HUGEINT) AS sx, sum(dy::HUGEINT) AS sy,
               sum(dx::HUGEINT * dx) AS sxx,
               sum(dy::HUGEINT * dy) AS syy,
               sum(dx::HUGEINT * dy) AS sxy
        FROM x JOIN rx USING (xv) JOIN ry USING (yv)
    )
    SELECT CAST(n AS BIGINT) AS n,
           round((n * sxy - sx * sy)
                 / sqrt((n * sxx - sx * sx) * 1.0)
                 / sqrt((n * syy - sy * sy) * 1.0), 6) + 0.0 AS rho
    FROM m
    """,
    tags=("profile", "stats", "rank-correlation"),
)
def spearman_price_discount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tie-corrected Spearman rank correlation between extended price
    and discount — the robust monotone-association check a feature
    audit runs where Pearson is distorted by heavy tails. Ranks are
    tie-midpoint average ranks, carried DOUBLED (2*minrank + ties - 1)
    so every rank is an exact integer; all five moment sums accumulate
    in DECIMAL(38,0) (DuckDB silently promotes to HUGEINT), so both
    engines feed bit-identical integers into the single final
    float division — round(.,6) is then deterministic, not a hope.

    Scale shape: each rank table collapses the facts to distinct
    values (groupBy) and gets its global min-rank from
    operators/rank.ordered_scan (range repartition + partition
    offsets — never a single-task global window over raw facts); the
    fact frame then equi-joins the two rank tables (shuffle joins on
    value; the discount side is a handful of rows and broadcasts).
    One final HashAggregate builds the moments."""
    t = load(spark, sf_dir)
    x = t.lineitem.select(
        F.round(F.col("l_extendedprice") * 100, 0).cast("long").alias("xv"),
        F.round(F.col("l_discount") * 100, 0).cast("long").alias("yv"),
    )
    return spearman_rho(x)


# --------------------------------------------------------------------------
# Kendall tau-b via the contingency grid (integer-exact pair counts)
# --------------------------------------------------------------------------

def kendall_tau_b(facts: "DataFrame") -> "DataFrame":
    """Kendall tau-b over a raw ``(q, d)`` integer pair frame via the
    contingency-grid self-join — extracted from
    kendall_tau_qty_discount for property testing against an
    independent numpy implementation (tests/test_properties.py)."""
    dec = "decimal(38,0)"
    g = facts.groupBy("q", "d").agg(F.expr("CAST(count(*) AS DECIMAL(38,0))").alias("n"))
    a, b = g.alias("a"), g.alias("b")
    # coalesce: a degenerate input where no cell pair has b.q > a.q
    # (single distinct q) leaves the join empty and the sums NULL
    pairs = a.join(F.broadcast(b), F.col("b.q") > F.col("a.q")).agg(
        F.coalesce(
            F.sum(
                F.when(
                    F.col("b.d") > F.col("a.d"),
                    F.col("a.n") * F.col("b.n"),
                ).otherwise(F.lit(0).cast(dec))
            ),
            F.lit(0).cast(dec),
        ).alias("c"),
        F.coalesce(
            F.sum(
                F.when(
                    F.col("b.d") < F.col("a.d"),
                    F.col("a.n") * F.col("b.n"),
                ).otherwise(F.lit(0).cast(dec))
            ),
            F.lit(0).cast(dec),
        ).alias("d"),
    )
    tq = (
        g.groupBy("q")
        .agg(F.sum("n").alias("n"))
        .agg(F.sum(F.col("n") * (F.col("n") - 1) / 2).cast(dec).alias("tq"))
    )
    td = (
        g.groupBy("d")
        .agg(F.sum("n").alias("n"))
        .agg(F.sum(F.col("n") * (F.col("n") - 1) / 2).cast(dec).alias("td"))
    )
    nn = g.agg(F.sum("n").cast(dec).alias("nn"))
    n0 = F.col("nn") * (F.col("nn") - 1) / 2
    return (
        pairs.crossJoin(F.broadcast(nn))
        .crossJoin(F.broadcast(tq))
        .crossJoin(F.broadcast(td))
        .select(
            F.col("nn").cast("long").alias("n"),
            F.col("c").cast("long").alias("concordant"),
            F.col("d").cast("long").alias("discordant"),
            (
                F.round(
                    (F.col("c") - F.col("d"))
                    / F.sqrt((n0 - F.col("tq")).cast("double"))
                    / F.sqrt((n0 - F.col("td")).cast("double")),
                    6,
                )
                + 0.0
            ).alias("tau_b"),
        )
    )


@query(
    "kendall_tau_qty_discount",
    oracle="""
    WITH g AS (
        SELECT CAST(l_quantity AS BIGINT) AS q,
               CAST(round(l_discount * 100, 0) AS BIGINT) AS d,
               count(*)::HUGEINT AS n
        FROM lineitem GROUP BY 1, 2
    ),
    pairs AS (
        SELECT sum(CASE WHEN b.d > a.d THEN a.n * b.n ELSE 0 END) AS c,
               sum(CASE WHEN b.d < a.d THEN a.n * b.n ELSE 0 END) AS d
        FROM g a JOIN g b ON b.q > a.q
    ),
    marg AS (
        SELECT (SELECT sum(n) FROM g) AS nn,
               (SELECT sum(n * (n - 1) / 2) FROM
                   (SELECT sum(n) AS n FROM g GROUP BY q)) AS tq,
               (SELECT sum(n * (n - 1) / 2) FROM
                   (SELECT sum(n) AS n FROM g GROUP BY d)) AS td
    )
    SELECT CAST(nn AS BIGINT) AS n,
           CAST(c AS BIGINT) AS concordant,
           CAST(d AS BIGINT) AS discordant,
           round((c - d) / sqrt((nn * (nn - 1) / 2 - tq) * 1.0)
                         / sqrt((nn * (nn - 1) / 2 - td) * 1.0), 6) + 0.0
               AS tau_b
    FROM pairs, marg
    """,
    tags=("profile", "stats", "rank-correlation"),
)
def kendall_tau_qty_discount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall tau-b between quantity and discount, computed on the
    CONTINGENCY GRID rather than raw pairs: concordant/discordant
    counts are a self-join over the aggregated (quantity, discount)
    cell frame — |cells| is bounded by the value-domain product
    (~50x11 here), so the O(n^2) pair space collapses to an O(cells^2)
    broadcast join no matter how many fact rows flow in. Tie
    corrections (tau-b) come from the grid marginals. Every count is
    an exact integer accumulated in DECIMAL(38,0); the only float op
    is the final normalization, rounded identically in both engines.

    Scale shape: one map-side-combined groupBy builds the grid; the
    grid self-join is broadcast (cells tiny); marginals reduce the
    same grid twice. Raw facts are touched exactly once."""
    t = load(spark, sf_dir)
    facts = t.lineitem.select(
        F.col("l_quantity").cast("long").alias("q"),
        F.round(F.col("l_discount") * 100, 0).cast("long").alias("d"),
    )
    return kendall_tau_b(facts)


# --------------------------------------------------------------------------
# Kruskal-Wallis H test (k-group rank ANOVA)
# --------------------------------------------------------------------------
def kruskal_wallis_h(x: DataFrame) -> DataFrame:
    """Kruskal-Wallis H over a ``(grp, v)`` frame (v integer-valued).
    Tie-midpoint ranks carried DOUBLED as exact integers; all sums in
    DECIMAL(38,0); one rounded float step each for H and its tie
    correction.  Extracted from kruskal_wallis_returnflag so the
    statistic itself is property-testable on arbitrary samples
    (tests/test_properties.py pins it against an independent numpy
    implementation of the textbook formula)."""
    dec = "decimal(38,0)"
    vk = x.groupBy("v").agg(F.count("*").alias("t"))
    r = ordered_scan(vk, ["v"], running={"cum": "t"})
    rk = r.select(
        "v",
        F.col("t").cast(dec).alias("t"),
        (2 * F.col("cum") - F.col("t") + 1).alias("d"),
    )
    g = (
        x.join(rk.select("v", "d"), "v")
        .groupBy("grp")
        .agg(
            F.expr("CAST(count(*) AS DECIMAL(38,0))").alias("n_g"),
            F.expr("sum(CAST(d AS DECIMAL(38,0)))").alias("r2"),
        )
    )
    tot = rk.agg(
        F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t")).alias(
            "ties"
        )
    )
    agg = g.agg(
        F.sum("n_g").alias("n"),
        F.count("*").cast("long").alias("n_groups"),
        F.sum(
            # square in DECIMAL first (exact, like DuckDB's HUGEINT)
            # so both engines round at the same single float step
            (F.col("r2") * F.col("r2")).cast("double")
            / 4.0 / F.col("n_g").cast("double")
        ).alias("s"),
    )
    j = agg.crossJoin(F.broadcast(tot))
    nn = F.col("n").cast("double")
    h = 12.0 / (nn * (nn + 1)) * F.col("s") - 3 * (nn + 1)
    c = 1.0 - F.col("ties").cast("double") / (nn * nn * nn - nn)
    return j.select(
        F.col("n").cast("long").alias("n"),
        "n_groups",
        (F.round(h, 4) + 0.0).alias("h"),
        (F.round(h / c, 4) + 0.0).alias("h_tie_corrected"),
    )


@query(
    "kruskal_wallis_returnflag",
    oracle="""
    WITH x AS (
        SELECT l_returnflag AS grp,
               CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS v
        FROM lineitem
    ),
    rk AS (
        SELECT v, count(*)::HUGEINT AS t,
               2 * min(mr) + count(*) - 1 AS d
        FROM (SELECT v, rank() OVER (ORDER BY v) AS mr FROM x)
        GROUP BY v
    ),
    g AS (
        SELECT grp, count(*)::HUGEINT AS n_g,
               sum(rk.d::HUGEINT) AS r2
        FROM x JOIN rk USING (v) GROUP BY grp
    ),
    tot AS (
        SELECT (SELECT sum(n_g) FROM g) AS n,
               (SELECT sum(t * t * t - t) FROM rk) AS ties
    )
    SELECT CAST(n AS BIGINT) AS n,
           CAST((SELECT count(*) FROM g) AS BIGINT) AS n_groups,
           round(12.0 / (n * (n + 1))
                 * (SELECT sum(r2 * r2 / 4.0 / n_g) FROM g)
                 - 3 * (n + 1), 4) + 0.0 AS h,
           round((12.0 / (n * (n + 1))
                  * (SELECT sum(r2 * r2 / 4.0 / n_g) FROM g)
                  - 3 * (n + 1))
                 / (1.0 - ties / (n * n * n - n)), 4) + 0.0
               AS h_tie_corrected
    FROM tot
    """,
    tags=("profile", "stats", "rank-test"),
)
def kruskal_wallis_returnflag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal-Wallis H test of the price distribution across the
    three return-flag populations — the k-group extension of the
    Mann-Whitney U already in the battery (rank ANOVA: did ANY group
    shift?).  Ranks are tie-midpoint average ranks carried DOUBLED
    (exact integers, the Spearman discipline); per-group rank sums,
    the tie term sum(t^3 - t) and the totals all accumulate in
    DECIMAL(38,0)/HUGEINT, so both engines feed identical integers
    into the two final float expressions (H and its tie correction),
    rounded identically.

    Scale shape: ONE groupBy collapses the facts to distinct values
    with tie counts; the global min-rank comes from
    operators/rank.ordered_scan (range repartition + offsets — no
    single-partition window); the facts join the (value → rank)
    table once and ONE aggregate per group builds the rank sums."""
    t = load(spark, sf_dir)
    x = t.lineitem.select(
        F.col("l_returnflag").alias("grp"),
        F.round(F.col("l_extendedprice") * 100, 0).cast("long").alias("v"),
    )
    return kruskal_wallis_h(x)


# --------------------------------------------------------------------------
# Wilcoxon signed-rank test (paired samples)
# --------------------------------------------------------------------------

def wilcoxon_signed_rank_z(pairs: DataFrame) -> DataFrame:
    """Wilcoxon signed-rank z over a ``(d,)`` frame of integer paired
    differences.  Zero differences drop per the classic procedure;
    |d| ranks tie-midpoint DOUBLED; W sums and the tie term in
    DECIMAL(38,0); one rounded float step for the tie-corrected
    normal-approximation z.  Extracted from
    wilcoxon_signed_rank_price for property testing against an
    independent numpy implementation (tests/test_properties.py)."""
    dec = "decimal(38,0)"
    nz = pairs.where(F.col("d") != 0).select(
        "d", F.abs(F.col("d")).alias("a")
    )
    vk = nz.groupBy("a").agg(F.count("*").alias("t"))
    r = ordered_scan(vk, ["a"], running={"cum": "t"})
    rk = r.select(
        "a",
        F.col("t").cast(dec).alias("t"),
        (2 * F.col("cum") - F.col("t") + 1).alias("dr"),
    )
    m = (
        nz.join(rk.select("a", "dr"), "a")
        .agg(
            F.expr("CAST(count(*) AS DECIMAL(38,0))").alias("n"),
            F.sum(
                F.when(F.col("d") > 0, F.col("dr").cast(dec)).otherwise(
                    F.lit(0).cast(dec)
                )
            ).alias("w2p"),
            F.sum(
                F.when(F.col("d") < 0, F.col("dr").cast(dec)).otherwise(
                    F.lit(0).cast(dec)
                )
            ).alias("w2m"),
        )
    )
    ties = rk.agg(
        F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t")).alias(
            "ties"
        )
    )
    j = m.crossJoin(F.broadcast(ties))
    nn = F.col("n").cast("double")
    z = (
        F.col("w2p").cast("double") / 2.0 - nn * (nn + 1) / 4.0
    ) / F.sqrt(
        nn * (nn + 1) * (2 * nn + 1) / 24.0
        - F.col("ties").cast("double") / 48.0
    )
    return j.select(
        F.col("n").cast("long").alias("n"),
        F.col("w2p").cast("long").alias("w2_plus"),
        F.col("w2m").cast("long").alias("w2_minus"),
        (F.round(z, 4) + 0.0).alias("z"),
    )


@query(
    "wilcoxon_signed_rank_price",
    oracle="""
    WITH pairs AS (
        SELECT l.l_partkey,
               sum(CAST(round(l.l_extendedprice * 100, 0) AS BIGINT))
                   - CAST(round(max(p.p_retailprice) * 100, 0) AS BIGINT)
                     * sum(CAST(l.l_quantity AS BIGINT)) AS d
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        GROUP BY l.l_partkey
    ),
    nz AS (SELECT d, abs(d) AS a FROM pairs WHERE d <> 0),
    rk AS (
        SELECT a, count(*)::HUGEINT AS t,
               2 * min(mr) + count(*) - 1 AS dr
        FROM (SELECT a, rank() OVER (ORDER BY a) AS mr FROM nz)
        GROUP BY a
    ),
    m AS (
        SELECT count(*)::HUGEINT AS n,
               sum(CASE WHEN nz.d > 0 THEN rk.dr::HUGEINT
                        ELSE 0 END) AS w2p,
               sum(CASE WHEN nz.d < 0 THEN rk.dr::HUGEINT
                        ELSE 0 END) AS w2m,
               (SELECT sum(t * t * t - t) FROM rk) AS ties
        FROM nz JOIN rk USING (a)
    )
    SELECT CAST(n AS BIGINT) AS n,
           CAST(w2p AS BIGINT) AS w2_plus,
           CAST(w2m AS BIGINT) AS w2_minus,
           round((w2p / 2.0 - n * (n + 1) / 4.0)
                 / sqrt(n * (n + 1) * (2 * n + 1) / 24.0
                        - ties / 48.0), 4) + 0.0 AS z
    FROM m
    """,
    tags=("profile", "stats", "rank-test", "paired"),
)
def wilcoxon_signed_rank_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilcoxon signed-rank test on PAIRED per-part observations —
    realized revenue vs list-price revenue (sum of extended prices
    against retail price x quantity, both exact integer cents): 'are
    actual prices systematically shifted from list prices', the
    paired companion to Mann-Whitney (independent two-sample) and
    Kruskal-Wallis (k groups).  Zero differences drop per the
    classic procedure; |d| ranks are tie-midpoint average ranks
    carried DOUBLED (exact integers); the positive/negative rank sums
    and the tie term accumulate in DECIMAL(38,0)/HUGEINT, leaving one
    rounded float step for the normal-approximation z with the
    textbook tie-corrected variance n(n+1)(2n+1)/24 - sum(t^3-t)/48
    (tie counts t are raw group sizes — rank DOUBLING does not touch
    them; only the W sums carry the factor 2).

    Scale shape: one groupBy builds the per-part pair differences
    (the part dimension broadcast-joins), distinct |d| values get
    global min-ranks from operators/rank.ordered_scan, one join back
    and ONE aggregate forms every sum."""
    t = load(spark, sf_dir)
    pairs = (
        t.lineitem.join(
            F.broadcast(
                t.part.select(
                    F.col("p_partkey").alias("l_partkey"),
                    F.round(F.col("p_retailprice") * 100, 0)
                    .cast("long")
                    .alias("retail_cents"),
                )
            ),
            "l_partkey",
        )
        .groupBy("l_partkey")
        .agg(
            (
                F.sum(
                    F.round(F.col("l_extendedprice") * 100, 0).cast("long")
                )
                - F.max("retail_cents")
                * F.sum(F.col("l_quantity").cast("long"))
            ).alias("d")
        )
    )
    return wilcoxon_signed_rank_z(pairs)


# --------------------------------------------------------------------------
# Cramér's V (association effect size over a cross-table join)
# --------------------------------------------------------------------------
@query(
    "cramers_v_segment_priority",
    oracle="""
    WITH c AS (
        SELECT cu.c_mktsegment AS seg, o.o_orderpriority AS pri,
               count(*)::HUGEINT AS c
        FROM orders o JOIN customer cu ON o.o_custkey = cu.c_custkey
        GROUP BY 1, 2
    ),
    r AS (SELECT seg, sum(c) AS r FROM c GROUP BY seg),
    k AS (SELECT pri, sum(c) AS k FROM c GROUP BY pri),
    n AS (SELECT sum(c) AS n FROM c),
    chi AS (
        SELECT max(n.n) AS n,
               (SELECT count(*) FROM r) AS nr,
               (SELECT count(*) FROM k) AS nc,
               max(n.n) * sum(c.c * c.c / (r.r * k.k * 1.0)) - max(n.n)
                   AS chi2
        FROM c JOIN r USING (seg) JOIN k USING (pri), n
    )
    SELECT CAST(n AS BIGINT) AS n,
           CAST((nr - 1) * (nc - 1) AS BIGINT) AS dof,
           round(chi2, 4) + 0.0 AS chi2,
           round(sqrt(chi2 / (n * least(nr - 1, nc - 1))), 6) + 0.0
               AS cramers_v
    FROM chi
    """,
    tags=("profile", "stats", "association"),
)
def cramers_v_segment_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér's V between customer market segment and order priority
    — the normalized effect size the chi-square family needs to be
    comparable across table shapes (V in [0,1] regardless of
    dimensions), here over a cross-TABLE association (orders joined
    to the customer dimension, not a single-table cross-tab).  Uses
    the identity chi2 = N * sum c_ij^2/(r_i k_j) - N on exact integer
    counts; the float sum runs over |segments| x |priorities| cells
    only, then V = sqrt(chi2 / (N * min(r-1, c-1))).

    Scale shape: the customer dimension broadcast-joins the fact
    scan; ONE map-side-combined groupBy builds the cells; marginals
    reduce the tiny cell frame and broadcast back. Raw facts are
    touched once."""
    t = load(spark, sf_dir)
    c = (
        t.orders.join(
            F.broadcast(
                t.customer.select(
                    F.col("c_custkey").alias("o_custkey"),
                    F.col("c_mktsegment").alias("seg"),
                )
            ),
            "o_custkey",
        )
        .groupBy("seg", F.col("o_orderpriority").alias("pri"))
        .agg(F.count("*").cast("decimal(38,0)").alias("c"))
    )
    r = c.groupBy("seg").agg(F.sum("c").alias("r"))
    k = c.groupBy("pri").agg(F.sum("c").alias("k"))
    j = c.join(F.broadcast(r), "seg").join(F.broadcast(k), "pri")
    chi = j.agg(
        F.sum("c").alias("n"),
        F.countDistinct("seg").alias("nr"),
        F.countDistinct("pri").alias("nc"),
        (
            F.sum("c").cast("double")
            * F.sum(
                (F.col("c") * F.col("c")).cast("double")
                / (F.col("r") * F.col("k")).cast("double")
            )
            - F.sum("c").cast("double")
        ).alias("chi2"),
    )
    return chi.select(
        F.col("n").cast("long").alias("n"),
        ((F.col("nr") - 1) * (F.col("nc") - 1)).cast("long").alias("dof"),
        (F.round("chi2", 4) + 0.0).alias("chi2"),
        (
            F.round(
                F.sqrt(
                    F.col("chi2")
                    / (
                        F.col("n").cast("double")
                        * F.least(F.col("nr") - 1, F.col("nc") - 1)
                    )
                ),
                6,
            )
            + 0.0
        ).alias("cramers_v"),
    )


# --------------------------------------------------------------------------
# Differential-privacy release (deterministic Laplace mechanism)
# --------------------------------------------------------------------------
#: released noise scale b = sensitivity / epsilon
_DP_EPS = 1.0
#: k-threshold: groups smaller than this are suppressed entirely
_DP_MIN_GROUP = 5
#: per-record contribution clamp for the noisy SUM release
_DP_CLAMP = 1000
_HEX13 = float(16 ** 13)


def _dp_uniform_spark(key) -> "F.Column":
    """Deterministic uniform in (0,1) from the portable md5-prefix
    hash (13 hex digits = 52 bits; +0.5 keeps it strictly interior so
    the Laplace inverse-CDF below never hits ln(0))."""
    h = F.conv(
        F.substring(F.md5(key), 1, 13), 16, 10
    ).cast("double")
    return (h + 0.5) / F.lit(_HEX13)


def _dp_laplace_spark(key, b: float) -> "F.Column":
    u = _dp_uniform_spark(key) - 0.5
    return (
        -F.lit(b)
        * F.signum(u)
        * F.log(1.0 - 2.0 * F.abs(u))
    )


def _dp_laplace_sql(key_sql: str, b: float) -> str:
    u = (
        f"((('0x' || substr(md5({key_sql}), 1, 13))::BIGINT + 0.5)"
        f" / {_HEX13!r} - 0.5)"
    )
    return f"(-{b!r} * sign({u}) * ln(1.0 - 2.0 * abs({u})))"


@query(
    "dp_noisy_source_counts",
    oracle=f"""
    WITH g AS (
        SELECT source, count(*) AS n FROM documents GROUP BY source
    )
    SELECT source,
           round(n + {_dp_laplace_sql("'dpc|' || source", 1.0 / _DP_EPS)}, 4)
               + 0.0 AS noisy_n
    FROM g WHERE n >= {_DP_MIN_GROUP}
    """,
    tags=("privacy", "dp"),
)
def dp_noisy_source_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ε-differentially-private count release (Laplace mechanism,
    sensitivity 1, b = 1/ε) over per-source document counts, with
    k-threshold suppression of small groups — the privacy-preserving
    stats-release step next to the k-anonymity audit.  The noise is
    DETERMINISTIC (inverse-CDF of a portable md5-derived uniform
    keyed on the group), the repo's reproducibility discipline: the
    released table is stable across runs and engines, which is what
    makes it oracle-checkable — a production release swaps the keyed
    hash for a secret-seeded one without touching the plan.

    Scale shape: one map-side-combinable count per group, then
    codegen arithmetic on one row per group; no shuffle beyond the
    keyed aggregate."""
    t = load(spark, sf_dir)
    g = t.documents.groupBy("source").agg(F.count("*").alias("n"))
    noise = _dp_laplace_spark(
        F.concat(F.lit("dpc|"), F.col("source")), 1.0 / _DP_EPS
    )
    return g.where(F.col("n") >= _DP_MIN_GROUP).select(
        "source",
        (F.round(F.col("n") + noise, 4) + 0.0).alias("noisy_n"),
    )


@query(
    "dp_noisy_clamped_sum",
    oracle=f"""
    WITH g AS (
        SELECT source,
               count(*) AS n,
               CAST(sum(least(n_chars, {_DP_CLAMP})) AS BIGINT) AS s
        FROM documents GROUP BY source
    )
    SELECT source,
           round(s + {_dp_laplace_sql("'dps|' || source",
                                      float(_DP_CLAMP) / _DP_EPS)}, 4)
               + 0.0 AS noisy_sum
    FROM g WHERE n >= {_DP_MIN_GROUP}
    """,
    tags=("privacy", "dp"),
)
def dp_noisy_clamped_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ε-DP noisy SUM release with per-record contribution clamping:
    each document contributes at most _DP_CLAMP characters (bounding
    the sensitivity), so Laplace scale b = clamp/ε releases the
    per-source character totals privately.  Clamp-then-sum is the
    textbook bounded-contribution mechanism; the clamp happens inside
    the partial aggregate, so the shuffle carries one long per
    group/partition."""
    t = load(spark, sf_dir)
    g = t.documents.groupBy("source").agg(
        F.count("*").alias("n"),
        F.sum(F.least(F.col("n_chars"), F.lit(_DP_CLAMP))).alias("s"),
    )
    noise = _dp_laplace_spark(
        F.concat(F.lit("dps|"), F.col("source")),
        float(_DP_CLAMP) / _DP_EPS,
    )
    return g.where(F.col("n") >= _DP_MIN_GROUP).select(
        "source",
        (F.round(F.col("s") + noise, 4) + 0.0).alias("noisy_sum"),
    )


@query(
    "adf_unit_root_daily_revenue",
    # identical closed-form Cramer's-rule OLS on both engines: every
    # moment is an exact DECIMAL(38,0) sum of integer-cents products,
    # so both sides hand the SAME integers to the SAME double
    # expression tree and the t-statistic matches bit-for-bit before
    # rounding.
    oracle=f"""
    WITH daily AS ({daily_revenue_sql("rev")}),
    l1 AS (
        SELECT d, rev, lag(rev) OVER (ORDER BY d) AS y1 FROM daily
    ),
    l2 AS (
        SELECT rev - y1 AS dy, y1,
               lag(rev - y1) OVER (ORDER BY d) AS dy1
        FROM l1 WHERE y1 IS NOT NULL
    ),
    obs AS (SELECT dy, y1, dy1 FROM l2 WHERE dy1 IS NOT NULL),
    mo AS (
        SELECT CAST(count(*) AS DECIMAL(38,0)) AS n,
               sum(CAST(y1 AS DECIMAL(38,0))) AS s1,
               sum(CAST(dy1 AS DECIMAL(38,0))) AS s2,
               sum(CAST(dy AS DECIMAL(38,0))) AS sy,
               sum(CAST(y1 AS DECIMAL(38,0)) * CAST(y1 AS DECIMAL(38,0))) AS s11,
               sum(CAST(y1 AS DECIMAL(38,0)) * CAST(dy1 AS DECIMAL(38,0))) AS s12,
               sum(CAST(dy1 AS DECIMAL(38,0)) * CAST(dy1 AS DECIMAL(38,0))) AS s22,
               sum(CAST(y1 AS DECIMAL(38,0)) * CAST(dy AS DECIMAL(38,0))) AS s1y,
               sum(CAST(dy1 AS DECIMAL(38,0)) * CAST(dy AS DECIMAL(38,0))) AS s2y,
               sum(CAST(dy AS DECIMAL(38,0)) * CAST(dy AS DECIMAL(38,0))) AS syy
        FROM obs
    ),
    f AS (
        SELECT CAST(n AS DOUBLE) AS n, CAST(s1 AS DOUBLE) AS s1,
               CAST(s2 AS DOUBLE) AS s2, CAST(sy AS DOUBLE) AS sy,
               CAST(s11 AS DOUBLE) AS s11, CAST(s12 AS DOUBLE) AS s12,
               CAST(s22 AS DOUBLE) AS s22, CAST(s1y AS DOUBLE) AS s1y,
               CAST(s2y AS DOUBLE) AS s2y, CAST(syy AS DOUBLE) AS syy
        FROM mo
    ),
    sol AS (
        SELECT n,
               n*(s11*s22 - s12*s12) - s1*(s1*s22 - s12*s2)
                 + s2*(s1*s12 - s11*s2) AS det,
               sy*(s11*s22 - s12*s12) - s1*(s1y*s22 - s12*s2y)
                 + s2*(s1y*s12 - s11*s2y) AS det0,
               n*(s1y*s22 - s12*s2y) - sy*(s1*s22 - s12*s2)
                 + s2*(s1*s2y - s1y*s2) AS det1,
               n*(s11*s2y - s1y*s12) - s1*(s1*s2y - s1y*s2)
                 + sy*(s1*s12 - s11*s2) AS det2,
               n*s22 - s2*s2 AS c11,
               sy, s1y, s2y, syy
        FROM f
    )
    SELECT CAST(n AS INT) AS n_obs,
           round(det1 / det, 8) + 0.0 AS beta,
           round((det1 / det)
                 / sqrt(((syy - (det0 / det) * sy - (det1 / det) * s1y
                          - (det2 / det) * s2y) / (n - 3))
                        * c11 / det), 6) + 0.0 AS adf_t
    FROM sol
    """,
    tags=("profile", "timeseries", "stats", "bounded-window"),
)
def adf_unit_root_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Augmented Dickey-Fuller unit-root test (lag order 1) on the
    daily-revenue series: regress Δy_t on [1, y_{t-1}, Δy_{t-1}] and
    report the t-statistic of the y_{t-1} coefficient — the standard
    stationarity check run before ARIMA-style modeling or drift
    monitoring of a metric series (Dickey & Fuller 1979; Said & Dickey
    1984 for the augmented form).  The OLS solve is closed-form
    Cramer's rule on the 3x3 normal equations; the t-stat is
    β̂ / sqrt(s²·(X'X)⁻¹₁₁).

    Scale shape + parity: the fact table collapses to one row per day
    FIRST (map-side-combined groupBy), the two lag windows run over
    that bounded ~2.4k-row frame (documented bounded-global-window
    tier), and all ten regression moments accumulate as exact
    DECIMAL(38,0) sums of integer cents, so both engines feed
    identical integers into the identical double expression — the one
    final float computation (plans/profile.py float-parity
    discipline).  A hypothesis test pins the statistic itself against
    a numpy lstsq reference (tests/test_properties.py)."""
    t = load(spark, sf_dir)
    daily = daily_revenue(t.orders, "rev")
    w = W.orderBy("d")
    l1 = daily.select("d", "rev", F.lag("rev").over(w).alias("y1"))
    l2 = l1.where(F.col("y1").isNotNull()).select(
        "d",
        (F.col("rev") - F.col("y1")).alias("dy"),
        "y1",
    )
    l2 = l2.select(
        "dy", "y1", F.lag("dy").over(W.orderBy("d")).alias("dy1")
    )
    obs = l2.where(F.col("dy1").isNotNull())
    dec = "decimal(38,0)"
    mo = obs.agg(
        F.expr("CAST(count(*) AS DECIMAL(38,0))").alias("n"),
        F.expr("sum(CAST(y1 AS DECIMAL(38,0)))").alias("s1"),
        F.expr("sum(CAST(dy1 AS DECIMAL(38,0)))").alias("s2"),
        F.expr("sum(CAST(dy AS DECIMAL(38,0)))").alias("sy"),
        F.expr("sum(CAST(y1 AS DECIMAL(38,0)) * CAST(y1 AS DECIMAL(38,0)))").alias("s11"),
        F.expr("sum(CAST(y1 AS DECIMAL(38,0)) * CAST(dy1 AS DECIMAL(38,0)))").alias("s12"),
        F.expr("sum(CAST(dy1 AS DECIMAL(38,0)) * CAST(dy1 AS DECIMAL(38,0)))").alias("s22"),
        F.expr("sum(CAST(y1 AS DECIMAL(38,0)) * CAST(dy AS DECIMAL(38,0)))").alias("s1y"),
        F.expr("sum(CAST(dy1 AS DECIMAL(38,0)) * CAST(dy AS DECIMAL(38,0)))").alias("s2y"),
        F.expr("sum(CAST(dy AS DECIMAL(38,0)) * CAST(dy AS DECIMAL(38,0)))").alias("syy"),
    )
    f = mo.select(*[F.col(c).cast("double").alias(c) for c in mo.columns])
    n, s1, s2, sy = F.col("n"), F.col("s1"), F.col("s2"), F.col("sy")
    s11, s12, s22 = F.col("s11"), F.col("s12"), F.col("s22")
    s1y, s2y, syy = F.col("s1y"), F.col("s2y"), F.col("syy")
    sol = f.select(
        n.alias("n"),
        (n * (s11 * s22 - s12 * s12) - s1 * (s1 * s22 - s12 * s2)
         + s2 * (s1 * s12 - s11 * s2)).alias("det"),
        (sy * (s11 * s22 - s12 * s12) - s1 * (s1y * s22 - s12 * s2y)
         + s2 * (s1y * s12 - s11 * s2y)).alias("det0"),
        (n * (s1y * s22 - s12 * s2y) - sy * (s1 * s22 - s12 * s2)
         + s2 * (s1 * s2y - s1y * s2)).alias("det1"),
        (n * (s11 * s2y - s1y * s12) - s1 * (s1 * s2y - s1y * s2)
         + sy * (s1 * s12 - s11 * s2)).alias("det2"),
        (n * s22 - s2 * s2).alias("c11"),
        sy.alias("sy"), s1y.alias("s1y"), s2y.alias("s2y"),
        syy.alias("syy"),
    )
    det, det0 = F.col("det"), F.col("det0")
    det1, det2, c11 = F.col("det1"), F.col("det2"), F.col("c11")
    rss = (
        F.col("syy") - (det0 / det) * F.col("sy")
        - (det1 / det) * F.col("s1y") - (det2 / det) * F.col("s2y")
    )
    return sol.select(
        F.col("n").cast("int").alias("n_obs"),
        (F.round(det1 / det, 8) + 0.0).alias("beta"),
        (
            F.round(
                (det1 / det)
                / F.sqrt(rss / (F.col("n") - 3) * c11 / det),
                6,
            )
            + 0.0
        ).alias("adf_t"),
    )


@query(
    "engle_granger_cointegration",
    # two-step Engle-Granger with the float-parity discipline: the
    # hedge regression runs on exact DECIMAL(38,0) integer-cents
    # moments (closed-form 2-var OLS), residuals are QUANTIZED back to
    # integer cents (round of identical doubles is identical), and the
    # Dickey-Fuller step reuses exact integer moments — so both
    # engines run the same double expression on the same integers.
    oracle="""
    WITH daily AS (
        SELECT CAST(date_trunc('day', o.o_orderdate) AS DATE) AS d,
               sum(CASE WHEN c.c_mktsegment = 'BUILDING'
                   THEN CAST(round(o.o_totalprice * 100, 0) AS BIGINT)
                   ELSE 0 END) AS yb,
               sum(CASE WHEN c.c_mktsegment = 'AUTOMOBILE'
                   THEN CAST(round(o.o_totalprice * 100, 0) AS BIGINT)
                   ELSE 0 END) AS xa
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY 1
    ),
    mo AS (
        SELECT CAST(count(*) AS DECIMAL(38,0)) AS n,
               sum(CAST(xa AS DECIMAL(38,0))) AS sx,
               sum(CAST(yb AS DECIMAL(38,0))) AS sy,
               sum(CAST(xa AS DECIMAL(38,0)) * CAST(xa AS DECIMAL(38,0))) AS sxx,
               sum(CAST(xa AS DECIMAL(38,0)) * CAST(yb AS DECIMAL(38,0))) AS sxy
        FROM daily
    ),
    ab AS (
        SELECT (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
               / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS b,
               CAST(sy AS DOUBLE) AS syf, CAST(sx AS DOUBLE) AS sxf,
               CAST(n AS DOUBLE) AS nf
        FROM mo
    ),
    resid AS (
        SELECT d,
               CAST(round(yb - ((syf - b * sxf) / nf) - b * xa, 0)
                    AS BIGINT) AS r
        FROM daily, ab
    ),
    lagd AS (
        SELECT r, lag(r) OVER (ORDER BY d) AS r1 FROM resid
    ),
    obs AS (SELECT r - r1 AS dr, r1 FROM lagd WHERE r1 IS NOT NULL),
    dfmo AS (
        SELECT CAST(count(*) AS DECIMAL(38,0)) AS m,
               sum(CAST(r1 AS DECIMAL(38,0)) * CAST(r1 AS DECIMAL(38,0))) AS s11,
               sum(CAST(r1 AS DECIMAL(38,0)) * CAST(dr AS DECIMAL(38,0))) AS s1d,
               sum(CAST(dr AS DECIMAL(38,0)) * CAST(dr AS DECIMAL(38,0))) AS sdd
        FROM obs
    )
    SELECT CAST(ab.nf AS INT) AS n_days,
           round(ab.b, 8) + 0.0 AS hedge_ratio,
           round((CAST(s1d AS DOUBLE) / CAST(s11 AS DOUBLE))
                 / sqrt(((CAST(sdd AS DOUBLE)
                          - (CAST(s1d AS DOUBLE) / CAST(s11 AS DOUBLE))
                            * CAST(s1d AS DOUBLE))
                         / (CAST(m AS DOUBLE) - 1.0))
                        / CAST(s11 AS DOUBLE)), 6) + 0.0 AS eg_t
    FROM ab, dfmo
    """,
    tags=("profile", "timeseries", "stats", "finance", "bounded-window"),
)
def engle_granger_cointegration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engle-Granger two-step cointegration test (Engle & Granger
    1987) between the BUILDING- and AUTOMOBILE-segment daily revenue
    series: (1) the cointegrating (hedge) regression y = a + b·x by
    closed-form OLS, (2) a Dickey-Fuller t-test (no constant, lag 0)
    on the quantized residuals — the pairs-trading / long-run-
    equilibrium diagnostic beside adf_unit_root_daily_revenue's
    single-series test.

    Parity discipline: both OLS steps run on exact DECIMAL(38,0)
    moments of integer cents; residuals round back to integer cents
    before the second step, so no order-dependent float sum exists
    anywhere.  The one window (lag) runs over the bounded ~2.4k-row
    daily frame.  A hypothesis test pins the statistic against a
    numpy reference (tests/test_properties.py)."""
    t = load(spark, sf_dir)
    daily = (
        t.orders.join(
            t.customer.select("c_custkey", "c_mktsegment"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .select(
            F.to_date(F.date_trunc("day", "o_orderdate")).alias("d"),
            F.round(F.col("o_totalprice") * 100, 0).cast("long").alias(
                "cents"
            ),
            "c_mktsegment",
        )
        .groupBy("d")
        .agg(
            F.sum(
                F.when(F.col("c_mktsegment") == "BUILDING",
                       F.col("cents")).otherwise(F.lit(0))
            ).alias("yb"),
            F.sum(
                F.when(F.col("c_mktsegment") == "AUTOMOBILE",
                       F.col("cents")).otherwise(F.lit(0))
            ).alias("xa"),
        )
        .persist()  # feeds the moment pass AND the residual pass
    )
    dec = "decimal(38,0)"
    mo = daily.agg(
        F.expr("CAST(count(*) AS DECIMAL(38,0))").alias("n"),
        F.expr("sum(CAST(xa AS DECIMAL(38,0)))").alias("sx"),
        F.expr("sum(CAST(yb AS DECIMAL(38,0)))").alias("sy"),
        F.expr("sum(CAST(xa AS DECIMAL(38,0)) * CAST(xa AS DECIMAL(38,0)))").alias("sxx"),
        F.expr("sum(CAST(xa AS DECIMAL(38,0)) * CAST(yb AS DECIMAL(38,0)))").alias("sxy"),
    )
    ab = mo.select(
        (
            (F.col("n").cast("double") * F.col("sxy").cast("double")
             - F.col("sx").cast("double") * F.col("sy").cast("double"))
            / (F.col("n").cast("double") * F.col("sxx").cast("double")
               - F.col("sx").cast("double") * F.col("sx").cast("double"))
        ).alias("b"),
        F.col("sy").cast("double").alias("syf"),
        F.col("sx").cast("double").alias("sxf"),
        F.col("n").cast("double").alias("nf"),
    )
    resid = daily.crossJoin(F.broadcast(ab)).select(
        "d",
        F.round(
            F.col("yb")
            - ((F.col("syf") - F.col("b") * F.col("sxf")) / F.col("nf"))
            - F.col("b") * F.col("xa"),
            0,
        )
        .cast("long")
        .alias("r"),
        "b",
        "nf",
    )
    lagd = resid.select(
        "r", "b", "nf", F.lag("r").over(W.orderBy("d")).alias("r1")
    )
    obs = lagd.where(F.col("r1").isNotNull()).select(
        (F.col("r") - F.col("r1")).alias("dr"), "r1", "b", "nf"
    )
    dfmo = obs.agg(
        F.expr("CAST(count(*) AS DECIMAL(38,0))").alias("m"),
        F.expr("sum(CAST(r1 AS DECIMAL(38,0)) * CAST(r1 AS DECIMAL(38,0)))").alias("s11"),
        F.expr("sum(CAST(r1 AS DECIMAL(38,0)) * CAST(dr AS DECIMAL(38,0)))").alias("s1d"),
        F.expr("sum(CAST(dr AS DECIMAL(38,0)) * CAST(dr AS DECIMAL(38,0)))").alias("sdd"),
        F.max("b").alias("b"),
        F.max("nf").alias("nf"),
    )
    phi = F.col("s1d").cast("double") / F.col("s11").cast("double")
    s2 = (
        F.col("sdd").cast("double") - phi * F.col("s1d").cast("double")
    ) / (F.col("m").cast("double") - 1.0)
    return dfmo.select(
        F.col("nf").cast("int").alias("n_days"),
        (F.round(F.col("b"), 8) + 0.0).alias("hedge_ratio"),
        (
            F.round(phi / F.sqrt(s2 / F.col("s11").cast("double")), 6)
            + 0.0
        ).alias("eg_t"),
    )


@query(
    "theil_sen_trend_daily_revenue",
    # slope of every day pair is an exact-integer ratio evaluated as
    # one double division on both engines; the estimator is the LOWER
    # MEDIAN under the total order (slope, d1, d2), so the selection
    # is deterministic — no interpolating percentile whose midpoint
    # arithmetic could differ.  The pair count is calendar-bounded
    # (~2.4k days -> ~2.9M pairs REGARDLESS of fact-table scale).
    oracle=f"""
    WITH daily AS ({daily_revenue_sql("rev")}),
    days AS (
        SELECT CAST(d - DATE '1992-01-01' AS BIGINT) AS t, rev FROM daily
    ),
    slopes AS (
        SELECT a.t AS d1, b.t AS d2,
               CAST(b.rev - a.rev AS DOUBLE) / CAST(b.t - a.t AS DOUBLE)
                   AS slope
        FROM days a JOIN days b ON b.t > a.t
    ),
    ranked AS (
        SELECT slope,
               row_number() OVER (ORDER BY slope, d1, d2) AS rnk,
               count(*) OVER () AS n
        FROM slopes
    )
    SELECT CAST(n AS BIGINT) AS n_pairs,
           round(slope / 100.0, 6) + 0.0 AS theil_slope_dollars_per_day
    FROM ranked
    WHERE rnk = (n + 1) // 2
    """,
    tags=("profile", "timeseries", "stats", "robust"),
)
def theil_sen_trend_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen estimator (Theil 1950; Sen 1968) of the daily-revenue
    trend: the median slope over ALL day pairs — the robust
    (29%-breakdown) alternative to the OLS trend, immune to the
    outlier days that pull a least-squares line.

    Scale shape: the fact table collapses to one row per day first, so
    the pair join is calendar-bounded (~2.4k days -> ~2.9M pairs, a
    constant regardless of fact-table scale — the operator's cost does
    NOT grow at 100 TB).  The median is selected by exact global rank
    via operators/rank.ordered_scan (range repartition + driver
    offsets — no single-partition window over the 2.9M slopes); the
    lower-median rule under the total order (slope, d1, d2) makes the
    selection reproducible across engines and partitionings."""
    t = load(spark, sf_dir)
    daily = daily_revenue(t.orders, "rev").select(
        F.datediff("d", F.lit("1992-01-01")).cast("long").alias("t"),
        "rev",
    )
    a = daily.select(F.col("t").alias("d1"), F.col("rev").alias("r1"))
    b = daily.select(F.col("t").alias("d2"), F.col("rev").alias("r2"))
    slopes = (
        a.crossJoin(F.broadcast(b))
        .where(F.col("d2") > F.col("d1"))
        .select(
            "d1", "d2",
            (
                (F.col("r2") - F.col("r1")).cast("double")
                / (F.col("d2") - F.col("d1")).cast("double")
            ).alias("slope"),
        )
    )
    # exact median by quantile-band selection (r13, guide §1.2/§2.4):
    # the old shape ranked ALL ~2.9M pairs through ordered_scan (range
    # exchange + 2.9M-row checkpoint + offsets join) only to keep rank
    # (n+1)//2. The slope stream itself is a map-only broadcast-NL
    # expansion of the ~2.4k-day frame, so three bounded shuffle-free
    # passes replace the rank machinery:
    #   1. approxQuantile brackets the median with a GK sketch whose
    #      rank error (±0.001n) is strictly inside the ±0.005n band;
    #   2. one exact aggregate counts n, the rows strictly below the
    #      band, and the band's population;
    #   3. TakeOrdered pulls the (k - below)-th row of the band under
    #      the total order (slope, d1, d2) — the same lower-median
    #      row the global rank selected, exactly (counts are exact;
    #      the sketch only chooses WHICH superset gets sorted).
    lo, hi = slopes.stat.approxQuantile("slope", [0.495, 0.505], 0.001)
    n, below, inband = slopes.agg(
        F.count("*"),
        F.count_if(F.col("slope") < lo),
        F.count_if(F.col("slope").between(lo, hi)),
    ).first()
    k = (n + 1) // 2
    j = k - below
    if not (1 <= j <= inband):  # GK bound violated — cannot happen
        raise AssertionError(
            f"theil_sen band missed the median: k={k} below={below}"
            f" inband={inband}"
        )
    return (
        slopes.where(F.col("slope").between(lo, hi))
        .orderBy("slope", "d1", "d2")
        .limit(j)
        .agg(F.max(F.struct("slope", "d1", "d2")).alias("_m"))
        .select(
            F.lit(n).cast("long").alias("n_pairs"),
            (F.round(F.col("_m.slope") / 100.0, 6) + 0.0).alias(
                "theil_slope_dollars_per_day"
            ),
        )
    )


@query(
    "mann_kendall_trend",
    # S and the tie-corrected variance are exact integers (DECIMAL(38,0)
    # where products can exceed int64); the z-statistic is one double
    # expression evaluated identically on both engines.
    oracle=f"""
    WITH daily AS ({daily_revenue_sql("rev")}),
    s AS (
        SELECT CAST(sum(CASE WHEN b.rev > a.rev THEN 1
                             WHEN b.rev < a.rev THEN -1 ELSE 0 END)
                    AS DECIMAL(38,0)) AS s
        FROM daily a JOIN daily b ON b.d > a.d
    ),
    n AS (SELECT CAST(count(*) AS DECIMAL(38,0)) AS n FROM daily),
    ties AS (
        SELECT coalesce(sum(CAST(t AS DECIMAL(38,0))
                            * CAST(t - 1 AS DECIMAL(38,0))
                            * CAST(2 * t + 5 AS DECIMAL(38,0))), 0) AS tt
        FROM (SELECT count(*) AS t FROM daily GROUP BY rev HAVING count(*) > 1)
    )
    SELECT CAST(n.n AS INT) AS n_days,
           CAST(s.s AS BIGINT) AS s_stat,
           round((CAST(s.s AS DOUBLE)
                  - CASE WHEN s.s > 0 THEN 1.0
                         WHEN s.s < 0 THEN -1.0 ELSE 0.0 END)
                 / sqrt((CAST(n.n AS DOUBLE) * (CAST(n.n AS DOUBLE) - 1.0)
                         * (2.0 * CAST(n.n AS DOUBLE) + 5.0)
                         - CAST(ties.tt AS DOUBLE)) / 18.0), 6) + 0.0 AS mk_z
    FROM s, n, ties
    """,
    tags=("profile", "timeseries", "stats", "robust"),
)
def mann_kendall_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall trend test (Mann 1945; Kendall 1975) on the daily
    revenue series: S = sum of sign(y_j - y_i) over all day pairs,
    variance with the tie correction sum t(t-1)(2t+5), and the
    continuity-corrected z statistic — the rank-based significance
    companion to theil_sen_trend_daily_revenue's slope magnitude (the
    two are standard together in hydrology/finance trend analysis).

    Scale shape: identical to Theil-Sen — the fact table collapses to
    the calendar-bounded daily frame first, the pair join is a
    broadcast cross join over ~2.4k rows regardless of fact scale, S
    accumulates as an exact integer, and the one float expression is
    a single-row closed form."""
    t = load(spark, sf_dir)
    # feeds the pair join twice plus n and ties
    daily = daily_revenue(t.orders, "rev").persist()
    dec = "decimal(38,0)"
    a = daily.select(F.col("d").alias("d1"), F.col("rev").alias("r1"))
    b = daily.select(F.col("d").alias("d2"), F.col("rev").alias("r2"))
    s = (
        a.crossJoin(b)
        .where(F.col("d2") > F.col("d1"))
        .agg(
            F.sum(
                F.when(F.col("r2") > F.col("r1"), 1)
                .when(F.col("r2") < F.col("r1"), -1)
                .otherwise(0)
            )
            .cast(dec)
            .alias("s")
        )
    )
    n = daily.agg(F.expr("CAST(count(*) AS DECIMAL(38,0))").alias("n"))
    ties = (
        daily.groupBy("rev")
        .agg(F.count("*").alias("t"))
        .where(F.col("t") > 1)
        .agg(
            F.coalesce(
                F.sum(
                    F.col("t").cast(dec)
                    * (F.col("t") - 1).cast(dec)
                    * (2 * F.col("t") + 5).cast(dec)
                ),
                F.lit(0).cast(dec),
            ).alias("tt")
        )
    )
    sd, nd = F.col("s").cast("double"), F.col("n").cast("double")
    cc = (
        F.when(F.col("s") > 0, F.lit(1.0))
        .when(F.col("s") < 0, F.lit(-1.0))
        .otherwise(F.lit(0.0))
    )
    var = (nd * (nd - 1.0) * (2.0 * nd + 5.0)
           - F.col("tt").cast("double")) / 18.0
    return (
        s.crossJoin(F.broadcast(n))
        .crossJoin(F.broadcast(ties))
        .select(
            F.col("n").cast("int").alias("n_days"),
            F.col("s").cast("long").alias("s_stat"),
            (F.round((sd - cc) / F.sqrt(var), 6) + 0.0).alias("mk_z"),
        )
    )


_BT_HORIZONS = 7


@query(
    "naive_forecast_backtest",
    # every error is an exact integer (cents); MAE/RMSE/sMAPE are one
    # float expression over exact DECIMAL(38,0) error moments, so both
    # engines aggregate identical integers and round once.
    oracle=f"""
    WITH daily AS ({daily_revenue_sql("rev")}),
    h AS (SELECT unnest(range(1, {_BT_HORIZONS + 1})) AS horizon),
    j AS (
        SELECT h.horizon, a.rev AS actual, b.rev AS pred
        FROM h
        JOIN daily a ON TRUE
        JOIN daily b ON b.d = a.d - CAST(h.horizon AS INT)
    ),
    m AS (
        SELECT horizon,
               CAST(count(*) AS DECIMAL(38,0)) AS n,
               sum(CAST(abs(actual - pred) AS DECIMAL(38,0))) AS sae,
               sum(CAST(actual - pred AS DECIMAL(38,0))
                   * CAST(actual - pred AS DECIMAL(38,0))) AS sse,
               sum(CAST(abs(actual - pred) AS DOUBLE)
                   / (CAST(actual AS DOUBLE) + CAST(pred AS DOUBLE)))
                   AS smape_sum
        FROM j GROUP BY horizon
    )
    SELECT CAST(horizon AS INT) AS horizon,
           CAST(n AS BIGINT) AS n_days,
           round(CAST(sae AS DOUBLE) / CAST(n AS DOUBLE) / 100.0, 4)
               + 0.0 AS mae_dollars,
           round(sqrt(CAST(sse AS DOUBLE) / CAST(n AS DOUBLE)) / 100.0, 4)
               + 0.0 AS rmse_dollars,
           round(200.0 * smape_sum / CAST(n AS DOUBLE), 6) + 0.0 AS smape
    FROM m
    """,
    tags=("profile", "timeseries", "eval", "forecast"),
)
def naive_forecast_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-origin backtest of the naive-h forecaster family
    (yhat_t = y_(t-h), h = 1..{_BT_HORIZONS}) on daily revenue:
    per-horizon MAE, RMSE and sMAPE — the baseline error curve every
    forecasting effort must beat (Hyndman & Athanasopoulos, FPP:
    'no forecasting method should do worse than naive'), and the
    metric battery for forecast_revenue_change's Q6-style deltas.

    Scale shape: the fact table collapses to the calendar-bounded
    daily frame first; the horizon fan-out is a 7x broadcast explode
    joined back on exact date arithmetic (an equi-join on day, not a
    window); error moments accumulate as exact DECIMAL(38,0) integers
    with sMAPE the only float sum (order-insensitive to 6 digits —
    the same rounding discipline as the LM-score rollups)."""
    t = load(spark, sf_dir)
    # both sides of the horizon join
    daily = daily_revenue(t.orders, "rev").persist()
    h = spark.range(1, _BT_HORIZONS + 1).select(
        F.col("id").cast("int").alias("horizon")
    )
    a = daily.select(F.col("d").alias("da"), F.col("rev").alias("actual"))
    b = daily.select(F.col("d").alias("db"), F.col("rev").alias("pred"))
    j = (
        a.crossJoin(F.broadcast(h))
        .join(b, F.col("db") == F.date_sub(F.col("da"), F.col("horizon")))
        .select("horizon", "actual", "pred")
    )
    dec = "decimal(38,0)"
    err = F.col("actual") - F.col("pred")
    m = j.groupBy("horizon").agg(
        F.expr("CAST(count(*) AS DECIMAL(38,0))").alias("n"),
        F.sum(F.abs(err).cast(dec)).alias("sae"),
        F.sum(err.cast(dec) * err.cast(dec)).alias("sse"),
        F.sum(
            F.abs(err).cast("double")
            / (F.col("actual").cast("double") + F.col("pred").cast("double"))
        ).alias("smape_sum"),
    )
    nd = F.col("n").cast("double")
    return m.select(
        F.col("horizon").cast("int").alias("horizon"),
        F.col("n").cast("long").alias("n_days"),
        (F.round(F.col("sae").cast("double") / nd / 100.0, 4) + 0.0).alias(
            "mae_dollars"
        ),
        (
            F.round(F.sqrt(F.col("sse").cast("double") / nd) / 100.0, 4)
            + 0.0
        ).alias("rmse_dollars"),
        (F.round(200.0 * F.col("smape_sum") / nd, 6) + 0.0).alias("smape"),
    )


_XC_MAX_LAG = 7


@query(
    "lead_lag_xcorr",
    # per-lag Pearson correlation from exact DECIMAL(38,0) moments of
    # integer cents — one float expression per lag, identical on both
    # engines.
    oracle=f"""
    WITH daily AS (
        SELECT CAST(date_trunc('day', o.o_orderdate) AS DATE) AS d,
               sum(CASE WHEN c.c_mktsegment = 'BUILDING'
                   THEN CAST(round(o.o_totalprice * 100, 0) AS BIGINT)
                   ELSE 0 END) AS yb,
               sum(CASE WHEN c.c_mktsegment = 'AUTOMOBILE'
                   THEN CAST(round(o.o_totalprice * 100, 0) AS BIGINT)
                   ELSE 0 END) AS xa
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY 1
    ),
    lags AS (SELECT unnest(range(-{_XC_MAX_LAG}, {_XC_MAX_LAG + 1})) AS lag),
    j AS (
        SELECT l.lag, a.yb AS y, b.xa AS x
        FROM lags l
        JOIN daily a ON TRUE
        JOIN daily b ON b.d = a.d - CAST(l.lag AS INT)
    ),
    mo AS (
        SELECT lag,
               CAST(count(*) AS DECIMAL(38,0)) AS n,
               sum(CAST(x AS DECIMAL(38,0))) AS sx,
               sum(CAST(y AS DECIMAL(38,0))) AS sy,
               sum(CAST(x AS DECIMAL(38,0)) * CAST(x AS DECIMAL(38,0))) AS sxx,
               sum(CAST(y AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0))) AS syy,
               sum(CAST(x AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0))) AS sxy
        FROM j GROUP BY lag
    )
    SELECT CAST(lag AS INT) AS lag,
           CAST(n AS BIGINT) AS n_days,
           round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                        * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                           - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))),
                 6) + 0.0 AS xcorr
    FROM mo
    """,
    tags=("profile", "timeseries", "stats", "finance"),
)
def lead_lag_xcorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lead-lag cross-correlation between the BUILDING and AUTOMOBILE
    segment daily-revenue series at lags -{_XC_MAX_LAG}..{_XC_MAX_LAG}:
    corr(y_t, x_(t-lag)) per lag — the standard lead-lag discovery
    scan (which series moves first?) beside
    engle_granger_cointegration's long-run-equilibrium view.

    Scale shape: the calendar-bounded daily frame fans out 15x via a
    broadcast lag join on exact date arithmetic (no windows); each
    lag's Pearson moments accumulate as exact DECIMAL(38,0) integers
    and the correlation is one rounded float expression per lag."""
    t = load(spark, sf_dir)
    daily = (
        t.orders.join(
            t.customer.select("c_custkey", "c_mktsegment"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .select(
            F.to_date(F.date_trunc("day", "o_orderdate")).alias("d"),
            F.round(F.col("o_totalprice") * 100, 0).cast("long").alias(
                "cents"
            ),
            "c_mktsegment",
        )
        .groupBy("d")
        .agg(
            F.sum(
                F.when(F.col("c_mktsegment") == "BUILDING",
                       F.col("cents")).otherwise(F.lit(0))
            ).alias("yb"),
            F.sum(
                F.when(F.col("c_mktsegment") == "AUTOMOBILE",
                       F.col("cents")).otherwise(F.lit(0))
            ).alias("xa"),
        )
        .persist()
    )
    lags = spark.range(-_XC_MAX_LAG, _XC_MAX_LAG + 1).select(
        F.col("id").cast("int").alias("lag")
    )
    a = daily.select(F.col("d").alias("da"), F.col("yb").alias("y"))
    b = daily.select(F.col("d").alias("db"), F.col("xa").alias("x"))
    j = (
        a.crossJoin(F.broadcast(lags))
        .join(b, F.col("db") == F.date_sub(F.col("da"), F.col("lag")))
        .select("lag", "x", "y")
    )
    dec = "decimal(38,0)"
    mo = j.groupBy("lag").agg(
        F.expr("CAST(count(*) AS DECIMAL(38,0))").alias("n"),
        F.expr("sum(CAST(x AS DECIMAL(38,0)))").alias("sx"),
        F.expr("sum(CAST(y AS DECIMAL(38,0)))").alias("sy"),
        F.expr("sum(CAST(x AS DECIMAL(38,0)) * CAST(x AS DECIMAL(38,0)))").alias("sxx"),
        F.expr("sum(CAST(y AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0)))").alias("syy"),
        F.expr("sum(CAST(x AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0)))").alias("sxy"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    return mo.select(
        F.col("lag").cast("int").alias("lag"),
        F.col("n").cast("long").alias("n_days"),
        (
            F.round(
                (d("n") * d("sxy") - d("sx") * d("sy"))
                / F.sqrt(
                    (d("n") * d("sxx") - d("sx") * d("sx"))
                    * (d("n") * d("syy") - d("sy") * d("sy"))
                ),
                6,
            )
            + 0.0
        ).alias("xcorr"),
    )


@query(
    "granger_causality_f",
    # both regressions solve closed-form from the SAME exact
    # DECIMAL(38,0) moments, so the F statistic is one deterministic
    # double expression on both engines.
    oracle="""
    WITH daily AS (
        SELECT CAST(date_trunc('day', o.o_orderdate) AS DATE) AS d,
               sum(CASE WHEN c.c_mktsegment = 'BUILDING'
                   THEN CAST(round(o.o_totalprice * 100, 0) AS BIGINT)
                   ELSE 0 END) AS yb,
               sum(CASE WHEN c.c_mktsegment = 'AUTOMOBILE'
                   THEN CAST(round(o.o_totalprice * 100, 0) AS BIGINT)
                   ELSE 0 END) AS xa
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY 1
    ),
    lagd AS (
        SELECT yb AS r,
               lag(yb) OVER (ORDER BY d) AS u,
               lag(xa) OVER (ORDER BY d) AS v
        FROM daily
    ),
    obs AS (SELECT r, u, v FROM lagd WHERE u IS NOT NULL),
    mo AS (
        SELECT CAST(count(*) AS DECIMAL(38,0)) AS n,
               sum(CAST(u AS DECIMAL(38,0))) AS s1,
               sum(CAST(v AS DECIMAL(38,0))) AS s2,
               sum(CAST(r AS DECIMAL(38,0))) AS sy,
               sum(CAST(u AS DECIMAL(38,0)) * CAST(u AS DECIMAL(38,0))) AS s11,
               sum(CAST(u AS DECIMAL(38,0)) * CAST(v AS DECIMAL(38,0))) AS s12,
               sum(CAST(v AS DECIMAL(38,0)) * CAST(v AS DECIMAL(38,0))) AS s22,
               sum(CAST(u AS DECIMAL(38,0)) * CAST(r AS DECIMAL(38,0))) AS s1y,
               sum(CAST(v AS DECIMAL(38,0)) * CAST(r AS DECIMAL(38,0))) AS s2y,
               sum(CAST(r AS DECIMAL(38,0)) * CAST(r AS DECIMAL(38,0))) AS syy
        FROM obs
    ),
    f AS (
        SELECT CAST(n AS DOUBLE) AS n, CAST(s1 AS DOUBLE) AS s1,
               CAST(s2 AS DOUBLE) AS s2, CAST(sy AS DOUBLE) AS sy,
               CAST(s11 AS DOUBLE) AS s11, CAST(s12 AS DOUBLE) AS s12,
               CAST(s22 AS DOUBLE) AS s22, CAST(s1y AS DOUBLE) AS s1y,
               CAST(s2y AS DOUBLE) AS s2y, CAST(syy AS DOUBLE) AS syy
        FROM mo
    ),
    sol AS (
        SELECT n, sy, s1y, s2y, syy,
               n*(s11*s22 - s12*s12) - s1*(s1*s22 - s12*s2)
                 + s2*(s1*s12 - s11*s2) AS det,
               sy*(s11*s22 - s12*s12) - s1*(s1y*s22 - s12*s2y)
                 + s2*(s1y*s12 - s11*s2y) AS det0,
               n*(s1y*s22 - s12*s2y) - sy*(s1*s22 - s12*s2)
                 + s2*(s1*s2y - s1y*s2) AS det1,
               n*(s11*s2y - s1y*s12) - s1*(s1*s2y - s1y*s2)
                 + sy*(s1*s12 - s11*s2) AS det2,
               (n*s1y - s1*sy) / (n*s11 - s1*s1) AS beta_r,
               s1, s11
        FROM f
    ),
    rss AS (
        SELECT n,
               syy - (det0/det)*sy - (det1/det)*s1y - (det2/det)*s2y
                   AS rss_u,
               syy - ((sy - beta_r*s1)/n)*sy - beta_r*s1y AS rss_r
        FROM sol
    )
    SELECT CAST(n AS INT) AS n_obs,
           round((rss_r - rss_u) / (rss_u / (n - 3.0)), 4) + 0.0
               AS granger_f
    FROM rss
    """,
    tags=("profile", "timeseries", "stats", "finance", "bounded-window"),
)
def granger_causality_f(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Granger causality test, lag order 1 (Granger 1969): does
    yesterday's AUTOMOBILE revenue improve the prediction of today's
    BUILDING revenue beyond BUILDING's own lag?  F = ((RSS_r - RSS_u)
    / 1) / (RSS_u / (n - 3)), with the unrestricted regression
    y_t ~ [1, y_(t-1), x_(t-1)] solved by the same exact-moment
    Cramer's rule as adf_unit_root_daily_revenue and the restricted
    y_t ~ [1, y_(t-1)] in closed 2-var form — the predictive
    companion to lead_lag_xcorr's symmetric correlation scan.

    Scale shape: daily pre-aggregation first, one lag window over the
    bounded calendar frame, ten exact DECIMAL(38,0) moments, one-row
    float solve.  A hypothesis test pins the statistic against a
    numpy two-regression reference (tests/test_properties.py)."""
    t = load(spark, sf_dir)
    daily = (
        t.orders.join(
            t.customer.select("c_custkey", "c_mktsegment"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .select(
            F.to_date(F.date_trunc("day", "o_orderdate")).alias("d"),
            F.round(F.col("o_totalprice") * 100, 0).cast("long").alias(
                "cents"
            ),
            "c_mktsegment",
        )
        .groupBy("d")
        .agg(
            F.sum(
                F.when(F.col("c_mktsegment") == "BUILDING",
                       F.col("cents")).otherwise(F.lit(0))
            ).alias("yb"),
            F.sum(
                F.when(F.col("c_mktsegment") == "AUTOMOBILE",
                       F.col("cents")).otherwise(F.lit(0))
            ).alias("xa"),
        )
    )
    lagd = daily.select(
        F.col("yb").alias("r"),
        F.lag("yb").over(W.orderBy("d")).alias("u"),
        F.lag("xa").over(W.orderBy("d")).alias("v"),
    )
    obs = lagd.where(F.col("u").isNotNull())
    dec = "decimal(38,0)"
    mo = obs.agg(
        F.expr("CAST(count(*) AS DECIMAL(38,0))").alias("n"),
        F.expr("sum(CAST(u AS DECIMAL(38,0)))").alias("s1"),
        F.expr("sum(CAST(v AS DECIMAL(38,0)))").alias("s2"),
        F.expr("sum(CAST(r AS DECIMAL(38,0)))").alias("sy"),
        F.expr("sum(CAST(u AS DECIMAL(38,0)) * CAST(u AS DECIMAL(38,0)))").alias("s11"),
        F.expr("sum(CAST(u AS DECIMAL(38,0)) * CAST(v AS DECIMAL(38,0)))").alias("s12"),
        F.expr("sum(CAST(v AS DECIMAL(38,0)) * CAST(v AS DECIMAL(38,0)))").alias("s22"),
        F.expr("sum(CAST(u AS DECIMAL(38,0)) * CAST(r AS DECIMAL(38,0)))").alias("s1y"),
        F.expr("sum(CAST(v AS DECIMAL(38,0)) * CAST(r AS DECIMAL(38,0)))").alias("s2y"),
        F.expr("sum(CAST(r AS DECIMAL(38,0)) * CAST(r AS DECIMAL(38,0)))").alias("syy"),
    )
    # Cramer solve + F statistic as parsed SQL (r13, guide §4 driver
    # side): one selectExpr per stage instead of ~150 per-operator
    # Column round trips; the parsed trees are the same arithmetic
    # node-for-node (same grouping, same operator order).
    f = mo.selectExpr(
        *[f"CAST({c} AS DOUBLE) AS {c}" for c in mo.columns]
    )
    sol = f.selectExpr(
        "n", "sy", "s1y", "s2y", "syy", "s1",
        "((n * ((s11 * s22) - (s12 * s12))) - (s1 * ((s1 * s22) -"
        " (s12 * s2)))) + (s2 * ((s1 * s12) - (s11 * s2))) AS det",
        "((sy * ((s11 * s22) - (s12 * s12))) - (s1 * ((s1y * s22) -"
        " (s12 * s2y)))) + (s2 * ((s1y * s12) - (s11 * s2y))) AS det0",
        "((n * ((s1y * s22) - (s12 * s2y))) - (sy * ((s1 * s22) -"
        " (s12 * s2)))) + (s2 * ((s1 * s2y) - (s1y * s2))) AS det1",
        "((n * ((s11 * s2y) - (s1y * s12))) - (s1 * ((s1 * s2y) -"
        " (s1y * s2)))) + (sy * ((s1 * s12) - (s11 * s2))) AS det2",
        "((n * s1y) - (s1 * sy)) / ((n * s11) - (s1 * s1)) AS beta_r",
    )
    rss_u = (
        "((syy - ((det0 / det) * sy)) - ((det1 / det) * s1y))"
        " - ((det2 / det) * s2y)"
    )
    rss_r = (
        "(syy - (((sy - (beta_r * s1)) / n) * sy)) - (beta_r * s1y)"
    )
    return sol.selectExpr(
        "CAST(n AS INT) AS n_obs",
        f"round((({rss_r}) - ({rss_u})) / (({rss_u}) / (n - 3.0D)), 4)"
        " + 0.0D AS granger_f",
    )


# --------------------------------------------------------------------------
# Wilson lower-bound ranking (round 9)
# --------------------------------------------------------------------------
_WILSON_Z = 1.96     #: 95% two-sided normal quantile, shared literal
_WILSON_TOP = 20


@query(
    "wilson_lower_bound_ranking",
    # the bound is one fixed-shape float expression over the exact
    # integer (n, x) pair — no float aggregation, so engine summation
    # order cannot perturb it; the top-k cut is under a total order
    # (bound desc, suppkey).
    oracle=f"""
    WITH s AS (
        SELECT l_suppkey,
               count(*) AS n,
               sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
                   ::BIGINT AS x
        FROM lineitem GROUP BY l_suppkey
    )
    SELECT l_suppkey, n, x,
           round((x * 1.0 / n + {_WILSON_Z} * {_WILSON_Z} / (2.0 * n)
                  - {_WILSON_Z} * sqrt((x * 1.0 / n * (1.0 - x * 1.0 / n)
                    + {_WILSON_Z} * {_WILSON_Z} / (4.0 * n)) / n))
                 / (1.0 + {_WILSON_Z} * {_WILSON_Z} / n), 6) + 0.0
               AS wilson_lb
    FROM s
    ORDER BY wilson_lb DESC, l_suppkey
    LIMIT {_WILSON_TOP}
    """,
    tags=("stats", "ranking"),
)
def wilson_lower_bound_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suppliers ranked by the Wilson score interval's LOWER bound on
    their return rate (z={_WILSON_Z}) — the shrinkage-aware 'worst
    reliably-bad suppliers' ranking (the Reddit/Evan Miller best-rated
    formulation, inverted): a supplier with 3/3 returns ranks below
    one with 80/100, because the bound prices the sample size.

    Scale shape: one map-side-combined groupBy over lineitem, the
    closed-form bound as a codegen expression over exact integers, and
    a TakeOrdered top-{_WILSON_TOP} — no window, no global sort."""
    t = load(spark, sf_dir)
    z = F.lit(_WILSON_Z)
    s = t.lineitem.groupBy("l_suppkey").agg(
        F.count("*").alias("n"),
        F.sum(F.when(F.col("l_returnflag") == "R", 1).otherwise(0))
        .cast("long").alias("x"),
    )
    p = F.col("x") * 1.0 / F.col("n")
    lb = (
        p + z * z / (2.0 * F.col("n"))
        - z * F.sqrt(
            (p * (1.0 - p) + z * z / (4.0 * F.col("n"))) / F.col("n")
        )
    ) / (1.0 + z * z / F.col("n"))
    return (
        s.select(
            "l_suppkey", "n", "x",
            (F.round(lb, 6) + 0.0).alias("wilson_lb"),
        )
        .orderBy(F.col("wilson_lb").desc(), "l_suppkey")
        .limit(_WILSON_TOP)
    )


# --------------------------------------------------------------------------
# empirical-Bayes beta-binomial shrinkage (round 9)
# --------------------------------------------------------------------------
#: fixed-point scale for per-supplier rates: integer division keeps
#: the prior's method-of-moments inputs EXACT in both engines (float
#: sums over groups would differ by summation order)
_EB_SCALE = 1_000_000_000


@query(
    "eb_shrunk_return_rates",
    # prior moments from integer-exact fixed-point rates (DECIMAL
    # sums), ONE float expression for (alpha, beta), then a per-row
    # closed form over exact integers — the repo's integer-moments
    # float discipline end to end.
    oracle=f"""
    WITH s AS (
        SELECT l_suppkey,
               count(*) AS n,
               sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
                   ::BIGINT AS x
        FROM lineitem GROUP BY l_suppkey
    ),
    r AS (SELECT l_suppkey, n, x,
                 x * {_EB_SCALE} // n AS ri FROM s),
    mo AS (
        SELECT CAST(count(*) AS DECIMAL(38,0)) AS k,
               sum(CAST(ri AS DECIMAL(19,0))) AS s1,
               -- 19+19=38: the product stays inside DuckDB's widest
               -- decimal; ri <= 1e9 so ri^2 <= 1e18 and the sum is
               -- exact in the DECIMAL(38) accumulator
               sum(CAST(ri AS DECIMAL(19,0)) * CAST(ri AS DECIMAL(19,0)))
                   AS s2
        FROM r
    ),
    prior AS (
        SELECT greatest(
                   CAST(m AS DOUBLE) * (1.0 - CAST(m AS DOUBLE))
                   / CAST(v AS DOUBLE) - 1.0, 0.0) AS ab,
               CAST(m AS DOUBLE) AS mf
        FROM (
            -- CAST the scale to DOUBLE: a bare 1e9.0 literal parses
            -- as DECIMAL in DuckDB and its folded square overflows
            SELECT CAST(s1 AS DOUBLE) / CAST(k AS DOUBLE)
                       / CAST({_EB_SCALE} AS DOUBLE) AS m,
                   (CAST(s2 AS DOUBLE) / CAST(k AS DOUBLE)
                    - (CAST(s1 AS DOUBLE) / CAST(k AS DOUBLE))
                      * (CAST(s1 AS DOUBLE) / CAST(k AS DOUBLE)))
                   / (CAST({_EB_SCALE} AS DOUBLE)
                      * CAST({_EB_SCALE} AS DOUBLE)) AS v
            FROM mo
        )
    )
    SELECT r.l_suppkey, r.n, r.x,
           round(r.x * 1.0 / r.n, 6) + 0.0 AS raw_rate,
           round((r.x + p.mf * p.ab) * 1.0 / (r.n + p.ab), 6) + 0.0
               AS shrunk_rate
    FROM r, prior p
    """,
    tags=("stats", "empirical-bayes"),
)
def eb_shrunk_return_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-supplier return rates shrunk toward an empirical-Bayes
    beta-binomial prior fit by method of moments on the corpus itself
    (Robbins' classic; the estimator behind every 'adjusted rating'
    leaderboard): small-sample suppliers pull hard toward the global
    mean, high-volume suppliers keep their own rate.

    Float-parity discipline: per-supplier rates enter the prior fit as
    EXACT fixed-point integers (x * SCALE // n — integer division, so
    both engines see identical values), the two prior moments
    accumulate in DECIMAL(38,0), and (alpha, beta) come out of one
    fixed-shape float expression; the per-row shrunk rate is a closed
    form over exact integers and those two scalars. Negative
    method-of-moments mass (underdispersion) clamps to zero
    shrinkage."""
    t = load(spark, sf_dir)
    s = t.lineitem.groupBy("l_suppkey").agg(
        F.count("*").alias("n"),
        F.sum(F.when(F.col("l_returnflag") == "R", 1).otherwise(0))
        .cast("long").alias("x"),
    )
    r = s.withColumn(
        "ri",
        F.floor(F.col("x") * F.lit(_EB_SCALE) / F.col("n")).cast("long"),
    )
    dec = "decimal(38,0)"
    mo = r.agg(
        F.expr("CAST(count(*) AS DECIMAL(38,0))").alias("k"),
        F.expr("sum(CAST(ri AS DECIMAL(38,0)))").alias("s1"),
        F.expr("sum(CAST(ri AS DECIMAL(38,0)) * CAST(ri AS DECIMAL(38,0)))").alias("s2"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    m = d("s1") / d("k") / F.lit(float(_EB_SCALE))
    v = (
        d("s2") / d("k") - (d("s1") / d("k")) * (d("s1") / d("k"))
    ) / F.lit(float(_EB_SCALE) * float(_EB_SCALE))
    prior = mo.select(
        F.greatest(m * (1.0 - m) / v - 1.0, F.lit(0.0)).alias("ab"),
        m.alias("mf"),
    )
    return r.crossJoin(F.broadcast(prior)).select(
        "l_suppkey", "n", "x",
        (F.round(F.col("x") * 1.0 / F.col("n"), 6) + 0.0)
        .alias("raw_rate"),
        (
            F.round(
                (F.col("x") + F.col("mf") * F.col("ab")) * 1.0
                / (F.col("n") + F.col("ab")),
                6,
            ) + 0.0
        ).alias("shrunk_rate"),
    )


# --------------------------------------------------------------------------
# Holt linear-trend forecast backtest (round 9)
# --------------------------------------------------------------------------
#: exact binary fractions — 0.5/0.25 have finite base-2 expansions, so
#: the recurrence arithmetic is the same IEEE sequence in both engines
_HOLT_ALPHA = 0.5
_HOLT_BETA = 0.25
_HOLT_ROUND = 6  #: per-step state rounding (HALF_UP, both engines)


@query(
    "holt_forecast_backtest",
    # per-step state rounding is HALF_UP in BOTH engines (DuckDB
    # round() is half-away-from-zero; the Spark kernel reimplements it
    # — numpy's default is half-to-even and would diverge on exact
    # boundaries); errors quantize to integer cents so the backtest
    # moments accumulate as exact DECIMAL integers.
    oracle=f"""
    WITH RECURSIVE daily AS ({daily_revenue_sql("rev")}),
    idx AS (
        SELECT row_number() OVER (ORDER BY d) AS t, rev FROM daily
    ),
    holt(t, l, b, sae, sse, cnt) AS (
        SELECT 1::BIGINT,
               CAST(i1.rev AS DOUBLE),
               CAST(i2.rev - i1.rev AS DOUBLE),
               CAST(0 AS DECIMAL(38,0)), CAST(0 AS DECIMAL(38,0)),
               0::BIGINT
        FROM (SELECT rev FROM idx WHERE t = 1) i1,
             (SELECT rev FROM idx WHERE t = 2) i2
        UNION ALL
        SELECT h.t + 1,
               round({_HOLT_ALPHA} * CAST(i.rev AS DOUBLE)
                     + (1.0 - {_HOLT_ALPHA}) * (h.l + h.b),
                     {_HOLT_ROUND}),
               round({_HOLT_BETA}
                     * (round({_HOLT_ALPHA} * CAST(i.rev AS DOUBLE)
                              + (1.0 - {_HOLT_ALPHA}) * (h.l + h.b),
                              {_HOLT_ROUND}) - h.l)
                     + (1.0 - {_HOLT_BETA}) * h.b, {_HOLT_ROUND}),
               h.sae + CAST(abs(CAST(round(
                   CAST(i.rev AS DOUBLE) - (h.l + h.b), 0) AS BIGINT))
                   AS DECIMAL(38,0)),
               h.sse + CAST(CAST(round(
                   CAST(i.rev AS DOUBLE) - (h.l + h.b), 0) AS BIGINT)
                   AS DECIMAL(38,0))
                   * CAST(CAST(round(
                   CAST(i.rev AS DOUBLE) - (h.l + h.b), 0) AS BIGINT)
                   AS DECIMAL(38,0)),
               h.cnt + 1
        FROM holt h JOIN idx i ON i.t = h.t + 1
    )
    SELECT cnt AS n_forecasts,
           round(CAST(sae AS DOUBLE) / cnt / 100.0, 4) + 0.0
               AS mae_dollars,
           round(sqrt(CAST(sse AS DOUBLE) / cnt) / 100.0, 4) + 0.0
               AS rmse_dollars,
           round(l / 100.0, 2) + 0.0 AS final_level_dollars,
           round(b / 100.0, 2) + 0.0 AS final_trend_dollars
    FROM holt
    WHERE t = (SELECT max(t) FROM idx)
    """,
    tags=("profile", "timeseries", "eval", "forecast"),
)
def holt_forecast_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-step-ahead backtest of Holt's linear-trend exponential
    smoothing (alpha={_HOLT_ALPHA}, beta={_HOLT_BETA}; Hyndman &
    Athanasopoulos FPP §8.2) on daily revenue: level/trend recurrence
    in strict day order, forecast yhat_t = l_(t-1) + b_(t-1), and
    MAE/RMSE over the whole series — the first model every forecaster
    fits after the naive baseline (naive_forecast_backtest is the
    curve this one must beat on trending series).

    Scale shape: the fact table collapses to the CALENDAR-BOUNDED
    daily frame first (TPC-H dates span ~2,500 days at every SF), and
    only that bounded frame enters a single-group applyInPandas for
    the inherently sequential recurrence — the same
    bounded-by-construction contract as the ADF/Engle-Granger family.
    The DuckDB twin replays the identical recurrence as a recursive
    CTE; per-step HALF_UP rounding and integer-cent errors keep the
    two engines bit-aligned."""
    import pandas as pd

    t = load(spark, sf_dir)
    daily = daily_revenue(t.orders, "rev")
    alpha, beta, rnd = _HOLT_ALPHA, _HOLT_BETA, _HOLT_ROUND

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        import math

        def r_half_up(x: float, k: int) -> float:
            s = 10.0 ** k
            return math.copysign(math.floor(abs(x) * s + 0.5), x) / s

        pdf = pdf.sort_values("d")
        y = pdf["rev"].to_numpy()
        if len(y) < 2:
            return pd.DataFrame(
                columns=["n_forecasts", "mae_dollars", "rmse_dollars",
                         "final_level_dollars", "final_trend_dollars"]
            )
        lvl = float(y[0])
        trd = float(y[1] - y[0])
        sae = sse = cnt = 0
        for yt in y[1:]:
            e = int(r_half_up(float(yt) - (lvl + trd), 0))
            sae += abs(e)
            sse += e * e
            cnt += 1
            new_l = r_half_up(alpha * float(yt) + (1.0 - alpha)
                              * (lvl + trd), rnd)
            trd = r_half_up(beta * (new_l - lvl) + (1.0 - beta) * trd,
                            rnd)
            lvl = new_l
        return pd.DataFrame(
            [{
                "n_forecasts": cnt,
                "mae_dollars": r_half_up(sae / cnt / 100.0, 4) + 0.0,
                "rmse_dollars": r_half_up(
                    math.sqrt(sse / cnt) / 100.0, 4) + 0.0,
                "final_level_dollars": r_half_up(lvl / 100.0, 2) + 0.0,
                "final_trend_dollars": r_half_up(trd / 100.0, 2) + 0.0,
            }]
        )

    return daily.groupBy(F.lit(1).alias("_g")).applyInPandas(
        kernel,
        schema=(
            "n_forecasts long, mae_dollars double, rmse_dollars double,"
            " final_level_dollars double, final_trend_dollars double"
        ),
    ).drop("_g")


# --------------------------------------------------------------------------
# Z-order (Morton) layout locality audit (round 9)
# --------------------------------------------------------------------------
_ZO_GRID_BITS = 4     #: 16x16 coordinate grid
_ZO_FILES = 64        #: equal-row "files" per layout
#: the 2-D probe predicate whose file-pruning cost the audit reports
_ZO_BOX = (4, 7, 4, 7)
#: tie-break multiplier packing the sort key into one BIGINT; supports
#: order keys below 2^40 (6e11 — beyond the 100 TB TPC-H range)
_ZO_PACK = 1 << 40


def _zo_key_sql() -> str:
    """Shared coordinate + Morton-code arithmetic over orders — all
    integer ops, so both engines derive identical codes."""
    b = _ZO_GRID_BITS
    interleave = " + ".join(
        f"(((x >> {i}) & 1) << {2 * i + 1}) + (((y >> {i}) & 1) << {2 * i})"
        for i in range(b)
    )
    # integer division (// / div) on BOTH sides: DuckDB CAST(double
    # AS BIGINT) rounds half-away while Spark's cast truncates, so a
    # float quotient would put boundary rows in different grid cells
    return f"""coords AS (
        SELECT o_orderkey,
               (o_custkey * {1 << b}) // (SELECT max(o_custkey) + 1
                                          FROM orders) AS x,
               (datediff('day', (SELECT min(o_orderdate) FROM orders),
                         o_orderdate) * {1 << b})
                   // (SELECT datediff('day', min(o_orderdate),
                                       max(o_orderdate)) + 1
                       FROM orders) AS y
        FROM orders
    ),
    keyed AS (
        SELECT o_orderkey, x, y,
               ({interleave}) * {_ZO_PACK} + o_orderkey AS zkey,
               y * {_ZO_PACK} + o_orderkey AS tkey
        FROM coords
    )"""


@query(
    "zorder_locality_audit",
    oracle=f"""
    WITH {_zo_key_sql()},
    zfiles AS (
        SELECT x, y, ntile({_ZO_FILES}) OVER (ORDER BY zkey) AS f
        FROM keyed
    ),
    tfiles AS (
        SELECT x, y, ntile({_ZO_FILES}) OVER (ORDER BY tkey) AS f
        FROM keyed
    ),
    stats AS (
        SELECT 'zorder' AS layout, f, min(x) AS x0, max(x) AS x1,
               min(y) AS y0, max(y) AS y1
        FROM zfiles GROUP BY f
        UNION ALL
        SELECT 'timesort', f, min(x), max(x), min(y), max(y)
        FROM tfiles GROUP BY f
    )
    SELECT layout,
           count(*) AS n_files,
           round(avg(x1 - x0), 4) + 0.0 AS avg_x_span,
           round(avg(y1 - y0), 4) + 0.0 AS avg_y_span,
           sum(CASE WHEN x1 >= {_ZO_BOX[0]} AND x0 <= {_ZO_BOX[1]}
                     AND y1 >= {_ZO_BOX[2]} AND y0 <= {_ZO_BOX[3]}
                    THEN 1 ELSE 0 END)::BIGINT AS files_touched
    FROM stats
    GROUP BY layout
    """,
    tags=("profile", "layout", "scale-infra"),
)
def zorder_locality_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The data-layout decision MEASURED: lay orders out in {_ZO_FILES}
    equal-row files either Z-ordered (Morton-interleaved customer x
    order-date grid coordinates — the Delta/Iceberg OPTIMIZE ZORDER
    strategy) or time-sorted, compute each file's per-dimension min/max
    envelope (exactly the column stats engines prune files with), and
    report the average envelope spans plus how many files a fixed 2-D
    box predicate (customer range x date range) would touch under each
    layout. Z-order keeps BOTH spans small, so the box touches few
    files; time-sort makes the customer span full-width and the same
    predicate touches nearly everything — the number that justifies
    re-clustering a 100 TB table.

    Scale shape: all-integer coordinate/Morton arithmetic in codegen;
    the two file assignments use operators/rank.global_ntile (the
    ordered_scan formulation — NO single-partition window even though
    the semantics are a global ntile); file envelopes are map-side
    min/max aggregates on the file key."""
    from ..operators.rank import global_ntile

    t = load(spark, sf_dir)
    b = _ZO_GRID_BITS
    lim = t.orders.agg(
        (F.max("o_custkey") + 1).alias("ckmax"),
        F.min("o_orderdate").alias("d0"),
        (F.datediff(F.max("o_orderdate"), F.min("o_orderdate")) + 1)
        .alias("dspan"),
    )
    coords = t.orders.crossJoin(F.broadcast(lim)).select(
        "o_orderkey",
        F.expr(f"(o_custkey * {1 << b}) div ckmax").alias("x"),
        F.expr(
            f"(datediff(o_orderdate, d0) * {1 << b}) div dspan"
        ).alias("y"),
    )
    z = None
    for i in range(b):
        term = (
            F.shiftleft(F.shiftright("x", i).bitwiseAND(1), 2 * i + 1)
            + F.shiftleft(F.shiftright("y", i).bitwiseAND(1), 2 * i)
        )
        z = term if z is None else z + term
    keyed = coords.select(
        "x", "y",
        (z * _ZO_PACK + F.col("o_orderkey")).alias("zkey"),
        (F.col("y") * _ZO_PACK + F.col("o_orderkey")).alias("tkey"),
    )

    def layout_stats(key: str, name: str):
        files = global_ntile(keyed, [key], _ZO_FILES, out="f")
        return (
            files.groupBy("f")
            .agg(
                F.min("x").alias("x0"), F.max("x").alias("x1"),
                F.min("y").alias("y0"), F.max("y").alias("y1"),
            )
            .select(F.lit(name).alias("layout"), "x0", "x1", "y0", "y1")
        )

    stats = layout_stats("zkey", "zorder").unionByName(
        layout_stats("tkey", "timesort")
    )
    xa, xb, ya, yb = _ZO_BOX
    touched = (
        (F.col("x1") >= xa) & (F.col("x0") <= xb)
        & (F.col("y1") >= ya) & (F.col("y0") <= yb)
    )
    return stats.groupBy("layout").agg(
        F.count("*").alias("n_files"),
        (F.round(F.avg(F.col("x1") - F.col("x0")), 4) + 0.0)
        .alias("avg_x_span"),
        (F.round(F.avg(F.col("y1") - F.col("y0")), 4) + 0.0)
        .alias("avg_y_span"),
        F.sum(F.when(touched, 1).otherwise(0)).cast("long")
        .alias("files_touched"),
    )


# --------------------------------------------------------------------------
# Benjamini-Hochberg FDR over per-supplier binomial tests (round 9)
# --------------------------------------------------------------------------
_BH_ALPHA = 0.1
#: Abramowitz & Stegun 26.2.17 tail polynomial — the SAME literals fold
#: in both engines, so the two compute bit-identical p-values (the
#: approximation's |error| < 7.5e-8 is fine for a threshold procedure;
#: what matters for parity is that both sides share ONE formula)
_AS_B = (0.319381530, -0.356563782, 1.781477937,
         -1.821255978, 1.330274429)
_AS_T = 0.2316419
_INV_SQRT_2PI = 0.3989422804014327


def _phi_tail_sql(z: str) -> str:
    """Upper-tail 1-Phi(|z|) via A&S 26.2.17 over the SQL expression
    `z` (assumed >= 0)."""
    t = f"(1.0 / (1.0 + {_AS_T} * {z}))"
    poly = " + ".join(
        f"{b} * " + " * ".join([t] * (i + 1))
        for i, b in enumerate(_AS_B)
    )
    return f"({_INV_SQRT_2PI} * exp(-0.5 * {z} * {z}) * ({poly}))"


@query(
    "bh_fdr_supplier_rates",
    oracle=f"""
    WITH s AS (
        SELECT l_suppkey, count(*) AS n,
               sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
                   ::BIGINT AS x
        FROM lineitem GROUP BY l_suppkey
    ),
    g AS (
        SELECT CAST(sum(x) AS DOUBLE) / CAST(sum(n) AS DOUBLE) AS p0
        FROM s
    ),
    z AS (
        SELECT l_suppkey,
               abs((x - n * p0) / sqrt(n * p0 * (1.0 - p0))) AS az
        FROM s, g
    ),
    p AS (
        SELECT l_suppkey,
               least(1.0, 2.0 * {_phi_tail_sql('az')}) AS pval
        FROM z
    ),
    ranked AS (
        SELECT pval,
               row_number() OVER (ORDER BY pval, l_suppkey) AS i,
               count(*) OVER () AS m
        FROM p
    ),
    kstar AS (
        SELECT coalesce(max(CASE WHEN pval <= i * {_BH_ALPHA} / m
                                 THEN i END), 0) AS k
        FROM ranked
    )
    SELECT (SELECT max(m) FROM ranked) AS n_tests,
           (SELECT count(*) FROM ranked
            WHERE pval <= {_BH_ALPHA}) AS n_uncorrected,
           (SELECT k FROM kstar) AS n_rejected,
           round(coalesce((SELECT max(pval) FROM ranked, kstar
                           WHERE i <= k), 0.0), 6) + 0.0
               AS bh_threshold_p
    """,
    tags=("stats", "multiple-testing", "bounded-window"),
)
def bh_fdr_supplier_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini-Hochberg FDR control over one binomial test per
    supplier ('is this supplier's return rate different from the
    corpus rate?') — the multiple-testing correction any per-entity
    anomaly screen needs before paging anyone: with thousands of
    suppliers, uncorrected alpha=0.1 flags hundreds of false alarms.
    Reports the UNCORRECTED alpha={_BH_ALPHA} alarm count next to the
    BH-surviving count and the adaptive p threshold — on TPC-H's
    uniform rates the contrast IS the result: ~alpha of suppliers
    false-alarm uncorrected while BH correctly rejects none.

    Engine parity: p-values come from ONE shared closed-form normal
    tail (A&S 26.2.17 literals folded identically in both engines —
    no scipy in either), so ranks, the step-up comparison and the
    rejection count are bit-aligned. Scale shape: per-supplier exact
    integer (n, x), a scalar global-rate broadcast, and the global
    p-value ranking via operators/rank.ordered_scan — NO
    single-partition window over the supplier frame."""
    t = load(spark, sf_dir)
    s = t.lineitem.groupBy("l_suppkey").agg(
        F.count("*").alias("n"),
        F.sum(F.when(F.col("l_returnflag") == "R", 1).otherwise(0))
        .cast("long").alias("x"),
    )
    g = s.agg(
        (F.sum("x").cast("double") / F.sum("n").cast("double"))
        .alias("p0")
    )
    az = F.abs(
        (F.col("x") - F.col("n") * F.col("p0"))
        / F.sqrt(F.col("n") * F.col("p0") * (1.0 - F.col("p0")))
    )
    zdf = s.crossJoin(F.broadcast(g)).select(
        "l_suppkey", az.alias("az")
    )
    tt = 1.0 / (1.0 + _AS_T * F.col("az"))
    poly = None
    for i, b in enumerate(_AS_B):
        term = F.lit(b)
        for _ in range(i + 1):
            term = term * tt
        poly = term if poly is None else poly + term
    tail = _INV_SQRT_2PI * F.exp(-0.5 * F.col("az") * F.col("az")) * poly
    p = zdf.select(
        "l_suppkey", F.least(F.lit(1.0), 2.0 * tail).alias("pval")
    )
    ranked = ordered_scan(
        p, ["pval", "l_suppkey"], rank="i", totals={"m": "*"},
        checkpoint_input=True
    )
    kstar = ranked.agg(
        F.coalesce(
            F.max(
                F.when(
                    F.col("pval")
                    <= F.col("i") * _BH_ALPHA / F.col("m"),
                    F.col("i"),
                )
            ),
            F.lit(0).cast("long"),
        ).alias("k")
    )
    withk = ranked.crossJoin(F.broadcast(kstar))
    return withk.agg(
        F.max("m").cast("long").alias("n_tests"),
        F.sum(F.when(F.col("pval") <= _BH_ALPHA, 1).otherwise(0))
        .cast("long").alias("n_uncorrected"),
        F.max("k").cast("long").alias("n_rejected"),
        (
            F.round(
                F.coalesce(
                    F.max(F.when(F.col("i") <= F.col("k"),
                                 F.col("pval"))),
                    F.lit(0.0),
                ),
                6,
            ) + 0.0
        ).alias("bh_threshold_p"),
    )


# --------------------------------------------------------------------------
# Durbin-Watson serial-correlation diagnostic (round 9)
# --------------------------------------------------------------------------
@query(
    "durbin_watson_ols",
    # the trend OLS runs on exact DECIMAL(38,0) moments of integer
    # (day-index, cents) pairs, so slope/intercept — and therefore
    # every per-row residual — are the SAME double on both engines;
    # only the final two residual sums are float accumulations, and
    # the 6-digit rounding absorbs their association-order noise (the
    # adf_unit_root_daily_revenue float-parity discipline).
    oracle=f"""
    WITH daily AS ({daily_revenue_sql("y")}),
    idx AS (
        SELECT d, y, CAST(d - DATE '1992-01-01' AS BIGINT) AS t FROM daily
    ),
    mo AS (
        SELECT CAST(count(*) AS DECIMAL(38,0)) AS n,
               sum(CAST(t AS DECIMAL(38,0))) AS st,
               sum(CAST(y AS DECIMAL(38,0))) AS sy,
               sum(CAST(t AS DECIMAL(38,0)) * CAST(t AS DECIMAL(38,0))) AS stt,
               sum(CAST(t AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0))) AS sty
        FROM idx
    ),
    ab AS (
        SELECT (CAST(n AS DOUBLE) * CAST(sty AS DOUBLE)
                - CAST(st AS DOUBLE) * CAST(sy AS DOUBLE))
               / (CAST(n AS DOUBLE) * CAST(stt AS DOUBLE)
                  - CAST(st AS DOUBLE) * CAST(st AS DOUBLE)) AS b,
               CAST(n AS DOUBLE) AS n, CAST(st AS DOUBLE) AS st,
               CAST(sy AS DOUBLE) AS sy
        FROM mo
    ),
    res AS (
        SELECT d,
               CAST(y AS DOUBLE)
                   - (sy - b * st) / n
                   - b * CAST(t AS DOUBLE) AS e
        FROM idx, ab
    ),
    lagd AS (
        SELECT e, lag(e) OVER (ORDER BY d) AS e1 FROM res
    )
    SELECT CAST(count(*) AS BIGINT) AS n_obs,
           round(sum(CASE WHEN e1 IS NULL THEN 0.0
                          ELSE (e - e1) * (e - e1) END)
                 / sum(e * e), 6) + 0.0 AS dw_stat,
           round(1.0 - (sum(CASE WHEN e1 IS NULL THEN 0.0
                                 ELSE (e - e1) * (e - e1) END)
                        / sum(e * e)) / 2.0, 6) + 0.0 AS rho1_approx
    FROM lagd
    """,
    tags=("profile", "timeseries", "stats", "bounded-window"),
)
def durbin_watson_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Durbin-Watson statistic of the residuals from the daily-revenue
    linear-trend OLS — the classical first check that a fitted trend
    left serially-correlated errors behind (DW near 2 = none; toward 0
    = positive autocorrelation, toward 4 = negative), i.e. whether
    forecast_revenue_change / theil_sen_trend_daily_revenue's linear
    view of this series is even admissible (Durbin & Watson 1950).

    Scale shape + parity: the fact table collapses to one row per day
    first (map-side-combined groupBy); the 2x2 normal equations solve
    from exact DECIMAL(38,0) moments of integer (day-index, cents)
    pairs so every per-row residual is the identical double on both
    engines; the single lag window runs over the bounded ~2.4k-row
    daily frame (documented bounded-global-window tier)."""
    t = load(spark, sf_dir)
    daily = daily_revenue(t.orders, "y")
    idx = daily.select(
        "d", "y",
        F.datediff("d", F.lit("1992-01-01")).cast("long").alias("t"),
    )
    dec = "decimal(38,0)"
    mo = idx.agg(
        F.expr("CAST(count(*) AS DECIMAL(38,0))").alias("n"),
        F.expr("sum(CAST(t AS DECIMAL(38,0)))").alias("st"),
        F.expr("sum(CAST(y AS DECIMAL(38,0)))").alias("sy"),
        F.expr("sum(CAST(t AS DECIMAL(38,0)) * CAST(t AS DECIMAL(38,0)))").alias("stt"),
        F.expr("sum(CAST(t AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0)))").alias("sty"),
    )
    ab = mo.select(
        (
            (F.col("n").cast("double") * F.col("sty").cast("double")
             - F.col("st").cast("double") * F.col("sy").cast("double"))
            / (F.col("n").cast("double") * F.col("stt").cast("double")
               - F.col("st").cast("double") * F.col("st").cast("double"))
        ).alias("b"),
        F.col("n").cast("double").alias("n"),
        F.col("st").cast("double").alias("st"),
        F.col("sy").cast("double").alias("sy"),
    )
    res = idx.crossJoin(F.broadcast(ab)).select(
        "d",
        (
            F.col("y").cast("double")
            - (F.col("sy") - F.col("b") * F.col("st")) / F.col("n")
            - F.col("b") * F.col("t").cast("double")
        ).alias("e"),
    )
    lagd = res.select("e", F.lag("e").over(W.orderBy("d")).alias("e1"))
    num = F.sum(
        F.when(F.col("e1").isNull(), F.lit(0.0)).otherwise(
            (F.col("e") - F.col("e1")) * (F.col("e") - F.col("e1"))
        )
    )
    den = F.expr("sum(e * e)")
    return lagd.agg(
        F.count("*").alias("n_obs"),
        (F.round(num / den, 6) + 0.0).alias("dw_stat"),
        (F.round(F.lit(1.0) - (num / den) / 2.0, 6) + 0.0).alias(
            "rho1_approx"
        ),
    )


# --------------------------------------------------------------------------
# Lo-MacKinlay variance-ratio random-walk test (round 9)
# --------------------------------------------------------------------------
_VR_Q = 5


@query(
    "variance_ratio_test",
    # per-row log returns are ln() of exact integer cents (identical
    # doubles both engines); the mean return telescopes to the exact
    # closed form (ln y_last - ln y_first)/n so no float mean is
    # accumulated; the two squared-deviation sums are the only float
    # accumulations and the 5-digit rounding absorbs their
    # association-order noise.
    oracle=f"""
    WITH daily AS ({daily_revenue_sql("y")}),
    lr AS (
        SELECT d, ln(CAST(y AS DOUBLE)) AS ly,
               lag(ln(CAST(y AS DOUBLE)), 1) OVER (ORDER BY d) AS ly1,
               lag(ln(CAST(y AS DOUBLE)), {_VR_Q}) OVER (ORDER BY d) AS lyq
        FROM daily
    ),
    mu AS (
        SELECT (arg_max(ly, d) - arg_min(ly, d))
                   / CAST(count(*) - 1 AS DOUBLE) AS mu
        FROM lr
    )
    SELECT CAST(count(*) AS BIGINT) AS n_days,
           round(
               (sum(CASE WHEN lyq IS NULL THEN 0.0
                         ELSE (ly - lyq - {_VR_Q} * mu)
                              * (ly - lyq - {_VR_Q} * mu) END)
                / ({_VR_Q} * sum(CASE WHEN lyq IS NULL THEN 0 ELSE 1 END)))
               / (sum(CASE WHEN ly1 IS NULL THEN 0.0
                           ELSE (ly - ly1 - mu) * (ly - ly1 - mu) END)
                  / sum(CASE WHEN ly1 IS NULL THEN 0 ELSE 1 END)),
               5) + 0.0 AS vr_q,
           round(
               ((sum(CASE WHEN lyq IS NULL THEN 0.0
                          ELSE (ly - lyq - {_VR_Q} * mu)
                               * (ly - lyq - {_VR_Q} * mu) END)
                 / ({_VR_Q} * sum(CASE WHEN lyq IS NULL THEN 0 ELSE 1 END)))
                / (sum(CASE WHEN ly1 IS NULL THEN 0.0
                            ELSE (ly - ly1 - mu) * (ly - ly1 - mu) END)
                   / sum(CASE WHEN ly1 IS NULL THEN 0 ELSE 1 END))
                - 1.0)
               / sqrt(2.0 * (2 * {_VR_Q} - 1) * ({_VR_Q} - 1)
                      / (3.0 * {_VR_Q}
                         * sum(CASE WHEN ly1 IS NULL THEN 0 ELSE 1 END))),
               5) + 0.0 AS z_stat
    FROM lr, mu
    """,
    tags=("profile", "timeseries", "stats", "bounded-window"),
)
def variance_ratio_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lo-MacKinlay variance-ratio test (q=5, homoscedastic form) on
    log daily revenue: under a random walk the variance of q-period
    log returns is q times the 1-period variance, so VR(q) far from 1
    flags mean reversion (<1) or trending/momentum (>1) — the
    market-efficiency companion to adf_unit_root_daily_revenue's
    unit-root view (Lo & MacKinlay 1988; overlapping q-period returns,
    simple n_q normalization, documented convention).

    Scale shape + parity: one row per day first, both lag windows over
    the bounded daily frame; the mean log return telescopes to the
    exact closed form (last-first)/n via arg_max/arg_min so the only
    float accumulations are the two squared-deviation sums, absorbed
    by the 5-digit rounding."""
    t = load(spark, sf_dir)
    daily = daily_revenue(t.orders, "y")
    w = W.orderBy("d")
    lr = daily.select(
        "d",
        F.log(F.col("y").cast("double")).alias("ly"),
        F.lag(F.log(F.col("y").cast("double")), 1).over(w).alias("ly1"),
        F.lag(F.log(F.col("y").cast("double")), _VR_Q).over(w).alias("lyq"),
    )
    mu = lr.agg(
        (
            (F.max_by("ly", "d") - F.min_by("ly", "d"))
            / (F.count("*") - 1).cast("double")
        ).alias("mu")
    )
    j = lr.crossJoin(F.broadcast(mu))
    dq = F.col("ly") - F.col("lyq") - _VR_Q * F.col("mu")
    d1 = F.col("ly") - F.col("ly1") - F.col("mu")
    sq = F.sum(F.when(F.col("lyq").isNull(), F.lit(0.0)).otherwise(dq * dq))
    s1 = F.sum(F.when(F.col("ly1").isNull(), F.lit(0.0)).otherwise(d1 * d1))
    nq = F.sum(F.when(F.col("lyq").isNull(), 0).otherwise(1))
    n1 = F.sum(F.when(F.col("ly1").isNull(), 0).otherwise(1))
    vr = (sq / (_VR_Q * nq)) / (s1 / n1)
    z = (vr - 1.0) / F.sqrt(
        2.0 * (2 * _VR_Q - 1) * (_VR_Q - 1) / (3.0 * _VR_Q * n1)
    )
    return j.agg(
        F.count("*").alias("n_days"),
        (F.round(vr, 5) + 0.0).alias("vr_q"),
        (F.round(z, 5) + 0.0).alias("z_stat"),
    )


# --------------------------------------------------------------------------
# Friedman rank test: priority effect controlling for weekday (round 9)
# --------------------------------------------------------------------------
@query(
    "friedman_priority_weekday",
    # cell means are exact DECIMAL-sum / count ratios (identical
    # doubles both engines), so the within-block ranks agree exactly;
    # everything after the ranks is small-integer arithmetic. Ranks
    # order by (mean, priority) so a hypothetical exact tie still
    # ranks identically on both engines.
    oracle="""
    WITH cells AS (
        SELECT dayofweek(CAST(o_orderdate AS DATE)) AS blk,
               o_orderpriority AS trt,
               CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
                    AS DOUBLE) / count(*) AS v
        FROM orders GROUP BY 1, 2
    ),
    ranked AS (
        SELECT blk, trt,
               rank() OVER (PARTITION BY blk ORDER BY v, trt) AS r
        FROM cells
    ),
    rj AS (
        SELECT trt, CAST(sum(r) AS DOUBLE) AS rsum FROM ranked GROUP BY trt
    ),
    dims AS (
        SELECT CAST(count(DISTINCT blk) AS DOUBLE) AS b,
               CAST(count(DISTINCT trt) AS DOUBLE) AS k
        FROM cells
    )
    SELECT CAST(b AS BIGINT) AS n_blocks,
           CAST(k AS BIGINT) AS k_treatments,
           round(12.0 / (b * k * (k + 1)) * sum(rsum * rsum)
                 - 3.0 * b * (k + 1), 6) + 0.0 AS friedman_chi2
    FROM rj, dims
    GROUP BY b, k
    """,
    tags=("profile", "stats", "bounded-window"),
)
def friedman_priority_weekday(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Friedman rank test for an order-priority effect on mean order
    value, blocking by weekday: within each weekday block the five
    priorities are ranked by mean order value, and the chi-square
    statistic asks whether the rank profile is consistent across
    blocks — the nonparametric two-way companion to
    kruskal_wallis_returnflag (one-way) and chi2_status_priority
    (independence), per Friedman 1937.

    Scale shape + parity: the fact table collapses to a 7x5 cell-mean
    frame in one map-side-combined groupBy (means are exact
    DECIMAL-sum/count ratios, identical doubles both engines); the
    rank window and every later step run on that bounded frame."""
    t = load(spark, sf_dir)
    dec = "decimal(38,0)"
    cells = (
        t.orders.select(
            F.dayofweek(F.to_date("o_orderdate")).alias("blk"),
            F.col("o_orderpriority").alias("trt"),
            F.round(F.col("o_totalprice") * 100, 0).cast("long").alias(
                "cents"
            ),
        )
        .groupBy("blk", "trt")
        .agg(
            (
                F.expr("sum(CAST(cents AS DECIMAL(38,0)))").cast("double")
                / F.count("*")
            ).alias("v")
        )
    )
    ranked = cells.select(
        "blk", "trt",
        F.rank().over(W.partitionBy("blk").orderBy("v", "trt")).alias("r"),
    )
    rj = ranked.groupBy("trt").agg(
        F.sum("r").cast("double").alias("rsum")
    )
    dims = cells.agg(
        F.countDistinct("blk").cast("double").alias("b"),
        F.countDistinct("trt").cast("double").alias("k"),
    )
    j = rj.crossJoin(F.broadcast(dims))
    return j.groupBy("b", "k").agg(
        F.round(
            12.0 / (F.col("b") * F.col("k") * (F.col("k") + 1))
            * F.expr("sum(rsum * rsum)")
            - 3.0 * F.col("b") * (F.col("k") + 1),
            6,
        ).alias("chi2_tmp"),
    ).select(
        F.col("b").cast("long").alias("n_blocks"),
        F.col("k").cast("long").alias("k_treatments"),
        (F.col("chi2_tmp") + 0.0).alias("friedman_chi2"),
    )


# --------------------------------------------------------------------------
# Welch's t-test + Cohen's d: returned vs kept (round 9)
# --------------------------------------------------------------------------
@query(
    "welch_t_returned_vs_kept",
    # every moment is an exact DECIMAL(38,0) sum of integer cents (and
    # squared cents), so means/variances — and the t, df and d built
    # from them — are identical double expressions on both engines.
    oracle="""
    WITH g AS (
        SELECT CASE WHEN l_returnflag = 'R' THEN 'returned'
                    ELSE 'kept' END AS grp,
               CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS c
        FROM lineitem
    ),
    mo AS (
        SELECT grp,
               CAST(count(*) AS DECIMAL(38,0)) AS n,
               sum(CAST(c AS DECIMAL(38,0))) AS s,
               sum(CAST(c AS DECIMAL(38,0)) * CAST(c AS DECIMAL(38,0)))
                   AS ss
        FROM g GROUP BY grp
    ),
    w AS (
        SELECT
            max(CASE WHEN grp = 'returned'
                THEN CAST(n AS DOUBLE) END) AS n1,
            max(CASE WHEN grp = 'returned'
                THEN CAST(s AS DOUBLE) END) AS s1,
            max(CASE WHEN grp = 'returned'
                THEN CAST(ss AS DOUBLE) END) AS ss1,
            max(CASE WHEN grp = 'kept'
                THEN CAST(n AS DOUBLE) END) AS n2,
            max(CASE WHEN grp = 'kept'
                THEN CAST(s AS DOUBLE) END) AS s2,
            max(CASE WHEN grp = 'kept'
                THEN CAST(ss AS DOUBLE) END) AS ss2
        FROM mo
    ),
    d AS (
        SELECT n1, n2,
               s1 / n1 / 100.0 AS m1, s2 / n2 / 100.0 AS m2,
               (ss1 - s1 * s1 / n1) / (n1 - 1) / 10000.0 AS v1,
               (ss2 - s2 * s2 / n2) / (n2 - 1) / 10000.0 AS v2
        FROM w
    )
    SELECT CAST(n1 AS BIGINT) AS n_returned,
           CAST(n2 AS BIGINT) AS n_kept,
           round(m1 - m2, 6) + 0.0 AS mean_diff,
           round((m1 - m2) / sqrt(v1 / n1 + v2 / n2), 6) + 0.0
               AS welch_t,
           round((v1 / n1 + v2 / n2) * (v1 / n1 + v2 / n2)
                 / ((v1 / n1) * (v1 / n1) / (n1 - 1)
                    + (v2 / n2) * (v2 / n2) / (n2 - 1)), 4) + 0.0
               AS welch_df,
           round((m1 - m2)
                 / sqrt(((n1 - 1) * v1 + (n2 - 1) * v2)
                        / (n1 + n2 - 2)), 6) + 0.0 AS cohens_d
    FROM d
    """,
    tags=("profile", "stats"),
)
def welch_t_returned_vs_kept(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t-test of extended price, returned
    (l_returnflag = 'R') vs kept lineitems, with the Welch-
    Satterthwaite degrees of freedom and Cohen's d effect size — the
    parametric companion to mann_whitney_u_returned_vs_kept (rank) and
    ks_statistic_returned_vs_kept (distribution): the three views a
    metrics review actually wants on one comparison (Welch 1947).

    Scale shape + parity: one conditional two-group aggregate with
    map-side partials; all moments are exact DECIMAL(38,0) sums of
    integer cents, so every derived statistic is one identical double
    expression on both engines."""
    t = load(spark, sf_dir)
    dec = "decimal(38,0)"
    g = t.lineitem.select(
        F.when(F.col("l_returnflag") == "R", "returned")
        .otherwise("kept").alias("grp"),
        F.round(F.col("l_extendedprice") * 100, 0).cast("long").alias(
            "c"
        ),
    )
    mo = g.groupBy("grp").agg(
        F.expr("CAST(count(*) AS DECIMAL(38,0))").alias("n"),
        F.expr("sum(CAST(c AS DECIMAL(38,0)))").alias("s"),
        F.expr("sum(CAST(c AS DECIMAL(38,0)) * CAST(c AS DECIMAL(38,0)))").alias("ss"),
    )
    pick = lambda grp, col: F.max(  # noqa: E731
        F.when(F.col("grp") == grp, F.col(col).cast("double"))
    )
    w = mo.agg(
        pick("returned", "n").alias("n1"),
        pick("returned", "s").alias("s1"),
        pick("returned", "ss").alias("ss1"),
        pick("kept", "n").alias("n2"),
        pick("kept", "s").alias("s2"),
        pick("kept", "ss").alias("ss2"),
    )
    n1, n2 = F.col("n1"), F.col("n2")
    d = w.select(
        n1.alias("n1"), n2.alias("n2"),
        (F.col("s1") / n1 / 100.0).alias("m1"),
        (F.col("s2") / n2 / 100.0).alias("m2"),
        (
            (F.col("ss1") - F.col("s1") * F.col("s1") / n1)
            / (n1 - 1) / 10000.0
        ).alias("v1"),
        (
            (F.col("ss2") - F.col("s2") * F.col("s2") / n2)
            / (n2 - 1) / 10000.0
        ).alias("v2"),
    )
    m1, m2, v1, v2 = F.col("m1"), F.col("m2"), F.col("v1"), F.col("v2")
    se1, se2 = v1 / F.col("n1"), v2 / F.col("n2")
    return d.select(
        F.col("n1").cast("long").alias("n_returned"),
        F.col("n2").cast("long").alias("n_kept"),
        (F.round(m1 - m2, 6) + 0.0).alias("mean_diff"),
        (F.round((m1 - m2) / F.sqrt(se1 + se2), 6) + 0.0).alias(
            "welch_t"
        ),
        (
            F.round(
                (se1 + se2) * (se1 + se2)
                / (se1 * se1 / (F.col("n1") - 1)
                   + se2 * se2 / (F.col("n2") - 1)),
                4,
            ) + 0.0
        ).alias("welch_df"),
        (
            F.round(
                (m1 - m2)
                / F.sqrt(
                    ((F.col("n1") - 1) * v1 + (F.col("n2") - 1) * v2)
                    / (F.col("n1") + F.col("n2") - 2)
                ),
                6,
            ) + 0.0
        ).alias("cohens_d"),
    )


# --------------------------------------------------------------------------
# One-way ANOVA F + Levene variance-homogeneity check (round 9)
# --------------------------------------------------------------------------
@query(
    "anova_levene_returnflag",
    # ANOVA runs entirely on exact DECIMAL(38,0) cents moments; Levene's
    # per-row |x - group mean| deviations are kept EXACT by scaling to
    # |n_j*c - S_j| integers (one decimal product per row), so both
    # F statistics are identical final double expressions. The only
    # cross-engine float accumulations are 3-term group-level sums,
    # absorbed by the 6-digit rounding.
    oracle="""
    WITH g AS (
        SELECT l_returnflag AS grp,
               CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS c
        FROM lineitem
    ),
    mo AS (
        SELECT grp,
               CAST(count(*) AS DECIMAL(38,0)) AS n,
               sum(CAST(c AS DECIMAL(38,0))) AS s,
               sum(CAST(c AS DECIMAL(38,0)) * CAST(c AS DECIMAL(38,0)))
                   AS ss
        FROM g GROUP BY grp
    ),
    lv AS (
        SELECT gg.grp,
               CAST(m.n AS DOUBLE) AS n,
               sum(CAST(abs(m.n * CAST(gg.c AS DECIMAL(38,0)) - m.s)
                        AS DOUBLE)) / CAST(m.n AS DOUBLE) AS a,
               sum(CAST(abs(m.n * CAST(gg.c AS DECIMAL(38,0)) - m.s)
                        AS DOUBLE)
                   * CAST(abs(m.n * CAST(gg.c AS DECIMAL(38,0)) - m.s)
                          AS DOUBLE))
                   / (CAST(m.n AS DOUBLE) * CAST(m.n AS DOUBLE)) AS b
        FROM g gg JOIN mo m ON m.grp = gg.grp
        GROUP BY gg.grp, m.n
    ),
    anova AS (
        SELECT CAST(count(*) AS DOUBLE) AS k,
               sum(CAST(n AS DOUBLE)) AS nt,
               sum(CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                   / CAST(n AS DOUBLE)) AS sb,
               sum(CAST(s AS DOUBLE)) AS st,
               sum(CAST(ss AS DOUBLE)
                   - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                     / CAST(n AS DOUBLE)) AS ssw
        FROM mo
    ),
    lev AS (
        SELECT sum(a) AS sa, sum(a * a / n) AS sb2,
               sum(b - a * a / n) AS ssw2, sum(n) AS nt2,
               CAST(count(*) AS DOUBLE) AS k2
        FROM lv
    )
    SELECT CAST(k AS BIGINT) AS k_groups,
           CAST(nt AS BIGINT) AS n_total,
           round(((sb - st * st / nt) / (k - 1))
                 / (ssw / (nt - k)), 6) + 0.0 AS anova_f,
           round(((sb2 - sa * sa / nt2) / (k2 - 1))
                 / (ssw2 / (nt2 - k2)), 6) + 0.0 AS levene_f
    FROM anova, lev
    """,
    tags=("profile", "stats"),
)
def anova_levene_returnflag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA F for an extended-price effect across the three
    return flags, PLUS Levene's mean-centered variance-homogeneity F —
    the check that tells you whether the ANOVA's equal-variance
    assumption even holds (report both or report neither; Levene 1960)
    — the parametric companions to kruskal_wallis_returnflag on the
    same split.

    Scale shape + parity: two passes with map-side partials (group
    moments, then Levene deviations against the broadcast group
    moments); the per-row |n_j*c - S_j| trick keeps Levene's absolute
    deviations exact integers scaled by 1/n_j, so only 3-row group-
    level sums are float — absorbed by the rounding."""
    t = load(spark, sf_dir)
    dec = "decimal(38,0)"
    g = t.lineitem.select(
        F.col("l_returnflag").alias("grp"),
        F.round(F.col("l_extendedprice") * 100, 0).cast("long").alias(
            "c"
        ),
    )
    mo = g.groupBy("grp").agg(
        F.expr("CAST(count(*) AS DECIMAL(38,0))").alias("n"),
        F.expr("sum(CAST(c AS DECIMAL(38,0)))").alias("s"),
        F.expr("sum(CAST(c AS DECIMAL(38,0)) * CAST(c AS DECIMAL(38,0)))").alias("ss"),
    )
    dev = F.abs(
        F.col("n") * F.col("c").cast(dec) - F.col("s")
    ).cast("double")
    lv = (
        g.join(F.broadcast(mo.select("grp", "n", "s")), "grp")
        .groupBy("grp", "n")
        .agg(
            (F.sum(dev) / F.col("n").cast("double")).alias("a"),
            (
                F.sum(dev * dev)
                / (F.col("n").cast("double") * F.col("n").cast("double"))
            ).alias("b"),
        )
        .select(
            "grp", F.col("n").cast("double").alias("nd"), "a", "b"
        )
    )
    nd, sd_, ssd = (
        F.col("n").cast("double"),
        F.col("s").cast("double"),
        F.col("ss").cast("double"),
    )
    anova = mo.agg(
        F.count("*").cast("double").alias("k"),
        F.sum(nd).alias("nt"),
        F.sum(sd_ * sd_ / nd).alias("sb"),
        F.sum(sd_).alias("st"),
        F.sum(ssd - sd_ * sd_ / nd).alias("ssw"),
    )
    lev = lv.agg(
        F.sum("a").alias("sa"),
        F.sum(F.col("a") * F.col("a") / F.col("nd")).alias("sb2"),
        F.sum(F.col("b") - F.col("a") * F.col("a") / F.col("nd")).alias(
            "ssw2"
        ),
        F.sum("nd").alias("nt2"),
        F.count("*").cast("double").alias("k2"),
    )
    j = anova.crossJoin(F.broadcast(lev))
    k, nt, sb, st, ssw = (
        F.col("k"), F.col("nt"), F.col("sb"), F.col("st"), F.col("ssw")
    )
    return j.select(
        k.cast("long").alias("k_groups"),
        nt.cast("long").alias("n_total"),
        (
            F.round(
                ((sb - st * st / nt) / (k - 1)) / (ssw / (nt - k)), 6
            ) + 0.0
        ).alias("anova_f"),
        (
            F.round(
                ((F.col("sb2") - F.col("sa") * F.col("sa") / F.col("nt2"))
                 / (F.col("k2") - 1))
                / (F.col("ssw2") / (F.col("nt2") - F.col("k2"))),
                6,
            ) + 0.0
        ).alias("levene_f"),
    )


# --------------------------------------------------------------------------
# Grubbs outlier test (round 9)
# --------------------------------------------------------------------------
@query(
    "grubbs_outlier_test",
    # mean and stddev come from exact DECIMAL(38,0) cents moments; the
    # per-row |x - mean| is one identical double whose MAX (not sum)
    # crosses rows, so the statistic is deterministic on both engines.
    oracle="""
    WITH g AS (
        SELECT CAST(round(o_totalprice * 100, 0) AS BIGINT) AS c
        FROM orders
    ),
    mo AS (
        SELECT CAST(count(*) AS DECIMAL(38,0)) AS n,
               sum(CAST(c AS DECIMAL(38,0))) AS s,
               sum(CAST(c AS DECIMAL(38,0)) * CAST(c AS DECIMAL(38,0)))
                   AS ss
        FROM g
    ),
    d AS (
        SELECT CAST(n AS DOUBLE) AS n,
               CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS mu,
               sqrt((CAST(ss AS DOUBLE)
                     - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                       / CAST(n AS DOUBLE))
                    / (CAST(n AS DOUBLE) - 1)) AS sd
        FROM mo
    )
    SELECT CAST(n AS BIGINT) AS n_obs,
           round(max(abs(c - mu)) / sd, 6) + 0.0 AS g_stat,
           round(max(CASE WHEN c - mu >= 0 THEN (c - mu) / sd
                          ELSE 0.0 END), 6) + 0.0 AS g_high,
           round(max(CASE WHEN mu - c >= 0 THEN (mu - c) / sd
                          ELSE 0.0 END), 6) + 0.0 AS g_low
    FROM g, d
    GROUP BY n, sd
    """,
    tags=("profile", "stats", "anomaly"),
)
def grubbs_outlier_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grubbs' maximum-studentized-deviation test on order totals:
    G = max|x - mean| / sd, split into the one-sided high/low variants
    (Grubbs 1950) — the single-most-extreme-point screen that runs
    BEFORE the fence-based screens (iqr_outlier_fences /
    mad_outlier_flags) when the question is 'is the worst point a
    recording error'.

    Scale shape + parity: one exact-DECIMAL moments pass, one
    broadcast-scalar max pass (a MAX of identical doubles is
    deterministic — no float accumulation crosses an engine)."""
    t = load(spark, sf_dir)
    dec = "decimal(38,0)"
    g = t.orders.select(
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("c")
    )
    mo = g.agg(
        F.expr("CAST(count(*) AS DECIMAL(38,0))").alias("n"),
        F.expr("sum(CAST(c AS DECIMAL(38,0)))").alias("s"),
        F.expr("sum(CAST(c AS DECIMAL(38,0)) * CAST(c AS DECIMAL(38,0)))").alias("ss"),
    )
    d = mo.select(
        F.col("n").cast("double").alias("n"),
        (F.col("s").cast("double") / F.col("n").cast("double")).alias(
            "mu"
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
    j = g.crossJoin(F.broadcast(d))
    dev = F.col("c") - F.col("mu")
    return j.groupBy("n", "sd").agg(
        (F.round(F.max(F.abs(dev)) / F.col("sd"), 6) + 0.0).alias(
            "_g"
        ),
        (
            F.round(
                F.max(
                    F.when(dev >= 0, dev / F.col("sd")).otherwise(0.0)
                ),
                6,
            ) + 0.0
        ).alias("_gh"),
        (
            F.round(
                F.max(
                    F.when(-dev >= 0, -dev / F.col("sd")).otherwise(0.0)
                ),
                6,
            ) + 0.0
        ).alias("_gl"),
    ).select(
        F.col("n").cast("long").alias("n_obs"),
        F.col("_g").alias("g_stat"),
        F.col("_gh").alias("g_high"),
        F.col("_gl").alias("g_low"),
    )


# --------------------------------------------------------------------------
# Partial autocorrelation via Durbin-Levinson (round 9)
# --------------------------------------------------------------------------
@query(
    "pacf_daily_revenue",
    # the acf_ljung_box discipline: deviations are integer cents minus
    # the exact rational mean (identical doubles), the lagged-product
    # sums are the only float accumulations (absorbed by rounding),
    # and the Durbin-Levinson recursion is closed-form scalar algebra
    # over the three autocorrelations.
    oracle=f"""
    WITH daily AS ({daily_revenue_sql("rev")}),
    m AS (SELECT avg(rev) AS mu FROM daily),
    dev AS (
        SELECT d, rev - mu AS e,
               lag(rev - mu, 1) OVER (ORDER BY d) AS e1,
               lag(rev - mu, 2) OVER (ORDER BY d) AS e2,
               lag(rev - mu, 3) OVER (ORDER BY d) AS e3
        FROM daily, m
    ),
    r AS (
        SELECT count(*) AS n,
               sum(CASE WHEN e1 IS NULL THEN 0.0 ELSE e * e1 END)
                   / sum(e * e) AS r1,
               sum(CASE WHEN e2 IS NULL THEN 0.0 ELSE e * e2 END)
                   / sum(e * e) AS r2,
               sum(CASE WHEN e3 IS NULL THEN 0.0 ELSE e * e3 END)
                   / sum(e * e) AS r3
        FROM dev
    ),
    dl AS (
        SELECT n, r1, r2, r3,
               (r2 - r1 * r1) / (1.0 - r1 * r1) AS p2
        FROM r
    )
    SELECT CAST(n AS BIGINT) AS n_days,
           round(r1, 6) + 0.0 AS pacf_1,
           round(p2, 6) + 0.0 AS pacf_2,
           round((r3 - r1 * (1.0 - p2) * r2 - p2 * r1)
                 / (1.0 - r1 * (1.0 - p2) * r1 - p2 * r2), 6) + 0.0
               AS pacf_3
    FROM dl
    """,
    tags=("profile", "timeseries", "stats", "bounded-window"),
)
def pacf_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial autocorrelation of daily revenue at lags 1-3 via the
    Durbin-Levinson recursion — the AR-order-selection companion to
    acf_ljung_box (the ACF says WHETHER structure exists; the PACF
    cutoff says which AR(p) captures it; Box & Jenkins' identification
    step).

    Scale shape + parity: one row per day first, three lag windows
    over the bounded daily frame (bounded-window tier), one aggregate
    for the three autocorrelations, then closed-form scalar algebra —
    the acf_ljung_box float discipline throughout."""
    t = load(spark, sf_dir)
    daily = daily_revenue(t.orders, "rev")
    m = daily.agg(F.avg("rev").alias("mu"))
    w = W.orderBy("d")
    e = F.col("rev") - F.col("mu")
    dev = daily.crossJoin(F.broadcast(m)).select(
        "d",
        e.alias("e"),
        F.lag(e, 1).over(w).alias("e1"),
        F.lag(e, 2).over(w).alias("e2"),
        F.lag(e, 3).over(w).alias("e3"),
    )
    den = F.expr("sum(e * e)")
    rk = lambda c: (  # noqa: E731
        F.sum(
            F.when(F.col(c).isNull(), F.lit(0.0)).otherwise(
                F.col("e") * F.col(c)
            )
        )
        / den
    )
    r = dev.agg(
        F.count("*").alias("n"),
        rk("e1").alias("r1"),
        rk("e2").alias("r2"),
        rk("e3").alias("r3"),
    )
    r1, r2, r3 = F.col("r1"), F.col("r2"), F.col("r3")
    dl = r.select(
        "n", "r1", "r2", "r3",
        ((r2 - r1 * r1) / (1.0 - r1 * r1)).alias("p2"),
    )
    p2 = F.col("p2")
    return dl.select(
        F.col("n").cast("long").alias("n_days"),
        (F.round(r1, 6) + 0.0).alias("pacf_1"),
        (F.round(p2, 6) + 0.0).alias("pacf_2"),
        (
            F.round(
                (r3 - r1 * (1.0 - p2) * r2 - p2 * r1)
                / (1.0 - r1 * (1.0 - p2) * r1 - p2 * r2),
                6,
            ) + 0.0
        ).alias("pacf_3"),
    )


# --------------------------------------------------------------------------
# Breusch-Pagan heteroscedasticity test (round 9)
# --------------------------------------------------------------------------
@query(
    "breusch_pagan_daily_trend",
    # residuals are the durbin_watson_ols identical doubles (exact
    # DECIMAL trend moments -> same (a, b) on both engines); the
    # auxiliary regression of e^2 on t uses the same closed form with
    # float moment sums absorbed by the rounding.
    oracle=f"""
    WITH daily AS ({daily_revenue_sql("y")}),
    idx AS (
        SELECT d, y, CAST(d - DATE '1992-01-01' AS BIGINT) AS t FROM daily
    ),
    mo AS (
        SELECT CAST(count(*) AS DECIMAL(38,0)) AS n,
               sum(CAST(t AS DECIMAL(38,0))) AS st,
               sum(CAST(y AS DECIMAL(38,0))) AS sy,
               sum(CAST(t AS DECIMAL(38,0)) * CAST(t AS DECIMAL(38,0))) AS stt,
               sum(CAST(t AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0))) AS sty
        FROM idx
    ),
    ab AS (
        SELECT (CAST(n AS DOUBLE) * CAST(sty AS DOUBLE)
                - CAST(st AS DOUBLE) * CAST(sy AS DOUBLE))
               / (CAST(n AS DOUBLE) * CAST(stt AS DOUBLE)
                  - CAST(st AS DOUBLE) * CAST(st AS DOUBLE)) AS b,
               CAST(n AS DOUBLE) AS n, CAST(st AS DOUBLE) AS st,
               CAST(sy AS DOUBLE) AS sy
        FROM mo
    ),
    res AS (
        SELECT CAST(t AS DOUBLE) AS t,
               (CAST(y AS DOUBLE)
                - (sy - b * st) / n
                - b * CAST(t AS DOUBLE))
               * (CAST(y AS DOUBLE)
                  - (sy - b * st) / n
                  - b * CAST(t AS DOUBLE)) AS u
        FROM idx, ab
    ),
    aux AS (
        SELECT count(*) AS n,
               sum(t) AS st, sum(u) AS su,
               sum(t * t) AS stt, sum(t * u) AS stu,
               sum(u * u) AS suu
        FROM res
    )
    SELECT CAST(n AS BIGINT) AS n_obs,
           round(n * (n * stu - st * su) * (n * stu - st * su)
                 / ((n * stt - st * st) * (n * suu - su * su)),
                 5) + 0.0 AS bp_lm_stat
    FROM aux
    """,
    tags=("profile", "timeseries", "stats"),
)
def breusch_pagan_daily_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Breusch-Pagan LM test for heteroscedasticity of the daily-
    revenue trend residuals: regress squared residuals on the time
    index and report LM = n*R² (Breusch & Pagan 1979, Koenker's
    studentized form's numerator) — whether the variance itself trends,
    the third leg of the residual-diagnostics panel beside
    durbin_watson_ols (serial correlation) and grubbs_outlier_test
    (single extreme point).

    Scale shape + parity: the trend solve reuses durbin_watson_ols'
    exact DECIMAL moments (identical residual doubles on both
    engines); the auxiliary regression is one aggregate of per-row
    identical doubles with the R² in closed form — no second pass, no
    window at all."""
    t = load(spark, sf_dir)
    daily = daily_revenue(t.orders, "y")
    idx = daily.select(
        "y", F.datediff("d", F.lit("1992-01-01")).cast("long").alias("t")
    )
    dec = "decimal(38,0)"
    mo = idx.agg(
        F.expr("CAST(count(*) AS DECIMAL(38,0))").alias("n"),
        F.expr("sum(CAST(t AS DECIMAL(38,0)))").alias("st"),
        F.expr("sum(CAST(y AS DECIMAL(38,0)))").alias("sy"),
        F.expr("sum(CAST(t AS DECIMAL(38,0)) * CAST(t AS DECIMAL(38,0)))").alias("stt"),
        F.expr("sum(CAST(t AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0)))").alias("sty"),
    )
    ab = mo.select(
        (
            (F.col("n").cast("double") * F.col("sty").cast("double")
             - F.col("st").cast("double") * F.col("sy").cast("double"))
            / (F.col("n").cast("double") * F.col("stt").cast("double")
               - F.col("st").cast("double") * F.col("st").cast("double"))
        ).alias("b"),
        F.col("n").cast("double").alias("n"),
        F.col("st").cast("double").alias("st"),
        F.col("sy").cast("double").alias("sy"),
    )
    eexpr = (
        F.col("y").cast("double")
        - (F.col("sy") - F.col("b") * F.col("st")) / F.col("n")
        - F.col("b") * F.col("t").cast("double")
    )
    res = idx.crossJoin(F.broadcast(ab)).select(
        F.col("t").cast("double").alias("t"),
        (eexpr * eexpr).alias("u"),
    )
    aux = res.agg(
        F.count("*").cast("double").alias("n"),
        F.sum("t").alias("st"),
        F.sum("u").alias("su"),
        F.expr("sum(t * t)").alias("stt"),
        F.expr("sum(t * u)").alias("stu"),
        F.expr("sum(u * u)").alias("suu"),
    )
    n, st, su = F.col("n"), F.col("st"), F.col("su")
    stt, stu, suu = F.col("stt"), F.col("stu"), F.col("suu")
    return aux.select(
        n.cast("long").alias("n_obs"),
        (
            F.round(
                n * (n * stu - st * su) * (n * stu - st * su)
                / ((n * stt - st * st) * (n * suu - su * su)),
                5,
            ) + 0.0
        ).alias("bp_lm_stat"),
    )


# --------------------------------------------------------------------------
# Hurst exponent via rescaled-range analysis (round 9)
# --------------------------------------------------------------------------
_HURST_SCALES = (16, 32, 64, 128)


@query(
    "hurst_rs_daily_revenue",
    # per-block means/stddevs come from exact DECIMAL cents moments
    # (block size is a literal), cumulative deviations are identical
    # doubles, each block's R/S is quantized to integer 1e-9 units, so
    # the per-scale averages are exact integer ratios; only the final
    # 4-point log-log regression sums floats (absorbed by rounding).
    oracle=f"""
    WITH daily AS ({daily_revenue_sql("y")}),
    idx AS (
        SELECT y, row_number() OVER (ORDER BY d) - 1 AS i FROM daily
    ),
    sc AS (SELECT unnest([{', '.join(str(s) for s in _HURST_SCALES)}]) AS n),
    blk AS (
        SELECT sc.n, idx.i // sc.n AS b, idx.i % sc.n AS pos, idx.y
        FROM idx, sc
    ),
    mo AS (
        SELECT n, b,
               count(*) AS cnt,
               sum(CAST(y AS DECIMAL(38,0))) AS s,
               sum(CAST(y AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0)))
                   AS ss
        FROM blk GROUP BY n, b
    ),
    cum AS (
        SELECT blk.n, blk.b, blk.pos,
               sum(CAST(blk.y AS DOUBLE)) OVER (
                   PARTITION BY blk.n, blk.b ORDER BY blk.pos
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               )
               - (blk.pos + 1)
                 * (CAST(mo.s AS DOUBLE) / mo.n) AS cumdev,
               CAST(mo.s AS DOUBLE) AS s, CAST(mo.ss AS DOUBLE) AS ss
        FROM blk JOIN mo ON mo.n = blk.n AND mo.b = blk.b
        WHERE mo.cnt = blk.n
    ),
    rs AS (
        SELECT n, b,
               CAST(round(1e9 *
                   (max(cumdev) - min(cumdev))
                   / sqrt((max(ss) - max(s) * max(s) / n) / n),
               0) AS BIGINT) AS rs_u
        FROM cum GROUP BY n, b
    ),
    pt AS (
        SELECT ln(CAST(n AS DOUBLE)) AS x,
               ln(CAST(sum(rs_u) AS DOUBLE) / count(*) / 1e9) AS yv
        FROM rs GROUP BY n
    )
    SELECT CAST(count(*) AS BIGINT) AS n_scales,
           round(regr_slope(yv, x), 4) + 0.0 AS hurst_h,
           round(corr(yv, x) * corr(yv, x), 4) + 0.0 AS r2
    FROM pt
    """,
    tags=("profile", "timeseries", "stats", "bounded-window"),
)
def hurst_rs_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hurst exponent of daily revenue by classical rescaled-range
    analysis: for block sizes {_HURST_SCALES}, each full block's range
    of cumulative mean-deviations over its own standard deviation
    averages into one R/S point per scale, and H is the slope of
    log(R/S) on log(n) (Hurst 1951; Mandelbrot & Wallis 1969) — H near
    0.5 is a random walk, H > 0.5 long-range persistence — the
    memory-structure companion to variance_ratio_test (which tests a
    single aggregation ratio) and adf_unit_root_daily_revenue.

    Scale shape + parity: one row per day first; block means/stddevs
    from exact DECIMAL moments; the cumulative-deviation window is
    partitioned by (scale, block) — never global over the facts; each
    block's R/S quantizes to integer 1e-9 units so per-scale averages
    are exact; the only cross-engine float accumulation is the final
    4-point regression (rounded)."""
    t = load(spark, sf_dir)
    daily = daily_revenue(t.orders, "y")
    idx = daily.select(
        "y", (F.row_number().over(W.orderBy("d")) - 1).alias("i")
    )
    sc = F.explode(
        F.array(*[F.lit(s) for s in _HURST_SCALES])
    ).alias("n")
    blk = idx.select("y", "i", sc).select(
        "n",
        (F.col("i") / F.col("n")).cast("long").alias("b"),
        (F.col("i") % F.col("n")).alias("pos"),
        "y",
    )
    dec = "decimal(38,0)"
    mo = blk.groupBy("n", "b").agg(
        F.count("*").alias("cnt"),
        F.expr("sum(CAST(y AS DECIMAL(38,0)))").alias("s"),
        F.expr("sum(CAST(y AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0)))").alias("ss"),
    )
    j = blk.join(mo, ["n", "b"]).where(F.col("cnt") == F.col("n"))
    wc = (
        W.partitionBy("n", "b")
        .orderBy("pos")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    cum = j.select(
        "n", "b",
        (
            F.sum(F.col("y").cast("double")).over(wc)
            - (F.col("pos") + 1)
            * (F.col("s").cast("double") / F.col("n"))
        ).alias("cumdev"),
        F.col("s").cast("double").alias("sd_"),
        F.col("ss").cast("double").alias("ssd"),
    )
    rs = cum.groupBy("n", "b").agg(
        F.round(
            1e9
            * (F.max("cumdev") - F.min("cumdev"))
            / F.sqrt(
                (F.max("ssd") - F.max("sd_") * F.max("sd_") / F.col("n"))
                / F.col("n")
            ),
            0,
        ).cast("long").alias("rs_u")
    )
    pt = rs.groupBy("n").agg(
        F.log(
            F.sum("rs_u").cast("double") / F.count("*") / 1e9
        ).alias("yv")
    ).select(F.log(F.col("n").cast("double")).alias("x"), "yv")
    return pt.agg(
        F.count("*").alias("n_scales"),
        (F.round(F.regr_slope(F.col("yv"), F.col("x")), 4) + 0.0).alias(
            "hurst_h"
        ),
        (
            F.round(
                F.corr(F.col("yv"), F.col("x"))
                * F.corr(F.col("yv"), F.col("x")),
                4,
            ) + 0.0
        ).alias("r2"),
    )


# --------------------------------------------------------------------------
# Pettitt changepoint test (round 9)
# --------------------------------------------------------------------------
@query(
    "pettitt_changepoint",
    # tie-aware average ranks are exact half-integers (rank window +
    # equal-value count window), the cumulative statistic is exact
    # arithmetic over them, and the argmax day is chosen under a total
    # (|U| DESC, day ASC) order — deterministic end to end; only the
    # closed-form p-value is a float expression (identical inputs).
    oracle=f"""
    WITH daily AS ({daily_revenue_sql("y")}),
    rk AS (
        SELECT d,
               rank() OVER (ORDER BY y)
                   + (count(*) OVER (PARTITION BY y) - 1) / 2.0 AS r,
               count(*) OVER () AS n
        FROM daily
    ),
    u AS (
        SELECT d, n,
               2.0 * sum(r) OVER (
                   ORDER BY d
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               )
               - (row_number() OVER (ORDER BY d)) * (n + 1.0) AS ut,
               row_number() OVER (ORDER BY d) AS t
        FROM rk
    ),
    best AS (
        SELECT n, abs(ut) AS k_stat, d AS cp, t
        FROM u WHERE t < n
        ORDER BY abs(ut) DESC, d
        LIMIT 1
    )
    SELECT CAST(n AS BIGINT) AS n_days,
           round(k_stat, 1) + 0.0 AS k_stat,
           strftime(cp, '%Y-%m-%d') AS changepoint_day,
           round(least(1.0, 2.0 * exp(
               -6.0 * k_stat * k_stat
               / (CAST(n AS DOUBLE) * n * n + CAST(n AS DOUBLE) * n)
           )), 6) + 0.0 AS p_approx
    FROM best
    """,
    tags=("profile", "timeseries", "changepoint", "bounded-window"),
)
def pettitt_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pettitt's nonparametric changepoint test on daily revenue: the
    rank-based Mann-Whitney-style statistic U_t = 2*Σranks(1..t) -
    t(n+1), its maximizing day (the most likely single changepoint)
    and the closed-form significance approximation (Pettitt 1979) —
    the distribution-free complement to cusum_changepoint's
    mean-shift CUSUM on the same series.

    Scale shape + parity: one row per day first; tie-aware average
    ranks from a rank window + equal-value count window over the
    bounded daily frame (exact half-integers); the running statistic
    is exact arithmetic whose max is picked under a total order."""
    t = load(spark, sf_dir)
    daily = daily_revenue(t.orders, "y")
    rk = daily.select(
        "d",
        (
            F.rank().over(W.orderBy("y"))
            + (F.count("*").over(W.partitionBy("y")) - 1) / 2.0
        ).alias("r"),
        F.count("*").over(
            W.partitionBy()
        ).alias("n"),
    )
    wrun = W.orderBy("d").rowsBetween(W.unboundedPreceding, W.currentRow)
    u = rk.select(
        "d", "n",
        (
            2.0 * F.sum("r").over(wrun)
            - F.row_number().over(W.orderBy("d")) * (F.col("n") + 1.0)
        ).alias("ut"),
        F.row_number().over(W.orderBy("d")).alias("t"),
    )
    best = (
        u.where(F.col("t") < F.col("n"))
        .orderBy(F.abs(F.col("ut")).desc(), "d")
        .limit(1)
    )
    nD = F.col("n").cast("double")
    return best.select(
        F.col("n").cast("long").alias("n_days"),
        (F.round(F.abs(F.col("ut")), 1) + 0.0).alias("k_stat"),
        F.date_format("d", "yyyy-MM-dd").alias("changepoint_day"),
        (
            F.round(
                F.least(
                    F.lit(1.0),
                    2.0
                    * F.exp(
                        -6.0 * F.abs(F.col("ut")) * F.abs(F.col("ut"))
                        / (nD * nD * nD + nD * nD)
                    ),
                ),
                6,
            ) + 0.0
        ).alias("p_approx"),
    )


# --------------------------------------------------------------------------
# Wald-Wolfowitz runs test (round 9)
# --------------------------------------------------------------------------
@query(
    "runs_test_daily_revenue",
    # the above/below-mean signs compare exact integer cents against
    # the exact rational mean (identical booleans both engines), the
    # run count and group sizes are exact integers, and the z-score is
    # one closed-form double expression.
    oracle=f"""
    WITH daily AS ({daily_revenue_sql("y")}),
    m AS (
        SELECT CAST(sum(CAST(y AS DECIMAL(38,0))) AS DOUBLE)
               / count(*) AS mu
        FROM daily
    ),
    s AS (
        SELECT d, CASE WHEN y > mu THEN 1 ELSE 0 END AS above,
               lag(CASE WHEN y > mu THEN 1 ELSE 0 END)
                   OVER (ORDER BY d) AS prev
        FROM daily, m
    ),
    agg AS (
        SELECT count(*) AS n,
               sum(above) AS n1,
               count(*) - sum(above) AS n0,
               1 + sum(CASE WHEN prev IS NOT NULL AND above != prev
                            THEN 1 ELSE 0 END) AS runs
        FROM s
    )
    SELECT CAST(n AS BIGINT) AS n_days,
           CAST(n1 AS BIGINT) AS n_above,
           CAST(runs AS BIGINT) AS n_runs,
           round((runs - (1.0 + 2.0 * n1 * n0 / n))
                 / sqrt(2.0 * n1 * n0 * (2.0 * n1 * n0 - n)
                        / (CAST(n AS DOUBLE) * n * (n - 1.0))),
                 6) + 0.0 AS z_stat
    FROM agg
    """,
    tags=("profile", "timeseries", "stats", "bounded-window"),
)
def runs_test_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald-Wolfowitz runs test for randomness of daily revenue around
    its mean: the number of above/below-mean runs against its null
    expectation 1 + 2*n1*n0/n with the normal z approximation (Wald &
    Wolfowitz 1940) — too few runs means clustering/persistence, too
    many means oscillation; the sign-only companion to
    variance_ratio_test and hurst_rs_daily_revenue on the same series
    (days at exactly the mean — impossible for integer cents vs a
    non-integer rational mean — would count as 'below', documented).

    Scale shape + parity: one row per day, one lag window over the
    bounded daily frame, one aggregate of exact integers; the z-score
    is a single closed-form double expression."""
    t = load(spark, sf_dir)
    dec = "decimal(38,0)"
    daily = daily_revenue(t.orders, "y")
    m = daily.agg(
        (
            F.expr("sum(CAST(y AS DECIMAL(38,0)))").cast("double") / F.count("*")
        ).alias("mu")
    )
    above = F.when(F.col("y") > F.col("mu"), 1).otherwise(0)
    s = daily.crossJoin(F.broadcast(m)).select(
        "d",
        above.alias("above"),
        F.lag(above).over(W.orderBy("d")).alias("prev"),
    )
    agg = s.agg(
        F.count("*").alias("n"),
        F.sum("above").alias("n1"),
        (F.count("*") - F.sum("above")).alias("n0"),
        (
            1
            + F.sum(
                F.when(
                    F.col("prev").isNotNull()
                    & (F.col("above") != F.col("prev")),
                    1,
                ).otherwise(0)
            )
        ).alias("runs"),
    )
    n, n1, n0, runs = (
        F.col("n"), F.col("n1"), F.col("n0"), F.col("runs")
    )
    return agg.select(
        n.cast("long").alias("n_days"),
        n1.cast("long").alias("n_above"),
        runs.cast("long").alias("n_runs"),
        (
            F.round(
                (runs - (1.0 + 2.0 * n1 * n0 / n))
                / F.sqrt(
                    2.0 * n1 * n0 * (2.0 * n1 * n0 - n)
                    / (n.cast("double") * n * (n - 1.0))
                ),
                6,
            ) + 0.0
        ).alias("z_stat"),
    )


# --------------------------------------------------------------------------
# Difference-in-differences (round 9)
# --------------------------------------------------------------------------
_DID_SPLIT = "1995-06-17"  #: pre/post boundary (fixture midpoint)


@query(
    "diff_in_diff_urgent",
    # all four cell moments are exact DECIMAL(38,0) sums of integer
    # cents, so the cell means, the DiD contrast, its pooled standard
    # error and the t statistic are identical double expressions.
    oracle=f"""
    WITH g AS (
        SELECT CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END
                   AS treated,
               CASE WHEN o_orderdate >= TIMESTAMP '{_DID_SPLIT} 00:00:00'
                    THEN 1 ELSE 0 END AS post,
               CAST(round(o_totalprice * 100, 0) AS BIGINT) AS c
        FROM orders
    ),
    mo AS (
        SELECT treated, post,
               CAST(count(*) AS DECIMAL(38,0)) AS n,
               sum(CAST(c AS DECIMAL(38,0))) AS s,
               sum(CAST(c AS DECIMAL(38,0)) * CAST(c AS DECIMAL(38,0)))
                   AS ss
        FROM g GROUP BY treated, post
    ),
    cells AS (
        SELECT treated, post,
               CAST(n AS DOUBLE) AS n,
               CAST(s AS DOUBLE) / CAST(n AS DOUBLE) / 100.0 AS m,
               (CAST(ss AS DOUBLE)
                - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                  / CAST(n AS DOUBLE))
               / (CAST(n AS DOUBLE) - 1) / 10000.0 AS v
        FROM mo
    ),
    p AS (
        SELECT
          max(CASE WHEN treated = 1 AND post = 1 THEN m END) AS m11,
          max(CASE WHEN treated = 1 AND post = 0 THEN m END) AS m10,
          max(CASE WHEN treated = 0 AND post = 1 THEN m END) AS m01,
          max(CASE WHEN treated = 0 AND post = 0 THEN m END) AS m00,
          max(CASE WHEN treated = 1 AND post = 1 THEN v / n END) AS e11,
          max(CASE WHEN treated = 1 AND post = 0 THEN v / n END) AS e10,
          max(CASE WHEN treated = 0 AND post = 1 THEN v / n END) AS e01,
          max(CASE WHEN treated = 0 AND post = 0 THEN v / n END) AS e00,
          CAST(sum(n) AS BIGINT) AS n_total
        FROM cells
    )
    SELECT n_total,
           round((m11 - m10) - (m01 - m00), 6) + 0.0 AS did_estimate,
           round(sqrt(e11 + e10 + e01 + e00), 6) + 0.0 AS did_se,
           round(((m11 - m10) - (m01 - m00))
                 / sqrt(e11 + e10 + e01 + e00), 6) + 0.0 AS t_stat
    FROM p
    """,
    tags=("profile", "stats", "causal"),
)
def diff_in_diff_urgent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences of mean order value: urgent-priority
    orders (treated) vs the rest, before vs after the fixture-midpoint
    date — the 2x2 causal contrast (did the urgent premium CHANGE when
    the period changed, net of the common shift), with the pooled
    four-cell standard error and t statistic (Card & Krueger's
    canonical estimator shape).

    Scale shape + parity: ONE conditional four-cell aggregate with
    map-side partials; all moments are exact DECIMAL cents sums, so
    every derived statistic is one identical double expression."""
    t = load(spark, sf_dir)
    dec = "decimal(38,0)"
    g = t.orders.select(
        F.when(F.col("o_orderpriority") == "1-URGENT", 1)
        .otherwise(0).alias("treated"),
        F.when(
            F.col("o_orderdate")
            >= F.lit(_DID_SPLIT).cast("timestamp"),
            1,
        ).otherwise(0).alias("post"),
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("c"),
    )
    mo = g.groupBy("treated", "post").agg(
        F.expr("CAST(count(*) AS DECIMAL(38,0))").alias("n"),
        F.expr("sum(CAST(c AS DECIMAL(38,0)))").alias("s"),
        F.expr("sum(CAST(c AS DECIMAL(38,0)) * CAST(c AS DECIMAL(38,0)))").alias("ss"),
    )
    nD = F.col("n").cast("double")
    cells = mo.select(
        "treated", "post",
        nD.alias("n"),
        (F.col("s").cast("double") / nD / 100.0).alias("m"),
        (
            (
                F.col("ss").cast("double")
                - F.col("s").cast("double") * F.col("s").cast("double")
                / nD
            )
            / (nD - 1) / 10000.0
        ).alias("v"),
    )
    pick = lambda tr, po, c: F.max(  # noqa: E731
        F.when(
            (F.col("treated") == tr) & (F.col("post") == po), c
        )
    )
    p = cells.agg(
        pick(1, 1, F.col("m")).alias("m11"),
        pick(1, 0, F.col("m")).alias("m10"),
        pick(0, 1, F.col("m")).alias("m01"),
        pick(0, 0, F.col("m")).alias("m00"),
        pick(1, 1, F.col("v") / F.col("n")).alias("e11"),
        pick(1, 0, F.col("v") / F.col("n")).alias("e10"),
        pick(0, 1, F.col("v") / F.col("n")).alias("e01"),
        pick(0, 0, F.col("v") / F.col("n")).alias("e00"),
        F.sum("n").cast("long").alias("n_total"),
    )
    did = (F.col("m11") - F.col("m10")) - (F.col("m01") - F.col("m00"))
    se = F.sqrt(
        F.col("e11") + F.col("e10") + F.col("e01") + F.col("e00")
    )
    return p.select(
        "n_total",
        (F.round(did, 6) + 0.0).alias("did_estimate"),
        (F.round(se, 6) + 0.0).alias("did_se"),
        (F.round(did / se, 6) + 0.0).alias("t_stat"),
    )


# --------------------------------------------------------------------------
# Weight-of-evidence / information value (round 9)
# --------------------------------------------------------------------------
@query(
    "woe_iv_price_returned",
    # deciles are the deterministic SQL-standard ntile over (price,
    # tiebreak) via operators/rank.global_ntile; WOE/IV are closed
    # expressions over exact per-bin integer counts — identical
    # doubles both engines.
    oracle="""
    WITH b AS (
        SELECT CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS c,
               l_orderkey, l_linenumber,
               CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS bad
        FROM lineitem
    ),
    d AS (
        SELECT bad,
               ntile(10) OVER (
                   ORDER BY c, l_orderkey, l_linenumber, bad
               ) AS bin
        FROM b
    ),
    cnt AS (
        SELECT bin,
               sum(CASE WHEN bad = 0 THEN 1 ELSE 0 END) AS g,
               sum(bad) AS bd
        FROM d GROUP BY bin
    ),
    tot AS (SELECT sum(g) AS gt, sum(bd) AS bt FROM cnt)
    SELECT bin,
           CAST(g AS BIGINT) AS n_good,
           CAST(bd AS BIGINT) AS n_bad,
           round(ln((CAST(g AS DOUBLE) / gt)
                    / (CAST(bd AS DOUBLE) / bt)), 6) + 0.0 AS woe,
           round((CAST(g AS DOUBLE) / gt - CAST(bd AS DOUBLE) / bt)
                 * ln((CAST(g AS DOUBLE) / gt)
                      / (CAST(bd AS DOUBLE) / bt)), 6) + 0.0
               AS iv_contrib
    FROM cnt, tot
    """,
    tags=("profile", "scoring", "bounded-window"),
)
def woe_iv_price_returned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-of-evidence encoding of price deciles against the
    returned flag, with per-bin information-value contributions — the
    credit-scoring standard for binned predictive strength (IV < 0.02
    useless, > 0.3 strong; Siddiqi's scorecard recipe) and the
    interpretable companion to loo_target_encoding / chi2 on the same
    kind of question.

    Scale shape + parity: the decile cut is operators/rank.global_ntile
    (range-partitioned rank + SQL-standard bucket formula — never a
    single-task ntile sort) under a total order; per-bin good/bad
    counts are exact integers and WOE/IV are closed expressions over
    them."""
    from ..operators.rank import global_ntile

    t = load(spark, sf_dir)
    b = t.lineitem.select(
        F.round(F.col("l_extendedprice") * 100, 0).cast("long").alias(
            "c"
        ),
        "l_orderkey", "l_linenumber",
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias(
            "bad"
        ),
    )
    d = global_ntile(
        b, ["c", "l_orderkey", "l_linenumber", "bad"], 10, "bin"
    )
    cnt = d.groupBy("bin").agg(
        F.sum(F.when(F.col("bad") == 0, 1).otherwise(0)).alias("g"),
        F.sum("bad").alias("bd"),
    )
    tot = cnt.agg(F.sum("g").alias("gt"), F.sum("bd").alias("bt"))
    j = cnt.crossJoin(F.broadcast(tot))
    gr = F.col("g").cast("double") / F.col("gt")
    br = F.col("bd").cast("double") / F.col("bt")
    return j.select(
        "bin",
        F.col("g").cast("long").alias("n_good"),
        F.col("bd").cast("long").alias("n_bad"),
        (F.round(F.log(gr / br), 6) + 0.0).alias("woe"),
        (F.round((gr - br) * F.log(gr / br), 6) + 0.0).alias(
            "iv_contrib"
        ),
    )


# --------------------------------------------------------------------------
# Mutual information: priority x return flag (round 9)
# --------------------------------------------------------------------------
@query(
    "mutual_information_priority_flag",
    # joint and marginal counts are exact integers from ONE aggregate;
    # MI terms are closed expressions over exact ratios. The 15-row
    # final sum is the only float accumulation (absorbed by rounding).
    oracle="""
    WITH j AS (
        SELECT o.o_orderpriority AS a, l.l_returnflag AS b,
               count(*) AS n
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        GROUP BY 1, 2
    ),
    m AS (
        SELECT a, b, n,
               sum(n) OVER (PARTITION BY a) AS na,
               sum(n) OVER (PARTITION BY b) AS nb,
               sum(n) OVER () AS nt
        FROM j
    ),
    mi AS (
        SELECT max(nt) AS nt, count(*) AS n_cells,
               sum((CAST(n AS DOUBLE) / nt)
                   * ln(CAST(n AS DOUBLE) * nt
                        / (CAST(na AS DOUBLE) * nb))) AS mi
        FROM m
    ),
    ma AS (SELECT a, sum(n) AS na FROM j GROUP BY a),
    mb AS (SELECT b, sum(n) AS nb FROM j GROUP BY b),
    ha AS (
        SELECT -sum((CAST(na AS DOUBLE) / mi.nt)
                    * ln(CAST(na AS DOUBLE) / mi.nt)) AS h
        FROM ma, mi
    ),
    hb AS (
        SELECT -sum((CAST(nb AS DOUBLE) / mi.nt)
                    * ln(CAST(nb AS DOUBLE) / mi.nt)) AS h
        FROM mb, mi
    )
    SELECT CAST(mi.nt AS BIGINT) AS n_total,
           CAST(mi.n_cells AS BIGINT) AS n_cells,
           round(mi.mi, 6) + 0.0 AS mutual_info_nats,
           round(mi.mi / sqrt(ha.h * hb.h), 6) + 0.0 AS nmi
    FROM mi, ha, hb
    """,
    tags=("profile", "stats", "bounded-window"),
)
def mutual_information_priority_flag(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Mutual information (and entropy-normalized NMI) between order
    priority and return flag over the joined facts — the
    information-theoretic dependence measure next to
    chi2_status_priority / cramers_v_segment_priority (chi-square sees
    any deviation; MI prices it in nats and NMI makes it comparable
    across tables).

    Scale shape + parity: one keyed joint-count aggregate (the join is
    the orders-lineitem FK equi-join), marginals via windows over the
    bounded 15-cell frame, closed-form terms over exact integer
    ratios; marginal entropies come from their own tiny keyed
    aggregates (a DISTINCT-over-ratios shortcut would silently drop a
    term whenever two marginal counts tie)."""
    t = load(spark, sf_dir)
    j = (
        t.orders.join(
            t.lineitem.select("l_orderkey", "l_returnflag"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy(
            F.col("o_orderpriority").alias("a"),
            F.col("l_returnflag").alias("b"),
        )
        .agg(F.count("*").alias("n"))
    )
    m = j.select(
        "a", "b", "n",
        F.sum("n").over(W.partitionBy("a")).alias("na"),
        F.sum("n").over(W.partitionBy("b")).alias("nb"),
        F.sum("n").over(W.partitionBy()).alias("nt"),
    )
    nD = F.col("n").cast("double")
    naD = F.col("na").cast("double")
    nbD = F.col("nb").cast("double")
    ntc = F.col("nt")
    term = (nD / ntc) * F.log(nD * ntc / (naD * nbD))
    mi = m.agg(
        F.max("nt").alias("nt"),
        F.count("*").alias("n_cells"),
        F.sum(term).alias("mi"),
    )
    ent = lambda marg, cnt: (  # noqa: E731
        marg.crossJoin(F.broadcast(mi.select("nt")))
        .agg(
            (
                -F.sum(
                    (F.col(cnt).cast("double") / F.col("nt"))
                    * F.log(F.col(cnt).cast("double") / F.col("nt"))
                )
            ).alias("h")
        )
    )
    ha = ent(j.groupBy("a").agg(F.sum("n").alias("na")), "na")
    hb = ent(j.groupBy("b").agg(F.sum("n").alias("nb")), "nb")
    return (
        mi.crossJoin(F.broadcast(ha.select(F.col("h").alias("ha"))))
        .crossJoin(F.broadcast(hb.select(F.col("h").alias("hb"))))
        .select(
            F.col("nt").cast("long").alias("n_total"),
            F.col("n_cells").cast("long").alias("n_cells"),
            (F.round(F.col("mi"), 6) + 0.0).alias("mutual_info_nats"),
            (
                F.round(
                    F.col("mi") / F.sqrt(F.col("ha") * F.col("hb")), 6
                ) + 0.0
            ).alias("nmi"),
        )
    )


# --------------------------------------------------------------------------
# Quantile-quantile shift: returned vs kept (round 9)
# --------------------------------------------------------------------------
@query(
    "qq_shift_returned_vs_kept",
    # each group's decile boundaries are exact integer cents selected
    # by the SQL-standard ntile rule under a total order; the per-bin
    # gaps and ratios are single expressions over exact integers.
    oracle="""
    WITH b AS (
        SELECT CASE WHEN l_returnflag = 'R' THEN 'returned'
                    ELSE 'kept' END AS grp,
               CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS c,
               l_orderkey, l_linenumber
        FROM lineitem
    ),
    d AS (
        SELECT grp, c,
               ntile(10) OVER (
                   PARTITION BY grp
                   ORDER BY c, l_orderkey, l_linenumber
               ) AS bin
        FROM b
    ),
    q AS (
        SELECT grp, bin, max(c) AS q_cents, count(*) AS n
        FROM d GROUP BY grp, bin
    ),
    p AS (
        SELECT bin,
               max(CASE WHEN grp = 'returned' THEN q_cents END) AS qr,
               max(CASE WHEN grp = 'kept' THEN q_cents END) AS qk,
               sum(n) AS n_bin
        FROM q GROUP BY bin
    )
    SELECT bin,
           CAST(n_bin AS BIGINT) AS n_rows,
           round(qr / 100.0, 2) + 0.0 AS q_returned,
           round(qk / 100.0, 2) + 0.0 AS q_kept,
           round((qr - qk) / 100.0, 2) + 0.0 AS gap,
           round(CAST(qr AS DOUBLE) / qk, 6) + 0.0 AS ratio
    FROM p
    """,
    tags=("profile", "stats", "drift", "bounded-window"),
)
def qq_shift_returned_vs_kept(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile-quantile shift profile: each decile boundary of the
    returned price distribution against the same decile of the kept
    distribution, as gaps and ratios — WHERE the two distributions
    diverge (a location shift moves every decile equally; a tail
    effect moves only the top bins), the diagnostic layer beneath
    ks_statistic_returned_vs_kept's single max-gap number.

    Scale shape + parity: one group-partitioned ntile under a total
    order (two partitions — never a single global sort of the facts),
    per-(group, bin) max/count collapse, then a 10-row pivot; every
    boundary is an exact integer selected identically on both
    engines."""
    t = load(spark, sf_dir)
    b = t.lineitem.select(
        F.when(F.col("l_returnflag") == "R", "returned")
        .otherwise("kept").alias("grp"),
        F.round(F.col("l_extendedprice") * 100, 0).cast("long").alias(
            "c"
        ),
        "l_orderkey", "l_linenumber",
    )
    d = b.select(
        "grp", "c",
        F.ntile(10).over(
            W.partitionBy("grp").orderBy(
                "c", "l_orderkey", "l_linenumber"
            )
        ).alias("bin"),
    )
    q = d.groupBy("grp", "bin").agg(
        F.max("c").alias("q_cents"), F.count("*").alias("n")
    )
    p = q.groupBy("bin").agg(
        F.max(
            F.when(F.col("grp") == "returned", F.col("q_cents"))
        ).alias("qr"),
        F.max(
            F.when(F.col("grp") == "kept", F.col("q_cents"))
        ).alias("qk"),
        F.sum("n").alias("n_bin"),
    )
    return p.select(
        "bin",
        F.col("n_bin").cast("long").alias("n_rows"),
        (F.round(F.col("qr") / 100.0, 2) + 0.0).alias("q_returned"),
        (F.round(F.col("qk") / 100.0, 2) + 0.0).alias("q_kept"),
        (
            F.round((F.col("qr") - F.col("qk")) / 100.0, 2) + 0.0
        ).alias("gap"),
        (
            F.round(F.col("qr").cast("double") / F.col("qk"), 6) + 0.0
        ).alias("ratio"),
    )


# --------------------------------------------------------------------------
# Cross-table key profile (round 9)
# --------------------------------------------------------------------------
#: (table, key column) pairs profiled — the whole-warehouse version of
#: table_profile_checks' single-table expectations
_PROFILE_KEYS = (
    ("orders", "o_orderkey"),
    ("lineitem", "l_orderkey"),
    ("customer", "c_custkey"),
    ("supplier", "s_suppkey"),
    ("part", "p_partkey"),
    ("events", "event_id"),
    ("documents", "doc_id"),
)


@query(
    "multi_table_key_profile",
    # one aggregate per table unioned — the plan is GENERATED from the
    # shared (table, key) spec on both engines, so adding a table to
    # _PROFILE_KEYS extends both sides identically; all outputs are
    # exact integers.
    oracle="\nUNION ALL\n".join(
        f"""
    SELECT '{tbl}' AS table_name,
           '{key}' AS key_column,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CASE WHEN {key} IS NULL THEN 1 ELSE 0 END)
               AS BIGINT) AS n_null_keys,
           CAST(count(DISTINCT {key}) AS BIGINT) AS n_distinct_keys,
           CAST(count(*) - count(DISTINCT {key}) AS BIGINT)
               AS n_dup_rows
    FROM {tbl}"""
        for tbl, key in _PROFILE_KEYS
    ),
    tags=("profile", "integrity"),
)
def multi_table_key_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-warehouse key profile: for every (table, key) pair in the
    shared spec — row count, null keys, distinct keys, duplicate rows
    — the first audit a migration runs across ALL tables at once (the
    cross-table generalization of table_profile_checks, which goes
    deep on one table; lineitem's l_orderkey legitimately duplicates,
    which is exactly why the dup column is reported rather than
    asserted).

    Scale shape: the plan is GENERATED from the spec — one map-side-
    combined aggregate per table, unioned; each table is scanned once
    projecting only its key column (pushdown-pruned), and tables can
    profile in parallel because the union imposes no ordering."""
    t = load(spark, sf_dir)
    parts = []
    for tbl, key in _PROFILE_KEYS:
        df = getattr(t, tbl)
        parts.append(
            df.agg(
                F.lit(tbl).alias("table_name"),
                F.lit(key).alias("key_column"),
                F.count("*").alias("n_rows"),
                F.sum(
                    F.when(F.col(key).isNull(), 1).otherwise(0)
                ).cast("long").alias("n_null_keys"),
                F.countDistinct(key).alias("n_distinct_keys"),
                (F.count("*") - F.countDistinct(key)).alias(
                    "n_dup_rows"
                ),
            )
        )
    out = parts[0]
    for q in parts[1:]:
        out = out.unionByName(q)
    return out


# --------------------------------------------------------------------------
# MASE and pinball loss for the naive forecasters (round 9)
# --------------------------------------------------------------------------
@query(
    "mase_pinball_naive",
    # absolute/pinball errors are exact integer cents (lag values are
    # integers), so every numerator/denominator is an exact integer
    # sum and the three ratios are single divisions.
    oracle=f"""
    WITH daily AS ({daily_revenue_sql("y")}),
    l AS (
        SELECT d, y,
               lag(y, 1) OVER (ORDER BY d) AS f1,
               lag(y, 7) OVER (ORDER BY d) AS f7
        FROM daily
    ),
    e AS (
        SELECT abs(y - f1) AS ae1, abs(y - f7) AS ae7,
               CASE WHEN y >= f1 THEN 5 * (y - f1)
                    ELSE 5 * (f1 - y) END AS pin50_x10,
               CASE WHEN y >= f1 THEN 9 * (y - f1)
                    ELSE 1 * (f1 - y) END AS pin90_x10
        FROM l WHERE f1 IS NOT NULL AND f7 IS NOT NULL
    )
    SELECT CAST(count(*) AS BIGINT) AS n_obs,
           round(CAST(sum(ae1) AS DOUBLE) / count(*) / 100.0, 4) + 0.0
               AS mae_naive1,
           round(CAST(sum(ae7) AS DOUBLE) / count(*) / 100.0, 4) + 0.0
               AS mae_snaive7,
           round(CAST(sum(ae1) AS DOUBLE) / sum(ae7), 6) + 0.0 AS mase,
           round(CAST(sum(pin50_x10) AS DOUBLE)
                 / count(*) / 1000.0, 4) + 0.0 AS pinball_q50,
           round(CAST(sum(pin90_x10) AS DOUBLE)
                 / count(*) / 1000.0, 4) + 0.0 AS pinball_q90
    FROM e
    """,
    tags=("profile", "timeseries", "forecast", "bounded-window"),
)
def mase_pinball_naive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast-evaluation metrics for the naive-1 forecaster on daily
    revenue: MASE (its MAE scaled by the seasonal-naive m=7 MAE — the
    scale-free error Hyndman & Koehler 2006 recommend over MAPE) and
    the pinball losses at q=0.5/0.9 (the quantile-forecast loss; at
    0.5 it is half the MAE) — the metrics layer that makes
    naive_forecast_backtest / holt_forecast_backtest comparable across
    series. MASE < 1 means naive-1 beats the weekly-seasonal naive on
    this series.

    Scale shape + parity: one row per day first, two lag windows over
    the bounded daily frame, one aggregate; every error is an exact
    integer (pinball weights scaled x10 to stay integral), so each
    output is one exact-integer ratio."""
    t = load(spark, sf_dir)
    daily = daily_revenue(t.orders, "y")
    w = W.orderBy("d")
    l_ = daily.select(
        "y",
        F.lag("y", 1).over(w).alias("f1"),
        F.lag("y", 7).over(w).alias("f7"),
    ).where(F.col("f1").isNotNull() & F.col("f7").isNotNull())
    y, f1, f7 = F.col("y"), F.col("f1"), F.col("f7")
    e = l_.select(
        F.abs(y - f1).alias("ae1"),
        F.abs(y - f7).alias("ae7"),
        F.when(y >= f1, 5 * (y - f1)).otherwise(5 * (f1 - y)).alias(
            "pin50_x10"
        ),
        F.when(y >= f1, 9 * (y - f1)).otherwise(1 * (f1 - y)).alias(
            "pin90_x10"
        ),
    )
    return e.agg(
        F.count("*").alias("n_obs"),
        (
            F.round(
                F.sum("ae1").cast("double") / F.count("*") / 100.0, 4
            ) + 0.0
        ).alias("mae_naive1"),
        (
            F.round(
                F.sum("ae7").cast("double") / F.count("*") / 100.0, 4
            ) + 0.0
        ).alias("mae_snaive7"),
        (
            F.round(F.sum("ae1").cast("double") / F.sum("ae7"), 6) + 0.0
        ).alias("mase"),
        (
            F.round(
                F.sum("pin50_x10").cast("double")
                / F.count("*") / 1000.0,
                4,
            ) + 0.0
        ).alias("pinball_q50"),
        (
            F.round(
                F.sum("pin90_x10").cast("double")
                / F.count("*") / 1000.0,
                4,
            ) + 0.0
        ).alias("pinball_q90"),
    )


# --------------------------------------------------------------------------
# Trend / seasonal strength of the decomposition (round 9)
# --------------------------------------------------------------------------
@query(
    "decomposition_strength",
    # reuses seasonal_decompose_weekday's deterministic trend (exact
    # sum-of-integers / 7 rationals); the per-weekday seasonal means
    # and the three variances are the only float accumulations, all
    # feeding ratios rounded at 6 (the cuped float posture).
    oracle=f"""
    WITH daily AS ({daily_revenue_sql("rev")}),
    tr AS (
        SELECT d, rev,
               CASE WHEN count(*) OVER w = 7
                    THEN sum(rev) OVER w / 7.0 END AS trend
        FROM daily
        WINDOW w AS (ORDER BY d ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
    ),
    det AS (
        SELECT d, dayofweek(d) AS dow, rev, trend, rev - trend AS dt
        FROM tr WHERE trend IS NOT NULL
    ),
    smean AS (
        SELECT dow, avg(dt) AS s_raw FROM det GROUP BY dow
    ),
    grand AS (SELECT avg(s_raw) AS g FROM smean),
    comp AS (
        SELECT det.dt - (smean.s_raw - grand.g) AS r,
               (smean.s_raw - grand.g) AS s,
               det.trend AS t
        FROM det
        JOIN smean ON smean.dow = det.dow
        CROSS JOIN grand
    )
    SELECT CAST(count(*) AS BIGINT) AS n_days,
           round(var_samp(r) / 10000.0, 2) + 0.0 AS var_resid,
           round(greatest(0.0,
               1.0 - var_samp(r) / var_samp(t + r)), 6) + 0.0
               AS f_trend,
           round(greatest(0.0,
               1.0 - var_samp(r) / var_samp(s + r)), 6) + 0.0
               AS f_seasonal
    FROM comp
    """,
    tags=("profile", "timeseries", "seasonality", "bounded-window"),
)
def decomposition_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trend and seasonal STRENGTH of the classical decomposition
    (Hyndman's FPP measures: F = max(0, 1 - Var(remainder)/
    Var(component + remainder))) — the two numbers that say whether
    the series even HAS structure worth modeling (near 0 = noise,
    near 1 = strongly trended/seasonal), summarizing
    seasonal_decompose_weekday's component table into a decision.

    Scale shape + parity: one row per day, the centered 7-day window
    over the bounded daily frame (exact rational trend), per-weekday
    seasonal means joined back broadcast, one variance aggregate —
    float sums only inside rounded ratios."""
    t = load(spark, sf_dir)
    daily = daily_revenue(t.orders, "rev")
    w = W.orderBy("d").rowsBetween(-3, 3)
    tr = daily.select(
        "d", "rev",
        F.when(
            F.count("*").over(w) == 7, F.sum("rev").over(w) / 7.0
        ).alias("trend"),
    )
    det = tr.where(F.col("trend").isNotNull()).select(
        F.dayofweek("d").alias("dow"),
        "trend",
        (F.col("rev") - F.col("trend")).alias("dt"),
    )
    smean = det.groupBy("dow").agg(F.avg("dt").alias("s_raw"))
    grand = smean.agg(F.avg("s_raw").alias("g"))
    comp = (
        det.join(F.broadcast(smean), "dow")
        .crossJoin(F.broadcast(grand))
        .select(
            (
                F.col("dt") - (F.col("s_raw") - F.col("g"))
            ).alias("r"),
            (F.col("s_raw") - F.col("g")).alias("s"),
            F.col("trend").alias("t"),
        )
    )
    vr = F.var_samp("r")
    vtr = F.var_samp(F.col("t") + F.col("r"))
    vsr = F.var_samp(F.col("s") + F.col("r"))
    return comp.agg(
        F.count("*").alias("n_days"),
        (F.round(vr / 10000.0, 2) + 0.0).alias("var_resid"),
        (
            F.round(F.greatest(F.lit(0.0), 1.0 - vr / vtr), 6) + 0.0
        ).alias("f_trend"),
        (
            F.round(F.greatest(F.lit(0.0), 1.0 - vr / vsr), 6) + 0.0
        ).alias("f_seasonal"),
    )


# --------------------------------------------------------------------------
# Tail dependence between segment revenue series (round 9)
# --------------------------------------------------------------------------
@query(
    "tail_dependence_segments",
    # the two daily series are exact integer cents; each series'
    # q90 threshold uses the proven quantile_cont/percentile parity,
    # and every exceedance count is an exact integer comparison
    # against that shared threshold.
    oracle="""
    WITH daily AS (
        SELECT CAST(date_trunc('day', l_shipdate) AS DATE) AS d,
               sum(CASE WHEN l_returnflag = 'R'
                   THEN CAST(round(l_extendedprice * 100, 0) AS BIGINT)
                   ELSE 0 END) AS ra,
               sum(CASE WHEN l_returnflag = 'N'
                   THEN CAST(round(l_extendedprice * 100, 0) AS BIGINT)
                   ELSE 0 END) AS rb
        FROM lineitem GROUP BY 1
    ),
    thr AS (
        SELECT quantile_cont(ra, 0.9) AS ta,
               quantile_cont(rb, 0.9) AS tb
        FROM daily
    )
    SELECT CAST(count(*) AS BIGINT) AS n_days,
           CAST(sum(CASE WHEN ra > ta THEN 1 ELSE 0 END) AS BIGINT)
               AS n_exceed_a,
           CAST(sum(CASE WHEN rb > tb THEN 1 ELSE 0 END) AS BIGINT)
               AS n_exceed_b,
           CAST(sum(CASE WHEN ra > ta AND rb > tb THEN 1 ELSE 0 END)
               AS BIGINT) AS n_joint,
           round(sum(CASE WHEN ra > ta AND rb > tb THEN 1 ELSE 0 END)
                 * 1.0
                 / nullif(sum(CASE WHEN ra > ta THEN 1 ELSE 0 END), 0),
                 6) + 0.0 AS tail_dependence
    FROM daily, thr
    """,
    tags=("profile", "timeseries", "risk", "bounded-window"),
)
def tail_dependence_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upper-tail dependence between the returned- and kept-segment
    daily revenue series: of the days when segment A exceeds its own
    90th percentile, what share also sees segment B above ITS 90th —
    the empirical tail-dependence coefficient of risk management
    (correlations describe the middle; portfolios break in the joint
    tail; companion to rolling_corr_price_qty's central view). Under
    independence the share is ~0.1; near 1 means the tails move
    together.

    Scale shape + parity: facts collapse to two exact integer series
    on one daily frame in a single conditional aggregate; thresholds
    are one percentile aggregate (proven interpolation parity); the
    exceedance counts are exact integer comparisons broadcast against
    the 1-row threshold frame."""
    t = load(spark, sf_dir)
    cents = F.round(F.col("l_extendedprice") * 100, 0).cast("long")
    daily = (
        t.lineitem.select(
            F.to_date(F.date_trunc("day", "l_shipdate")).alias("d"),
            F.when(F.col("l_returnflag") == "R", cents)
            .otherwise(0).alias("ca"),
            F.when(F.col("l_returnflag") == "N", cents)
            .otherwise(0).alias("cb"),
        )
        .groupBy("d")
        .agg(F.sum("ca").alias("ra"), F.sum("cb").alias("rb"))
    )
    thr = daily.agg(
        F.expr("percentile(ra, 0.9)").alias("ta"),
        F.expr("percentile(rb, 0.9)").alias("tb"),
    )
    j = daily.crossJoin(F.broadcast(thr))
    ea = (F.col("ra") > F.col("ta")).cast("long")
    eb = (F.col("rb") > F.col("tb")).cast("long")
    return j.agg(
        F.count("*").alias("n_days"),
        F.sum(ea).alias("n_exceed_a"),
        F.sum(eb).alias("n_exceed_b"),
        F.sum(ea * eb).alias("n_joint"),
        (
            F.round(
                F.sum(ea * eb) * 1.0
                / F.nullif(F.sum(ea), F.lit(0)),
                6,
            ) + 0.0
        ).alias("tail_dependence"),
    )


# --------------------------------------------------------------------------
# Jarque-Bera normality (round 10)
# --------------------------------------------------------------------------
@query(
    "jarque_bera_order_value",
    # all four raw power sums are exact DECIMAL(38,0) integers (cents
    # to the 4th power stays under 1e38 at every test SF); the central
    # moments, skewness, excess kurtosis and the JB statistic are one
    # identical double expression per engine, then rounded.
    oracle="""
    WITH g AS (
        SELECT CAST(round(o_totalprice * 100, 0) AS BIGINT) AS c
        FROM orders
    ),
    mo AS (
        SELECT CAST(count(*) AS DECIMAL(38,0)) AS n,
               sum(CAST(c AS DECIMAL(38,0))) AS s1,
               sum(CAST(c AS DECIMAL(38,0)) * CAST(c AS DECIMAL(38,0)))
                   AS s2,
               sum(CAST(c AS DECIMAL(38,0)) * CAST(c AS DECIMAL(38,0))
                   * CAST(c AS DECIMAL(38,0))) AS s3,
               sum((CAST(c AS DECIMAL(38,0)) * CAST(c AS DECIMAL(38,0)))
                   * (CAST(c AS DECIMAL(38,0)) * CAST(c AS DECIMAL(38,0))))
                   AS s4
        FROM g
    ),
    d AS (
        SELECT CAST(n AS DOUBLE) AS n, CAST(s1 AS DOUBLE) AS s1,
               CAST(s2 AS DOUBLE) AS s2, CAST(s3 AS DOUBLE) AS s3,
               CAST(s4 AS DOUBLE) AS s4
        FROM mo
    ),
    m AS (
        SELECT n,
               s2 / n - (s1 / n) * (s1 / n) AS m2,
               s3 / n - 3 * (s1 / n) * (s2 / n)
                   + 2 * (s1 / n) * (s1 / n) * (s1 / n) AS m3,
               s4 / n - 4 * (s1 / n) * (s3 / n)
                   + 6 * (s1 / n) * (s1 / n) * (s2 / n)
                   - 3 * (s1 / n) * (s1 / n) * (s1 / n) * (s1 / n) AS m4
        FROM d
    )
    SELECT CAST(n AS BIGINT) AS n_obs,
           round(m3 / pow(m2, 1.5), 6) + 0.0 AS skewness,
           round(m4 / (m2 * m2) - 3, 6) + 0.0 AS ex_kurtosis,
           round(n / 6.0 * (pow(m3 / pow(m2, 1.5), 2)
                 + pow(m4 / (m2 * m2) - 3, 2) / 4.0), 4) + 0.0 AS jb_stat
    FROM m
    """,
    tags=("profile", "stats", "distribution"),
)
def jarque_bera_order_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jarque-Bera normality test on order values: skewness and excess
    kurtosis from exact integer power sums, JB = n/6 (S^2 + K^2/4)
    (Jarque & Bera 1980) — the one-number screen run before any
    Gaussian-assuming monitor (z-score anomaly flags, three-sigma
    control bands) is trusted on a revenue series.

    Scale shape + parity: ONE map-side-combined aggregate pass for the
    four power sums (exact DECIMAL — cents^4 stays under 1e38 at every
    test SF; at true 100 TB scale the c^4 sum would switch to per-
    partition doubles with a documented tolerance), then scalar
    arithmetic on a one-row frame."""
    t = load(spark, sf_dir)
    dec = "decimal(38,0)"
    g = t.orders.select(
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("c")
    )
    c = F.col("c").cast(dec)
    mo = g.agg(
        F.expr("CAST(count(*) AS DECIMAL(38,0))").alias("n"),
        F.sum(c).alias("s1"),
        F.sum(c * c).alias("s2"),
        F.sum(c * c * c).alias("s3"),
        F.sum((c * c) * (c * c)).alias("s4"),
    )
    d = mo.select(
        *[F.col(x).cast("double").alias(x)
          for x in ("n", "s1", "s2", "s3", "s4")]
    )
    mu = F.col("s1") / F.col("n")
    m = d.select(
        "n",
        (F.col("s2") / F.col("n") - mu * mu).alias("m2"),
        (
            F.col("s3") / F.col("n")
            - 3 * mu * (F.col("s2") / F.col("n"))
            + 2 * mu * mu * mu
        ).alias("m3"),
        (
            F.col("s4") / F.col("n")
            - 4 * mu * (F.col("s3") / F.col("n"))
            + 6 * mu * mu * (F.col("s2") / F.col("n"))
            - 3 * mu * mu * mu * mu
        ).alias("m4"),
    )
    skew = F.col("m3") / F.pow(F.col("m2"), 1.5)
    exk = F.col("m4") / (F.col("m2") * F.col("m2")) - 3
    return m.select(
        F.col("n").cast("long").alias("n_obs"),
        (F.round(skew, 6) + 0.0).alias("skewness"),
        (F.round(exk, 6) + 0.0).alias("ex_kurtosis"),
        (
            F.round(
                F.col("n") / 6.0 * (F.pow(skew, 2) + F.pow(exk, 2) / 4.0),
                4,
            ) + 0.0
        ).alias("jb_stat"),
    )


# --------------------------------------------------------------------------
# Chow structural-break test (round 10)
# --------------------------------------------------------------------------
@query(
    "chow_break_daily_revenue",
    # daily revenue cents are exact integers; per-regime OLS sums are
    # exact DECIMAL moments; each regime's SSR and the F statistic are
    # identical double expressions. The break point is the calendar
    # midpoint (floor(n/2)) — a literal once n is known, so both
    # engines split identically.
    oracle=f"""
    WITH daily AS ({daily_revenue_sql("y")}),
    idx AS (
        SELECT y, row_number() OVER (ORDER BY d) - 1 AS i FROM daily
    ),
    tot AS (SELECT count(*) AS n FROM idx),
    lab AS (
        SELECT i, y, CASE WHEN i < n // 2 THEN 0 ELSE 1 END AS r
        FROM idx, tot
    ),
    mo AS (
        SELECT r,
               CAST(count(*) AS DOUBLE) AS n,
               CAST(sum(CAST(i AS DECIMAL(38,0))) AS DOUBLE) AS sx,
               CAST(sum(CAST(y AS DECIMAL(38,0))) AS DOUBLE) AS sy,
               CAST(sum(CAST(i AS DECIMAL(38,0))
                        * CAST(i AS DECIMAL(38,0))) AS DOUBLE) AS sxx,
               CAST(sum(CAST(i AS DECIMAL(38,0))
                        * CAST(y AS DECIMAL(38,0))) AS DOUBLE) AS sxy,
               CAST(sum(CAST(y AS DECIMAL(38,0))
                        * CAST(y AS DECIMAL(38,0))) AS DOUBLE) AS syy
        FROM lab GROUP BY r
    ),
    ssr AS (
        SELECT r, n,
               (syy - sy * sy / n)
               - (sxy - sx * sy / n) * (sxy - sx * sy / n)
                 / (sxx - sx * sx / n) AS ssr
        FROM mo
    ),
    pooled AS (
        SELECT CAST(sum(n) AS DOUBLE) AS n,
               CAST(sum(sx) AS DOUBLE) AS sx,
               CAST(sum(sy) AS DOUBLE) AS sy,
               CAST(sum(sxx) AS DOUBLE) AS sxx,
               CAST(sum(sxy) AS DOUBLE) AS sxy,
               CAST(sum(syy) AS DOUBLE) AS syy
        FROM mo
    ),
    pssr AS (
        SELECT n,
               (syy - sy * sy / n)
               - (sxy - sx * sy / n) * (sxy - sx * sy / n)
                 / (sxx - sx * sx / n) AS ssr
        FROM pooled
    )
    SELECT CAST(p.n AS BIGINT) AS n_days,
           CAST(p.n AS BIGINT) // 2 AS break_at,
           round(p.ssr, 2) + 0.0 AS ssr_pooled,
           round((SELECT sum(ssr) FROM ssr), 2) + 0.0 AS ssr_split,
           round(((p.ssr - (SELECT sum(ssr) FROM ssr)) / 2)
                 / ((SELECT sum(ssr) FROM ssr) / (p.n - 4)), 6) + 0.0
               AS f_stat
    FROM pssr p
    """,
    tags=("profile", "stats", "timeseries", "bounded-window"),
)
def chow_break_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chow test for a structural break in the daily-revenue trend at
    the calendar midpoint: fit y ~ i pooled and separately on each
    half, F = ((SSR_p - SSR_1 - SSR_2)/k) / ((SSR_1 + SSR_2)/(n - 2k))
    with k = 2 (Chow 1960) — the regime-change question behind
    cusum_changepoint and pettitt_changepoint asked parametrically of
    the TREND, not the level.

    Scale shape + parity: one row per day first (calendar-bounded);
    the day index is a window over that daily frame only
    (bounded-window tag); per-regime OLS moments are exact DECIMAL
    sums; SSRs and F are scalar double arithmetic on a 2-row frame."""
    t = load(spark, sf_dir)
    daily = daily_revenue(t.orders, "y")
    idx = daily.select(
        "y", (F.row_number().over(W.orderBy("d")) - 1).alias("i")
    )
    tot = idx.agg(F.count("*").alias("n"))
    lab = idx.crossJoin(F.broadcast(tot)).select(
        "i", "y",
        F.when(F.col("i") < F.floor(F.col("n") / 2), 0)
        .otherwise(1).alias("r"),
    )
    dec = "decimal(38,0)"
    xi, yi = F.col("i").cast(dec), F.col("y").cast(dec)
    mo = lab.groupBy("r").agg(
        F.count("*").cast("double").alias("n"),
        F.sum(xi).cast("double").alias("sx"),
        F.sum(yi).cast("double").alias("sy"),
        F.sum(xi * xi).cast("double").alias("sxx"),
        F.sum(xi * yi).cast("double").alias("sxy"),
        F.sum(yi * yi).cast("double").alias("syy"),
    )

    def ssr_col():
        return (
            (F.col("syy") - F.col("sy") * F.col("sy") / F.col("n"))
            - (F.col("sxy") - F.col("sx") * F.col("sy") / F.col("n"))
            * (F.col("sxy") - F.col("sx") * F.col("sy") / F.col("n"))
            / (F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n"))
        )

    split = mo.select(ssr_col().alias("ssr")).agg(
        F.sum("ssr").alias("ssr_split")
    )
    pooled = mo.agg(
        F.sum("n").cast("double").alias("n"),
        F.sum("sx").cast("double").alias("sx"),
        F.sum("sy").cast("double").alias("sy"),
        F.sum("sxx").cast("double").alias("sxx"),
        F.sum("sxy").cast("double").alias("sxy"),
        F.sum("syy").cast("double").alias("syy"),
    ).select("n", ssr_col().alias("ssr_pooled"))
    return (
        pooled.crossJoin(F.broadcast(split))
        .select(
            F.col("n").cast("long").alias("n_days"),
            (F.col("n").cast("long") / 2).cast("long").alias("break_at"),
            (F.round(F.col("ssr_pooled"), 2) + 0.0).alias("ssr_pooled"),
            (F.round(F.col("ssr_split"), 2) + 0.0).alias("ssr_split"),
            (
                F.round(
                    ((F.col("ssr_pooled") - F.col("ssr_split")) / 2)
                    / (F.col("ssr_split") / (F.col("n") - 4)),
                    6,
                ) + 0.0
            ).alias("f_stat"),
        )
    )


# --------------------------------------------------------------------------
# Holt-Winters additive seasonal backtest (round 10)
# --------------------------------------------------------------------------
_HW_ALPHA = 0.5    #: exact binary fractions (see _HOLT_ALPHA note)
_HW_BETA = 0.25
_HW_GAMMA = 0.25
_HW_M = 7          #: weekly season on the daily frame
_HW_ROUND = 6


def _hw_oracle() -> str:
    a, b, g, rnd, m = _HW_ALPHA, _HW_BETA, _HW_GAMMA, _HW_ROUND, _HW_M
    # the new level, inlined wherever the step needs it (SQL cannot
    # reference a sibling select-list alias)
    lp = (
        f"round({a} * (CAST(i.rev AS DOUBLE) - h.s1)"
        f" + (1.0 - {a}) * (h.l + h.b), {rnd})"
    )
    err = (
        "CAST(round(CAST(i.rev AS DOUBLE)"
        " - (h.l + h.b + h.s1), 0) AS BIGINT)"
    )
    s_init = ", ".join(
        f"round(CAST((SELECT rev FROM idx WHERE t = {m + 1 + i})"
        f" AS DOUBLE) - m2.v, {rnd})"
        for i in range(m)
    )
    return f"""
    WITH RECURSIVE daily AS ({daily_revenue_sql("rev")}),
    idx AS (
        SELECT row_number() OVER (ORDER BY d) AS t, rev FROM daily
    ),
    m1 AS (SELECT sum(rev) / {m}.0 AS v FROM idx WHERE t <= {m}),
    m2 AS (SELECT sum(rev) / {m}.0 AS v FROM idx
           WHERE t BETWEEN {m + 1} AND {2 * m}),
    hw(t, l, b, s1, s2, s3, s4, s5, s6, s7, sae, sse, cnt) AS (
        SELECT {2 * m}::BIGINT,
               round(m2.v, {rnd}),
               round((m2.v - m1.v) / {m}.0, {rnd}),
               {s_init},
               CAST(0 AS DECIMAL(38,0)), CAST(0 AS DECIMAL(38,0)),
               0::BIGINT
        FROM m1, m2
        UNION ALL
        SELECT h.t + 1,
               {lp},
               round({b} * ({lp} - h.l) + (1.0 - {b}) * h.b, {rnd}),
               h.s2, h.s3, h.s4, h.s5, h.s6, h.s7,
               round({g} * (CAST(i.rev AS DOUBLE) - {lp})
                     + (1.0 - {g}) * h.s1, {rnd}),
               h.sae + CAST(abs({err}) AS DECIMAL(38,0)),
               h.sse + CAST({err} AS DECIMAL(38,0))
                     * CAST({err} AS DECIMAL(38,0)),
               h.cnt + 1
        FROM hw h JOIN idx i ON i.t = h.t + 1
    )
    SELECT cnt AS n_forecasts,
           round(CAST(sae AS DOUBLE) / cnt / 100.0, 4) + 0.0
               AS mae_dollars,
           round(sqrt(CAST(sse AS DOUBLE) / cnt) / 100.0, 4) + 0.0
               AS rmse_dollars,
           round(l / 100.0, 2) + 0.0 AS final_level_dollars,
           round(b / 100.0, 2) + 0.0 AS final_trend_dollars,
           round(greatest(s1, s2, s3, s4, s5, s6, s7) / 100.0, 2) + 0.0
               AS max_seasonal_dollars,
           round(least(s1, s2, s3, s4, s5, s6, s7) / 100.0, 2) + 0.0
               AS min_seasonal_dollars
    FROM hw
    WHERE t = (SELECT max(t) FROM idx)
      AND cnt > 0
    """


@query(
    "holt_winters_weekly_backtest",
    oracle=_hw_oracle(),
    tags=("profile", "timeseries", "eval", "forecast"),
)
def holt_winters_weekly_backtest(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """One-step-ahead backtest of additive Holt-Winters with a weekly
    season on daily revenue (alpha={_HW_ALPHA}, beta={_HW_BETA},
    gamma={_HW_GAMMA}; Winters 1960, FPP §8.3): level/trend plus a
    rotating {_HW_M}-slot seasonal state, forecast yhat_t = l + b +
    s_(t-m), initialized from the first two weeks (level = week-2
    mean, trend = week-over-week mean change / m, seasonals = week-2
    deviations) — the model that must beat holt_forecast_backtest
    wherever seasonal_decompose_weekday shows weekday structure.

    Scale shape + parity: identical to holt_forecast_backtest — the
    facts collapse to the calendar-bounded daily frame; only that
    frame enters the single-group applyInPandas carrying the 9-number
    state; the oracle replays the recurrence as a recursive CTE whose
    seasonal vector rides 7 rotating columns; per-step HALF_UP
    rounding + integer-cent errors keep both engines bit-aligned."""
    import pandas as pd

    t = load(spark, sf_dir)
    daily = daily_revenue(t.orders, "rev")
    a, b_, g, rnd, m = _HW_ALPHA, _HW_BETA, _HW_GAMMA, _HW_ROUND, _HW_M

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        import math

        def r_half_up(x: float, k: int) -> float:
            s = 10.0 ** k
            return math.copysign(math.floor(abs(x) * s + 0.5), x) / s

        cols = [
            "n_forecasts", "mae_dollars", "rmse_dollars",
            "final_level_dollars", "final_trend_dollars",
            "max_seasonal_dollars", "min_seasonal_dollars",
        ]
        pdf = pdf.sort_values("d")
        y = pdf["rev"].to_numpy()
        if len(y) < 2 * m + 1:
            return pd.DataFrame(columns=cols)
        m1 = float(y[:m].sum()) / m
        m2 = float(y[m:2 * m].sum()) / m
        lvl = r_half_up(m2, rnd)
        trd = r_half_up((m2 - m1) / m, rnd)
        s = [r_half_up(float(y[m + i]) - m2, rnd) for i in range(m)]
        sae = sse = cnt = 0
        for yt in y[2 * m:]:
            e = int(r_half_up(float(yt) - (lvl + trd + s[0]), 0))
            sae += abs(e)
            sse += e * e
            cnt += 1
            new_l = r_half_up(
                a * (float(yt) - s[0]) + (1.0 - a) * (lvl + trd), rnd
            )
            new_b = r_half_up(
                b_ * (new_l - lvl) + (1.0 - b_) * trd, rnd
            )
            new_s = r_half_up(
                g * (float(yt) - new_l) + (1.0 - g) * s[0], rnd
            )
            s = s[1:] + [new_s]
            lvl, trd = new_l, new_b
        return pd.DataFrame(
            [{
                "n_forecasts": cnt,
                "mae_dollars": r_half_up(sae / cnt / 100.0, 4) + 0.0,
                "rmse_dollars": r_half_up(
                    math.sqrt(sse / cnt) / 100.0, 4) + 0.0,
                "final_level_dollars": r_half_up(lvl / 100.0, 2) + 0.0,
                "final_trend_dollars": r_half_up(trd / 100.0, 2) + 0.0,
                "max_seasonal_dollars": r_half_up(
                    max(s) / 100.0, 2) + 0.0,
                "min_seasonal_dollars": r_half_up(
                    min(s) / 100.0, 2) + 0.0,
            }]
        )

    return daily.groupBy(F.lit(1).alias("_g")).applyInPandas(
        kernel,
        schema=(
            "n_forecasts long, mae_dollars double, rmse_dollars double,"
            " final_level_dollars double, final_trend_dollars double,"
            " max_seasonal_dollars double, min_seasonal_dollars double"
        ),
    ).drop("_g")
