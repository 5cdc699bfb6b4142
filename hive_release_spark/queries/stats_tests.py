"""Distribution-comparison and correlation-structure operators: the
hypothesis-test surface an analytics engine grows once dashboards start
asking "is segment A actually different from segment B?" — two-sample
Kolmogorov-Smirnov, Mann-Whitney rank-sum, chi-square independence, and
auto/cross-correlation of a daily series.

Hive ships none of these as builtins; users compose them from windows
and aggregates exactly as these entries do (the reference capability is
the composition surface, SURVEY.md §2.C/§2.D). Numerical discipline
follows the repo rule: every reported statistic is either pure integer
math or a single ``half_up`` fold of a double BOTH engines derive
from exact integer inputs, so the driver hash cannot wobble on
shortest-repr rounding.

Scale posture: every test statistic here is computed on a COLLAPSED
frame (distinct order prices, contingency cells, days) — the raw fact
table is touched by exactly one partial-agg shuffle, and the
single-partition windows that follow operate on frames whose size is
bounded by value cardinality, not row count (documented per entry).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from hive_release_spark.catalog import load_table
from hive_release_spark.functions.numeric import (
    exact_moment,
    finite,
    half_up,
    is_finite,
)
from hive_release_spark.operators.topk import bounded_sort
from hive_release_spark.queries.registry import register

_A = "1-URGENT"
_B = "5-LOW"


def _two_sample_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collapsed two-sample frame: one row per distinct o_totalprice
    carrying the count of sample-A (urgent) and sample-B (low) orders
    at that value. ONE shuffle off the fact scan; every test statistic
    downstream is window+agg over this value-cardinality frame."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.filter(F.col("o_orderpriority").isin(_A, _B))
        .select(F.col("o_totalprice").alias("v"), "o_orderpriority")
        .groupBy("v")
        .agg(
            F.sum(F.when(F.col("o_orderpriority") == _A, 1).otherwise(0)).alias(
                "na_at"
            ),
            F.sum(F.when(F.col("o_orderpriority") == _B, 1).otherwise(0)).alias(
                "nb_at"
            ),
        )
    )


@register(
    "stats_ks_two_sample",
    oracle=f"""
    WITH s AS (
      SELECT o_totalprice AS v,
             sum(CASE WHEN o_orderpriority = '{_A}' THEN 1 ELSE 0 END) AS na_at,
             sum(CASE WHEN o_orderpriority = '{_B}' THEN 1 ELSE 0 END) AS nb_at
      FROM orders
      WHERE o_orderpriority IN ('{_A}', '{_B}')
      GROUP BY 1),
    c AS (
      SELECT sum(na_at) OVER (ORDER BY v) AS ca,
             sum(nb_at) OVER (ORDER BY v) AS cb,
             sum(na_at) OVER () AS ta,
             sum(nb_at) OVER () AS tb
      FROM s)
    SELECT CAST(max(ta) AS BIGINT) AS n_a,
           CAST(max(tb) AS BIGINT) AS n_b,
           CAST(floor(max(abs(ca / ta - cb / tb)) * 1000000 + 0.5) AS BIGINT)
             AS ks_d_micro
    FROM c
    """,
)
def stats_ks_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov D between the order-price
    distributions of URGENT vs LOW priority orders: D = max over the
    pooled support of |ECDF_a - ECDF_b|. The ECDFs are cumulative sums
    over the collapsed per-price count frame — the global-ordered
    window runs on ~distinct-price rows (already one shuffle past the
    fact), the standard ECDF shape; at 100 TB the collapsed frame is
    still bounded by price cardinality. D is a ratio of exact integer
    cumulative counts, so both engines divide identical longs and the
    single floor-fold cannot straddle a representation boundary."""
    s = _two_sample_counts(spark, sf_dir)
    w_cum = W.orderBy("v").rowsBetween(W.unboundedPreceding, W.currentRow)
    w_all = W.partitionBy()
    c = s.select(
        F.sum("na_at").over(w_cum).alias("ca"),
        F.sum("nb_at").over(w_cum).alias("cb"),
        F.sum("na_at").over(w_all).alias("ta"),
        F.sum("nb_at").over(w_all).alias("tb"),
    )
    return c.agg(
        F.max("ta").alias("n_a"),
        F.max("tb").alias("n_b"),
        half_up(
            F.max(F.abs(F.col("ca") / F.col("ta") - F.col("cb") / F.col("tb")))
            * 1000000
        ).alias("ks_d_micro"),
    )


@register(
    "stats_mann_whitney",
    oracle=f"""
    WITH s AS (
      SELECT o_totalprice AS v,
             sum(CASE WHEN o_orderpriority = '{_A}' THEN 1 ELSE 0 END) AS na_at,
             sum(CASE WHEN o_orderpriority = '{_B}' THEN 1 ELSE 0 END) AS nb_at
      FROM orders
      WHERE o_orderpriority IN ('{_A}', '{_B}')
      GROUP BY 1),
    r AS (
      SELECT na_at, nb_at, na_at + nb_at AS cnt,
             COALESCE(sum(na_at + nb_at) OVER
               (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND 1 PRECEDING), 0) AS cum_excl
      FROM s),
    agg AS (
      SELECT CAST(sum(na_at) AS BIGINT) AS ta,
             CAST(sum(nb_at) AS BIGINT) AS tb,
             CAST(sum(na_at * (2 * cum_excl + cnt + 1)) AS BIGINT) AS r2a,
             CAST(sum(cnt * cnt * cnt - cnt) AS BIGINT) AS ties
      FROM r)
    SELECT ta AS n_a, tb AS n_b,
           r2a - ta * (ta + 1) AS u2_a,
           CAST(floor(
             ((r2a - ta * (ta + 1)) / 2.0 - ta * tb / 2.0)
             / sqrt(ta * tb / 12.0
                    * ((ta + tb + 1)
                       - ties / ((ta + tb) * (ta + tb - 1.0))))
             * 1000 + 0.5) AS BIGINT) AS z_milli
    FROM agg
    """,
)
def stats_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U (rank-sum) test on the same URGENT-vs-LOW price
    samples, with midrank tie handling and the tie-corrected normal
    approximation. The midrank identity avoids materializing per-row
    ranks: on the collapsed per-value frame, a value with cnt ties and
    cum_excl items before it contributes avg rank cum_excl+(cnt+1)/2,
    so 2*R_a = sum(na_at*(2*cum_excl+cnt+1)) stays PURE BIGINT — U is
    reported exactly as u2_a = 2*U_a with zero float involvement, and
    only the z-score needs one floor-fold (identical double pipeline
    from identical longs in both engines). Long math holds to ~1e9
    sample rows per side (r2a ~ n^2); beyond that promote to decimal.
    Same one-shuffle collapsed-frame shape as the KS entry."""
    s = _two_sample_counts(spark, sf_dir)
    w_prev = W.orderBy("v").rowsBetween(W.unboundedPreceding, -1)
    r = s.select(
        "na_at",
        "nb_at",
        (F.col("na_at") + F.col("nb_at")).alias("cnt"),
        F.coalesce(
            F.sum(F.col("na_at") + F.col("nb_at")).over(w_prev), F.lit(0)
        ).alias("cum_excl"),
    )
    agg = r.agg(
        F.sum("na_at").alias("ta"),
        F.sum("nb_at").alias("tb"),
        F.sum(
            F.col("na_at") * (2 * F.col("cum_excl") + F.col("cnt") + 1)
        ).alias("r2a"),
        F.sum(
            F.col("cnt") * F.col("cnt") * F.col("cnt") - F.col("cnt")
        ).alias("ties"),
    )
    ta, tb = F.col("ta"), F.col("tb")
    u2 = F.col("r2a") - ta * (ta + 1)
    n = ta + tb
    z = (
        (u2 / F.lit(2.0) - ta.cast("double") * tb / 2.0)
        / F.sqrt(
            ta.cast("double") * tb / 12.0
            * (
                (n + 1)
                - F.col("ties") / (n.cast("double") * (n - 1))
            )
        )
    )
    return agg.select(
        ta.alias("n_a"),
        tb.alias("n_b"),
        u2.alias("u2_a"),
        half_up(z * 1000).alias("z_milli"),
    )


@register(
    "stats_chi_square",
    oracle="""
    WITH ct AS (
      SELECT o_orderpriority AS p, o_orderstatus AS s,
             count(*) AS n
      FROM orders GROUP BY 1, 2),
    m AS (
      SELECT p, s, n,
             sum(n) OVER (PARTITION BY p) AS row_tot,
             sum(n) OVER (PARTITION BY s) AS col_tot,
             sum(n) OVER () AS tot
      FROM ct),
    t AS (
      SELECT p, s, n, tot,
             CAST(row_tot AS DOUBLE) * col_tot / tot AS expected
      FROM m)
    SELECT CAST(max(tot) AS BIGINT) AS n,
           CAST((count(DISTINCT p) - 1) * (count(DISTINCT s) - 1) AS BIGINT)
             AS dof,
           CAST(floor(sum((n - expected) * (n - expected) / expected)
                      * 1000 + 0.5) AS BIGINT) AS chi2_milli,
           CAST(floor(sqrt(sum((n - expected) * (n - expected) / expected)
                           / (max(tot)
                              * least(count(DISTINCT p) - 1,
                                      count(DISTINCT s) - 1)))
                      * 1000000 + 0.5) AS BIGINT) AS v_micro
    FROM t
    """,
)
def stats_chi_square(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square test of independence on the order-priority x
    order-status contingency table, plus Cramer's V effect size. The
    fact collapses to the r x c cell frame in one shuffle; marginals
    are partition windows OVER THE CELL FRAME (15 rows here — never a
    second fact pass), and the statistic sums the non-negative
    (obs-exp)^2/exp form, dodging the catastrophic N*sum(o^2/e) - N
    cancellation that amplifies summation-order ulps. Expected counts
    are exact-integer products divided once into double, identical in
    both engines."""
    orders = load_table(spark, sf_dir, "orders")
    ct = (
        orders.groupBy(
            F.col("o_orderpriority").alias("p"),
            F.col("o_orderstatus").alias("s"),
        )
        .agg(F.count("*").alias("n"))
    )
    m = ct.select(
        "p",
        "s",
        "n",
        F.sum("n").over(W.partitionBy("p")).alias("row_tot"),
        F.sum("n").over(W.partitionBy("s")).alias("col_tot"),
        F.sum("n").over(W.partitionBy()).alias("tot"),
    )
    t = m.select(
        "p",
        "s",
        "n",
        "tot",
        (
            F.col("row_tot").cast("double") * F.col("col_tot") / F.col("tot")
        ).alias("expected"),
    )
    term = (F.col("n") - F.col("expected")) * (
        F.col("n") - F.col("expected")
    ) / F.col("expected")
    chi2 = F.sum(term)
    minrc = F.least(
        F.countDistinct("p") - 1, F.countDistinct("s") - 1
    )
    return t.agg(
        F.max("tot").alias("n"),
        ((F.countDistinct("p") - 1) * (F.countDistinct("s") - 1)).alias(
            "dof"
        ),
        half_up(chi2 * 1000).alias("chi2_milli"),
        # try_divide: a degenerate 1xC / Rx1 table has min(r-1, c-1) = 0
        # and Cramer's V is undefined — NULL, DuckDB's x/0 answer
        half_up(F.sqrt(F.try_divide(chi2, F.max("tot") * minrc)) * 1000000)
        .alias("v_micro"),
    )


def _daily_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily lineitem series keyed by row_number over ship-day: qty
    (total quantity — integral at every SF, so both engines aggregate
    EXACT values) and n_items (line count). rn indexing makes lag
    joins calendar-gap-proof. The order-by window is single-partition
    but runs on the ~2.5k-row collapsed day frame, not the fact."""
    li = load_table(spark, sf_dir, "lineitem")
    d = (
        li.groupBy(F.to_date("l_shipdate").alias("dd"))
        .agg(
            # finite device (r10 NaN axis) — see _DAILY_CTE note
            F.sum(finite(F.col("l_quantity"))).alias("qty"),
            F.count("*").alias("n_items"),
        )
    )
    return d.select(
        "qty", "n_items", F.row_number().over(W.orderBy("dd")).alias("rn")
    )


# finite device (r10 NaN axis): one special-valued row would make its
# whole DAY's qty NaN/Inf and poison every corr window downstream
# (DuckDB's variance machinery refuses Inf outright) — the series sums
# FINITE quantities, specials ignored like NULL
_DAILY_CTE = """
    d AS (SELECT CAST(l_shipdate AS DATE) AS dd,
                 sum(CASE WHEN isfinite(l_quantity) THEN l_quantity END)
                     AS qty,
                 count(*) AS n_items
          FROM lineitem GROUP BY 1),
    r AS (SELECT qty, n_items, row_number() OVER (ORDER BY dd) AS rn FROM d)
"""


@register(
    "timeseries_autocorr",
    oracle=f"""
    WITH {_DAILY_CTE}
    SELECT k AS lag,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(floor(corr(a.qty, b.qty) * 1000000 + 0.5) AS BIGINT)
             AS acf_micro
    FROM range(1, 8) t(k)
    JOIN r a ON TRUE
    JOIN r b ON b.rn = a.rn - k
    GROUP BY k ORDER BY k
    """,
)
def timeseries_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation function of daily shipped quantity at lags 1-7
    — the first diagnostic before fitting any forecast (is there
    weekly structure? how fast does memory decay?). Lagging is a
    rn-offset SELF-JOIN of the persisted day frame (calendar gaps
    can't silently misalign a LAG window; the join key is series
    position), fanned out by an exploded 1..7 lag column so all seven
    lags ride ONE join. Pearson corr is scale-invariant and both
    engines feed it identical exact-integer series; the only float
    divergence left is accumulation order inside corr itself, ~1e-14
    relative on 2.5k points, folded once at micro precision."""
    day = _daily_series(spark, sf_dir).persist()
    a = day.withColumn(
        "lag", F.explode(F.array(*[F.lit(i) for i in range(1, 8)]))
    ).select("lag", F.col("qty").alias("x"), (F.col("rn") - F.col("lag")).alias("prev_rn"))
    b = day.select(F.col("rn").alias("prev_rn"), F.col("qty").alias("y"))
    # one row per lag (7)
    return bounded_sort(
        a.join(b, "prev_rn")
        .groupBy("lag")
        .agg(
            F.count("*").alias("n_pairs"),
            half_up(F.corr("x", "y") * 1000000).alias("acf_micro"),
        ),
        "lag",
    )


@register(
    "timeseries_cross_corr",
    oracle=f"""
    WITH {_DAILY_CTE}
    SELECT k AS lag,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(floor(corr(a.qty, b.n_items) * 1000000 + 0.5) AS BIGINT)
             AS ccf_micro
    FROM range(-3, 4) t(k)
    JOIN r a ON TRUE
    JOIN r b ON b.rn = a.rn - k
    GROUP BY k ORDER BY k
    """,
)
def timeseries_cross_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lagged cross-correlation between daily shipped quantity and
    daily line count at lags -3..+3 — the lead/lag detector ("does
    volume lead intensity?"). Same rn-offset self-join skeleton as
    the ACF entry (one persisted day frame, one join for all seven
    lags); lag 0 doubles as a sanity anchor since the two series are
    strongly coupled by construction. Exact-integer inputs, one
    micro-precision fold."""
    day = _daily_series(spark, sf_dir).persist()
    a = day.withColumn(
        "lag", F.explode(F.array(*[F.lit(i) for i in range(-3, 4)]))
    ).select(
        "lag",
        F.col("qty").alias("x"),
        (F.col("rn") - F.col("lag")).alias("prev_rn"),
    )
    b = day.select(F.col("rn").alias("prev_rn"), F.col("n_items").alias("y"))
    # one row per lag (7)
    return bounded_sort(
        a.join(b, "prev_rn")
        .groupBy("lag")
        .agg(
            F.count("*").alias("n_pairs"),
            half_up(F.corr("x", "y") * 1000000).alias("ccf_micro"),
        ),
        "lag",
    )


@register(
    "stats_subsample_ci",
    oracle="""
    WITH rep AS (
      SELECT t.r,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS cents
      FROM orders, range(0, 16) t(r)
      -- non-finite price rows carry no measurement (r11 finite wave 2)
      WHERE isfinite(o_totalprice)
        AND strpos('13579bdf',
                   substr(md5(CAST(o_orderkey AS VARCHAR)), r + 1, 1)) > 0
      GROUP BY t.r),
    m AS (SELECT r, cents / (100.0 * n) AS mean_r, n FROM rep)
    SELECT CAST(count(*) AS BIGINT) AS n_replicates,
           CAST(min(n) AS BIGINT) AS min_rep_rows,
           CAST(floor(avg(mean_r) * 1000 + 0.5) AS BIGINT) AS mean_milli,
           CAST(floor(stddev_samp(mean_r) * 1000 + 0.5) AS BIGINT)
             AS sd_milli,
           CAST(floor((avg(mean_r) - 1.96 * stddev_samp(mean_r) / 4.0)
                      * 1000 + 0.5) AS BIGINT) AS ci_lo_milli,
           CAST(floor((avg(mean_r) + 1.96 * stddev_samp(mean_r) / 4.0)
                      * 1000 + 0.5) AS BIGINT) AS ci_hi_milli
    FROM m
    """,
)
def stats_subsample_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DETERMINISTIC SUBSAMPLE CONFIDENCE INTERVAL for the mean order
    price: 16 half-sample replicates (row joins replicate r iff hex
    digit r of md5(orderkey) is odd — the same salted-md5 determinism
    as the percent-sample entry, so reruns and engines agree bit for
    bit), per-replicate means, and a normal-approximation CI from the
    spread of those means. This is how a 100 TB pipeline quotes
    uncertainty WITHOUT resampling the data: the 16x fan-out is
    map-side (explode before the partial agg), the shuffle carries 16
    aggregate rows, and each replicate's sum is exact BIGINT cents —
    the only doubles are 16 identical exact-long divisions and the
    final 16-value moment fold. sd/sqrt(16) = sd/4 is the replicate-
    mean standard error."""
    orders = load_table(spark, sf_dir, "orders")
    rep = (
        # non-finite price rows carry no measurement (r11 finite wave
        # 2); the predicate pushes to the parquet scan
        orders.where(is_finite("o_totalprice")).select(
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
            F.md5(F.col("o_orderkey").cast("string")).alias("h"),
        )
        .withColumn(
            "r", F.explode(F.array(*[F.lit(i) for i in range(16)]))
        )
        .filter(
            F.instr(
                F.lit("13579bdf"), F.substring(F.col("h"), F.col("r") + 1, 1)
            )
            > 0
        )
        .groupBy("r")
        .agg(F.count("*").alias("n"), F.sum("cents").alias("cents"))
    )
    m = rep.select(
        "r", "n", (F.col("cents") / (100.0 * F.col("n"))).alias("mean_r")
    )
    mean = F.avg("mean_r")
    sd = F.stddev_samp("mean_r")
    return m.agg(
        F.count("*").alias("n_replicates"),
        F.min("n").alias("min_rep_rows"),
        half_up(mean * 1000).alias("mean_milli"),
        half_up(sd * 1000).alias("sd_milli"),
        half_up((mean - 1.96 * sd / 4.0) * 1000).alias("ci_lo_milli"),
        half_up((mean + 1.96 * sd / 4.0) * 1000).alias("ci_hi_milli"),
    )


@register(
    "stats_power_two_proportions",
    oracle="""
    WITH r AS (
      SELECT
        CAST(count(*) FILTER (event_type = 'purchase') AS BIGINT) AS k,
        CAST(count(*) AS BIGINT) AS n
      FROM events),
    p AS (
      SELECT k, n,
             CAST(k AS DOUBLE) / n AS p1,
             CAST(k AS DOUBLE) / n * 1.10 AS p2
      FROM r)
    SELECT k AS n_purchases, n AS n_events,
           CAST(floor(p1 * 1000000 + 0.5) AS BIGINT) AS p1_micro,
           CAST(floor(p2 * 1000000 + 0.5) AS BIGINT) AS p2_micro,
           CAST(ceil((1.959964 + 0.841621) * (1.959964 + 0.841621)
                     * (p1 * (1 - p1) + p2 * (1 - p2))
                     / ((p1 - p2) * (p1 - p2))) AS BIGINT)
             AS n_per_arm_80pct
    FROM p
    """,
)
def stats_power_two_proportions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWO-PROPORTION SAMPLE-SIZE CALCULATOR — the planning half of
    the A/B surface (events_ab_uplift/events_ab_cuped read an
    experiment out; this answers "how many observations per arm to
    DETECT the effect we care about at alpha=.05, power=.80?"). As
    practitioners actually run it: the BASELINE conversion rate comes
    from the data (purchase share of events) and the minimum
    detectable effect is a fixed +10% relative lift — which also
    keeps the closed form non-degenerate at every scale factor, where
    comparing two observed near-equal rates would put 0 in the
    denominator (ANSI mode turns that into a hard error, and a
    zero-MDE power question is meaningless anyway). One scan, one
    aggregate row; n = (z_{a/2}+z_b)^2 (p1q1+p2q2) / d^2 over
    exact-long ratios with shared z literals; ceil of identical
    doubles agrees in both engines."""
    ev = load_table(spark, sf_dir, "events")
    r = ev.agg(
        F.count(F.when(F.col("event_type") == "purchase", 1)).alias("k"),
        F.count("*").alias("n"),
    )
    # try_divide twice: on a zero-row events slice n = 0 (and with zero
    # purchases p1 - p2 = 0), so both ratios go NULL — DuckDB's x/0
    # answer — instead of an ANSI divide-by-zero abort
    p1 = F.try_divide(F.col("k").cast("double"), F.col("n"))
    p2 = p1 * 1.10
    z = 1.959964 + 0.841621
    return r.select(
        F.col("k").alias("n_purchases"),
        F.col("n").alias("n_events"),
        half_up(p1 * 1000000).alias("p1_micro"),
        half_up(p2 * 1000000).alias("p2_micro"),
        F.ceil(
            F.try_divide(
                F.lit(z * z) * (p1 * (1 - p1) + p2 * (1 - p2)),
                (p1 - p2) * (p1 - p2),
            )
        )
        .cast("long")
        .alias("n_per_arm_80pct"),
    )


@register(
    "agg_approx_top_k_contract",
    oracle="""
    SELECT event_type AS item,
           CAST(count(*) AS BIGINT) AS cnt,
           CAST(row_number() OVER (ORDER BY count(*) DESC, event_type)
                AS BIGINT) AS rk
    FROM events GROUP BY event_type
    ORDER BY rk
    """,
)
def agg_approx_top_k_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_top_k EXACTNESS CONTRACT (Spark 4's frequent-items
    sketch, completing the sketch shelf next to HLL / CMS / bloom):
    when maxItemsTracked >= the column's distinct cardinality, the
    Misra-Gries-family sketch is EXACT by construction — so asking for
    k = all items over the 5-value event_type column must reproduce
    the exact grouped counts, which is precisely what the oracle
    computes. The entry re-ranks the sketch output by (count, item) so
    no sketch-internal tie order leaks into the hash; explode turns
    the struct array into driver-safe rows. Past the tracked-items
    bound the sketch degrades to epsilon-approximate counts — that
    regime is deliberately NOT pinned (the lesson of the
    sketch-accuracy ADVICE finding: never hard-pin an approximation as
    a constant-true oracle column)."""
    ev = load_table(spark, sf_dir, "events")
    sk = ev.agg(
        F.expr("approx_top_k(event_type, 5, 100000)").alias("tk")
    )
    ex = sk.select(F.explode("tk").alias("e")).select(
        F.col("e.item").alias("item"), F.col("e.count").alias("cnt")
    )
    return (
        ex.withColumn(
            "rk",
            F.row_number().over(W.orderBy(F.desc("cnt"), "item")),
        )
        .select("item", "cnt", F.col("rk").cast("long").alias("rk"))
        .orderBy("rk")
    )


@register(
    "dq_freshness_lag",
    oracle="""
    WITH g AS (SELECT max(ts) AS global_max FROM events),
    s AS (SELECT event_type,
                 CAST(count(*) AS BIGINT) AS n,
                 max(ts) AS src_max
          FROM events GROUP BY 1)
    SELECT event_type, n,
           CAST(date_diff('microsecond', src_max, g.global_max)
                // 1000000 AS BIGINT) AS staleness_sec,
           CASE WHEN date_diff('microsecond', src_max, g.global_max)
                     // 1000000 > 86400
                THEN 1 ELSE 0 END AS stale_flag
    FROM s CROSS JOIN g
    ORDER BY event_type
    """,
)
def dq_freshness_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DATA-FRESHNESS MONITOR — per-stream staleness without wall
    clock: each event type's newest timestamp lags the GLOBAL newest
    by its ingestion delay, which is how a pipeline health check is
    phrased when the job itself must stay deterministic (now() would
    make the result unreproducible and untestable; the freshest
    stream defines 'now'). A feed whose staleness crosses the 24h
    threshold flags — the alert that catches a dead producer before
    downstream joins silently lose its rows. One scan, one grouped
    aggregate, the 1-row global max attached by broadcast; lag is
    exact integer seconds in both engines."""
    ev = load_table(spark, sf_dir, "events")
    g = ev.agg(F.max("ts").alias("global_max"))
    s = ev.groupBy("event_type").agg(
        F.count("*").alias("n"), F.max("ts").alias("src_max")
    )
    lag = F.floor(
        (
            F.unix_micros(F.col("global_max").cast("timestamp"))
            - F.unix_micros(F.col("src_max").cast("timestamp"))
        )
        / 1000000
    ).cast("long")
    return (
        s.crossJoin(F.broadcast(g))
        .select(
            "event_type",
            "n",
            lag.alias("staleness_sec"),
            F.when(lag > 86400, 1).otherwise(0).alias("stale_flag"),
        )
        .orderBy("event_type")
    )


@register(
    "retention_halflife_fit",
    oracle="""
    WITH d AS (SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day
               FROM events GROUP BY 1, 2),
    f AS (SELECT user_id, min(day) AS fday FROM d GROUP BY 1),
    g AS (SELECT max(day) AS gmax FROM d),
    coh AS (SELECT f.user_id, f.fday FROM f CROSS JOIN g
            WHERE f.fday <= g.gmax - INTERVAL 14 DAY),
    nn AS (SELECT CAST(count(*) AS BIGINT) AS cohort_n FROM coh),
    act AS (
      SELECT date_diff('day', c.fday, d.day) AS k,
             CAST(count(DISTINCT d.user_id) AS BIGINT) AS actives
      FROM d JOIN coh c ON d.user_id = c.user_id
      WHERE date_diff('day', c.fday, d.day) BETWEEN 1 AND 14
      GROUP BY 1),
    pts AS (
      SELECT CAST(k AS DOUBLE) AS k,
             ln(CAST(actives AS DOUBLE) / cohort_n) AS lr
      FROM act CROSS JOIN nn WHERE actives > 0),
    s AS (SELECT CAST(count(*) AS BIGINT) AS n, sum(k) AS sk,
                 sum(lr) AS sl, sum(k * k) AS skk, sum(k * lr) AS skl
          FROM pts),
    fit AS (
      SELECT n,
             CASE WHEN n * skk - sk * sk > 0
                  THEN (n * skl - sk * sl) / (n * skk - sk * sk) END AS b,
             CASE WHEN n * skk - sk * sk > 0
                  THEN (sl - (n * skl - sk * sl)
                             / (n * skk - sk * sk) * sk) / n END AS a
      FROM s)
    SELECT n AS n_points,
           (SELECT cohort_n FROM nn) AS cohort_n,
           CASE WHEN b IS NULL THEN -999999999
                ELSE CAST(floor(b * 1000000 + 0.5) AS BIGINT) END
             AS slope_micro,
           CASE WHEN a IS NULL THEN -999999999
                ELSE CAST(floor(a * 1000000 + 0.5) AS BIGINT) END
             AS intercept_micro,
           CASE WHEN b IS NOT NULL AND b < 0
                THEN CAST(floor(-ln(2) / b * 1000 + 0.5) AS BIGINT)
                ELSE -1 END AS halflife_days_milli
    FROM fit
    """,
)
def retention_halflife_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RETENTION HALF-LIFE — fit exponential decay to the day-k
    retention curve (ln r_k = a + b*k, k = 1..14) and report the
    churn half-life -ln2/b: the single number a growth review wants
    from the retention triangle the cohort entry renders. Eligible
    cohort = users with a full 14-day observation window (no
    right-censoring bias); rates are exact distinct-user ratios; the
    log-linear fit is the same sufficient-statistics closed form as
    ml_linear_regression on a <= 14-point frame. On this fixture's
    uniform traffic the curve is near-flat, so b can legitimately be
    >= 0 — the half-life then reports the -1 sentinel rather than a
    nonsense negative horizon (documented; NULL would break the
    integer column's driver hash). Shapes: user-day collapse, first
    day per user, one cohort join — all key-partitioned; the fit
    itself is constant work."""
    ev = load_table(spark, sf_dir, "events")
    d = ev.select(
        "user_id", F.to_date("ts").alias("day")
    ).distinct()
    d.persist()
    f = d.groupBy("user_id").agg(F.min("day").alias("fday"))
    g = d.agg(F.max("day").alias("gmax"))
    coh = (
        f.crossJoin(F.broadcast(g))
        .filter(F.col("fday") <= F.date_sub(F.col("gmax"), 14))
        .select("user_id", "fday")
    )
    nn = coh.agg(F.count("*").alias("cohort_n"))
    act = (
        d.join(coh, "user_id")
        .withColumn("k", F.datediff("day", "fday"))
        .filter((F.col("k") >= 1) & (F.col("k") <= 14))
        .groupBy("k")
        .agg(F.countDistinct("user_id").alias("actives"))
    )
    pts = (
        act.crossJoin(F.broadcast(nn))
        .filter(F.col("actives") > 0)
        .select(
            F.col("k").cast("double").alias("k"),
            F.log(
                F.col("actives").cast("double") / F.col("cohort_n")
            ).alias("lr"),
        )
    )
    s = pts.agg(
        F.count("*").alias("n"),
        F.sum("k").alias("sk"),
        F.sum("lr").alias("sl"),
        F.sum(F.col("k") * F.col("k")).alias("skk"),
        F.sum(F.col("k") * F.col("lr")).alias("skl"),
    )
    deg = (
        F.col("n") * F.col("skk") - F.col("sk") * F.col("sk")
    ) > 0
    b = F.when(
        deg,
        (F.col("n") * F.col("skl") - F.col("sk") * F.col("sl"))
        / (F.col("n") * F.col("skk") - F.col("sk") * F.col("sk")),
    )
    a = F.when(deg, (F.col("sl") - b * F.col("sk")) / F.col("n"))
    import math

    sentinel = F.lit(-999999999).cast("long")
    return (
        s.crossJoin(F.broadcast(nn))
        .select(
            F.col("n").alias("n_points"),
            "cohort_n",
            F.when(b.isNull(), sentinel)
            .otherwise(half_up(b * 1000000))
            .alias("slope_micro"),
            F.when(a.isNull(), sentinel)
            .otherwise(half_up(a * 1000000))
            .alias("intercept_micro"),
            F.when(
                b.isNotNull() & (b < 0),
                half_up(F.lit(-math.log(2)) / b * 1000),
            )
            .otherwise(F.lit(-1).cast("long"))
            .alias("halflife_days_milli"),
        )
    )


@register(
    "stats_anova_oneway",
    oracle="""
    WITH g AS (
      SELECT o_orderpriority AS grp,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS sy,
             CAST(sum(CAST(round(o_totalprice * 100) AS HUGEINT)
                      * CAST(round(o_totalprice * 100) AS BIGINT))
                  AS DOUBLE) AS syy
      FROM orders
      WHERE isfinite(o_totalprice)
      GROUP BY 1),
    t AS (
      SELECT CAST(count(*) AS BIGINT) AS k,
             CAST(sum(n) AS BIGINT) AS nt,
             CAST(sum(sy) AS BIGINT) AS syt,
             sum(syy) AS syyt,
             sum(CAST(sy AS DOUBLE) * sy / n) AS sgm
      FROM g),
    ss AS (
      SELECT k, nt,
             (sgm - CAST(syt AS DOUBLE) * syt / nt) / 10000.0 AS ssb,
             (syyt - sgm) / 10000.0 AS ssw,
             (syyt - CAST(syt AS DOUBLE) * syt / nt) / 10000.0 AS sst
      FROM t)
    SELECT k AS n_groups, nt AS n_rows,
           k - 1 AS dof_between, nt - k AS dof_within,
           CAST(floor((ssb / (k - 1)) / (ssw / (nt - k)) * 1000 + 0.5)
                AS BIGINT) AS f_milli,
           CAST(floor(ssb / sst * 1000000 + 0.5) AS BIGINT)
             AS eta2_micro
    FROM ss
    """,
)
def stats_anova_oneway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE-WAY ANOVA across the five order priorities — the k-group
    generalization of the two-sample entries (F = between-group /
    within-group mean square, plus the eta-squared effect size). The
    sums-of-squares identities keep everything sufficient-statistic
    shaped: SSB = sum(sy_g^2/n_g) - sy^2/N and SSW = sum(syy_g) - the
    same group term, so ONE grouped aggregate over exact BIGINT cents
    (squares as DECIMAL/HUGEINT — the regression entry's overflow
    lesson) collapses the fact to five rows and the F statistic is
    constant work. The /1e4 rescale converts cents^2 to currency^2
    identically in both engines before the folds."""
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    g = (
        load_table(spark, sf_dir, "orders")
        # non-finite price rows carry no measurement (r11 finite wave 2)
        .where(is_finite("o_totalprice"))
        .select(F.col("o_orderpriority").alias("grp"), cents.alias("y"))
        .groupBy("grp")
        .agg(
            F.count("*").alias("n"),
            F.sum("y").alias("sy"),
            # order-total cents ≤ ~1e8 at any scale, so y² ≪ 2⁶³
            exact_moment("y", "y").alias("syy"),
        )
    )
    t = g.agg(
        F.count("*").alias("k"),
        F.sum("n").alias("nt"),
        F.sum("sy").alias("syt"),
        F.sum("syy").alias("syyt"),
        F.sum(F.col("sy").cast("double") * F.col("sy") / F.col("n")).alias(
            "sgm"
        ),
    )
    ssb = (F.col("sgm") - F.col("syt").cast("double") * F.col("syt") / F.col("nt")) / 10000.0
    ssw = (F.col("syyt") - F.col("sgm")) / 10000.0
    sst = (
        F.col("syyt")
        - F.col("syt").cast("double") * F.col("syt") / F.col("nt")
    ) / 10000.0
    return t.select(
        F.col("k").alias("n_groups"),
        F.col("nt").alias("n_rows"),
        (F.col("k") - 1).alias("dof_between"),
        (F.col("nt") - F.col("k")).alias("dof_within"),
        # try_divide throughout the ratio chain: a single-group (or
        # single-row) slice has zero between/within degrees of freedom
        # and SST = 0, so F and eta^2 are undefined — NULL, DuckDB's
        # x/0 answer, not an ANSI abort
        half_up(
            F.try_divide(
                F.try_divide(ssb, F.col("k") - 1),
                F.try_divide(ssw, F.col("nt") - F.col("k")),
            )
            * 1000
        ).alias("f_milli"),
        half_up(F.try_divide(ssb, sst) * 1000000).alias("eta2_micro"),
    )


@register(
    "stats_spearman_corr",
    oracle="""
    WITH pts AS (
      SELECT CAST(l_quantity AS BIGINT) AS x,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS y
      FROM lineitem
      -- listwise deletion (r11 finite wave 2)
      WHERE isfinite(l_quantity) AND isfinite(l_extendedprice)),
    rx AS (
      SELECT x, 2 * COALESCE(sum(c) OVER (ORDER BY x
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               + c + 1 AS r2
      FROM (SELECT x, CAST(count(*) AS BIGINT) AS c FROM pts GROUP BY 1)),
    ry AS (
      SELECT y, 2 * COALESCE(sum(c) OVER (ORDER BY y
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               + c + 1 AS r2
      FROM (SELECT y, CAST(count(*) AS BIGINT) AS c FROM pts GROUP BY 1)),
    rr AS (
      SELECT rx.r2 AS a, ry.r2 AS b
      FROM pts JOIN rx ON pts.x = rx.x JOIN ry ON pts.y = ry.y),
    s AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(a) AS BIGINT) AS sa,
             CAST(sum(b) AS BIGINT) AS sb,
             CAST(sum(CAST(a AS HUGEINT) * a) AS DOUBLE) AS saa,
             CAST(sum(CAST(b AS HUGEINT) * b) AS DOUBLE) AS sbb,
             CAST(sum(CAST(a AS HUGEINT) * b) AS DOUBLE) AS sab
      FROM rr)
    SELECT n,
           CAST(floor((n * sab - CAST(sa AS DOUBLE) * sb)
                      / sqrt((n * saa - CAST(sa AS DOUBLE) * sa)
                             * (n * sbb - CAST(sb AS DOUBLE) * sb))
                      * 1000000 + 0.5) AS BIGINT) AS spearman_micro
    FROM s
    """,
)
def stats_spearman_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPEARMAN RANK CORRELATION between line quantity and price —
    the robust, monotonicity-not-linearity complement of Pearson
    (outliers and curvature can't inflate it), composed WITHOUT a
    per-row rank sort: each variable's midranks come from its
    value-collapsed count frame (the Mann-Whitney identity — 2*rank
    = 2*cum_excl + cnt + 1 keeps ranks integer), the rank maps join
    back by value (quantity's 50-value map broadcasts; price's rides
    the existing value collapse), and Pearson-on-ranks reduces to six
    sufficient statistics — rank squares as DECIMAL/HUGEINT (they
    clear long at ~1e6 rows), one closed-form fold. At 100 TB this is
    two value-cardinality collapses + one co-partitioned join, not a
    global sort."""
    pts = load_table(spark, sf_dir, "lineitem").where(
        # listwise deletion (r11 finite wave 2) — see oracle note
        is_finite("l_quantity") & is_finite("l_extendedprice")
    ).select(
        F.col("l_quantity").cast("long").alias("x"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("y"),
    )
    pts.persist()

    def rank_map(col: str):
        c = pts.groupBy(col).agg(F.count("*").alias("c"))
        w = W.orderBy(col).rowsBetween(W.unboundedPreceding, -1)
        return c.select(
            col,
            (
                2 * F.coalesce(F.sum("c").over(w), F.lit(0))
                + F.col("c")
                + 1
            ).alias("r2"),
        )

    rx = rank_map("x").withColumnRenamed("r2", "a")
    ry = rank_map("y").withColumnRenamed("r2", "b")
    rr = pts.join(F.broadcast(rx), "x").join(ry, "y")
    ad = F.col("a").cast("decimal(19,0)")
    bd = F.col("b").cast("decimal(19,0)")
    s = rr.agg(
        F.count("*").alias("n"),
        F.sum("a").alias("sa"),
        F.sum("b").alias("sb"),
        F.sum(ad * F.col("a")).cast("double").alias("saa"),
        F.sum(bd * F.col("b")).cast("double").alias("sbb"),
        F.sum(ad * F.col("b")).cast("double").alias("sab"),
    )
    num = F.col("n") * F.col("sab") - F.col("sa").cast("double") * F.col("sb")
    den = F.sqrt(
        (F.col("n") * F.col("saa") - F.col("sa").cast("double") * F.col("sa"))
        * (
            F.col("n") * F.col("sbb")
            - F.col("sb").cast("double") * F.col("sb")
        )
    )
    return s.select(
        "n",
        # try_divide: one row (or a constant column) has zero rank
        # variance and the correlation is undefined — NULL, DuckDB's
        # x/0 answer, not an ANSI abort
        half_up(F.try_divide(num, den) * 1000000).alias("spearman_micro"),
    )


_ERF_A = (0.254829592, -0.284496736, 1.421413741, -1.453152027, 1.061405429)


def _erf_sql(x: str) -> str:
    """Abramowitz-Stegun 7.1.26 erf approximation as SQL text over a
    non-negative expression ``x`` — spelled ONCE and reused verbatim
    in the oracle so both engines run the identical polynomial."""
    a1, a2, a3, a4, a5 = _ERF_A
    t = f"(1.0 / (1.0 + 0.3275911 * ({x})))"
    poly = (
        f"({a1} * {t} + {a2} * {t} * {t} + {a3} * {t} * {t} * {t}"
        f" + {a4} * {t} * {t} * {t} * {t}"
        f" + {a5} * {t} * {t} * {t} * {t} * {t})"
    )
    return f"(1.0 - {poly} * exp(-({x}) * ({x})))"


@register(
    "stats_fdr_bh",
    oracle=f"""
    WITH g AS (
      SELECT o_orderpriority AS grp,
             CAST(count(*) AS BIGINT) AS n,
             CAST(count(*) FILTER (o_orderstatus = 'F') AS BIGINT) AS k
      FROM orders GROUP BY 1),
    t AS (SELECT CAST(sum(n) AS BIGINT) AS nt,
                 CAST(sum(k) AS BIGINT) AS kt FROM g),
    z AS (
      SELECT grp, n, k,
             (CAST(k AS DOUBLE) / n - CAST(kt AS DOUBLE) / nt)
               / sqrt(CAST(kt AS DOUBLE) / nt
                      * (1.0 - CAST(kt AS DOUBLE) / nt) / n) AS zv
      FROM g CROSS JOIN t),
    p AS (
      SELECT grp, n, k, zv,
             1.0 - {_erf_sql("abs(zv) / sqrt(2.0)")} AS pv
      FROM z),
    ranked AS (
      SELECT grp, n, k, zv, pv,
             row_number() OVER (ORDER BY pv, grp) AS rk,
             count(*) OVER () AS m
      FROM p),
    cut AS (
      SELECT COALESCE(max(CASE WHEN pv <= rk * 0.10 / m
                               THEN rk END) OVER (), 0) AS max_rk
      FROM ranked LIMIT 1)
    SELECT grp, n, k,
           CAST(floor(zv * 1000 + 0.5) AS BIGINT) AS z_milli,
           CAST(floor(pv * 1000000 + 0.5) AS BIGINT) AS p_micro,
           CAST(rk AS BIGINT) AS rk,
           CASE WHEN rk <= cut.max_rk THEN 1 ELSE 0 END AS rejected
    FROM ranked CROSS JOIN cut
    ORDER BY rk
    """,
)
def stats_fdr_bh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BENJAMINI-HOCHBERG FDR CORRECTION — the step every dashboard
    that fires a FAMILY of hypothesis tests needs before alerting
    (five one-vs-rest two-proportion tests here: does a priority
    class's F-status rate deviate from pooled? at q = .10 each
    p-value is compared to rank/m * q and everything at or below the
    LARGEST passing rank rejects — the step-up rule). The normal CDF
    needs erf, which neither engine exposes portably — so the
    Abramowitz-Stegun 7.1.26 polynomial is spelled ONCE as shared SQL
    text and run IDENTICALLY in both engines (|rel err| < 1.5e-7,
    folded at micro). Shape: one grouped aggregate to 5 cells, the
    rest is window algebra on the hypothesis-family frame — m is
    tiny by definition, so BH costs nothing at any corpus scale."""
    orders = load_table(spark, sf_dir, "orders")
    g = orders.groupBy(F.col("o_orderpriority").alias("grp")).agg(
        F.count("*").alias("n"),
        F.count(F.when(F.col("o_orderstatus") == "F", 1)).alias("k"),
    )
    t = g.agg(F.sum("n").alias("nt"), F.sum("k").alias("kt"))
    p0 = F.col("kt").cast("double") / F.col("nt")
    # try_divide: a pooled rate of exactly 0 or 1 (every order the
    # same status — the single-row slice) has zero binomial variance
    # and the z-score is undefined — NULL, DuckDB's x/0 answer; the
    # group/pool counts themselves are >= 1 by construction
    zv = F.try_divide(
        F.col("k").cast("double") / F.col("n") - p0,
        F.sqrt(p0 * (1.0 - p0) / F.col("n")),
    )
    z = g.crossJoin(F.broadcast(t)).withColumn("zv", zv)
    x = F.abs(F.col("zv")) / F.sqrt(F.lit(2.0))
    tt = 1.0 / (1.0 + 0.3275911 * x)
    a1, a2, a3, a4, a5 = _ERF_A
    poly = (
        a1 * tt
        + a2 * tt * tt
        + a3 * tt * tt * tt
        + a4 * tt * tt * tt * tt
        + a5 * tt * tt * tt * tt * tt
    )
    erf = 1.0 - poly * F.exp(-x * x)
    p = z.withColumn("pv", 1.0 - erf)
    ranked = p.select(
        "grp",
        "n",
        "k",
        "zv",
        "pv",
        F.row_number().over(W.orderBy("pv", "grp")).alias("rk"),
        F.count("*").over(W.partitionBy()).alias("m"),
    )
    cut = ranked.agg(
        F.coalesce(
            F.max(
                F.when(
                    F.col("pv") <= F.col("rk") * 0.10 / F.col("m"),
                    F.col("rk"),
                )
            ),
            F.lit(0),
        ).alias("max_rk")
    )
    return (
        ranked.crossJoin(F.broadcast(cut))
        .select(
            "grp",
            "n",
            "k",
            half_up(F.col("zv") * 1000).alias("z_milli"),
            half_up(F.col("pv") * 1000000).alias("p_micro"),
            F.col("rk").cast("long").alias("rk"),
            F.when(F.col("rk") <= F.col("max_rk"), 1)
            .otherwise(0)
            .alias("rejected"),
        )
        .orderBy("rk")
    )


@register(
    "stats_randomization_test",
    oracle="""
    WITH u AS (
      SELECT user_id,
             (strpos('0123456789abcdef',
                substr(md5('exp1:' || CAST(user_id AS VARCHAR)), 1, 1)) - 1)
               % 2 AS arm,
             max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               AS conv
      FROM events GROUP BY user_id),
    obs AS (
      SELECT CAST(sum(CASE WHEN arm = 1 THEN conv END) AS DOUBLE)
               / count(CASE WHEN arm = 1 THEN 1 END)
             - CAST(sum(CASE WHEN arm = 0 THEN conv END) AS DOUBLE)
               / count(CASE WHEN arm = 0 THEN 1 END) AS d_obs
      FROM u),
    perm AS (
      SELECT t.b,
             (strpos('0123456789abcdef',
                substr(md5('perm' || CAST(t.b AS VARCHAR) || ':'
                           || CAST(u.user_id AS VARCHAR)), 1, 1)) - 1)
               % 2 AS arm,
             u.conv
      FROM u, range(0, 32) t(b)),
    pd AS (
      SELECT b,
             CAST(sum(CASE WHEN arm = 1 THEN conv END) AS DOUBLE)
               / count(CASE WHEN arm = 1 THEN 1 END)
             - CAST(sum(CASE WHEN arm = 0 THEN conv END) AS DOUBLE)
               / count(CASE WHEN arm = 0 THEN 1 END) AS d_b
      FROM perm GROUP BY b),
    s AS (
      SELECT CAST(count(*) AS BIGINT) AS b_total,
             CAST(count(*) FILTER (abs(d_b) >= abs(obs.d_obs))
                  AS BIGINT) AS n_extreme,
             max(obs.d_obs) AS d_obs
      FROM pd CROSS JOIN obs)
    SELECT b_total, n_extreme,
           CAST(floor(d_obs * 1000000 + 0.5) AS BIGINT) AS d_obs_micro,
           CAST(floor((1.0 + n_extreme) / (1.0 + b_total) * 1000 + 0.5)
                AS BIGINT) AS p_milli
    FROM s
    """,
)
def stats_randomization_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANDOMIZATION (permutation) TEST for the experiment's rate
    difference — the assumption-free alternative to the normal
    approximation the uplift z-test leans on: re-label every user 32
    times with independent salted-md5 coins and ask how often a
    re-labeled world produces a difference at least as extreme as the
    observed one; p = (1+extreme)/(1+B), the add-one permutation
    estimator. Determinism is the whole design: "random" relabelings
    are hash functions of (salt, user), so reruns and engines agree
    exactly — the same trick as the subsample-CI and A/B-arm entries,
    extended to a full resampling INFERENCE procedure. Shape: the
    corpus collapses to the user-conversion frame ONCE; the 32x
    fan-out explodes that collapsed frame (never the raw events), and
    each world reduces map-side to 2 cells — 64 aggregate rows of
    exact counts total, diffs are single divisions."""
    ev = load_table(spark, sf_dir, "events")
    arm_of = lambda prefix: (  # noqa: E731
        F.instr(
            F.lit("0123456789abcdef"),
            F.substring(F.md5(prefix), 1, 1),
        )
        - 1
    ) % 2
    u = ev.groupBy("user_id").agg(
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("conv")
    ).withColumn(
        "arm",
        arm_of(F.concat(F.lit("exp1:"), F.col("user_id").cast("string"))),
    )
    u.persist()

    def rate_diff(df):
        return df.agg(
            (
                F.sum(F.when(F.col("arm") == 1, F.col("conv"))).cast(
                    "double"
                )
                / F.count(F.when(F.col("arm") == 1, 1))
                - F.sum(F.when(F.col("arm") == 0, F.col("conv"))).cast(
                    "double"
                )
                / F.count(F.when(F.col("arm") == 0, 1))
            ).alias("d")
        )

    obs = rate_diff(u).withColumnRenamed("d", "d_obs")
    perm = u.withColumn(
        "b", F.explode(F.array(*[F.lit(i) for i in range(32)]))
    ).withColumn(
        "arm",
        arm_of(
            F.concat(
                F.lit("perm"),
                F.col("b").cast("string"),
                F.lit(":"),
                F.col("user_id").cast("string"),
            )
        ),
    )
    pd_ = perm.groupBy("b").agg(
        (
            F.sum(F.when(F.col("arm") == 1, F.col("conv"))).cast("double")
            / F.count(F.when(F.col("arm") == 1, 1))
            - F.sum(F.when(F.col("arm") == 0, F.col("conv"))).cast(
                "double"
            )
            / F.count(F.when(F.col("arm") == 0, 1))
        ).alias("d_b")
    )
    s = pd_.crossJoin(F.broadcast(obs)).agg(
        F.count("*").alias("b_total"),
        F.count(
            F.when(F.abs(F.col("d_b")) >= F.abs(F.col("d_obs")), 1)
        ).alias("n_extreme"),
        F.max("d_obs").alias("d_obs"),
    )
    return s.select(
        "b_total",
        "n_extreme",
        half_up(F.col("d_obs") * 1000000).alias("d_obs_micro"),
        half_up((1.0 + F.col("n_extreme")) / (1.0 + F.col("b_total")) * 1000)
        .alias("p_milli"),
    )


@register(
    "stats_weibull_fit",
    oracle="""
    WITH lat AS (
      SELECT l_orderkey,
             CAST(date_diff('day', min(l_shipdate), max(l_shipdate))
                  AS BIGINT) + 1 AS t
      FROM lineitem GROUP BY 1),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS nt FROM lat),
    ec AS (
      SELECT t, CAST(sum(c) OVER (ORDER BY t) AS BIGINT) AS cum, nt
      FROM (SELECT t, CAST(count(*) AS BIGINT) AS c
            FROM lat GROUP BY 1) CROSS JOIN tot),
    pts AS (
      SELECT ln(CAST(t AS DOUBLE)) AS x,
             ln(-ln(1.0 - CAST(cum AS DOUBLE) / nt)) AS y
      FROM ec WHERE cum < nt AND t > 1),
    s AS (SELECT CAST(count(*) AS BIGINT) AS n, sum(x) AS sx,
                 sum(y) AS sy, sum(x * x) AS sxx, sum(x * y) AS sxy
          FROM pts),
    fit AS (
      SELECT n,
             (n * sxy - sx * sy) / (n * sxx - sx * sx) AS k,
             (sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n
               AS c
      FROM s)
    SELECT n AS n_points,
           (SELECT nt FROM tot) AS n_orders,
           CAST(floor(k * 1000 + 0.5) AS BIGINT) AS shape_milli,
           CAST(floor(exp(-c / k) * 1000 + 0.5) AS BIGINT)
             AS scale_days_milli
    FROM fit
    """,
)
def stats_weibull_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEIBULL RELIABILITY FIT on the order shipping SPAN (days from
    an order's first to last shipped line — the fixture generates
    shipdate independently of orderdate, so order-to-ship 'latency'
    goes negative and only the within-order span is a real duration;
    found the hard way, 3093 negative rows at sf0.01) — the
    parametric complement of the Kaplan-Meier entry: a Weibull
    k/lambda summarizes the whole curve (k < 1 burn-in, k = 1
    memoryless, k > 1 wear-out). The classic linearization
    ln(-ln S(t)) = k ln t - k ln lambda turns the fit into the same
    sufficient-statistics closed form as the other regressions, over
    the ECDF of the COLLAPSED span-value frame (one cum window on
    ~distinct-day rows; t = 1 is excluded — ln t = 0 contributes no
    slope information and its atom dominates this discrete fixture —
    as is the S = 0 endpoint whose double log is undefined). Exact
    integer spans, exact cumulative longs, identical log pipelines
    before the milli folds."""
    li = load_table(spark, sf_dir, "lineitem")
    lat = li.groupBy("l_orderkey").agg(
        (F.datediff(F.max("l_shipdate"), F.min("l_shipdate")) + 1)
        .cast("long")
        .alias("t")
    )
    tot = lat.agg(F.count("*").alias("nt"))
    ec = (
        lat.groupBy("t")
        .agg(F.count("*").alias("c"))
        .crossJoin(F.broadcast(tot))
        .select(
            "t",
            F.sum("c")
            .over(
                W.orderBy("t").rowsBetween(
                    W.unboundedPreceding, W.currentRow
                )
            )
            .alias("cum"),
            "nt",
        )
    )
    pts = ec.filter(
        (F.col("cum") < F.col("nt")) & (F.col("t") > 1)
    ).select(
        F.log(F.col("t").cast("double")).alias("x"),
        F.log(
            -F.log(1.0 - F.col("cum").cast("double") / F.col("nt"))
        ).alias("y"),
    )
    s = pts.agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    k = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    c = (F.col("sy") - k * F.col("sx")) / F.col("n")
    return s.crossJoin(F.broadcast(tot)).select(
        F.col("n").alias("n_points"),
        F.col("nt").alias("n_orders"),
        half_up(k * 1000).alias("shape_milli"),
        half_up(F.exp(-c / k) * 1000).alias("scale_days_milli"),
    )


@register(
    "stats_qq_deciles",
    oracle=f"""
    WITH s AS (
      SELECT o_totalprice AS v,
             sum(CASE WHEN o_orderpriority = '{_A}' THEN 1 ELSE 0 END) AS na_at,
             sum(CASE WHEN o_orderpriority = '{_B}' THEN 1 ELSE 0 END) AS nb_at
      FROM orders
      WHERE o_orderpriority IN ('{_A}', '{_B}')
      GROUP BY 1),
    c AS (
      SELECT v,
             CAST(sum(na_at) OVER w AS BIGINT) AS ca,
             CAST(sum(nb_at) OVER w AS BIGINT) AS cb,
             CAST(sum(na_at) OVER () AS BIGINT) AS ta,
             CAST(sum(nb_at) OVER () AS BIGINT) AS tb
      FROM s WINDOW w AS (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                                              AND CURRENT ROW))
    SELECT p AS decile,
           min(CASE WHEN ca >= (ta * p + 9) // 10 THEN v END) AS q_urgent,
           min(CASE WHEN cb >= (tb * p + 9) // 10 THEN v END) AS q_low,
           min(CASE WHEN cb >= (tb * p + 9) // 10 THEN v END)
             - min(CASE WHEN ca >= (ta * p + 9) // 10 THEN v END) AS gap
    FROM c CROSS JOIN range(1, 10) t(p)
    GROUP BY p ORDER BY p
    """,
)
def stats_qq_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q-Q DECILE COMPARISON of the two order-price samples — WHERE
    the distributions differ, not just the maximum gap the KS entry
    reports (a location shift moves every decile; a tail difference
    moves only the top ones). Type-1 (inverse-ECDF) quantiles: q_p =
    the smallest value whose cumulative count clears ceil(p*n/10),
    computed for BOTH samples from the SAME collapsed per-value
    cumulative frame the KS test already builds — the 9 deciles ride
    one exploded cross join of that frame, and ceil stays pure
    integer ((n*p+9) div 10), so the selected quantiles are raw
    fixture doubles both engines agree on bit-for-bit (no rounding
    anywhere). One fact shuffle total."""
    s = _two_sample_counts(spark, sf_dir)
    w_cum = W.orderBy("v").rowsBetween(W.unboundedPreceding, W.currentRow)
    w_all = W.partitionBy()
    c = s.select(
        "v",
        F.sum("na_at").over(w_cum).alias("ca"),
        F.sum("nb_at").over(w_cum).alias("cb"),
        F.sum("na_at").over(w_all).alias("ta"),
        F.sum("nb_at").over(w_all).alias("tb"),
    )
    e = c.withColumn(
        "p", F.explode(F.array(*[F.lit(i) for i in range(1, 10)]))
    )
    thr_a = F.floor((F.col("ta") * F.col("p") + 9) / 10)
    thr_b = F.floor((F.col("tb") * F.col("p") + 9) / 10)
    qa = F.min(F.when(F.col("ca") >= thr_a, F.col("v")))
    qb = F.min(F.when(F.col("cb") >= thr_b, F.col("v")))
    return (
        e.groupBy("p")
        .agg(
            qa.alias("q_urgent"),
            qb.alias("q_low"),
            (qb - qa).alias("gap"),
        )
        .select(F.col("p").alias("decile"), "q_urgent", "q_low", "gap")
        .orderBy("decile")
    )


@register(
    "sample_stratified_neyman",
    oracle="""
    WITH g AS (
      SELECT o_orderpriority AS stratum,
             CAST(count(*) AS BIGINT) AS nh,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS sy,
             CAST(sum(CAST(round(o_totalprice * 100) AS HUGEINT)
                      * CAST(round(o_totalprice * 100) AS BIGINT))
                  AS DOUBLE) AS syy
      FROM orders
      WHERE isfinite(o_totalprice)
      GROUP BY 1),
    s AS (
      SELECT stratum, nh,
             sqrt((syy - CAST(sy AS DOUBLE) * sy / nh) / (nh - 1))
               / 100.0 AS sh
      FROM g),
    t AS (SELECT sum(nh * sh) AS tot FROM s)
    SELECT stratum, nh,
           CAST(floor(sh * 1000 + 0.5) AS BIGINT) AS sd_milli,
           CAST(floor(1000.0 * nh * sh / t.tot + 0.5) AS BIGINT)
             AS alloc_of_1000,
           CAST(floor(nh * sh / t.tot * 1000000 + 0.5) AS BIGINT)
             AS weight_micro
    FROM s CROSS JOIN t
    ORDER BY stratum
    """,
)
def sample_stratified_neyman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEYMAN OPTIMAL ALLOCATION for stratified sampling — how many
    samples each stratum deserves from a fixed budget: n_h
    proportional to N_h * S_h, so big AND volatile strata get more
    (proportional allocation ignores the variance term and
    systematically over-samples homogeneous strata — the difference
    is exactly why survey methodology exists). Complements the
    engine's stratified/weighted/reservoir SAMPLERS with the
    allocation PLANNER that should feed them. Per-stratum means and
    variances come from one grouped aggregate of exact BIGINT cents
    (squares as DECIMAL — the shared overflow discipline); the
    allocation for a nominal budget of 1000 plus the raw weights fold
    once. One scan, five rows, constant post-work."""
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    g = (
        load_table(spark, sf_dir, "orders")
        # non-finite price rows carry no measurement (r11 finite wave 2)
        .where(is_finite("o_totalprice"))
        .select(F.col("o_orderpriority").alias("stratum"), cents.alias("y"))
        .groupBy("stratum")
        .agg(
            F.count("*").alias("nh"),
            F.sum("y").alias("sy"),
            # order-total cents ≤ ~1e8 at any scale, so y² ≪ 2⁶³
            exact_moment("y", "y").alias("syy"),
        )
    )
    # try_divide at both degenerate points, matching DuckDB's x/0 NULL:
    # a single-row stratum has no sample variance (nh - 1 = 0), and an
    # all-constant corpus has tot = sum(nh * sh) = 0 so the allocation
    # shares are undefined
    sh = (
        F.sqrt(
            F.try_divide(
                F.col("syy")
                - F.col("sy").cast("double") * F.col("sy") / F.col("nh"),
                F.col("nh") - 1,
            )
        )
        / 100.0
    )
    s = g.select("stratum", "nh", sh.alias("sh"))
    t = s.agg(F.sum(F.col("nh") * F.col("sh")).alias("tot"))
    return (
        s.crossJoin(F.broadcast(t))
        .select(
            "stratum",
            "nh",
            half_up(F.col("sh") * 1000).alias("sd_milli"),
            half_up(F.try_divide(1000.0 * F.col("nh") * F.col("sh"), F.col("tot")))
            .alias("alloc_of_1000"),
            half_up(F.try_divide(F.col("nh") * F.col("sh"), F.col("tot")) * 1000000)
            .alias("weight_micro"),
        )
        .orderBy("stratum")
    )


@register(
    "events_fano_factor",
    oracle="""
    WITH d AS (
      SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
             CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2),
    s AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n_days,
             CAST(sum(c) AS BIGINT) AS sc,
             CAST(sum(CAST(c AS HUGEINT) * c) AS DOUBLE) AS scc
      FROM d GROUP BY 1)
    SELECT event_type, n_days, sc AS n_events,
           CAST(floor((scc - CAST(sc AS DOUBLE) * sc / n_days)
                      / (n_days - 1)
                      / (CAST(sc AS DOUBLE) / n_days) * 1000 + 0.5)
                AS BIGINT) AS fano_milli,
           CASE WHEN (scc - CAST(sc AS DOUBLE) * sc / n_days)
                     / (n_days - 1)
                     / (CAST(sc AS DOUBLE) / n_days) > 1.5
                THEN 1 ELSE 0 END AS bursty_flag
    FROM s ORDER BY event_type
    """,
)
def events_fano_factor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FANO FACTOR (variance/mean of daily counts) per event stream —
    the point-process dispersion diagnostic: a Poisson arrival
    process has F = 1, F >> 1 means BURSTY traffic (batch jobs,
    retries, bot storms — capacity must be planned on bursts, and
    anomaly thresholds calibrated per-stream), F < 1 means more
    regular than chance (rate-limited or scheduled). One day-grain
    collapse feeds per-stream sufficient statistics (counts exact,
    squares as HUGEINT/DECIMAL); the 1.5 burst flag uses the same
    double both engines derive. Complements the daily-anomaly z-score
    entry (which assumes a dispersion; this MEASURES it)."""
    ev = load_table(spark, sf_dir, "events")
    d = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.count("*").alias("c")
    )
    s = d.groupBy("event_type").agg(
        F.count("*").alias("n_days"),
        F.sum("c").alias("sc"),
        F.sum(F.col("c").cast("decimal(19,0)") * F.col("c"))
        .cast("double")
        .alias("scc"),
    )
    # try_divide on the variance term: a stream seen on a single day
    # has no sample variance (n_days - 1 = 0) and its dispersion is
    # undefined — NULL, DuckDB's x/0 answer; the mean divisor is a
    # per-day count sum (>= 1 whenever the stream exists)
    fano = F.try_divide(
        F.try_divide(
            F.col("scc")
            - F.col("sc").cast("double") * F.col("sc") / F.col("n_days"),
            F.col("n_days") - 1,
        ),
        F.col("sc").cast("double") / F.col("n_days"),
    )
    return s.select(
        "event_type",
        "n_days",
        F.col("sc").alias("n_events"),
        half_up(fano * 1000).alias("fano_milli"),
        F.when(fano > 1.5, 1).otherwise(0).alias("bursty_flag"),
    ).orderBy("event_type")


@register(
    "dq_outlier_tukey_fences",
    oracle="""
    WITH c AS (
      SELECT v, CAST(sum(cnt) OVER (ORDER BY v) AS BIGINT) AS cum,
             CAST(sum(cnt) OVER () AS BIGINT) AS nt
      FROM (SELECT o_totalprice AS v, CAST(count(*) AS BIGINT) AS cnt
            FROM orders GROUP BY 1)),
    q AS (
      SELECT min(CASE WHEN cum >= (nt + 3) // 4 THEN v END) AS q1,
             min(CASE WHEN cum >= (3 * nt + 3) // 4 THEN v END) AS q3,
             max(nt) AS nt
      FROM c),
    f AS (
      SELECT q1, q3, nt,
             q1 - 1.5 * (q3 - q1) AS lo,
             q3 + 1.5 * (q3 - q1) AS hi
      FROM q)
    SELECT f.nt AS n_rows, f.q1, f.q3, f.lo AS fence_lo, f.hi AS fence_hi,
           CAST(count(CASE WHEN o.o_totalprice < f.lo THEN 1 END)
                AS BIGINT) AS n_below,
           CAST(count(CASE WHEN o.o_totalprice > f.hi THEN 1 END)
                AS BIGINT) AS n_above
    FROM orders o CROSS JOIN f
    GROUP BY f.nt, f.q1, f.q3, f.lo, f.hi
    """,
)
def dq_outlier_tukey_fences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TUKEY IQR FENCES on order price — the boxplot outlier rule
    (outside Q1-1.5*IQR / Q3+1.5*IQR) that complements the MAD and
    z-score anomaly entries: quartile-based fences are what data
    profilers and BI boxplots actually draw, and the below/above
    counts are the triage numbers. Type-1 quartiles come from the
    same integer-ceil ECDF selection as the Q-Q entry (pure-long
    thresholds over the collapsed value frame), the fences are raw
    fixture doubles through identical arithmetic, and the outlier
    counts are exact — the only second pass is the fence-count scan
    with the 1-row fence frame broadcast onto it."""
    o = load_table(spark, sf_dir, "orders")
    c = (
        o.groupBy(F.col("o_totalprice").alias("v"))
        .agg(F.count("*").alias("cnt"))
        .select(
            "v",
            F.sum("cnt")
            .over(
                W.orderBy("v").rowsBetween(
                    W.unboundedPreceding, W.currentRow
                )
            )
            .alias("cum"),
            F.sum("cnt").over(W.partitionBy()).alias("nt"),
        )
    )
    q = c.agg(
        F.min(
            F.when(
                F.col("cum") >= F.floor((F.col("nt") + 3) / 4), F.col("v")
            )
        ).alias("q1"),
        F.min(
            F.when(
                F.col("cum") >= F.floor((3 * F.col("nt") + 3) / 4),
                F.col("v"),
            )
        ).alias("q3"),
        F.max("nt").alias("nt"),
    )
    f = q.select(
        "q1",
        "q3",
        "nt",
        (F.col("q1") - 1.5 * (F.col("q3") - F.col("q1"))).alias("lo"),
        (F.col("q3") + 1.5 * (F.col("q3") - F.col("q1"))).alias("hi"),
    )
    return (
        o.crossJoin(F.broadcast(f))
        .groupBy("nt", "q1", "q3", "lo", "hi")
        .agg(
            F.count(
                F.when(F.col("o_totalprice") < F.col("lo"), 1)
            ).alias("n_below"),
            F.count(
                F.when(F.col("o_totalprice") > F.col("hi"), 1)
            ).alias("n_above"),
        )
        .select(
            F.col("nt").alias("n_rows"),
            "q1",
            "q3",
            F.col("lo").alias("fence_lo"),
            F.col("hi").alias("fence_hi"),
            "n_below",
            "n_above",
        )
    )


@register(
    "stats_granger_lite",
    oracle="""
    WITH d AS (SELECT CAST(l_shipdate AS DATE) AS dd,
                      CAST(sum(CAST(CASE WHEN isfinite(l_quantity)
                          THEN l_quantity END AS BIGINT)) AS BIGINT) AS y,
                      CAST(count(*) AS BIGINT) AS x
               FROM lineitem GROUP BY 1
               -- no-signal days dropped (r11 finite wave 2)
               HAVING y IS NOT NULL),
    r AS (SELECT y, x, row_number() OVER (ORDER BY dd) AS rn FROM d),
    p AS (
      SELECT a.y AS y, b.y AS y1, b.x AS x1
      FROM r a JOIN r b ON b.rn = a.rn - 1),
    s AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(y1) AS BIGINT) AS s1,
             CAST(sum(x1) AS BIGINT) AS s2,
             CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(CAST(y1 AS HUGEINT) * y1) AS DOUBLE) AS s11,
             CAST(sum(CAST(y1 AS HUGEINT) * x1) AS DOUBLE) AS s12,
             CAST(sum(CAST(x1 AS HUGEINT) * x1) AS DOUBLE) AS s22,
             CAST(sum(CAST(y1 AS HUGEINT) * y) AS DOUBLE) AS s1y,
             CAST(sum(CAST(x1 AS HUGEINT) * y) AS DOUBLE) AS s2y,
             CAST(sum(CAST(y AS HUGEINT) * y) AS DOUBLE) AS syy
      FROM p),
    rr AS (
      SELECT *,
             (n * s1y - CAST(s1 AS DOUBLE) * sy)
               / (n * s11 - CAST(s1 AS DOUBLE) * s1) AS br,
             s11 * s22 - s12 * s12 AS mA,
             s1 * s22 - s12 * s2 AS mB,
             s1 * s12 - s11 * s2 AS mC,
             s1y * s22 - s12 * s2y AS mD,
             s1y * s12 - s11 * s2y AS mE,
             s1 * s2y - s1y * s2 AS mF,
             s11 * s2y - s1y * s12 AS mG
      FROM s),
    u AS (
      SELECT *,
             (sy - br * s1) / CAST(n AS DOUBLE) AS ar,
             (sy * mA - s1 * mD + s2 * mE)
               / (n * mA - s1 * mB + s2 * mC) AS b0,
             (n * mD - sy * mB + s2 * mF)
               / (n * mA - s1 * mB + s2 * mC) AS b1,
             (n * mG - s1 * mF + sy * mC)
               / (n * mA - s1 * mB + s2 * mC) AS b2
      FROM rr),
    sse AS (
      SELECT n,
             syy - (ar * sy + br * s1y)
               - ar * (sy - ar * n - br * s1)
               - br * (s1y - ar * s1 - br * s11) AS sse_r,
             syy - (b0 * sy + b1 * s1y + b2 * s2y) AS sse_u
      FROM u)
    SELECT n AS n_days,
           CAST(floor(sse_r / n / 1.0 + 0.5) AS BIGINT) AS mse_restricted,
           CAST(floor(sse_u / n / 1.0 + 0.5) AS BIGINT)
             AS mse_unrestricted,
           CAST(floor((sse_r - sse_u) / (sse_u / (n - 3)) * 1000 + 0.5)
                AS BIGINT) AS f_milli
    FROM sse
    """,
)
def stats_granger_lite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GRANGER-STYLE PREDICTABILITY TEST (one lag) — does yesterday's
    line COUNT improve today's quantity forecast beyond yesterday's
    quantity itself? The econometric question behind every
    leading-indicator claim, answered by the nested-model F:
    restricted y ~ y_lag vs unrestricted y ~ y_lag + x_lag, F =
    (SSE_r - SSE_u) / (SSE_u / (n-3)). Both fits are the engine's
    sufficient-statistics closed forms (simple slope; the 3x3 Cramer
    minors the multiple-regression entry pins), and BOTH SSEs expand
    algebraically — the restricted one via the residual-moment
    identity, the unrestricted via b'X'y — so the whole test is one
    lag-join over the collapsed day frame plus constant algebra.
    Exact-integer series; the only doubles are the shared expression
    trees. (A full Granger test runs more lags — same machinery,
    longer minors.)"""
    li = load_table(spark, sf_dir, "lineitem")
    d = li.groupBy(F.to_date("l_shipdate").alias("dd")).agg(
        # specials summed like NULL (finite device); a day with zero
        # finite quantities carries no signal and is dropped so the
        # lag pairs stay total (r11 finite wave 2)
        F.sum(finite(F.col("l_quantity")).cast("long")).alias("y"),
        F.count("*").alias("x"),
    ).filter(F.col("y").isNotNull())
    r = d.select(
        "y", "x", F.row_number().over(W.orderBy("dd")).alias("rn")
    )
    r.persist()
    b = r.select(
        (F.col("rn") + 1).alias("rn"),
        F.col("y").alias("y1"),
        F.col("x").alias("x1"),
    )
    p = r.join(b, "rn").select("y", "y1", "x1")
    d19 = lambda c: F.col(c).cast("decimal(19,0)")  # noqa: E731
    s = p.agg(
        F.count("*").alias("n"),
        F.sum("y1").alias("s1"),
        F.sum("x1").alias("s2"),
        F.sum("y").alias("sy"),
        F.sum(d19("y1") * F.col("y1")).cast("double").alias("s11"),
        F.sum(d19("y1") * F.col("x1")).cast("double").alias("s12"),
        F.sum(d19("x1") * F.col("x1")).cast("double").alias("s22"),
        F.sum(d19("y1") * F.col("y")).cast("double").alias("s1y"),
        F.sum(d19("x1") * F.col("y")).cast("double").alias("s2y"),
        F.sum(d19("y") * F.col("y")).cast("double").alias("syy"),
    )
    br = (
        F.col("n") * F.col("s1y")
        - F.col("s1").cast("double") * F.col("sy")
    ) / (
        F.col("n") * F.col("s11")
        - F.col("s1").cast("double") * F.col("s1")
    )
    rr = s.withColumns(
        {
            "br": br,
            "mA": F.col("s11") * F.col("s22") - F.col("s12") * F.col("s12"),
            "mB": F.col("s1") * F.col("s22") - F.col("s12") * F.col("s2"),
            "mC": F.col("s1") * F.col("s12") - F.col("s11") * F.col("s2"),
            "mD": F.col("s1y") * F.col("s22") - F.col("s12") * F.col("s2y"),
            "mE": F.col("s1y") * F.col("s12") - F.col("s11") * F.col("s2y"),
            "mF": F.col("s1") * F.col("s2y") - F.col("s1y") * F.col("s2"),
            "mG": F.col("s11") * F.col("s2y") - F.col("s1y") * F.col("s12"),
        }
    )
    det = (
        F.col("n") * F.col("mA")
        - F.col("s1") * F.col("mB")
        + F.col("s2") * F.col("mC")
    )
    u = rr.withColumns(
        {
            "ar": (F.col("sy") - F.col("br") * F.col("s1"))
            / F.col("n").cast("double"),
            "b0": (
                F.col("sy") * F.col("mA")
                - F.col("s1") * F.col("mD")
                + F.col("s2") * F.col("mE")
            )
            / det,
            "b1": (
                F.col("n") * F.col("mD")
                - F.col("sy") * F.col("mB")
                + F.col("s2") * F.col("mF")
            )
            / det,
            "b2": (
                F.col("n") * F.col("mG")
                - F.col("s1") * F.col("mF")
                + F.col("sy") * F.col("mC")
            )
            / det,
        }
    )
    sse_r = (
        F.col("syy")
        - (F.col("ar") * F.col("sy") + F.col("br") * F.col("s1y"))
        - F.col("ar")
        * (
            F.col("sy")
            - F.col("ar") * F.col("n")
            - F.col("br") * F.col("s1")
        )
        - F.col("br")
        * (
            F.col("s1y")
            - F.col("ar") * F.col("s1")
            - F.col("br") * F.col("s11")
        )
    )
    sse_u = F.col("syy") - (
        F.col("b0") * F.col("sy")
        + F.col("b1") * F.col("s1y")
        + F.col("b2") * F.col("s2y")
    )
    sse = u.select(
        "n", sse_r.alias("sse_r"), sse_u.alias("sse_u")
    )
    return sse.select(
        F.col("n").alias("n_days"),
        half_up(F.col("sse_r") / F.col("n") / 1.0).alias("mse_restricted"),
        half_up(F.col("sse_u") / F.col("n") / 1.0).alias("mse_unrestricted"),
        half_up(
            (F.col("sse_r") - F.col("sse_u"))
            / (F.col("sse_u") / (F.col("n") - 3))
            * 1000
        ).alias("f_milli"),
    )


@register(
    "stats_simpson_check",
    oracle="""
    WITH u AS (
      SELECT user_id,
             (strpos('0123456789abcdef',
                substr(md5('exp1:' || CAST(user_id AS VARCHAR)), 1, 1)) - 1)
               % 2 AS arm,
             CAST(count(*) AS BIGINT) AS n_events,
             max(CASE WHEN event_type = 'purchase' AND value >= 180
                      THEN 1 ELSE 0 END) AS conv
      FROM events GROUP BY user_id),
    seg AS (
      SELECT CASE WHEN n_events <= 15 THEN 'light'
                  WHEN n_events <= 25 THEN 'medium'
                  ELSE 'heavy' END AS segment,
             arm, conv
      FROM u),
    cells AS (
      SELECT segment, arm,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(conv) AS BIGINT) AS k
      FROM seg GROUP BY 1, 2),
    per_seg AS (
      SELECT segment,
             CAST(sum(CASE WHEN arm = 1 THEN n END) AS BIGINT) AS n1,
             CAST(sum(CASE WHEN arm = 0 THEN n END) AS BIGINT) AS n0,
             CAST(sum(CASE WHEN arm = 1 THEN k END) AS DOUBLE)
               / sum(CASE WHEN arm = 1 THEN n END)
             - CAST(sum(CASE WHEN arm = 0 THEN k END) AS DOUBLE)
               / sum(CASE WHEN arm = 0 THEN n END) AS diff
      FROM cells GROUP BY 1),
    overall AS (
      SELECT CAST(sum(CASE WHEN arm = 1 THEN k END) AS DOUBLE)
               / sum(CASE WHEN arm = 1 THEN n END)
             - CAST(sum(CASE WHEN arm = 0 THEN k END) AS DOUBLE)
               / sum(CASE WHEN arm = 0 THEN n END) AS diff
      FROM cells)
    SELECT s.segment, s.n1 AS n_treat, s.n0 AS n_control,
           CAST(floor(s.diff * 1000000 + 0.5) AS BIGINT) AS diff_micro,
           CAST(floor(o.diff * 1000000 + 0.5) AS BIGINT)
             AS overall_diff_micro,
           CASE WHEN (s.diff > 0) <> (o.diff > 0) THEN 1 ELSE 0 END
             AS reversal_flag
    FROM per_seg s CROSS JOIN overall o
    ORDER BY s.segment
    """,
)
def stats_simpson_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SIMPSON'S-PARADOX REVERSAL CHECK — per-segment treatment
    effects against the pooled effect, with a flag wherever the SIGN
    flips: the aggregation trap every pooled dashboard metric walks
    into when segment mix differs between arms (the pooled diff can
    contradict every stratum's truth), and the reason the DID/CUPED
    entries stratify at all. Segments are activity tiers from the
    user-event collapse; cells are exact counts (the same salted-md5
    arm and conversion definition as the uplift entry — one
    experiment, one more lens); diffs are single divisions of exact
    longs folded at micro. One scan to user grain, one tiny cell
    rollup, a 3+1-row comparison."""
    ev = load_table(spark, sf_dir, "events")
    arm = (
        F.instr(
            F.lit("0123456789abcdef"),
            F.substring(
                F.md5(
                    F.concat(F.lit("exp1:"), F.col("user_id").cast("string"))
                ),
                1,
                1,
            ),
        )
        - 1
    ) % 2
    u = ev.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.max(
            F.when(
                (F.col("event_type") == "purchase")
                & (F.col("value") >= 180),
                1,
            ).otherwise(0)
        ).alias("conv"),
    ).withColumn("arm", arm)
    seg = u.select(
        F.when(F.col("n_events") <= 15, "light")
        .when(F.col("n_events") <= 25, "medium")
        .otherwise("heavy")
        .alias("segment"),
        "arm",
        "conv",
    )
    cells = seg.groupBy("segment", "arm").agg(
        F.count("*").alias("n"), F.sum("conv").alias("k")
    )
    cells.persist()

    def diff_expr():
        k1 = F.sum(F.when(F.col("arm") == 1, F.col("k"))).cast("double")
        n1 = F.sum(F.when(F.col("arm") == 1, F.col("n")))
        k0 = F.sum(F.when(F.col("arm") == 0, F.col("k"))).cast("double")
        n0 = F.sum(F.when(F.col("arm") == 0, F.col("n")))
        return k1 / n1 - k0 / n0, n1, n0

    d, n1, n0 = diff_expr()
    per_seg = cells.groupBy("segment").agg(
        n1.alias("n_treat"), n0.alias("n_control"), d.alias("diff")
    )
    d2, _, _ = diff_expr()
    overall = cells.agg(d2.alias("odiff"))
    return (
        per_seg.crossJoin(F.broadcast(overall))
        .select(
            "segment",
            "n_treat",
            "n_control",
            half_up(F.col("diff") * 1000000).alias("diff_micro"),
            half_up(F.col("odiff") * 1000000).alias("overall_diff_micro"),
            F.when(
                (F.col("diff") > 0) != (F.col("odiff") > 0), 1
            )
            .otherwise(0)
            .alias("reversal_flag"),
        )
        .orderBy("segment")
    )
