"""Final §2 inventory rows: UNIQUEJOIN composition, HLL count-distinct
sketch (the modern successor of Hive's bloom/NDV sketches), Python UDTF
(§2.I GenericUDTF extension point).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hive_release_spark.catalog import load_table
from hive_release_spark.functions.numeric import finite, is_finite
from hive_release_spark.functions.temporal import ts_valid
from hive_release_spark.operators.topk import bounded_sort
from hive_release_spark.queries.registry import register


@register(
    "join_unique",
    oracle="""
    WITH c AS (SELECT c_nationkey AS k, count(*) AS n_cust FROM customer GROUP BY 1),
         s AS (SELECT s_nationkey AS k, count(*) AS n_supp FROM supplier GROUP BY 1),
         n AS (SELECT n_nationkey AS k, count(*) AS n_nat  FROM nation   GROUP BY 1)
    SELECT coalesce(c.k, s.k, n.k) AS k,
           coalesce(n_cust, 0) AS n_cust,
           coalesce(n_supp, 0) AS n_supp,
           coalesce(n_nat, 0)  AS n_nat
    FROM c FULL JOIN s ON c.k = s.k
           FULL JOIN n ON coalesce(c.k, s.k) = n.k
    """,
)
def join_unique(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive UNIQUEJOIN (TOK_UNIQUEJOIN — multi-way full outer preserving
    every key from every side) composed from chained FULL joins with key
    coalescing, exactly as SURVEY.md §2.B prescribes."""
    c = (
        load_table(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("ck"))
        .agg(F.count("*").alias("n_cust"))
    )
    s = (
        load_table(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").alias("sk"))
        .agg(F.count("*").alias("n_supp"))
    )
    n = (
        load_table(spark, sf_dir, "nation")
        .groupBy(F.col("n_nationkey").alias("nk"))
        .agg(F.count("*").alias("n_nat"))
    )
    cs = c.join(s, c.ck == s.sk, "full").select(
        F.coalesce(F.col("ck"), F.col("sk")).alias("csk"), "n_cust", "n_supp"
    )
    return (
        cs.join(n, cs.csk == n.nk, "full")
        .select(
            F.coalesce(F.col("csk"), F.col("nk")).alias("k"),
            F.coalesce(F.col("n_cust"), F.lit(0)).alias("n_cust"),
            F.coalesce(F.col("n_supp"), F.lit(0)).alias("n_supp"),
            F.coalesce(F.col("n_nat"), F.lit(0)).alias("n_nat"),
        )
    )


@register(
    "agg_hll_sketch",
    oracle="""
    SELECT l_returnflag,
           count(DISTINCT l_partkey) AS ndv_exact,
           TRUE AS hll_within_2pct,
           TRUE AS hllpp_within_5pct
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def agg_hll_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-distinct sketch: Hive's GenericUDAFBloomFilter/ComputeStats
    NDV role → DataSketches HLL (mergeable across partitions — the 100 TB
    NDV path). Raw estimates are implementation-specific so they can't
    hash-match another engine; instead the query emits the EXACT NDV
    (oracle-checkable) plus error-bound booleans — HLL sketch within
    ±2% and HyperLogLog++ within ±5% of exact — which the oracle pins
    to TRUE. A sketch regression (wrong merge, wrong lgK) flips the
    boolean and fails the hash gate."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.hll_sketch_estimate(F.hll_sketch_agg("l_partkey")).alias("ndv_est"),
            F.approx_count_distinct("l_partkey").alias("ndv_hllpp"),
            F.countDistinct("l_partkey").alias("ndv_exact"),
        )
        .select(
            "l_returnflag",
            "ndv_exact",
            (
                F.abs(F.col("ndv_est") - F.col("ndv_exact"))
                <= 0.02 * F.col("ndv_exact")
            ).alias("hll_within_2pct"),
            (
                F.abs(F.col("ndv_hllpp") - F.col("ndv_exact"))
                <= 0.05 * F.col("ndv_exact")
            ).alias("hllpp_within_5pct"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "agg_hll_union",
    oracle="""
    SELECT count(DISTINCT l_partkey) AS ndv_exact_global,
           TRUE AS union_within_2pct
    FROM lineitem
    """,
)
def agg_hll_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch MERGEABILITY — the property that makes sketches the 100 TB
    NDV path: per-group HLL sketches built independently (one per
    l_returnflag, i.e. per 'partition' of the data) union into a global
    sketch whose estimate must stay within ±2% of the exact global NDV.
    This is exactly how a 1000-executor cluster computes NDV: partial
    sketches map-side, one tiny merge — never a global distinct. The
    oracle pins the exact global count and the error-bound boolean."""
    li = load_table(spark, sf_dir, "lineitem")
    per_group = li.groupBy("l_returnflag").agg(
        F.hll_sketch_agg("l_partkey").alias("sk")
    )
    merged = per_group.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("ndv_union")
    )
    exact = li.agg(F.countDistinct("l_partkey").alias("ndv_exact_global"))
    return exact.crossJoin(merged).select(
        "ndv_exact_global",
        (
            F.abs(F.col("ndv_union") - F.col("ndv_exact_global"))
            <= 0.02 * F.col("ndv_exact_global")
        ).alias("union_within_2pct"),
    )


@register(
    "agg_regr",
    oracle="""
    -- finite device (r10 NaN axis): regression moments are only
    -- cross-engine-defined over finite pairs (DuckDB's variance
    -- machinery refuses Inf); a pair with a non-finite member is
    -- ignored like a NULL pair on both engines
    WITH f AS (SELECT l_linestatus,
                      CASE WHEN isfinite(l_extendedprice)
                           THEN l_extendedprice END AS y,
                      CASE WHEN isfinite(l_quantity) THEN l_quantity END AS x
               FROM lineitem)
    SELECT l_linestatus,
           CAST(regr_count(y, x) AS BIGINT) AS r_n,
           round(regr_slope(y, x), 4)     AS r_slope,
           round(regr_intercept(y, x), 4) AS r_icept,
           round(regr_r2(y, x), 6)        AS r_r2,
           round(regr_avgx(y, x), 4)      AS r_avgx,
           round(regr_avgy(y, x), 4)      AS r_avgy
    FROM f
    GROUP BY l_linestatus
    """,
)
def agg_regr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear-regression aggregate family (Hive GenericUDAFBinarySet
    regr_* registrations — SURVEY.md §2.C): slope/intercept/R²/avgs of
    price on quantity."""
    li = load_table(spark, sf_dir, "lineitem")
    # finite device (r10 NaN axis) — see oracle note
    y, x = finite(F.col("l_extendedprice")), finite(F.col("l_quantity"))
    return li.groupBy("l_linestatus").agg(
        F.regr_count(y, x).alias("r_n"),
        F.round(F.regr_slope(y, x), 4).alias("r_slope"),
        F.round(F.regr_intercept(y, x), 4).alias("r_icept"),
        F.round(F.regr_r2(y, x), 6).alias("r_r2"),
        F.round(F.regr_avgx(y, x), 4).alias("r_avgx"),
        F.round(F.regr_avgy(y, x), 4).alias("r_avgy"),
    )


@register(
    "fn_numeric_repr",
    oracle="""
    SELECT p_partkey,
           bin(p_size)                         AS b,
           hex(p_size)                         AS h,
           to_base(p_partkey % 1000, 16)       AS conv16,
           CAST(factorial(p_size % 10) AS BIGINT) AS fact,
           ascii(p_brand)                      AS a
    FROM part WHERE p_partkey % 7 = 0
    """,
)
def fn_numeric_repr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Numeric representation functions with exact cross-engine values:
    bin/hex/conv/factorial/ascii (Hive UDFBin/UDFHex/UDFConv/
    UDFFactorial/UDFAscii — SURVEY.md §2.H)."""
    p = load_table(spark, sf_dir, "part").filter(F.col("p_partkey") % 7 == 0)
    return p.select(
        "p_partkey",
        F.bin(F.col("p_size").cast("long")).alias("b"),
        F.hex(F.col("p_size").cast("long")).alias("h"),
        F.conv((F.col("p_partkey") % 1000).cast("string"), 10, 16).alias("conv16"),
        F.factorial(F.col("p_size") % 10).alias("fact"),
        F.ascii("p_brand").cast("long").alias("a"),
    )


@register(
    "fn_decimal_arith",
    oracle="""
    WITH t AS (
      SELECT l_orderkey, l_linenumber,
             CAST(l_extendedprice AS DECIMAL(12,2)) AS p,
             CAST(l_quantity      AS DECIMAL(12,2)) AS q
      -- a non-finite double has no DECIMAL representation: both
      -- engines refuse the cast loudly, so listwise-drop (r11 wave 2)
      FROM lineitem WHERE l_orderkey % 100 = 0
        AND isfinite(l_extendedprice) AND isfinite(l_quantity))
    SELECT l_orderkey, l_linenumber,
           CAST(p + q AS VARCHAR)                    AS add_s,
           CAST(p - q AS VARCHAR)                    AS sub_s,
           CAST(p * q AS VARCHAR)                    AS mul_s,
           (CAST(p * 100 AS BIGINT) * 1000000)
             // CAST(q * 100 AS BIGINT)              AS div_micro,
           CAST(floor(p) AS VARCHAR)                 AS floor_s
    FROM t ORDER BY l_orderkey, l_linenumber
    """,
)
def fn_decimal_arith(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DECIMAL arithmetic + promotion (SURVEY.md §1.2 DECIMAL(38) /
    §7.6 watch-list #6): money-typed +,-,×,÷ and floor over
    the fixture columns, every result CAST TO STRING so the declared
    scale is part of the comparison — '35.8750' (×: s1+s2) vs '13.75'
    (+: max scale) must surface exactly, proving the engines' promotion
    and HALF_UP-for-positive rounding agree, not just their doubles.
    Division is expressed as Hive's ``div`` over cent-scaled BIGINTs
    (exact integer floor division in both engines) because fractional
    decimal division is a nest of engine deltas: result scale (Spark
    max(6, s1+p2+1) vs DuckDB's rule), scale-reducing CAST rounding
    (Spark HALF_UP vs DuckDB HALF_EVEN), and DuckDB routing DECIMAL //
    through DOUBLE — all documented here rather than papered over."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        # non-finite doubles have no DECIMAL representation (r11 wave 2)
        (F.col("l_orderkey") % 100 == 0)
        & is_finite("l_extendedprice")
        & is_finite("l_quantity")
    )
    p = F.col("l_extendedprice").cast("decimal(12,2)")
    q = F.col("l_quantity").cast("decimal(12,2)")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        (p + q).cast("string").alias("add_s"),
        (p - q).cast("string").alias("sub_s"),
        (p * q).cast("string").alias("mul_s"),
        F.expr(
            "(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT)"
            " * 1000000) div "
            "CAST(CAST(l_quantity AS DECIMAL(12,2)) * 100 AS BIGINT)"
        ).alias("div_micro"),
        F.floor(p).cast("string").alias("floor_s"),
    ).orderBy("l_orderkey", "l_linenumber")


@register(
    "fn_datetime_misc",
    oracle="""
    WITH o AS (SELECT o_orderkey, o_orderdate AS ts FROM orders
               WHERE o_orderkey % 50 = 0
                 -- ts_valid ceiling (r12 temporal axis): the +1mo+2d
                 -- arithmetic overflows the calendar on far-future
                 -- corruption; every column derives from ts
                 AND o_orderdate < TIMESTAMP '2200-01-01 00:00:00'),
    ref AS (SELECT TIMESTAMP '1998-01-01 00:00:00' AS r)
    SELECT o_orderkey,
           round(
             (date_part('year', r) - date_part('year', ts)) * 12
             + (date_part('month', r) - date_part('month', ts))
             + CASE WHEN day(r) = day(ts)
                      OR (r = last_day(r::DATE) + (r - r::DATE::TIMESTAMP)
                          AND ts = last_day(ts::DATE) + (ts - ts::DATE::TIMESTAMP)
                          AND day(r) = day(last_day(r::DATE))
                          AND day(ts) = day(last_day(ts::DATE)))
                    THEN 0.0
                    ELSE ((day(r) - day(ts)) * 86400.0
                          + epoch(r - r::DATE::TIMESTAMP)
                          - epoch(ts - ts::DATE::TIMESTAMP))
                         / (31.0 * 86400.0)
               END, 4) AS mb,
           (ts::DATE + CAST(CASE WHEN (1 - isodow(ts) + 7) % 7 = 0 THEN 7
                            ELSE (1 - isodow(ts) + 7) % 7 END AS INTEGER)) AS next_mon,
           timezone('America/Los_Angeles', timezone('UTC', ts)) AS la_time,
           timezone('UTC', timezone('Asia/Tokyo', ts)) AS from_jst,
           ts + INTERVAL 1 MONTH + INTERVAL 2 DAY AS plus_1m2d,
           strftime(ts, '%Y/%m/%d %a') AS fmt,
           CAST(dayofyear(ts) AS BIGINT) AS doy,
           -- integer µs division (r12 temporal axis): Spark/Hive
           -- to_unix_timestamp truncates TOWARD ZERO (pre-1970
           -- sub-second values are off-by-one under floor()), and
           -- DuckDB's BIGINT // matches — exact, no double hazard
           epoch_us(ts) // 1000000 AS unix_s
    FROM o, ref
    """,
)
def fn_datetime_misc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time functions with Hive-specific conventions (SURVEY.md
    §2.H): months_between (31-day fraction, integer when days-of-month
    match or both are month-ends), next_day (strictly-after weekday),
    from/to_utc_timestamp (tz-database wall-clock shifts — DuckDB's ICU
    ``timezone()`` mirrors them), make_interval arithmetic (month
    addition clamps to month end in both engines), date_format
    patterns, dayofyear, to_unix_timestamp. The oracle re-derives each
    convention from DuckDB primitives — previously rows-only.
    Scan-side ts_valid guard + trunc-toward-zero epoch contract (r12
    temporal axis) — see the oracle comments."""
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 50 == 0)
        .filter(ts_valid("o_orderdate"))
    )
    ts = F.col("o_orderdate")
    return o.select(
        "o_orderkey",
        F.round(F.months_between(F.lit("1998-01-01").cast("timestamp_ntz"), ts), 4).alias(
            "mb"
        ),
        F.next_day(ts, "Mon").alias("next_mon"),
        F.from_utc_timestamp(ts.cast("timestamp"), "America/Los_Angeles").alias("la_time"),
        F.to_utc_timestamp(ts.cast("timestamp"), "Asia/Tokyo").alias("from_jst"),
        (ts + F.make_interval(F.lit(0), F.lit(1), F.lit(0), F.lit(2))).alias("plus_1m2d"),
        F.date_format(ts, "yyyy/MM/dd EEE").alias("fmt"),
        F.dayofyear(ts).cast("long").alias("doy"),
        F.to_unix_timestamp(ts.cast("timestamp")).alias("unix_s"),
    )


@register(
    "udtf_python",
    oracle="""
    SELECT doc_id, pos - 1 AS pos, word
    FROM (SELECT doc_id,
                 unnest(string_split(text, ' ')) AS word,
                 generate_subscripts(string_split(text, ' '), 1) AS pos
          FROM documents WHERE doc_id < 20)
    WHERE pos <= 2
    """,
)
def udtf_python(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (§2.I GenericUDTF analogue): lateral-joined
    table-valued function emitting (pos, word) for the first two tokens.
    Same oracle shape as posexplode — proving the Python extension path
    computes what the builtin generator does."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="pos int, word string")
    class FirstTokens:
        def eval(self, text: str):
            for i, w in enumerate(text.split(" ")[:2]):
                yield i, w

    spark.udtf.register("hrs_first_tokens", FirstTokens)
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 20)
    docs.createOrReplaceTempView("udtf_docs")
    return spark.sql(
        """
        SELECT d.doc_id, t.pos, t.word
        FROM udtf_docs d, LATERAL hrs_first_tokens(d.text) t
        """
    )


@register(
    "agg_bloom_filter",
    oracle="""
    WITH t AS (SELECT DISTINCT o_custkey FROM orders
               WHERE o_orderpriority = '1-URGENT')
    SELECT (SELECT count(*) FROM customer) AS n_cust,
           (SELECT count(*) FROM customer c
            JOIN t ON c.c_custkey = t.o_custkey) AS n_true,
           0 AS n_missed,
           TRUE AS fpp_ok
    """,
)
def agg_bloom_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive bloom_filter/in_bloom_filter UDAF+UDF pair (SURVEY.md §2.C,
    GenericUDAFBloomFilter): build a filter over the urgent-order customer
    keys, probe every customer. Expression-composed (xxhash64 double
    hashing + bit_or words) — deterministic, JVM-side, map-side partial
    agg. Raw membership bits are engine-specific, so the query emits the
    sketch's CONTRACT instead: exact true-member count (oracle-checkable),
    n_missed — true members the filter said no to, pinned to 0 because a
    bloom filter has NO false negatives — and an observed-fpp bound the
    oracle pins TRUE (configured fpp 0.03, asserted ≤ 0.1 headroom).
    A hashing/merge regression flips n_missed or the boolean and fails
    the hash gate; per-bit properties stay in tests/test_sketches.py.

    The filter is sized from the ACTUAL distinct build-side count (one
    cheap agg on the small side — in production, ANALYZE column stats
    provide this for free): a hardcoded expected_entries silently
    overloads at the next scale factor and blows the fpp bound — caught
    by the sf0.1 gate sweep, which is exactly the 100 TB failure mode
    (a filter sized for yesterday's data probed against today's)."""
    from hive_release_spark.functions.hive import bloom_filter_build, in_bloom_filter

    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    cust = load_table(spark, sf_dir, "customer")
    n_build = orders.select("o_custkey").distinct().count()
    bf = bloom_filter_build(
        orders, "o_custkey", expected_entries=max(64, n_build), fpp=0.03
    )
    truth = orders.select(F.col("o_custkey").alias("c_custkey")).distinct()
    probed = cust.join(
        truth.withColumn("is_true", F.lit(True)), "c_custkey", "left"
    ).select(
        "c_custkey",
        F.coalesce("is_true", F.lit(False)).alias("is_true"),
        in_bloom_filter(F.col("c_custkey"), bf).alias("maybe"),
    )
    # the coalesces make the zero-row probe read as the oracle does:
    # sums over an empty frame are NULL, but "0 customers probed, 0
    # members, 0 misses, 0 false positives (vacuously within bound)" is
    # the audit-correct report — and 0 <= 0.1 * 0 keeps fpp_ok TRUE
    agg = probed.agg(
        F.count("*").alias("n_cust"),
        F.coalesce(F.sum(F.col("is_true").cast("long")), F.lit(0)).alias(
            "n_true"
        ),
        F.coalesce(
            F.sum((F.col("is_true") & ~F.col("maybe")).cast("long")), F.lit(0)
        ).alias("n_missed"),
        F.coalesce(
            F.sum((~F.col("is_true") & F.col("maybe")).cast("long")), F.lit(0)
        ).alias("n_fp"),
    )
    return agg.select(
        "n_cust",
        "n_true",
        "n_missed",
        (
            F.col("n_fp") <= 0.1 * (F.col("n_cust") - F.col("n_true"))
        ).alias("fpp_ok"),
    )


@register(
    "agg_hll_intersect_estimate",
    oracle="""
    WITH a AS (SELECT DISTINCT l_partkey FROM lineitem
               WHERE l_returnflag = 'N'),
    b AS (SELECT DISTINCT l_partkey FROM lineitem WHERE l_returnflag = 'R')
    SELECT (SELECT count(*) FROM a) AS ndv_a,
           (SELECT count(*) FROM b) AS ndv_b,
           (SELECT count(*) FROM a JOIN b USING (l_partkey))
               AS intersect_exact,
           TRUE AS estimate_within_10pct_of_union
    """,
)
def agg_hll_intersect_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-INTERSECTION cardinality from mergeable sketches via
    inclusion-exclusion: |A∩B| ≈ est(A) + est(B) − est(A∪B), all three
    terms from HLL sketches (the union by sketch merge, never a
    re-scan). This is the theta-sketch use case expressed with the
    sketches Spark ships: two audience segments' overlap at 100 TB
    costs two partial-agged sketch builds + one tiny merge — no
    distinct-join. Inclusion-exclusion amplifies relative error (the
    documented trade vs. real theta sketches): three ~1.63%-rSE
    estimates combine to ~2.8% rSE of the union, so the oracle pins
    the exact terms plus a wide ±10%-of-union (~3.5σ) sanity bound;
    the tight ±5% empirical claim is a pytest property in
    `tests/test_sketches.py`, keeping sketch accuracy out of the
    driver hash gate."""
    li = load_table(spark, sf_dir, "lineitem")
    a = li.filter(F.col("l_returnflag") == "N")
    b = li.filter(F.col("l_returnflag") == "R")
    sk = (
        a.agg(F.hll_sketch_agg("l_partkey").alias("sk_a"))
        .crossJoin(b.agg(F.hll_sketch_agg("l_partkey").alias("sk_b")))
        .select(
            F.hll_sketch_estimate("sk_a").alias("est_a"),
            F.hll_sketch_estimate("sk_b").alias("est_b"),
            F.hll_sketch_estimate(
                F.hll_union("sk_a", "sk_b")
            ).alias("est_u"),
        )
    )
    exact = (
        a.select("l_partkey")
        .distinct()
        .join(b.select("l_partkey").distinct(), "l_partkey")
        .agg(F.count("*").alias("intersect_exact"))
        .crossJoin(a.agg(F.countDistinct("l_partkey").alias("ndv_a")))
        .crossJoin(b.agg(F.countDistinct("l_partkey").alias("ndv_b")))
    )
    return exact.crossJoin(sk).select(
        "ndv_a",
        "ndv_b",
        "intersect_exact",
        (
            F.abs(
                (F.col("est_a") + F.col("est_b") - F.col("est_u"))
                - F.col("intersect_exact")
            )
            <= 0.10 * F.col("est_u")
        ).alias("estimate_within_10pct_of_union"),
    )


@register(
    "agg_mode_deterministic",
    oracle="""
    WITH c AS (
      SELECT l_returnflag, l_quantity, count(*) AS cnt
      FROM lineitem GROUP BY 1, 2),
    r AS (
      SELECT l_returnflag, l_quantity, cnt,
             row_number() OVER (PARTITION BY l_returnflag
                                ORDER BY cnt DESC, l_quantity) AS rk
      FROM c)
    SELECT l_returnflag, l_quantity AS modal_qty, cnt AS modal_count
    FROM r WHERE rk = 1 ORDER BY l_returnflag
    """,
)
def agg_mode_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mode (most frequent value) with a DETERMINISTIC tie rule —
    Spark's ``F.mode`` and DuckDB's ``mode()`` both leave ties
    engine-defined, so the portable formulation is explicit: count per
    (group, value), then argmax with (count DESC, value ASC). Two
    partial-agged shuffles, the second over the (group, value)
    cardinality — at 100 TB the candidate frame is value-domain-sized,
    never the fact. The per-group argmax is a min(struct) aggregate,
    not a window: no sort, and WholeStageCodegen keeps it one pass."""
    li = load_table(spark, sf_dir, "lineitem")
    c = li.groupBy("l_returnflag", "l_quantity").agg(F.count("*").alias("cnt"))
    best = (
        c.groupBy("l_returnflag")
        .agg(
            F.min(
                F.struct(
                    (-F.col("cnt")).alias("neg_cnt"),
                    F.col("l_quantity").alias("q"),
                )
            ).alias("b")
        )
        .select(
            "l_returnflag",
            F.col("b.q").alias("modal_qty"),
            (-F.col("b.neg_cnt")).cast("long").alias("modal_count"),
        )
        .orderBy("l_returnflag")
    )
    return best


@register(
    "agg_listagg",
    oracle="""
    SELECT o_orderpriority,
           string_agg(DISTINCT o_orderstatus, ',' ORDER BY o_orderstatus)
               AS statuses,
           string_agg(CAST(o_orderkey AS VARCHAR), '|'
                      ORDER BY o_totalprice DESC, o_orderkey) AS top_keys
    FROM orders
    GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)
def agg_listagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI LISTAGG ... WITHIN GROUP (Spark 4) — ordered string
    aggregation as a first-class aggregate, replacing the Hive-era
    concat_ws(sort_array(collect_list())) three-step this repo's older
    entries exercise for parity. The WITHIN GROUP ordering carries a
    unique tie-break, making the concatenation deterministic under any
    partitioning; DISTINCT + ordered forms both shown. DuckDB's
    string_agg(... ORDER BY) is the oracle."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .agg(
            F.expr(
                "listagg(DISTINCT o_orderstatus, ',') "
                "WITHIN GROUP (ORDER BY o_orderstatus)"
            ).alias("statuses"),
            F.expr(
                "listagg(CAST(o_orderkey AS STRING), '|') "
                "WITHIN GROUP (ORDER BY o_totalprice DESC, o_orderkey)"
            ).alias("top_keys"),
        )
        .orderBy("o_orderpriority")
    )


@register(
    "fn_collation_ci",
    oracle="""
    WITH v AS (
      SELECT CASE WHEN p_partkey % 2 = 0 THEN upper(p_brand)
                  ELSE lower(p_brand) END AS brand_cased,
             p_retailprice
      FROM part)
    SELECT lower(brand_cased) AS brand_ci,
           count(*) AS n,
           round(sum(p_retailprice), 2) AS value
    FROM v GROUP BY 1 ORDER BY 1
    """,
)
def fn_collation_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collation-aware grouping (Spark 4 collations): a mixed-case
    brand column grouped under UTF8_LCASE collapses case variants into
    one group WITHOUT rewriting every expression through lower() — the
    comparison semantics live on the TYPE, so joins, DISTINCT, and
    GROUP BY all follow (Hive 2.3 has no collation support; its users
    scatter lower() calls and lose index/stat alignment). The fixture
    has no case variance, so the query synthesizes it by partkey
    parity; output normalizes through lower() for a stable display
    key. Oracle: the definitional lower()-grouping."""
    p = load_table(spark, sf_dir, "part")
    cased = F.when(
        F.col("p_partkey") % 2 == 0, F.upper("p_brand")
    ).otherwise(F.lower("p_brand"))
    v = p.select(
        F.collate(cased, "UTF8_LCASE").alias("brand_c"), "p_retailprice"
    )
    # one row per case-folded brand
    return bounded_sort(
        v.groupBy("brand_c")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("p_retailprice"), 2).alias("value"),
        )
        .select(
            F.lower(F.col("brand_c").cast("string")).alias("brand_ci"),
            "n",
            "value",
        ),
        "brand_ci",
    )


@register(
    "agg_corr_matrix",
    oracle="""
    -- finite device (r10 NaN axis): correlations over finite pairs
    -- only; n stays the total row count
    WITH f AS (SELECT
        CASE WHEN isfinite(l_quantity) THEN l_quantity END AS q,
        CASE WHEN isfinite(l_extendedprice) THEN l_extendedprice END AS p,
        CASE WHEN isfinite(l_discount) THEN l_discount END AS d,
        CASE WHEN isfinite(l_tax) THEN l_tax END AS t
      FROM lineitem)
    SELECT round(corr(q, p), 6) AS qty_price,
           round(corr(q, d), 6)      AS qty_disc,
           round(corr(q, t), 6)           AS qty_tax,
           round(corr(p, d), 6) AS price_disc,
           round(corr(p, t), 6)      AS price_tax,
           round(corr(d, t), 6)           AS disc_tax,
           CAST(count(*) AS BIGINT) AS n
    FROM f
    """,
)
def agg_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise correlation matrix over the fact's numeric columns in
    ONE aggregate pass — the feature-screening step before model
    training (drop near-duplicate features, flag leakage). All d(d-1)/2
    corr() aggregates share a single partial-agged scan: at 100 TB this
    is one read regardless of how many pairs ride along, vs one job per
    pair in the loop-over-columns idiom."""
    li = load_table(spark, sf_dir, "lineitem")
    cols = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    # finite device (r10 NaN axis): correlation moments over finite
    # pairs only — same adjudication as agg_stats/agg_regr
    li = li.select(*[finite(F.col(c)).alias(c) for c in cols])
    names = {
        ("l_quantity", "l_extendedprice"): "qty_price",
        ("l_quantity", "l_discount"): "qty_disc",
        ("l_quantity", "l_tax"): "qty_tax",
        ("l_extendedprice", "l_discount"): "price_disc",
        ("l_extendedprice", "l_tax"): "price_tax",
        ("l_discount", "l_tax"): "disc_tax",
    }
    aggs = [
        F.round(F.corr(a, b), 6).alias(names[(a, b)])
        for i, a in enumerate(cols)
        for b in cols[i + 1 :]
    ]
    return li.agg(*aggs, F.count("*").alias("n"))


@register(
    "agg_percentile_disc",
    oracle="""
    -- finite device (r10 NaN axis): percentiles over finite values
    -- only — non-finite measurements are ignored like NULL; n stays
    -- the total row count
    WITH f AS (SELECT l_returnflag,
                      CASE WHEN isfinite(l_quantity) THEN l_quantity END AS q
               FROM lineitem)
    SELECT l_returnflag,
           CAST(count(*) AS BIGINT) AS n,
           quantile_disc(q, 0.25) AS q25_disc,
           quantile_disc(q, 0.50) AS q50_disc,
           quantile_disc(q, 0.75) AS q75_disc,
           round(quantile_cont(q, 0.50), 4) AS q50_cont
    FROM f GROUP BY 1 ORDER BY 1
    """,
)
def agg_percentile_disc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERCENTILE_DISC — the SQL-standard DISCRETE percentile (the
    smallest actual value whose cumulative distribution reaches p),
    next to the interpolating PERCENTILE_CONT the repo already gates
    (agg_percentile): disc returns a value that EXISTS in the data
    (medians of ids, sizes, codes), cont may not.  Spark has no
    percentile_disc aggregate, so the operator is composed exactly
    per the standard definition: sorted collect per group +
    element_at(ceil(p * n)) — the per-group sort is bounded by group
    cardinality (the same contract as the moving-median composition;
    percentile_approx swaps in past that bound).  The cont median
    rides along to pin that the two definitions genuinely differ on
    even-count groups.  DuckDB's native quantile_disc is the
    oracle — a first-class reference implementation, like the ASOF
    gate."""
    li = load_table(spark, sf_dir, "lineitem")
    # finite device (r10 NaN axis): the sorted-collect ranks finite
    # values only (collect_list drops the NULLs finite() introduces),
    # matching quantile_disc over the CASE-wrapped oracle column
    fq = finite(F.col("l_quantity"))
    g = li.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.sort_array(F.collect_list(fq)).alias("vals"),
        F.round(F.percentile(fq, F.lit(0.5)), 4).alias(
            "q50_cont"
        ),
    )
    def disc(p):
        # the standard (and quantile_disc) ranks over NON-NULL values
        # only: index off size(vals) — collect_list drops NULLs, so a
        # group with NULL quantities would otherwise overshoot the
        # array (ANSI INVALID_ARRAY_INDEX; found by the r10 all-NULL
        # axis, but live on any partially-NULL group). All-NULL group
        # -> NULL, DuckDB's answer.
        nv = F.size(F.col("vals"))
        idx = F.greatest(F.ceil(F.lit(p) * nv).cast("int"), F.lit(1))
        return F.when(nv > 0, F.element_at(F.col("vals"), idx))
    return g.select(
        "l_returnflag",
        "n",
        disc(0.25).alias("q25_disc"),
        disc(0.50).alias("q50_disc"),
        disc(0.75).alias("q75_disc"),
        "q50_cont",
    ).orderBy("l_returnflag")
