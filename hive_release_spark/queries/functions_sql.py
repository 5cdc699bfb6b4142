"""Scalar-function surface queries (SURVEY.md §2.H) + UDTF/lateral view
(§2.A LateralViewJoinOperator, UDTFOperator).

Hive counterparts: the ~230 built-ins registered in
``ql/exec/FunctionRegistry`` (string/math/date/conditional/JSON/hash/
complex-type/masking families, ``ql/udf/*`` + ``ql/udf/generic/*``), and
generator functions explode/posexplode/stack (``GenericUDTF*``).

These queries exercise the Spark-native equivalents end-to-end; the full
name-by-name export (Hive name → Spark Column fn) lives in
``hive_release_spark.functions``.

Oracle notes: libm-backed math (exp/ln/…) can differ by 1 ulp between the
JVM and DuckDB → those are aggregated then rounded. Integer-valued and
string functions compare exactly per row.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hive_release_spark.catalog import load_table, register_views
from hive_release_spark.functions.numeric import finite, hive_render
from hive_release_spark.functions.temporal import ts_valid
from hive_release_spark.operators.topk import bounded_sort
from hive_release_spark.queries.registry import register


@register(
    "fn_string",
    oracle="""
    SELECT p_partkey,
           upper(p_name)                          AS u,
           lower(p_brand)                         AS l,
           length(p_name)                         AS len,
           substr(p_name, 1, 8)                   AS pre,
           concat_ws('-', p_brand, p_type)        AS bt,
           lpad(CAST(p_size AS VARCHAR), 4, '0')  AS padded,
           reverse(p_brand)                       AS rev,
           replace(p_type, ' ', '_')              AS rep,
           strpos(p_name, 'a')                    AS pos_a,
           translate(p_brand, '#B', '_b')         AS tr,
           ascii(p_name)                          AS first_cp,
           -- || not concat(): Hive/Spark concat is NULL-on-any-NULL
           -- (MySQL semantics) while DuckDB's concat skips NULLs
           trim(' ' || p_brand || ' ')            AS trimmed
    FROM part
    """,
)
def fn_string(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String family (Hive UDFUpper/UDFLower/UDFLength/UDFSubstr/
    GenericUDFConcatWS/UDFLpad/UDFReverse/UDFReplace/GenericUDFInstr/
    UDFTranslate/UDFAscii/GenericUDFTrim)."""
    part = load_table(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.upper("p_name").alias("u"),
        F.lower("p_brand").alias("l"),
        F.length("p_name").cast("long").alias("len"),
        F.substring("p_name", 1, 8).alias("pre"),
        F.concat_ws("-", "p_brand", "p_type").alias("bt"),
        F.lpad(F.col("p_size").cast("string"), 4, "0").alias("padded"),
        F.reverse("p_brand").alias("rev"),
        F.replace(F.col("p_type"), F.lit(" "), F.lit("_")).alias("rep"),
        F.instr("p_name", "a").cast("long").alias("pos_a"),
        F.translate("p_brand", "#B", "_b").alias("tr"),
        F.ascii("p_name").cast("long").alias("first_cp"),
        F.trim(F.concat(F.lit(" "), F.col("p_brand"), F.lit(" "))).alias("trimmed"),
    )


@register(
    "fn_regex",
    oracle="""
    SELECT doc_id,
           regexp_extract(text, '([a-z]+)', 1)            AS first_word,
           length(regexp_replace(text, '[aeiou]', '', 'g')) AS novowel_len,
           CASE WHEN regexp_matches(text, 'hash') THEN 1 ELSE 0 END AS has_hash
    FROM documents
    WHERE doc_id < 200
    """,
)
def fn_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """regexp_extract / regexp_replace / rlike (Hive UDFRegExpExtract,
    UDFRegExpReplace, GenericUDFRegExp). Spark regexp_replace is global —
    DuckDB oracle uses the 'g' flag."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    return docs.select(
        "doc_id",
        F.regexp_extract("text", "([a-z]+)", 1).alias("first_word"),
        F.length(F.regexp_replace("text", "[aeiou]", "")).cast("long").alias("novowel_len"),
        F.when(F.col("text").rlike("hash"), 1).otherwise(0).cast("long").alias("has_hash"),
    )


@register(
    "fn_math",
    oracle="""
    -- finite device (r10 NaN axis): the math-family sums are over
    -- finite inputs — ceil(Inf) cannot cast to BIGINT (ANSI overflow /
    -- DuckDB cast refusal) and one NaN poisons every libm sum
    WITH f AS (SELECT l_returnflag, l_orderkey,
                      CASE WHEN isfinite(l_discount) THEN l_discount END AS d,
                      CASE WHEN isfinite(l_extendedprice)
                           THEN l_extendedprice END AS p,
                      CASE WHEN isfinite(l_quantity) THEN l_quantity END AS q
               FROM lineitem)
    SELECT l_returnflag,
           round(sum(abs(d - 0.05)), 4)        AS s_abs,
           CAST(sum(CAST(ceil(p) AS BIGINT)) AS BIGINT)  AS s_ceil,
           CAST(sum(CAST(floor(p) AS BIGINT)) AS BIGINT) AS s_floor,
           round(sum(sqrt(q)), 4)              AS s_sqrt,
           round(sum(exp(d)), 4)               AS s_exp,
           round(sum(ln(p)), 4)           AS s_ln,
           round(sum(log10(p)), 4)        AS s_log10,
           round(sum(pow(q, 2)), 2)            AS s_pow,
           round(sum(sign(d - 0.05)), 2)       AS s_sign,
           CAST(sum(((l_orderkey % 7) + 7) % 7) AS BIGINT) AS s_pmod
    FROM f
    GROUP BY l_returnflag
    """,
)
def fn_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math family (UDFAbs/UDFCeil/UDFFloor/UDFSqrt/UDFExp/UDFLn/UDFLog10/
    UDFPower/GenericUDFPosMod …). Aggregated+rounded because JVM Math and
    libm can differ by 1 ulp per row."""
    li = load_table(spark, sf_dir, "lineitem")
    # finite device (r10 NaN axis) — see oracle note
    d = finite(F.col("l_discount"))
    p = finite(F.col("l_extendedprice"))
    q = finite(F.col("l_quantity"))
    return li.groupBy("l_returnflag").agg(
        F.round(F.sum(F.abs(d - 0.05)), 4).alias("s_abs"),
        F.sum(F.ceil(p).cast("long")).alias("s_ceil"),
        F.sum(F.floor(p).cast("long")).alias("s_floor"),
        F.round(F.sum(F.sqrt(q)), 4).alias("s_sqrt"),
        F.round(F.sum(F.exp(d)), 4).alias("s_exp"),
        F.round(F.sum(F.log(p)), 4).alias("s_ln"),
        F.round(F.sum(F.log10(p)), 4).alias("s_log10"),
        F.round(F.sum(F.pow(q, F.lit(2))), 2).alias("s_pow"),
        F.round(F.sum(F.signum(d - 0.05)), 2).alias("s_sign"),
        F.sum(F.pmod(F.col("l_orderkey"), F.lit(7))).alias("s_pmod"),
    )


@register(
    "fn_datetime",
    oracle="""
    SELECT o_orderkey,
           year(o_orderdate)                     AS y,
           month(o_orderdate)                    AS m,
           day(o_orderdate)                      AS d,
           quarter(o_orderdate)                  AS q,
           weekofyear(o_orderdate)               AS woy,
           dayofweek(o_orderdate) + 1            AS dow,
           CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
           last_day(o_orderdate)                 AS month_end,
           CAST(o_orderdate AS DATE) + 30        AS plus30,
           CAST(o_orderdate + INTERVAL 2 MONTH AS DATE) AS plus2m,
           date_diff('day', o_orderdate, TIMESTAMP '1998-01-01') AS days_to_98,
           -- integer µs division, not floor/CAST on epoch()'s DOUBLE
           -- (r12 temporal axis): Spark/Hive unix_timestamp truncates
           -- TOWARD ZERO (Java integer division) — floor() is one
           -- second lower on pre-1970 sub-second values and the
           -- float->BIGINT CAST rounds. DuckDB's BIGINT // truncates
           -- toward zero too (canary-pinned), so the µs route is
           -- exact end-to-end with no double-precision reasoning
           epoch_us(o_orderdate) // 1000000 AS epoch_s
    FROM orders
    WHERE o_orderkey % 5 = 0
      -- ts_valid ceiling (r12 temporal axis): +30d/+2mo arithmetic on
      -- a far-future corrupt date overflows the calendar; every
      -- column here derives from o_orderdate, so the row IS the time
      -- measurement — dropped scan-side (functions/temporal.py)
      AND o_orderdate < TIMESTAMP '2200-01-01 00:00:00'
    """,
)
def fn_datetime(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time family (UDFYear/Month/Day/WeekOfYear, GenericUDFQuarter,
    GenericUDFLastDay, GenericUDFDateAdd, GenericUDFAddMonths,
    GenericUDFDateDiff, UDFUnixTimestamp — SURVEY.md §2.H). Spark
    dayofweek is 1=Sunday; DuckDB is 0=Sunday (oracle adjusts).
    Scan-side ts_valid guard + trunc-toward-zero epoch contract (r12
    temporal axis) — see the oracle comments."""
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 5 == 0)
        .filter(ts_valid("o_orderdate"))
    )
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").cast("long").alias("y"),
        F.month("o_orderdate").cast("long").alias("m"),
        F.dayofmonth("o_orderdate").cast("long").alias("d"),
        F.quarter("o_orderdate").cast("long").alias("q"),
        F.weekofyear("o_orderdate").cast("long").alias("woy"),
        F.dayofweek("o_orderdate").cast("long").alias("dow"),
        F.trunc("o_orderdate", "month").alias("month_start"),
        F.last_day("o_orderdate").alias("month_end"),
        F.date_add(F.col("o_orderdate"), 30).alias("plus30"),
        F.add_months(F.col("o_orderdate"), 2).alias("plus2m"),
        F.datediff(F.lit("1998-01-01").cast("timestamp_ntz"), F.col("o_orderdate"))
        .cast("long")
        .alias("days_to_98"),
        F.unix_timestamp(F.col("o_orderdate").cast("timestamp")).alias("epoch_s"),
    )


@register(
    "fn_conditional",
    oracle="""
    SELECT c_custkey,
           CASE WHEN c_acctbal < 0 THEN 'debt'
                WHEN c_acctbal < 5000 THEN 'mid'
                ELSE 'rich' END                          AS bucket,
           coalesce(nullif(c_mktsegment, 'BUILDING'), 'OTHER') AS seg_or_other,
           greatest(c_acctbal, 0.0)                      AS floor0,
           least(c_acctbal, 1000.0)                      AS cap1k,
           CASE WHEN c_nationkey BETWEEN 5 AND 10 THEN 1 ELSE 0 END AS mid_nation,
           CASE WHEN c_acctbal IS NULL THEN 1 ELSE 0 END AS bal_null
    FROM customer
    """,
)
def fn_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional family (GenericUDFWhen/Coalesce/NullIf/Greatest/Least/
    Between/OPNull — SURVEY.md §2.H)."""
    c = load_table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.when(F.col("c_acctbal") < 0, "debt")
        .when(F.col("c_acctbal") < 5000, "mid")
        .otherwise("rich")
        .alias("bucket"),
        F.coalesce(F.nullif(F.col("c_mktsegment"), F.lit("BUILDING")), F.lit("OTHER")).alias(
            "seg_or_other"
        ),
        F.greatest(F.col("c_acctbal"), F.lit(0.0)).alias("floor0"),
        F.least(F.col("c_acctbal"), F.lit(1000.0)).alias("cap1k"),
        F.when(F.col("c_nationkey").between(5, 10), 1).otherwise(0).cast("long").alias(
            "mid_nation"
        ),
        F.when(F.col("c_acctbal").isNull(), 1).otherwise(0).cast("long").alias("bal_null"),
    )


@register(
    "fn_json",
    # Lenient-JSON contract (r12 dirty-JSON axis): crawled JSON is
    # dirty — truncated documents, unquoted keys, wrong-typed and
    # overflow values — and extraction must yield NULL for them, not
    # kill the scan. Spark's get_json_object is natively lenient but
    # its plain CAST is not (ANSI throws on '"Infinity"'/'[1,2]'), so
    # the kernel rides try_cast; DuckDB's ->> is natively STRICT
    # (Malformed JSON error), so the oracle guards with json_valid +
    # TRY_CAST. The unmirrorable edge classes — duplicate keys
    # (Spark's variant rejects, both string paths first-win) and
    # trailing junk (Spark accepts, DuckDB's json_valid refuses) —
    # stay OUT of the fixture salt and are canary-pinned instead
    # (tests/test_empty_input.py).
    oracle="""
    SELECT event_type,
           count(*)                                   AS n,
           -- overflow-as-NULL mirror: an int64-max payload makes the
           -- group sum exceed BIGINT; Spark's try_sum yields NULL
           -- under BOTH ANSI configs (probed) and DuckDB's HUGEINT
           -- sum TRY_CASTs to the same NULL
           TRY_CAST(sum(CASE WHEN json_valid(props)
                    THEN TRY_CAST(props->>'k' AS BIGINT) END) AS BIGINT) AS sum_k,
           CAST(min(CASE WHEN json_valid(props)
                    THEN TRY_CAST(props->>'k' AS BIGINT) END) AS BIGINT) AS min_k,
           CAST(max(CASE WHEN json_valid(props)
                    THEN TRY_CAST(props->>'k' AS BIGINT) END) AS BIGINT) AS max_k,
           count(CASE WHEN json_valid(props)
                 THEN props->>'missing' END)          AS n_missing
    FROM events
    GROUP BY event_type
    """,
)
def fn_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON path extraction (Hive GenericUDFGetJsonObject / json_tuple —
    SURVEY.md §2.H) over the events.props payload. Lenient-JSON
    contract (r12 dirty-JSON axis): malformed documents and
    un-castable values extract as NULL — see the oracle note."""
    e = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").try_cast("long")
    return e.groupBy("event_type").agg(
        F.count("*").alias("n"),
        # overflow-as-NULL mirror (r12 dirty-JSON axis; see oracle)
        F.try_sum(k).alias("sum_k"),
        F.min(k).alias("min_k"),
        F.max(k).alias("max_k"),
        F.count(F.get_json_object("props", "$.missing")).alias("n_missing"),
    )


@register(
    "fn_variant_json",
    # Lenient-JSON contract (r12 dirty-JSON axis) — see fn_json. The
    # variant path's leniency is try_parse_json + try_variant_get:
    # the old parse_json FAILFAST-crashed the WHOLE query on one
    # truncated payload, the exact failure a 100 TB crawl scan
    # cannot afford. Probed coercion parity on the salt classes:
    # string "12" → 12 on both (variant coerces, TRY_CAST parses),
    # 1e309/array/json-null/absent → NULL on both. Out-of-salt
    # canaries: duplicate keys (variant REJECTS the document where
    # both string paths first-win) and non-integral numbers
    # (variant's bigint get TRUNCATES 2.9 → 2 where the string
    # TRY_CAST refuses).
    oracle="""
    SELECT event_type,
           CAST(sum(CASE WHEN TRY_CAST(CASE WHEN json_valid(props)
                              THEN props->>'k' END AS BIGINT) % 3 = 0
                         THEN TRY_CAST(props->>'k' AS BIGINT) END) AS BIGINT) AS sum_k3,
           count(CASE WHEN TRY_CAST(CASE WHEN json_valid(props)
                           THEN props->>'k' END AS BIGINT) % 3 = 0
                      THEN 1 END) AS n_k3,
           count(CASE WHEN json_valid(props)
                 THEN props->>'missing' END) AS n_missing
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def fn_variant_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured via Spark 4's VARIANT type — the modern engine
    path for the same payloads `fn_json` reads with string JSON-path
    functions: parse ONCE into the binary variant encoding, then typed
    `variant_get` extractions (predicate + aggregate on the extracted
    value) with `try_variant_get` for absent paths. At 100 TB parse-once
    beats per-extraction re-parsing of the JSON string whenever a query
    touches 2+ paths. Oracle is DuckDB's native JSON operators.
    Lenient-JSON contract (r12 dirty-JSON axis) — see the oracle
    note: one malformed crawl row must not kill the scan."""
    e = load_table(spark, sf_dir, "events")
    v = F.try_parse_json("props")
    k = F.try_variant_get(v, "$.k", "bigint")
    # one row per event type
    return bounded_sort(
        e.select("event_type", k.alias("k"), F.try_variant_get(v, "$.missing", "bigint").alias("m"))
        .groupBy("event_type")
        .agg(
            F.sum(F.when(F.col("k") % 3 == 0, F.col("k"))).alias("sum_k3"),
            F.count(F.when(F.col("k") % 3 == 0, 1)).alias("n_k3"),
            F.count("m").alias("n_missing"),
        ),
        "event_type",
    )


@register(
    "fn_hash",
    oracle="""
    SELECT c_custkey,
           md5(c_name)                 AS h_md5,
           sha256(c_name)              AS h_sha256,
           base64(encode(c_name))      AS b64,
           length(c_name)              AS name_len
    FROM customer
    WHERE c_custkey % 10 = 0
    """,
)
def fn_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash/crypto family (UDFMd5, GenericUDFSha2, GenericUDFBase64 —
    SURVEY.md §2.H)."""
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_custkey") % 10 == 0)
    return c.select(
        "c_custkey",
        F.md5("c_name").alias("h_md5"),
        F.sha2("c_name", 256).alias("h_sha256"),
        F.base64(F.col("c_name").cast("binary")).alias("b64"),
        F.length("c_name").cast("long").alias("name_len"),
    )


@register(
    "fn_mask",
    # Raw string: '\p' is an invalid Python escape (DeprecationWarning
    # today, SyntaxError in a future CPython — ADVICE r11-1).
    oracle=r"""
    SELECT c_custkey,
           -- Unicode classes, not ASCII ranges (r11 multibyte axis):
           -- Spark's mask() classifies Unicode-wide, so 'ü' masks as
           -- a letter — [a-z] left it VISIBLE, a silent PII leak in
           -- the replay. An exhaustive BMP sweep (r12, ADVICE r11-2)
           -- measured the exact agreement: mask() matches the
           -- Lu/Ll/Nd CATEGORIES (Other_Uppercase/Other_Lowercase —
           -- Roman numerals, circled letters, ª/º — are unmasked by
           -- BOTH engines, refuting the isUpperCase hypothesis), and
           -- the only BMP divergence is UNICODE VERSION SKEW: the 12
           -- codepoints assigned in Unicode 14+ (Java 17 ships
           -- Unicode 13) pass through Spark's mask while DuckDB's
           -- newer regex table masks them. Both skew sets — those 12
           -- and astral-plane letters (Spark iterates UTF-16 chars)
           -- — are canary-pinned and kept out of the fixture/salt
           -- space.
           regexp_replace(regexp_replace(regexp_replace(c_name,
               '\p{Lu}', 'X', 'g'), '\p{Ll}', 'x', 'g'),
               '\p{Nd}', 'n', 'g') AS masked
    FROM customer
    WHERE c_custkey % 20 = 0
    """,
)
def fn_mask(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data masking (Hive GenericUDFMask family — SURVEY.md §2.H): upper→X,
    lower→x, digit→n, Unicode-aware on the BMP. Spark's built-in
    ``mask`` implements the same default; the oracle spells it out
    with \\p-class regexes — exact on the Unicode-13 BMP (exhaustive
    65,533-codepoint sweep, r12): mask() classifies by Lu/Ll/Nd
    category. KNOWN ENGINE LIMITS (canary-pinned, kept out of the
    fixture/salt space): (1) mask() walks UTF-16 chars, so
    astral-plane letters (mathematical-alphanumeric "fancy text")
    pass through UNMASKED — a PII spoofing nuance worth knowing at
    100 TB; (2) the 12 BMP codepoints assigned in Unicode 14+
    (U+2C2F/U+2C5F Glagolitic, the U+A7C0–A7D9 Latin additions) are
    unassigned to Java 17's Unicode-13 tables and likewise pass
    through."""
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_custkey") % 20 == 0)
    return c.select("c_custkey", F.mask("c_name").alias("masked"))


@register(
    "fn_complex_types",
    oracle="""
    SELECT c_custkey,
           len(l)                                   AS arr_size,
           array_to_string(list_sort(l), ',')       AS arr_sorted,
           CASE WHEN list_contains(l, 7) THEN 1 ELSE 0 END AS has7,
           list_extract(list_sort(l), 1)            AS smallest,
           {'k': c_custkey, 'seg': c_mktsegment}.seg AS seg_field
    FROM (SELECT c_custkey, c_mktsegment,
                 [c_nationkey % 5, c_nationkey % 3, 7] AS l
          FROM customer WHERE c_custkey % 50 = 0)
    """,
)
def fn_complex_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ARRAY/STRUCT constructors + accessors (Hive GenericUDFArray/Struct/
    Index/SortArray/ArrayContains, serde2 ListTypeInfo/StructTypeInfo —
    SURVEY.md §1.2, §2.H)."""
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_custkey") % 50 == 0)
    arr = F.array(F.col("c_nationkey") % 5, F.col("c_nationkey") % 3, F.lit(7))
    st = F.named_struct(F.lit("k"), F.col("c_custkey"), F.lit("seg"), F.col("c_mktsegment"))
    return c.select(
        "c_custkey",
        F.size(arr).cast("long").alias("arr_size"),
        F.array_join(F.sort_array(arr), ",").alias("arr_sorted"),
        F.array_contains(arr, 7).cast("long").alias("has7"),
        F.element_at(F.sort_array(arr), 1).alias("smallest"),
        st.getField("seg").alias("seg_field"),
    )


@register(
    "fn_gap_tier",
    oracle=f"""
    WITH arr AS (
      SELECT l_orderkey,
             array_agg(struct_pack(ln := l_linenumber, qty := l_quantity)
                       ORDER BY l_quantity DESC, l_linenumber) AS a
      FROM lineitem WHERE l_orderkey % 500 = 0 GROUP BY l_orderkey),
    srt AS (
      SELECT l_orderkey,
             -- Hive rendering of double specials (r10 NaN axis;
             -- numeric.hive_render — the one definition of the rule)
             array_to_string(list_transform(a,
                 x -> CAST(x.ln AS VARCHAR) || ':' ||
                      {hive_render("x.qty")}),
                 ',') AS by_qty_desc
      FROM arr),
    rep AS (
      SELECT l_orderkey, CAST(unnest(generate_series(1, CAST(l_orderkey % 3 AS INTEGER) + 1)) AS INTEGER) AS i
      FROM (SELECT DISTINCT l_orderkey FROM lineitem WHERE l_orderkey % 500 = 0))
    SELECT s.l_orderkey, s.by_qty_desc, count(r.i) AS n_copies
    FROM srt s JOIN rep r USING (l_orderkey)
    GROUP BY 1, 2 ORDER BY 1
    """,
)
def fn_gap_tier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The §2.H gap-tier functions as one oracle-gated pipeline
    (previously pytest-only): `sort_array_by` (Hive GenericUDFSortArrayByField
    — array<struct> sorted by a field, descending arm, deterministic
    tie-break on the unique linenumber rides in the struct order) and
    `replicate_rows` (Hive UDTFReplicateRows — each row emitted n
    times, here counted back). Output stringified (driver canon rule)."""
    from hive_release_spark.functions.hive import replicate_rows, sort_array_by

    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 500 == 0)
    arr = li.groupBy("l_orderkey").agg(
        F.collect_list(
            F.struct(
                F.col("l_quantity").alias("qty"), F.col("l_linenumber").alias("ln")
            )
        ).alias("a0")
    )
    # sort by qty DESC with ln ascending tie-break: sort ascending on ln
    # first (stable comparator chain), then by qty descending
    srt = arr.select(
        "l_orderkey",
        F.array_join(
            F.transform(
                sort_array_by(sort_array_by(F.col("a0"), "ln"), "qty", asc=False),
                lambda x: F.concat(
                    x["ln"].cast("string"), F.lit(":"), x["qty"].cast("string")
                ),
            ),
            ",",
        ).alias("by_qty_desc"),
    )
    rep = li.select("l_orderkey").distinct().select(
        "l_orderkey",
        replicate_rows((F.col("l_orderkey") % 3) + 1, F.col("l_orderkey")).alias("r"),
    )
    counted = rep.groupBy("l_orderkey").agg(F.count("*").alias("n_copies"))
    return (
        srt.join(counted, "l_orderkey")
        .select("l_orderkey", "by_qty_desc", "n_copies")
        .orderBy("l_orderkey")
    )


@register(
    "fn_union_type",
    oracle=f"""
    SELECT o_orderkey,
           CAST(o_orderkey % 2 AS INTEGER)                        AS tag,
           CASE WHEN o_orderkey % 2 = 0 THEN o_totalprice END     AS branch_num,
           CASE WHEN o_orderkey % 2 = 1 THEN o_orderpriority END  AS branch_str,
           -- Hive rendering of double specials (r10 NaN axis;
           -- numeric.hive_render — the one definition of the rule)
           CASE WHEN o_orderkey % 2 = 0
                THEN concat('0:', {hive_render("round(o_totalprice, 2)")})
                ELSE concat('1:', o_orderpriority) END            AS rendered
    FROM orders WHERE o_orderkey % 25 = 0
    """,
)
def fn_union_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNIONTYPE round-trip (Hive GenericUDFUnion/ExtractUnion, serde2
    UnionTypeInfo — SURVEY.md §1.2, §2.H): construct a
    uniontype<double,string> via create_union (struct<tag,field0,field1>
    encoding, inactive branch NULL), then extract both branches and a
    tagged rendering back out through extract_union. The struct itself
    stays internal — outputs are scalars (driver-canonicalizable).

    Rounding note (r5 audit): the `rendered` column rounds
    o_totalprice at ROW level, which diverges between engines only if
    a stored double sits EXACTLY on a binary-representable .xx5
    midpoint (.125/.375/.625/.875 fractions). The driver fixtures
    contain zero such values at every SF (verified by direct scan), so
    the contract is stable on the frozen testdata; on arbitrary data
    prefer rendering unrounded doubles."""
    from hive_release_spark.functions.hive import create_union, extract_union

    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 25 == 0)
    u = create_union(
        F.col("o_orderkey") % 2, F.col("o_totalprice"), F.col("o_orderpriority")
    )
    with_u = o.select("o_orderkey", u.alias("u"))
    full = extract_union(F.col("u"))  # no tag -> the whole struct
    return with_u.select(
        "o_orderkey",
        full.getField("tag").alias("tag"),
        extract_union(F.col("u"), 0).alias("branch_num"),
        extract_union(F.col("u"), 1).alias("branch_str"),
        F.concat(
            full.getField("tag").cast("string"),
            F.lit(":"),
            F.coalesce(
                F.round(extract_union(F.col("u"), 0), 2).cast("string"),
                extract_union(F.col("u"), 1),
            ),
        ).alias("rendered"),
    )


# ---------------------------------------------------------------------------
# UDTF / lateral view (explode, posexplode, stack)
# ---------------------------------------------------------------------------


@register(
    "udtf_explode_wordcount",
    oracle="""
    SELECT word, count(*) AS n
    FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
    GROUP BY word
    ORDER BY n DESC, word
    LIMIT 30
    """,
)
def udtf_explode_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATERAL VIEW explode(split(...)) — Hive LateralViewJoinOperator +
    GenericUDTFExplode (SURVEY.md §2.A). The scale-out word count."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(F.split("text", " ")).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), F.col("word"))
        .limit(30)
    )


@register(
    "udtf_posexplode",
    oracle="""
    SELECT doc_id, pos - 1 AS pos, word
    FROM (SELECT doc_id,
                 unnest(string_split(text, ' ')) AS word,
                 generate_subscripts(string_split(text, ' '), 1) AS pos
          FROM documents WHERE doc_id < 50)
    WHERE pos <= 3
    """,
)
def udtf_posexplode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """posexplode — position-aware UDTF (Hive GenericUDTFPosExplode).
    Spark pos is 0-based; DuckDB subscripts are 1-based (oracle adjusts)."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    return (
        docs.select("doc_id", F.posexplode(F.split("text", " ")).alias("pos", "word"))
        .filter(F.col("pos") <= 2)
        .select("doc_id", F.col("pos").cast("long").alias("pos"), "word")
    )


@register(
    "udtf_explode_map",
    oracle="""
    SELECT p_partkey, 'brand' AS k, p_brand AS v FROM part WHERE p_partkey % 9 = 0
    UNION ALL
    SELECT p_partkey, 'type', p_type FROM part WHERE p_partkey % 9 = 0
    ORDER BY p_partkey, k
    """,
)
def udtf_explode_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATERAL VIEW explode over a MAP column (Hive GenericUDTFExplode's
    map arm — one (key, value) row per entry, the classic wide-attrs →
    EAV unpivot Hive users run on map<string,string> columns). The map
    is built with map() from row attributes; map explode preserves
    entry order (map() literal order), pinned by the oracle's per-key
    rows."""
    p = load_table(spark, sf_dir, "part").filter(F.col("p_partkey") % 9 == 0)
    m = F.create_map(
        F.lit("brand"), F.col("p_brand"), F.lit("type"), F.col("p_type")
    )
    return (
        p.select("p_partkey", F.explode(m).alias("k", "v"))
        .orderBy("p_partkey", "k")
    )


@register(
    "udtf_inline",
    oracle="""
    SELECT r_regionkey, 'lo' AS tier, r_name AS label FROM region
    UNION ALL
    SELECT r_regionkey, 'hi', upper(r_name) FROM region
    ORDER BY r_regionkey, tier DESC
    """,
)
def udtf_inline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """inline(array<struct>) — Hive GenericUDTFInline: explode an array
    of structs into one row per struct with the fields as columns (the
    third lateral-view arm beside array explode and map explode)."""
    r = load_table(spark, sf_dir, "region")
    arr = F.array(
        F.struct(F.lit("lo").alias("tier"), F.col("r_name").alias("label")),
        F.struct(F.lit("hi").alias("tier"), F.upper("r_name").alias("label")),
    )
    return (
        r.select("r_regionkey", F.inline(arr))
        .orderBy("r_regionkey", F.col("tier").desc())
    )


@register(
    "udtf_stack",
    oracle="""
    SELECT r_regionkey AS k, r_name AS name FROM region
    UNION ALL
    SELECT r_regionkey + 100, upper(r_name) FROM region
    """,
)
def udtf_stack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """stack(n, ...) row generator (Hive GenericUDTFStack); the oracle is
    its UNION ALL expansion."""
    region = load_table(spark, sf_dir, "region")
    return region.selectExpr(
        "stack(2, r_regionkey, r_name, CAST(r_regionkey + 100 AS INT), upper(r_name)) AS (k, name)"
    )


@register(
    "fn_bitwise",
    oracle="""
    SELECT p_partkey,
           p_partkey & 255            AS band,
           p_partkey | 4096           AS bor,
           xor(p_partkey, 1365)       AS bxor,
           ~p_partkey                 AS bnot,
           p_partkey << 3             AS shl,
           p_partkey >> 2             AS shr,
           CAST(bit_count(p_partkey) AS INTEGER) AS popcnt
    FROM part WHERE p_partkey % 40 = 0
    ORDER BY p_partkey
    """,
)
def fn_bitwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise operator family (Hive UDFOPBitAnd/Or/Xor/Not,
    GenericUDFOPBitShiftLeft/Right, UDFBitCount — the TOK_BITWISE* tier
    of SURVEY.md §2.H): &, |, ^, ~, shifts, popcount over int64 keys.
    Exact integer ops — bit-identical across engines by definition; the
    one representational trap is bit_count (Spark INT vs DuckDB TINYINT
    kinds agree after CAST)."""
    p = load_table(spark, sf_dir, "part").filter(F.col("p_partkey") % 40 == 0)
    k = F.col("p_partkey")
    return p.select(
        "p_partkey",
        k.bitwiseAND(F.lit(255)).alias("band"),
        k.bitwiseOR(F.lit(4096)).alias("bor"),
        k.bitwiseXOR(F.lit(1365)).alias("bxor"),
        F.bitwise_not(k).alias("bnot"),
        F.shiftleft(k, 3).alias("shl"),
        F.shiftright(k, 2).alias("shr"),
        F.bit_count(k).alias("popcnt"),
    ).orderBy("p_partkey")


@register(
    "fn_array_surface",
    oracle="""
    WITH t AS (
      SELECT c_custkey,
             c_nationkey % 3                        AS k3,
             [c_nationkey % 5, c_nationkey % 3, 7]  AS a1,
             [c_nationkey % 3, 2, 7]                AS a2
      FROM customer WHERE c_custkey % 40 = 0)
    SELECT c_custkey,
           coalesce(array_to_string(list_sort(list_distinct(list_concat(a1, a2))), ','), '') AS union_s,
           coalesce(array_to_string(list_sort(list_distinct(
               list_filter(a1, x -> list_contains(a2, x)))), ','), '')         AS intersect_s,
           coalesce(array_to_string(list_sort(list_distinct(
               list_filter(a1, x -> NOT list_contains(a2, x)))), ','), '')     AS except_s,
           CAST(list_position(a1, k3) AS BIGINT)                  AS pos_first,
           coalesce(array_to_string(list_sort(list_filter(a1, x -> x <> 7)), ','), '') AS removed_s,
           coalesce(array_to_string(list_sort(flatten([a1, a2])), ','), '')    AS flat_s
    FROM t ORDER BY c_custkey
    """,
)
def fn_array_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array-algebra family (Hive/Spark array_union / array_intersect /
    array_except / array_position / array_remove / flatten — SURVEY.md
    §2.H complex-type tier beyond fn_complex_types' constructors).
    Set-valued outputs are SORTED then stringified: Spark's set ops
    preserve first-occurrence order while DuckDB's list_distinct does
    not guarantee one, so order is canonicalized out of the comparison
    (the VALUES are the contract; per-element order is engine-internal
    here)."""
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_custkey") % 40 == 0)
    t = c.select(
        "c_custkey",
        (F.col("c_nationkey") % 3).alias("k3"),
        F.array(F.col("c_nationkey") % 5, F.col("c_nationkey") % 3, F.lit(7)).alias("a1"),
        F.array(F.col("c_nationkey") % 3, F.lit(2), F.lit(7)).alias("a2"),
    )

    def s(col):
        return F.array_join(F.array_sort(col), ",")

    return t.select(
        "c_custkey",
        s(F.array_union("a1", "a2")).alias("union_s"),
        s(F.array_intersect("a1", "a2")).alias("intersect_s"),
        s(F.array_except("a1", "a2")).alias("except_s"),
        F.array_position("a1", F.col("k3")).alias("pos_first"),
        s(F.array_remove("a1", 7)).alias("removed_s"),
        s(F.flatten(F.array("a1", "a2"))).alias("flat_s"),
    ).orderBy("c_custkey")


@register(
    "fn_map_surface",
    oracle="""
    WITH t AS (
      SELECT p_partkey,
             map(['size', 'bucket'],
                 [CAST(p_size AS BIGINT), CAST(p_partkey % 7 AS BIGINT)]) AS m
      FROM part WHERE p_partkey % 40 = 0)
    SELECT p_partkey,
           array_to_string(list_sort(map_keys(m)), ',')               AS keys_s,
           CAST(list_sum(map_values(m)) AS BIGINT)                    AS vals_sum,
           CAST(cardinality(m) AS INTEGER)                            AS n_entries,
           CAST(m['size'][1] AS BIGINT)                               AS size_v,
           CASE WHEN list_contains(map_keys(m), 'bucket') THEN 1 ELSE 0 END AS has_bucket
    FROM t ORDER BY p_partkey
    """,
)
def fn_map_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAP-type family (Hive GenericUDFMap/MapKeys/MapValues/Size,
    serde2 MapTypeInfo — SURVEY.md §1.2, §2.H): construct, key/value
    extraction, cardinality, membership. Key LISTS are sorted+joined
    (map iteration order is engine-internal); the value SUM is
    order-free by construction."""
    p = load_table(spark, sf_dir, "part").filter(F.col("p_partkey") % 40 == 0)
    m = F.create_map(
        F.lit("size"), F.col("p_size").cast("long"),
        F.lit("bucket"), (F.col("p_partkey") % 7).cast("long"),
    )
    t = p.select("p_partkey", m.alias("m"))
    return t.select(
        "p_partkey",
        F.array_join(F.array_sort(F.map_keys("m")), ",").alias("keys_s"),
        F.aggregate(
            F.map_values("m"), F.lit(0).cast("long"), lambda a, x: a + x
        ).alias("vals_sum"),
        F.size("m").alias("n_entries"),
        F.element_at("m", "size").alias("size_v"),
        F.array_contains(F.map_keys("m"), "bucket").cast("int").alias("has_bucket"),
    ).orderBy("p_partkey")


@register(
    "agg_bool_family",
    oracle="""
    SELECT l_returnflag,
           bool_and(l_discount <= 0.1)  AS all_small_disc,
           bool_or(l_quantity >= 49)    AS any_big_qty,
           CAST(count(CASE WHEN l_tax > l_discount THEN 1 END) AS BIGINT) AS n_tax_gt
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def agg_bool_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean aggregate family (every/any/some — Hive's
    GenericUDAFEvery/Any surface, ANSI bool_and/bool_or): predicate
    aggregation per group, the shape behind data-quality HAVING gates."""
    li = load_table(spark, sf_dir, "lineitem")
    # one row per return flag
    return bounded_sort(
        li.groupBy("l_returnflag")
        .agg(
            F.every(F.col("l_discount") <= 0.1).alias("all_small_disc"),
            F.some(F.col("l_quantity") >= 49).alias("any_big_qty"),
            F.count(F.when(F.col("l_tax") > F.col("l_discount"), 1)).alias("n_tax_gt"),
        ),
        "l_returnflag",
    )


@register(
    "fn_trig",
    oracle="""
    -- specials contribute like NULL (r11 finite wave 2): libm's
    -- sin(Inf) is a domain refusal in DuckDB but NaN in the JVM, so
    -- the trig sums are only cross-engine-defined over finite inputs
    WITH f AS (SELECT l_returnflag,
                      CASE WHEN isfinite(l_discount)
                           THEN l_discount END AS d,
                      CASE WHEN isfinite(l_tax) THEN l_tax END AS t,
                      CASE WHEN isfinite(l_quantity)
                           THEN l_quantity END AS q
               FROM lineitem)
    SELECT l_returnflag,
           round(sum(sin(d)), 4)                             AS s_sin,
           round(sum(cos(d)), 4)                             AS s_cos,
           round(sum(CASE WHEN d IS NOT NULL AND t IS NOT NULL
                     THEN atan2(d, t + 0.01) END), 4)        AS s_atan2,
           round(sum(degrees(d)), 4)                         AS s_deg,
           round(sum(radians(q)), 4)                         AS s_rad
    FROM f GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def fn_trig(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trigonometric family (UDFSin/Cos/Atan2, UDFDegrees/UDFRadians —
    SURVEY.md §2.H math tier). Aggregated then rounded, same discipline
    as fn_math: JVM Math and libm may differ in the last ulp per row."""
    li = load_table(spark, sf_dir, "lineitem")
    # specials contribute like NULL (r11 finite wave 2) — see oracle
    d, t, q = (
        finite(F.col("l_discount")),
        finite(F.col("l_tax")),
        finite(F.col("l_quantity")),
    )
    # one row per return flag
    return bounded_sort(
        li.groupBy("l_returnflag")
        .agg(
            F.round(F.sum(F.sin(d)), 4).alias("s_sin"),
            F.round(F.sum(F.cos(d)), 4).alias("s_cos"),
            F.round(
                F.sum(
                    F.when(
                        d.isNotNull() & t.isNotNull(),
                        F.atan2(d, t + 0.01),
                    )
                ),
                4,
            ).alias("s_atan2"),
            F.round(F.sum(F.degrees(d)), 4).alias("s_deg"),
            F.round(F.sum(F.radians(q)), 4).alias("s_rad"),
        ),
        "l_returnflag",
    )


@register(
    "fn_hof_surface",
    oracle="""
    WITH base AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents
    )
    SELECT doc_id,
           CAST(len(list_filter(w, x -> len(x) >= 5)) AS INTEGER) AS n_long,
           CAST(list_sum(list_transform(w, x -> len(x))) AS BIGINT)
               AS total_chars,
           CAST(list_has_any(w, ['spark']) AS BOOLEAN) AS has_spark,
           CAST(NOT list_has_any(list_transform(w, x -> len(x) = 0), [true])
               AS BOOLEAN) AS all_nonempty,
           array_to_string(list_transform(w[1:3],
               x -> upper(x[1:1]) || x[2:]), ' ') AS title3
    FROM base ORDER BY doc_id
    """,
)
def fn_hof_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The lambda higher-order-function family as a named surface —
    filter / transform / aggregate / exists / forall composed in one
    pass (Hive 2.3 has no HOFs at all; its users reach for explode +
    re-collect, one shuffle per step — every column here is a
    zero-shuffle scan-side expression inside whole-stage codegen, the
    engine property the repo's dedup/similarity pipelines build on).
    DuckDB's list_* lambda forms are the oracle."""
    docs = load_table(spark, sf_dir, "documents")
    w = F.split("text", " ")
    toks = docs.select("doc_id", w.alias("w"))
    return toks.select(
        "doc_id",
        F.size(F.filter("w", lambda x: F.length(x) >= 5)).alias("n_long"),
        F.aggregate(
            F.transform("w", lambda x: F.length(x).cast("long")),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("total_chars"),
        F.exists("w", lambda x: x == F.lit("spark")).alias("has_spark"),
        F.forall("w", lambda x: F.length(x) > 0).alias("all_nonempty"),
        F.array_join(
            F.transform(
                F.slice("w", 1, 3),
                lambda x: F.concat(
                    F.upper(F.substring(x, 1, 1)), F.substring(x, 2, 1 << 20)
                ),
            ),
            " ",
        ).alias("title3"),
    ).orderBy("doc_id")


def _map_str(col):
    """Canonical 'k=v,k=v' rendering (entries sorted by key) — maps have
    engine-internal iteration order and the driver canon rejects raw
    MAP columns, so every map-valued output goes through this."""
    return F.array_join(
        F.transform(
            F.array_sort(F.map_entries(col)),
            lambda e: F.concat(e["key"], F.lit("="), e["value"].cast("string")),
        ),
        ",",
    )


@register(
    "fn_map_hof",
    oracle="""
    SELECT p_partkey,
           'bucket=' || (p_partkey % 7) * 2 || ',size=' || p_size * 2
               AS doubled_s,
           coalesce(array_to_string(list_sort(
             [x FOR x IN ['bucket=' || p_partkey % 7, 'size=' || p_size]
                IF CAST(string_split(x, '=')[2] AS BIGINT) % 2 = 0]), ','), '')
               AS even_kept_s,
           'bucket=' || p_partkey % 7 || ',extra=5,size=' || p_size + 1
               AS zip_sum_s,
           'BUCKET=' || p_partkey % 7 || ',SIZE=' || p_size AS upkeys_s
    FROM part WHERE p_partkey % 40 = 0
    ORDER BY p_partkey
    """,
)
def fn_map_hof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAP lambda family — transform_values / map_filter / map_zip_with
    / transform_keys, the map half of the HOF surface (fn_hof_surface
    covers arrays). All zero-shuffle scan-side expressions; map-valued
    results render through the canonical sorted ``k=v`` string (maps
    have engine-internal order and are driver-canon-hostile). The
    oracle computes each result definitionally from the scalar inputs
    — an independent formulation rather than a DuckDB map-lambda
    replay, since DuckDB's lambda surface stops at lists."""
    p = load_table(spark, sf_dir, "part").filter(F.col("p_partkey") % 40 == 0)
    m1 = F.create_map(
        F.lit("size"), F.col("p_size").cast("long"),
        F.lit("bucket"), (F.col("p_partkey") % 7).cast("long"),
    )
    m2 = F.create_map(
        F.lit("size"), F.lit(1).cast("long"),
        F.lit("extra"), F.lit(5).cast("long"),
    )
    t = p.select("p_partkey", m1.alias("m1"), m2.alias("m2"))
    return t.select(
        "p_partkey",
        _map_str(F.transform_values("m1", lambda k, v: v * 2)).alias("doubled_s"),
        _map_str(F.map_filter("m1", lambda k, v: v % 2 == 0)).alias("even_kept_s"),
        _map_str(
            F.map_zip_with(
                "m1",
                "m2",
                lambda k, v1, v2: F.coalesce(v1, F.lit(0)) + F.coalesce(v2, F.lit(0)),
            )
        ).alias("zip_sum_s"),
        _map_str(F.transform_keys("m1", lambda k, v: F.upper(k))).alias("upkeys_s"),
    ).orderBy("p_partkey")


@register(
    "fn_try_family",
    oracle="""
    SELECT o_orderkey,
           CASE WHEN o_orderkey % 3 = 0 THEN NULL
                ELSE o_totalprice / (o_orderkey % 3) END AS safe_div,
           TRY_CAST(CASE WHEN o_orderkey % 2 = 0
                         THEN CAST(o_orderkey AS VARCHAR)
                         ELSE o_orderstatus END AS BIGINT) AS maybe_num,
           CASE WHEN o_orderkey % 5 = 0 THEN NULL
                ELSE CAST(o_orderkey % 5 AS BIGINT) END AS elem5
    FROM orders WHERE o_orderkey % 7 = 0
    ORDER BY o_orderkey
    """,
)
def fn_try_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The try_* error-safe family (try_divide / try_cast / NULL-on-
    failure semantics) — how Hive's permissive expression behavior
    (x/0 = NULL, bad cast = NULL) is written under the ANSI-on session
    this repo (and the driver) runs: explicit, per-expression opt-out
    instead of a global dialect switch. The oracle replicates each
    NULL-producing condition definitionally (DuckDB's division and
    casts throw or differ, so CASE spells out the contract). try_divide
    by the 0 residue -> NULL; try_cast of a non-numeric status string
    -> NULL; division guard on the modular element."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 7 == 0)
    return o.select(
        "o_orderkey",
        F.try_divide(F.col("o_totalprice"), F.col("o_orderkey") % 3).alias(
            "safe_div"
        ),
        F.try_to_number(
            F.when(
                F.col("o_orderkey") % 2 == 0, F.col("o_orderkey").cast("string")
            ).otherwise(F.col("o_orderstatus")),
            F.lit("999999999"),
        ).cast("long").alias("maybe_num"),
        F.try_divide(
            (F.col("o_orderkey") % 5) * (F.col("o_orderkey") % 5),
            F.col("o_orderkey") % 5,
        ).cast("long").alias("elem5"),
    ).orderBy("o_orderkey")


@register(
    "agg_filter_clause",
    oracle="""
    SELECT l_returnflag,
           count(*) AS n_all,
           count(*) FILTER (WHERE l_quantity >= 25) AS n_big,
           round(sum(l_extendedprice) FILTER (WHERE l_discount > 0.05), 2)
               AS disc_heavy_value,
           round(avg(l_quantity) FILTER (WHERE l_tax = 0), 2) AS avg_qty_notax
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def agg_filter_clause(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ANSI aggregate FILTER clause — per-aggregate predicates in
    one pass (the idiomatic replacement for Hive's CASE-WHEN-inside-
    aggregate, which several entries here still exercise for parity).
    Catalyst compiles both spellings to the same conditional partial
    aggregate: one scan, one exchange, no per-predicate subqueries.
    Run as verbatim SQL; DuckDB shares the syntax."""
    register_views(spark, sf_dir, ("lineitem",))
    return spark.sql(
        """
        SELECT l_returnflag,
               count(*) AS n_all,
               count(*) FILTER (WHERE l_quantity >= 25) AS n_big,
               round(sum(l_extendedprice) FILTER (WHERE l_discount > 0.05), 2)
                   AS disc_heavy_value,
               round(avg(l_quantity) FILTER (WHERE l_tax = 0), 2)
                   AS avg_qty_notax
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
        """
    )
