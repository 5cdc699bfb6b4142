"""Coverage-completion queries: MatchPath PTF, context n-grams, BPE-ish
tokenization, remaining string/misc function families, fraction
sampling. Closes the last SURVEY.md §2 inventory rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hive_release_spark.catalog import load_table
from hive_release_spark.functions import hive as hive_fns
from hive_release_spark.llm.text import token_count, tokens
from hive_release_spark.operators.matchpath import match_path
from hive_release_spark.functions.numeric import is_finite
from hive_release_spark.operators.topk import bounded_sort
from hive_release_spark.queries.registry import register


@register(
    "ptf_matchpath",
    oracle="""
    WITH ordered AS (
      SELECT user_id, event_id, event_type,
             lead(event_type) OVER w AS next_type,
             lag(event_type)  OVER w AS prev_type
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT user_id, event_id, 0 AS match_pos
    FROM ordered WHERE event_type = 'error' AND next_type = 'purchase'
    UNION ALL
    SELECT user_id, event_id, 1 AS match_pos
    FROM ordered WHERE event_type = 'purchase' AND prev_type = 'error'
    """,
)
def ptf_matchpath(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MatchPath (Hive udf/ptf/MatchPath.java): find error→purchase
    sequences per user. The 'EP' pattern is oracle-expressible via
    lead/lag — proving the generic regex engine agrees with the
    declarative special case.

    Ordering rides µs-integer epoch, not the timestamp itself (r12
    temporal axis): the applyInPandas boundary converts timestamps to
    datetime64[ns], which OVERFLOWS past 2262-04-11 — an int64 µs
    order key is order-identical, crosses Arrow losslessly, and keeps
    every row regardless of how corrupt its timestamp is (the
    canary-pinned engine limit in tests/test_empty_input.py)."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        # NTZ→TZ cast is value-exact under the pinned-UTC session
        # (operators/asof.py:164 precedent)
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        "event_type",
    )
    sym = (
        F.when(F.col("event_type") == "error", "E")
        .when(F.col("event_type") == "purchase", "P")
        .otherwise("O")
    )
    out = match_path(ev, ["user_id"], ["ts_us", "event_id"], sym, "EP")
    return out.select("user_id", "event_id", "match_pos")


@register(
    "text_context_ngrams",
    oracle="""
    SELECT w2 AS word, count(*) AS freq
    FROM (
      SELECT unnest(list_transform(generate_series(1, len(w)-1),
                    i -> CASE WHEN w[i] = 'the' THEN w[i+1] END)) AS w2
      FROM (SELECT string_split(text, ' ') AS w FROM documents)
    )
    WHERE w2 IS NOT NULL
    GROUP BY w2
    ORDER BY freq DESC, w2
    LIMIT 20
    """,
)
def text_context_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive ``context_ngrams(sentences(...), array('the', null), k)``
    parity: most frequent words following the context word 'the'."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(tokens("text").alias("w"))
    # follower array materialized, then explode_outer: an inner explode
    # would get an inferred size-filter pushed below the projection with
    # split(text) re-inlined per element (see llm/dedup._exploded_shingles)
    follower_arrays = toks.select(
        F.transform(
            F.sequence(F.lit(1), F.size("w") - 1),
            lambda i: F.when(
                F.element_at("w", i) == "the", F.element_at("w", i + 1)
            ),
        ).alias("fs")
    )
    followers = follower_arrays.select(F.explode_outer("fs").alias("word")).filter(
        F.col("word").isNotNull()
    )
    return (
        followers.groupBy("word")
        .agg(F.count("*").alias("freq"))
        .orderBy(F.col("freq").desc(), F.col("word"))
        .limit(20)
    )


@register(
    "text_token_bpe_regex",
    oracle="""
    SELECT doc_id,
           len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS n_bpe_tokens,
           len(string_split(text, ' ')) AS n_ws_tokens
    FROM documents WHERE doc_id < 300
    """,
)
def text_token_bpe_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish pre-tokenization count: word/number/punct split via regex
    (the GPT-2-style pre-tokenizer shape) vs whitespace count."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    return docs.select(
        "doc_id",
        F.size(F.regexp_extract_all("text", F.lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), 0))
        .cast("long")
        .alias("n_bpe_tokens"),
        token_count("text").alias("n_ws_tokens"),
    )


@register(
    "fn_string2",
    oracle="""
    SELECT p_partkey,
           levenshtein(p_brand, 'Brand#1')                    AS lev,
           left(p_name, 5)                                    AS l5,
           right(p_name, 5)                                   AS r5,
           CASE WHEN starts_with(p_type, 'PROMO') THEN 1 ELSE 0 END AS is_promo,
           CASE WHEN contains(p_name, 'red') THEN 1 ELSE 0 END AS has_red,
           array_to_string((string_split(p_type, ' '))[1:2], ' ') AS si2
    FROM part WHERE p_partkey % 3 = 0
    """,
)
def fn_string2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second string batch: levenshtein, left/right, startswith/contains,
    substring_index (Hive UDFs of the same names)."""
    p = load_table(spark, sf_dir, "part").filter(F.col("p_partkey") % 3 == 0)
    return p.select(
        "p_partkey",
        F.levenshtein("p_brand", F.lit("Brand#1")).cast("long").alias("lev"),
        F.substring("p_name", 1, 5).alias("l5"),
        F.col("p_name").substr(F.length("p_name") - 4, F.lit(5)).alias("r5"),
        F.when(F.col("p_type").startswith("PROMO"), 1).otherwise(0).cast("long").alias(
            "is_promo"
        ),
        F.when(F.col("p_name").contains("red"), 1).otherwise(0).cast("long").alias(
            "has_red"
        ),
        F.substring_index("p_type", " ", 2).alias("si2"),
    )


@register(
    "fn_misc_surface",
    oracle="""
    SELECT p_partkey,
           format('{:,}', CAST(floor(round(p_retailprice, 2)) AS BIGINT))
             || '.' ||
             lpad(CAST(CAST(round(p_retailprice, 2) * 100 AS BIGINT) % 100
                       AS VARCHAR), 2, '0') AS fmt,
           CASE 1 + p_partkey % 3
                WHEN 1 THEN 'a' WHEN 2 THEN p_brand WHEN 3 THEN 'c'
           END AS elt_v,
           CASE p_type WHEN 'ECONOMY' THEN 1
                       WHEN 'PROMO' THEN 2
                       WHEN p_type THEN 3 END AS fld,
           CASE p_brand WHEN 'Brand#11' THEN 1
                        WHEN 'Brand#22' THEN 2
                        WHEN 'Brand#33' THEN 3 ELSE 0 END AS fis,
           array_to_string(
             list_transform(string_split(lower(p_type), ' '),
                            s -> upper(s[1]) || s[2:]), ' ') AS ic
    -- a non-finite price cannot be money-formatted (r11 wave 2)
    FROM part WHERE p_partkey % 10 = 0 AND isfinite(p_retailprice)
    ORDER BY p_partkey
    """,
)
def fn_misc_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive string/selector one-offs, ORACLE-GATED (r5 conversion,
    VERDICT r4 next-round #7 — this was rows-only; everything here has
    a DuckDB equivalent or an exact definitional SQL form, so the hash
    gate now covers it): format_number (grouped thousands + fixed
    decimals, rebuilt in the oracle from format('{:,}') on the integer
    part — safe because p_retailprice is positive with exact 2-decimal
    values), elt with a VARYING index (CASE over the 1-based position),
    field() position lookup, find_in_set against a fixed list (CASE
    over list positions, including the 0 = not-found arm), and initcap
    (list_transform word-capitalization — p_type words are single-space
    separated, matching Spark's delimiter semantics). conv/bin/hex/
    factorial stay in `fn_numeric_repr` (already oracle-gated there);
    the genuinely non-SQL remainder (xpath, sentences, soundex, crc32,
    xxhash64) moved to the rows-only `fn_misc_xpath`."""
    p = load_table(spark, sf_dir, "part").filter(
        # a non-finite price cannot be money-formatted (r11 wave 2)
        (F.col("p_partkey") % 10 == 0) & is_finite("p_retailprice")
    )
    return p.select(
        "p_partkey",
        F.format_number(F.col("p_retailprice"), 2).alias("fmt"),
        F.expr("elt(1 + p_partkey % 3, 'a', p_brand, 'c')").alias("elt_v"),
        hive_fns.field(
            F.col("p_type"),
            F.lit("ECONOMY"),
            F.lit("PROMO"),
            F.col("p_type"),
        ).alias("fld"),
        F.expr(
            "find_in_set(p_brand, 'Brand#11,Brand#22,Brand#33')"
        ).alias("fis"),
        F.initcap("p_type").alias("ic"),
    ).orderBy("p_partkey")


@register("fn_misc_xpath")
def fn_misc_xpath(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TERMINALLY rows-only (VERDICT r5 #4 accepts this one as
    terminal): the remainder of the old fn_misc_surface (r5 split) —
    the families with NO DuckDB equivalent or definitional SQL form —
    xpath_string (XML extraction), sentences (locale tokenizer),
    soundex (phonetic code), crc32 and xxhash64 (checksum/hash
    families; their exact values are Spark-implementation constants).
    Determinism: everything derives from table values; the driver
    records row count + schema, and `tests/test_functions.py` pins the
    semantics property-wise (soundex shape, crc32 range, xxhash64
    stability). Every output column stays pandas-sortable (the
    tokenize_word_ids r3 lesson, tests/test_oracle_types.py)."""
    p = load_table(spark, sf_dir, "part").filter(F.col("p_partkey") % 10 == 0)
    return p.select(
        "p_partkey",
        F.expr("xpath_string('<a><b>x</b></a>', 'a/b')").alias("xp"),
        F.array_join(
            F.transform(
                F.sentences(F.concat(F.col("p_name"), F.lit(". "), F.col("p_type"))),
                lambda s: F.array_join(s, " "),
            ),
            " | ",
        ).alias("sents"),
        F.soundex("p_name").alias("sdx"),
        F.crc32(F.col("p_brand").cast("binary")).alias("crc"),
        F.xxhash64("p_name").alias("xx64"),
    )


@register(
    "sort_null_ordering",
    oracle="""
    WITH b AS (SELECT c_custkey,
                      CASE WHEN c_acctbal < 0 THEN NULL ELSE c_acctbal END AS bal
               FROM customer),
    r AS (SELECT c_custkey, bal,
                 row_number() OVER (ORDER BY bal ASC NULLS FIRST, c_custkey) AS rn_asc,
                 row_number() OVER (ORDER BY bal DESC NULLS LAST, c_custkey) AS rn_desc
          FROM b)
    SELECT rn_asc, rn_desc, c_custkey, bal FROM r
    WHERE rn_asc <= 50 OR rn_desc <= 50
    ORDER BY c_custkey
    """,
)
def sort_null_ordering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL ordering contract (SURVEY.md §7.6 watch-list #5): Hive and
    Spark both default to NULLS FIRST for ASC and NULLS LAST for DESC —
    this query materializes both orders as row_number ranks over a
    deterministically NULLed column, using SPARK'S DEFAULTS (no
    explicit null-ordering flags), while the oracle must spell
    NULLS FIRST/LAST out because DuckDB's default is the opposite
    (NULLS LAST ASC). A silent default change in either engine flips
    ranks and fails the hash. Semantics-pin query: the global window is
    the point; the rank filter keeps the output top-k-sized."""
    from pyspark.sql import Window as W

    b = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        F.when(F.col("c_acctbal") < 0, F.lit(None))
        .otherwise(F.col("c_acctbal"))
        .alias("bal"),
    )
    r = b.select(
        "c_custkey",
        "bal",
        F.row_number().over(W.orderBy(F.col("bal").asc(), "c_custkey")).alias("rn_asc"),
        F.row_number()
        .over(W.orderBy(F.col("bal").desc(), "c_custkey"))
        .alias("rn_desc"),
    )
    return (
        r.filter((F.col("rn_asc") <= 50) | (F.col("rn_desc") <= 50))
        .select("rn_asc", "rn_desc", "c_custkey", "bal")
        .orderBy("c_custkey")
    )


# Bernoulli 10% keep threshold over the first 8 hex chars of the row-key
# md5 — fixed-width lowercase hex compares lexicographically == numerically,
# so one string literal both engines honor (same scheme as
# llm.pipeline.stratified_sample). int(0.1 * 16^8) = 0x19999999
# (truncated, not rounded — ~2.3e-8 under a true 10%, harmless and
# identical on both engines since they interpolate the same literal).
_SAMPLE_THR = format(int(0.1 * 16**8), "08x")


@register(
    "sample_fraction",
    oracle=f"""
    SELECT l_returnflag, count(*) AS n, round(sum(l_quantity), 2) AS qty
    FROM lineitem
    WHERE substr(md5(CAST(l_orderkey AS VARCHAR) || ':' ||
                     CAST(l_linenumber AS VARCHAR)), 1, 8) < '{_SAMPLE_THR}'
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def sample_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TABLESAMPLE (10 PERCENT) — Bernoulli row sample + aggregate
    (Hive TABLESAMPLE semantics, SURVEY.md §2.E). Engine RNG
    (``df.sample``) is seed-stable but engine-SPECIFIC, so this uses the
    deterministic md5-threshold coin every engine evaluates identically:
    keep a row iff md5(rowkey)[0:8] < 0x19999999 (≈ 10%). Seeded,
    replayable, nested (a row kept at 10% stays kept at any higher
    rate), and a pure scan-side filter — zero extra shuffles at 100 TB;
    the md5 is a JVM expression over the (l_orderkey, l_linenumber)
    natural key, no RNG state to coordinate across executors."""
    li = load_table(spark, sf_dir, "lineitem")
    h8 = F.substring(
        F.md5(
            F.concat(
                F.col("l_orderkey").cast("string"),
                F.lit(":"),
                F.col("l_linenumber").cast("string"),
            )
        ),
        1,
        8,
    )
    # one row per return flag
    return bounded_sort(
        li.filter(h8 < F.lit(_SAMPLE_THR))
        .groupBy("l_returnflag")
        .agg(F.count("*").alias("n"), F.round(F.sum("l_quantity"), 2).alias("qty")),
        "l_returnflag",
    )
