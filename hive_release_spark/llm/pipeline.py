"""Corpus-assembly operators: the stages a pretraining-data pipeline runs
AFTER cleaning/dedup and BEFORE tokenizer sharding (SURVEY.md §2.L).

- benchmark decontamination (n-gram overlap vs an eval set),
- sequence packing into fixed token budgets,
- weighted domain mixing (up/down-sampling with deterministic fractions),
- deterministic global shuffle + shard assignment,
- stratified sampling with per-stratum rates.

All determinism comes from md5 / integer arithmetic that DuckDB evaluates
identically, so every operator here is oracle-gateable — no RNG, no
wall-clock. Everything is JVM expressions; the only shuffles are the ones
each docstring states.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from hive_release_spark.llm.dedup import _doc_shingles, _exploded_shingles, shingles
from hive_release_spark.llm.text import token_count, tokens
from hive_release_spark.operators.pairs import sorted_pairs
from hive_release_spark.operators.topk import bounded_sort

HEX = "0123456789abcdef"


def decontaminate(train: DataFrame, eval_df: DataFrame, n: int = 8) -> DataFrame:
    """Benchmark decontamination: flag training docs sharing any word
    n-gram with the eval set (the GPT-3/Llama 13-gram protocol; ``n`` is
    a dial).  Returns (doc_id, n_hit_grams, contaminated) for every
    training doc.

    Scale shape: the eval side (benchmarks, ~MBs even for every public
    eval suite) collapses to a DISTINCT gram-hash set and is broadcast —
    the 100 TB training corpus is scanned ONCE and never shuffled before
    the final per-doc count.  The train side keeps explode_outer's NULL
    row for gram-less docs, so every training doc survives the broadcast
    LEFT join and the single partial-agged groupBy — no separate
    doc_id-list scan + join-back (that form scanned the corpus twice).
    Gram matching is on xxhash64 keys (fixed-width, ~3× less shuffle IO
    than raw strings); 64-bit collisions are negligible at corpus scale.
    Per-doc shingles are already array_distinct, so counting hit rows IS
    the distinct-gram hit count.
    """
    eval_grams = (
        _exploded_shingles(eval_df, n)
        .select("s_h")
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    tr = _doc_shingles(train, n).select(
        "doc_id", F.explode_outer("sh").alias("s")
    )
    return (
        # xxhash64(NULL) returns the SEED, not NULL — guard so a
        # gram-less doc's placeholder row can never equi-match a real gram
        tr.select(
            "doc_id",
            F.when(F.col("s").isNotNull(), F.xxhash64("s")).alias("s_h"),
        )
        .join(F.broadcast(eval_grams), "s_h", "left")
        .groupBy("doc_id")
        .agg(F.count("__hit").alias("n_hit_grams"))
        .select(
            "doc_id",
            "n_hit_grams",
            (F.col("n_hit_grams") > 0).alias("contaminated"),
        )
    )


def pack_sequences(docs: DataFrame, budget: int = 2048, n_shards: int = 8) -> DataFrame:
    """Sequence packing: assign each doc to a fixed-token-budget pack.

    Docs are streamed in deterministic (shard, doc_id) order; a doc joins
    the pack where its first token falls (``floor(cum_tokens_before /
    budget)``) — the streaming-concat packing used when an exhausted pack
    is padded/straddled rather than re-fitted (bin-packing optimality is
    not worth a global sort at 100 TB).

    Scale shape: one hash shuffle on ``shard`` then a per-shard window
    cumsum — shards are independent, so parallelism = n_shards × AQE;
    no global ordering anywhere.  Returns (doc_id, shard, pack_id,
    n_tokens, tokens_before).
    """
    base = docs.select(
        "doc_id",
        token_count("text").alias("n_tokens"),
        F.pmod(F.col("doc_id"), F.lit(n_shards)).cast("int").alias("shard"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return base.select(
        "doc_id",
        "shard",
        F.floor(
            F.coalesce(F.sum("n_tokens").over(w), F.lit(0)) / budget
        ).alias("pack_id"),
        "n_tokens",
        F.coalesce(F.sum("n_tokens").over(w), F.lit(0)).alias("tokens_before"),
    )


def resample_by_weight(docs: DataFrame, weights: dict[str, float]) -> DataFrame:
    """Weighted domain mixing: emit each doc ``weights[domain]`` times in
    expectation — ``floor(w)`` guaranteed copies plus one more for a
    deterministic ``frac(w)`` fraction of docs (Knuth multiplicative hash
    of the id, exact integer arithmetic — no RNG, replayable).

    Weights are resolved to (floor, frac·1000) integers in Python so both
    engines evaluate pure BIGINT comparisons.  Scale shape: a map-side
    CASE + explode(sequence) — zero shuffles; downweighted domains
    (w < 1) drop rows in the scan filter.
    """
    n_copies = F.lit(None).cast("long")
    for dom, wgt in sorted(weights.items()):
        whole, milli = int(wgt), round((wgt - int(wgt)) * 1000)
        extra = F.when(
            F.pmod(F.col("doc_id") * F.lit(2654435761), F.lit(1000)) < milli, 1
        ).otherwise(0)
        n_copies = F.when(F.col("source") == dom, F.lit(whole) + extra).otherwise(
            n_copies
        )
    # a domain without a weight keeps its docs once
    n_copies = F.coalesce(n_copies, F.lit(1))

    with_n = docs.select(
        "doc_id", F.col("source").alias("domain"), n_copies.alias("n_copies")
    ).filter(F.col("n_copies") >= 1)
    return with_n.select(
        "doc_id",
        "domain",
        F.explode(
            F.sequence(F.lit(1).cast("long"), F.col("n_copies").cast("long"))
        ).alias("copy_idx"),
    )


def _hex_digit(col: Column, pos: int) -> Column:
    """0-15 value of the pos-th (1-indexed) hex char — instr (Spark) /
    strpos (DuckDB) is the portable hex-digit decoder (DuckDB has no
    conv())."""
    return F.call_function("instr", F.lit(HEX), F.substring(col, pos, 1)) - 1


def shuffle_shards(docs: DataFrame, n_shards: int = 16, seed: str = "s42") -> DataFrame:
    """Deterministic global shuffle + shard assignment for training-data
    serving: sort key = md5(seed:id); shard = first-two-hex-digit bucket
    mod n_shards; position = rank of the sort key within the shard.

    Scale shape: NO global sort — the md5 prefix already distributes
    uniformly, so sharding is a map-side expression and the only shuffle
    is the per-shard window sort (shards are independent; a 1000-executor
    cluster sorts all shards in parallel, the TeraSort layout without the
    range-exchange).  Re-running with the same seed reproduces the exact
    byte order — resumable data loading.
    """
    h = F.md5(F.concat(F.lit(seed + ":"), F.col("doc_id").cast("string")))
    base = docs.select("doc_id", h.alias("h"))
    shard = F.pmod(_hex_digit(F.col("h"), 1) * 16 + _hex_digit(F.col("h"), 2), F.lit(n_shards))
    w = Window.partitionBy("shard").orderBy("sort_key", "doc_id")
    return base.select(
        "doc_id", shard.cast("int").alias("shard"), F.col("h").alias("sort_key")
    ).withColumn("pos", F.row_number().over(w))


def stratified_sample(
    docs: DataFrame, rates: dict[str, float], seed: str = "v1"
) -> DataFrame:
    """Per-stratum deterministic sampling: keep a doc iff the first 8 hex
    chars of md5(seed:id) fall below the stratum's rate threshold.
    Fixed-width lowercase hex compares lexicographically == numerically,
    so the thresholds are plain string literals both engines honor —
    seeded, replayable, and a doc kept at rate r stays kept at any
    rate ≥ r (nested samples for ablations).

    Scale shape: pure scan-side filter, zero shuffles.
    """
    h8 = F.substring(
        F.md5(F.concat(F.lit(seed + ":"), F.col("doc_id").cast("string"))), 1, 8
    )
    keep = F.lit(None).cast("boolean")
    for stratum, rate in sorted(rates.items()):
        thr = format(min(int(rate * 16**8), 16**8 - 1), "08x")
        keep = F.when(F.col("lang") == stratum, h8 < F.lit(thr)).otherwise(keep)
    # a stratum without a rate leaves ``keep`` NULL: its docs are dropped
    return docs.filter(keep)


def sample_thresholds_sql(rates: dict[str, float]) -> str:
    """The CASE expression both engines share for stratified_sample's
    oracle — built from the same Python threshold computation so the
    literals are identical by construction."""
    arms = " ".join(
        f"WHEN '{s}' THEN '{format(min(int(r * 16**8), 16**8 - 1), '08x')}'"
        for s, r in sorted(rates.items())
    )
    return f"CASE lang {arms} ELSE '00000000' END"


def source_overlap(docs: DataFrame, n: int = 3) -> DataFrame:
    """Cross-source contamination matrix: for every pair of sources, the
    number of DISTINCT word n-grams occurring in both — the "how much of
    dataset A leaked into dataset B" report a corpus curator reads before
    mixing sources.

    Scale shape: ONE corpus scan → distinct (gram-hash, source) — the
    distinct collapses each source's gram multiset map-side — then a
    postings-list pair expansion per gram (same shape as jaccard_pairs:
    groupBy gram, sorted source set, inline i<j pairs) and a tiny
    (source_a, source_b) count. No self-join of the gram table; with k
    sources the per-gram pair array is ≤ k(k-1)/2."""
    # token array materialized in its own projection (expression-reuse
    # trap), explode_outer + isNotNull (InferFiltersFromGenerate dodge)
    w = tokens("text")
    gs = (
        docs.select(F.col("source").alias("src"), w.alias("w"))
        .select("src", shingles(F.col("w"), n).alias("sh"))
        .select("src", F.explode_outer("sh").alias("s"))
        .filter(F.col("s").isNotNull())
        .select("src", F.xxhash64("s").alias("s_h"))
        .distinct()
    )
    postings = gs.groupBy("s_h").agg(F.sort_array(F.collect_set("src")).alias("srcs"))
    # one row per pair of sources
    return bounded_sort(
        sorted_pairs(
            postings,
            "srcs",
            lambda x, y: F.struct(x.alias("source_a"), y.alias("source_b")),
        )
        .groupBy(
            F.col("p.source_a").alias("source_a"),
            F.col("p.source_b").alias("source_b"),
        )
        .agg(F.count("*").alias("n_shared_grams")),
        "source_a", "source_b",
    )
