"""Text analysis operators (SURVEY.md §2.L).

Hive precedents: ``sentences`` (GenericUDFSentences), ``ngrams`` /
``context_ngrams`` (GenericUDAF{nGrams,ContextNGrams}) — the ~10 genuine
gaps in Spark's builtin surface (SURVEY.md §2.H verdict). Re-expressed here
with built-in array/higher-order functions (JVM-side, codegen'd) so they
scale without Python in the hot path; only the n-gram language model
scorer drops to a pandas UDF.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType

# Tiny demonstration stopword list (deterministic, shared with oracles).
STOPWORDS: tuple[str, ...] = ("the", "a", "of", "and", "to", "in", "is", "on")


def tokens(text: Column | str) -> Column:
    """Whitespace tokenization (corpus is single-space separated)."""
    return F.split(text, " ")


def token_count(text: Column | str) -> Column:
    return F.size(tokens(text)).cast("long")


def term_counts(docs: DataFrame, *keys: str) -> DataFrame:
    """``(*keys, term, n)``: the occurrences of each whitespace token of
    ``text`` per ``keys`` group (the whole corpus when no key is given).
    NULL text gives no token; ``split`` never yields an empty array or a
    NULL element. The explode's input is the ``split`` expression, not
    an attribute, so no InferFiltersFromGenerate size filter re-evaluates
    it, and ``term`` stays non-nullable for the callers' joins."""
    return (
        docs.select(*keys, F.explode(tokens("text")).alias("term"))
        .groupBy(*keys, "term")
        .agg(F.count("*").alias("n"))
    )


def query_term_stats(docs: DataFrame, terms: tuple[str, ...]) -> DataFrame:
    """``(doc_id, dlen, tf_0 … tf_k)`` per document from one tokenize
    pass: ``dlen`` counts its tokens and ``tf_i`` the occurrences of
    ``terms[i]``. A document with NULL text has no row.

    The frame is PERSISTED (MEMORY_AND_DISK): a ranker reads it twice,
    in its 1-row corpus rollup and in its scored pass, and without the
    persist each read re-runs scan → split → explode. The caller's
    ``pipeline_scope`` releases it."""
    from pyspark import StorageLevel

    return (
        docs.select("doc_id", F.explode(tokens("text")).alias("term"))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("dlen"),
            *[
                F.count(F.when(F.col("term") == t, True)).alias(f"tf_{i}")
                for i, t in enumerate(terms)
            ],
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )


def fingerprint(text: Column | str) -> Column:
    """Document fingerprint: md5 over the sorted distinct token set —
    canonicalizes word order + duplication (near-dup pre-key)."""
    canon = F.array_join(F.array_sort(F.array_distinct(tokens(text))), " ")
    return F.md5(canon)


def bigrams_of(w: Column) -> Column:
    """Bigram array from a token-array column. Pass a MATERIALIZED array
    attribute where possible — ``w`` is referenced thrice per element, so
    an inline ``split(...)`` gets re-evaluated per element (the repo-wide
    expression-reuse trap)."""
    grams = F.transform(
        F.sequence(F.lit(0), F.size(w) - 2),
        lambda i: F.concat(F.element_at(w, i + 1), F.lit(" "), F.element_at(w, i + 2)),
    )
    # single-token docs: sequence(0, -1) would DESCEND and element_at(w, 0)
    # aborts the job — emit an empty bigram array instead (matches the
    # DuckDB generate_series oracle behavior)
    return F.when(F.size(w) >= 2, grams).otherwise(
        F.expr("CAST(array() AS ARRAY<STRING>)")
    )


def bigrams(text: Column | str) -> Column:
    """Hive ``ngrams(sentences(...), 2, k)`` analogue: the bigram array,
    built with higher-order functions (no UDF). Prefer ``bigrams_of`` on
    a materialized token-array attribute in multi-stage pipelines."""
    return bigrams_of(tokens(text))


def top_ngrams(df: DataFrame, n_out: int = 30) -> DataFrame:
    """Corpus-level top-k bigram frequencies (Hive GenericUDAFnGrams
    parity): explode → count → top-k. Scales as a word-count."""
    # token array materialized in its own projection (expression-reuse
    # trap), then explode_outer: an inner explode would get an
    # InferFiltersFromGenerate size-filter pushed into the scan with the
    # full split-inlined bigram expression (per-element re-evaluation)
    grams = df.select(tokens("text").alias("w")).select(
        bigrams_of(F.col("w")).alias("ngrams")
    )
    return (
        grams.select(F.explode_outer("ngrams").alias("ngram"))
        .filter(F.col("ngram").isNotNull())
        .groupBy("ngram")
        .agg(F.count("*").alias("freq"))
        .orderBy(F.col("freq").desc(), F.col("ngram"))
        .limit(n_out)
    )


def tfidf_top_terms(df: DataFrame, k: int = 3) -> DataFrame:
    """Per-document top-k TF-IDF terms — the classic relevance/keyword
    operator over a corpus. tf = in-doc term count; idf = ln((N+1)/(df+1))
    with df = number of docs containing the term.

    Shape: explode → groupBy (doc, term) for tf [shuffle 1]; groupBy term
    for df [shuffle 2, vocabulary-sized]; df-table joins back broadcast
    (vocab ≪ corpus); final per-doc window rank [shuffle 3 on doc_id].
    All JVM expressions; ties broken by term for determinism.

    The tf frame is PERSISTED (MEMORY_AND_DISK) across its two consumers
    (docfreq build side, scored probe side) — without it Spark re-executes
    the scan→explode→count lineage per consumer, reading the corpus twice
    (same fix as the MinHash base frame; the persist sits in the SQL
    CacheManager and is released by the caller's ``pipeline_scope`` or
    an explicit ``unpersist``)."""
    from pyspark import StorageLevel
    from pyspark.sql import Window

    tf = (
        term_counts(df, "doc_id")
        .withColumnRenamed("n", "tf")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    docfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    n_docs = df.count()  # one scalar; the lit keeps idf a pure expression
    # vocabulary-sized: usually broadcastable, but noisy web-scale corpora
    # can blow the vocab past the threshold — size-conditional hint
    from hive_release_spark.operators.hints import maybe_broadcast

    scored = tf.join(maybe_broadcast(docfreq), "term").select(
        "doc_id",
        "term",
        F.round(
            F.col("tf") * F.log((F.lit(n_docs) + 1.0) / (F.col("df") + 1.0)), 6
        ).alias("tfidf"),
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("term"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("doc_id", "term", "tfidf", "rk")
    )


# Marker-token sets for the rule-based language guesser. On this synthetic
# corpus (same vocab for every lang) it is a *demonstration* of the operator
# shape; on real text the markers would be per-language function words.
_LANG_MARKERS: tuple[tuple[str, tuple[str, ...]], ...] = (
    ("en", ("the", "value", "fast")),
    ("de", ("der", "und", "nicht")),
    ("fr", ("le", "et", "les")),
    ("es", ("el", "que", "los")),
)


def langid_rules(text: Column | str) -> Column:
    """Rule-chain language ID: first language whose marker tokens appear.
    SQL-expressible (oracle-parity); see ``langid_ngram`` for the scorer."""
    toks = tokens(text)
    expr = F.lit("unknown")
    for lang, markers in reversed(_LANG_MARKERS):
        hit = F.size(F.filter(toks, lambda t: t.isin(*markers))) > 0
        expr = F.when(hit, lang).otherwise(expr)
    return expr


# NOTE: a DataType instance (not a DDL string) keeps this importable
# before any SparkSession exists.
@pandas_udf(StringType())
def langid_ngram(texts: pd.Series) -> pd.Series:
    """Character-n-gram frequency language scorer (Arrow-batched pandas
    UDF — the slow-path escape hatch, SURVEY.md §2.I). Deterministic:
    fixed profile table, no RNG. Demonstration profiles."""
    profiles = {
        "en": {"th", "he", "er", "va", "ue"},
        "de": {"de", "un", "ch", "ei", "ie"},
        "fr": {"le", "es", "en", "qu", "re"},
        "es": {"el", "os", "la", "de", "ue"},
    }

    def score(t: str) -> str:
        if t is None:
            return None  # NULL in, NULL out — standard UDF semantics
        grams = {t[i : i + 2] for i in range(len(t) - 1)}
        best = max(
            ((lang, len(grams & prof)) for lang, prof in profiles.items()),
            key=lambda kv: (kv[1], kv[0]),
        )
        return best[0] if best[1] > 0 else "unknown"

    return texts.map(score)


def repetition_features(df: DataFrame) -> DataFrame:
    """Gopher/C4-style repetition quality signals per document:
    ``top_bigram_share`` (fraction of bigram occurrences taken by the
    most frequent bigram) and ``distinct_token_ratio``. Docs with fewer
    than two tokens have a NULL share (no bigrams), mirroring a
    LEFT-joined SQL formulation.

    Shape: ONE corpus scan — the token ratio (a scan-side expression)
    rides the gram explode instead of a second scan + join-back (branch
    reuse doesn't dedupe lineage; the join form re-read the corpus for
    the ratio side). explode_outer keeps a NULL-gram row for docs with
    <2 tokens, so they survive both aggs with a NULL share — identical
    to the LEFT-joined SQL. Then (doc, gram) count [shuffle 1] → per-doc
    max/sum [shuffle 2, partial-agg combined]; the constant-per-doc
    ratio is carried with min(). Ratios are exact rational divisions
    (int/int), bit-identical across engines — left unrounded.
    """
    base = df.select("doc_id", tokens("text").alias("w"))
    feat = base.select(
        "doc_id",
        # explicit NULL guard: under ANSI-off sessions size(NULL) is -1
        # and a NULL-text doc's ratio would come out -1/-1 = 1.0; the
        # ratio for a NULL token array is NULL in both configs
        F.when(
            F.col("w").isNotNull(),
            F.size(F.array_distinct("w")) / F.size("w"),
        ).alias("r"),
        bigrams_of(F.col("w")).alias("g"),
    )
    gram = F.col("gram")
    return (
        feat.select("doc_id", "r", F.explode_outer("g").alias("gram"))
        .groupBy("doc_id", "gram")
        .agg(F.count("*").alias("c"), F.min("r").alias("r"))
        .groupBy("doc_id")
        .agg(
            F.min("r").alias("distinct_token_ratio"),
            # the NULL-gram placeholder only ever appears alone (empty
            # bigram array), so excluding it leaves NULL max/sum → NULL share
            (
                F.max(F.when(gram.isNotNull(), F.col("c")))
                / F.sum(F.when(gram.isNotNull(), F.col("c")))
            ).alias("top_bigram_share"),
        )
        .withColumn(
            "is_repetitive",
            (F.col("top_bigram_share") > 0.2) | (F.col("distinct_token_ratio") < 0.3),
        )
        .select("doc_id", "distinct_token_ratio", "top_bigram_share", "is_repetitive")
    )


PII_EMAIL = "[a-z0-9]+@[a-z0-9.]+"
PII_PHONE = "\\+1-555-[0-9]{4}"


def pii_scrub(df: DataFrame) -> DataFrame:
    """PII redaction pass: replace email / phone matches with typed
    placeholders and count redactions per row. Pure JVM regex
    (regexp_extract_all + regexp_replace) — no UDF; patterns are kept to
    the POSIX-class subset whose semantics agree across engines."""
    s = F.col("text")
    return df.withColumns(
        {
            "n_email": F.size(F.regexp_extract_all(s, F.lit(PII_EMAIL), F.lit(0))),
            "n_phone": F.size(F.regexp_extract_all(s, F.lit(PII_PHONE), F.lit(0))),
            "scrubbed": F.regexp_replace(
                F.regexp_replace(s, PII_EMAIL, "<EMAIL>"), PII_PHONE, "<PHONE>"
            ),
        }
    )


# Spark's mask() walks UTF-16 chars, so two codepoint classes EVADE it
# (r11/r12 multibyte-axis findings, canary-pinned in
# tests/test_empty_input.py):
#   * astral-plane letters/digits — surrogate halves are not letters
#     to a char walk ("fancy unicode" spoofed text);
#   * the 12 BMP codepoints assigned in Unicode 14+ that Java 17's
#     Unicode-13 tables treat as unassigned (exhaustive r12 sweep).
# Java regex, by contrast, IS codepoint-aware, so the measurement can
# ride plain JVM-side regexp_count — no UDF, pushes to the scan.
_ASTRAL_MASKABLE = r"[\p{Lu}\p{Ll}\p{Nd}&&[\x{10000}-\x{10FFFF}]]"
_UNICODE_SKEW = (
    r"[\x{2C2F}\x{2C5F}\x{A7C0}\x{A7C1}\x{A7D0}\x{A7D1}"
    r"\x{A7D3}\x{A7D5}-\x{A7D9}]"
)


def mask_evasion_profile(df: DataFrame) -> DataFrame:
    """Corpus-level PII-mask evasion measurement (VERDICT r11 #8): how
    much of the corpus carries codepoints that Spark's ``mask()``
    would silently pass through. A 100 TB PII pipeline wants this as
    a standing data-quality number BEFORE trusting a mask-based
    redaction replay — spoofed "fancy text" (astral mathematical
    alphanumerics) and Unicode-version skew both defeat the mask
    while looking like redacted output to a human.

    One scan-side aggregate, pure JVM regex (codepoint-aware, unlike
    the mask's own UTF-16 char walk) — no UDF, no shuffle beyond the
    single partial/final aggregation."""
    s = F.col("text")
    astral = F.regexp_count(s, F.lit(_ASTRAL_MASKABLE))
    skew = F.regexp_count(s, F.lit(_UNICODE_SKEW))
    return df.select(
        F.count("*").alias("n_docs"),
        F.sum((astral > 0).cast("long")).alias("n_docs_astral_evading"),
        F.sum(astral.cast("long")).alias("n_astral_evading_chars"),
        F.sum((skew > 0).cast("long")).alias("n_docs_unicode_skew"),
        F.sum(skew.cast("long")).alias("n_skew_chars"),
        F.sum(((astral > 0) | (skew > 0)).cast("long")).alias(
            "n_docs_mask_unsafe"
        ),
    )


def vocab_coverage(df: DataFrame, cutoff: float = 0.999) -> DataFrame:
    """Tokenizer vocabulary construction: keep the most frequent terms
    until they cover ``cutoff`` of total token mass (the frequency-based
    vocab cut every word-level tokenizer starts from). A term is kept
    while the mass STRICTLY BEFORE it (freq-desc, term tie-break) is
    under the cutoff — so the term crossing the boundary is included.

    Scale shape: explode → one partial-agged term count [vocab-sized
    output ≪ corpus] → global window cumsum over the VOCAB frame only
    (the single-partition exchange carries (term, freq) pairs, never the
    corpus — same justification as the TPC-H scalar-threshold windows).
    Returns (term, freq, rank)."""
    from pyspark.sql import Window

    counts = term_counts(df).withColumnRenamed("n", "freq")
    order = Window.orderBy(F.col("freq").desc(), "term")
    before = (
        F.coalesce(
            F.sum("freq").over(order.rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0),
        )
    )
    total = F.sum("freq").over(Window.partitionBy())
    return (
        counts.select(
            "term",
            "freq",
            F.row_number().over(order).alias("rank"),
            (before / total).alias("before_share"),
        )
        .filter(F.col("before_share") < cutoff)
        .select("term", "freq", "rank")
        .orderBy("rank")
    )


def encode_word_ids(docs: DataFrame, vocab: DataFrame) -> DataFrame:
    """Corpus → token-id sequences against a (term, rank) vocabulary —
    the materialization step between vocabulary construction and
    sequence packing. Out-of-vocab tokens encode as 0 (UNK); ids are the
    vocab ranks (1-based), so the vocab frame from ``vocab_coverage``
    plugs in directly.

    Scale shape: ONE corpus scan → posexplode → broadcast LEFT join
    against the vocab (size-conditional hint; a 100k-term vocab is KBs)
    → one partial-agged doc_id groupBy re-assembling the sequence
    (sort_array over (pos, id) structs restores token order under any
    partitioning). All JVM expressions — the encode itself never leaves
    codegen."""
    from hive_release_spark.operators.hints import maybe_broadcast

    v = vocab.select(F.col("term"), F.col("rank").alias("tok_id"))
    toks = (
        docs.select("doc_id", tokens("text").alias("w"))
        .select("doc_id", F.posexplode_outer("w").alias("pos", "term"))
        .filter(F.col("term").isNotNull())
    )
    return (
        toks.join(maybe_broadcast(v), "term", "left")
        .select(
            "doc_id",
            F.struct("pos", F.coalesce("tok_id", F.lit(0)).alias("id")).alias("pi"),
        )
        .groupBy("doc_id")
        .agg(
            F.transform(
                F.sort_array(F.collect_list("pi")), lambda x: x["id"].cast("int")
            ).alias("ids"),
        )
        .select(
            "doc_id",
            "ids",
            F.size("ids").alias("n_tokens"),
            F.size(F.filter("ids", lambda i: i == 0)).alias("n_unk"),
        )
    )


def lm_bigram_score(docs: DataFrame) -> DataFrame:
    """CCNet-style language-model quality score: train a bigram LM on
    the corpus itself (one pass), then score every document by its mean
    add-one-smoothed bigram log-probability — the filter that separates
    fluent text from boilerplate/gibberish in pretraining pipelines
    (low score = improbable token transitions).

    P(w2|w1) = (c(w1,w2) + 1) / (h(w1) + V), where c is the bigram
    count, h(w1) the history count (bigrams starting with w1), and V the
    corpus vocabulary size. Deterministic arithmetic end-to-end — no RNG,
    no float-order dependence beyond the per-doc mean — so the whole
    train+score pipeline is DuckDB-replayable.

    Scale shape: the bigram frame is built ONCE and PERSISTED
    (MEMORY_AND_DISK) across its three consumers — bigram counts,
    history counts, and the scoring probe — without which Spark
    re-executes the scan→split→explode lineage per consumer and reads
    the corpus 4× (the tfidf/minhash lesson; plan-pinned in
    tests/test_plans.py). The LM is two hash aggregations on
    (w1,w2)/(w1); scoring joins the bigram stream back to the LM on its
    natural keys (shuffle join — the LM is corpus-vocabulary-sized, NOT
    broadcastable at 100 TB) and reduces per doc_id. The vocabulary
    count is the one extra corpus pass (it must see single-token docs
    the bigram stream drops); V rides as a 1-row broadcast attach.
    """
    from pyspark import StorageLevel

    big = (
        docs.select("doc_id", tokens("text").alias("w"))
        .filter(F.size("w") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.size("w") - 2),
                    lambda i: F.struct(
                        F.element_at(F.col("w"), i + 1).alias("w1"),
                        F.element_at(F.col("w"), i + 2).alias("w2"),
                    ),
                )
            ).alias("b"),
        )
        .select("doc_id", F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    cb = big.groupBy("w1", "w2").agg(F.count("*").alias("cb"))
    ch = big.groupBy("w1").agg(F.count("*").alias("ch"))
    vocab_n = (
        docs.select(F.explode(tokens("text")).alias("t"))
        .agg(F.countDistinct("t").alias("v"))
    )
    return (
        big.join(cb, ["w1", "w2"])
        .join(ch, ["w1"])
        .crossJoin(F.broadcast(vocab_n))
        .withColumn("lp", F.log((F.col("cb") + 1) / (F.col("ch") + F.col("v"))))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.round(F.avg("lp"), 6).alias("avg_logprob"),
        )
    )
