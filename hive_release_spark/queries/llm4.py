"""Corpus-assembly pipeline queries (SURVEY.md §2.L, round 4 of coverage):
benchmark decontamination, sequence packing, weighted domain mixing,
deterministic shuffle-sharding, and stratified sampling — the stages
between a cleaned corpus and the tokenizer at 100 TB.

Every query here is oracle-gated: the determinism primitives (md5 hex,
Knuth multiplicative hash mod 1000, integer cumsums) evaluate identically
in Spark and DuckDB by construction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from hive_release_spark.catalog import load_table
from hive_release_spark.functions.numeric import half_up
from hive_release_spark.llm import dedup, pipeline, text
from hive_release_spark.operators.topk import bounded_sort
from hive_release_spark.queries.analytics3 import _md5_u32
from hive_release_spark.queries.registry import register

# DuckDB-side md5 bucket of a token (matches the Spark conv(md5) % 64
# expression in sample_importance_dsir exactly)
_MD5_BUCKET = f"({_md5_u32('term')} % 64)"

# Shared fixture knobs (embedded into both engines' plans).
_DECON_N = 3  # production runs 8-13 grams; the synthetic corpus is random
# text, so 3-grams are the smallest unit with cross-doc collisions (the
# fixture's contamination signal) — the plan shape is n-independent.
_PACK_BUDGET = 512
_PACK_SHARDS = 8
_MIX_WEIGHTS = {"src0": 2.5, "src1": 0.25, "src2": 1.5, "src3": 0.0}
_SHUF_SHARDS = 16
_SAMPLE_RATES = {"en": 0.5, "de": 0.25, "fr": 1.0, "zh": 0.125}


@register(
    "decontaminate_ngram",
    oracle=f"""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    grams AS (SELECT doc_id,
                     unnest(list_distinct(list_transform(
                         generate_series(1, len(w)-{_DECON_N}+1),
                         i -> array_to_string(w[i:i+{_DECON_N}-1], ' ')))) AS g
              FROM toks WHERE len(w) >= {_DECON_N}),
    ev AS (SELECT DISTINCT g FROM grams WHERE doc_id % 41 = 0),
    hits AS (SELECT t.doc_id, count(DISTINCT t.g) AS n_hit_grams
             FROM grams t JOIN ev USING (g)
             WHERE t.doc_id % 41 <> 0 GROUP BY t.doc_id)
    SELECT d.doc_id,
           CAST(coalesce(h.n_hit_grams, 0) AS BIGINT) AS n_hit_grams,
           coalesce(h.n_hit_grams, 0) > 0 AS contaminated
    FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
    WHERE d.doc_id % 41 <> 0
    ORDER BY d.doc_id
    """,
)
def decontaminate_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (GPT-3/Llama n-gram protocol): the eval
    slice (doc_id % 41 = 0 here; a real pipeline reads the benchmark
    suites) collapses to a broadcast gram-hash set; training docs sharing
    any gram are flagged with their hit count. The 100 TB side never
    shuffles — map-side broadcast join, then one groupBy on the tiny hit
    set."""
    docs = load_table(spark, sf_dir, "documents")
    eval_df = docs.filter(F.col("doc_id") % 41 == 0)
    train = docs.filter(F.col("doc_id") % 41 != 0)
    return pipeline.decontaminate(train, eval_df, n=_DECON_N).orderBy("doc_id")


@register(
    "pack_sequences",
    oracle=f"""
    WITH base AS (SELECT doc_id,
                         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
                         CAST(doc_id % {_PACK_SHARDS} AS INTEGER) AS shard
                  FROM documents)
    SELECT doc_id, shard,
           CAST(floor(coalesce(sum(n_tokens) OVER w, 0) / {_PACK_BUDGET}) AS BIGINT)
               AS pack_id,
           n_tokens,
           CAST(coalesce(sum(n_tokens) OVER w, 0) AS BIGINT) AS tokens_before
    FROM base
    WINDOW w AS (PARTITION BY shard ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    ORDER BY doc_id
    """,
)
def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing into {_PACK_BUDGET}-token packs, {_PACK_SHARDS}
    independent shards: streaming-concat assignment (a doc joins the pack
    where its first token lands). One shard shuffle + per-shard window
    cumsum — no global sort."""
    docs = load_table(spark, sf_dir, "documents")
    return pipeline.pack_sequences(
        docs, budget=_PACK_BUDGET, n_shards=_PACK_SHARDS
    ).orderBy("doc_id")


@register(
    "domain_mix_resample",
    oracle="""
    WITH n AS (
      SELECT doc_id, source AS domain,
             CASE source
               WHEN 'src0' THEN 2 + CASE WHEN (doc_id * 2654435761) % 1000 < 500 THEN 1 ELSE 0 END
               WHEN 'src1' THEN 0 + CASE WHEN (doc_id * 2654435761) % 1000 < 250 THEN 1 ELSE 0 END
               WHEN 'src2' THEN 1 + CASE WHEN (doc_id * 2654435761) % 1000 < 500 THEN 1 ELSE 0 END
               WHEN 'src3' THEN 0
               ELSE 1
             END AS n_copies
      FROM documents)
    SELECT doc_id, domain, CAST(unnest(generate_series(1, n_copies)) AS BIGINT) AS copy_idx
    FROM n WHERE n_copies >= 1
    ORDER BY doc_id, copy_idx
    """,
)
def domain_mix_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted domain mixing: src0 upsampled 2.5× (2 copies + a
    deterministic half get a 3rd), src1 kept at 25%, src2 at 1.5×, src3
    dropped, everything else passed through. Fractions come from a Knuth
    multiplicative hash of doc_id — exact integer arithmetic, replayable,
    zero shuffles (map-side CASE + explode)."""
    docs = load_table(spark, sf_dir, "documents")
    return pipeline.resample_by_weight(docs, _MIX_WEIGHTS).orderBy("doc_id", "copy_idx")


@register(
    "shuffle_shard_assign",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, md5('s42:' || CAST(doc_id AS VARCHAR)) AS h FROM documents),
    sharded AS (
      SELECT doc_id, h,
             CAST(((strpos('0123456789abcdef', substr(h, 1, 1)) - 1) * 16
                 + (strpos('0123456789abcdef', substr(h, 2, 1)) - 1))
                 % {_SHUF_SHARDS} AS INTEGER) AS shard
      FROM base)
    SELECT doc_id, shard, h AS sort_key,
           CAST(row_number() OVER (PARTITION BY shard ORDER BY h, doc_id) AS INTEGER)
               AS pos
    FROM sharded
    ORDER BY doc_id
    """,
)
def shuffle_shard_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle for training-data serving: md5 sort
    key, hex-prefix shard (map-side, no global sort), per-shard rank.
    Same seed → byte-identical order (resumable loaders). The only
    shuffle is the per-shard window sort."""
    docs = load_table(spark, sf_dir, "documents")
    return pipeline.shuffle_shards(docs, n_shards=_SHUF_SHARDS, seed="s42").orderBy(
        "doc_id"
    )


@register(
    "sample_stratified",
    oracle=f"""
    SELECT doc_id, lang, source
    FROM documents
    WHERE substr(md5('v1:' || CAST(doc_id AS VARCHAR)), 1, 8)
          < {pipeline.sample_thresholds_sql(_SAMPLE_RATES)}
    ORDER BY doc_id
    """,
)
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified deterministic sampling: per-language keep rates (en 50%,
    de 25%, fr 100%, zh 12.5%) via md5-hex threshold comparison — seeded,
    nested (a doc kept at rate r stays kept at any higher rate), and a
    pure scan-side filter: zero shuffles at any scale."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        pipeline.stratified_sample(docs, _SAMPLE_RATES, seed="v1")
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")
    )


@register(
    "pipeline_neardedup_corpus",
    oracle="""
    WITH RECURSIVE pairs AS MATERIALIZED (
        WITH sh AS (
          SELECT doc_id, list_distinct(list_transform(generate_series(1, len(w)-2),
                 i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingles
          FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
        ),
        ex AS (SELECT doc_id, len(shingles) AS n_sh, unnest(shingles) AS s FROM sh)
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
        HAVING count(*) * 1.0 / (any_value(a.n_sh) + any_value(b.n_sh) - count(*)) >= 0.5
    ),
    edges AS MATERIALIZED (
      SELECT doc_a AS a, doc_b AS b FROM pairs
      UNION
      SELECT doc_b, doc_a FROM pairs
    ),
    reach(a, b) AS (
      SELECT a, a FROM edges
      UNION
      SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
    ),
    losers AS (
      SELECT a AS doc_id FROM reach GROUP BY a HAVING min(b) <> a
    )
    SELECT d.doc_id, d.lang, d.source,
           len(string_split(d.text, ' ')) AS n_tokens
    FROM documents d
    WHERE d.doc_id NOT IN (SELECT doc_id FROM losers)
    ORDER BY d.doc_id
    """,
)
def pipeline_neardedup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END near-dedup: Jaccard >= 0.5 pair graph -> connected
    components -> drop every cluster member except the min-id survivor ->
    project the training corpus. The full answer to "remove near-dups
    from 100 TB", not just the pair list.

    Scale shape: the pair/label path reduces the corpus to skinny frames
    immediately (postings-list pair emission, then min-label rounds over
    nodes that HAVE a near-dup only); the final pass re-scans the corpus
    once and anti-joins the loser set — losers are only near-dup cluster
    members, usually orders of magnitude smaller than the corpus, so the
    size-conditional hint broadcasts them (and degrades to a shuffled
    anti join on a pathologically duplicate-heavy corpus). Two corpus
    scans total is the floor for "global graph, then filter" without
    persisting 100 TB.

    Cache lifetime: the pair-graph persists (shingle/prefix bases) are
    consumed entirely by the connected-components iteration, which
    runs its actions at CALL time and hands back a localCheckpoint'ed
    label frame — so the whole graph phase runs inside
    ``pipeline_scope`` (VERDICT r8 #6: first production adoption) and
    every call-time persist is released before this function returns.
    The returned frame references only the corpus scan and the
    checkpointed loser set, so nothing the scope frees is recomputed
    downstream; executor storage is empty again at return (pinned by
    tests/test_cache_scope.py::test_neardedup_entry_is_cache_clean)."""
    from hive_release_spark.llm import dedup as dedup_mod
    from hive_release_spark.llm import text as text_mod
    from hive_release_spark.operators.cache import pipeline_scope
    from hive_release_spark.operators.hints import maybe_broadcast

    docs = load_table(spark, sf_dir, "documents")
    with pipeline_scope():
        pairs = dedup_mod.jaccard_pairs(docs, n=3, threshold=0.5)
        # connected_components iterates at call time and returns a
        # frame rooted at its final localCheckpoint — the loser set is
        # already severed from the pair-graph lineage the scope is
        # about to release
        losers = (
            dedup_mod.connected_components(pairs)
            .filter(~F.col("is_survivor"))
            .select("doc_id")
        )
    return (
        docs.join(maybe_broadcast(losers), "doc_id", "left_anti")
        .select(
            "doc_id",
            "lang",
            "source",
            text_mod.token_count("text").alias("n_tokens"),
        )
        .orderBy("doc_id")
    )


@register(
    "vocab_coverage_cutoff",
    oracle="""
    WITH tf AS (SELECT unnest(string_split(text, ' ')) AS term FROM documents),
    counts AS (SELECT term, count(*) AS freq FROM tf GROUP BY term),
    ranked AS (
      SELECT term, CAST(freq AS BIGINT) AS freq,
             CAST(row_number() OVER (ORDER BY freq DESC, term) AS INTEGER) AS rank,
             coalesce(sum(freq) OVER (ORDER BY freq DESC, term
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 AS before_mass,
             sum(freq) OVER () AS total
      FROM counts)
    SELECT term, freq, rank
    FROM ranked
    WHERE before_mass * 1.0 / total < 0.9
    ORDER BY rank
    """,
)
def vocab_coverage_cutoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer vocabulary cut: most-frequent terms covering 90% of
    token mass (strictly-before semantics include the boundary term).
    One corpus scan → partial-agged term count → global window cumsum
    over the VOCAB frame only (see llm/text.vocab_coverage)."""
    from hive_release_spark.llm.text import vocab_coverage

    docs = load_table(spark, sf_dir, "documents")
    return vocab_coverage(docs, cutoff=0.9)


@register(
    "source_overlap_matrix",
    oracle="""
    WITH toks AS (SELECT source, string_split(text, ' ') AS w FROM documents),
    grams AS (SELECT DISTINCT source,
                     unnest(list_distinct(list_transform(
                         generate_series(1, len(w)-2),
                         i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS g
              FROM toks WHERE len(w) >= 3)
    SELECT a.source AS source_a, b.source AS source_b, count(*) AS n_shared_grams
    FROM grams a JOIN grams b ON a.g = b.g AND a.source < b.source
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source contamination report: distinct shared 3-grams per
    source pair — read before mixing datasets. Postings-list pair
    expansion (no gram-table self-join); the SQL self-join lives in the
    oracle. See llm/pipeline.source_overlap."""
    docs = load_table(spark, sf_dir, "documents")
    return pipeline.source_overlap(docs, n=3)


@register(
    "tokenize_word_ids",
    oracle="""
    WITH tf AS (SELECT unnest(string_split(text, ' ')) AS term FROM documents),
    counts AS (SELECT term, count(*) AS freq FROM tf GROUP BY term),
    ranked AS (
      SELECT term,
             CAST(row_number() OVER (ORDER BY freq DESC, term) AS INTEGER) AS rank,
             coalesce(sum(freq) OVER (ORDER BY freq DESC, term
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 AS before_mass,
             sum(freq) OVER () AS total
      FROM counts),
    vocab AS (SELECT term, rank FROM ranked WHERE before_mass * 1.0 / total < 0.9),
    toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    pos AS (SELECT doc_id, i AS pos, w[i] AS term
            FROM toks, unnest(generate_series(1, len(w))) AS t(i)),
    enc AS (SELECT p.doc_id, p.pos, CAST(coalesce(v.rank, 0) AS INTEGER) AS id
            FROM pos p LEFT JOIN vocab v ON p.term = v.term)
    SELECT doc_id,
           array_to_string(array_agg(id ORDER BY pos), ' ') AS ids_str,
           CAST(count(*) AS INTEGER) AS n_tokens,
           CAST(count(*) FILTER (id = 0) AS INTEGER) AS n_unk
    FROM enc
    GROUP BY doc_id
    ORDER BY doc_id
    """,
)
def tokenize_word_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus → token-id sequences against the 90%-coverage vocabulary
    (vocab ranks as ids, 0 = UNK) — the step between vocab construction
    and sequence packing. Broadcast vocab join, one doc_id groupBy; see
    llm/text.encode_word_ids.

    The sequence is emitted as ``ids_str`` (space-joined) rather than a
    raw ARRAY<INT>: the driver's pandas canonicalizer sorts over ALL
    output columns and list-valued columns are unhashable (the r3 red
    row's TypeError). The array-native form stays available via
    encode_word_ids directly and is pinned by tests/test_llm4.py."""
    from hive_release_spark.llm.text import encode_word_ids, vocab_coverage

    docs = load_table(spark, sf_dir, "documents")
    vocab = vocab_coverage(docs, cutoff=0.9)
    return (
        encode_word_ids(docs, vocab)
        .select(
            "doc_id",
            F.concat_ws(" ", F.col("ids")).alias("ids_str"),
            "n_tokens",
            "n_unk",
        )
        .orderBy("doc_id")
    )


@register(
    "pipeline_corpus_build",
    oracle="""
    WITH base AS (
      SELECT doc_id, lang, source,
             trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
                                 ' +', ' ', 'g')) AS norm
      FROM documents),
    feat AS (SELECT doc_id, lang, source, norm,
                    len(string_split(norm, ' ')) AS n_tok, length(norm) AS n_len
             FROM base),
    q AS (SELECT * FROM feat WHERE n_tok >= 10 AND n_len >= 50),
    -- EXACT kernel mirror (r11 duplicate axis, sharpened TWICE by the
    -- in-round reviews): the survivor is the min STRUCT over the
    -- QUALIFIED rows of each md5 group — one row per distinct
    -- content, attributes taken from that same row. A join-back by
    -- doc_id (even DISTINCT'd) re-attaches every attribute variant
    -- the survivor id carries; and a naive field-order struct min is
    -- NOT engine-identical either — DuckDB orders NULL struct fields
    -- NULLS-LAST where Spark orders NULLS-FIRST — so the comparison
    -- is decided entirely by the non-NULL (cmp_id, tb) prefix the
    -- kernel builds the same way (NULL id below every real id; md5
    -- of the attribute tuple with explicit NULL markers).
    surv AS (SELECT min({'cmp_id': coalesce(doc_id,
                             -9223372036854775807 - 1),
                         'tb': md5(coalesce(lang, chr(1)) || chr(2) ||
                                   coalesce(source, chr(1)) || chr(2) ||
                                   coalesce(CAST(n_tok AS VARCHAR),
                                            chr(1))),
                         'lang': lang, 'source': source,
                         'n_tok': n_tok}) AS s
             FROM q GROUP BY md5(norm)),
    kept AS (SELECT s['lang'] AS lang, s['source'] AS source,
                    s['n_tok'] AS n_tok
             FROM surv),
    counts AS (SELECT lang, source, count(*) AS docs_in,
                      count(CASE WHEN n_tok >= 10 AND n_len >= 50 THEN 1 END) AS docs_q
               FROM feat GROUP BY 1, 2),
    k AS (SELECT lang, source, count(*) AS docs_kept,
                 CAST(sum(n_tok) AS BIGINT) AS tokens_kept
          FROM kept GROUP BY 1, 2)
    SELECT c.lang, c.source, c.docs_in, c.docs_q,
           coalesce(k.docs_kept, CAST(0 AS BIGINT)) AS docs_kept,
           coalesce(k.tokens_kept, CAST(0 AS BIGINT)) AS tokens_kept
    FROM counts c LEFT JOIN k USING (lang, source)
    ORDER BY lang, source
    """,
)
def pipeline_corpus_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship corpus-build chain — normalize → quality gate → exact
    dedup → per-(lang, source) yield report, the shape of a real
    pretraining-data run, fully oracle-replayed end to end.

    Scale shape: ONE corpus scan computes (norm, token/char features) and
    is PERSISTED across its two consumers (yield counts; the dedup leg).
    The dedup survivor rides the md5 groupBy as min(struct(doc_id, lang,
    source, n_tok)) — the pipeline_dedup_quality trick — so there is no
    join-back to the corpus; everything after the persist touches only
    skinny aggregate frames, and the final count/kept frames join on the
    tiny (lang, source) key space (broadcast).

    Cache lifecycle (VERDICT r9 #5; the r10 checkpoint shape KEPT
    after the r11 price-or-revert A/B — VERDICT r10 #3): the whole
    chain runs inside ``pipeline_scope`` and the final
    (lang, source)-cardinality report is EAGERLY localCheckpoint'ed
    before the scope closes — the one action the entry ever needs runs
    while the shared scan is still cached (both consumers hit it), and
    executor cache is deterministically empty at return. The r11
    adjudication (full numbers in SCALE.md): an interleaved min-of-5
    A/B of the r9 leaky-persist shape, this shape, and a
    collect+createDataFrame restructure measured 0.83 / 0.83 / 1.15 s
    at sf0.1 — the checkpoint costs nothing measurable against the r9
    shape on a controlled box (the 0.44 → 1.1 s artifact delta was
    session state, not the checkpoint), and the LocalRelation
    alternative is strictly worse (PySpark local relations pay a slow
    driver-collect path). Without the eager materialization the
    scope's exit-unpersist would make the persist useless: the
    caller's collect would re-run the scan twice."""
    from pyspark import StorageLevel

    from hive_release_spark.operators.cache import pipeline_scope
    from hive_release_spark.operators.hints import maybe_broadcast

    docs = load_table(spark, sf_dir, "documents")
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower("text"), "[^a-z0-9 ]", " "), " +", " "
        )
    )
    with pipeline_scope():
        feat = docs.select(
            "doc_id",
            "lang",
            "source",
            norm.alias("norm"),
        ).select(
            "doc_id",
            "lang",
            "source",
            "norm",
            F.size(text.tokens("norm")).alias("n_tok"),
            F.length("norm").alias("n_len"),
        ).persist(StorageLevel.MEMORY_AND_DISK)
        qual = (F.col("n_tok") >= 10) & (F.col("n_len") >= 50)
        # Survivor pick = min struct, decided ENTIRELY by a non-NULL
        # compare prefix (r11 second hygiene pass): struct comparison
        # orders NULL fields NULLS-FIRST in Spark but NULLS-LAST in
        # DuckDB, so the tie-break must never consult a nullable
        # field. cmp_id coalesces a NULL doc_id below every real id;
        # tb hashes the attribute tuple with explicit NULL markers
        # (concat_ws would erase the NULL/''-distinction; \x01 marker
        # and \x02 separator, not NUL — DuckDB VARCHAR cannot hold a
        # NUL byte and the two engines' md5 inputs must be
        # byte-identical). The raw fields ride along for the report.
        cmp_id = F.coalesce(F.col("doc_id"), F.lit(-(2**63)))
        tb = F.md5(
            F.concat(
                F.coalesce(F.col("lang"), F.lit("\x01")),
                F.lit("\x02"),
                F.coalesce(F.col("source"), F.lit("\x01")),
                F.lit("\x02"),
                F.coalesce(F.col("n_tok").cast("string"), F.lit("\x01")),
            )
        )
        kept = (
            feat.filter(qual)
            .groupBy(F.md5("norm"))
            .agg(
                F.min(
                    F.struct(
                        cmp_id.alias("cmp_id"),
                        tb.alias("tb"),
                        "lang",
                        "source",
                        "n_tok",
                    )
                ).alias("s")
            )
            .select(F.col("s.lang").alias("lang"), F.col("s.source").alias("source"), F.col("s.n_tok").alias("n_tok"))
            .groupBy("lang", "source")
            .agg(
                F.count("*").alias("docs_kept"),
                F.sum("n_tok").cast("long").alias("tokens_kept"),
            )
        )
        counts = feat.groupBy("lang", "source").agg(
            F.count("*").alias("docs_in"),
            F.count(F.when(qual, 1)).alias("docs_q"),
        )
        report = counts.join(maybe_broadcast(kept), ["lang", "source"], "left").select(
            "lang",
            "source",
            "docs_in",
            "docs_q",
            F.coalesce("docs_kept", F.lit(0).cast("long")).alias("docs_kept"),
            F.coalesce("tokens_kept", F.lit(0).cast("long")).alias("tokens_kept"),
        )
        # one row per (lang, source). Eager: run the one job NOW, while
        # feat is cached. Kept after the r11 A/B (SCALE.md
        # §pipeline_corpus_build): interleaved min-of-5 shows this shape
        # EQUAL to the r9 leaky-persist shape (0.83s vs 0.83s min at
        # sf0.1), and the collect+createDataFrame alternative 0.3s WORSE
        # (PySpark local relations pay a slow driver collect path).
        out = bounded_sort(report, "lang", "source").localCheckpoint(eager=True)
    return out


@register(
    "sample_reservoir_group",
    oracle="""
    SELECT doc_id, lang, rk FROM (
      SELECT doc_id, lang,
             CAST(row_number() OVER (PARTITION BY lang
                 ORDER BY md5('rsv1:' || CAST(doc_id AS VARCHAR)), doc_id)
                 AS INTEGER) AS rk
      FROM documents)
    WHERE rk <= 5
    ORDER BY lang, rk
    """,
)
def sample_reservoir_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-group reservoir sample (k=5 docs per language)
    — the eval-set construction primitive: a uniform-without-replacement
    draw that is seeded and replayable across engines/runs, unlike
    engine RNG reservoirs. The md5 of (seed, doc_id) is the uniform
    variate; rank-within-group ≤ k is the reservoir. One window
    exchange on the group key; WindowGroupLimit pushes the top-k
    map-side so the shuffle carries ≤ k rows per group per partition."""
    docs = load_table(spark, sf_dir, "documents")
    w = W.partitionBy("lang").orderBy(
        F.md5(F.concat(F.lit("rsv1:"), F.col("doc_id").cast("string"))), "doc_id"
    )
    return (
        docs.select("doc_id", "lang", F.row_number().over(w).alias("rk"))
        .filter(F.col("rk") <= 5)
        .orderBy("lang", "rk")
    )


@register(
    "decontaminate_fuzzy",
    oracle="""
    WITH sh AS (
      SELECT doc_id, list_distinct(list_transform(generate_series(1, len(w)-2),
             i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingles
      FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
    ),
    ex AS (SELECT doc_id, len(shingles) AS n_sh, unnest(shingles) AS s FROM sh),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             round(count(*) * 1.0 /
                   (any_value(a.n_sh) + any_value(b.n_sh) - count(*)), 6) AS j
      FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
      HAVING count(*) * 1.0 /
             (any_value(a.n_sh) + any_value(b.n_sh) - count(*)) >= 0.5),
    crossed AS (
      SELECT CASE WHEN doc_a % 41 = 0 THEN doc_b ELSE doc_a END AS doc_id,
             j
      FROM pairs
      WHERE (doc_a % 41 = 0) <> (doc_b % 41 = 0))
    SELECT doc_id, count(*) AS n_eval_matches, max(j) AS max_jaccard
    FROM crossed GROUP BY 1 ORDER BY 1
    """,
)
def decontaminate_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FUZZY benchmark decontamination (the Llama-2 / GPT-4 protocol
    step beyond exact n-gram hits): training docs NEAR-DUPLICATE to an
    eval doc (Jaccard >= 0.5) are flagged even when no verbatim gram
    survives light paraphrasing. Candidates come from the SAME
    MinHash-LSH banding pass as ``dedup_minhash_lsh`` — eval and train
    ride one corpus scan with the boundary applied to the verified
    pair set (an XOR filter), so fuzzy decontamination costs ONE extra
    skinny-frame filter on top of the dedup pipeline a corpus build
    already runs, not a second train x eval join. Oracle: exact-Jaccard
    cross pairs (same banding-miss argument as dedup_minhash_lsh: the
    fixture's near-dups sit at J~0.9 where 8x4 banding misses ~2e-4 of
    pairs)."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_pairs(docs, num_hashes=32, bands=8, threshold=0.5)
    a_eval = F.col("doc_a") % 41 == 0
    b_eval = F.col("doc_b") % 41 == 0
    crossed = pairs.filter(a_eval != b_eval).select(
        F.when(a_eval, F.col("doc_b")).otherwise(F.col("doc_a")).alias("doc_id"),
        "jaccard",
    )
    return (
        crossed.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_eval_matches"),
            F.max("jaccard").alias("max_jaccard"),
        )
        .orderBy("doc_id")
    )


@register(
    "sample_importance_dsir",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, lang,
             {_MD5_BUCKET} AS b
      FROM (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS term
            FROM documents)),
    c_r AS (SELECT b, count(*) AS cr FROM toks GROUP BY 1),
    c_t AS (SELECT b, count(*) AS ct FROM toks WHERE lang = 'en' GROUP BY 1),
    n AS (SELECT (SELECT count(*) FROM toks) AS nr,
                 (SELECT count(*) FROM toks WHERE lang = 'en') AS nt),
    lm AS (
      SELECT c_r.b,
             ln(((COALESCE(c_t.ct, 0) + 1.0) * (n.nr + 64.0))
                / ((c_r.cr + 1.0) * (n.nt + 64.0))) AS logratio
      FROM c_r LEFT JOIN c_t ON c_r.b = c_t.b CROSS JOIN n)
    SELECT t.doc_id, any_value(t.lang) AS lang,
           count(*) AS n_tok,
           round(avg(lm.logratio), 6) AS dsir_score
    FROM toks t JOIN lm ON t.b = lm.b
    GROUP BY t.doc_id
    ORDER BY t.doc_id
    """,
)
def sample_importance_dsir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance weighting (Xie et al. 2023, "Data
    Selection for Language Models via Importance Resampling"): score
    every raw document by how target-like its hashed-unigram
    distribution is — avg over tokens of
    ln(p_target(bucket) / p_raw(bucket)) with add-one smoothing over
    B=64 md5 buckets (the paper's hashed n-gram LM, unigram arm;
    target = the English slice standing in for the curated corpus).
    Positive score = resample-worthy. The length-normalized mean keeps
    scores comparable across document lengths; the downstream
    selection rule (sample ∝ exp(score)) is the A-ES weighted sampler
    already in `sample_weighted`.

    Scale: ONE corpus tokenize pass feeds both LM counts and the
    per-doc score (the bucketed token frame is persisted across its 3
    consumers); the bucket LM is B rows — broadcast — so the score
    join never shuffles the corpus; bucket hashing is scan-side md5
    (partition-invariant, replayed exactly by the oracle)."""
    from pyspark import StorageLevel

    docs = load_table(spark, sf_dir, "documents")
    B = 64
    toks = (
        docs.select(
            "doc_id",
            "lang",
            F.explode(text.tokens("text")).alias("term"),
        )
        .withColumn(
            "b",
            (
                F.conv(F.substring(F.md5("term"), 1, 8), 16, 10)
                .cast("long")
                % B
            ),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    c_r = toks.groupBy("b").agg(F.count("*").alias("cr"))
    c_t = (
        toks.filter(F.col("lang") == "en")
        .groupBy("b")
        .agg(F.count("*").alias("ct"))
    )
    n = toks.agg(
        F.count("*").alias("nr"),
        F.count(F.when(F.col("lang") == "en", 1)).alias("nt"),
    )
    lm = (
        c_r.join(c_t, "b", "left")
        .crossJoin(F.broadcast(n))
        .select(
            "b",
            F.ln(
                ((F.coalesce(F.col("ct"), F.lit(0)) + 1.0) * (F.col("nr") + float(B)))
                / ((F.col("cr") + 1.0) * (F.col("nt") + float(B)))
            ).alias("logratio"),
        )
    )
    return (
        toks.join(F.broadcast(lm), "b")
        .groupBy("doc_id")
        .agg(
            F.any_value("lang").alias("lang"),
            F.count("*").alias("n_tok"),
            F.round(F.avg("logratio"), 6).alias("dsir_score"),
        )
        .orderBy("doc_id")
    )


@register(
    "search_eval_metrics",
    oracle="""
    WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings WHERE embedding IS NOT NULL AND len(list_filter(embedding, x -> x IS NULL OR NOT isfinite(x))) = 0 AND len(list_filter(embedding, x -> x <> 0)) > 0),
    q AS (SELECT vec_id AS query_id, label AS qlabel, v AS qv
          FROM e WHERE vec_id < 8),
    ranked AS (
      SELECT query_id, qlabel, neighbor_id, nlabel,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY sim DESC, neighbor_id) AS rk
      FROM (SELECT q.query_id, q.qlabel, c.vec_id AS neighbor_id,
                   c.label AS nlabel,
                   list_cosine_similarity(q.qv, c.v) AS sim
            FROM q JOIN e c ON q.query_id <> c.vec_id)),
    top10 AS (SELECT * FROM ranked WHERE rk <= 10),
    nrel AS (
      SELECT q.query_id,
             count(*) AS total_rel
      FROM q JOIN e c ON q.query_id <> c.vec_id AND q.qlabel = c.label
      GROUP BY 1),
    per_q AS (
      SELECT t.query_id,
             count(CASE WHEN nlabel = qlabel THEN 1 END) AS hits_10,
             max(CASE WHEN nlabel = qlabel THEN 1.0 / t.rk END) AS mrr_raw,
             sum(CASE WHEN nlabel = qlabel
                      THEN 1.0 / log2(t.rk + 1.0) END) AS dcg
      FROM top10 t GROUP BY 1)
    SELECT p.query_id,
           CAST(p.hits_10 AS BIGINT) AS hits_10,
           n.total_rel,
           round(p.hits_10 * 1.0 / n.total_rel, 6) AS recall_10,
           round(COALESCE(p.mrr_raw, 0.0), 6) AS mrr,
           round(COALESCE(p.dcg, 0.0)
                 / list_sum(list_transform(
                     generate_series(1, CAST(least(n.total_rel, 10) AS INTEGER)),
                     i -> 1.0 / log2(i + 1.0))), 6) AS ndcg_10
    FROM per_q p JOIN nrel n USING (query_id)
    ORDER BY query_id
    """,
)
def search_eval_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval-quality evaluation harness — recall@10, MRR, and
    nDCG@10 for the exact-cosine ranker against label-match relevance
    (query's class = relevant), the standard scorecard any ANN/hybrid
    deployment tracks before swapping rankers. Relevance joins ride
    the SAME broadcast pattern as the ranker (labels are a column of
    the already-broadcast query frame; corpus labels come with the
    scan); metrics reduce the top-10 frame (n_queries × 10 rows) plus
    one label-count aggregate for the recall denominator and the
    closed-form IDCG (an aggregate over sequence(1, min(total_rel,
    10)) — no second corpus pass, no per-rank join). Deterministic:
    ranks tie-break on neighbor_id, so the relevance pattern — and
    every metric — replays exactly in the oracle."""
    from hive_release_spark.llm import similarity

    # vector-geometry contract v2 (r12 vector-specials axis):
    # corrupt vectors (NaN/Inf component, zero norm) dropped at the
    # load — BEFORE any slicing/arm split, so every pass sees the
    # same population; oracle twin mirrors on the full embedding
    emb = load_table(spark, sf_dir, "embeddings").filter(
        similarity.vec_valid("embedding")
    )
    labels = emb.select(
        F.col("vec_id").alias("neighbor_id"), F.col("label").alias("nlabel")
    )
    qlabels = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("label").alias("qlabel")
    )
    top10 = (
        similarity.brute_force_topk(
            emb.filter(F.col("vec_id") < 8), emb, k=10
        )
        .join(F.broadcast(labels), "neighbor_id")
        .join(F.broadcast(qlabels), "query_id")
    )
    rel = F.col("nlabel") == F.col("qlabel")
    per_q = top10.groupBy("query_id").agg(
        F.count(F.when(rel, 1)).alias("hits_10"),
        F.max(F.when(rel, 1.0 / F.col("rank"))).alias("mrr_raw"),
        F.sum(
            F.when(rel, 1.0 / F.log2(F.col("rank") + 1.0))
        ).alias("dcg"),
    )
    nrel = (
        emb.select(F.col("vec_id").alias("neighbor_id"), "label")
        .join(
            F.broadcast(
                qlabels.withColumnRenamed("qlabel", "label")
            ),
            "label",
        )
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .groupBy("query_id")
        .agg(F.count("*").alias("total_rel"))
    )
    idcg = F.aggregate(
        F.sequence(F.lit(1), F.least(F.col("total_rel"), F.lit(10)).cast("int")),
        F.lit(0.0),
        lambda acc, i: acc + 1.0 / F.log2(i.cast("double") + 1.0),
    )
    return (
        per_q.join(F.broadcast(nrel), "query_id")
        .select(
            "query_id",
            F.col("hits_10").cast("long").alias("hits_10"),
            "total_rel",
            F.round(F.col("hits_10") * 1.0 / F.col("total_rel"), 6).alias(
                "recall_10"
            ),
            F.round(F.coalesce(F.col("mrr_raw"), F.lit(0.0)), 6).alias("mrr"),
            F.round(
                F.coalesce(F.col("dcg"), F.lit(0.0)) / idcg, 6
            ).alias("ndcg_10"),
        )
        .orderBy("query_id")
    )


def _bpe_oracle(rounds: int) -> str:
    """Unrolled DuckDB replay of ``bpe_train_merges``: r{i} = encoded
    vocab after i merges, p{i} = round-i winning pair (argmax count,
    lexicographic tie-break)."""
    parts = [
        """
    wf AS (
      SELECT term AS word, count(*) AS freq
      FROM (SELECT unnest(string_split(text, ' ')) AS term FROM documents)
      WHERE regexp_full_match(term, '[A-Za-z0-9]+')
      GROUP BY 1),
    r0 AS (
      SELECT word, freq,
             '(' || array_to_string(
               list_transform(generate_series(1, len(word)), i -> word[i]),
               ')(') || ')' AS enc
      FROM wf)"""
    ]
    for i in range(1, rounds + 1):
        prev = f"r{i-1}"
        parts.append(
            f"""
    tk{i} AS (SELECT freq,
                     string_split(substr(enc, 2, len(enc) - 2), ')(') AS t
              FROM {prev}),
    ex{i} AS (SELECT freq, t,
                     unnest(generate_series(1, len(t) - 1)) AS i
              FROM tk{i}),
    p{i} AS (SELECT t[i] AS a, t[i + 1] AS b,
                    CAST(sum(freq) AS BIGINT) AS cnt
             FROM ex{i} GROUP BY 1, 2
             ORDER BY cnt DESC, a, b LIMIT 1),
    r{i} AS (SELECT word, freq,
                    replace(enc, '(' || a || ')(' || b || ')',
                            '(' || a || b || ')') AS enc
             FROM {prev} CROSS JOIN p{i})"""
        )
    unions = "\n      UNION ALL ".join(
        f"SELECT {i} AS round, a AS pair_a, b AS pair_b, a || b AS merged, cnt AS pair_count FROM p{i}"
        for i in range(1, rounds + 1)
    )
    return (
        "WITH "
        + ",".join(parts)
        + f"""
    SELECT CAST(round AS BIGINT) AS round, pair_a, pair_b, merged,
           pair_count
    FROM ({unions}) ORDER BY round"""
    )


@register(
    "bpe_train_merges",
    oracle=_bpe_oracle(5),
)
def bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE TOKENIZER TRAINING — the first 5 merge rules learned from
    the corpus (the algorithm behind GPT/Llama vocabularies, word-level
    variant as in the original Sennrich BPE and HF's trainer): start
    from character tokens, repeatedly take the most frequent adjacent
    token pair (count summed over word frequencies, lexicographic
    tie-break) and fuse it everywhere, left-to-right non-overlapping.

    Spark-first mechanics: the corpus collapses to the (word, freq)
    VOCAB frame in one scan — every merge round then costs one
    pair-count aggregate over that vocabulary-sized frame plus a 1-ROW
    broadcast of the winning rule; nothing corpus-shaped moves after
    the first groupBy, and driver state is zero (the rule stays a
    frame, attached by crossJoin-broadcast, exactly like the TPC-H
    scalar-threshold pattern). Merge application uses a
    bracket-encoded token string — replace(enc, '(a)(b)', '(ab)') —
    because SQL replace's left-to-right non-overlapping scan IS
    greedy BPE merging (verified: (a)(a)(a)(a) + rule (a,a) →
    (aa)(aa)); per-round frames are persisted so round i+1's pair
    count reads cached round-i output, not a 5-deep recompute.
    Words are restricted to [A-Za-z0-9]+ so the bracket encoding is
    unambiguous (the delimiters cannot occur inside a token).
    The oracle unrolls all 5 rounds as CTEs — the same
    recursion-as-unrolled-spine treatment as PageRank."""
    from pyspark import StorageLevel

    docs = load_table(spark, sf_dir, "documents")
    wf = (
        text.term_counts(docs)
        .filter(F.col("term").rlike("^[A-Za-z0-9]+$"))
        .select(F.col("term").alias("word"), F.col("n").alias("freq"))
    )
    cur = wf.select(
        "word",
        "freq",
        F.concat(
            F.lit("("), F.array_join(F.split("word", ""), ")("), F.lit(")")
        ).alias("enc"),
    ).persist(StorageLevel.MEMORY_AND_DISK)

    rules = []
    for rnd in range(1, 6):
        toks = cur.select(
            "freq",
            F.split(
                F.expr("substring(enc, 2, length(enc) - 2)"), r"\)\("
            ).alias("t"),
        )
        n = F.size("t")
        pairs = (
            toks.select(
                "freq",
                F.explode(
                    F.arrays_zip(
                        F.slice("t", 1, n - 1).alias("a"),
                        F.slice("t", 2, n - 1).alias("b"),
                    )
                ).alias("p"),
            )
            .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
            .agg(F.sum("freq").cast("long").alias("cnt"))
        )
        rule = (
            pairs.orderBy(F.desc("cnt"), "a", "b")
            .limit(1)
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        rules.append(
            rule.select(
                F.lit(rnd).cast("long").alias("round"),
                F.col("a").alias("pair_a"),
                F.col("b").alias("pair_b"),
                F.concat("a", "b").alias("merged"),
                F.col("cnt").alias("pair_count"),
            )
        )
        cur = (
            cur.crossJoin(F.broadcast(rule))
            .select(
                "word",
                "freq",
                F.replace(
                    F.col("enc"),
                    F.concat(F.lit("("), "a", F.lit(")("), "b", F.lit(")")),
                    F.concat(F.lit("("), "a", "b", F.lit(")")),
                ).alias("enc"),
            )
            .persist(StorageLevel.MEMORY_AND_DISK)
        )

    out = rules[0]
    for r in rules[1:]:
        out = out.unionByName(r)
    return out.orderBy("round")


@register(
    "sim_rocchio_expansion",
    oracle="""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings WHERE embedding IS NOT NULL AND len(list_filter(embedding, x -> x IS NULL OR NOT isfinite(x))) = 0 AND len(list_filter(embedding, x -> x <> 0)) > 0),
    q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 8),
    r1 AS (
      SELECT query_id, neighbor_id, rk FROM (
        SELECT q.query_id, c.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY q.query_id
                   ORDER BY list_cosine_similarity(q.qv, c.v) DESC,
                            c.vec_id) AS rk
        FROM q JOIN e c ON q.query_id <> c.vec_id)
      WHERE rk <= 3),
    fb AS (
      SELECT r1.query_id,
             list_transform(generate_series(1, len(any_value(e.v))),
               i -> avg(e.v[i]) OVER ()) AS dummy
      FROM r1 JOIN e ON e.vec_id = r1.neighbor_id GROUP BY r1.query_id),
    cent AS (
      SELECT r1.query_id, i.i AS dim, avg(e.v[i.i]) AS c
      FROM r1 JOIN e ON e.vec_id = r1.neighbor_id
      CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS i) i
      GROUP BY 1, 2),
    qexp AS (
      SELECT q.query_id,
             list(0.7 * q.qv[cent.dim] + 0.3 * cent.c
                  ORDER BY cent.dim) AS ev
      FROM q JOIN cent ON cent.query_id = q.query_id
      GROUP BY q.query_id),
    r2 AS (
      SELECT query_id, neighbor_id, sim, rk2 FROM (
        SELECT x.query_id, c.vec_id AS neighbor_id,
               list_cosine_similarity(x.ev, c.v) AS sim,
               row_number() OVER (PARTITION BY x.query_id
                   ORDER BY list_cosine_similarity(x.ev, c.v) DESC,
                            c.vec_id) AS rk2
        FROM qexp x JOIN e c ON x.query_id <> c.vec_id)
      WHERE rk2 <= 5)
    SELECT query_id, neighbor_id, round(sim, 6) AS sim,
           CAST(rk2 AS INTEGER) AS rank
    FROM r2 ORDER BY query_id, rank
    """,
)
def sim_rocchio_expansion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pseudo-relevance feedback (Rocchio): retrieve top-3 per query,
    blend their centroid into the query (q′ = 0.7·q + 0.3·centroid),
    retrieve again with the expanded vector — the classical two-round
    expansion that pulls a query toward its result neighborhood (the
    dense twin of query-term expansion). Both retrieval rounds ride
    the SAME broadcast-queries cosine path (the corpus never
    shuffles); the feedback centroid is a per-(query, dim) aggregate
    over 3×8 exploded rows — trivially small — packed back into an
    array and re-broadcast. Fully deterministic (rank tie-breaks), so
    the expanded vectors — and the second-round ranking — replay
    exactly in the oracle."""
    from hive_release_spark.llm import similarity

    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    q = emb.filter(F.col("vec_id") < 8)
    r1 = similarity.brute_force_topk(q, emb, k=3)
    fb = (
        r1.join(
            e.select(F.col("vec_id").alias("neighbor_id"), "v"),
            "neighbor_id",
        )
        .select("query_id", F.posexplode("v").alias("dim", "x"))
        .groupBy("query_id", "dim")
        .agg(F.avg("x").alias("c"))
        .groupBy("query_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "c"))),
                lambda s: s.c,
            ).alias("cent")
        )
    )
    qexp = (
        q.select(F.col("vec_id").alias("query_id"),
                 F.col("embedding").cast("array<double>").alias("qv"))
        .join(F.broadcast(fb), "query_id")
        .select(
            F.col("query_id").alias("vec_id"),
            F.zip_with(
                "qv", "cent", lambda a, b: 0.7 * a + 0.3 * b
            ).alias("embedding"),
        )
    )
    return (
        similarity.brute_force_topk(qexp, emb, k=5)
        .select("query_id", "neighbor_id", "sim", "rank")
        .orderBy("query_id", "rank")
    )


@register(
    "dedup_threshold_sweep",
    oracle="""
    WITH sh AS (
      SELECT doc_id, list_distinct(list_transform(generate_series(1, len(w)-2),
             i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingles
      FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)),
    ex AS (SELECT doc_id, len(shingles) AS n_sh, unnest(shingles) AS s FROM sh),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             count(*) * 1.0
               / (any_value(a.n_sh) + any_value(b.n_sh) - count(*)) AS j
      FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
      HAVING count(*) * 1.0
               / (any_value(a.n_sh) + any_value(b.n_sh) - count(*)) >= 0.5),
    th AS (SELECT unnest(generate_series(5, 9)) / 10.0 AS threshold)
    SELECT th.threshold,
           CAST(count(p.doc_a) AS BIGINT) AS n_pairs,
           CAST(count(DISTINCT p.doc_b) AS BIGINT) AS n_docs_dropped
    FROM th LEFT JOIN pairs p ON p.j >= th.threshold
    GROUP BY 1 ORDER BY 1
    """,
)
def dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DEDUP THRESHOLD SWEEP — the tuning curve behind every near-dup
    threshold decision: how many pairs fire, and how many documents
    would be dropped (min-id survivorship: a doc is dropped if it is
    the LARGER id of any pair), at each candidate Jaccard threshold.
    The expensive thing — the postings-index pair computation — runs
    ONCE at the loosest threshold (0.5); the sweep is then a 5-row
    broadcast threshold frame joined against the persisted pair list,
    so exploring 5 operating points costs one corpus pass instead of
    five (the r4 sweep-matrix lesson applied to the operator itself).
    n_docs_dropped is the exact survivor arithmetic of dedup_exact's
    min-id rule restricted to each threshold's pair set."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.jaccard_pairs(docs, n=3, threshold=0.5).persist()
    # thresholds built as (5+i)/10.0 in BOTH engines: a 0.7 literal and
    # 0.5+2*0.1 are DIFFERENT doubles, and DuckDB list literals would be
    # DECIMAL — identical construction makes the >= comparison exact
    th = spark.range(5).select(
        ((F.lit(5) + F.col("id")) / F.lit(10.0)).alias("threshold")
    )
    j = th.join(
        pairs,
        pairs.jaccard >= F.col("threshold"),
        "left",
    )
    # one row per threshold (5)
    return bounded_sort(
        j.groupBy("threshold")
        .agg(
            F.count("doc_a").alias("n_pairs"),
            F.countDistinct("doc_b").alias("n_docs_dropped"),
        ),
        "threshold",
    )


@register(
    "pack_efficiency_report",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT)
               AS n_tokens
      FROM documents),
    b AS (
      SELECT CAST(pow(2, CAST(ceil(log2(greatest(n_tokens, 1))) AS INT))
                  AS BIGINT) AS bucket,
             n_tokens,
             least(n_tokens, {_PACK_BUDGET}) AS kept,
             greatest(n_tokens - {_PACK_BUDGET}, 0) AS truncated
      FROM d)
    SELECT bucket,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS tokens,
           CAST(sum(truncated) AS BIGINT) AS tokens_truncated,
           round(avg(CAST(kept AS DOUBLE) / {_PACK_BUDGET}), 6)
             AS fill_if_padded,
           round(sum(CAST(kept AS DOUBLE))
                 / (count(*) * {_PACK_BUDGET}), 6) AS bucket_efficiency
    FROM b GROUP BY 1 ORDER BY 1
    """,
)
def pack_efficiency_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEQUENCE-PACKING EFFICIENCY REPORT — the measurement companion
    to pack_sequences: per power-of-2 length bucket, how many docs,
    how many tokens, how many tokens a {_PACK_BUDGET}-token context
    would TRUNCATE, and two padding diagnostics — the fill ratio if
    each doc were padded alone (the no-packing baseline every padding
    batch pays) and the bucket's aggregate efficiency.  This is the
    report that justifies packing: fill_if_padded near 0 on short
    buckets is exactly the waste greedy packing recovers.  One
    scan-side token count + one 10-ish-row bucket aggregate; the
    bucket key is a closed-form pow/log2 expression, not a join
    against a bucket table."""
    docs = load_table(spark, sf_dir, "documents")
    n_tok = text.token_count("text")
    budget = _PACK_BUDGET
    d = docs.select(n_tok.alias("n_tokens"))
    bucket = F.pow(
        2, F.ceil(F.log2(F.greatest(F.col("n_tokens"), F.lit(1))))
    ).cast("long")
    kept = F.least(F.col("n_tokens"), F.lit(budget))
    trunc = F.greatest(F.col("n_tokens") - budget, F.lit(0))
    b = d.select(
        bucket.alias("bucket"),
        "n_tokens",
        kept.alias("kept"),
        trunc.alias("truncated"),
    )
    # one row per power-of-two length bucket
    return bounded_sort(
        b.groupBy("bucket")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("tokens"),
            F.sum("truncated").alias("tokens_truncated"),
            F.round(
                F.avg(F.col("kept").cast("double") / budget), 6
            ).alias("fill_if_padded"),
            F.round(
                F.sum(F.col("kept").cast("double"))
                / (F.count("*") * budget),
                6,
            ).alias("bucket_efficiency"),
        ),
        "bucket",
    )


@register(
    "tokenize_fertility",
    oracle="""
    WITH d AS (
      SELECT lang,
             CAST(len(regexp_extract_all(text,
                  '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS n_bpe,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
             CAST(len(replace(text, ' ', '')) AS BIGINT) AS n_chars
      FROM documents)
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_bpe) AS BIGINT) AS bpe_tokens,
           CAST(sum(n_words) AS BIGINT) AS words,
           round(CAST(sum(n_bpe) AS DOUBLE) / sum(n_words), 6)
             AS fertility,
           round(CAST(sum(n_chars) AS DOUBLE) / sum(n_bpe), 6)
             AS chars_per_token
    FROM d GROUP BY 1 ORDER BY 1
    """,
)
def tokenize_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOKENIZER FERTILITY REPORT per language — the standard
    tokenizer-evaluation table (how many subword tokens per word, how
    many characters per token): high fertility on a language means the
    tokenizer fragments it, inflating sequence lengths and training
    cost for that slice of the corpus — the number multilingual
    tokenizer papers lead with.  Uses the repo's BPE-ish GPT-2-style
    pre-tokenizer regex (text_token_bpe_regex) as the subword proxy
    and whitespace words as the denominator.  Fertility and
    chars-per-token are ratios of exact corpus-level BIGINT sums (not
    averages of per-doc ratios — the aggregation-order-proof
    formulation), computed in one scan-side pass + a lang-cardinality
    rollup."""
    docs = load_table(spark, sf_dir, "documents")
    n_bpe = F.size(
        F.regexp_extract_all(
            "text", F.lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), 0
        )
    ).cast("long")
    n_words = text.token_count("text")
    n_chars = F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))).cast(
        "long"
    )
    d = docs.select(
        "lang",
        n_bpe.alias("n_bpe"),
        n_words.alias("n_words"),
        n_chars.alias("n_chars"),
    )
    # one row per language
    return bounded_sort(
        d.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_bpe").alias("bpe_tokens"),
            F.sum("n_words").alias("words"),
            F.round(
                F.sum("n_bpe").cast("double") / F.sum("n_words"), 6
            ).alias("fertility"),
            F.round(
                F.sum("n_chars").cast("double") / F.sum("n_bpe"), 6
            ).alias("chars_per_token"),
        ),
        "lang",
    )


@register(
    "text_source_divergence",
    oracle="""
    WITH tc AS (
      SELECT source, t, CAST(count(*) AS BIGINT) AS n
      FROM (SELECT source, unnest(string_split(text, ' ')) AS t
            FROM documents)
      GROUP BY 1, 2),
    tot AS (SELECT source, CAST(sum(n) AS BIGINT) AS tot
            FROM tc GROUP BY 1),
    p AS (SELECT tc.source, tc.t,
                 CAST(tc.n AS DOUBLE) / tot.tot AS p
          FROM tc JOIN tot USING (source)),
    pairs AS (SELECT a.source AS src_a, b.source AS src_b
              FROM tot a JOIN tot b ON a.source < b.source),
    pt AS (
      SELECT pr.src_a, pr.src_b, p.t,
             coalesce(max(CASE WHEN p.source = pr.src_a
                          THEN p.p END), 0) AS pa,
             coalesce(max(CASE WHEN p.source = pr.src_b
                          THEN p.p END), 0) AS pb
      FROM pairs pr JOIN p ON p.source IN (pr.src_a, pr.src_b)
      GROUP BY 1, 2, 3)
    SELECT src_a, src_b,
           CAST(count(*) AS BIGINT) AS union_terms,
           round(sum(0.5 * CASE WHEN pa > 0
                     THEN pa * log2(pa / ((pa + pb) / 2)) ELSE 0 END
                   + 0.5 * CASE WHEN pb > 0
                     THEN pb * log2(pb / ((pa + pb) / 2)) ELSE 0 END),
                 6) AS jsd
    FROM pt GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def text_source_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JENSEN-SHANNON DIVERGENCE between every source pair's unigram
    distribution — the standard corpus-comparison / domain-shift
    number (symmetric, bounded [0,1] in log2, defined even where
    supports differ — the reasons it beats raw KL for corpus work):
    JSD(P,Q) = 0.5 KL(P||M) + 0.5 KL(Q||M), M = (P+Q)/2.  Mixing a
    new scrape in?  Its JSD against the incumbent sources IS the
    domain-novelty score (the quantity DSIR-style importance
    weighting implicitly optimizes).  Shapes: one tokenize pass to
    (source, term) counts; probabilities are ratios of exact
    BIGINTs; the pair frame is (source-pair x term) built by joining
    the VOCAB-sized probability frame against the (tiny) source-pair
    list and pivoting both sides out with conditional max — a term
    present in only ONE side gets p=0 on the other and contributes
    its full p*log2(2) mass to that side's KL half (a one-sided term
    is maximal evidence of divergence; a join that dropped unmatched
    terms would silently understate JSD on disjoint-support
    corpora).  Everything after the first groupBy is
    vocabulary-cardinality."""
    docs = load_table(spark, sf_dir, "documents")
    tc = text.term_counts(docs, "source")
    tot = tc.groupBy("source").agg(F.sum("n").alias("tot"))
    p = tc.join(F.broadcast(tot), "source").select(
        "source", "term", (F.col("n").cast("double") / F.col("tot")).alias("p")
    )
    pairs = (
        tot.select(F.col("source").alias("src_a"))
        .join(
            tot.select(F.col("source").alias("src_b")),
            F.col("src_a") < F.col("src_b"),
        )
    )
    pt = (
        pairs.join(
            p,
            (p.source == F.col("src_a")) | (p.source == F.col("src_b")),
        )
        .groupBy("src_a", "src_b", "term")
        .agg(
            F.coalesce(
                F.max(F.when(F.col("source") == F.col("src_a"), F.col("p"))),
                F.lit(0.0),
            ).alias("pa"),
            F.coalesce(
                F.max(F.when(F.col("source") == F.col("src_b"), F.col("p"))),
                F.lit(0.0),
            ).alias("pb"),
        )
    )
    pa, pb = F.col("pa"), F.col("pb")
    m = (pa + pb) / 2
    term = 0.5 * F.when(pa > 0, pa * F.log2(pa / m)).otherwise(
        0.0
    ) + 0.5 * F.when(pb > 0, pb * F.log2(pb / m)).otherwise(0.0)
    return (
        pt.groupBy("src_a", "src_b")
        .agg(
            F.count("*").alias("union_terms"),
            F.round(F.sum(term), 6).alias("jsd"),
        )
        .orderBy("src_a", "src_b")
    )


@register(
    "text_entropy_quality",
    oracle="""
    WITH tc AS (
      SELECT doc_id, source, t, CAST(count(*) AS BIGINT) AS n
      FROM (SELECT doc_id, source,
                   unnest(string_split(text, ' ')) AS t
            FROM documents)
      GROUP BY 1, 2, 3),
    d0 AS (
      SELECT doc_id, source, n,
             CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY doc_id) AS p
      FROM tc),
    d AS (
      SELECT doc_id, source,
             CAST(sum(n) AS BIGINT) AS n_tokens,
             CAST(count(*) AS BIGINT) AS n_distinct,
             -sum(p * log2(p)) AS entropy
      FROM d0 GROUP BY doc_id, source),
    s AS (
      SELECT source,
             CAST(count(*) AS BIGINT) AS n_docs,
             round(avg(entropy), 6) AS avg_entropy,
             round(min(entropy), 6) AS min_entropy,
             CAST(count(*) FILTER (entropy < 3.0) AS BIGINT)
               AS n_low_entropy,
             round(avg(entropy / log2(n_distinct)), 6)
               AS avg_efficiency
      FROM d WHERE n_distinct > 1 GROUP BY 1)
    SELECT * FROM s ORDER BY source
    """,
)
def text_entropy_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOKEN-ENTROPY QUALITY SIGNAL — the information-theoretic
    repetition detector (the compressibility proxy C4/CCNet-class
    filters approximate with gzip ratios): a document whose token
    distribution has low Shannon entropy is boilerplate or
    keyword-stuffed even when no single span repeats verbatim — the
    case the exact span-dedup (dedup_span_chunks) and the repetition
    regex both miss.  Per doc: H = -sum p log2 p over its token
    distribution, plus entropy EFFICIENCY H/log2(n_distinct) (1.0 =
    maximally even usage) which is length-robust where raw H is not;
    the per-source rollup reports the mean/min and the count under
    the H < 3 bits floor.  Shapes: one tokenize pass to (doc, token)
    counts; the entropy sum is a window over that frame partitioned
    by doc (p and the doc total come from the SAME partition pass);
    the rollup is source-cardinality.  Single-token docs are
    excluded (log2(1) = 0 would divide the efficiency)."""
    docs = load_table(spark, sf_dir, "documents")
    tc = text.term_counts(docs, "doc_id", "source")
    wdoc = W.partitionBy("doc_id")
    p = F.col("n").cast("double") / F.sum("n").over(wdoc)
    d = (
        tc.withColumn("h", -(p * F.log2(p)))
        .groupBy("doc_id", "source")
        .agg(
            F.sum("n").alias("n_tokens"),
            F.count("*").alias("n_distinct"),
            F.sum("h").alias("entropy"),
        )
        .filter(F.col("n_distinct") > 1)
    )
    # one row per source
    return bounded_sort(
        d.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.avg("entropy"), 6).alias("avg_entropy"),
            F.round(F.min("entropy"), 6).alias("min_entropy"),
            F.count(F.when(F.col("entropy") < 3.0, 1)).alias(
                "n_low_entropy"
            ),
            F.round(
                F.avg(F.col("entropy") / F.log2(F.col("n_distinct"))), 6
            ).alias("avg_efficiency"),
        ),
        "source",
    )


@register(
    "text_langid_confusion",
    oracle="""
    WITH p AS (
      SELECT lang,
             CASE
               WHEN len(list_filter(string_split(text, ' '),
                    t -> t IN ('the', 'value', 'fast'))) > 0 THEN 'en'
               WHEN len(list_filter(string_split(text, ' '),
                    t -> t IN ('der', 'und', 'nicht'))) > 0 THEN 'de'
               WHEN len(list_filter(string_split(text, ' '),
                    t -> t IN ('le', 'et', 'les'))) > 0 THEN 'fr'
               WHEN len(list_filter(string_split(text, ' '),
                    t -> t IN ('el', 'que', 'los'))) > 0 THEN 'es'
               ELSE 'unknown' END AS pred
      FROM documents),
    c AS (SELECT lang, pred, CAST(count(*) AS BIGINT) AS n
          FROM p GROUP BY 1, 2),
    t AS (SELECT lang, CAST(sum(n) AS BIGINT) AS n_true FROM c GROUP BY 1)
    SELECT c.lang, c.pred, c.n,
           round(CAST(c.n AS DOUBLE) / t.n_true, 6) AS pct_of_true,
           CASE WHEN c.lang = c.pred THEN 1 ELSE 0 END AS is_correct
    FROM c JOIN t USING (lang)
    ORDER BY c.lang, c.pred
    """,
)
def text_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LANGUAGE-ID CONFUSION MATRIX — the evaluation table for the
    rule-chain guesser (llm/text.langid_rules) against the corpus's
    true `lang` labels: every (true, predicted) cell with its count
    and share of the true class (the row-normalized confusion matrix
    whose diagonal is per-class recall).  Classifier EVALUATION is a
    first-class pipeline operator — the langid gate's error profile
    decides which languages need the n-gram scorer's second pass.
    The rule chain is replayed in SQL marker-for-marker with the same
    en>de>fr>es precedence, so the matrix is engine-exact; on this
    shared-vocab synthetic corpus the guesser mostly answers 'en'
    (every lang's docs contain the en markers), and the matrix says
    exactly that — the honest readout of a weak classifier, which is
    the point of shipping its evaluation next to it.  One scan-side
    CASE + a (langs x preds)-cardinality rollup."""
    docs = load_table(spark, sf_dir, "documents")
    pred = text.langid_rules(F.col("text"))
    c = docs.select("lang", pred.alias("pred")).groupBy("lang", "pred").agg(
        F.count("*").alias("n")
    )
    t = c.groupBy("lang").agg(F.sum("n").alias("n_true"))
    return (
        c.join(F.broadcast(t), "lang")
        .select(
            "lang",
            "pred",
            "n",
            F.round(F.col("n").cast("double") / F.col("n_true"), 6).alias(
                "pct_of_true"
            ),
            F.when(F.col("lang") == F.col("pred"), 1)
            .otherwise(0)
            .alias("is_correct"),
        )
        .orderBy("lang", "pred")
    )


@register(
    "text_ttr_hapax",
    oracle="""
    WITH tc AS (
      SELECT source, t, CAST(count(*) AS BIGINT) AS n
      FROM (SELECT source, unnest(string_split(text, ' ')) AS t
            FROM documents)
      GROUP BY 1, 2)
    SELECT source,
           CAST(sum(n) AS BIGINT) AS n_tokens,
           CAST(count(*) AS BIGINT) AS n_types,
           CAST(count(*) FILTER (n = 1) AS BIGINT) AS n_hapax,
           CAST(floor(CAST(count(*) AS DOUBLE) / sum(n) * 1000000 + 0.5)
                AS BIGINT) AS ttr_micro,
           CAST(floor(CAST(count(*) FILTER (n = 1) AS DOUBLE) / count(*)
                      * 1000000 + 0.5) AS BIGINT) AS hapax_micro,
           CAST(floor(ln(count(*)) / ln(sum(n)) * 1000000 + 0.5)
                AS BIGINT) AS herdan_c_micro
    FROM tc GROUP BY source ORDER BY source
    """,
)
def text_ttr_hapax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEXICAL-DIVERSITY PROFILE per source: type-token ratio, hapax-
    legomena share, and Herdan's C (log types / log tokens — the
    length-robust TTR every corpus-linguistics report quotes because
    raw TTR collapses as corpora grow). Low diversity flags template
    farms and spun text that per-doc entropy (text_entropy_quality)
    can miss when each doc is individually varied but the SOURCE
    recycles one vocabulary; a hapax share near zero is the classic
    boilerplate signature. Shape: the same space-split tokenize pass
    as the entropy entry collapses to (source, token) counts in ONE
    shuffle; the rollup is source-cardinality. All three ratios are
    single divisions of exact longs folded once at micro precision —
    at 100 TB the (source, token) frame is vocabulary-bounded, the
    standard scale-out for corpus-level vocabulary stats."""
    docs = load_table(spark, sf_dir, "documents")
    tc = text.term_counts(docs, "source")
    types = F.count("*")
    tokens = F.sum("n")
    hapax = F.count(F.when(F.col("n") == 1, 1))
    # one row per source
    return bounded_sort(
        tc.groupBy("source")
        .agg(
            tokens.alias("n_tokens"),
            types.alias("n_types"),
            hapax.alias("n_hapax"),
            half_up(types.cast("double") / tokens * 1000000).alias("ttr_micro"),
            half_up(hapax.cast("double") / types * 1000000).alias("hapax_micro"),
            half_up(
                F.log(types.cast("double")) / F.log(tokens.cast("double")) * 1000000
            ).alias("herdan_c_micro"),
        ),
        "source",
    )


@register(
    "text_script_profile",
    oracle=r"""
    SELECT source,
           CAST(sum(length(text)) AS BIGINT) AS n_chars,
           CAST(sum(length(regexp_replace(text, '[^A-Za-z]', '', 'g')))
                AS BIGINT) AS n_latin,
           CAST(sum(length(regexp_replace(text, '[^\x{00c0}-\x{00ff}]',
                                          '', 'g'))) AS BIGINT)
             AS n_latin_ext,
           CAST(sum(length(regexp_replace(text, '[^\x{4e00}-\x{9fff}]',
                                          '', 'g'))) AS BIGINT) AS n_cjk,
           CAST(sum(length(regexp_replace(text, '[^0-9]', '', 'g')))
                AS BIGINT) AS n_digit,
           CAST(floor(CAST(sum(length(regexp_replace(text, '[^A-Za-z]',
                                                     '', 'g'))) AS DOUBLE)
                      / sum(length(text)) * 1000000 + 0.5) AS BIGINT)
             AS latin_ratio_micro,
           CAST(floor(CAST(sum(length(regexp_replace(text,
                            '[^\x{4e00}-\x{9fff}]', '', 'g'))) AS DOUBLE)
                      / sum(length(text)) * 1000000 + 0.5) AS BIGINT)
             AS cjk_ratio_micro
    FROM documents GROUP BY source ORDER BY source
    """,
)
def text_script_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNICODE-SCRIPT COMPOSITION per source — the zeroth-order
    language router a multilingual ingest runs BEFORE any model-based
    language ID (CJK-vs-Latin is a codepoint-range test, three orders
    of magnitude cheaper than an n-gram classifier, and it catches
    mislabeled scrapes that fool frequency-based detectors): counts of
    ASCII-Latin, extended-Latin (the accented range French/German/
    Spanish live in), CJK-unified, and digit codepoints, with
    Latin/CJK shares. Everything is a scan-side regexp_replace length
    delta (codepoint-range character classes parse identically in
    Java regex and RE2) feeding one source-grain partial agg; ratios
    are single exact-long divisions."""
    docs = load_table(spark, sf_dir, "documents")

    def n_class(pattern: str):
        return F.sum(F.length(F.regexp_replace("text", pattern, "")))

    latin = n_class("[^A-Za-z]")
    latin_ext = n_class(r"[^\x{00c0}-\x{00ff}]")
    cjk = n_class(r"[^\x{4e00}-\x{9fff}]")
    digit = n_class("[^0-9]")
    total = F.sum(F.length("text"))
    # one row per source
    return bounded_sort(
        docs.groupBy("source")
        .agg(
            total.alias("n_chars"),
            latin.alias("n_latin"),
            latin_ext.alias("n_latin_ext"),
            cjk.alias("n_cjk"),
            digit.alias("n_digit"),
            half_up(latin.cast("double") / total * 1000000).alias("latin_ratio_micro"),
            half_up(cjk.cast("double") / total * 1000000).alias("cjk_ratio_micro"),
        ),
        "source",
    )


@register(
    "pipeline_incremental_dedup",
    oracle="""
    WITH base AS (SELECT * FROM documents WHERE doc_id % 10 <> 0),
    new_batch AS (SELECT * FROM documents WHERE doc_id % 10 = 0),
    surv AS (
      SELECT md5(text) AS h, min(doc_id) AS survivor_id
      FROM base GROUP BY 1),
    batch_dedup AS (
      SELECT md5(text) AS h, min(doc_id) AS doc_id,
             CAST(count(*) AS BIGINT) AS n_in_batch
      FROM new_batch GROUP BY 1),
    merged AS (
      SELECT b.doc_id, b.h, b.n_in_batch,
             CASE WHEN s.h IS NULL THEN 1 ELSE 0 END AS is_new
      FROM batch_dedup b LEFT JOIN surv s ON b.h = s.h)
    SELECT CAST((SELECT count(*) FROM new_batch) AS BIGINT)
             AS batch_rows,
           CAST(count(*) AS BIGINT) AS batch_distinct,
           CAST(sum(is_new) AS BIGINT) AS accepted_new,
           CAST(count(*) - sum(is_new) AS BIGINT)
             AS rejected_known,
           CAST((SELECT count(*) FROM surv) AS BIGINT)
             AS corpus_before,
           CAST((SELECT count(*) FROM surv) + sum(is_new) AS BIGINT)
             AS corpus_after
    FROM merged
    """,
)
def pipeline_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL DEDUP INGEST — the production shape a corpus update
    actually runs: a NEW batch (the doc_id%10 slice standing in for
    today's crawl) dedups WITHIN itself, then joins against the
    EXISTING corpus's survivor hash set — never re-deduping the full
    corpus (the full recompute is O(corpus) per day; the incremental
    path is O(batch) + one join against a hash frame that at 100 TB
    lives as a bucketed table, making the membership join
    shuffle-free on the corpus side). The report is the ingest
    ledger: batch rows -> batch-distinct -> accepted-new vs
    rejected-known, plus corpus cardinality before/after. Everything
    is exact counts over md5 content keys; min-id survivors keep both
    engines' choices deterministic. The two driver-side .count()
    actions are bounded scalars (batch size, survivor cardinality —
    the persisted survivor frame is read once for the count and once
    for the join), the documented bounded-collect discipline."""
    from hive_release_spark.operators.cache import pipeline_scope

    docs = load_table(spark, sf_dir, "documents")
    base = docs.filter(F.col("doc_id") % 10 != 0)
    new_batch = docs.filter(F.col("doc_id") % 10 == 0)
    # cache lifecycle (VERDICT r9 #5): the survivor persist serves the
    # count action and the membership join, both INSIDE the scope; the
    # one-row ledger is eagerly checkpointed before the scope closes so
    # the caller's collect never re-derives the survivor frame after
    # its cache is dropped
    with pipeline_scope():
        surv = base.groupBy(F.md5("text").alias("h")).agg(
            F.min("doc_id").alias("survivor_id")
        )
        surv.persist()
        batch_dedup = new_batch.groupBy(F.md5("text").alias("h")).agg(
            F.min("doc_id").alias("doc_id"),
            F.count("*").alias("n_in_batch"),
        )
        merged = batch_dedup.join(
            surv.select("h", F.lit(1).alias("known")), "h", "left"
        ).withColumn(
            "is_new", F.when(F.col("known").isNull(), 1).otherwise(0)
        )
        batch_rows = new_batch.count()
        corpus_before = surv.count()
        out = merged.agg(
            F.lit(batch_rows).cast("long").alias("batch_rows"),
            F.count("*").alias("batch_distinct"),
            F.sum("is_new").alias("accepted_new"),
            (F.count("*") - F.sum("is_new")).alias("rejected_known"),
            F.lit(corpus_before).cast("long").alias("corpus_before"),
            (F.lit(corpus_before) + F.sum("is_new")).alias("corpus_after"),
        ).localCheckpoint(eager=True)
    return out


@register(
    "pipeline_quality_ablation",
    oracle="""
    WITH d AS (
      SELECT doc_id, text, n_chars,
             CASE WHEN n_chars >= 20
                   AND len(string_split(text, ' ')) >= 5
                  THEN 1 ELSE 0 END AS f_len,
             CASE WHEN CAST(length(regexp_replace(text, '[^A-Za-z]',
                                                  '', 'g')) AS DOUBLE)
                       / n_chars >= 0.5
                  THEN 1 ELSE 0 END AS f_alpha
      FROM documents),
    surv AS (SELECT min(doc_id) AS doc_id FROM documents
             GROUP BY md5(text)),
    flags AS (
      SELECT d.doc_id, d.f_len, d.f_alpha,
             CASE WHEN s.doc_id IS NOT NULL THEN 1 ELSE 0 END AS f_uniq
      FROM d LEFT JOIN surv s ON d.doc_id = s.doc_id),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS nt FROM flags)
    SELECT f_len, f_alpha, f_uniq,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(floor(CAST(count(*) AS DOUBLE) / tot.nt * 1000000 + 0.5)
                AS BIGINT) AS share_micro,
           CASE WHEN f_len = 1 AND f_alpha = 1 AND f_uniq = 1
                THEN 1 ELSE 0 END AS survives_all
    FROM flags CROSS JOIN tot
    GROUP BY f_len, f_alpha, f_uniq, tot.nt
    ORDER BY f_len, f_alpha, f_uniq
    """,
)
def pipeline_quality_ablation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QUALITY-FILTER ABLATION LEDGER — the 2^3-cell breakdown of
    which filter combinations pass/fail each document (length gate,
    alpha-ratio gate, exact-dup survivorship): the review any filter
    stack needs before shipping, because the MARGINAL cells are the
    decisions — "docs failing ONLY dedup" are recoverable rewrites,
    "docs failing ONLY alpha" may be a language the ratio mishandles,
    and a filter whose solo-failure cell is empty is dead weight.
    Flags are scan-side expressions plus the one survivor join the
    exact-dedup entry already defines; the rollup is 8 cells with
    exact shares. Complements pipeline_corpus_build (which reports
    only the surviving funnel) with the full inclusion-exclusion
    picture."""
    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id",
        F.when(
            (F.col("n_chars") >= 20)
            & (F.size(text.tokens("text")) >= 5),
            1,
        )
        .otherwise(0)
        .alias("f_len"),
        F.when(
            F.length(F.regexp_replace("text", "[^A-Za-z]", "")).cast(
                "double"
            )
            / F.col("n_chars")
            >= 0.5,
            1,
        )
        .otherwise(0)
        .alias("f_alpha"),
        F.md5("text").alias("h"),
    )
    surv = docs.groupBy(F.md5("text").alias("h")).agg(
        F.min("doc_id").alias("surv_id")
    )
    # eqNullSafe, not "h": an inner equi-join on h = md5(NULL) = NULL
    # silently DROPS NULL-text documents from the ablation ledger (the
    # one report whose whole point is counting every document); NULL
    # texts form one dedup group, same as the oracle's GROUP BY
    # md5(text). Still a hash join (<=> keys). r10 all-NULL axis.
    flags = (
        d.join(surv, d["h"].eqNullSafe(surv["h"]))
        .drop(surv["h"])
        .withColumn(
            "f_uniq",
            F.when(F.col("doc_id") == F.col("surv_id"), 1).otherwise(0),
        )
    )
    tot = flags.agg(F.count("*").alias("nt"))
    return (
        flags.crossJoin(F.broadcast(tot))
        .groupBy("f_len", "f_alpha", "f_uniq", "nt")
        .agg(F.count("*").alias("n_docs"))
        .select(
            "f_len",
            "f_alpha",
            "f_uniq",
            "n_docs",
            half_up(F.col("n_docs").cast("double") / F.col("nt") * 1000000)
            .alias("share_micro"),
            F.when(
                (F.col("f_len") == 1)
                & (F.col("f_alpha") == 1)
                & (F.col("f_uniq") == 1),
                1,
            )
            .otherwise(0)
            .alias("survives_all"),
        )
        .orderBy("f_len", "f_alpha", "f_uniq")
    )
