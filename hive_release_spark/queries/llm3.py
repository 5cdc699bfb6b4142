"""LLM training-data pipeline operators, round 3 of coverage: quality
repetition signals, PII scrubbing, embedding normalization/quantization,
corpus statistics, and an end-to-end dedup→quality pipeline.

These extend SURVEY.md §2.L beyond the reference's own surface — the
operations a 100 TB pretraining-data pipeline runs between ingest and
tokenization. All are pure JVM expressions (HOFs + regex + hash), no
Python in the hot path; the only shuffles are the stated aggregations.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from hive_release_spark.catalog import load_table
from hive_release_spark.functions.numeric import half_up
from hive_release_spark.llm import clustering, similarity, text
from hive_release_spark.operators.topk import bounded_sort, global_topk
from hive_release_spark.queries.registry import register


@register(
    "text_repetition_score",
    oracle="""
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    -- grouped to the doc_id grain: the engine's groupBy collapses NULL
    -- doc_ids into one group (r10 all-NULL axis); unique ids unchanged
    ratio AS (SELECT doc_id,
                     max(CAST(len(list_distinct(w)) AS DOUBLE) / len(w))
                         AS distinct_token_ratio
              FROM w GROUP BY doc_id),
    bg AS (SELECT doc_id,
                  unnest(list_transform(generate_series(1, len(w)-1),
                         i -> w[i] || ' ' || w[i+1])) AS gram
           FROM w),
    cnt AS (SELECT doc_id, gram, count(*) AS c FROM bg GROUP BY doc_id, gram),
    share AS (SELECT doc_id, CAST(max(c) AS DOUBLE) / CAST(sum(c) AS DOUBLE)
                       AS top_bigram_share
              FROM cnt GROUP BY doc_id)
    SELECT r.doc_id, r.distinct_token_ratio, s.top_bigram_share,
           (s.top_bigram_share > 0.2 OR r.distinct_token_ratio < 0.3) AS is_repetitive
    FROM ratio r LEFT JOIN share s ON r.doc_id = s.doc_id
    ORDER BY r.doc_id
    """,
)
def text_repetition_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/C4 repetition rules: per-doc top-bigram share and distinct
    -token ratio, flagging repetitive documents. Ratios are exact
    int/int divisions — unrounded, bit-identical across engines."""
    docs = load_table(spark, sf_dir, "documents")
    return text.repetition_features(docs).orderBy("doc_id")


@register(
    "text_pii_scrub",
    oracle="""
    WITH pii AS (
      SELECT doc_id,
             text || ' contact user' || doc_id || '@example.com or +1-555-' ||
             lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS s
      FROM documents)
    SELECT doc_id,
           len(regexp_extract_all(s, '[a-z0-9]+@[a-z0-9.]+')) AS n_email,
           len(regexp_extract_all(s, '\\+1-555-[0-9]{4}')) AS n_phone,
           md5(regexp_replace(regexp_replace(s, '[a-z0-9]+@[a-z0-9.]+', '<EMAIL>', 'g'),
                              '\\+1-555-[0-9]{4}', '<PHONE>', 'g')) AS scrub_md5
    FROM pii
    ORDER BY doc_id
    """,
)
def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction: the corpus text is synthetic (no real PII), so a
    deterministic email+phone suffix is appended per doc, then scrubbed
    with the shared regex pass — match counts and an md5 of the scrubbed
    text prove both engines redact identically. JVM regex only; at scale
    this is a pure map stage (zero shuffles)."""
    docs = load_table(spark, sf_dir, "documents")
    with_pii = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or +1-555-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        ).alias("text"),
    )
    return (
        text.pii_scrub(with_pii)
        .select("doc_id", "n_email", "n_phone", F.md5("scrubbed").alias("scrub_md5"))
        .orderBy("doc_id")
    )


@register(
    "emb_normalize_quantize",
    oracle="""
    SELECT vec_id, round(nrm, 6) AS l2_norm,
           array_to_string(list_transform(v,
               x -> CAST(round(x / nrm * 127) AS INTEGER)), ' ') AS q8_str
    FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
                 sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]),
                                              x -> x * x))) AS nrm
          FROM embeddings WHERE embedding IS NOT NULL AND len(list_filter(embedding, x -> x IS NULL OR NOT isfinite(x))) = 0 AND len(list_filter(embedding, x -> x <> 0)) > 0)
    ORDER BY vec_id
    """,
)
def emb_normalize_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding L2-normalize + int8 quantize — ANN-index storage prep.
    Per-row HOF expressions, zero shuffles. The quantized vector is
    emitted space-joined (``q8_str``): the driver's pandas canonicalizer
    cannot sort raw ARRAY columns (tests/test_oracle_types.py); the
    array-native form stays available via similarity.normalize_quantize."""
    emb = load_table(spark, sf_dir, "embeddings")
    return (
        similarity.normalize_quantize(emb)
        # array_join, not concat_ws: a NULL vector's q8 must stay NULL
        # (per-row transforms propagate NULL) — concat_ws renders a
        # NULL array as '' while the oracle's array_to_string keeps
        # NULL (r10 all-NULL axis)
        .select("vec_id", "l2_norm", F.array_join(F.col("q8"), " ").alias("q8_str"))
        .orderBy("vec_id")
    )


@register(
    "corpus_token_stats",
    oracle="""
    SELECT lang, source, count(*) AS n_docs,
           CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
           min(n_chars) AS min_chars, max(n_chars) AS max_chars,
           avg(CAST(n_chars AS DOUBLE)) AS avg_chars
    FROM documents
    GROUP BY lang, source
    ORDER BY lang, source
    """,
)
def corpus_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus composition report: per (lang, source) doc/token/char
    stats — the first dashboard any pretraining-data pipeline needs.
    Token counts are scan-side expressions feeding one partial-agg
    shuffle on the (tiny) group key space; sums/avgs over integers are
    exact in both engines (unrounded)."""
    docs = load_table(spark, sf_dir, "documents")
    # one row per (lang, source)
    return bounded_sort(
        docs.groupBy("lang", "source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(text.token_count("text")).alias("total_tokens"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
            F.avg("n_chars").alias("avg_chars"),
        ),
        "lang", "source",
    )


@register(
    "pipeline_dedup_quality",
    oracle="""
    WITH keep AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
    survivors AS (SELECT d.* FROM documents d JOIN keep k ON d.doc_id = k.doc_id)
    SELECT doc_id, lang, source, len(string_split(text, ' ')) AS n_tokens
    FROM survivors
    WHERE len(string_split(text, ' ')) >= 5
      AND n_chars >= 20
    ORDER BY doc_id
    """,
)
def pipeline_dedup_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end ingest pipeline slice: exact-dedup (hash groupBy,
    deterministic min-id survivor) → quality gate (token/char minimums)
    → training-set projection. ONE corpus scan and one partial-agged
    shuffle: the survivor row is picked as min(struct(doc_id, ...)) —
    struct comparison orders by doc_id first, so the min-id survivor's
    own columns ride along (the min-id + semi-join-back form scanned the
    corpus twice AND shuffled the full doc_id key set a second time).
    The shuffle carries (md5, skinny struct), never the text."""
    docs = load_table(spark, sf_dir, "documents")
    surv = (
        docs.select(
            F.md5("text").alias("h"),
            F.struct(
                "doc_id",
                "lang",
                "source",
                text.token_count("text").alias("n_tokens"),
                "n_chars",
            ).alias("s"),
        )
        .groupBy("h")
        .agg(F.min("s").alias("s"))
        .select("s.doc_id", "s.lang", "s.source", "s.n_tokens", "s.n_chars")
    )
    return (
        surv.filter((F.col("n_tokens") >= 5) & (F.col("n_chars") >= 20))
        .drop("n_chars")
        .orderBy("doc_id")
    )


@register(
    "emb_kmeans",
    oracle=clustering.kmeans_oracle(k=8, n_iter=3),
)
def emb_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd's k-means (k=8, 3 iterations) over the embedding corpus —
    the iterative-algorithm class (corpus clustering for mixture
    balancing). Assignment is a zero-shuffle map stage (array_min over k
    literal-centroid distances); each update is one (cluster, dim)
    hash-agg shuffle; the DuckDB oracle replays the identical iterations
    (same deterministic init, 6-dp centroid rounding, lowest-cluster
    tie-break) so even the ASSIGNMENTS are oracle-gated, not rows-only."""
    emb = load_table(spark, sf_dir, "embeddings")
    return clustering.kmeans_assign(emb, k=8, n_iter=3).orderBy("vec_id")


@register(
    "emb_pca_project",
    oracle=clustering.power_iteration_oracle(n_iter=6, nq=20, dim=64),
)
def emb_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dominant-component PCA projection by QUANTIZED power iteration —
    oracle-gated end-to-end since r6 (VERDICT r5 #4). The full-k
    eigensolve path (llm/clustering.pca_project: Arrow partial Gram
    reduce → driver eigh → literal-matrix JVM projection) remains the
    production API, pinned by the numpy-subspace-parity test and the
    oracle-gated invariant twin `emb_pca_contract`; THIS entry walks 6
    power iterations with every piece of state (mean vector, each
    iterate) snapped to a 1e-6 grid on both engines — the kmeans_oracle
    discipline — so DuckDB replays the exact trajectory: identical
    iterate, identical Rayleigh quotient, identical per-row
    projections. (On this near-isotropic fixture 6 iterations give a
    top-spectrum Krylov iterate, not the converged eigenvector — the
    reported Rayleigh quotient makes the convergence state part of the
    hash; the numpy replay test pins recurrence + spectrum bounds.)
    Each iteration is one posexplode+hash-agg pass over
    the persisted centered corpus (d rows to the driver — dimension-
    bounded, the k-means centroid contract); the projection is a
    zero-shuffle JVM fold."""
    emb = load_table(spark, sf_dir, "embeddings")
    return clustering.power_iteration_project(emb, n_iter=6, nq=20)


@register(
    "text_lm_score",
    oracle="""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    big AS (SELECT doc_id, w[i] AS w1, w[i+1] AS w2
            FROM toks, unnest(generate_series(1, len(w)-1)) AS t(i)
            WHERE len(w) >= 2),
    cb AS (SELECT w1, w2, count(*) AS cb FROM big GROUP BY 1, 2),
    ch AS (SELECT w1, count(*) AS ch FROM big GROUP BY 1),
    v AS (SELECT count(DISTINCT tok) AS v
          FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)),
    scored AS (
      SELECT b.doc_id, ln((cb.cb + 1) * 1.0 / (ch.ch + v.v)) AS lp
      FROM big b JOIN cb USING (w1, w2) JOIN ch USING (w1) CROSS JOIN v
    )
    SELECT doc_id, count(*) AS n_bigrams, round(avg(lp), 6) AS avg_logprob
    FROM scored GROUP BY doc_id ORDER BY doc_id
    """,
)
def text_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM quality filter: self-trained add-one-smoothed
    bigram LM, every doc scored by mean bigram log-probability — the
    fluency gate between heuristic quality features and model-based
    filtering in a pretraining pipeline. Deterministic train+score, so
    the WHOLE pipeline (counts, smoothing, log-probs) is oracle-replayed,
    not just sanity-checked. See llm/text.lm_bigram_score for the
    one-corpus-pass shuffle shape."""
    docs = load_table(spark, sf_dir, "documents")
    return text.lm_bigram_score(docs).orderBy("doc_id")


@register(
    "corpus_zipf_fit",
    oracle="""
    WITH tf AS (SELECT unnest(string_split(text, ' ')) AS term FROM documents),
    freq AS (SELECT term, count(*) AS f FROM tf GROUP BY term),
    ranked AS (SELECT f, row_number() OVER (ORDER BY f DESC, term) AS r FROM freq)
    SELECT CAST(count(*) AS BIGINT) AS vocab_size,
           round(regr_slope(ln(f), ln(r)), 4) AS zipf_slope,
           round(regr_r2(ln(f), ln(r)), 4) AS fit_r2
    FROM ranked
    """,
)
def corpus_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit of the corpus vocabulary: OLS slope and R² of
    ln(freq) against ln(rank) — the one-number sanity check that a text
    corpus is natural-language-shaped (slope ≈ -1) rather than
    boilerplate or noise; pipelines run it per source before mixing.
    The regression runs on the VOCAB frame (term, freq, rank), never
    the corpus — same scale posture as vocab_coverage_cutoff; ranks get
    a unique (freq desc, term) tie-break so both engines see identical
    points."""
    docs = load_table(spark, sf_dir, "documents")
    freq = text.term_counts(docs).withColumnRenamed("n", "f")
    ranked = freq.select(
        "f",
        F.row_number()
        .over(W.orderBy(F.col("f").desc(), F.col("term")))
        .alias("r"),
    )
    return ranked.agg(
        F.count("*").alias("vocab_size"),
        F.round(F.regr_slope(F.log("f"), F.log("r")), 4).alias("zipf_slope"),
        F.round(F.regr_r2(F.log("f"), F.log("r")), 4).alias("fit_r2"),
    )


@register(
    "emb_pca_contract",
    oracle="""
    SELECT count(*) AS n_rows, 8 AS k,
           TRUE AS ordered_ok, TRUE AS means_ok, TRUE AS ortho_ok
    FROM embeddings WHERE embedding IS NOT NULL AND len(list_filter(embedding, x -> x IS NULL OR NOT isfinite(x))) = 0 AND len(list_filter(embedding, x -> x <> 0)) > 0
    """,
)
def emb_pca_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA's mathematical GUARANTEES as an oracle-gated contract (same
    discipline as the histogram/percentile sketch entries — the
    projection VALUES are engine-ulp-specific, the INVARIANTS are not):
    component variances strictly descending (eigh order), projected
    means ~0 (the projection subtracts the mean offset), and pairwise
    projected covariances ~0 relative to the component scales
    (eigenvector orthogonality diagonalizes the covariance). All three
    verified against the actual projected corpus in ONE scan; a broken
    centering, sort, or sign step flips a boolean and fails the hash."""
    k = 8
    emb = load_table(spark, sf_dir, "embeddings")
    proj = clustering.pca_project(emb, k=k)
    aggs = [F.count("*").alias("n_rows")]
    aggs += [F.avg(f"pc{c}").alias(f"m{c}") for c in range(k)]
    aggs += [F.var_pop(f"pc{c}").alias(f"v{c}") for c in range(k)]
    aggs += [
        F.covar_pop(f"pc{i}", f"pc{j}").alias(f"c{i}_{j}")
        for i in range(k)
        for j in range(i + 1, k)
    ]
    row = proj.agg(*aggs)
    ordered = F.lit(True)
    for c in range(k - 1):
        ordered = ordered & (F.col(f"v{c}") >= F.col(f"v{c+1}"))
    means = F.lit(True)
    for c in range(k):
        means = means & (F.abs(F.col(f"m{c}")) <= F.sqrt(F.col(f"v{c}")) * 1e-4 + 1e-9)
    ortho = F.lit(True)
    for i in range(k):
        for j in range(i + 1, k):
            ortho = ortho & (
                F.abs(F.col(f"c{i}_{j}"))
                <= F.sqrt(F.col(f"v{i}") * F.col(f"v{j}")) * 1e-4 + 1e-9
            )
    # on a ZERO-ROW corpus every moment is NULL and the conjunctions
    # would be NULL — but the invariants hold VACUOUSLY (there is no
    # projection to violate them), which is exactly what the oracle's
    # constant-TRUE columns assert over count(*) = 0
    vac = F.col("n_rows") == 0
    return row.select(
        "n_rows",
        F.lit(k).alias("k"),
        F.when(vac, F.lit(True)).otherwise(ordered).alias("ordered_ok"),
        F.when(vac, F.lit(True)).otherwise(means).alias("means_ok"),
        F.when(vac, F.lit(True)).otherwise(ortho).alias("ortho_ok"),
    )


@register(
    "text_pmi_top_pairs",
    oracle="""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    big AS (SELECT w[i] AS w1, w[i+1] AS w2
            FROM toks, unnest(generate_series(1, len(w)-1)) AS t(i)
            WHERE len(w) >= 2),
    n AS (SELECT count(*) AS n_big FROM big),
    cb AS (SELECT w1, w2, count(*) AS c_xy FROM big GROUP BY 1, 2),
    c1 AS (SELECT w1, count(*) AS c_x FROM big GROUP BY 1),
    c2 AS (SELECT w2, count(*) AS c_y FROM big GROUP BY 1)
    SELECT w1, w2, c_xy,
           round(ln(c_xy * 1.0 * n.n_big / (c1.c_x * 1.0 * c2.c_y)), 6) AS pmi
    FROM cb JOIN c1 USING (w1) JOIN c2 USING (w2) CROSS JOIN n
    WHERE c_xy >= 5
    ORDER BY pmi DESC, w1, w2 LIMIT 20
    """,
)
def text_pmi_top_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top collocations by pointwise mutual information —
    PMI(x,y) = ln(c_xy·N / (c_x·c_y)) over adjacent token pairs with a
    minimum-count floor (PMI is noise without one): the classic
    phrase-detection / tokenizer-merge-candidate statistic. Same
    exploded-bigram base shape as text_lm_score; the PMI join runs on
    bigram/unigram count frames (vocabulary-sized), the corpus is
    scanned for counting only."""
    docs = load_table(spark, sf_dir, "documents")
    big = (
        docs.select(text.tokens("text").alias("w"))
        .filter(F.size("w") >= 2)
        .select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.size("w") - 2),
                    lambda i: F.struct(
                        F.element_at(F.col("w"), i + 1).alias("w1"),
                        F.element_at(F.col("w"), i + 2).alias("w2"),
                    ),
                )
            ).alias("b")
        )
        .select("b.w1", "b.w2")
    )
    from pyspark import StorageLevel

    big = big.persist(StorageLevel.MEMORY_AND_DISK)
    n_big = big.count()  # scalar; materializes the persisted base too
    cb = big.groupBy("w1", "w2").agg(F.count("*").alias("c_xy"))
    c1 = big.groupBy("w1").agg(F.count("*").alias("c_x"))
    c2 = big.groupBy("w2").agg(F.count("*").alias("c_y"))
    return (
        cb.join(c1, "w1")
        .join(c2, "w2")
        .filter(F.col("c_xy") >= 5)
        .select(
            "w1",
            "w2",
            "c_xy",
            F.round(
                F.log(F.col("c_xy") * F.lit(float(n_big)) / (F.col("c_x") * 1.0 * F.col("c_y"))),
                6,
            ).alias("pmi"),
        )
        .orderBy(F.col("pmi").desc(), "w1", "w2")
        .limit(20)
    )


@register(
    "dedup_graph_degrees",
    oracle="""
    WITH sh AS (
      SELECT doc_id, list_distinct(list_transform(generate_series(1, len(w)-2),
             i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingles
      FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
    ),
    ex AS (SELECT doc_id, len(shingles) AS n_sh, unnest(shingles) AS s FROM sh),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
      HAVING count(*) * 1.0 / (any_value(a.n_sh) + any_value(b.n_sh) - count(*)) >= 0.5
    ),
    deg AS (SELECT doc_id, count(*) AS degree FROM (
              SELECT doc_a AS doc_id FROM pairs
              UNION ALL SELECT doc_b FROM pairs) GROUP BY doc_id)
    SELECT degree, count(*) AS n_docs
    FROM deg GROUP BY degree ORDER BY degree
    """,
)
def dedup_graph_degrees(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the near-dup similarity graph — the
    triage report read BEFORE running connected components: a heavy tail
    here means template/boilerplate clusters (and a skewed CC workload).
    Built from the same postings-join pair set as dedup_jaccard_pairs;
    the degree agg and histogram run on the (tiny) pair/degree frames."""
    from hive_release_spark.llm import dedup as dedup_mod

    pairs = dedup_mod.jaccard_pairs(load_table(spark, sf_dir, "documents"), n=3, threshold=0.5)
    deg = (
        pairs.select(F.col("doc_a").alias("doc_id"))
        .unionAll(pairs.select(F.col("doc_b").alias("doc_id")))
        .groupBy("doc_id")
        .agg(F.count("*").alias("degree"))
    )
    # one row per distinct degree
    return bounded_sort(deg.groupBy("degree").agg(F.count("*").alias("n_docs")), "degree")


@register(
    "corpus_length_histogram",
    oracle="""
    SELECT CAST(len(string_split(text, ' ')) // 16 AS BIGINT) AS bucket,
           CAST(len(string_split(text, ' ')) // 16 * 16 AS BIGINT) AS bucket_lo,
           count(*) AS n_docs,
           CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens
    FROM documents
    GROUP BY 1, 2 ORDER BY bucket
    """,
)
def corpus_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-length histogram (16-token buckets) — the sequence-length
    planning input: pack budgets, truncation rates, and padding waste
    all read off this distribution before a tokenization run is sized.
    Scan-side bucket arithmetic, one tiny-keyspace aggregation."""
    docs = load_table(spark, sf_dir, "documents")
    n = F.size(text.tokens("text"))
    # one row per 16-token length bucket
    return bounded_sort(
        docs.select(
            F.floor(n / 16).cast("long").alias("bucket"),
            (F.floor(n / 16) * 16).cast("long").alias("bucket_lo"),
            n.alias("n_tok"),
        )
        .groupBy("bucket", "bucket_lo")
        .agg(F.count("*").alias("n_docs"), F.sum("n_tok").cast("long").alias("total_tokens")),
        "bucket",
    )


@register(
    "sim_hard_negatives",
    oracle="""
    WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings WHERE embedding IS NOT NULL AND len(list_filter(embedding, x -> x IS NULL OR NOT isfinite(x))) = 0 AND len(list_filter(embedding, x -> x <> 0)) > 0),
    sims AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             c.label AS neighbor_label,
             list_cosine_similarity(q.v, c.v) AS sim
      FROM e q JOIN e c ON q.label <> c.label
      WHERE q.vec_id < 20
    ),
    ranked AS (
      SELECT query_id, neighbor_id, neighbor_label, sim,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY sim DESC, neighbor_id) AS rank
      FROM sims
    )
    SELECT query_id, neighbor_id, neighbor_label, round(sim, 6) AS sim, rank
    FROM ranked WHERE rank <= 5
    """,
)
def sim_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training: per query vector,
    the top-5 most-similar vectors with a DIFFERENT label — the
    near-miss examples that give a contrastive/embedding objective its
    gradient signal (random negatives are trivially separable). Same
    broadcast-queries / corpus-never-shuffles shape as sim_cosine_topk;
    the label-mismatch predicate rides the broadcast join condition, so
    same-label candidates are dropped before any similarity is scored.
    """
    # vector-geometry contract v2 (r12 vector-specials axis):
    # corrupt vectors (NaN/Inf component, zero norm) dropped at the
    # load — BEFORE any slicing/arm split, so every pass sees the
    # same population; oracle twin mirrors on the full embedding
    emb = load_table(spark, sf_dir, "embeddings").filter(
        similarity.vec_valid("embedding")
    )
    q = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("query_label"),
        similarity.as_double_vec("embedding").alias("qv"),
    ).withColumn("qn", similarity.norm(F.col("qv")))  # per-row norm (r12)
    c = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("neighbor_label"),
        similarity.as_double_vec("embedding").alias("cv"),
    ).withColumn("cn", similarity.norm(F.col("cv")))
    sims = (
        c.join(F.broadcast(q), F.col("query_label") != F.col("neighbor_label"))
        .withColumn(
            "sim",
            similarity.cosine_pre(
                F.col("qv"), F.col("cv"), F.col("qn"), F.col("cn")
            ),
        )
        .select("query_id", "neighbor_id", "neighbor_label", "sim")
    )
    return similarity.rank_neighbors(sims, 5, "neighbor_label")


@register(
    "emb_matryoshka_recall",
    oracle="""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE embedding IS NOT NULL AND len(list_filter(embedding, x -> x IS NULL OR NOT isfinite(x))) = 0 AND len(list_filter(embedding, x -> x <> 0)) > 0),
    fr AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY q.vec_id
                 ORDER BY list_cosine_similarity(q.v, c.v) DESC, c.vec_id)
                   AS rk
        FROM e q JOIN e c ON q.vec_id <> c.vec_id
        WHERE q.vec_id < 20) WHERE rk <= 5),
    tr AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY q.vec_id
                 ORDER BY list_cosine_similarity(q.v[1:16], c.v[1:16]) DESC,
                          c.vec_id) AS rk
        FROM e q JOIN e c ON q.vec_id <> c.vec_id
        WHERE q.vec_id < 20) WHERE rk <= 5),
    ov AS (SELECT query_id, count(*) AS n_overlap
           FROM fr JOIN tr USING (query_id, neighbor_id) GROUP BY 1)
    SELECT q.query_id, CAST(coalesce(ov.n_overlap, 0) AS BIGINT) AS n_overlap,
           round(coalesce(ov.n_overlap, 0) / 5.0, 2) AS recall_at_5
    FROM (SELECT DISTINCT query_id FROM fr) q
    LEFT JOIN ov USING (query_id)
    ORDER BY q.query_id
    """,
)
def emb_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-truncation retrieval quality: top-5 neighbors from the
    FIRST 16 of 64 dimensions vs the full-dimension ranking, reported
    as per-query overlap/recall — the evaluation a pipeline runs before
    serving truncated (4x cheaper to scan and shuffle) MRL embeddings.
    Two broadcast-query rank passes over one corpus (the truncated pass
    scans 1/4 of the vector bytes — the whole point) + a skinny overlap
    join on (query, neighbor); the corpus never shuffles. Fully
    deterministic (cosine tie-break on neighbor id), so recall itself
    is oracle-gated — no tolerance band needed."""
    # vector-geometry contract v2 (r12 vector-specials axis):
    # corrupt vectors (NaN/Inf component, zero norm) dropped at the
    # load — BEFORE any slicing/arm split, so every pass sees the
    # same population; oracle twin mirrors on the full embedding
    emb = load_table(spark, sf_dir, "embeddings").filter(
        similarity.vec_valid("embedding")
    )
    q = emb.filter(F.col("vec_id") < 20)
    # r13 (guide §1.2): both geometries ride ONE broadcast pair pass
    # (the former shape ran brute_force_topk twice — and consumed the
    # full-dim result twice unpersisted, so the full-dim corpus join
    # executed twice more). The persisted pair frame is skinny
    # (ids + 2 sims + flag); the two rank windows replay the old
    # per-pass windows exactly — identical sims (dual_topk_pairs'
    # bit-identity contract), identical tie-breaks, and filter(ok_p)
    # restores the trunc pass's sliced-vector validity population.
    pairs = similarity.dual_topk_pairs(q, emb, prefix_len=16)
    wf = W.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id")
    )
    wp = W.partitionBy("query_id").orderBy(
        F.col("sim_p").desc(), F.col("neighbor_id")
    )
    full = (
        pairs.withColumn("rank", F.row_number().over(wf))
        .filter(F.col("rank") <= 5)
        .select("query_id", "neighbor_id")
    )
    trunc = (
        pairs.filter("ok_p")
        .withColumn("rank", F.row_number().over(wp))
        .filter(F.col("rank") <= 5)
        .select("query_id", "neighbor_id")
    )
    ov = (
        full.join(trunc, ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count("*").alias("n_overlap"))
    )
    return (
        full.select("query_id")
        .distinct()
        .join(ov, "query_id", "left")
        .select(
            "query_id",
            F.coalesce("n_overlap", F.lit(0)).cast("long").alias("n_overlap"),
            F.round(F.coalesce("n_overlap", F.lit(0)) / 5.0, 2).alias("recall_at_5"),
        )
        .orderBy("query_id")
    )


@register(
    "emb_cluster_separation",
    oracle="""
    WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings WHERE embedding IS NOT NULL AND len(list_filter(embedding, x -> x IS NULL OR NOT isfinite(x))) = 0 AND len(list_filter(embedding, x -> x <> 0)) > 0),
    c AS (
      SELECT label, pos, avg(val) AS cv FROM (
        SELECT label, unnest(v) AS val, generate_subscripts(v, 1) AS pos
        FROM e)
      GROUP BY 1, 2),
    cents AS (SELECT label, list(cv ORDER BY pos) AS cvec FROM c GROUP BY 1),
    intra AS (
      SELECT e.label, count(*) AS n,
             round(avg(sqrt(list_sum(list_transform(
                 list_zip(e.v, cents.cvec),
                 p -> (p[1] - p[2]) * (p[1] - p[2]))))), 6) AS mean_dist
      FROM e JOIN cents ON e.label = cents.label GROUP BY e.label),
    gaps AS (
      SELECT a.label,
             min(sqrt(list_sum(list_transform(
                 list_zip(a.cvec, b.cvec),
                 p -> (p[1] - p[2]) * (p[1] - p[2]))))) AS min_gap
      FROM cents a JOIN cents b ON a.label <> b.label GROUP BY a.label)
    SELECT i.label, i.n, i.mean_dist,
           round(g.min_gap, 6) AS nearest_centroid_gap,
           round(i.mean_dist / g.min_gap, 6) AS compactness_ratio
    FROM intra i JOIN gaps g ON i.label = g.label
    ORDER BY i.label
    """,
)
def emb_cluster_separation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-separation diagnostics per label: mean Euclidean distance
    to the OWN centroid (compactness) vs the nearest OTHER centroid
    (separation), and their ratio (a Davies-Bouldin-style score; < 0.5
    = well-separated). This is the 100 TB clustering-quality metric:
    silhouette needs all-pairs distances (n²), while this reads ONE
    (label, dim) aggregate + a k x k centroid table — the corpus is
    scanned once for centroids and once for distances, and the k² gap
    join is dimension-table-sized. Centroid attach is a broadcast join
    on label; everything re-derives exactly in SQL, so the scores are
    oracle-gated, not tolerance-banded."""
    # vector-geometry contract v2 (r12 vector-specials axis):
    # corrupt vectors (NaN/Inf component, zero norm) dropped at the
    # load — BEFORE any slicing/arm split, so every pass sees the
    # same population; oracle twin mirrors on the full embedding
    emb = load_table(spark, sf_dir, "embeddings").filter(
        similarity.vec_valid("embedding")
    )
    e = emb.select(
        "vec_id", "label", similarity.as_double_vec("embedding").alias("v")
    )
    cents = (
        e.select("label", F.posexplode("v").alias("pos", "val"))
        .groupBy("label", "pos")
        .agg(F.avg("val").alias("cv"))
        .groupBy("label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "cv"))),
                lambda s: s["cv"],
            ).alias("cvec")
        )
    )
    dist = lambda a, b: F.sqrt(
        F.aggregate(
            F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, d: acc + d,
        )
    )
    intra = (
        e.join(F.broadcast(cents), "label")
        .groupBy("label")
        .agg(
            F.count("*").alias("n"),
            F.round(F.avg(dist(F.col("v"), F.col("cvec"))), 6).alias("mean_dist"),
        )
    )
    a, b = cents.alias("a"), cents.alias("b")
    gaps = (
        a.join(b, F.col("a.label") != F.col("b.label"))
        .groupBy(F.col("a.label").alias("label"))
        .agg(F.min(dist(F.col("a.cvec"), F.col("b.cvec"))).alias("min_gap"))
    )
    return (
        intra.join(gaps, "label")
        .select(
            "label",
            "n",
            "mean_dist",
            F.round("min_gap", 6).alias("nearest_centroid_gap"),
            F.round(F.col("mean_dist") / F.col("min_gap"), 6).alias(
                "compactness_ratio"
            ),
        )
        .orderBy("label")
    )


@register(
    "corpus_heaps_fit",
    oracle="""
    WITH terms AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
    firsts AS (SELECT term, min(doc_id) AS first_doc FROM terms GROUP BY 1),
    per_doc AS (
      SELECT t.doc_id,
             count(*) AS n_tok,
             count(DISTINCT f.term) AS n_new
      FROM terms t LEFT JOIN firsts f
        ON t.term = f.term AND t.doc_id = f.first_doc
      GROUP BY 1),
    curve AS (
      SELECT doc_id,
             sum(n_tok) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
                 AS cum_tok,
             sum(n_new) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
                 AS cum_vocab
      FROM per_doc),
    pts AS (SELECT ln(cum_tok) AS x, ln(cum_vocab) AS y FROM curve)
    SELECT CAST(count(*) AS BIGINT) AS n_points,
           round(regr_slope(y, x), 4) AS beta,
           round(exp(regr_intercept(y, x)), 4) AS k,
           round(regr_r2(y, x), 4) AS r2
    FROM pts
    """,
)
def corpus_heaps_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law fit: vocabulary growth V ≈ K·Nᵝ over the corpus read
    in doc_id order — the companion to `corpus_zipf_fit` (natural text:
    β ≈ 0.4–0.6; β near 1 = ID-like "vocabulary" that never saturates,
    β near 0 = template text). New-term counts come from a min-doc
    first-occurrence join (one term-frequency-style shuffle), the
    growth curve is a cumsum over the DOC-cardinality frame, and the
    log-log OLS runs via regr_* on that frame — the corpus is scanned
    once. The global-order cumsum window rides a doc-count frame, same
    justification as the vocab-coverage cutoff. n_new counts DISTINCT
    first-occurrence terms per doc (a term repeated within its debut
    document is one vocabulary item, not several), so cum_vocab is
    true distinct-vocabulary growth and the fitted K/β are the actual
    Heaps parameters."""
    docs = load_table(spark, sf_dir, "documents")
    terms = docs.select(
        "doc_id", F.explode(text.tokens("text")).alias("term")
    )
    firsts = terms.groupBy("term").agg(F.min("doc_id").alias("first_doc"))
    firsts = firsts.select(
        F.col("term").alias("f_term"), F.col("first_doc")
    )
    per_doc = (
        terms.join(
            firsts,
            (F.col("term") == F.col("f_term"))
            & (F.col("doc_id") == F.col("first_doc")),
            "left",
        )
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tok"),
            F.countDistinct("f_term").alias("n_new"),
        )
    )
    wc = W.orderBy("doc_id").rowsBetween(W.unboundedPreceding, 0)
    curve = per_doc.select(
        F.sum("n_tok").over(wc).alias("cum_tok"),
        F.sum("n_new").over(wc).alias("cum_vocab"),
    )
    pts = curve.select(
        F.log("cum_tok").alias("x"), F.log("cum_vocab").alias("y")
    )
    return pts.agg(
        F.count("*").alias("n_points"),
        F.round(F.regr_slope("y", "x"), 4).alias("beta"),
        F.round(F.exp(F.regr_intercept("y", "x")), 4).alias("k"),
        F.round(F.regr_r2("y", "x"), 4).alias("r2"),
    )


@register(
    "sim_mmr_rerank",
    oracle="""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE embedding IS NOT NULL AND len(list_filter(embedding, x -> x IS NULL OR NOT isfinite(x))) = 0 AND len(list_filter(embedding, x -> x <> 0)) > 0),
    q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 8),
    cand AS (
      SELECT query_id, vec_id, cv, rel FROM (
        SELECT q.query_id, c.vec_id, c.v AS cv,
               list_cosine_similarity(q.qv, c.v) AS rel,
               row_number() OVER (PARTITION BY q.query_id
                 ORDER BY list_cosine_similarity(q.qv, c.v) DESC, c.vec_id)
                   AS rk
        FROM q JOIN e c ON q.query_id <> c.vec_id) WHERE rk <= 10),
    s1 AS (
      SELECT query_id, vec_id AS s1_id, cv AS s1_v, rel AS s1_score FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                    ORDER BY rel DESC, vec_id) AS rk FROM cand) WHERE rk = 1),
    s2 AS (
      SELECT query_id, vec_id AS s2_id, cv AS s2_v, mmr AS s2_score FROM (
        SELECT c.query_id, c.vec_id, c.cv,
               0.7 * c.rel - 0.3 * list_cosine_similarity(c.cv, s1.s1_v) AS mmr,
               row_number() OVER (PARTITION BY c.query_id ORDER BY
                 0.7 * c.rel - 0.3 * list_cosine_similarity(c.cv, s1.s1_v)
                   DESC, c.vec_id) AS rk
        FROM cand c JOIN s1 ON c.query_id = s1.query_id
        WHERE c.vec_id <> s1.s1_id) WHERE rk = 1),
    s3 AS (
      SELECT query_id, vec_id AS s3_id, mmr AS s3_score FROM (
        SELECT c.query_id, c.vec_id,
               0.7 * c.rel - 0.3 * greatest(
                   list_cosine_similarity(c.cv, s1.s1_v),
                   list_cosine_similarity(c.cv, s2.s2_v)) AS mmr,
               row_number() OVER (PARTITION BY c.query_id ORDER BY
                 0.7 * c.rel - 0.3 * greatest(
                     list_cosine_similarity(c.cv, s1.s1_v),
                     list_cosine_similarity(c.cv, s2.s2_v)) DESC, c.vec_id)
                   AS rk
        FROM cand c
        JOIN s1 ON c.query_id = s1.query_id
        JOIN s2 ON c.query_id = s2.query_id
        WHERE c.vec_id <> s1.s1_id AND c.vec_id <> s2.s2_id) WHERE rk = 1)
    SELECT s1.query_id, s1.s1_id, round(s1.s1_score, 6) AS s1_score,
           s2.s2_id, round(s2.s2_score, 6) AS s2_score,
           s3.s3_id, round(s3.s3_score, 6) AS s3_score
    FROM s1 JOIN s2 ON s1.query_id = s2.query_id
            JOIN s3 ON s1.query_id = s3.query_id
    ORDER BY s1.query_id
    """,
)
def sim_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (lambda=0.7): pick 3
    results that balance query relevance against redundancy with the
    already-picked set — the diversity step between ANN retrieval and a
    RAG context window. Greedy selection is inherently sequential, so
    the k rounds are UNROLLED as dataframe stages (k is a small serving
    constant): each round is an argmax window over the per-query
    candidate frame (top-10 from one broadcast cosine pass; the corpus
    is touched once, rounds only re-rank the 10-row candidate set).
    Fully deterministic (vec_id tie-breaks) -> the greedy trace itself
    is oracle-gated, stage by stage."""
    # vector-geometry contract v2 (r12 vector-specials axis):
    # corrupt vectors (NaN/Inf component, zero norm) dropped at the
    # load — BEFORE any slicing/arm split, so every pass sees the
    # same population; oracle twin mirrors on the full embedding
    emb = load_table(spark, sf_dir, "embeddings").filter(
        similarity.vec_valid("embedding")
    )
    e = emb.select(
        "vec_id", similarity.as_double_vec("embedding").alias("v")
    ).withColumn("nv", similarity.norm(F.col("v")))  # per-row norm (r12)
    q = e.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("nv").alias("qn"),
    )
    cand = (
        e.join(F.broadcast(q), F.col("query_id") != F.col("vec_id"))
        .withColumn(
            "rel",
            similarity.cosine_pre(
                F.col("qv"), F.col("v"), F.col("qn"), F.col("nv")
            ),
        )
        .withColumn(
            "rk",
            F.row_number().over(
                W.partitionBy("query_id").orderBy(F.desc("rel"), "vec_id")
            ),
        )
        .filter(F.col("rk") <= 10)
        .select("query_id", "vec_id", F.col("v").alias("cv"), "rel")
    )
    cand = cand.localCheckpoint(eager=True)  # 10 rows/query; reused 3x

    def _argmax(df, score, keep):
        w = W.partitionBy("query_id").orderBy(F.desc("__s"), "vec_id")
        return (
            df.withColumn("__s", score)
            .withColumn("__rk", F.row_number().over(w))
            .filter(F.col("__rk") == 1)
            .select("query_id", *keep)
        )

    s1 = _argmax(
        cand,
        F.col("rel"),
        [
            F.col("vec_id").alias("s1_id"),
            F.col("cv").alias("s1_v"),
            F.col("__s").alias("s1_score"),
        ],
    )
    c2 = cand.join(s1, "query_id").filter(F.col("vec_id") != F.col("s1_id"))
    mmr2 = 0.7 * F.col("rel") - 0.3 * similarity.cosine(
        F.col("cv"), F.col("s1_v")
    )
    s2 = _argmax(
        c2,
        mmr2,
        [
            F.col("vec_id").alias("s2_id"),
            F.col("cv").alias("s2_v"),
            F.col("__s").alias("s2_score"),
        ],
    )
    c3 = (
        cand.join(s1, "query_id")
        .join(s2, "query_id")
        .filter(
            (F.col("vec_id") != F.col("s1_id"))
            & (F.col("vec_id") != F.col("s2_id"))
        )
    )
    mmr3 = 0.7 * F.col("rel") - 0.3 * F.greatest(
        similarity.cosine(F.col("cv"), F.col("s1_v")),
        similarity.cosine(F.col("cv"), F.col("s2_v")),
    )
    s3 = _argmax(
        c3, mmr3, [F.col("vec_id").alias("s3_id"), F.col("__s").alias("s3_score")]
    )
    return (
        s1.select("query_id", "s1_id", F.round("s1_score", 6).alias("s1_score"))
        .join(
            s2.select(
                "query_id", "s2_id", F.round("s2_score", 6).alias("s2_score")
            ),
            "query_id",
        )
        .join(
            s3.select(
                "query_id", "s3_id", F.round("s3_score", 6).alias("s3_score")
            ),
            "query_id",
        )
        .orderBy("query_id")
    )


_BM25_TERMS = ("spark", "table", "query")


@register(
    "search_bm25_rank",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
    dl AS (SELECT doc_id, count(*) AS dlen FROM toks GROUP BY 1),
    stats AS (SELECT count(*) AS n_docs, avg(dlen) AS avg_len FROM dl),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM toks
           WHERE term IN {_BM25_TERMS} GROUP BY 1, 2),
    df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
    scored AS (
      SELECT tf.doc_id,
             sum(ln((stats.n_docs - df.df + 0.5) / (df.df + 0.5) + 1.0)
                 * (tf.tf * 2.2)
                 / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dlen / stats.avg_len)))
                 AS score
      FROM tf
      JOIN df USING (term)
      JOIN dl USING (doc_id)
      CROSS JOIN stats
      GROUP BY tf.doc_id)
    SELECT doc_id, round(score, 6) AS bm25, rk FROM (
      SELECT doc_id, score,
             -- rank on the REPORTED precision: the raw float sum
             -- differs between engines in the last ulp, so a sub-1e-6
             -- near-tie can flip raw-score ranks
             row_number() OVER (ORDER BY round(score, 6) DESC, doc_id)
               AS rk
      FROM scored)
    WHERE rk <= 20 ORDER BY rk
    """,
)
def search_bm25_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 document ranking (k1=1.2, b=0.75) for a fixed keyword query
    — THE lexical-retrieval scoring function, and the missing half of
    hybrid search next to the cosine rankers. One corpus tokenize pass
    feeds doc lengths and term frequencies; the query-term filter
    prunes the tf frame BEFORE the df/doc-length joins (at 100 TB the
    per-term postings are query-sized, never vocabulary-sized); corpus
    stats ride a 1-row broadcast. Deterministic end-to-end — idf/tf
    algebra replayed exactly by the oracle, doc_id tie-break on the
    rank."""
    docs = load_table(spark, sf_dir, "documents")
    # the query is 3 literal terms, so the corpus stats and document
    # frequencies are a 1-row rollup of the doc-grain frame (df_i =
    # docs with tf_i > 0); scoring sums over present terms only (an
    # absent posting contributes exactly 0) and drops docs with none
    per_doc = text.query_term_stats(docs, _BM25_TERMS)
    stats = per_doc.agg(
        F.count("*").alias("n_docs"),
        F.avg("dlen").alias("avg_len"),
        *[
            F.sum((F.col(f"tf_{i}") > 0).cast("long")).alias(f"df_{i}")
            for i in range(len(_BM25_TERMS))
        ],
    )

    def term_score(i):
        idf = F.log(
            (F.col("n_docs") - F.col(f"df_{i}") + 0.5)
            / (F.col(f"df_{i}") + 0.5)
            + 1.0
        )
        norm = F.col(f"tf_{i}") + 1.2 * (
            0.25 + 0.75 * F.col("dlen") / F.col("avg_len")
        )
        return F.when(
            F.col(f"tf_{i}") > 0,
            idf * (F.col(f"tf_{i}") * 2.2) / norm,
        ).otherwise(F.lit(0.0))

    hit = sum(F.col(f"tf_{i}") for i in range(len(_BM25_TERMS)))
    scored = (
        per_doc.crossJoin(F.broadcast(stats))
        .filter(hit > 0)
        .select(
            "doc_id",
            sum(term_score(i) for i in range(len(_BM25_TERMS))).alias(
                "score"
            ),
        )
    )
    return (
        # rank on the reported precision — the raw float sum is
        # engine-wobbly at the last ulp. PROBABILISTIC, not absolute: a
        # raw score straddling a 6th-decimal rounding boundary could
        # still round (and rank) differently per engine; round() only
        # shrinks the vulnerable set from "every near-tie" to "ties
        # within one ulp OF a boundary". The fully deterministic
        # alternative — an exact integer surrogate (BIGINT-quantized
        # score) — costs a documented contract change; adopt it if this
        # ever wobbles in practice. Shared by search_tfidf_cosine and
        # graph_adamic_adar.
        global_topk(scored, 20, F.desc(F.round("score", 6)), "doc_id")
        .select("doc_id", F.round("score", 6).alias("bm25"), "rk")
        .orderBy("rk")
    )


@register(
    "sim_rrf_fusion",
    oracle="""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE embedding IS NOT NULL AND len(list_filter(embedding, x -> x IS NULL OR NOT isfinite(x))) = 0 AND len(list_filter(embedding, x -> x <> 0)) > 0),
    fr AS (
      SELECT query_id, neighbor_id, rk FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY q.vec_id
                 ORDER BY list_cosine_similarity(q.v, c.v) DESC, c.vec_id)
                   AS rk
        FROM e q JOIN e c ON q.vec_id <> c.vec_id
        WHERE q.vec_id < 10) WHERE rk <= 10),
    tr AS (
      SELECT query_id, neighbor_id, rk FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY q.vec_id
                 ORDER BY list_cosine_similarity(q.v[1:16], c.v[1:16]) DESC,
                          c.vec_id) AS rk
        FROM e q JOIN e c ON q.vec_id <> c.vec_id
        WHERE q.vec_id < 10) WHERE rk <= 10),
    fused AS (
      SELECT coalesce(fr.query_id, tr.query_id) AS query_id,
             coalesce(fr.neighbor_id, tr.neighbor_id) AS neighbor_id,
             coalesce(1.0 / (60 + fr.rk), 0.0)
               + coalesce(1.0 / (60 + tr.rk), 0.0) AS rrf
      FROM fr FULL OUTER JOIN tr
        ON fr.query_id = tr.query_id AND fr.neighbor_id = tr.neighbor_id)
    SELECT query_id, neighbor_id, round(rrf, 6) AS rrf, rk FROM (
      SELECT query_id, neighbor_id, rrf,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY rrf DESC, neighbor_id) AS rk
      FROM fused)
    WHERE rk <= 5 ORDER BY query_id, rk
    """,
)
def sim_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal Rank Fusion (k=60) of two retrieval lists — the
    standard hybrid-search combiner (score-free, so it fuses rankers
    with incomparable score scales; here: full-dimension cosine and the
    16-dim Matryoshka ranker, the cheap/expensive pair a tiered
    retriever actually runs). Each ranker is a broadcast-queries rank
    pass; fusion is a FULL OUTER join of two (query, neighbor, rank)
    frames — top-10 per ranker, so the join input is query-count-sized,
    never corpus-sized. Deterministic ranks -> the fused list is
    oracle-gated exactly."""
    # vector-geometry contract v2 (r12 vector-specials axis):
    # corrupt vectors (NaN/Inf component, zero norm) dropped at the
    # load — BEFORE any slicing/arm split, so every pass sees the
    # same population; oracle twin mirrors on the full embedding
    emb = load_table(spark, sf_dir, "embeddings").filter(
        similarity.vec_valid("embedding")
    )
    q = emb.filter(F.col("vec_id") < 10)
    # r13 (guide §1.2): both rankers ride ONE broadcast pair pass
    # (dual_topk_pairs — was two brute_force_topk corpus joins); the
    # two rank windows replay the old per-pass windows exactly, and
    # filter(ok_p) restores the 16-dim pass's sliced-vector validity
    # population.
    pairs = similarity.dual_topk_pairs(q, emb, prefix_len=16)
    wa = W.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id")
    )
    wb = W.partitionBy("query_id").orderBy(
        F.col("sim_p").desc(), F.col("neighbor_id")
    )
    fr = (
        pairs.withColumn("rk_a", F.row_number().over(wa))
        .filter(F.col("rk_a") <= 10)
        .select("query_id", "neighbor_id", "rk_a")
    )
    tr = (
        pairs.filter("ok_p")
        .withColumn("rk_b", F.row_number().over(wb))
        .filter(F.col("rk_b") <= 10)
        .select("query_id", "neighbor_id", "rk_b")
    )
    fused = (
        fr.join(tr, ["query_id", "neighbor_id"], "full_outer")
        .select(
            "query_id",
            "neighbor_id",
            (
                F.coalesce(1.0 / (60 + F.col("rk_a")), F.lit(0.0))
                + F.coalesce(1.0 / (60 + F.col("rk_b")), F.lit(0.0))
            ).alias("rrf"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.desc("rrf"), "neighbor_id")
    return (
        fused.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
        .select("query_id", "neighbor_id", F.round("rrf", 6).alias("rrf"), "rk")
        .orderBy("query_id", "rk")
    )


@register(
    "text_chunk_sliding",
    oracle="""
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    n AS (SELECT doc_id, toks, len(toks) AS n_tok FROM w),
    idx AS (
      SELECT doc_id, toks, n_tok,
             unnest(generate_series(0,
                 CAST(greatest(0, ceil((n_tok - 64) / 48.0)) AS BIGINT))) AS ci
      FROM n)
    SELECT doc_id, CAST(ci AS INTEGER) AS chunk_idx,
           array_to_string(toks[(ci*48 + 1):least(ci*48 + 64, n_tok)], ' ')
               AS chunk_text,
           CAST(least(ci*48 + 64, n_tok) - ci*48 AS INTEGER) AS chunk_len
    FROM idx
    ORDER BY doc_id, chunk_idx
    """,
)
def text_chunk_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunking (64-token chunks, stride 48 → 16-token
    overlap): the RAG-ingestion splitter between a cleaned corpus and
    the embedder. Pure map-side: tokenize once, explode the chunk-index
    sequence (bounded fan-out ceil(n/stride)), slice per index — zero
    shuffles, scales linearly with executors; overlap means boundary
    sentences appear in two chunks (the standard recall/storage trade,
    here 1/3 duplication). Chunk count, offsets, and the tail-chunk
    shortening are exactly oracle-replayed."""
    docs = load_table(spark, sf_dir, "documents")
    n = docs.select(
        "doc_id", text.tokens("text").alias("toks")
    ).withColumn("n_tok", F.size("toks"))
    last_idx = F.greatest(
        F.lit(0), F.ceil((F.col("n_tok") - 64) / 48.0)
    ).cast("long")
    idx = n.select(
        "doc_id",
        "toks",
        "n_tok",
        F.explode(F.sequence(F.lit(0).cast("long"), last_idx)).alias("ci"),
    )
    start = F.col("ci") * 48
    clen = F.least(start + 64, F.col("n_tok")) - start
    return idx.select(
        "doc_id",
        F.col("ci").cast("int").alias("chunk_idx"),
        F.array_join(
            F.slice("toks", (start + 1).cast("int"), clen.cast("int")), " "
        ).alias("chunk_text"),
        clen.cast("int").alias("chunk_len"),
    ).orderBy("doc_id", "chunk_idx")


@register(
    "text_readability",
    oracle="""
    WITH d AS (
      SELECT doc_id, lang,
             len(string_split(text, ' ')) AS n_words,
             greatest(len(regexp_split_to_array(text, '[.!?]+\\s')), 1)
                 AS n_sents,
             len(regexp_extract_all(lower(text), '[aeiouy]+')) AS n_syl
      FROM documents)
    SELECT doc_id, lang,
           CAST(n_words AS BIGINT) AS n_words,
           CAST(n_sents AS BIGINT) AS n_sents,
           CAST(n_syl AS BIGINT) AS n_syllables,
           round(206.835 - 1.015 * (n_words * 1.0 / n_sents)
                 - 84.6 * (n_syl * 1.0 / n_words), 4) AS flesch
    FROM d ORDER BY doc_id
    """,
)
def text_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease per document — the classic readability
    score (206.835 − 1.015·words/sentence − 84.6·syllables/word) with
    the standard regex syllable approximation (vowel-group count, the
    same heuristic readability libraries use when no dictionary is
    loaded) — a corpus-quality signal complementing the
    length/punct/stopword gates in `text_quality_scores`: boilerplate
    legal/spam text scores far below conversational prose. Pure
    scan-side JVM regex — zero shuffles, zero UDFs; the sentence
    count floor (≥1) keeps single-fragment docs out of the divide."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        text.token_count("text").alias("n_words"),
        F.greatest(
            F.size(F.split("text", r"[.!?]+\s")), F.lit(1)
        ).cast("long").alias("n_sents"),
        F.size(
            F.expr(r"regexp_extract_all(lower(text), '[aeiouy]+', 0)")
        ).cast("long").alias("n_syllables"),
    )
    return d.select(
        "doc_id",
        "lang",
        "n_words",
        "n_sents",
        "n_syllables",
        F.round(
            206.835
            - 1.015 * (F.col("n_words") * 1.0 / F.col("n_sents"))
            - 84.6 * (F.col("n_syllables") * 1.0 / F.col("n_words")),
            4,
        ).alias("flesch"),
    ).orderBy("doc_id")


@register(
    "emb_whitening",
    oracle="""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings WHERE embedding IS NOT NULL AND len(list_filter(embedding, x -> x IS NULL OR NOT isfinite(x))) = 0 AND len(list_filter(embedding, x -> x <> 0)) > 0),
    ex AS (SELECT vec_id, unnest(v) AS x,
                  generate_subscripts(v, 1) AS dim FROM e),
    st AS (SELECT dim, avg(x) AS m, stddev(x) AS s FROM ex GROUP BY 1),
    w AS (SELECT vec_id, (x - m) / s AS wx
          FROM ex JOIN st USING (dim) WHERE vec_id < 20)
    SELECT vec_id,
           round(sqrt(sum(wx * wx)), 6) AS wnorm,
           round(sum(wx), 6) AS wsum
    FROM w GROUP BY 1 ORDER BY 1
    """,
)
def emb_whitening(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension embedding STANDARDIZATION (diagonal whitening:
    x′ᵢ = (xᵢ − μᵢ)/σᵢ) — the preprocessing that stops high-variance
    dimensions from dominating cosine/L2 retrieval (and the diagonal
    special case of the ZCA whitening retrieval papers apply before
    indexing). Spark-first shape: ONE posexplode → per-dim partial agg
    builds the d-row (μ, σ) table; the table is then PACKED into a
    single sorted array row and attached by 1-row broadcast (the IVF
    packed-centroid idiom), so the whitening itself is a zero-shuffle
    zip_with over each vector — the corpus never moves. Output:
    whitened-norm + component-sum checksums for the probe vectors,
    exactly replayed by the oracle's explode-join formulation (the two
    formulations agreeing IS the test that the packed transform
    applies the right stat to the right dimension). Sample stddev on
    both engines."""
    # vector-geometry contract v2 (r12 vector-specials axis):
    # corrupt vectors (NaN/Inf component, zero norm) dropped at the
    # load — BEFORE any slicing/arm split, so every pass sees the
    # same population; oracle twin mirrors on the full embedding
    emb = load_table(spark, sf_dir, "embeddings").filter(
        similarity.vec_valid("embedding")
    )
    e = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    ex = e.select(
        "vec_id", F.posexplode("v").alias("dim", "x")
    )
    stats_packed = (
        ex.groupBy("dim")
        .agg(F.avg("x").alias("m"), F.stddev("x").alias("s"))
        .agg(
            F.array_sort(
                F.collect_list(F.struct("dim", "m", "s"))
            ).alias("st")
        )
    )
    w = (
        e.filter(F.col("vec_id") < 20)
        .crossJoin(F.broadcast(stats_packed))
        .select(
            "vec_id",
            F.zip_with(
                "v", "st", lambda x, s: (x - s.m) / s.s
            ).alias("wv"),
        )
    )
    acc0 = F.lit(0.0)
    return w.select(
        "vec_id",
        F.round(
            F.sqrt(F.aggregate("wv", acc0, lambda a, x: a + x * x)), 6
        ).alias("wnorm"),
        F.round(F.aggregate("wv", acc0, lambda a, x: a + x), 6).alias(
            "wsum"
        ),
    ).orderBy("vec_id")


_QL_TERMS = ("spark", "table", "query")
_QL_MU = 100.0


@register(
    "search_query_likelihood",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
    dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dlen FROM toks GROUP BY 1),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS t FROM toks),
    cf AS (SELECT term, CAST(count(*) AS BIGINT) AS cf FROM toks
           WHERE term IN {_QL_TERMS} GROUP BY 1),
    const AS (
      SELECT sum(ln({_QL_MU} * (CAST(cf AS DOUBLE) / t))) AS c0
      FROM cf CROSS JOIN tot),
    tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM toks
           WHERE term IN {_QL_TERMS} GROUP BY 1, 2),
    hits AS (
      SELECT tf.doc_id,
             sum(ln(1 + tf.tf / ({_QL_MU} * (CAST(cf.cf AS DOUBLE) / tot.t))))
               AS h
      FROM tf JOIN cf USING (term) CROSS JOIN tot
      GROUP BY 1),
    scored AS (
      SELECT dl.doc_id,
             const.c0 + coalesce(hits.h, 0)
               - 3 * ln(dl.dlen + {_QL_MU}) AS score
      FROM dl LEFT JOIN hits ON dl.doc_id = hits.doc_id
      CROSS JOIN const)
    SELECT doc_id, round(score, 6) AS ql_score, rk FROM (
      SELECT doc_id, score,
             row_number() OVER (ORDER BY score DESC, doc_id) AS rk
      FROM scored)
    WHERE rk <= 20 ORDER BY rk
    """,
)
def search_query_likelihood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DIRICHLET-SMOOTHED QUERY LIKELIHOOD ranking (Zhai & Lafferty
    2001) — the language-modeling retrieval twin of search_bm25_rank:
    score(d,q) = sum_t log((tf + mu*P(t|C)) / (dlen + mu)).  The naive
    form touches every (doc, term) pair including zeros; the engine
    runs the canonical DECOMPOSITION
      score = sum_t log(mu*P_t)            [query-only constant]
            + sum_{{t in d}} log(1 + tf/(mu*P_t))   [postings only]
            - |q| * log(dlen + mu)          [doc-length only]
    so the per-term work is POSTINGS-sized (docs actually containing a
    query term), the length term rides the doc-length frame, and the
    constant is a 1-row broadcast — the same pruning BM25 gets for
    free, recovered for a model where absent terms still score.  The
    oracle replays the decomposed arithmetic term for term, so floats
    agree exactly.  One corpus tokenize pass feeds lengths, collection
    frequencies, and tf; mu=100 suits the fixture's short docs."""
    docs = load_table(spark, sf_dir, "documents")
    mu = F.lit(_QL_MU)
    # the token total and the collection frequencies are a 1-row rollup
    # of the doc-grain frame (t = Σ dlen, cf_i = Σ tf_i); c0 sums
    # log(mu·cf/t) over present terms only and stays NULL when no query
    # term occurs anywhere (the oracle's convention), and the hit sum
    # contributes log(1 + tf/(mu·cf/t)) for tf > 0 only
    per_doc = text.query_term_stats(docs, _QL_TERMS)
    stats = per_doc.agg(
        F.sum("dlen").cast("long").alias("t"),
        *[
            F.sum(f"tf_{i}").cast("long").alias(f"cf_{i}")
            for i in range(len(_QL_TERMS))
        ],
    )

    def p_i(i):
        return mu * (F.col(f"cf_{i}").cast("double") / F.col("t"))

    any_present = None
    for i in range(len(_QL_TERMS)):
        c = F.col(f"cf_{i}") > 0
        any_present = c if any_present is None else (any_present | c)
    c0 = F.when(
        any_present,
        sum(
            F.coalesce(F.when(F.col(f"cf_{i}") > 0, F.log(p_i(i))), F.lit(0.0))
            for i in range(len(_QL_TERMS))
        ),
    )
    h = sum(
        F.coalesce(
            F.when(
                F.col(f"tf_{i}") > 0, F.log(1 + F.col(f"tf_{i}") / p_i(i))
            ),
            F.lit(0.0),
        )
        for i in range(len(_QL_TERMS))
    )
    scored = per_doc.crossJoin(F.broadcast(stats)).select(
        "doc_id",
        (c0 + h - 3 * F.log(F.col("dlen") + mu)).alias("score"),
    )
    return (
        global_topk(scored, 20, F.desc("score"), "doc_id")
        .select("doc_id", F.round("score", 6).alias("ql_score"), "rk")
        .orderBy("rk")
    )


@register(
    "text_rake_phrases",
    oracle="""
    WITH tok AS (
      SELECT doc_id, u.s.pos AS pos, u.s.t AS t
      FROM (SELECT doc_id,
                   list_transform(string_split(text, ' '),
                                  (x, i) -> {'pos': i, 't': x}) AS l
            FROM documents) d, unnest(d.l) AS u(s)),
    freq AS (SELECT t, CAST(count(*) AS BIGINT) AS freq FROM tok GROUP BY 1),
    delim AS (
      SELECT t FROM (
        SELECT t, row_number() OVER (ORDER BY freq DESC, t) AS r FROM freq)
      WHERE r <= 8),
    f AS (
      SELECT tok.doc_id, tok.pos, tok.t,
             (delim.t IS NOT NULL) AS stop,
             sum(CASE WHEN delim.t IS NOT NULL THEN 1 ELSE 0 END)
               OVER (PARTITION BY tok.doc_id ORDER BY tok.pos
                     ROWS UNBOUNDED PRECEDING) AS grp
      FROM tok LEFT JOIN delim ON tok.t = delim.t),
    ph AS (
      SELECT doc_id, grp,
             string_agg(t, ' ' ORDER BY pos) AS phrase,
             CAST(count(*) AS BIGINT) AS plen
      FROM f WHERE NOT stop GROUP BY 1, 2),
    wi AS (SELECT doc_id, grp, t FROM f WHERE NOT stop),
    ws AS (
      SELECT wi.t,
             CAST(count(*) AS BIGINT) AS wfreq,
             CAST(sum(ph.plen) AS BIGINT) AS wdeg
      FROM wi JOIN ph USING (doc_id, grp) GROUP BY 1),
    scored AS (
      SELECT ph.doc_id, ph.grp, ph.phrase, ph.plen,
             sum(CAST(ws.wdeg AS DOUBLE) / ws.wfreq) AS score
      FROM wi JOIN ph USING (doc_id, grp) JOIN ws ON wi.t = ws.t
      GROUP BY 1, 2, 3, 4),
    agg AS (
      SELECT phrase, max(plen) AS plen,
             CAST(count(*) AS BIGINT) AS n_occur,
             round(max(score), 6) AS rake_score
      FROM scored GROUP BY 1)
    SELECT phrase, plen, n_occur, rake_score, rk FROM (
      SELECT *, row_number() OVER
        (ORDER BY rake_score DESC, phrase) AS rk FROM agg)
    WHERE rk <= 15 ORDER BY rk
    """,
)
def text_rake_phrases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyword extraction (Rose et al. 2010) with INDUCED
    delimiters: candidate phrases are maximal token runs between
    delimiter words, each word scores deg(w)/freq(w) (degree = summed
    length of the phrases it appears in — co-occurrence counting
    including self), and a phrase scores the sum of its words.  The
    synthetic corpus contains almost none of the classic English
    stopwords, so the delimiter set is induced STATISTICALLY — the 8
    most frequent corpus tokens (deterministic tie-break), the
    standard frequency-based stopword induction used when no language
    list fits.  Shapes: delimiter induction is a rank window over the
    VOCAB frame (31 rows here; always vocabulary-sized); phrase
    segmentation is the gaps-and-islands running-delimiter-count
    window per doc; word stats and phrase scores join phrase-grain
    and vocab-grain frames — the corpus is tokenized ONCE (persisted,
    three consumers).  max() collapses any float-summation spread
    across duplicate phrases before rounding, keeping both engines'
    reports identical."""
    from pyspark import StorageLevel

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.posexplode(text.tokens("text")).alias("pos", "t")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    freq = tok.groupBy("t").agg(F.count("*").alias("freq"))
    # r13: top-8 stopwords via TakeOrderedAndProject instead of a
    # global row_number over the vocabulary frame (total order — t
    # unique; identical survivor set)
    delim = (
        freq.orderBy(F.desc("freq"), "t")
        .limit(8)
        .select("t", F.lit(True).alias("stop"))
    )
    f = (
        tok.join(F.broadcast(delim), "t", "left")
        .withColumn(
            "grp",
            F.sum(
                F.when(F.col("stop"), 1).otherwise(0)
            ).over(
                W.partitionBy("doc_id")
                .orderBy("pos")
                .rowsBetween(W.unboundedPreceding, W.currentRow)
            ),
        )
        .filter(F.col("stop").isNull())
        .select("doc_id", "pos", "t", "grp")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    ph = f.groupBy("doc_id", "grp").agg(
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(F.struct("pos", "t"))),
                lambda s: s["t"],
            ),
            " ",
        ).alias("phrase"),
        F.count("*").alias("plen"),
    ).persist(StorageLevel.MEMORY_AND_DISK)  # r13: two consumers (word
    # stats + the scored join) — without the persist the
    # phrase-building collect_list aggregate re-runs per consumer
    ws = (
        f.join(ph.select("doc_id", "grp", "plen"), ["doc_id", "grp"])
        .groupBy("t")
        .agg(
            F.count("*").alias("wfreq"),
            F.sum("plen").alias("wdeg"),
        )
    )
    scored = (
        f.join(ph, ["doc_id", "grp"])
        .join(F.broadcast(ws), "t")
        .groupBy("doc_id", "grp", "phrase", "plen")
        .agg(
            F.sum(
                F.col("wdeg").cast("double") / F.col("wfreq")
            ).alias("score")
        )
    )
    agg = scored.groupBy("phrase").agg(
        F.max("plen").alias("plen"),
        F.count("*").alias("n_occur"),
        F.round(F.max("score"), 6).alias("rake_score"),
    )
    return (
        global_topk(agg, 15, F.desc("rake_score"), "phrase")
        .select("phrase", "plen", "n_occur", "rake_score", "rk")
        .orderBy("rk")
    )


@register(
    "search_tfidf_cosine",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
    df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
    nd AS (SELECT count(DISTINCT doc_id) AS n_docs FROM tf),
    w AS (
      SELECT tf.doc_id, tf.term,
             (1.0 + ln(tf.tf)) * ln(CAST(nd.n_docs AS DOUBLE) / df.df)
               AS wt
      FROM tf JOIN df USING (term) CROSS JOIN nd),
    dn AS (SELECT doc_id, sqrt(sum(wt * wt)) AS dnorm FROM w GROUP BY 1),
    qw AS (
      SELECT df.term, ln(CAST(nd.n_docs AS DOUBLE) / df.df) AS qwt
      FROM df CROSS JOIN nd WHERE df.term IN {_BM25_TERMS}),
    qn AS (SELECT sqrt(sum(qwt * qwt)) AS qnorm FROM qw),
    scored AS (
      SELECT w.doc_id,
             sum(w.wt / dn.dnorm * qw.qwt / qn.qnorm) AS score
      FROM w
      JOIN qw USING (term)
      JOIN dn USING (doc_id)
      CROSS JOIN qn
      GROUP BY w.doc_id)
    SELECT doc_id, round(score, 6) AS tfidf_cos, rk FROM (
      SELECT doc_id, score,
             -- rank on the reported precision (see bm25 note)
             row_number() OVER (ORDER BY round(score, 6) DESC, doc_id)
               AS rk
      FROM scored)
    WHERE rk <= 20 ORDER BY rk
    """,
)
def search_tfidf_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VECTOR-SPACE tf-idf COSINE ranking for the same fixed keyword
    query as the BM25 entry — the SMART ltc scheme ((1+ln tf)·idf
    weights, true full-document L2 normalization) that predates and
    still complements BM25: BM25's length normalization is tunable
    asymptotic damping, cosine's is exact geometry, and ranking
    disagreements between the two on the SAME query is the classic
    relevance-tuning diagnostic (which is why the engine ships both
    on one tokenize pass). The doc norm deliberately spans ALL terms
    (that is what makes it the vector-space model — norming over
    query terms only would inflate short keyword-stuffed docs), so
    one extra vocabulary-bounded groupBy builds the norm frame; the
    query-term filter still prunes the scoring join to query-sized
    postings, corpus stats and query weights ride 1-row/3-row
    broadcasts. Same tie-break discipline as BM25."""
    docs = load_table(spark, sf_dir, "documents")
    tf = text.term_counts(docs, "doc_id").withColumnRenamed("n", "tf")
    tf.persist()
    df = tf.groupBy("term").agg(F.count("*").alias("df"))
    nd = tf.agg(F.countDistinct("doc_id").alias("n_docs"))
    # the (doc, term) weight matrix W is corpus-token-sized, so it is
    # not cached: it streams once into the norm aggregate, its only
    # full-width consumer, and the scoring branch re-derives its
    # query-term weights from the cached tf frame postings-pruned
    # (wt = (1 + ln tf) · qwt, the same double)
    w = (
        tf.join(df, "term")
        .crossJoin(F.broadcast(nd))
        .withColumn(
            "wt",
            (1.0 + F.log("tf"))
            * F.log(F.col("n_docs").cast("double") / F.col("df")),
        )
    )
    dn = w.groupBy("doc_id").agg(
        F.sqrt(F.sum(F.col("wt") * F.col("wt"))).alias("dnorm")
    )
    qw = (
        df.filter(F.col("term").isin(*_BM25_TERMS))
        .crossJoin(F.broadcast(nd))
        .withColumn(
            "qwt", F.log(F.col("n_docs").cast("double") / F.col("df"))
        )
        .select("term", "qwt")
    )
    qn = qw.agg(F.sqrt(F.sum(F.col("qwt") * F.col("qwt"))).alias("qnorm"))
    scored = (
        tf.filter(F.col("term").isin(*_BM25_TERMS))
        .join(F.broadcast(qw), "term")
        .withColumn("wt", (1.0 + F.log("tf")) * F.col("qwt"))
        .join(dn, "doc_id")
        .crossJoin(F.broadcast(qn))
        .groupBy("doc_id")
        .agg(
            # try_divide both normalizations: a degenerate corpus where
            # every term appears in every document has idf = 0
            # everywhere, so dnorm/qnorm are 0 and the cosine is
            # undefined — NULL, DuckDB's x/0 answer, not an ANSI abort
            F.sum(
                F.try_divide(F.col("wt"), F.col("dnorm"))
                * F.try_divide(F.col("qwt"), F.col("qnorm"))
            ).alias("score")
        )
    )
    return (
        # rank on the reported precision (see bm25 note)
        global_topk(scored, 20, F.desc(F.round("score", 6)), "doc_id")
        .select("doc_id", F.round("score", 6).alias("tfidf_cos"), "rk")
        .orderBy("rk")
    )


@register(
    "emb_mean_shift_drift",
    oracle="""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings WHERE embedding IS NOT NULL AND len(list_filter(embedding, x -> x IS NULL OR NOT isfinite(x))) = 0 AND len(list_filter(embedding, x -> x <> 0)) > 0),
    ex AS (SELECT vec_id % 2 AS g, unnest(v) AS x,
                  generate_subscripts(v, 1) AS dim FROM e),
    st AS (
      SELECT dim,
             CAST(count(*) FILTER (g = 0) AS BIGINT) AS n0,
             CAST(count(*) FILTER (g = 1) AS BIGINT) AS n1,
             avg(x) FILTER (g = 0) AS m0,
             avg(x) FILTER (g = 1) AS m1,
             stddev(x) FILTER (g = 0) AS s0,
             stddev(x) FILTER (g = 1) AS s1
      FROM ex GROUP BY dim)
    SELECT dim, n0, n1,
           CAST(floor((m0 - m1) * 1000000 + 0.5) AS BIGINT)
             AS mean_diff_micro,
           CAST(floor((m0 - m1) / sqrt(s0 * s0 / n0 + s1 * s1 / n1)
                      * 1000 + 0.5) AS BIGINT) AS welch_t_milli
    FROM st ORDER BY dim
    """,
)
def emb_mean_shift_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PER-DIMENSION EMBEDDING DRIFT MONITOR — the vector-space
    counterpart of the scalar PSI entry (dq_distribution_drift_psi):
    split the corpus into two deterministic halves (vec_id parity
    standing in for the before/after snapshots a production monitor
    compares), then per dimension report the mean shift and its Welch
    t statistic. A retrained or silently-truncated embedding model
    shows up here dimensions-first, long before retrieval metrics
    move. Shape: ONE posexplode feeds a single (dim)-grain grouped
    aggregate with FILTER arms for both halves — no join, no second
    corpus pass, output is dimensionality-sized. The t denominator is
    the usual Welch combination of per-half sample variances; folds
    at micro/milli on O(1)-magnitude statistics."""
    # vector-geometry contract v2 (r12 vector-specials axis):
    # corrupt vectors (NaN/Inf component, zero norm) dropped at the
    # load — BEFORE any slicing/arm split, so every pass sees the
    # same population; oracle twin mirrors on the full embedding
    emb = load_table(spark, sf_dir, "embeddings").filter(
        similarity.vec_valid("embedding")
    )
    ex = emb.select(
        (F.col("vec_id") % 2).alias("g"),
        F.posexplode(similarity.as_double_vec("embedding")).alias(
            "dim0", "x"
        ),
    ).select((F.col("dim0") + 1).alias("dim"), "g", "x")
    g0 = F.col("g") == 0
    g1 = F.col("g") == 1
    st = ex.groupBy("dim").agg(
        F.count(F.when(g0, 1)).alias("n0"),
        F.count(F.when(g1, 1)).alias("n1"),
        F.avg(F.when(g0, F.col("x"))).alias("m0"),
        F.avg(F.when(g1, F.col("x"))).alias("m1"),
        F.stddev(F.when(g0, F.col("x"))).alias("s0"),
        F.stddev(F.when(g1, F.col("x"))).alias("s1"),
    )
    diff = F.col("m0") - F.col("m1")
    se = F.sqrt(
        F.col("s0") * F.col("s0") / F.col("n0")
        + F.col("s1") * F.col("s1") / F.col("n1")
    )
    return st.select(
        "dim",
        "n0",
        "n1",
        half_up(diff * 1000000).alias("mean_diff_micro"),
        half_up(diff / se * 1000).alias("welch_t_milli"),
    ).orderBy("dim")
