"""Models trained INSIDE the engine, in closed form — no ML library,
no iteration, no driver state: multiple linear regression via the
normal equations and a multinomial naive-Bayes text classifier. These
join k-means / PCA / the bigram LM / BPE on the "the warehouse can
train it where the data lives" shelf — the capability a 100 TB
pipeline wants for baseline models and sanity probes before anything
ships to a training cluster.

Both are single-pass aggregate algebra, so both are oracle-gated
exactly: the regression's sufficient statistics are pure BIGINT sums
folded once through double Cramer determinants (the identical
expression tree in both engines), and the classifier's Laplace-1
smoothing makes absent-term mass vanish analytically (the same
decomposition trick as the Dirichlet query-likelihood ranker), so
scoring joins only the postings that exist.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from hive_release_spark.catalog import load_table
from hive_release_spark.functions.numeric import exact_moment, half_up, is_finite
from hive_release_spark.llm.text import term_counts
from hive_release_spark.operators.pairs import baskets, sorted_pairs
from hive_release_spark.operators.topk import bounded_sort, global_topk
from hive_release_spark.queries.registry import register


@register(
    "ml_linear_regression",
    oracle="""
    WITH s AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x1) AS BIGINT) AS s1,
             CAST(sum(x2) AS BIGINT) AS s2,
             CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(CAST(x1 AS HUGEINT) * x1) AS DOUBLE) AS s11,
             CAST(sum(CAST(x1 AS HUGEINT) * x2) AS DOUBLE) AS s12,
             CAST(sum(CAST(x2 AS HUGEINT) * x2) AS DOUBLE) AS s22,
             CAST(sum(CAST(x1 AS HUGEINT) * y) AS DOUBLE) AS s1y,
             CAST(sum(CAST(x2 AS HUGEINT) * y) AS DOUBLE) AS s2y,
             CAST(sum(CAST(y AS HUGEINT) * y) AS DOUBLE) AS syy
      FROM (SELECT CAST(l_quantity AS BIGINT) AS x1,
                   CAST(round(l_discount * 100) AS BIGINT) AS x2,
                   CAST(round(l_extendedprice * 100) AS BIGINT) AS y
            FROM lineitem
            WHERE isfinite(l_quantity) AND isfinite(l_discount)
              AND isfinite(l_extendedprice))),
    d AS (
      SELECT *,
             s11 * s22 - s12 * s12 AS mA,
             s1 * s22 - s12 * s2 AS mB,
             s1 * s12 - s11 * s2 AS mC,
             s1y * s22 - s12 * s2y AS mD,
             s1y * s12 - s11 * s2y AS mE,
             s1 * s2y - s1y * s2 AS mF,
             s11 * s2y - s1y * s12 AS mG
      FROM s),
    b AS (
      SELECT n, sy, s1y, s2y, syy,
             (sy * mA - s1 * mD + s2 * mE)
               / (n * mA - s1 * mB + s2 * mC) AS b0,
             (n * mD - sy * mB + s2 * mF)
               / (n * mA - s1 * mB + s2 * mC) AS b1,
             (n * mG - s1 * mF + sy * mC)
               / (n * mA - s1 * mB + s2 * mC) AS b2
      FROM d)
    SELECT n,
           CAST(floor(b0 / 100.0 * 1000 + 0.5) AS BIGINT) AS b0_milli,
           CAST(floor(b1 / 100.0 * 1000 + 0.5) AS BIGINT) AS b1_milli,
           CAST(floor(b2 / 100.0 * 1000 + 0.5) AS BIGINT) AS b2_milli,
           CAST(floor((b0 * sy + b1 * s1y + b2 * s2y
                       - CAST(sy AS DOUBLE) * sy / n)
                      / (syy - CAST(sy AS DOUBLE) * sy / n)
                      * 100000 + 0.5) AS BIGINT) AS r2_e5
    FROM b
    """,
)
def ml_linear_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MULTIPLE LINEAR REGRESSION trained in one aggregate pass —
    predict line price (cents) from quantity and discount by the
    normal equations, solved with Cramer's rule over the 3x3 moment
    matrix. Hive/Spark expose only the two-variable regr_* family;
    this is the smallest model that demonstrates the general
    sufficient-statistics pattern: ONE scan collapses 100 TB to ten
    BIGINT sums (map-side combined), and everything after is constant
    work. The inputs are exact integers (quantity, discount and price
    in cents — round-to-integer of identical doubles is engine-safe),
    and the SECOND moments sum as DECIMAL / HUGEINT (sum(y_cents^2) is
    ~6e19 at sf0.1 — already past long) before ONE exact-integer-to-
    nearest-double cast that both engines round identically
    (``exact_moment``). The per-row products stay in LONG; what keeps
    them exact is the input bound (price cents ≤ ~1.05e7 at sf0.1, so
    squares ≤ ~1.1e14), not ANSI: the default Hive-parity session
    runs with ANSI off, where an overflow would wrap silently. The
    SAME Cramer expression tree then folds them (named minors keep
    the two spellings structurally identical). R^2 comes from the fitted cross-moment
    identity b'X'y, no second pass.
    Determinant conditioning is healthy here (quantity/discount are
    bounded, uncentered moments fine); a production fit would center
    first — same sums, shifted."""
    li = load_table(spark, sf_dir, "lineitem").where(
        # listwise deletion (r11 finite wave 2) — see oracle note; the
        # predicate pushes to the parquet scan
        is_finite("l_quantity")
        & is_finite("l_discount")
        & is_finite("l_extendedprice")
    ).select(
        F.col("l_quantity").cast("long").alias("x1"),
        F.round(F.col("l_discount") * 100).cast("long").alias("x2"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("y"),
    )
    # quantity ≤ ~10², discount·100 ≤ 10, price cents ≤ ~10⁷: products ≪ 2⁶³
    s = li.agg(
        F.count("*").alias("n"),
        F.sum("x1").alias("s1"),
        F.sum("x2").alias("s2"),
        F.sum("y").alias("sy"),
        exact_moment("x1", "x1").alias("s11"),
        exact_moment("x1", "x2").alias("s12"),
        exact_moment("x2", "x2").alias("s22"),
        exact_moment("x1", "y").alias("s1y"),
        exact_moment("x2", "y").alias("s2y"),
        exact_moment("y", "y").alias("syy"),
    )
    dd = lambda c: F.col(c).cast("double")  # noqa: E731
    d = s.withColumns(
        {
            "mA": F.col("s11") * F.col("s22") - F.col("s12") * F.col("s12"),
            "mB": F.col("s1") * F.col("s22") - F.col("s12") * F.col("s2"),
            "mC": F.col("s1") * F.col("s12") - F.col("s11") * F.col("s2"),
            "mD": F.col("s1y") * F.col("s22") - F.col("s12") * F.col("s2y"),
            "mE": F.col("s1y") * F.col("s12") - F.col("s11") * F.col("s2y"),
            "mF": F.col("s1") * F.col("s2y") - F.col("s1y") * F.col("s2"),
            "mG": F.col("s11") * F.col("s2y") - F.col("s1y") * F.col("s12"),
        }
    )
    det = F.col("n") * F.col("mA") - F.col("s1") * F.col("mB") + F.col(
        "s2"
    ) * F.col("mC")
    # try_divide on the Cramer solves and R^2: a rank-deficient moment
    # matrix (fewer rows than coefficients, or collinear features — the
    # single-row slice) has det = 0 and SST = 0, so the coefficients
    # and fit are undefined — NULL, DuckDB's x/0 answer, not an ANSI
    # abort
    b = d.select(
        "n",
        "sy",
        "s1y",
        "s2y",
        "syy",
        F.try_divide(
            F.col("sy") * F.col("mA")
            - F.col("s1") * F.col("mD")
            + F.col("s2") * F.col("mE"),
            det,
        ).alias("b0"),
        F.try_divide(
            F.col("n") * F.col("mD")
            - F.col("sy") * F.col("mB")
            + F.col("s2") * F.col("mF"),
            det,
        ).alias("b1"),
        F.try_divide(
            F.col("n") * F.col("mG")
            - F.col("s1") * F.col("mF")
            + F.col("sy") * F.col("mC"),
            det,
        ).alias("b2"),
    )
    sst = F.col("syy") - dd("sy") * F.col("sy") / F.col("n")
    ssr = (
        F.col("b0") * F.col("sy")
        + F.col("b1") * F.col("s1y")
        + F.col("b2") * F.col("s2y")
        - dd("sy") * F.col("sy") / F.col("n")
    )
    return b.select(
        "n",
        half_up(F.col("b0") / 100.0 * 1000).alias("b0_milli"),
        half_up(F.col("b1") / 100.0 * 1000).alias("b1_milli"),
        half_up(F.col("b2") / 100.0 * 1000).alias("b2_milli"),
        half_up(F.try_divide(ssr, sst) * 100000).alias("r2_e5"),
    )


@register(
    "ml_naive_bayes_langid",
    oracle="""
    WITH tr AS (
      SELECT lang, doc_id, unnest(string_split(text, ' ')) AS term
      FROM documents WHERE doc_id % 2 = 0),
    te AS (
      SELECT doc_id, lang AS true_lang,
             unnest(string_split(text, ' ')) AS term
      FROM documents WHERE doc_id % 2 = 1),
    tc AS (SELECT lang, term, CAST(count(*) AS BIGINT) AS c
           FROM tr GROUP BY 1, 2),
    lt AS (SELECT lang, CAST(sum(c) AS BIGINT) AS t FROM tc GROUP BY 1),
    vb AS (SELECT CAST(count(DISTINCT term) AS BIGINT) AS v FROM tc),
    pr AS (SELECT lang, CAST(count(DISTINCT doc_id) AS BIGINT) AS nd
           FROM tr GROUP BY 1),
    prt AS (SELECT CAST(sum(nd) AS BIGINT) AS total FROM pr),
    dt AS (SELECT doc_id, true_lang, term,
                  CAST(count(*) AS BIGINT) AS tf
           FROM te GROUP BY 1, 2, 3),
    dl AS (SELECT doc_id, true_lang, CAST(sum(tf) AS BIGINT) AS len_d
           FROM dt GROUP BY 1, 2),
    hits AS (
      SELECT dt.doc_id, tc.lang, sum(dt.tf * ln(tc.c + 1)) AS hit
      FROM dt JOIN tc ON dt.term = tc.term
      GROUP BY 1, 2),
    scored AS (
      SELECT dl.doc_id, dl.true_lang, lt.lang,
             ln(CAST(pr.nd AS DOUBLE) / prt.total)
               - dl.len_d * ln(CAST(lt.t AS DOUBLE) + vb.v)
               + COALESCE(h.hit, 0.0) AS score
      FROM dl
      CROSS JOIN prt CROSS JOIN vb
      JOIN lt ON TRUE
      JOIN pr ON pr.lang = lt.lang
      LEFT JOIN hits h ON h.doc_id = dl.doc_id AND h.lang = lt.lang),
    pred AS (
      SELECT doc_id, true_lang, lang AS pred_lang FROM (
        SELECT *, row_number() OVER (PARTITION BY doc_id
                    ORDER BY score DESC, lang) AS rk
        FROM scored) WHERE rk = 1)
    SELECT true_lang,
           CAST(count(*) AS BIGINT) AS n_test,
           CAST(count(*) FILTER (pred_lang = true_lang) AS BIGINT)
             AS n_correct,
           CAST(floor(CAST(count(*) FILTER (pred_lang = true_lang)
                           AS DOUBLE) / count(*) * 1000000 + 0.5)
                AS BIGINT) AS acc_micro
    FROM pred GROUP BY true_lang ORDER BY true_lang
    """,
)
def ml_naive_bayes_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MULTINOMIAL NAIVE BAYES language classifier, trained AND
    evaluated in pure aggregate algebra — the third rung of the
    lang-ID ladder (rules -> char-n-gram UDF -> a TRAINED model) and
    the canonical demonstration that a warehouse can fit a
    generative text classifier without leaving SQL. Even doc_ids
    train, odd evaluate. Laplace-1 smoothing is chosen PRECISELY
    because it makes the absent-term mass vanish analytically:
    score = ln prior - len_d * ln(T_lang + V) + sum_hits tf*ln(c+1),
    since unseen terms contribute tf*ln(0+1) = 0 — the same
    postings-only decomposition as the Dirichlet query-likelihood
    ranker, so the scoring join touches only (test token x lang)
    postings that exist (bounded 5x fan-out), never the full
    doc x vocab grid. The 5-row language stats ride broadcasts;
    argmax ties break on lang; per-class accuracy is the readout the
    langid confusion-matrix entry complements. NB margins are many
    nats wide, so the float fold at the argmax is ulp-safe. Fixture
    honesty: the synthetic corpus shares one word pool across
    languages (the confusion-matrix entry documents the same
    ceiling), so absolute accuracy here is capped at ~0.35 — well
    above 5-way chance, below the skewed majority class; the entry's
    claim is the training/scoring ALGEBRA (oracle-exact), and the
    pytest floor is calibrated to the fixture, not to real-corpus
    lang-ID performance (where word NB is near-perfect)."""
    docs = load_table(spark, sf_dir, "documents")
    train = docs.filter(F.col("doc_id") % 2 == 0)
    te = docs.filter(F.col("doc_id") % 2 == 1).select(
        "doc_id", F.col("lang").alias("true_lang"), "text"
    )
    tc = term_counts(train, "lang").withColumnRenamed("n", "c")
    tc.persist()
    lt = tc.groupBy("lang").agg(F.sum("c").alias("t"))
    vb = tc.agg(F.countDistinct("term").alias("v"))
    # documents with at least one token: ``split`` never yields an
    # empty array, so exactly those whose text is not NULL
    pr = (
        train.filter(F.col("text").isNotNull())
        .groupBy("lang")
        .agg(F.countDistinct("doc_id").alias("nd"))
    )
    prt = pr.agg(F.sum("nd").alias("total"))
    dt = term_counts(te, "doc_id", "true_lang").withColumnRenamed("n", "tf")
    dt.persist()
    dl = dt.groupBy("doc_id", "true_lang").agg(F.sum("tf").alias("len_d"))
    hits = (
        dt.join(tc.select("term", "lang", "c"), "term")
        .groupBy("doc_id", "lang")
        .agg(F.sum(F.col("tf") * F.log(F.col("c") + 1)).alias("hit"))
    )
    langs = (
        lt.join(pr, "lang")
        .crossJoin(F.broadcast(prt))
        .crossJoin(F.broadcast(vb))
    )
    scored = (
        dl.crossJoin(F.broadcast(langs))
        .join(hits, ["doc_id", "lang"], "left")
        .select(
            "doc_id",
            "true_lang",
            "lang",
            (
                F.log(F.col("nd").cast("double") / F.col("total"))
                - F.col("len_d")
                * F.log(F.col("t").cast("double") + F.col("v"))
                + F.coalesce(F.col("hit"), F.lit(0.0))
            ).alias("score"),
        )
    )
    pred = (
        scored.withColumn(
            "rk",
            F.row_number().over(
                W.partitionBy("doc_id").orderBy(F.desc("score"), "lang")
            ),
        )
        .filter(F.col("rk") == 1)
        .select("doc_id", "true_lang", F.col("lang").alias("pred_lang"))
    )
    correct = F.count(
        F.when(F.col("pred_lang") == F.col("true_lang"), 1)
    )
    # one row per language
    return bounded_sort(
        pred.groupBy("true_lang")
        .agg(
            F.count("*").alias("n_test"),
            correct.alias("n_correct"),
            half_up(correct.cast("double") / F.count("*") * 1000000).alias("acc_micro"),
        ),
        "true_lang",
    )


@register(
    "ml_decision_stump",
    oracle="""
    WITH pts AS (
      SELECT CAST(l_quantity AS BIGINT) AS q,
             CAST(round(l_discount * 100) AS BIGINT) AS d,
             CASE WHEN l_extendedprice >= 30000 THEN 1 ELSE 0 END AS y
      FROM lineitem
      WHERE isfinite(l_quantity) AND isfinite(l_discount)
        AND isfinite(l_extendedprice)),
    f AS (
      SELECT 'quantity' AS feature, q AS v,
             CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS pos
      FROM pts GROUP BY 1, 2
      UNION ALL
      SELECT 'discount', d,
             CAST(count(*) AS BIGINT), CAST(sum(y) AS BIGINT)
      FROM pts GROUP BY 1, 2),
    c AS (
      SELECT feature, v,
             CAST(sum(n) OVER w AS BIGINT) AS nl,
             CAST(sum(pos) OVER w AS BIGINT) AS posl,
             CAST(sum(n) OVER (PARTITION BY feature) AS BIGINT) AS nt,
             CAST(sum(pos) OVER (PARTITION BY feature) AS BIGINT) AS post
      FROM f
      WINDOW w AS (PARTITION BY feature ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
    g AS (
      SELECT feature, v, nl, posl, nt, post,
             (CAST(nl AS DOUBLE) / nt)
               * (1.0
                  - (CAST(posl AS DOUBLE) / nl)
                    * (CAST(posl AS DOUBLE) / nl)
                  - (CAST(nl - posl AS DOUBLE) / nl)
                    * (CAST(nl - posl AS DOUBLE) / nl))
             + (CAST(nt - nl AS DOUBLE) / nt)
               * (1.0
                  - (CAST(post - posl AS DOUBLE) / (nt - nl))
                    * (CAST(post - posl AS DOUBLE) / (nt - nl))
                  - (CAST((nt - nl) - (post - posl) AS DOUBLE) / (nt - nl))
                    * (CAST((nt - nl) - (post - posl) AS DOUBLE)
                       / (nt - nl))) AS gini
      FROM c WHERE nl < nt),
    best AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (PARTITION BY feature
                     ORDER BY gini, v) AS rf
        FROM g) WHERE rf = 1)
    SELECT feature, v AS threshold, nl AS n_left, posl AS pos_left,
           CAST(floor(gini * 1000000 + 0.5) AS BIGINT) AS gini_micro,
           CAST(floor((1.0 - (CAST(post AS DOUBLE) / nt)
                             * (CAST(post AS DOUBLE) / nt)
                           - (CAST(nt - post AS DOUBLE) / nt)
                             * (CAST(nt - post AS DOUBLE) / nt))
                      * 1000000 + 0.5) AS BIGINT) AS gini_parent_micro,
           CAST(row_number() OVER (ORDER BY gini, feature) AS BIGINT)
             AS rk
    FROM best ORDER BY rk
    """,
)
def ml_decision_stump(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DECISION-STUMP TRAINING — the best Gini split per feature for
    classifying high-value lines (price >= $300), which is exactly
    one boosting round / one tree node of every GBDT library, done as
    window algebra: per feature, collapse to the distinct-value frame
    with (count, positive) tallies, cumulative sums give the left-
    branch composition at EVERY candidate threshold simultaneously,
    and weighted Gini impurity picks the argmin (ties break on the
    threshold value, then feature). This is the histogram-based split
    finding XGBoost/LightGBM do per node — demonstrated at warehouse
    scale with ONE fact scan (both features ride a single exploded
    pass), per-feature frames bounded by value cardinality, and every
    Gini input an exact BIGINT so both engines fold identical doubles.
    Output: each feature's champion split plus the parent impurity it
    improves on, ranked so row 1 IS the trained stump."""
    li = load_table(spark, sf_dir, "lineitem")
    pts = li.where(
        # listwise deletion (r11 finite wave 2) — see oracle note
        is_finite("l_quantity")
        & is_finite("l_discount")
        & is_finite("l_extendedprice")
    ).select(
        F.col("l_quantity").cast("long").alias("q"),
        F.round(F.col("l_discount") * 100).cast("long").alias("d"),
        F.when(F.col("l_extendedprice") >= 30000, 1).otherwise(0).alias("y"),
    )
    f = (
        pts.select(
            F.explode(
                F.array(
                    F.struct(
                        F.lit("quantity").alias("feature"),
                        F.col("q").alias("v"),
                    ),
                    F.struct(
                        F.lit("discount").alias("feature"),
                        F.col("d").alias("v"),
                    ),
                )
            ).alias("e"),
            "y",
        )
        .select("e.feature", "e.v", "y")
        .groupBy("feature", "v")
        .agg(F.count("*").alias("n"), F.sum("y").alias("pos"))
    )
    w = (
        W.partitionBy("feature")
        .orderBy("v")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    wt = W.partitionBy("feature")
    c = f.select(
        "feature",
        "v",
        F.sum("n").over(w).alias("nl"),
        F.sum("pos").over(w).alias("posl"),
        F.sum("n").over(wt).alias("nt"),
        F.sum("pos").over(wt).alias("post"),
    )
    nl, posl = F.col("nl"), F.col("posl")
    nt, post = F.col("nt"), F.col("post")
    pl = posl.cast("double") / nl
    ql = (nl - posl).cast("double") / nl
    pr = (post - posl).cast("double") / (nt - nl)
    qr = ((nt - nl) - (post - posl)).cast("double") / (nt - nl)
    gini = (nl.cast("double") / nt) * (
        F.lit(1.0) - pl * pl - ql * ql
    ) + ((nt - nl).cast("double") / nt) * (F.lit(1.0) - pr * pr - qr * qr)
    g = c.filter(nl < nt).withColumn("gini", gini)
    best = (
        g.withColumn(
            "rf",
            F.row_number().over(
                W.partitionBy("feature").orderBy("gini", "v")
            ),
        )
        .filter(F.col("rf") == 1)
    )
    pp = post.cast("double") / nt
    qp = (nt - post).cast("double") / nt
    return (
        best.select(
            "feature",
            F.col("v").alias("threshold"),
            nl.alias("n_left"),
            posl.alias("pos_left"),
            half_up(F.col("gini") * 1000000).alias("gini_micro"),
            half_up((F.lit(1.0) - pp * pp - qp * qp) * 1000000)
            .alias("gini_parent_micro"),
        )
        .withColumn(
            "rk",
            F.row_number()
            .over(W.orderBy(F.col("gini_micro"), "feature"))
            .cast("long"),
        )
        .orderBy("rk")
    )


@register(
    "ml_knn_label_accuracy",
    oracle="""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label
               FROM embeddings WHERE embedding IS NOT NULL AND len(list_filter(embedding, x -> x IS NULL OR NOT isfinite(x))) = 0 AND len(list_filter(embedding, x -> x <> 0)) > 0),
    q AS (SELECT vec_id AS query_id, v AS qv, label AS true_label
          FROM e WHERE vec_id % 2 = 1 AND vec_id < 40),
    t AS (SELECT vec_id AS neighbor_id, v AS cv, label FROM e
          WHERE vec_id % 2 = 0),
    cand AS (
      SELECT q.query_id, q.true_label, t.neighbor_id, t.label,
             list_cosine_similarity(q.qv, t.cv) AS sim
      FROM q, t),
    top AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                     ORDER BY sim DESC, neighbor_id) AS rk
        FROM cand) WHERE rk <= 5),
    votes AS (
      SELECT query_id, true_label, label,
             CAST(count(*) AS BIGINT) AS votes
      FROM top GROUP BY 1, 2, 3),
    pred AS (
      SELECT query_id, true_label, label AS pred_label, votes FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                     ORDER BY votes DESC, label) AS pr
        FROM votes) WHERE pr = 1)
    SELECT query_id,
           CAST(true_label AS BIGINT) AS true_label,
           CAST(pred_label AS BIGINT) AS pred_label,
           votes,
           CAST(CASE WHEN true_label = pred_label THEN 1 ELSE 0 END
                AS BIGINT) AS correct
    FROM pred ORDER BY query_id
    """,
)
def ml_knn_label_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN CLASSIFICATION over the embedding space — majority vote of
    the 5 nearest train-half neighbors predicts each test vector's
    label: the standard probe for "do these embeddings actually
    encode the labels?", complementing the parametric centroid
    classifier (emb_label_centroids) with the non-parametric answer
    (centroids assume unimodal classes; k-NN doesn't). Even vec_ids
    train, 20 odd ones evaluate. The query side rides a broadcast so
    the train corpus NEVER shuffles for scoring; per-query top-5 and
    the vote argmax both carry unique tie-breaks (neighbor id, then
    label), making the full prediction trace — neighbors, votes,
    verdict — oracle-exact, not just the accuracy number. The 100 TB
    path swaps the brute-force scoring join for any of the ANN
    entries (IVF/PQ/SQ8) unchanged above the shortlist."""
    from hive_release_spark.llm import similarity

    # vector-geometry contract v2 (r12 vector-specials axis):
    # corrupt vectors (NaN/Inf component, zero norm) dropped at the
    # load — BEFORE any slicing/arm split, so every pass sees the
    # same population; oracle twin mirrors on the full embedding
    emb = load_table(spark, sf_dir, "embeddings").filter(
        similarity.vec_valid("embedding")
    )
    q = emb.filter((F.col("vec_id") % 2 == 1) & (F.col("vec_id") < 40)).select(
        F.col("vec_id").alias("query_id"),
        similarity.as_double_vec("embedding").alias("qv"),
        F.col("label").alias("true_label"),
    ).withColumn("qn", similarity.norm(F.col("qv")))  # per-row norm (r12)
    t = emb.filter(F.col("vec_id") % 2 == 0).select(
        F.col("vec_id").alias("neighbor_id"),
        similarity.as_double_vec("embedding").alias("cv"),
        "label",
    ).withColumn("cn", similarity.norm(F.col("cv")))
    cand = t.crossJoin(F.broadcast(q)).withColumn(
        "sim",
        similarity.cosine_pre(
            F.col("qv"), F.col("cv"), F.col("qn"), F.col("cn")
        ),
    )
    top = cand.withColumn(
        "rk",
        F.row_number().over(
            W.partitionBy("query_id").orderBy(
                F.desc("sim"), "neighbor_id"
            )
        ),
    ).filter(F.col("rk") <= 5)
    votes = top.groupBy("query_id", "true_label", "label").agg(
        F.count("*").alias("votes")
    )
    pred = (
        votes.withColumn(
            "pr",
            F.row_number().over(
                W.partitionBy("query_id").orderBy(
                    F.desc("votes"), "label"
                )
            ),
        )
        .filter(F.col("pr") == 1)
        .select(
            "query_id",
            F.col("true_label").cast("long").alias("true_label"),
            F.col("label").cast("long").alias("pred_label"),
            "votes",
        )
    )
    return pred.withColumn(
        "correct",
        F.when(F.col("true_label") == F.col("pred_label"), 1)
        .otherwise(0)
        .cast("long"),
    ).orderBy("query_id")


@register(
    "ml_item_item_cf",
    oracle="""
    WITH b AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    deg AS (SELECT l_partkey, CAST(count(*) AS BIGINT) AS d
            FROM b GROUP BY 1),
    co AS (
      SELECT a.l_partkey AS pa, b2.l_partkey AS pb,
             CAST(count(*) AS BIGINT) AS c
      FROM b a JOIN b b2 ON a.l_orderkey = b2.l_orderkey
                        AND a.l_partkey < b2.l_partkey
      GROUP BY 1, 2 HAVING count(*) >= 2),
    scored AS (
      SELECT co.pa, co.pb, co.c, da.d AS deg_a, db.d AS deg_b,
             co.c / sqrt(CAST(da.d AS DOUBLE) * db.d) AS cosine
      FROM co JOIN deg da ON co.pa = da.l_partkey
              JOIN deg db ON co.pb = db.l_partkey)
    SELECT pa AS part_a, pb AS part_b, c AS n_cobaskets,
           deg_a, deg_b,
           CAST(floor(cosine * 1000000 + 0.5) AS BIGINT) AS cosine_micro,
           rk
    FROM (SELECT *, row_number() OVER
            (ORDER BY cosine DESC, pa, pb) AS rk FROM scored)
    WHERE rk <= 20 ORDER BY rk
    """,
)
def ml_item_item_cf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ITEM-ITEM COLLABORATIVE FILTERING — cosine similarity on the
    binary basket matrix, sim(i,j) = c_ij / sqrt(n_i * n_j): the
    workhorse "customers who bought X also bought" scorer (Amazon's
    classic item-to-item CF), and the DIRECT-co-occurrence complement
    of the 2-hop link-prediction pair (Adamic-Adar / neighborhood
    Jaccard score what is NOT yet connected; CF ranks what already
    co-occurs). Shape: the fact collapses to the distinct basket
    frame, pair emission is basket-bounded (never corpus-squared) with
    a >= 2-support prune, item popularity attaches via TWO broadcast
    joins of the skinny degree frame — popularity normalization is
    exactly why raw co-counts mislead (staples co-occur with
    everything; cosine discounts them). The score is one exact-long
    ratio through sqrt, folded at micro; (score, pa, pb) tie-break."""
    li = load_table(spark, sf_dir, "lineitem")
    # Pair emission from the sorted per-order part array (sorted_pairs)
    # replaces the equi-self-join, which shuffled the basket frame TWICE
    # (once per join side) plus once for the pair groupBy.  Parts are
    # distinct within an order, so the pairs are exactly the
    # a.l_partkey < b.l_partkey join's.  What persists is the basket
    # frame; the degree frame re-explodes its per-order distinct part
    # lists (the same (order, part) multiset a distinct frame holds).
    bs = baskets(li, "l_orderkey", "l_partkey", "parts")
    bs.persist()
    # deg feeds TWO broadcast subtrees (deg_a / deg_b projections) —
    # without the persist the explode+groupBy over the basket frame
    # runs twice (the item-degree frame is item-cardinality, tiny)
    deg = (
        bs.select(F.explode("parts").alias("l_partkey"))
        .groupBy("l_partkey")
        .agg(F.count("*").alias("d"))
    )
    deg.persist()
    pairs = sorted_pairs(
        bs, "parts", lambda x, y: F.struct(x.alias("pa"), y.alias("pb"))
    )
    co = (
        pairs.groupBy(F.col("p.pa").alias("pa"), F.col("p.pb").alias("pb"))
        .agg(F.count("*").alias("c"))
        .filter(F.col("c") >= 2)
    )
    scored = (
        co.join(
            F.broadcast(
                deg.select(
                    F.col("l_partkey").alias("pa"),
                    F.col("d").alias("deg_a"),
                )
            ),
            "pa",
        )
        .join(
            F.broadcast(
                deg.select(
                    F.col("l_partkey").alias("pb"),
                    F.col("d").alias("deg_b"),
                )
            ),
            "pb",
        )
        .withColumn(
            "cosine",
            F.col("c")
            / F.sqrt(F.col("deg_a").cast("double") * F.col("deg_b")),
        )
    )
    return (
        global_topk(scored, 20, F.desc("cosine"), "pa", "pb")
        .select(
            F.col("pa").alias("part_a"),
            F.col("pb").alias("part_b"),
            F.col("c").alias("n_cobaskets"),
            "deg_a",
            "deg_b",
            half_up(F.col("cosine") * 1000000).alias("cosine_micro"),
            "rk",
        )
        .orderBy("rk")
    )


@register(
    "ml_markov_next_event",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS next_type
      FROM events),
    tr AS (
      SELECT event_type AS prev, next_type AS nxt,
             CAST(count(*) AS BIGINT) AS c
      FROM seq
      WHERE next_type IS NOT NULL AND user_id % 2 = 0
      GROUP BY 1, 2),
    model AS (
      SELECT prev, nxt AS pred FROM (
        SELECT *, row_number() OVER (PARTITION BY prev
                     ORDER BY c DESC, nxt) AS rk
        FROM tr) WHERE rk = 1),
    test AS (
      SELECT event_type AS prev, next_type AS nxt
      FROM seq WHERE next_type IS NOT NULL AND user_id % 2 = 1)
    SELECT test.prev,
           max(model.pred) AS predicted,
           CAST(count(*) AS BIGINT) AS n_test,
           CAST(count(*) FILTER (test.nxt = model.pred) AS BIGINT)
             AS n_correct,
           CAST(floor(CAST(count(*) FILTER (test.nxt = model.pred)
                           AS DOUBLE) / count(*) * 1000000 + 0.5)
                AS BIGINT) AS acc_micro
    FROM test JOIN model ON test.prev = model.prev
    GROUP BY test.prev ORDER BY test.prev
    """,
)
def ml_markov_next_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FIRST-ORDER MARKOV NEXT-EVENT PREDICTION, trained and evaluated
    in-engine: even user_ids fit the transition matrix, the model is
    argmax P(next | prev) (ties on event name), and odd users' actual
    transitions score it — the baseline every sequence model
    (session-LSTM, transformer-based next-action) must beat, and the
    predictive complement of the stationary-distribution entry
    (events_markov_stationary describes long-run mass; this one is
    judged on held-out accuracy). Shape: ONE user-partitioned lead
    window builds transitions for both halves in the same pass; the
    trained model is a 5-row frame that broadcasts onto the test
    transitions; accuracy aggregates per antecedent state. Everything
    is exact counts until one ratio fold."""
    ev = load_table(spark, sf_dir, "events")
    seq = ev.select(
        "user_id",
        "event_type",
        F.lead("event_type")
        .over(W.partitionBy("user_id").orderBy("ts", "event_id"))
        .alias("next_type"),
    ).filter(F.col("next_type").isNotNull())
    seq.persist()
    tr = (
        seq.filter(F.col("user_id") % 2 == 0)
        .groupBy(F.col("event_type").alias("prev"), F.col("next_type").alias("nxt"))
        .agg(F.count("*").alias("c"))
    )
    model = (
        tr.withColumn(
            "rk",
            F.row_number().over(
                W.partitionBy("prev").orderBy(F.desc("c"), "nxt")
            ),
        )
        .filter(F.col("rk") == 1)
        .select("prev", F.col("nxt").alias("pred"))
    )
    test = seq.filter(F.col("user_id") % 2 == 1).select(
        F.col("event_type").alias("prev"), F.col("next_type").alias("nxt")
    )
    hit = F.count(F.when(F.col("nxt") == F.col("pred"), 1))
    # one row per event type
    return bounded_sort(
        test.join(F.broadcast(model), "prev")
        .groupBy("prev")
        .agg(
            F.max("pred").alias("predicted"),
            F.count("*").alias("n_test"),
            hit.alias("n_correct"),
            half_up(hit.cast("double") / F.count("*") * 1000000).alias("acc_micro"),
        ),
        "prev",
    )


@register(
    "ml_basket_rules",
    oracle="""
    WITH b AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    nb AS (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_baskets
           FROM b),
    deg AS (SELECT l_partkey, CAST(count(*) AS BIGINT) AS d
            FROM b GROUP BY 1),
    co AS (
      SELECT a.l_partkey AS pa, b2.l_partkey AS pb,
             CAST(count(*) AS BIGINT) AS c
      FROM b a JOIN b b2 ON a.l_orderkey = b2.l_orderkey
                        AND a.l_partkey <> b2.l_partkey
      GROUP BY 1, 2 HAVING count(*) >= 3),
    scored AS (
      SELECT co.pa, co.pb, co.c, da.d AS n_a, db.d AS n_b, nb.n_baskets,
             CAST(co.c AS DOUBLE) / da.d AS confidence,
             CAST(co.c AS DOUBLE) * nb.n_baskets / (da.d * db.d) AS lift
      FROM co JOIN deg da ON co.pa = da.l_partkey
              JOIN deg db ON co.pb = db.l_partkey
              CROSS JOIN nb)
    SELECT pa AS antecedent, pb AS consequent, c AS support_n,
           n_a, n_b,
           CAST(floor(confidence * 1000000 + 0.5) AS BIGINT)
             AS confidence_micro,
           CAST(floor(lift * 1000 + 0.5) AS BIGINT) AS lift_milli,
           rk
    FROM (SELECT *, row_number() OVER
            (ORDER BY lift DESC, pa, pb) AS rk FROM scored)
    WHERE rk <= 20 ORDER BY rk
    """,
)
def ml_basket_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASSOCIATION RULES (Apriori level-2) — directed pair rules
    a=>b with the three classic metrics: support (co-basket count,
    min 3), confidence P(b|a), and lift P(b|a)/P(b) — the
    market-basket readout that predates and complements the cosine CF
    entry (CF's symmetric score ranks similarity; lift is DIRECTED
    and prior-adjusted, which is what a merchandiser actually reads).
    Shape: distinct-basket collapse, basket-bounded DIRECTED pair
    emission (both orders of each pair — confidence is asymmetric),
    support prune BEFORE the metric joins, item priors and the basket
    total via broadcast attaches. Metrics are exact-long ratios
    folded once; (lift, a, b) tie-break on the top-20."""
    li = load_table(spark, sf_dir, "lineitem")
    # The ml_item_item_cf recipe replayed on its directed sibling:
    # DIRECTED pair emission happens inside each order's distinct part
    # list via HOFs instead of the equi-self-join (which shuffled the
    # basket frame twice plus the pair groupBy): for every element x
    # the inner transform pairs it with every OTHER element — parts are
    # distinct within an order, so y != x removes exactly the self-pair
    # and the emitted multiset equals the a.l_partkey <> b.l_partkey
    # join's. The basket frame persists; degree and the basket count
    # derive from it (re-explode / row count).
    bs = baskets(li, "l_orderkey", "l_partkey", "parts")
    bs.persist()
    nb = bs.agg(F.count("*").alias("n_baskets"))
    deg = (
        bs.select(F.explode("parts").alias("l_partkey"))
        .groupBy("l_partkey")
        .agg(F.count("*").alias("d"))
    )
    deg.persist()
    pair_arrays = bs.filter(F.size("parts") > 1).select(
        F.flatten(
            F.transform(
                F.col("parts"),
                lambda x: F.transform(
                    F.filter(F.col("parts"), lambda y: y != x),
                    lambda y: F.struct(x.alias("pa"), y.alias("pb")),
                ),
            )
        ).alias("ps")
    )
    # explode_OUTER + isNotNull: the InferFiltersFromGenerate lesson
    # (an inner explode gets an inferred size-filter that duplicates
    # the pair-array construction)
    pairs = pair_arrays.select(F.explode_outer("ps").alias("p")).filter(
        F.col("p").isNotNull()
    )
    co = (
        pairs.groupBy(F.col("p.pa").alias("pa"), F.col("p.pb").alias("pb"))
        .agg(F.count("*").alias("c"))
        .filter(F.col("c") >= 3)
    )
    scored = (
        co.join(
            F.broadcast(
                deg.select(
                    F.col("l_partkey").alias("pa"), F.col("d").alias("n_a")
                )
            ),
            "pa",
        )
        .join(
            F.broadcast(
                deg.select(
                    F.col("l_partkey").alias("pb"), F.col("d").alias("n_b")
                )
            ),
            "pb",
        )
        .crossJoin(F.broadcast(nb))
        .withColumn(
            "confidence", F.col("c").cast("double") / F.col("n_a")
        )
        .withColumn(
            "lift",
            F.col("c").cast("double")
            * F.col("n_baskets")
            / (F.col("n_a") * F.col("n_b")),
        )
    )
    return (
        global_topk(scored, 20, F.desc("lift"), "pa", "pb")
        .select(
            F.col("pa").alias("antecedent"),
            F.col("pb").alias("consequent"),
            F.col("c").alias("support_n"),
            "n_a",
            "n_b",
            half_up(F.col("confidence") * 1000000).alias("confidence_micro"),
            half_up(F.col("lift") * 1000).alias("lift_milli"),
            "rk",
        )
        .orderBy("rk")
    )


@register(
    "ml_boosted_stumps",
    oracle="""
    WITH cells AS (
      SELECT CAST(l_quantity AS BIGINT) AS q,
             CAST(round(l_discount * 100) AS BIGINT) AS d,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
                  AS BIGINT) AS sy,
             CAST(sum(CAST(round(l_extendedprice * 100) AS HUGEINT)
                      * CAST(round(l_extendedprice * 100) AS BIGINT))
                  AS DOUBLE) AS syy
      FROM lineitem
      WHERE isfinite(l_quantity) AND isfinite(l_discount)
        AND isfinite(l_extendedprice)
      GROUP BY 1, 2),
    aq AS (
      SELECT q, CAST(sum(n) AS BIGINT) AS n,
             CAST(sum(sy) AS BIGINT) AS sy, sum(syy) AS syy
      FROM cells GROUP BY 1),
    ac AS (
      SELECT q,
             CAST(sum(n) OVER w AS BIGINT) AS nl,
             CAST(sum(sy) OVER w AS BIGINT) AS syl,
             sum(syy) OVER w AS syyl,
             CAST(sum(n) OVER () AS BIGINT) AS nt,
             CAST(sum(sy) OVER () AS BIGINT) AS syt,
             sum(syy) OVER () AS syyt
      FROM aq
      WINDOW w AS (ORDER BY q ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND CURRENT ROW)),
    a1 AS (
      SELECT q, nl, nt, syt, syyt,
             CAST(syl AS DOUBLE) / nl AS leaf_l,
             (CAST(syt AS DOUBLE) - syl) / (nt - nl) AS leaf_r,
             (syyl - CAST(syl AS DOUBLE) * syl / nl)
             + ((syyt - syyl)
                - (CAST(syt AS DOUBLE) - syl) * (CAST(syt AS DOUBLE) - syl)
                  / (nt - nl)) AS sse
      FROM ac WHERE nl < nt),
    best1 AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (ORDER BY sse, q) AS rn FROM a1)
      WHERE rn = 1),
    bres AS (
      SELECT c.d,
             CAST(sum(c.n) AS BIGINT) AS n,
             sum(c.sy - c.n * CASE WHEN c.q <= b.q THEN b.leaf_l
                                   ELSE b.leaf_r END) AS sr,
             sum(c.syy
                 - 2 * CASE WHEN c.q <= b.q THEN b.leaf_l
                            ELSE b.leaf_r END * c.sy
                 + c.n * CASE WHEN c.q <= b.q THEN b.leaf_l
                              ELSE b.leaf_r END
                       * CASE WHEN c.q <= b.q THEN b.leaf_l
                              ELSE b.leaf_r END) AS srr
      FROM cells c CROSS JOIN best1 b GROUP BY c.d),
    bc AS (
      SELECT d,
             CAST(sum(n) OVER w AS BIGINT) AS nl,
             sum(sr) OVER w AS srl,
             sum(srr) OVER w AS srrl,
             CAST(sum(n) OVER () AS BIGINT) AS nt,
             sum(sr) OVER () AS srt,
             sum(srr) OVER () AS srrt
      FROM bres
      WINDOW w AS (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND CURRENT ROW)),
    b1 AS (
      SELECT d, nl, nt, srrt,
             srl / nl AS leaf_l,
             (srt - srl) / (nt - nl) AS leaf_r,
             (srrl - srl * srl / nl)
             + ((srrt - srrl)
                - (srt - srl) * (srt - srl) / (nt - nl)) AS sse
      FROM bc WHERE nl < nt),
    best2 AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (ORDER BY sse, d) AS rn FROM b1)
      WHERE rn = 1)
    SELECT 1 AS stage, 'quantity' AS feature,
           b.q AS threshold, b.nl AS n_left,
           CAST(floor(b.leaf_l / 100.0 * 1000 + 0.5) AS BIGINT)
             AS leaf_left_milli,
           CAST(floor(b.leaf_r / 100.0 * 1000 + 0.5) AS BIGINT)
             AS leaf_right_milli,
           CAST(floor((b.syyt - CAST(b.syt AS DOUBLE) * b.syt / b.nt)
                      / b.nt / 10000.0 * 1000 + 0.5) AS BIGINT)
             AS mse_before_milli,
           CAST(floor(b.sse / b.nt / 10000.0 * 1000 + 0.5) AS BIGINT)
             AS mse_after_milli
    FROM best1 b
    UNION ALL
    SELECT 2, 'discount', b2.d, b2.nl,
           CAST(floor(b2.leaf_l / 100.0 * 1000 + 0.5) AS BIGINT),
           CAST(floor(b2.leaf_r / 100.0 * 1000 + 0.5) AS BIGINT),
           CAST(floor(b2.srrt / b2.nt / 10000.0 * 1000 + 0.5) AS BIGINT),
           CAST(floor(b2.sse / b2.nt / 10000.0 * 1000 + 0.5) AS BIGINT)
    FROM best2 b2
    ORDER BY stage
    """,
)
def ml_boosted_stumps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWO GRADIENT-BOOSTING ROUNDS of SSE decision stumps — round 1
    fits price on quantity, round 2 fits the RESIDUALS on discount:
    the additive-model training loop of every GBDT library, executed
    with ONE fact pass total. The trick is the (quantity, discount)
    HISTOGRAM-CELL frame (bounded by value-cardinality product, ~550
    cells): round 1 marginalizes it over discount; round 2 needs
    per-cell residual moments, which decompose ALGEBRAICALLY —
    Sr = Sy - n*leaf(side), Srr = Syy - 2*leaf*Sy + n*leaf^2 — so no
    residual is ever materialized per row and the second round reads
    the SAME cell frame joined to round 1's 1-row broadcast. Every
    input moment is exact (BIGINT cents, DECIMAL squares); the leaf
    values and SSE algebra are identical expression trees in both
    engines. Output: per round, the split, leaves, and the mse
    before/after — mse must fall monotonically, which the parity test
    asserts. At 100 TB: high-cardinality features pre-bin to quantile
    buckets (the equi-depth path) and the same algebra applies."""
    cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    cells = (
        load_table(spark, sf_dir, "lineitem")
        # listwise deletion (r11 finite wave 2) — see oracle note
        .where(
            is_finite("l_quantity")
            & is_finite("l_discount")
            & is_finite("l_extendedprice")
        )
        .select(
            F.col("l_quantity").cast("long").alias("q"),
            F.round(F.col("l_discount") * 100).cast("long").alias("d"),
            cents.alias("y"),
        )
        .groupBy("q", "d")
        .agg(
            F.count("*").alias("n"),
            F.sum("y").alias("sy"),
            # line-price cents ≤ ~1e7 at any scale, so y² ≪ 2⁶³
            exact_moment("y", "y").alias("syy"),
        )
    )
    cells.persist()
    aq = cells.groupBy("q").agg(
        F.sum("n").alias("n"), F.sum("sy").alias("sy"), F.sum("syy").alias("syy")
    )
    wc = W.orderBy("q").rowsBetween(W.unboundedPreceding, W.currentRow)
    wa = W.partitionBy()
    ac = aq.select(
        "q",
        F.sum("n").over(wc).alias("nl"),
        F.sum("sy").over(wc).alias("syl"),
        F.sum("syy").over(wc).alias("syyl"),
        F.sum("n").over(wa).alias("nt"),
        F.sum("sy").over(wa).alias("syt"),
        F.sum("syy").over(wa).alias("syyt"),
    )
    leaf_l = F.col("syl").cast("double") / F.col("nl")
    leaf_r = (F.col("syt").cast("double") - F.col("syl")) / (
        F.col("nt") - F.col("nl")
    )
    sse1 = (
        F.col("syyl") - F.col("syl").cast("double") * F.col("syl") / F.col("nl")
    ) + (
        (F.col("syyt") - F.col("syyl"))
        - (F.col("syt").cast("double") - F.col("syl"))
        * (F.col("syt").cast("double") - F.col("syl"))
        / (F.col("nt") - F.col("nl"))
    )
    a1 = (
        ac.filter(F.col("nl") < F.col("nt"))
        .select(
            "q",
            "nl",
            "nt",
            "syt",
            "syyt",
            leaf_l.alias("leaf_l"),
            leaf_r.alias("leaf_r"),
            sse1.alias("sse"),
        )
    )
    best1 = (
        a1.withColumn("rn", F.row_number().over(W.orderBy("sse", "q")))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    b = F.broadcast(
        best1.select(
            F.col("q").alias("t1"),
            F.col("leaf_l").alias("bl"),
            F.col("leaf_r").alias("br"),
        )
    )
    leaf = F.when(F.col("q") <= F.col("t1"), F.col("bl")).otherwise(
        F.col("br")
    )
    bres = (
        cells.crossJoin(b)
        .groupBy("d")
        .agg(
            F.sum("n").alias("n"),
            F.sum(F.col("sy") - F.col("n") * leaf).alias("sr"),
            F.sum(
                F.col("syy")
                - 2 * leaf * F.col("sy")
                + F.col("n") * leaf * leaf
            ).alias("srr"),
        )
    )
    wd = W.orderBy("d").rowsBetween(W.unboundedPreceding, W.currentRow)
    bc = bres.select(
        "d",
        F.sum("n").over(wd).alias("nl"),
        F.sum("sr").over(wd).alias("srl"),
        F.sum("srr").over(wd).alias("srrl"),
        F.sum("n").over(wa).alias("nt"),
        F.sum("sr").over(wa).alias("srt"),
        F.sum("srr").over(wa).alias("srrt"),
    )
    leaf2_l = F.col("srl") / F.col("nl")
    leaf2_r = (F.col("srt") - F.col("srl")) / (F.col("nt") - F.col("nl"))
    sse2 = (
        F.col("srrl") - F.col("srl") * F.col("srl") / F.col("nl")
    ) + (
        (F.col("srrt") - F.col("srrl"))
        - (F.col("srt") - F.col("srl"))
        * (F.col("srt") - F.col("srl"))
        / (F.col("nt") - F.col("nl"))
    )
    b1 = (
        bc.filter(F.col("nl") < F.col("nt"))
        .select(
            "d",
            "nl",
            "nt",
            "srrt",
            leaf2_l.alias("leaf_l"),
            leaf2_r.alias("leaf_r"),
            sse2.alias("sse"),
        )
    )
    best2 = (
        b1.withColumn("rn", F.row_number().over(W.orderBy("sse", "d")))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    r1 = best1.select(
        F.lit(1).alias("stage"),
        F.lit("quantity").alias("feature"),
        F.col("q").alias("threshold"),
        F.col("nl").alias("n_left"),
        half_up(F.col("leaf_l") / 100.0 * 1000).alias("leaf_left_milli"),
        half_up(F.col("leaf_r") / 100.0 * 1000).alias("leaf_right_milli"),
        half_up(
            (
                F.col("syyt")
                - F.col("syt").cast("double") * F.col("syt") / F.col("nt")
            )
            / F.col("nt")
            / 10000.0
            * 1000
        ).alias("mse_before_milli"),
        half_up(F.col("sse") / F.col("nt") / 10000.0 * 1000).alias("mse_after_milli"),
    )
    r2 = best2.select(
        F.lit(2).alias("stage"),
        F.lit("discount").alias("feature"),
        F.col("d").alias("threshold"),
        F.col("nl").alias("n_left"),
        half_up(F.col("leaf_l") / 100.0 * 1000).alias("leaf_left_milli"),
        half_up(F.col("leaf_r") / 100.0 * 1000).alias("leaf_right_milli"),
        half_up(F.col("srrt") / F.col("nt") / 10000.0 * 1000).alias("mse_before_milli"),
        half_up(F.col("sse") / F.col("nt") / 10000.0 * 1000).alias("mse_after_milli"),
    )
    return r1.unionByName(r2).orderBy("stage")


@register(
    "ml_regression_calibration",
    oracle="""
    WITH pts AS (
      SELECT CAST(l_quantity AS BIGINT) AS x,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS y
      FROM lineitem
      WHERE isfinite(l_quantity) AND isfinite(l_extendedprice)),
    s AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx,
             CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(CAST(x AS HUGEINT) * x) AS DOUBLE) AS sxx,
             CAST(sum(CAST(x AS HUGEINT) * y) AS DOUBLE) AS sxy
      FROM pts),
    fit AS (
      SELECT (n * sxy - CAST(sx AS DOUBLE) * sy)
               / (n * sxx - CAST(sx AS DOUBLE) * sx) AS b1,
             (sy - (n * sxy - CAST(sx AS DOUBLE) * sy)
                   / (n * sxx - CAST(sx AS DOUBLE) * sx) * sx)
               / CAST(n AS DOUBLE) AS b0
      FROM s),
    bins AS (
      SELECT least(9, (x - 1) // 5) AS bucket,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sxb,
             CAST(sum(y) AS BIGINT) AS syb
      FROM pts GROUP BY 1)
    SELECT bucket, n,
           CAST(floor((fit.b0 + fit.b1 * (CAST(sxb AS DOUBLE) / n))
                      / 100.0 * 1000 + 0.5) AS BIGINT)
             AS avg_pred_milli,
           CAST(floor(CAST(syb AS DOUBLE) / n / 100.0 * 1000 + 0.5)
                AS BIGINT) AS avg_actual_milli,
           CAST(floor(((fit.b0 + fit.b1 * (CAST(sxb AS DOUBLE) / n))
                       - CAST(syb AS DOUBLE) / n)
                      / 100.0 * 1000 + 0.5) AS BIGINT) AS bias_milli
    FROM bins CROSS JOIN fit
    ORDER BY bucket
    """,
)
def ml_regression_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MODEL CALIBRATION TABLE for the in-engine regression — the
    residual-by-feature-bucket diagnostic every model review runs
    before trusting a fit (a model can have great global R^2 and
    still be systematically biased in the tails; the per-bucket
    bias column IS that check, and for price-vs-quantity the linear
    fit's curvature bias is exactly what shows up). The simple-
    regression closed form (the regr_* 2x2 case) trains in the same
    one-scan sufficient-statistics pass; prediction averages per
    bucket need NO per-row scoring — avg(pred) = b0 + b1*avg(x) by
    linearity, so the calibration table is pure algebra over exact
    per-bucket integer sums joined to the 1-row fitted model.
    Fixed-width quantity buckets keep binning deterministic (no
    ntile ties). Train/eval on the same frame is deliberate: this
    entry diagnoses FIT SHAPE, not generalization (the split
    entries own that)."""
    pts = load_table(spark, sf_dir, "lineitem").where(
        # listwise deletion (r11 finite wave 2) — see oracle note
        is_finite("l_quantity") & is_finite("l_extendedprice")
    ).select(
        F.col("l_quantity").cast("long").alias("x"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("y"),
    )
    s = pts.agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        # x ≤ ~10² and y ≤ ~1e7 cents at any scale: products ≪ 2⁶³
        exact_moment("x", "x").alias("sxx"),
        exact_moment("x", "y").alias("sxy"),
    )
    # try_divide on the slope: a single-row (or constant-x) slice has
    # zero x-variance and the fit is undefined — NULL, DuckDB's x/0
    # answer, not an ANSI abort
    b1 = F.try_divide(
        F.col("n") * F.col("sxy")
        - F.col("sx").cast("double") * F.col("sy"),
        F.col("n") * F.col("sxx")
        - F.col("sx").cast("double") * F.col("sx"),
    )
    fit = s.select(
        b1.alias("b1"),
        (
            (F.col("sy") - b1 * F.col("sx")) / F.col("n").cast("double")
        ).alias("b0"),
    )
    bins = pts.groupBy(
        F.least(F.lit(9), F.floor((F.col("x") - 1) / 5)).alias("bucket")
    ).agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sxb"),
        F.sum("y").alias("syb"),
    )
    pred = F.col("b0") + F.col("b1") * (
        F.col("sxb").cast("double") / F.col("n")
    )
    actual = F.col("syb").cast("double") / F.col("n")
    return (
        bins.crossJoin(F.broadcast(fit))
        .select(
            "bucket",
            "n",
            half_up(pred / 100.0 * 1000).alias("avg_pred_milli"),
            half_up(actual / 100.0 * 1000).alias("avg_actual_milli"),
            half_up((pred - actual) / 100.0 * 1000).alias("bias_milli"),
        )
        .orderBy("bucket")
    )


@register(
    "ml_regression_kfold_cv",
    oracle="""
    WITH pts AS (
      SELECT (strpos('0123456789abcdef',
                substr(md5('cv:' || CAST(l_orderkey AS VARCHAR) || ':'
                           || CAST(l_linenumber AS VARCHAR)), 1, 1)) - 1)
               % 4 AS fold,
             CAST(l_quantity AS BIGINT) AS x,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS y
      FROM lineitem
      WHERE isfinite(l_quantity) AND isfinite(l_extendedprice)),
    f AS (
      SELECT fold, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx,
             CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(CAST(x AS HUGEINT) * x) AS DOUBLE) AS sxx,
             CAST(sum(CAST(x AS HUGEINT) * y) AS DOUBLE) AS sxy,
             CAST(sum(CAST(y AS HUGEINT) * y) AS DOUBLE) AS syy
      FROM pts GROUP BY 1),
    g AS (
      SELECT CAST(sum(n) AS BIGINT) AS n, CAST(sum(sx) AS BIGINT) AS sx,
             CAST(sum(sy) AS BIGINT) AS sy, sum(sxx) AS sxx,
             sum(sxy) AS sxy, sum(syy) AS syy
      FROM f),
    tr AS (
      SELECT f.fold, f.n AS n_test, f.sx AS tsx, f.sy AS tsy,
             f.sxx AS tsxx, f.sxy AS tsxy, f.syy AS tsyy,
             g.n - f.n AS n_tr, g.sx - f.sx AS rsx, g.sy - f.sy AS rsy,
             g.sxx - f.sxx AS rsxx, g.sxy - f.sxy AS rsxy
      FROM f CROSS JOIN g),
    fit AS (
      SELECT fold, n_test, tsx, tsy, tsxx, tsxy, tsyy,
             (n_tr * rsxy - CAST(rsx AS DOUBLE) * rsy)
               / (n_tr * rsxx - CAST(rsx AS DOUBLE) * rsx) AS b1,
             (rsy - (n_tr * rsxy - CAST(rsx AS DOUBLE) * rsy)
                    / (n_tr * rsxx - CAST(rsx AS DOUBLE) * rsx) * rsx)
               / CAST(n_tr AS DOUBLE) AS b0
      FROM tr)
    SELECT fold, n_test,
           CAST(floor(sqrt((tsyy + n_test * b0 * b0 + b1 * b1 * tsxx
                            - 2 * b0 * tsy - 2 * b1 * tsxy
                            + 2 * b0 * b1 * tsx) / n_test)
                      / 100.0 * 1000 + 0.5) AS BIGINT) AS rmse_milli,
           CAST(floor(b1 / 100.0 * 1000000 + 0.5) AS BIGINT)
             AS b1_micro
    FROM fit ORDER BY fold
    """,
)
def ml_regression_kfold_cv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-FOLD CROSS-VALIDATION of the in-engine regression with ZERO
    extra data passes — the trick is that sufficient statistics
    SUBTRACT: each fold's training moments are the global sums minus
    that fold's sums, so one grouped aggregate by (md5-assigned) fold
    trains all four held-out models at once, and each fold's test
    RMSE expands algebraically from its own moments
    (SSE = Syy + n*b0^2 + b1^2*Sxx - 2*b0*Sy - 2*b1*Sxy + 2*b0*b1*Sx)
    — no per-row prediction ever materializes. This is the honest
    generalization readout the same-frame calibration entry defers
    to, and the leave-fold-out pattern scales to any K at constant
    cost. Deterministic fold assignment (salted md5 of the row key),
    exact integer inputs, DECIMAL moments, identical closed forms."""
    pts = load_table(spark, sf_dir, "lineitem").where(
        # listwise deletion (r11 finite wave 2) — see oracle note
        is_finite("l_quantity") & is_finite("l_extendedprice")
    ).select(
        (
            (
                F.instr(
                    F.lit("0123456789abcdef"),
                    F.substring(
                        F.md5(
                            F.concat(
                                F.lit("cv:"),
                                F.col("l_orderkey").cast("string"),
                                F.lit(":"),
                                F.col("l_linenumber").cast("string"),
                            )
                        ),
                        1,
                        1,
                    ),
                )
                - 1
            )
            % 4
        ).alias("fold"),
        F.col("l_quantity").cast("long").alias("x"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("y"),
    )
    # x ≤ ~10² and y ≤ ~1e7 cents at any scale: products ≪ 2⁶³
    f = pts.groupBy("fold").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        exact_moment("x", "x").alias("sxx"),
        exact_moment("x", "y").alias("sxy"),
        exact_moment("y", "y").alias("syy"),
    )
    f.persist()
    g = f.agg(
        F.sum("n").alias("gn"),
        F.sum("sx").alias("gsx"),
        F.sum("sy").alias("gsy"),
        F.sum("sxx").alias("gsxx"),
        F.sum("sxy").alias("gsxy"),
        F.sum("syy").alias("gsyy"),
    )
    tr = f.crossJoin(F.broadcast(g)).select(
        "fold",
        F.col("n").alias("n_test"),
        F.col("sx").alias("tsx"),
        F.col("sy").alias("tsy"),
        F.col("sxx").alias("tsxx"),
        F.col("sxy").alias("tsxy"),
        F.col("syy").alias("tsyy"),
        (F.col("gn") - F.col("n")).alias("n_tr"),
        (F.col("gsx") - F.col("sx")).alias("rsx"),
        (F.col("gsy") - F.col("sy")).alias("rsy"),
        (F.col("gsxx") - F.col("sxx")).alias("rsxx"),
        (F.col("gsxy") - F.col("sxy")).alias("rsxy"),
    )
    # try_divide on both coefficients: a fold that holds EVERY row (a
    # single-row slice, or fewer rows than folds) leaves an empty or
    # constant-x training complement — zero x-variance, n_tr = 0 — and
    # that fold's model is undefined — NULL, DuckDB's x/0 answer
    b1 = F.try_divide(
        F.col("n_tr") * F.col("rsxy")
        - F.col("rsx").cast("double") * F.col("rsy"),
        F.col("n_tr") * F.col("rsxx")
        - F.col("rsx").cast("double") * F.col("rsx"),
    )
    b0 = F.try_divide(
        F.col("rsy") - b1 * F.col("rsx"), F.col("n_tr").cast("double")
    )
    fit = tr.select(
        "fold",
        "n_test",
        "tsx",
        "tsy",
        "tsxx",
        "tsxy",
        "tsyy",
        b1.alias("b1"),
        b0.alias("b0"),
    )
    sse = (
        F.col("tsyy")
        + F.col("n_test") * F.col("b0") * F.col("b0")
        + F.col("b1") * F.col("b1") * F.col("tsxx")
        - 2 * F.col("b0") * F.col("tsy")
        - 2 * F.col("b1") * F.col("tsxy")
        + 2 * F.col("b0") * F.col("b1") * F.col("tsx")
    )
    return fit.select(
        "fold",
        "n_test",
        half_up(F.sqrt(sse / F.col("n_test")) / 100.0 * 1000).alias("rmse_milli"),
        half_up(F.col("b1") / 100.0 * 1000000).alias("b1_micro"),
    ).orderBy("fold")
