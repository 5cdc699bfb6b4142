"""Training-data-pipeline completions (SURVEY.md §2.L): text
normalization, deterministic train/eval split, Arrow-vectorized cosine
top-k (the numpy fast path for wide embeddings).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from hive_release_spark.catalog import load_table
from hive_release_spark.llm import similarity
from hive_release_spark.queries.registry import register


@register(
    "text_normalize",
    oracle="""
    SELECT doc_id,
           trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
                               ' +', ' ', 'g')) AS norm,
           length(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
                               ' +', ' ', 'g'))) AS norm_len
    FROM documents WHERE doc_id < 250
    """,
)
def text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate-strip normalization: lowercase, non-alnum → space,
    whitespace collapse, trim — the canonicalization step ahead of
    dedup/fingerprinting. Pure JVM expressions."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 250)
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower("text"), "[^a-z0-9 ]", " "), " +", " "
        )
    )
    return docs.select(
        "doc_id", norm.alias("norm"), F.length(norm).cast("long").alias("norm_len")
    )


@register(
    "split_train_eval",
    oracle="""
    SELECT lang,
           CASE WHEN doc_id % 10 < 8 THEN 'train'
                WHEN doc_id % 10 = 8 THEN 'eval' ELSE 'test' END AS split,
           count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS chars
    FROM documents
    GROUP BY 1, 2
    """,
)
def split_train_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/eval/test split on a stable key —
    reproducible across runs/engines (vs RNG splits), stratification
    auditable per language."""
    docs = load_table(spark, sf_dir, "documents")
    split = (
        F.when(F.col("doc_id") % 10 < 8, "train")
        .when(F.col("doc_id") % 10 == 8, "eval")
        .otherwise("test")
    )
    return docs.groupBy("lang", split.alias("split")).agg(
        F.count("*").alias("n"), F.sum("n_chars").alias("chars")
    )


_TOPK_ORACLE = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE embedding IS NOT NULL AND len(list_filter(embedding, x -> x IS NULL OR NOT isfinite(x))) = 0 AND len(list_filter(embedding, x -> x <> 0)) > 0),
sims AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         list_cosine_similarity(q.v, c.v) AS sim
  FROM e q JOIN e c ON q.vec_id <> c.vec_id
  WHERE q.vec_id < 20
),
ranked AS (
  SELECT query_id, neighbor_id, sim,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY round(sim, 9) DESC, neighbor_id) AS rank
  FROM sims
)
SELECT query_id, neighbor_id, round(sim, 6) AS sim, rank
FROM ranked WHERE rank <= 5
"""


@register("sim_cosine_topk_arrow", oracle=_TOPK_ORACLE)
def sim_cosine_topk_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cosine top-k via a numpy matmul inside mapInArrow — the
    vectorized fast path for wide embeddings (BLAS beats per-element
    higher-order functions as dimensionality grows). Queries are
    broadcast to every batch as a numpy matrix; each Arrow batch of the
    corpus computes a (batch × queries) similarity block; top-k is a
    window rank after. Ranks are taken on 9-decimal-rounded sims so BLAS
    summation order can't flip neighbor order vs the oracle."""
    # vector-geometry contract v2 (r12 vector-specials axis):
    # corrupt vectors (NaN/Inf component, zero norm) dropped at the
    # load — BEFORE any slicing/arm split, so every pass sees the
    # same population; oracle twin mirrors on the full embedding
    emb = load_table(spark, sf_dir, "embeddings").filter(
        similarity.vec_valid("embedding")
    )
    qrows = emb.filter(F.col("vec_id") < 20).select("vec_id", "embedding").collect()
    if not qrows:
        # empty query set (zero-row corpus, or no vec_id < 20): no
        # similarity rows — typed like the non-empty output
        return spark.createDataFrame(
            [], "query_id long, neighbor_id long, sim double, rank int"
        )
    q_ids = np.array([r.vec_id for r in qrows], dtype="int64")
    q_mat = np.array([r.embedding for r in qrows], dtype=np.float64)
    q_norm = q_mat / np.linalg.norm(q_mat, axis=1, keepdims=True)
    matrix, _ = similarity.arrow_fns()

    def score(batches):
        for b in batches:
            c = matrix(b, "embedding")
            c_norm = c / np.linalg.norm(c, axis=1, keepdims=True)
            sims = c_norm @ q_norm.T  # (batch, n_queries)
            n, m = sims.shape
            yield pa.RecordBatch.from_pydict(
                {
                    "query_id": np.tile(q_ids, n),
                    "neighbor_id": np.repeat(b.column("vec_id").to_numpy().astype("int64"), m),
                    "sim": sims.ravel(),
                }
            )

    sims = emb.select("vec_id", "embedding").mapInArrow(
        score, "query_id long, neighbor_id long, sim double"
    ).filter(F.col("query_id") != F.col("neighbor_id"))
    w = W.partitionBy("query_id").orderBy(F.round("sim", 9).desc(), F.col("neighbor_id"))
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("query_id", "neighbor_id", F.round("sim", 6).alias("sim"), "rank")
    )
