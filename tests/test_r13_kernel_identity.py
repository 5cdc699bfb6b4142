"""r13 kernel-identity pins: the two operators whose INTERNALS changed
this round must stay value-identical to the expression paths they
replaced (the same discipline as the r12 _assign_cells_kernel sweep).

- kmeans assignment: `_nearest_kernel` (Arrow) vs `_nearest` (HOF fold)
  — same squared-L2 accumulation order, same lowest-cluster tie-break.
- cosine_pairs_blas: the distributed block-pair matmul vs the collected
  full-matrix kernel it replaced (driver-collect retirement, VERDICT
  r12 #2) — same pair set, same 6-dp sims.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StructField, StructType

from hive_release_spark.catalog import load_table
from hive_release_spark.llm import similarity
from hive_release_spark.llm.clustering import _nearest, _nearest_kernel
from tests.conftest import SF_SMOKE


def test_nearest_kernel_matches_hof(spark):
    emb = load_table(spark, SF_SMOKE, "embeddings")
    pts = emb.filter(similarity.vec_valid("embedding")).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    cents = [r.v for r in pts.orderBy("vec_id").limit(8).collect()]
    hof = {
        r.vec_id: r.cluster
        for r in pts.withColumn("cluster", _nearest(cents))
        .select("vec_id", "cluster")
        .collect()
    }
    schema = StructType(pts.schema.fields + [StructField("cluster", IntegerType())])
    ker = {
        r.vec_id: r.cluster
        for r in pts.mapInArrow(_nearest_kernel(cents), schema)
        .select("vec_id", "cluster")
        .collect()
    }
    assert hof == ker and len(ker) > 0


def test_blas_pairs_match_collected_matrix(spark):
    emb = load_table(spark, SF_SMOKE, "embeddings")
    src = emb.filter(similarity.vec_valid("embedding")).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    pdf = src.toPandas()
    ids = pdf["vec_id"].to_numpy()
    X = np.stack(pdf["v"].to_numpy()).astype("float64")
    nrm = np.linalg.norm(X, axis=1)
    nrm[nrm == 0] = 1.0
    N = X / nrm[:, None]
    S = N @ N.T
    mask = (S >= 0.4) & (ids[:, None] < ids[None, :])
    i, j = np.nonzero(mask)
    ref = {
        (int(ids[a]), int(ids[b])): float(S[a, b]) for a, b in zip(i, j)
    }
    got = {
        (r.id_a, r.id_b): r.sim
        for r in similarity.cosine_pairs_blas(emb, threshold=0.4).collect()
    }
    assert set(got) == set(ref) and len(got) > 0
    for k, v in got.items():
        assert v == float(np.round(ref[k], 6)), k


def test_dual_topk_pairs_matches_two_pass(spark):
    """The one-pass dual-geometry pair frame (emb_matryoshka_recall /
    sim_rrf_fusion, r13) must carry EXACTLY the sims the two separate
    brute_force_topk passes computed: same pair population, sim ==
    the full-dimension pass's cosine bit-for-bit, sim_p == the sliced
    pass's, and filter(ok_p) == the sliced pass's vec_valid row set."""
    spark.catalog.clearCache()
    emb = load_table(spark, SF_SMOKE, "embeddings").filter(
        similarity.vec_valid("embedding")
    )
    q = emb.filter(F.col("vec_id") < 20)

    def all_sims(queries, corpus):
        qq = queries.filter(similarity.vec_valid("embedding")).select(
            F.col("vec_id").alias("query_id"),
            similarity.as_double_vec("embedding").alias("qv"),
        ).withColumn("qn", similarity.norm(F.col("qv")))
        cc = corpus.filter(similarity.vec_valid("embedding")).select(
            F.col("vec_id").alias("neighbor_id"),
            similarity.as_double_vec("embedding").alias("cv"),
        ).withColumn("cn", similarity.norm(F.col("cv")))
        return {
            (r.query_id, r.neighbor_id): r.sim
            for r in cc.join(
                F.broadcast(qq), F.col("query_id") != F.col("neighbor_id")
            )
            .select(
                "query_id",
                "neighbor_id",
                similarity.cosine_pre(
                    F.col("qv"), F.col("cv"), F.col("qn"), F.col("cn")
                ).alias("sim"),
            )
            .collect()
        }

    full_ref = all_sims(q, emb)
    trunc_ref = all_sims(
        q.withColumn("embedding", F.slice("embedding", 1, 16)),
        emb.withColumn("embedding", F.slice("embedding", 1, 16)),
    )
    pairs = similarity.dual_topk_pairs(q, emb, prefix_len=16)
    rows = pairs.collect()
    pairs.unpersist()
    got_full = {(r.query_id, r.neighbor_id): r.sim for r in rows}
    got_trunc = {
        (r.query_id, r.neighbor_id): r.sim_p for r in rows if r.ok_p
    }
    assert got_full == full_ref and len(got_full) > 0
    assert got_trunc == trunc_ref
