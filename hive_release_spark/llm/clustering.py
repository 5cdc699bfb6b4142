"""Distributed k-means over embedding columns (Lloyd's algorithm).

The iterative-algorithm class a training-data pipeline needs (corpus
clustering for mixture balancing / topic bucketing). Spark-first shape,
same as MLlib's own KMeans driver loop:

- centroids live on the DRIVER (k × dim doubles — bounded, k ≤ 100s),
  embedded into the assignment expression as literals each iteration;
- ASSIGNMENT is a pure map stage: an ``array_min`` over k
  struct(distance, cluster) expressions — zero shuffles, no crossJoin,
  whole-stage-codegen'd JVM arithmetic;
- the UPDATE step is the only exchange per iteration: posexplode the
  vector and hash-aggregate (cluster, dim) → mean — 100 TB of vectors
  reduce to k × dim rows before the driver ever sees them.

Determinism across engines (the DuckDB oracle replays the identical
iterations): init centroids are the k lowest-id raw vectors (float
parquet values — bit-exact in both engines), and every updated centroid
mean is rounded to 6 decimals on BOTH sides so last-ulp float-summation
differences cannot flip an argmin near a boundary.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, IntegerType, StructField, StructType

from hive_release_spark.functions.numeric import half_up
from hive_release_spark.llm.similarity import VEC_VALID_SQL, arrow_fns, vec_valid


def _nearest(centroids: list[list[float]]):
    """Column expr: index of the nearest centroid (squared-L2,
    ties broken by lowest cluster id via struct ordering)."""
    cands = [
        F.struct(
            F.aggregate(
                F.zip_with(
                    F.col("v"),
                    F.array(*[F.lit(float(c)) for c in cent]),
                    lambda x, c: (x - c) * (x - c),
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ).alias("d"),
            F.lit(i).alias("c"),
        )
        for i, cent in enumerate(centroids)
    ]
    return F.array_min(F.array(*cands))["c"]


def _nearest_kernel(centroids: list[list[float]]):
    """``mapInArrow`` kernel appending ``cluster`` (INT), the
    nearest-centroid index of each row's ``v``, computed with the EXACT
    arithmetic contract of :func:`_nearest`, vectorized
    over rows (k·d elementwise numpy ops per BATCH, not k·d interpreted
    lambda steps per row — the ``_assign_cells_kernel`` recipe):

    - each candidate's squared-L2 distance accumulates SEQUENTIALLY
      over dimensions (``dist += (X[:, j] - C[:, j])²``, elementwise
      IEEE float64 — the identical per-row op sequence as the
      zip_with/aggregate fold, ((0 + t₀) + t₁) + …);
    - ``np.argmin`` returns the FIRST index attaining the minimum, so
      the LOWEST cluster id wins exact distance ties — the
      array_min struct(d, c) ordering, bit-for-bit.

    Precondition for that identity: every ``v`` and every centroid is
    finite and has the same dimension d.  ``kmeans_assign`` guarantees
    finiteness with ``vec_valid`` and the embedding column has a fixed
    width.  Outside it the paths differ: a NaN distance wins
    ``np.argmin`` but sorts last in Spark, and a ragged or NULL ``v``
    raises ``ValueError`` where ``zip_with`` pads with NULL.

    Verified value-identical against the HOF path on every fixture SF
    (the per-iteration assignment sweep in tools/ab history; the
    argmin-gap margin test independently pins the flip distance).
    ``v`` passes through so the means pass can re-explode it."""
    import numpy as np

    C = np.array(centroids, dtype="float64")  # len(cents) × d, id order
    matrix, append = arrow_fns()

    def assign(batches):
        for b in batches:
            X = matrix(b, "v")
            dist = np.zeros((len(X), C.shape[0]))
            for j in range(C.shape[1]):
                diff = X[:, j : j + 1] - C[:, j][None, :]
                dist += diff * diff
            yield append(b, cluster=np.argmin(dist, axis=1).astype("int32"))

    return assign


def kmeans_assign(emb: DataFrame, k: int = 8, n_iter: int = 3) -> DataFrame:
    """Run ``n_iter`` Lloyd iterations; return (id, cluster) assignments
    under the final centroids."""
    # corrupt vectors carry no geometry — not init candidates, not
    # assignable; drop JVM-side (scan-pushed), same contract as the
    # similarity kernels. r10 all-NULL axis; r12 vector-specials axis
    # extends the drop to NaN/Inf components and zero norm (one NaN
    # centroid member would poison every later iteration).
    pts = emb.filter(vec_valid("embedding")).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    pts.persist()
    try:
        cents = [r.v for r in pts.orderBy("vec_id").limit(k).collect()]
        if not cents:
            # zero-row input: no init centroids, nothing to assign —
            # the typed empty (id, cluster) answer (the oracle's CROSS
            # JOIN against an empty centroid set is empty too); without
            # the guard _nearest([]) builds a VOID-typed F.array() that
            # fails at analysis
            return pts.select("vec_id", F.lit(None).cast("int").alias("cluster"))
        # fewer rows than k: run with the centroids that exist — the
        # oracle's LIMIT k picks up the same smaller set, and indexing
        # the keep-previous fallback by len(cents) (not the requested
        # k) is what makes the k > n case an IndexError-free degrade
        # instead of a crash
        #
        # The assignment runs the vectorized Arrow kernel
        # (_nearest_kernel: bit-identical fold order and argmin
        # tie-break); the means pass and the 6-dp centroid rounding stay
        # JVM-side, so the update step's arithmetic is the oracle's.
        schema = StructType(pts.schema.fields + [StructField("cluster", IntegerType())])
        for _ in range(n_iter):
            assigned = pts.mapInArrow(_nearest_kernel(cents), schema)
            means = (
                assigned.select("cluster", F.posexplode("v").alias("pos", "val"))
                .groupBy("cluster", "pos")
                .agg(F.round(F.avg("val"), 6).alias("m"))
                .groupBy("cluster")
                .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("ms"))
                .collect()
            )
            new = {r.cluster: [x.m for x in r.ms] for r in means}
            # empty cluster → keep its previous centroid
            cents = [new.get(i, cents[i]) for i in range(len(cents))]
        return pts.mapInArrow(_nearest_kernel(cents), schema).select("vec_id", "cluster")
    finally:
        pts.unpersist()


def kmeans_oracle(k: int = 8, n_iter: int = 3) -> str:
    """DuckDB SQL replaying the exact same iterations (same init, same
    6-decimal centroid rounding, same lowest-cluster tie-break)."""
    sql = [
        "WITH pts AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings"
        " WHERE " + VEC_VALID_SQL + "),",
        f"c0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cluster, v AS c"
        f" FROM (SELECT vec_id, v FROM pts ORDER BY vec_id LIMIT {k})),",
    ]
    for i in range(n_iter):
        sql.append(
            f"a{i} AS (SELECT vec_id, v, cluster FROM ("
            f" SELECT p.vec_id, p.v, c.cluster,"
            f" row_number() OVER (PARTITION BY p.vec_id"
            f" ORDER BY list_sum(list_transform(generate_series(1, len(p.v)),"
            f" i -> (p.v[i] - c.c[i]) * (p.v[i] - c.c[i]))), c.cluster) AS rn"
            f" FROM pts p CROSS JOIN c{i} c) WHERE rn = 1),"
        )
        sql.append(
            f"m{i} AS (SELECT cluster, list(m ORDER BY pos) AS c FROM ("
            f" SELECT cluster, pos, round(avg(val), 6) AS m FROM ("
            f" SELECT cluster, generate_subscripts(v, 1) AS pos, unnest(v) AS val"
            f" FROM a{i}) GROUP BY cluster, pos) GROUP BY cluster),"
        )
        sql.append(
            f"c{i + 1} AS (SELECT prev.cluster, coalesce(m.c, prev.c) AS c"
            f" FROM c{i} prev LEFT JOIN m{i} m ON prev.cluster = m.cluster),"
        )
    sql.append(
        f"fin AS (SELECT vec_id, cluster FROM ("
        f" SELECT p.vec_id, c.cluster,"
        f" row_number() OVER (PARTITION BY p.vec_id"
        f" ORDER BY list_sum(list_transform(generate_series(1, len(p.v)),"
        f" i -> (p.v[i] - c.c[i]) * (p.v[i] - c.c[i]))), c.cluster) AS rn"
        f" FROM pts p CROSS JOIN c{n_iter} c) WHERE rn = 1)"
    )
    sql.append("SELECT vec_id, cluster FROM fin ORDER BY vec_id")
    return "\n".join(sql)


def pca_project(emb: DataFrame, k: int = 8) -> DataFrame:
    """Distributed PCA projection — the dimension-reduction step an
    embedding pipeline runs before ANN indexing or clustering.

    Spark-first shape (MLlib RowMatrix.computePrincipalComponents
    pattern):

    1. Per-Arrow-batch partial moments via ``mapInArrow``: each batch
       contributes its numpy ``XᵀX`` Gram block, column sums, and row
       count — a 100 TB corpus reduces map-side to (d²+d+1)-size
       partials, BLAS-computed, before any exchange.
    2. One (i, j) hash-agg shuffle merges partials; the d×d covariance
       (d = 64 → 4 161 cells) is collected to the DRIVER — bounded by
       dimension, never by corpus size (same contract as the k-means
       centroid loop).
    3. numpy ``eigh`` on the driver yields the top-k components; the
       projection itself is a zero-shuffle Arrow map stage (ONE
       ``mapInArrow`` kernel whose numpy accumulate replays a
       sequential fold's index order bit-for-bit),
       with the 6-dp output round staying JVM-side.

    Rows-only by design: float summation order makes the last ulp of
    the covariance — and the eigenvector signs — engine-specific, so
    there is no cross-engine oracle; correctness is pinned by the
    numpy-parity test (subspace match vs exact PCA on the collected
    corpus) in tests/test_clustering_pca.py.
    """
    import numpy as np
    import pyarrow as pa

    # corrupt vectors carry no geometry — excluded from the moments AND
    # from the projection output (r10 all-NULL axis; r12 vector-
    # specials axis: NaN/Inf components and zero norm drop too).
    emb = emb.filter(vec_valid("embedding"))
    head = emb.select("embedding").first()  # 1-row driver fetch, bounded
    if head is None:
        # zero-row corpus: no covariance to decompose — the typed empty
        # (id, pc0..pc{k-1}) projection (selecting from the empty input
        # keeps the id column's type)
        return emb.select(
            "vec_id", *[F.lit(0.0).alias(f"pc{c}") for c in range(k)]
        )
    d = len(head[0])
    matrix, append = arrow_fns()
    ii, jj = np.meshgrid(np.arange(d), np.arange(d), indexing="ij")
    i_key = np.concatenate([ii.ravel(), np.arange(d), [-1]]).astype("int32")
    j_key = np.concatenate([jj.ravel(), np.full(d, -1), [-1]]).astype("int32")

    def partial_moments(batches):
        for b in batches:
            X = matrix(b, "v")
            val = np.concatenate([(X.T @ X).ravel(), X.sum(axis=0), [float(len(X))]])
            yield pa.RecordBatch.from_pydict({"i": i_key, "j": j_key, "val": val})

    moments = (
        emb.select(F.col("embedding").cast("array<double>").alias("v"))
        .mapInArrow(partial_moments, "i INT, j INT, val DOUBLE")
        .groupBy("i", "j")
        .agg(F.sum("val").alias("val"))
        .collect()  # ≤ d² + d + 1 rows — dimension-bounded, documented
    )
    gram = np.zeros((d, d))
    mean = np.zeros(d)
    n = 0.0
    for r in moments:
        if r.i == -1:
            n = r.val
        elif r.j == -1:
            mean[r.i] = r.val
        else:
            gram[r.i, r.j] = r.val
    mean /= n
    cov = gram / n - np.outer(mean, mean)
    eigval, eigvec = np.linalg.eigh(cov)  # ascending
    comps = eigvec[:, ::-1][:, :k]  # d × k, top-k by variance
    # deterministic sign: make the largest-|coeff| entry positive
    for c in range(k):
        j = int(np.abs(comps[:, c]).argmax())
        if comps[j, c] < 0:
            comps[:, c] = -comps[:, c]

    # The projection pass is ONE Arrow kernel that accumulates the
    # dot products with vectorized numpy ops in a fold's sequential
    # index order — acc[:, c] after step i is ((0.0 + x₀w₀c) + x₁w₁c)
    # + … + xᵢwᵢc, the fold's exact IEEE op sequence — so every raw
    # projection value is bit-identical to the fold's, and the 6-dp
    # round stays on the JVM path (round semantics untouched).  A
    # fully-unrolled JVM element_at chain was measured FIRST and
    # rejected: min 4.12 s vs the fold's 2.78 s on the same box — the
    # 512-node expression tree evaluates per-node, losing to the
    # fold's array loop; the numpy kernel's batch accumulate wins
    # where per-row expression trees cannot.
    # Only the id goes back out with the projections: the vector would
    # cross the boundary again for nothing.
    comps_by_dim = [
        np.ascontiguousarray(comps[i, :], dtype="float64") for i in range(d)
    ]

    def project(batches):
        for b in batches:
            X = matrix(b, "v")
            acc = np.zeros((len(X), k), dtype="float64")
            for i in range(d):
                acc += X[:, i : i + 1] * comps_by_dim[i]
            yield append(
                b.select(["vec_id"]), **{f"raw{c}": acc[:, c] for c in range(k)}
            )

    pts = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    raw = pts.mapInArrow(
        project,
        StructType(
            [pts.schema["vec_id"]]
            + [StructField(f"raw{c}", DoubleType()) for c in range(k)]
        ),
    )
    proj_cols = []
    for c in range(k):
        offset = float(mean @ comps[:, c])
        proj_cols.append(
            F.round(F.col(f"raw{c}") - F.lit(offset), 6).alias(f"pc{c}")
        )
    return raw.select("vec_id", *proj_cols)


# ---------------------------------------------------------------------------
# Quantized power iteration — the oracle-gated dominant-component path
# ---------------------------------------------------------------------------

_PI_QUANT = 1_000_000.0  # 1e-6 state grid — the kmeans 6-decimal discipline


def _quantize(x: float) -> float:
    import math

    return math.floor(x * _PI_QUANT + 0.5) / _PI_QUANT


def power_iteration_project(emb: DataFrame, n_iter: int = 6, nq: int = 20) -> DataFrame:
    """Dominant principal component by QUANTIZED power iteration — the
    cross-engine-deterministic sibling of ``pca_project`` (VERDICT r5
    #4: make the PCA family oracle-gateable end-to-end).

    ``pca_project``'s eigensolve is rows-only by nature (eigenvector
    ulps and signs are engine-specific); power iteration has no such
    escape hatch IF every piece of iteration state is snapped to a
    shared grid, exactly like the k-means loop above: the mean vector
    and each iterate v_t are quantized floor(x*1e6+0.5)/1e6 on BOTH
    engines, so last-ulp float-summation differences in the distributed
    averages cannot compound across iterations — the two engines walk
    bit-identical trajectories and the final projection is an exact
    replay.

    Spark shape per iteration (same contract as the k-means driver
    loop): v_t lives on the DRIVER (64 doubles, dimension-bounded); the
    covariance apply C·v = avg over rows of xc·(xc·v) is ONE
    posexplode + hash-agg pass over the persisted centered corpus — at
    100 TB each iteration reduces map-side to d rows before the driver
    sees anything, and the projection pass is zero-shuffle JVM fold
    arithmetic. n_iter is fixed (a convergence-threshold loop would
    make plan shape data-dependent); the Rayleigh quotient of the last
    iterate is reported so a stalled iteration is visible in the hash.
    """
    import math

    # corrupt vectors carry no geometry — excluded from the moments,
    # the iterate, and the projection output (r10 all-NULL axis; r12
    # vector-specials axis: NaN/Inf components and zero norm too).
    emb = emb.filter(vec_valid("embedding"))
    first = emb.select("embedding").first()
    if first is None:
        # zero-row input: the DuckDB replay's recursive CTE emits no
        # projection rows, so the typed empty answer IS the oracle
        # match (the all-zero-ITERATE degenerate
        # case below still raises — that one is a data pathology on a
        # NONEMPTY corpus, not an empty slice)
        return emb.select(
            "vec_id",
            F.lit(0).cast("long").alias("pc1_micro"),
            F.lit(0).cast("long").alias("rayleigh_micro"),
            F.lit(0).cast("long").alias("n_iter"),
        )
    dim_ = len(first[0])
    pts = emb.select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("v"),
    )
    mrows = (
        pts.select(F.posexplode("v").alias("pos", "x"))
        .groupBy("pos")
        .agg(half_up(F.avg("x") * _PI_QUANT).alias("mq"))
        .collect()  # d rows — dimension-bounded driver fetch
    )
    mean = [0.0] * dim_
    for r in mrows:
        mean[r.pos] = r.mq / _PI_QUANT
    xc = F.zip_with(
        F.col("v"),
        F.array(*[F.lit(m) for m in mean]),
        lambda a, b: a - b,
    )
    xcdf = pts.select("vec_id", xc.alias("xc")).persist()
    try:
        v = [1.0 / math.sqrt(dim_)] * dim_  # exact for power-of-two dims
        rayleigh = 0.0
        for _ in range(n_iter):
            vlit = F.array(*[F.lit(x) for x in v])
            d = F.aggregate(
                F.zip_with(F.col("xc"), vlit, lambda a, b: a * b),
                F.lit(0.0),
                lambda s, x: s + x,
            )
            wrows = (
                xcdf.select(d.alias("d"), F.posexplode("xc").alias("pos", "x"))
                .groupBy("pos")
                .agg(
                    half_up(F.avg(F.col("x") * F.col("d")) * _PI_QUANT).alias("wq")
                )
                .collect()  # d rows per iteration — dimension-bounded
            )
            w = [0.0] * dim_
            for r in wrows:
                w[r.pos] = r.wq / _PI_QUANT
            rayleigh = 0.0
            norm2 = 0.0
            for j in range(dim_):  # sequential, mirrors list_dot_product
                rayleigh += v[j] * w[j]
                norm2 += w[j] * w[j]
            nrm = math.sqrt(norm2)
            if nrm == 0.0:
                # all-zero quantized iterate (degenerate mean-centered
                # input): fail identically and diagnosably on both
                # engines — Python would ZeroDivisionError here while
                # the DuckDB replay yields inf/NULL (ADVICE r6-5;
                # mirrors the kmeans loop's degenerate-input handling)
                raise ValueError(
                    "power_iteration_project: quantized iterate collapsed "
                    "to zero — mean-centered input is degenerate (constant "
                    "or sub-quantum variance columns)"
                )
            v = [_quantize(w[j] / nrm) for j in range(dim_)]
        vfin = F.array(*[F.lit(x) for x in v])
        proj = F.aggregate(
            F.zip_with(F.col("xc"), vfin, lambda a, b: a * b),
            F.lit(0.0),
            lambda s, x: s + x,
        )
        return (
            xcdf.filter(F.col("vec_id") < nq)
            .select(
                "vec_id",
                half_up(proj * _PI_QUANT).alias("pc1_micro"),
                F.lit(math.floor(rayleigh * _PI_QUANT + 0.5))
                .cast("long")
                .alias("rayleigh_micro"),
                F.lit(n_iter).cast("long").alias("n_iter"),
            )
            .orderBy("vec_id")
        )
    finally:
        xcdf.unpersist()


def power_iteration_oracle(n_iter: int = 6, nq: int = 20, dim: int = 64) -> str:
    """DuckDB SQL replaying the exact same quantized power iteration
    (same 1e-6 state grid, same all-ones/sqrt(d) start, same fixed
    iteration count) as unrolled CTEs — the ``kmeans_oracle``
    discipline applied to an eigensolver."""

    def q(e: str) -> str:
        return f"floor(({e}) * 1000000.0 + 0.5) / 1000000.0"

    v0 = "[" + ", ".join([repr(1.0 / dim**0.5)] * dim) + "]"
    parts = [
        "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v"
        " FROM embeddings WHERE " + VEC_VALID_SQL + "),",
        f"mm AS (SELECT pos, {q('avg(val)')} AS m FROM"
        " (SELECT generate_subscripts(v, 1) AS pos, unnest(v) AS val"
        " FROM e) GROUP BY pos),",
        "mv AS (SELECT list(m ORDER BY pos) AS m FROM mm),",
        f"xc AS (SELECT vec_id, list_transform(generate_series(1, {dim}),"
        " i -> e.v[i] - mv.m[i]) AS xc FROM e CROSS JOIN mv),",
        f"v0 AS (SELECT {v0} AS v),",
    ]
    for t in range(1, n_iter + 1):
        parts.append(
            f"d{t} AS (SELECT xc.xc AS xc, list_dot_product(xc.xc, v{t-1}.v)"
            f" AS d FROM xc CROSS JOIN v{t-1}),"
        )
        parts.append(
            f"w{t}_ AS (SELECT pos, {q('avg(x * d)')} AS w FROM"
            f" (SELECT d, generate_subscripts(xc, 1) AS pos, unnest(xc) AS x"
            f" FROM d{t}) GROUP BY pos),"
        )
        parts.append(f"w{t} AS (SELECT list(w ORDER BY pos) AS w FROM w{t}_),")
        parts.append(
            f"s{t} AS (SELECT w, list_dot_product((SELECT v FROM v{t-1}), w)"
            f" AS r, sqrt(list_dot_product(w, w)) AS nrm FROM w{t}),"
        )
        parts.append(
            f"v{t} AS (SELECT list_transform(w, x -> {q('x / nrm')}) AS v"
            f" FROM s{t}),"
        )
    parts.append(
        f"fin AS (SELECT xc.vec_id,"
        f" CAST(floor(list_dot_product(xc.xc, (SELECT v FROM v{n_iter}))"
        f" * 1000000.0 + 0.5) AS BIGINT) AS pc1_micro,"
        f" CAST(floor((SELECT r FROM s{n_iter}) * 1000000.0 + 0.5) AS BIGINT)"
        f" AS rayleigh_micro,"
        f" CAST({n_iter} AS BIGINT) AS n_iter"
        f" FROM xc WHERE xc.vec_id < {nq})"
    )
    parts.append("SELECT * FROM fin ORDER BY vec_id")
    return "\n".join(parts)
