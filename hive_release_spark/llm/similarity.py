"""Similarity search over embedding columns (SURVEY.md §2.L).

``embeddings.parquet`` carries ``embedding ARRAY<FLOAT>`` (FIXTURES.md).
Two paths:

- Brute-force cosine top-k — exact baseline. Dot products via
  ``zip_with``/``aggregate`` higher-order functions (JVM-side, codegen'd;
  no Python). Queries broadcast against the corpus, so the corpus never
  shuffles: at 100 TB this is one pass over the corpus per query batch.
- LSH-bucketed ANN — random-hyperplane signatures (deterministic planes
  derived from xxhash64, no RNG), bucket join, exact re-rank within
  buckets. Trades recall for avoiding the full scan per query.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W
from pyspark.sql import types as T

from hive_release_spark.functions.numeric import half_up

# Width of the ``embeddings`` fixture vectors: the LSH hyperplanes have
# this many components, and the DuckDB replay of the LSH entry embeds
# the same planes.
DIM = 64


def as_double_vec(col: Column | str) -> Column:
    return F.col(col).cast("array<double>") if isinstance(col, str) else col.cast("array<double>")


def arrow_fns():
    """``(matrix, append)``, the vector kernels' Arrow boundary, built per
    call (the :func:`_nearest_cell_fn` rule) so kernels ship them by value.

    ``matrix(batch, col)`` is the list column ``col`` of a batch or table
    as an ``(n, d)`` float64 array read from the list's child values; a
    NULL or ragged row raises ``ValueError`` naming ``col``. An empty
    partition sends no batch, so ``n > 0``. ``append(batch, **cols)``
    adds numpy arrays as columns; the batch's own pass through uncopied.
    ``mapInArrow`` does not cast: each dtype is its field's exact type."""
    import pyarrow as pa
    import pyarrow.compute as pc

    def matrix(batch, col: str):
        arr = batch.column(col)
        width = pc.min_max(pc.list_value_length(arr)).as_py()
        if arr.null_count or width["min"] != width["max"]:
            raise ValueError(
                f"column {col!r} holds a NULL or ragged vector: a matrix"
                " needs one vector of one width per row"
            )
        flat = pc.list_flatten(arr).to_numpy(zero_copy_only=False)
        return flat.astype("float64", copy=False).reshape(len(arr), -1)

    def append(batch, **cols):
        return pa.RecordBatch.from_arrays(
            batch.columns + [pa.array(a) for a in cols.values()],
            names=batch.schema.names + list(cols),
        )

    return matrix, append


# Vector-geometry contract v2 (r12 vector-specials axis, extending the
# r10 NULL-geometry contract): a vector with ANY NULL/NaN/Inf component
# or ZERO norm has NO position in the similarity space — cosine against
# it is NaN or a division by zero, and under DESC similarity ordering
# NaN ranks FIRST on both engines, so one corrupt crawl embedding would
# otherwise WIN every search. Such rows are dropped scan-side at every
# geometry intake (the same posture as finite()/ts_valid); the DuckDB
# oracle twin is :data:`VEC_VALID_SQL`.
VEC_VALID_SQL = (
    "embedding IS NOT NULL"
    " AND len(list_filter(embedding,"
    " x -> x IS NULL OR NOT isfinite(x))) = 0"
    " AND len(list_filter(embedding, x -> x <> 0)) > 0"
)


def vec_valid(col: Column | str) -> Column:
    """Boolean: ``col`` is a geometrically valid vector — non-NULL,
    every component non-NULL and finite, norm > 0. Oracle twin:
    :data:`VEC_VALID_SQL` (swap the column name for non-default
    columns). Codegen'd higher-order predicates, evaluated in the scan
    stage — no shuffle, no Python."""
    c = F.col(col) if isinstance(col, str) else col
    finite_all = F.forall(
        c, lambda x: x.isNotNull() & ~F.isnan(x) & (F.abs(x) != F.lit(float("inf")))
    )
    nonzero = F.exists(c, lambda x: x != 0.0)
    return c.isNotNull() & finite_all & nonzero


def dot(a: Column, b: Column) -> Column:
    """Sequential-order dot product (matches a scalar loop exactly)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def cosine_pre(a: Column, b: Column, na: Column, nb: Column) -> Column:
    """``cosine(a, b)`` with the two norms supplied as precomputed
    per-row columns — bit-identical (identical ops in identical order:
    ``dot/(na*nb)`` where ``na``/``nb`` are the same ``sqrt(fold)``
    values ``cosine`` would compute), but the norm folds are evaluated
    once per ROW instead of once per candidate PAIR (guide §1.2/§2.3:
    don't recompute inside the pair loop what is constant per row —
    the HOF folds are interpreted, so each one saved is ~2·d lambda
    evaluations per pair). r12 optimization."""
    return dot(a, b) / (na * nb)


def rank_neighbors(sims: DataFrame, k: int, *extra: str) -> DataFrame:
    """The per-query rank tail of every neighbor search: rank each
    query's ``(query_id, neighbor_id, sim)`` candidates by ``sim``
    descending, ties broken by neighbor id for determinism; keep ranks
    up to ``k``; return ``query_id, neighbor_id, *extra, sim, rank``
    with ``sim`` rounded to 6 places. The window partitions by query
    id: high cardinality, no skew."""
    w = W.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id"))
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id", "neighbor_id", *extra, F.round("sim", 6).alias("sim"), "rank"
        )
    )


def brute_force_topk(queries: DataFrame, corpus: DataFrame, k: int = 5) -> DataFrame:
    """Exact cosine top-k: broadcast(queries) ⋈ corpus → window rank."""
    # vector-geometry contract v2: corrupt vectors never enter the rank
    # norms precomputed per ROW below the join (cosine_pre) — the join
    # boundary keeps the fold on the input side, so each pair pays one
    # dot fold instead of three
    q = queries.filter(vec_valid("embedding")).select(
        F.col("vec_id").alias("query_id"), as_double_vec("embedding").alias("qv")
    ).withColumn("qn", norm(F.col("qv")))
    c = corpus.filter(vec_valid("embedding")).select(
        F.col("vec_id").alias("neighbor_id"), as_double_vec("embedding").alias("cv")
    ).withColumn("cn", norm(F.col("cv")))
    sims = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "sim", cosine_pre(F.col("qv"), F.col("cv"), F.col("qn"), F.col("cn"))
        )
        .select("query_id", "neighbor_id", "sim")
    )
    return rank_neighbors(sims, k)


def dual_topk_pairs(
    queries: DataFrame, corpus: DataFrame, prefix_len: int
) -> DataFrame:
    """ONE broadcast pair pass carrying BOTH the full-dimension cosine
    and the ``prefix_len``-dim Matryoshka-truncation cosine, for the
    callers that rank a corpus under both geometries
    (emb_matryoshka_recall, sim_rrf_fusion): one broadcast join, corpus
    scan and set of per-row norm folds where :func:`brute_force_topk`
    per geometry would run two of each. Returns the
    PERSISTED pair-skinny frame ``(query_id, neighbor_id, sim,
    sim_p, ok_p)`` (released by the caller's ``pipeline_scope``); the
    caller applies its own rank windows.

    Bit-identity contract: ``sim`` is exactly the ``cosine_pre`` value
    the full-dimension :func:`brute_force_topk` computed (same
    expressions, same per-row norm hoist); ``sim_p`` is exactly the
    sliced pass's value (``cast(slice(raw))`` composition preserved);
    ``ok_p`` is the sliced pass's ``vec_valid`` gate on BOTH sides —
    a sliced pass's scan filter, carried as a flag so the trunc
    window ranks the identical row population after ``filter(ok_p)``.
    """
    from pyspark import StorageLevel

    sl = F.slice(F.col("embedding"), 1, prefix_len)
    q = (
        queries.filter(vec_valid("embedding"))
        .select(
            F.col("vec_id").alias("query_id"),
            as_double_vec("embedding").alias("qv"),
            as_double_vec(sl).alias("qvp"),
            vec_valid(sl).alias("qok"),
        )
        .withColumn("qn", norm(F.col("qv")))
        .withColumn("qnp", norm(F.col("qvp")))
    )
    c = (
        corpus.filter(vec_valid("embedding"))
        .select(
            F.col("vec_id").alias("neighbor_id"),
            as_double_vec("embedding").alias("cv"),
            as_double_vec(sl).alias("cvp"),
            vec_valid(sl).alias("cok"),
        )
        .withColumn("cn", norm(F.col("cv")))
        .withColumn("cnp", norm(F.col("cvp")))
    )
    return (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine_pre(
                F.col("qv"), F.col("cv"), F.col("qn"), F.col("cn")
            ).alias("sim"),
            cosine_pre(
                F.col("qvp"), F.col("cvp"), F.col("qnp"), F.col("cnp")
            ).alias("sim_p"),
            (F.col("qok") & F.col("cok")).alias("ok_p"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )


def cosine_pairs(vectors: DataFrame, threshold: float) -> DataFrame:
    """All-pairs cosine ≥ threshold (embedding near-dup) over the full
    cross product: small inputs only. The scale path is
    :func:`semantic_dedup_pairs`, which pairs vectors within their
    nearest-centroid cell."""
    v = vectors.filter(vec_valid("embedding")).select(
        F.col("vec_id").alias("id"), as_double_vec("embedding").alias("v")
    ).withColumn("nv", norm(F.col("v")))  # per-row norm, not per-pair (r12)
    a, b = v.alias("a"), v.alias("b")
    return (
        a.join(b, F.col("a.id") < F.col("b.id"))
        .withColumn(
            "sim",
            cosine_pre(
                F.col("a.v"), F.col("b.v"), F.col("a.nv"), F.col("b.nv")
            ),
        )
        .filter(F.col("sim") >= threshold)
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.round("sim", 6).alias("sim"),
        )
    )


def cosine_pairs_blas(vectors: DataFrame, threshold: float) -> DataFrame:
    """All-pairs cosine ≥ threshold, BLAS block-matmul twin of
    ``cosine_pairs`` — same output, ~50× faster: the HOF self-join
    evaluates a 64-term fold expression per PAIR (n² row-at-a-time
    JVM work, 78 s at 2 000×2 000 on the bench box), while this path
    computes each block-PAIR as ONE ``N_a @ N_b.T`` (vectorized,
    Arrow-batched — the "Pandas UDFs beat per-row by 10-100×" rule
    applied to the pair bomb).

    The corpus never rides the driver: rows hash into ``nb``
    deterministic id-blocks (xxhash64 — stable across retries), each
    block packs into one ``collect_list(struct(id, v))`` row, and the
    nb(nb+1)/2 ordered block pairs fan out as tasks whose kernel runs
    normalize + matmul + the ``id_a < id_b`` mask. The pair grid is a
    driver-local frame of block numbers, the only broadcast: the packed
    blocks equi-join it once as the ``a`` side and once as the ``b``
    side, and the two sides meet in a shuffled hash join on the pair,
    whose exchange also spreads the pairs one per task.

    EAGER at call time: building this plan runs ONE bounded Spark
    action — the count() that sizes the block grid. Callers that only
    want the plan shape should use ``cosine_pairs`` instead.

    Scale posture: block replication is the trade — each block ships
    to nb pair-tasks, so the shuffle carries nb × corpus bytes
    (nb ≈ 64 at the 1M-row end: ~32 GB spread across the cluster).
    All-PAIRS output is O(n²) rows, so any n where this entry is
    feasible at all keeps nb small; beyond that, the cell-blocked
    ``semantic_dedup_pairs`` / LSH / IVF paths are the documented
    escapes. Pair emission keeps ``id_a < id_b`` inside
    the kernel so no post-filter shuffles."""
    import math

    import numpy as np
    import pyarrow as pa

    out_schema = "id_a BIGINT, id_b BIGINT, sim DOUBLE"
    # corrupt vectors carry no geometry — drop them JVM-side before
    # the matrix build (r10 all-NULL axis; r12 vector-specials axis
    # extends the drop to NaN/Inf components and zero norm, which
    # would otherwise poison the normalized matrix)
    src = vectors.filter(vec_valid("embedding")).select(
        F.col("vec_id").alias("id"), as_double_vec("embedding").alias("v")
    )
    # the kernel packs ids as int64; check the type before the count
    id_type = src.schema["id"].dataType
    if not isinstance(id_type, T.IntegralType):
        raise ValueError(
            "cosine_pairs_blas: vec_id must be an integer type, got"
            f" {id_type.simpleString()}"
        )
    n = src.count()  # bounded action: one long, sizes the block grid
    spark = vectors.sparkSession
    if n == 0:
        return spark.createDataFrame([], out_schema)
    # nb blocks ≈ n/8192 rows each, floored at 8 for task spread and
    # capped at 64 so replication (nb × corpus) stays bounded — the
    # grid scales with n, not with the local core count
    nb = max(8, min(64, math.ceil(n / 8192)))
    matrix, _ = arrow_fns()

    def unit_rows(block):
        # StructArray.flatten honors the block's slice offset;
        # RecordBatch.from_struct_array does not for every child
        rows = pa.RecordBatch.from_arrays(block.values.flatten(), names=["id", "v"])
        X = matrix(rows, "v")
        nrm = np.linalg.norm(X, axis=1)
        nrm[nrm == 0] = 1.0
        return rows.column("id").to_numpy().astype("int64"), X / nrm[:, None]

    def block(batches):
        for batch in batches:
            for ra, rb, same in zip(*batch.columns):
                ids_a, Na = unit_rows(ra)
                ids_b, Nb = (ids_a, Na) if same.as_py() else unit_rows(rb)
                S = Na @ Nb.T
                # a cross-block pair appears only in this task, whichever
                # side holds its lower id, so all are emitted, lower id
                # first (the sim is the same either way: IEEE multiply
                # commutes and the dot runs over the same dimension
                # order); a same-block pair appears twice, once kept
                keep = S >= threshold
                if same.as_py():
                    keep &= ids_a[:, None] < ids_b[None, :]
                i, j = np.nonzero(keep)
                yield pa.RecordBatch.from_pydict(
                    {
                        "id_a": np.minimum(ids_a[i], ids_b[j]),
                        "id_b": np.maximum(ids_a[i], ids_b[j]),
                        "sim": S[i, j],
                    }
                )

    packed = (
        src.withColumn(
            "blk", F.pmod(F.xxhash64(F.col("id")), F.lit(nb)).cast("int")
        )
        .groupBy("blk")
        .agg(F.collect_list(F.struct("id", "v")).alias("rows"))
        # two consumers (both join sides) — without the persist each
        # side re-runs the scan → pack lineage, reading the corpus
        # twice (the MinHash-base rule, SCALE.md deliberate-persist
        # inventory). The persist sits in the SQL CacheManager, which
        # the ContextCleaner never frees: the caller's pipeline_scope
        # unpersists it
        .persist()
    )
    grid = F.broadcast(
        spark.createDataFrame(
            [(a, b) for a in range(nb) for b in range(a, nb)], "blk_a INT, blk_b INT"
        )
    )

    def side(s):
        return packed.select(
            F.col("blk").alias(f"blk_{s}"), F.col("rows").alias(f"rows_{s}")
        ).join(grid, f"blk_{s}")

    # the shuffle-hash hint keeps a pair side from being broadcast when
    # the packed blocks look small
    pairs = side("a").join(side("b").hint("shuffle_hash"), ["blk_a", "blk_b"])
    return (
        pairs.select(
            "rows_a", "rows_b", (F.col("blk_a") == F.col("blk_b")).alias("same")
        )
        .mapInArrow(block, out_schema)
        .select("id_a", "id_b", F.round("sim", 6).alias("sim"))
    )


# ---------------------------------------------------------------------------
# LSH-bucketed ANN (scale path)
# ---------------------------------------------------------------------------


def _hyperplanes(dim: int, n_planes: int, table: int = 0) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes: component p[t][i][j]
    derived from a splitmix-style integer mix of (table, i, j) — no RNG
    state, stable across sessions/partitions."""
    planes = []
    for i in range(n_planes):
        row = []
        for j in range(dim):
            z = (
                table * 0xD6E8FEB86659FD93
                + i * 0x9E3779B97F4A7C15
                + j * 0xBF58476D1CE4E5B9
            ) & 0xFFFFFFFFFFFFFFFF
            z = ((z ^ (z >> 30)) * 0x94D049BB133111EB) & 0xFFFFFFFFFFFFFFFF
            z ^= z >> 31
            row.append((z / 2**64) * 2.0 - 1.0)
        planes.append(row)
    return planes


def lsh_bucket_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    n_planes: int = 4,
    n_tables: int = 8,
) -> DataFrame:
    """Multi-table hyperplane-LSH ANN: ``n_tables`` independent
    sign-of-projection signatures of ``n_planes`` bits each; a corpus
    vector is a candidate if it bucket-matches the query in ANY table
    (OR-amplification — single-table AND-only recall collapses on
    near-orthogonal data). Candidates are deduped, exact-cosine
    re-ranked. Approximate; each query touches only its buckets — the
    100 TB path (tune n_planes up for bigger corpora: bucket size ~
    n/2^n_planes per table).

    Signature kernel: ONE ``X @ P[t].T`` per table per Arrow batch
    inside ``mapInArrow``, where HOF folds would evaluate ~2 000
    lambdas per vector. The bucket integers equal a sequential fold's:
    the planes are the same splitmix constants, and
    ``tests/test_fixture_margins.py`` pins every projection's distance
    from zero orders of magnitude above BLAS-vs-sequential-fold
    summation drift at all fixture SFs (the independent replay in
    test_independent_reference_values.py computes signatures with the
    same matmul). The constant matrix (n_tables×n_planes×DIM doubles,
    ~16 KB at the defaults) rides the task closure; the n_tables-way
    posting expansion happens inside the kernel, with no explode.

    Boundary sensitivity for EXTERNAL callers (ADVICE r7-4): the sign
    bit ``proj > 0`` is evaluated under BLAS summation order, which
    can differ from a sequential fold (or another engine's SQL
    replay) by ~1e-13 in the projection value. The fixture-margin
    guarantee above is FIXTURE-scoped (min |proj| ≈ 1.7e-7 on the
    test corpora), not a property of the function: an arbitrary
    input vector whose projection lands within float-summation drift
    of zero can legitimately bucket differently across engines or
    BLAS builds. That flips membership of ONE table's bucket for
    that vector — with OR-amplification across ``n_tables`` the
    practical effect is a marginal candidate appearing/vanishing,
    i.e. approximate-recall jitter, not corruption."""
    import numpy as np

    planes_all = [
        np.array(_hyperplanes(DIM, n_planes, t), dtype="float64")
        for t in range(n_tables)
    ]
    bit_weights = (1 << np.arange(n_planes, dtype="int64")).astype("int64")
    matrix, append = arrow_fns()

    def with_buckets(df: DataFrame, vc: str) -> DataFrame:
        def bucketize(batches):
            for b in batches:
                X = matrix(b, vc)
                for t, P in enumerate(planes_all):
                    proj = X @ P.T
                    # table id in the high bits keeps buckets disjoint
                    # across tables (same layout as the SQL oracle)
                    yield append(b, bucket=(t << 32) + ((proj > 0) @ bit_weights))

        return df.mapInArrow(
            bucketize, T.StructType(df.schema.fields + [T.StructField("bucket", T.LongType())])
        )

    # NULL vectors carry no geometry — no signature, no candidacy;
    # drop JVM-side (scan-pushed) before the signature kernel's
    # matrix. r10 all-NULL axis.  The rerank norms are the JVM fold
    # (NOT a BLAS norm — bit-identity with the fold path), computed per
    # ROW here and passed through the kernel, so the rerank pays one
    # dot fold per candidate pair instead of three (r12).
    q = with_buckets(
        queries.filter(vec_valid("embedding")).select(
            F.col("vec_id").alias("query_id"), as_double_vec("embedding").alias("qv")
        ).withColumn("qn", norm(F.col("qv"))),
        "qv",
    )
    c = with_buckets(
        corpus.filter(vec_valid("embedding")).select(
            F.col("vec_id").alias("neighbor_id"), as_double_vec("embedding").alias("cv")
        ).withColumn("cn", norm(F.col("cv"))),
        "cv",
    )
    candidates = (
        c.join(F.broadcast(q), "bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "qv", "qn", "neighbor_id", "cv", "cn")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    sims = candidates.withColumn(
        "sim", cosine_pre(F.col("qv"), F.col("cv"), F.col("qn"), F.col("cn"))
    )
    return rank_neighbors(sims, k)


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN — coarse-quantizer scale path
# ---------------------------------------------------------------------------


def _empty_topk(queries: DataFrame, corpus: DataFrame) -> DataFrame:
    """Typed empty (query_id, neighbor_id, sim, rank) frame: the answer
    of every centroid-indexed top-k when the stride sample is empty (a
    zero-row corpus, or no vector id a multiple of the stride). No cell
    exists, so no vector has neighbors; the DuckDB replay oracles'
    empty ``cents`` CTE gives the same empty set. Id column types track
    the input frames so the schema is identical to the non-empty path's
    output."""
    qt = dict(queries.dtypes)["vec_id"]
    ct = dict(corpus.dtypes)["vec_id"]
    return queries.sparkSession.createDataFrame(
        [], f"query_id {qt}, neighbor_id {ct}, sim double, rank int"
    )


def _packed_centroids_data(corpus: DataFrame, n_cells: int) -> list:
    """Driver-side ``[(cell, [float, ...]), ...]`` stride-sampled
    centroids, in ONE Spark action: the stride is derived in-plan from
    a 1-row count aggregate (the oracle's own ``params`` CTE shape) and
    the ≤n_cells sample rows are collected directly. Cells are numbered
    by position in cid order, as the oracle's ``row_number() - 1``
    does. Driver state is the n_cells × d doubles the
    k-means-centroid rule already bounds."""
    cnt = corpus.agg(F.count("*").alias("__n"))
    stride = F.greatest(
        F.lit(1).cast("long"),
        (F.col("__n") / F.lit(n_cells)).cast("long"),
    )
    rows = (
        corpus.select(
            F.col("vec_id").alias("cid"), as_double_vec("embedding").alias("cv")
        )
        .crossJoin(F.broadcast(cnt))
        .filter(F.pmod(F.col("cid"), stride) == 0)
        .orderBy("cid")
        .limit(n_cells)
        .select("cv")
        .collect()
    )
    return [(i, [float(x) for x in r["cv"]]) for i, r in enumerate(rows)]


def _packed_frame(spark, cents: list) -> DataFrame:
    """The ONE-row ``cents array<struct<cell:int, cv:array<double>>>``
    frame from driver-side centroid data, so every consumer's 1-row
    broadcast attach carries NO corpus-scan lineage, and plan size stays
    O(1) in n_cells. PySpark plans it as a ``LogicalRDD`` over one
    parallelized row, not a LocalRelation; its broadcast runs one job
    either way, so an Arrow-built LocalRelation would not save a job.
    Array order is irrelevant to every consumer (sort by (sim, cell)
    structs, or by cell)."""
    return spark.createDataFrame(
        [(cents,)], "cents array<struct<cell:int, cv:array<double>>>"
    )


def _cell_sims(vec: Column) -> Column:
    """array<struct<sim,cell>> of dot products of ``vec`` against the
    packed ``cents`` column (vectors are ~unit norm; dot order matches
    cosine order). Struct ordering breaks exact sim ties toward the
    larger cell, as :func:`_nearest_cell_fn` does."""
    return F.transform(
        F.col("cents"),
        lambda s: F.struct(
            dot(vec, s.getField("cv")).alias("sim"),
            s.getField("cell").alias("cell"),
        ),
    )


def _nearest_cell_fn():
    """``nearest(X, C, dims)``: per row of ``X``, the index of the row of
    ``C`` with the largest dot product over dimensions ``dims``, as
    int32. The arithmetic contract the DuckDB oracles replay:

    - each dot accumulates SEQUENTIALLY over ``dims``
      (``acc += X[:, j] * C[k, j]``, elementwise IEEE float64: the same
      per-row op sequence as a ``zip_with``/``aggregate`` fold);
    - the argmax scans rows of ``C`` in ascending order keeping ``>=``,
      so the LARGER index wins exact ties (``ORDER BY sim DESC, cell
      DESC`` in the oracles).

    Built per call rather than defined at module level: the kernels
    that close over it then ship it to the Python workers by value, so
    a worker never has to import this package."""
    import numpy as np

    def nearest(X, C, dims: range):
        sims = np.zeros((len(X), len(C)))
        for j in dims:
            sims += X[:, j : j + 1] * C[:, j][None, :]
        best = np.full(len(X), -1, dtype="int32")
        bestv = np.full(len(X), -np.inf)
        for k in range(len(C)):
            m = sims[:, k] >= bestv
            best[m] = k
            bestv[m] = sims[m, k]
        return best

    return nearest


def _assign_cells_kernel(cents: list):
    """``mapInArrow`` kernel appending to each row its ``cell`` (INT):
    the cell of the centroid nearest its ``v``, i.e. the centroid's
    position in ``cents``, which :func:`_packed_centroids_data` makes
    its cell number, found by :func:`_nearest_cell_fn` over all
    dimensions (n_cells·d elementwise numpy ops per Arrow batch). The
    centroid matrix rides the task closure (the cosine_pairs_blas
    precedent). With no centroid there is no cell, and every row is
    dropped, as the oracles' cross join with an empty ``cents`` CTE
    drops it. The other columns pass through unchanged."""
    import numpy as np

    C = np.array([cv for _, cv in cents], dtype="float64")
    nearest = _nearest_cell_fn()
    matrix, append = arrow_fns()

    def assign(batches):
        for b in batches:
            if cents:
                yield append(b, cell=nearest(matrix(b, "v"), C, range(C.shape[1])))

    return assign


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 4,
) -> DataFrame:
    """IVF ANN: partition the corpus into ``n_cells`` Voronoi cells around
    coarse centroids, probe only the ``n_probe`` nearest cells per query,
    exact-cosine re-rank inside the probed cells.

    Centroids are stride-sampled corpus vectors (deterministic — no
    k-means iterations, no RNG; refining them with Lloyd steps only
    improves cell balance, not the contract), collected in ONE bounded
    action. They ride as DATA, never as plan literals, so plan size is
    O(1) in n_cells: the realistic coarse-quantizer size is n_cells ≈ √N,
    tens of thousands at 100 TB. The corpus never shuffles: one pass
    assigns cells through the Arrow kernel (:func:`_assign_cells_kernel`);
    the query side attaches the centroids as a 1-row LocalRelation
    broadcast and picks its probes by descending (sim, cell) sort. Each
    query then touches ~n_probe/n_cells of the corpus — the inverted-file
    trade every vector database makes. Recall vs the exact baseline is
    pinned in tests.
    """
    # vector-geometry contract v2 (r12): corrupt vectors dropped
    queries = queries.filter(vec_valid("embedding"))
    corpus = corpus.filter(vec_valid("embedding"))
    cents = _packed_centroids_data(corpus, n_cells)
    if not cents:
        return _empty_topk(queries, corpus)

    c = corpus.select(
        F.col("vec_id").alias("neighbor_id"), as_double_vec("embedding").alias("v")
    ).withColumn("cn", norm(F.col("v")))  # per-row norm, not per-pair (r12)
    c_cells = c.mapInArrow(
        _assign_cells_kernel(cents),
        T.StructType(c.schema.fields + [T.StructField("cell", T.IntegerType())]),
    )
    q = queries.select(
        F.col("vec_id").alias("query_id"), as_double_vec("embedding").alias("qv")
    ).withColumn("qn", norm(F.col("qv")))
    # top n_probe cells per query: sort the struct array desc, slice, project
    packed = _packed_frame(corpus.sparkSession, cents)
    q_probes = q.crossJoin(F.broadcast(packed)).select(
        "query_id",
        "qv",
        "qn",
        F.explode(
            F.transform(
                F.slice(F.reverse(F.array_sort(_cell_sims(F.col("qv")))), 1, n_probe),
                lambda s: s.getField("cell"),
            )
        ).alias("cell"),
    )
    candidates = (
        c_cells.join(F.broadcast(q_probes), "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "qv", "qn", "neighbor_id", F.col("v").alias("cv"), "cn")
    )
    sims = candidates.withColumn(
        "sim", cosine_pre(F.col("qv"), F.col("cv"), F.col("qn"), F.col("cn"))
    )
    return rank_neighbors(sims, k)


def assign_cells(vectors: DataFrame, n_cells: int = 16) -> DataFrame:
    """(id, v, cell): each vector labelled with its nearest stride-sampled
    centroid by the Arrow kernel — zero shuffles, plan size O(1) in
    n_cells. The coarse-quantizer assignment shared by IVF search and
    semantic (SemDeDup-style) dedup. An empty stride sample assigns no
    cell, so the result is empty."""
    # vector-geometry contract v2 (r12): corrupt vectors dropped
    vectors = vectors.filter(vec_valid("embedding"))
    v = vectors.select(
        F.col("vec_id").alias("id"), as_double_vec("embedding").alias("v")
    )
    cents = _packed_centroids_data(vectors, n_cells)
    return v.mapInArrow(
        _assign_cells_kernel(cents),
        T.StructType(v.schema.fields + [T.StructField("cell", T.IntegerType())]),
    )


def semantic_dedup_pairs(
    vectors: DataFrame, threshold: float, n_cells: int = 16, block_rows: int = 1024
) -> DataFrame:
    """SemDeDup-style semantic near-dup pairs: bucket every vector into
    its nearest-centroid cell, then emit cosine-≥-threshold pairs WITHIN
    cells only. The scale contract: pair candidates are Σ n_c²/2 over
    cell sizes (n_cells ≈ √N keeps cells ~√N), never the corpus-wide n²/2
    of the brute-force ``cosine_pairs`` — the trade is recall limited to
    same-cell pairs, which is the published SemDeDup design (near-dups
    share a cluster by construction of the embedding space). Assignment
    is the zero-shuffle Arrow kernel of :func:`assign_cells`; pair
    emission is ONE ``applyInArrow`` over the cell key (one shuffle)
    computing each cell's pair block by BLAS matmul, not a d-term fold
    per PAIR.

    Hot-cell memory contract (ADVICE r6-1): a whole cell of m rows
    does land in one Python worker — applyInArrow groups are
    indivisible, AQE can NOT split them — so the matmul is CHUNKED:
    only a ``block_rows``×m slice of the similarity matrix is live at
    once (O(block_rows·m·8B), ~0.8 GB at m=100k with the default
    1024-row block) instead of the dense m×m (80 GB at m=100k) a
    single ``N @ N.T`` would allocate. The m×d input matrix itself is
    the irreducible per-group footprint (~50 MB at m=100k, d=64); a
    corpus whose single hottest cell outgrows THAT needs more cells
    (n_cells ≈ √N keeps cells ~√N) — re-celling, not salting, is the
    escape that preserves the same-cell recall contract.
    Deterministic end-to-end → fully DuckDB-replayable (same
    centroid/argmax contract as ivf_topk)."""
    import numpy as np
    import pyarrow as pa

    # NULL vectors carry no geometry — drop them JVM-side before cell
    # assignment (scan-pushed; keeps NULL rows out of both the stride
    # centroid sample and the pair kernel's matrix). r10 all-NULL axis.
    vectors = vectors.filter(vec_valid("embedding"))
    assigned = assign_cells(vectors, n_cells)
    matrix, _ = arrow_fns()

    def cell_pairs(t):
        ids = t.column("id").to_numpy().astype("int64")
        order = np.argsort(ids)
        ids = ids[order]
        X = matrix(t, "v")[order]
        nrm = np.linalg.norm(X, axis=1)
        nrm[nrm == 0] = 1.0
        N = X / nrm[:, None]
        m = len(ids)
        cols = np.arange(m)
        id_a, id_b, sim = [], [], []
        for s in range(0, m, block_rows):
            e = min(s + block_rows, m)
            Sb = N[s:e] @ N.T  # block_rows × m slice — never m × m
            keep = (Sb >= threshold) & (cols[None, :] > np.arange(s, e)[:, None])
            bi, bj = np.nonzero(keep)
            id_a.append(ids[s + bi])
            id_b.append(ids[bj])
            sim.append(Sb[bi, bj])
        id_a = np.concatenate(id_a)
        cell = t.column("cell")[0].as_py()
        return pa.table(
            {
                "cell": np.full(len(id_a), cell, dtype="int64"),
                "id_a": id_a,
                "id_b": np.concatenate(id_b),
                "sim": np.concatenate(sim),
            }
        )

    return (
        assigned.select("cell", "id", "v")
        .groupBy("cell")
        .applyInArrow(
            cell_pairs, schema="cell BIGINT, id_a BIGINT, id_b BIGINT, sim DOUBLE"
        )
        .select("cell", "id_a", "id_b", F.round("sim", 6).alias("sim"))
    )


def label_centroids(vectors: DataFrame) -> DataFrame:
    """Element-wise mean embedding per label — class centroids, the
    aggregation behind IVF coarse quantizers, per-class prototypes, and
    embedding-drift monitoring. posexplode → groupBy (label, position) →
    avg: partial aggregation map-side, shuffle carries one row per
    (label, dim) — corpus-size-independent."""
    # vector-geometry contract v2 (r12): corrupt vectors dropped
    vectors = vectors.filter(vec_valid("embedding"))
    ex = vectors.select(
        "label",
        F.posexplode(as_double_vec("embedding")).alias("pos", "val"),
    )
    return ex.groupBy("label", "pos").agg(F.round(F.avg("val"), 6).alias("c"))


def normalize_quantize(df: DataFrame) -> DataFrame:
    """L2-normalize an embedding column and int8-quantize it
    (q = round(127 * x / ||v||)) — the standard storage/ANN-index prep
    for a trained-embedding corpus. Pure per-row expressions (transform/
    aggregate HOFs): embarrassingly parallel, zero shuffles; the norm is
    rounded to 6 decimals for output (accumulation-order ulp) while the
    quantizer divides by the raw norm."""
    # vector-geometry contract v2 (r12): corrupt vectors dropped
    df = df.filter(vec_valid("embedding"))
    # materialize the norm as its OWN projection so
    # the quantizer lambda references an attribute, not the fold
    # expression — inlined, the d-term norm fold was re-evaluated for
    # EVERY transform element (O(d²) per row, and HOF folds are
    # interpreted).  The alias is non-cheap and referenced twice, so
    # CollapseProject keeps it materialized.  Values are bit-identical:
    # same fold, evaluated once.
    base = df.select(
        "vec_id", as_double_vec("embedding").alias("__v")
    ).withColumn("__nrm", norm(F.col("__v")))
    return base.select(
        "vec_id",
        F.round(F.col("__nrm"), 6).alias("l2_norm"),
        F.transform(
            F.col("__v"), lambda x: F.round(x / F.col("__nrm") * 127).cast("int")
        ).alias("q8"),
    )


def pq_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    n_subspaces: int = 8,
    n_cells: int = 16,
) -> DataFrame:
    """Product-quantization ANN (the vector-database compression path):
    split each d-dim vector into ``n_subspaces`` slices, quantize every
    slice to its nearest (stride-sampled, deterministic) centroid slice,
    and score candidates by ADC — the sum of per-subspace dot products
    between the QUERY slice and the CODEBOOK slice the neighbor's code
    points at. The corpus is represented by n_subspaces small ints per
    vector (codes), not floats: at 100 TB the scan that scores
    candidates reads ~1/32nd of the bytes a full-precision re-rank
    would, which is the entire point of PQ.

    Scale shape: codebook = the packed 1-row broadcast (shared with IVF);
    encoding is a zero-shuffle map pass; scoring joins the (tiny) query
    set in by broadcast and ranks per query. Deterministic end-to-end —
    stride centroids, ascending argmax (larger cell wins ties),
    fixed ascending-subspace summation — so DuckDB replays codes AND ADC
    scores exactly.
    """
    from functools import reduce

    import numpy as np

    # NULL vectors carry no geometry — not encodable, not candidates;
    # drop JVM-side (scan-pushed). r10 all-NULL axis.
    corpus = corpus.filter(vec_valid("embedding"))
    queries = queries.filter(vec_valid("embedding"))
    cents = _packed_centroids_data(corpus, n_cells)
    if not cents:
        return _empty_topk(queries, corpus)
    d = len(cents[0][1])  # centroids come FROM the corpus
    if d % n_subspaces:
        raise ValueError(f"dim {d} not divisible by {n_subspaces} subspaces")
    w = d // n_subspaces
    packed = _packed_frame(corpus.sparkSession, cents)

    def sub(vec: Column, s: int) -> Column:
        return F.slice(vec, s * w + 1, w)

    # encoding: the nearest codebook slice per subspace, in the Arrow
    # kernel (n_subspaces × n_cells width-w dots per corpus row, the
    # dominant cost of the entry) under _nearest_cell_fn's arithmetic
    # contract. The codebook rides the task closure.
    # Only the id goes back out with the codes: the vector would cross
    # the boundary again for nothing.
    C = np.array([cv for _, cv in cents], dtype="float64")
    nearest = _nearest_cell_fn()
    matrix, append = arrow_fns()
    c = corpus.select(
        F.col("vec_id").alias("neighbor_id"), as_double_vec("embedding").alias("cv")
    )

    def encode(batches):
        for b in batches:
            X = matrix(b, "cv")
            yield append(
                b.select(["neighbor_id"]),
                **{
                    f"code_{s}": nearest(X, C, range(s * w, (s + 1) * w))
                    for s in range(n_subspaces)
                },
            )

    codes = c.mapInArrow(
        encode,
        T.StructType(
            [c.schema["neighbor_id"]]
            + [T.StructField(f"code_{s}", T.IntegerType()) for s in range(n_subspaces)]
        ),
    )

    # ADC lookup tables, the published PQ trick: sim(query, code) only
    # depends on (query, subspace, cell), so the n_queries x n_subspaces
    # x n_cells dot products are computed ONCE on the broadcast query
    # frame and the per-candidate scan does 8 array lookups instead of 8
    # width-w dot products (~w x less work on the 100 TB side). LUT s is
    # sorted by cell (unique), so element_at(lut_s, code_s + 1) is the
    # cell's value; the summands and their ascending-s order are
    # IDENTICAL to the direct formulation, so scores stay bit-equal and
    # the DuckDB replay oracle is unchanged.
    def _lut_entry(s: int):
        # one-arg lambda factory: a two-arg lambda would make F.transform
        # pass the ARRAY INDEX as the second argument, clobbering s
        return lambda cc: F.struct(
            cc["cell"].alias("cell"),
            dot(sub(F.col("qv"), s), sub(cc["cv"], s)).alias("v"),
        )

    lut_cols = [
        F.transform(
            F.array_sort(F.transform(F.col("cents"), _lut_entry(s))),
            lambda x: x["v"],
        ).alias(f"lut_{s}")
        for s in range(n_subspaces)
    ]
    q = (
        queries.select(
            F.col("vec_id").alias("query_id"), as_double_vec("embedding").alias("qv")
        )
        .crossJoin(F.broadcast(packed))
        .select("query_id", *lut_cols)
    )
    cand = codes.join(
        F.broadcast(q), F.col("query_id") != F.col("neighbor_id")
    )
    parts = [
        F.element_at(F.col(f"lut_{s}"), F.col(f"code_{s}") + 1)
        for s in range(n_subspaces)
    ]
    adc = reduce(lambda a, b: a + b, parts)  # fixed ascending-s order
    sims = cand.withColumn("sim", adc)
    return rank_neighbors(sims, k)


def binary_hamming_topk(
    queries: DataFrame, corpus: DataFrame, k: int = 5, shortlist: int = 50
) -> DataFrame:
    """Binary-quantization ANN: 1-bit sign codes + Hamming shortlist +
    exact cosine rerank — the modern embedding-compression serving
    pattern (a 64-dim float vector becomes ONE 64-bit word; memory
    drops 32x and candidate scoring becomes bit_count(xor), one cycle
    per candidate instead of a 64-term dot product).

    Shape: corpus codes are a scan-side HOF over the vector (no
    shuffle); the broadcast query side carries both code and full
    vector, so the Hamming shortlist AND the rerank ride ONE pass over
    the corpus — the full-precision corpus vector is only touched for
    the ``shortlist`` survivors per query. Deterministic end to end:
    sign bits of identical floats, integer Hamming, the same cosine
    expression as brute_force_topk, ties broken by neighbor id."""
    # vector-geometry contract v2 (r12): corrupt vectors dropped
    queries = queries.filter(vec_valid("embedding"))
    corpus = corpus.filter(vec_valid("embedding"))
    weights = [(2**i if i < 63 else -(2**63)) for i in range(64)]
    warr = F.array(*[F.lit(w).cast("long") for w in weights])

    def code(vec: Column) -> Column:
        bits = F.zip_with(
            as_double_vec(vec) if isinstance(vec, str) else vec,
            warr,
            lambda x, w: F.when(x > 0, w).otherwise(F.lit(0).cast("long")),
        )
        return F.aggregate(bits, F.lit(0).cast("long"), lambda a, x: a + x)

    q = (
        queries.select(
            F.col("vec_id").alias("query_id"),
            as_double_vec("embedding").alias("qv"),
        )
        .withColumn("qcode", code(F.col("qv")))
        .withColumn("qn", norm(F.col("qv")))  # per-row norm (r12)
    )
    c = (
        corpus.select(
            F.col("vec_id").alias("neighbor_id"),
            as_double_vec("embedding").alias("cv"),
        )
        .withColumn("ccode", code(F.col("cv")))
        .withColumn("cn", norm(F.col("cv")))
    )
    cand = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "hamming",
            F.bit_count(F.col("qcode").bitwiseXOR(F.col("ccode"))).cast(
                "long"
            ),
        )
    )
    ws = W.partitionBy("query_id").orderBy("hamming", "neighbor_id")
    short = cand.withColumn("srank", F.row_number().over(ws)).filter(
        F.col("srank") <= shortlist
    )
    rerank = short.withColumn(
        "sim", cosine_pre(F.col("qv"), F.col("cv"), F.col("qn"), F.col("cn"))
    )
    return rank_neighbors(rerank, k, "hamming")


def sq8_topk(
    queries: DataFrame, corpus: DataFrame, k: int = 5, shortlist: int = 50
) -> DataFrame:
    """Scalar-quantization (SQ8) ANN: per-dimension min-max int8 codes
    + integer-dot shortlist + exact cosine rerank — the 4x-compression
    middle rung of the quantization ladder (binary 32x lossy, PQ
    codebook-lossy, SQ8 nearly lossless), and what vector stores ship
    as their default compressed tier.

    Per-dim stats come from ONE posexplode pass over the corpus,
    packed into a single-row (mins, spans) frame that rides a 1-row
    broadcast to both sides — plan size O(1) in dimensionality, the
    same packing discipline as the IVF/PQ paths. Codes are scan-side
    index-HOFs (no shuffle); code_i = floor((x-mn_i)/span_i + 0.5) is
    a round-to-integer of identical doubles, which both engines agree
    on exactly. The shortlist metric is the PURE-BIGINT code dot —
    dot in per-dim min-max normalized space, a rank proxy made exact
    by the full-precision rerank of its ``shortlist`` survivors —
    so shortlist membership has ZERO float sensitivity and the only
    doubles in the pipeline are the final reranked cosines (the same
    expression brute_force_topk gates). Ties break on neighbor id at
    both stages."""
    # vector-geometry contract v2 (r12): corrupt vectors dropped
    queries = queries.filter(vec_valid("embedding"))
    corpus = corpus.filter(vec_valid("embedding"))
    vstats = (
        corpus.select(
            F.posexplode(as_double_vec("embedding")).alias("pos", "x")
        )
        .groupBy("pos")
        .agg(F.min("x").alias("mn"), F.max("x").alias("mx"))
        .agg(
            F.array_sort(
                F.collect_list(F.struct("pos", "mn", "mx"))
            ).alias("s")
        )
        .select(
            F.transform("s", lambda t: t.mn).alias("mins"),
            F.transform(
                "s",
                lambda t: F.when(
                    t.mx > t.mn, (t.mx - t.mn) / F.lit(255.0)
                ).otherwise(F.lit(0.0)),
            ).alias("spans"),
        )
    )

    def code(vec: Column) -> Column:
        return F.transform(
            vec,
            lambda x, i: F.when(
                F.element_at(F.col("spans"), i + 1) > 0,
                half_up(
                    (x - F.element_at(F.col("mins"), i + 1))
                    / F.element_at(F.col("spans"), i + 1)
                ),
            ).otherwise(F.lit(0).cast("long")),
        )

    q = (
        queries.select(
            F.col("vec_id").alias("query_id"),
            as_double_vec("embedding").alias("qv"),
        )
        .crossJoin(F.broadcast(vstats))
        .withColumn("qcode", code(F.col("qv")))
        .withColumn("qn", norm(F.col("qv")))  # per-row norm (r12)
        .select("query_id", "qv", "qcode", "qn")
    )
    c = (
        corpus.select(
            F.col("vec_id").alias("neighbor_id"),
            as_double_vec("embedding").alias("cv"),
        )
        .crossJoin(F.broadcast(vstats))
        .withColumn("ccode", code(F.col("cv")))
        .withColumn("cn", norm(F.col("cv")))
        .select("neighbor_id", "cv", "ccode", "cn")
    )
    cand = c.join(
        F.broadcast(q), F.col("query_id") != F.col("neighbor_id")
    ).withColumn(
        "approx",
        F.aggregate(
            F.zip_with(
                F.col("qcode"), F.col("ccode"), lambda a, b: a * b
            ),
            F.lit(0).cast("long"),
            lambda a, x: a + x,
        ),
    )
    ws = W.partitionBy("query_id").orderBy(
        F.col("approx").desc(), "neighbor_id"
    )
    short = cand.withColumn("srank", F.row_number().over(ws)).filter(
        F.col("srank") <= shortlist
    )
    rerank = short.withColumn(
        "sim", cosine_pre(F.col("qv"), F.col("cv"), F.col("qn"), F.col("cn"))
    )
    return rank_neighbors(rerank, k, "approx")
