"""Graph analytics over the Jaccard >= 0.5 near-dup pair graph:
PageRank (the iterative-join algorithm class) and triangle/clustering
statistics. Same edge derivation as ``dedup_connected_components`` —
the oracles re-derive the pair set in SQL and unroll the iterations.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hive_release_spark.catalog import load_table
from hive_release_spark.functions.numeric import exact_moment, half_up
from hive_release_spark.llm import dedup, graph
from hive_release_spark.operators.pairs import baskets, sorted_pairs
from hive_release_spark.operators.topk import bounded_sort, global_topk
from hive_release_spark.queries.registry import register

# The Jaccard >= 0.5 trigram pair set, identical to the
# dedup_connected_components oracle's derivation.
_PAIRS_CTE = """
    sh AS (
      SELECT doc_id, list_distinct(list_transform(generate_series(1, len(w)-2),
             i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingles
      FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
    ),
    ex AS (SELECT doc_id, len(shingles) AS n_sh, unnest(shingles) AS s FROM sh),
    pairs AS MATERIALIZED (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
      HAVING count(*) * 1.0 / (any_value(a.n_sh) + any_value(b.n_sh) - count(*)) >= 0.5
    )
"""


def _pr_iterations(k: int) -> str:
    """Unrolled PageRank rounds: s{i} = incoming mass, p{i} = new rank."""
    out = []
    prev = "p0"
    for i in range(1, k + 1):
        out.append(
            f"""
    s{i} AS (SELECT e.b AS a, sum({prev}.p / deg.d) AS s
          FROM edges e JOIN {prev} ON e.a = {prev}.a
                       JOIN deg ON e.a = deg.a
          GROUP BY e.b),
    p{i} AS (SELECT s{i}.a, 0.15 / nn.n + 0.85 * s{i}.s AS p
          FROM s{i} CROSS JOIN nn)"""
        )
        prev = f"p{i}"
    return ",".join(out)


def _copurchase_pairs(li: DataFrame) -> DataFrame:
    """The >= 2-support co-purchase edge list (pa < pb), emitted from
    each order's sorted distinct part list by sorted_pairs instead of
    an equi-self-join of the distinct basket frame (which shuffled it
    twice plus the pair groupBy, or broadcast it wholesale at fixture
    scale). Parts are distinct within an order and the array is
    ascending, so the pairs are exactly pa < pb. Shared by the
    Adamic-Adar / Jaccard-neighbors / assortativity substrate
    builders; returned UNPERSISTED."""
    bs = baskets(li, "l_orderkey", "l_partkey", "parts")
    return (
        sorted_pairs(
            bs, "parts", lambda x, y: F.struct(x.alias("pa"), y.alias("pb"))
        )
        .groupBy(F.col("p.pa").alias("pa"), F.col("p.pb").alias("pb"))
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") >= 2)
        .select("pa", "pb")
    )



@register(
    "graph_pagerank",
    oracle=f"""
    WITH {_PAIRS_CTE},
    edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
              UNION SELECT doc_b, doc_a FROM pairs),
    deg AS (SELECT a, count(*) AS d FROM edges GROUP BY a),
    nn AS (SELECT count(*) AS n FROM deg),
    p0 AS (SELECT a, 1.0 / nn.n AS p FROM deg CROSS JOIN nn),
    {_pr_iterations(3)}
    SELECT p3.a AS doc_id, CAST(deg.d AS BIGINT) AS degree,
           round(p3.p, 6) AS pagerank
    FROM p3 JOIN deg ON p3.a = deg.a
    ORDER BY doc_id
    """,
)
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the near-dup graph — ranks the "hub" documents a
    template cluster revolves around (the doc to inspect before mass-
    dropping a cluster). 3 synchronous rounds, alpha=0.85, uniform
    start; see llm/graph.pagerank for the per-round join shape and the
    one-scalar driver-state contract. Oracle: the same rounds unrolled
    as SQL CTEs. FP note: only the final rank is rounded (6 dp); the
    symmetric graph has no dangling mass, so both engines sum the same
    finite term sets."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.jaccard_pairs(docs, n=3, threshold=0.5)
    return graph.pagerank(pairs, alpha=0.85, iters=3)


@register(
    "graph_triangles",
    oracle=f"""
    WITH {_PAIRS_CTE},
    tri AS (
      SELECT count(*) AS n_triangles
      FROM pairs p1
      JOIN pairs p2 ON p2.doc_a = p1.doc_b
      JOIN pairs p3 ON p3.doc_a = p1.doc_a AND p3.doc_b = p2.doc_b),
    sd AS (
      SELECT a, count(*) AS d FROM (
        SELECT doc_a AS a FROM pairs UNION ALL SELECT doc_b FROM pairs)
      GROUP BY a),
    st AS (
      SELECT count(*) AS n_nodes,
             CAST(sum(d) / 2 AS BIGINT) AS n_edges,
             CAST(sum(d * (d - 1)) / 2 AS BIGINT) AS n_wedges
      FROM sd)
    SELECT n_nodes, n_edges, n_triangles,
           CASE WHEN n_wedges = 0 THEN 0.0
                ELSE round(3.0 * n_triangles / n_wedges, 6)
           END AS clustering_coeff
    FROM st CROSS JOIN tri
    """,
)
def graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count + global clustering coefficient of the near-dup
    graph — the "is this corpus template-heavy" diagnostic (high
    clustering = boilerplate families, low = chance collisions). The
    ordered 3-cycle join matches each triangle exactly once; see
    llm/graph.triangle_stats. The deliberate crossJoin attaches two
    1-row aggregate frames (repo's threshold-attach pattern)."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.jaccard_pairs(docs, n=3, threshold=0.5)
    return graph.triangle_stats(pairs)


@register(
    "dedup_cluster_size_histogram",
    oracle=f"""
    WITH RECURSIVE {_PAIRS_CTE},
    edges AS (
      SELECT doc_a AS a, doc_b AS b FROM pairs
      UNION
      SELECT doc_b, doc_a FROM pairs
    ),
    reach(a, b) AS (
      SELECT a, a FROM edges
      UNION
      SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
    ),
    comp AS (SELECT a AS doc_id, min(b) AS component FROM reach GROUP BY a),
    sizes AS (SELECT component, count(*) AS cluster_size FROM comp GROUP BY 1)
    SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
           count(*) AS n_clusters,
           CAST(sum(cluster_size - 1) AS BIGINT) AS docs_dropped
    FROM sizes GROUP BY 1 ORDER BY 1
    """,
)
def dedup_cluster_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTER-SIZE distribution — the dedup yield report: for
    each cluster size, how many clusters and how many documents the
    min-id survivor rule will drop (size − 1 each). Read next to
    `dedup_graph_degrees` before running the drop: a long tail of big
    clusters means template families and a big corpus haircut. One
    groupBy pair over the CC label frame (skinny); the component labels
    come from the same min-label propagation as
    `dedup_connected_components`, oracle-replayed via the recursive-CTE
    closure."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.jaccard_pairs(docs, n=3, threshold=0.5)
    comp = dedup.connected_components(pairs)
    sizes = comp.groupBy("component").agg(F.count("*").alias("cluster_size"))
    # one row per distinct cluster size
    return bounded_sort(
        sizes.groupBy("cluster_size")
        .agg(
            F.count("*").alias("n_clusters"),
            F.sum(F.col("cluster_size") - 1).alias("docs_dropped"),
        ),
        "cluster_size",
    )


@register(
    "graph_local_clustering",
    oracle=f"""
    WITH {_PAIRS_CTE},
    tri AS (
      SELECT p1.doc_a AS va, p1.doc_b AS vb, p2.doc_b AS vc
      FROM pairs p1
      JOIN pairs p2 ON p2.doc_a = p1.doc_b
      JOIN pairs p3 ON p3.doc_a = p1.doc_a AND p3.doc_b = p2.doc_b),
    tpn AS (
      SELECT v, count(*) AS n_tri FROM (
        SELECT va AS v FROM tri
        UNION ALL SELECT vb FROM tri
        UNION ALL SELECT vc FROM tri)
      GROUP BY v),
    deg AS (
      SELECT v, count(*) AS d FROM (
        SELECT doc_a AS v FROM pairs UNION ALL SELECT doc_b FROM pairs)
      GROUP BY v)
    SELECT deg.v AS doc_id,
           deg.d AS degree,
           CAST(coalesce(tpn.n_tri, 0) AS BIGINT) AS n_triangles,
           CASE WHEN deg.d < 2 THEN 0.0
                ELSE round(2.0 * coalesce(tpn.n_tri, 0)
                           / (deg.d * (deg.d - 1)), 6)
           END AS local_coeff
    FROM deg LEFT JOIN tpn ON deg.v = tpn.v
    ORDER BY doc_id
    """,
)
def graph_local_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node clustering coefficient of the near-dup graph (new r5):
    2·T(v)/(d(v)·(d(v)−1)) — flags the documents sitting inside
    boilerplate CLIQUES (coeff → 1: template families that should
    collapse to one survivor) vs hub-like chance collisions (high
    degree, low coeff). Complements the global ratio in
    `graph_triangles` with the per-document signal a dedup yield
    review actually acts on. Each triangle credits its 3 vertices via
    a union of skinny id projections (3×triangles rows); degrees reuse
    the symmetric-union groupBy. See llm/graph.local_clustering."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.jaccard_pairs(docs, n=3, threshold=0.5)
    return graph.local_clustering(pairs)




@register(
    "graph_adamic_adar",
    oracle="""
    WITH b AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    pairs AS MATERIALIZED (
      SELECT a.l_partkey AS pa, b2.l_partkey AS pb
      FROM b a JOIN b b2 ON a.l_orderkey = b2.l_orderkey
                        AND a.l_partkey < b2.l_partkey
      GROUP BY 1, 2 HAVING count(*) >= 2),
    edges AS (SELECT pa AS a, pb AS b FROM pairs
              UNION SELECT pb, pa FROM pairs),
    deg AS (SELECT a, CAST(count(*) AS BIGINT) AS d FROM edges GROUP BY a),
    wedge AS (
      SELECT e1.a AS u, e2.b AS v, e1.b AS w
      FROM edges e1 JOIN edges e2 ON e1.b = e2.a
      WHERE e1.a < e2.b),
    cand AS (
      SELECT u, v,
             CAST(count(*) AS BIGINT) AS n_common,
             sum(1.0 / ln(deg.d)) AS aa
      FROM wedge JOIN deg ON wedge.w = deg.a
      WHERE deg.d >= 2
      GROUP BY u, v),
    nonedge AS (
      SELECT * FROM cand c
      WHERE NOT EXISTS (SELECT 1 FROM pairs p
                        WHERE p.pa = c.u AND p.pb = c.v))
    SELECT u AS part_a, v AS part_b, n_common,
           round(aa, 6) AS adamic_adar, rk
    -- rank on the reported precision (r11 replica axis): the
    -- 1/ln(deg) float sum is engine-wobbly at the last ulp.
    -- Probabilistic mitigation, not absolute — see the bm25 note
    -- (llm3.py search_bm25_rank) for the boundary-straddle caveat
    -- and the deterministic integer-surrogate alternative.
    FROM (SELECT *, row_number() OVER
            (ORDER BY round(aa, 6) DESC, u, v) AS rk FROM nonedge)
    WHERE rk <= 20 ORDER BY rk
    """,
)
def graph_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADAMIC-ADAR link prediction over the part CO-PURCHASE graph
    (edge = two parts bought together in >= 2 orders): for every
    2-hop part pair NOT already connected, score the shared
    neighborhood with sum(1/ln(deg(w))) — rare shared neighbors weigh
    more than promiscuous ones.  This is the classic
    recommendation-candidate generator ("related to things bought
    with X").  Shape: the fact collapses to the DISTINCT basket frame
    first, pair emission joins basket-mates per order (bounded by
    basket size squared, never corpus squared), the >= 2-support
    HAVING prunes the edge list, wedge enumeration is ONE self-join
    of the skinny symmetrized edge list on the middle node, degree
    rides a broadcast, and existing edges leave via LEFT ANTI before
    the top-20 window.  A wedge middle touches both endpoints so
    deg(w) >= 2 and ln(deg) is never zero (the guard is belt-and-
    braces).  The near-dup Jaccard graph is the WRONG substrate for
    this entry — at any threshold its components are exact-duplicate
    cliques with zero non-adjacent 2-hop pairs (verified at sf0.001-
    0.1), so the co-purchase graph is what gives link prediction
    something to predict."""
    li = load_table(spark, sf_dir, "lineitem")
    pairs = _copurchase_pairs(li).persist()
    edges = (
        pairs.select(F.col("pa").alias("a"), F.col("pb").alias("b"))
        .unionByName(
            pairs.select(F.col("pb").alias("a"), F.col("pa").alias("b"))
        )
        .persist()
    )
    deg = edges.groupBy("a").agg(F.count("*").alias("d"))
    e1 = edges.select(F.col("a").alias("u"), F.col("b").alias("w"))
    e2 = edges.select(F.col("a").alias("w2"), F.col("b").alias("v"))
    wedge = e1.join(e2, e1.w == e2.w2).filter(F.col("u") < F.col("v"))
    cand = (
        wedge.join(
            F.broadcast(deg.select(F.col("a").alias("w2"), "d")), "w2"
        )
        .filter(F.col("d") >= 2)
        .groupBy("u", "v")
        .agg(
            F.count("*").alias("n_common"),
            F.sum(1.0 / F.log(F.col("d"))).alias("aa"),
        )
    )
    nonedge = cand.join(
        pairs.select(F.col("pa").alias("u"), F.col("pb").alias("v")),
        ["u", "v"],
        "left_anti",
    )
    return (
        # rank on the reported precision (see oracle note)
        global_topk(nonedge, 20, F.desc(F.round("aa", 6)), "u", "v")
        .select(
            F.col("u").alias("part_a"),
            F.col("v").alias("part_b"),
            "n_common",
            F.round("aa", 6).alias("adamic_adar"),
            "rk",
        )
        .orderBy("rk")
    )


@register(
    "graph_jaccard_neighbors",
    oracle="""
    WITH b AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    pairs AS MATERIALIZED (
      SELECT a.l_partkey AS pa, b2.l_partkey AS pb
      FROM b a JOIN b b2 ON a.l_orderkey = b2.l_orderkey
                        AND a.l_partkey < b2.l_partkey
      GROUP BY 1, 2 HAVING count(*) >= 2),
    edges AS (SELECT pa AS a, pb AS b FROM pairs
              UNION SELECT pb, pa FROM pairs),
    deg AS (SELECT a, CAST(count(*) AS BIGINT) AS d FROM edges GROUP BY a),
    wedge AS (
      SELECT e1.a AS u, e2.b AS v
      FROM edges e1 JOIN edges e2 ON e1.b = e2.a
      WHERE e1.a < e2.b),
    cand AS (
      SELECT u, v, CAST(count(*) AS BIGINT) AS n_common
      FROM wedge GROUP BY u, v),
    scored AS (
      SELECT c.u, c.v, c.n_common,
             du.d AS deg_u, dv.d AS deg_v,
             CAST(c.n_common AS DOUBLE)
               / (du.d + dv.d - c.n_common) AS score
      FROM cand c
      JOIN deg du ON c.u = du.a
      JOIN deg dv ON c.v = dv.a
      WHERE NOT EXISTS (SELECT 1 FROM pairs p
                        WHERE p.pa = c.u AND p.pb = c.v))
    SELECT u AS part_a, v AS part_b, n_common, deg_u, deg_v,
           CAST(floor(score * 1000000 + 0.5) AS BIGINT) AS jaccard_micro,
           rk
    FROM (SELECT *, row_number() OVER
            (ORDER BY score DESC, u, v) AS rk FROM scored)
    WHERE rk <= 20 ORDER BY rk
    """,
)
def graph_jaccard_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEIGHBORHOOD-JACCARD link prediction on the same co-purchase
    graph as `graph_adamic_adar` — |N(u) n N(v)| / |N(u) u N(v)| for
    non-adjacent 2-hop pairs, the normalized twin of the Adamic-Adar
    score (AA rewards RARE shared neighbors, Jaccard penalizes
    PROMISCUOUS endpoints; ranking disagreements between the two is
    exactly what a candidate-review dashboard looks at, so the engine
    ships both). Shape mirrors the AA entry: distinct basket frame ->
    >= 2-support edge list -> ONE wedge self-join on the middle node;
    the union size comes from deg(u)+deg(v)-common via TWO broadcast
    joins of the skinny degree frame (never a neighbor-set
    materialization), existing edges leave via LEFT ANTI, top-20 by
    a (score, u, v) unique tie-break. The score is one division of
    exact longs — identical doubles in both engines — folded once at
    micro precision."""
    li = load_table(spark, sf_dir, "lineitem")
    pairs = _copurchase_pairs(li).persist()
    edges = (
        pairs.select(F.col("pa").alias("a"), F.col("pb").alias("b"))
        .unionByName(
            pairs.select(F.col("pb").alias("a"), F.col("pa").alias("b"))
        )
        .persist()
    )
    deg = edges.groupBy("a").agg(F.count("*").alias("d"))
    e1 = edges.select(F.col("a").alias("u"), F.col("b").alias("w"))
    e2 = edges.select(F.col("a").alias("w2"), F.col("b").alias("v"))
    cand = (
        e1.join(e2, e1.w == e2.w2)
        .filter(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count("*").alias("n_common"))
    )
    scored = (
        cand.join(
            F.broadcast(
                deg.select(F.col("a").alias("u"), F.col("d").alias("deg_u"))
            ),
            "u",
        )
        .join(
            F.broadcast(
                deg.select(F.col("a").alias("v"), F.col("d").alias("deg_v"))
            ),
            "v",
        )
        .join(
            pairs.select(F.col("pa").alias("u"), F.col("pb").alias("v")),
            ["u", "v"],
            "left_anti",
        )
        .withColumn(
            "score",
            F.col("n_common").cast("double")
            / (F.col("deg_u") + F.col("deg_v") - F.col("n_common")),
        )
    )
    return (
        global_topk(scored, 20, F.desc("score"), "u", "v")
        .select(
            F.col("u").alias("part_a"),
            F.col("v").alias("part_b"),
            "n_common",
            "deg_u",
            "deg_v",
            half_up(F.col("score") * 1000000).alias("jaccard_micro"),
            "rk",
        )
        .orderBy("rk")
    )


@register(
    "graph_assortativity",
    oracle="""
    WITH b AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    pairs AS MATERIALIZED (
      SELECT a.l_partkey AS pa, b2.l_partkey AS pb
      FROM b a JOIN b b2 ON a.l_orderkey = b2.l_orderkey
                        AND a.l_partkey < b2.l_partkey
      GROUP BY 1, 2 HAVING count(*) >= 2),
    edges AS (SELECT pa AS a, pb AS b FROM pairs
              UNION SELECT pb, pa FROM pairs),
    deg AS (SELECT a, CAST(count(*) AS BIGINT) AS d FROM edges GROUP BY a),
    de AS (
      SELECT da.d AS x, db.d AS y
      FROM edges e JOIN deg da ON e.a = da.a JOIN deg db ON e.b = db.a),
    s AS (
      SELECT CAST(count(*) AS BIGINT) AS m,
             CAST(sum(x) AS BIGINT) AS sx,
             CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(CAST(x AS HUGEINT) * x) AS DOUBLE) AS sxx,
             CAST(sum(CAST(y AS HUGEINT) * y) AS DOUBLE) AS syy,
             CAST(sum(CAST(x AS HUGEINT) * y) AS DOUBLE) AS sxy
      FROM de)
    SELECT m AS n_directed_edges,
           CAST(floor((m * sxy - CAST(sx AS DOUBLE) * sy)
                      / sqrt((m * sxx - CAST(sx AS DOUBLE) * sx)
                             * (m * syy - CAST(sy AS DOUBLE) * sy))
                      * 1000000 + 0.5) AS BIGINT)
             AS assortativity_micro
    FROM s
    """,
)
def graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DEGREE ASSORTATIVITY of the co-purchase graph — Pearson
    correlation of endpoint degrees over the (symmetrized) edge list:
    positive means hubs connect to hubs (social-network style),
    negative means hubs connect to leaves (the hub-and-spoke /
    technological signature) — and for a recommender substrate the
    sign says whether popular items co-occur with each other or with
    the long tail, which changes how popularity normalization (the
    CF entry's cosine) behaves. One formula over the skinny edge
    frame with two degree joins (broadcastable); degrees are exact
    longs, moments as HUGEINT/DECIMAL before the shared closed-form
    correlation (symmetrized edges make the x/y marginals identical,
    the standard undirected convention). Same graph construction as
    the Adamic-Adar / Jaccard / CF family — one substrate, five
    lenses."""
    li = load_table(spark, sf_dir, "lineitem")
    # r13: pair emission via the shared _copurchase_pairs recipe
    pairs = _copurchase_pairs(li)
    edges = pairs.select(
        F.col("pa").alias("a"), F.col("pb").alias("b")
    ).unionByName(
        pairs.select(F.col("pb").alias("a"), F.col("pa").alias("b"))
    )
    edges.persist()
    deg = edges.groupBy("a").agg(F.count("*").alias("d"))
    de = (
        edges.join(
            F.broadcast(deg.select(F.col("a"), F.col("d").alias("x"))),
            "a",
        )
        .join(
            F.broadcast(
                deg.select(F.col("a").alias("b"), F.col("d").alias("y"))
            ),
            "b",
        )
        .select("x", "y")
    )
    # degrees are bounded by the item count, so |x·y| ≪ 2⁶³
    s = de.agg(
        F.count("*").alias("m"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        exact_moment("x", "x").alias("sxx"),
        exact_moment("y", "y").alias("syy"),
        exact_moment("x", "y").alias("sxy"),
    )
    num = F.col("m") * F.col("sxy") - F.col("sx").cast("double") * F.col(
        "sy"
    )
    den = F.sqrt(
        (
            F.col("m") * F.col("sxx")
            - F.col("sx").cast("double") * F.col("sx")
        )
        * (
            F.col("m") * F.col("syy")
            - F.col("sy").cast("double") * F.col("sy")
        )
    )
    return s.select(
        F.col("m").alias("n_directed_edges"),
        half_up(num / den * 1000000).alias("assortativity_micro"),
    )
