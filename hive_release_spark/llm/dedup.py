"""Deduplication operators (SURVEY.md §2.L): exact, n-gram Jaccard,
MinHash-LSH, SimHash.

Hive has only exact dedup (GROUP BY / DISTINCT — GroupByOperator); the
near-dup family is the driver-mandated extension. Scale design:

- Exact: hash-groupBy on a content key — one shuffle, maps to Hive's
  ``GROUP BY`` exactly.
- Jaccard: inverted-index join on shingles (explode → join → group) — the
  shuffle key is the shingle, so hot shingles are the skew risk; AQE skew
  join handles it, and a document-frequency cap (``max_df``) drops
  ubiquitous shingles before the join (standard near-dup practice).
- MinHash-LSH: signatures via xxhash64 (built-in, JVM-side), banded into
  buckets; only bucket-mates are candidate pairs → no O(n²). Candidates
  verified with exact Jaccard.
- SimHash: 64-bit signatures from token hashes; banded by 16-bit chunks
  for candidate generation; verified by Hamming distance.

Everything is deterministic (seeded hash mixes, no RNG).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hive_release_spark.llm.text import tokens
from hive_release_spark.operators.pairs import sorted_pairs

# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------


def exact_dedup(df: DataFrame, key: F.Column) -> DataFrame:
    """Group by a content key, keep the smallest id as survivor.

    ``dropDuplicates`` gives the same semantics but a nondeterministic
    survivor; min-id is the deterministic variant a reproducible pipeline
    wants."""
    return df.groupBy(key.alias("content_key")).agg(
        F.min("doc_id").alias("survivor_id"),
        F.count("*").alias("n_copies"),
    )


# ---------------------------------------------------------------------------
# Shingles + exact Jaccard via inverted-index join
# ---------------------------------------------------------------------------


def shingles(w: F.Column, n: int = 3) -> F.Column:
    """Distinct word n-gram shingles from a token-array column.

    IMPORTANT: pass a *materialized array column* (an attribute), not an
    inline ``split(...)`` expression — this expression references ``w``
    once per shingle element, so an inline split would be re-evaluated
    hundreds of times per row (measured 10× slowdown at sf0.1).

    Documents with fewer than ``n`` tokens yield an EMPTY shingle array:
    ``sequence(0, size(w)-n)`` would otherwise descend (e.g. [0, -1]) and
    ``element_at(w, 0)`` aborts the job (and DuckDB's ``generate_series``
    oracle yields empty there — this keeps engine and oracle aligned)."""
    grams = F.transform(
        F.sequence(F.lit(0), F.size(w) - n),
        lambda i: F.concat_ws(" ", *[F.element_at(w, i + j + 1) for j in range(n)]),
    )
    return F.array_distinct(
        F.when(F.size(w) >= n, grams).otherwise(F.expr("CAST(array() AS ARRAY<STRING>)"))
    )


def _doc_shingles(docs: DataFrame, n: int) -> DataFrame:
    """(doc_id, sh) with the token array materialized in its own projection
    so Catalyst keeps it a cheap attribute reference (CollapseProject skips
    non-cheap aliases referenced more than once)."""
    toks = docs.select("doc_id", tokens("text").alias("w"))
    return toks.select("doc_id", shingles(F.col("w"), n).alias("sh"))


def _exploded_shingles(docs: DataFrame, n: int) -> DataFrame:
    """(doc_id, n_sh, s_h): exploded shingles keyed by xxhash64 — joining on
    a fixed-width long shuffles ~3× less data than the raw shingle string
    and compares faster (64-bit collisions are negligible at corpus
    scale for candidate generation).

    explode_OUTER + isNotNull, not plain explode: Catalyst's
    InferFiltersFromGenerate adds ``size(child) > 0`` under an inner
    explode and predicate pushdown then inlines the WHOLE shingle
    construction into a scan filter where the token array reverts to
    ``split(text)`` — re-evaluated per shingle element (measured 10×:
    3.5s → 0.34s at sf0.1). The rule skips outer generators."""
    sh = _doc_shingles(docs, n)
    return (
        sh.select("doc_id", F.size("sh").alias("n_sh"), F.explode_outer("sh").alias("s"))
        .filter(F.col("s").isNotNull())
        .select("doc_id", "n_sh", F.xxhash64("s").alias("s_h"))
    )


def jaccard_pairs(
    docs: DataFrame, n: int = 3, threshold: float = 0.5, max_df: int | None = None
) -> DataFrame:
    """All-pairs n-gram Jaccard ≥ threshold via inverted-index self-join.

    |A∩B| is the count of co-occurring shingles; |A∪B| = |A|+|B|-|A∩B|.

    Shape: ONE shuffle on the shingle hash (groupBy → postings list),
    pair generation inline with higher-order functions, then one shuffle
    on the pair key. No self-join (a join would scan + shingle the corpus
    twice and broadcast/shuffle both sides). Hot shingles (document
    frequency d) emit d²/2 pairs — inherent to the exact algorithm;
    ``max_df`` drops postings longer than the cap BEFORE pair emission
    (standard near-dup practice for web-scale corpora: a shingle shared
    by thousands of documents carries no dedup signal but dominates the
    pair count). With a cap the intersection count can only shrink, so
    the output is a SUBSET of the exact pair set at the same threshold —
    an explicit, one-sided trade (property-tested). None = exact."""
    ex = _exploded_shingles(docs, n)
    postings = ex.groupBy("s_h").agg(
        F.sort_array(F.collect_list(F.struct("doc_id", "n_sh"))).alias("docs")
    )
    if max_df is not None:
        postings = postings.filter(F.size("docs") <= max_df)
    pairs = sorted_pairs(
        postings,
        "docs",
        lambda x, y: F.struct(
            x["doc_id"].alias("doc_a"),
            y["doc_id"].alias("doc_b"),
            x["n_sh"].alias("na"),
            y["n_sh"].alias("nb"),
        ),
    )
    return (
        pairs.groupBy(
            F.col("p.doc_a").alias("doc_a"), F.col("p.doc_b").alias("doc_b")
        )
        .agg(
            F.count("*").alias("common"),
            F.first("p.na").alias("na"),
            F.first("p.nb").alias("nb"),
        )
        .withColumn(
            "jaccard",
            F.col("common") / (F.col("na") + F.col("nb") - F.col("common")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard"))
    )


# ---------------------------------------------------------------------------
# MinHash + LSH banding
# ---------------------------------------------------------------------------


def _shingle_sig_base(docs: DataFrame, num_hashes: int, n: int) -> DataFrame:
    """(doc_id, sh, sig): shingle set AND MinHash signature in ONE corpus
    pass with NO shuffle — h_i = array_min(xxhash64(i, xxhash64(shingle)))
    via higher-order functions instead of explode→groupBy. Keeping ``sh``
    in the same frame lets LSH verify candidates without re-scanning and
    re-shingling the corpus.

    Docs with no shingles (shorter than ``n`` tokens) are dropped — they
    can never reach the Jaccard threshold and would otherwise all collide
    into one NULL-signature bucket. The drop filters on the TOKEN count
    before shingling (equivalent: ≥n tokens ⇔ ≥1 shingle) — filtering on
    ``size(sh) > 0`` would push the whole shingle expression into the
    scan filter (see _exploded_shingles)."""
    toks = docs.select("doc_id", tokens("text").alias("w")).filter(F.size("w") >= n)
    sh = toks.select("doc_id", shingles(F.col("w"), n).alias("sh"))
    # sh_h materialized as its own attribute: hash each shingle string ONCE,
    # not once per hash function (expression-reuse trap, see shingles()).
    hashed = sh.select(
        "doc_id", "sh", F.transform("sh", lambda s: F.xxhash64(s)).alias("sh_h")
    )
    sig = F.array(
        *[
            F.array_min(F.transform("sh_h", lambda h: F.xxhash64(F.lit(i), h)))
            for i in range(num_hashes)
        ]
    )
    return hashed.select("doc_id", "sh", sig.alias("sig"))


def minhash_signatures(docs: DataFrame, num_hashes: int = 32) -> DataFrame:
    """Per-doc MinHash signature: h_i = min over shingles of
    xxhash64(i, xxhash64(shingle)) — all JVM-side builtins, zero shuffles
    (signatures are per-row array folds, not an explode + groupBy)."""
    return _shingle_sig_base(docs, num_hashes, 3).select("doc_id", "sig")


def minhash_lsh_pairs(
    docs: DataFrame,
    num_hashes: int = 32,
    bands: int = 8,
    n: int = 3,
    threshold: float = 0.5,
    max_df: int | None = None,
) -> DataFrame:
    """MinHash-LSH candidate generation + exact-Jaccard verification.

    ``bands`` bands of ``num_hashes/bands`` rows: docs sharing any band
    bucket become candidates (P[candidate] ≈ 1-(1-j^r)^b). Candidates are
    then verified with exact Jaccard — output matches ``jaccard_pairs`` but
    without the all-pairs shingle join on non-similar docs.

    ``max_df`` is LSH's version of the hot-shingle cap (VERDICT r5 #5 —
    the SCALE.md prose as a parameter): a band bucket whose postings list
    exceeds the cap is dropped BEFORE pair emission. Hot buckets arise
    when a corpus-wide shingle (boilerplate, a shared header) owns the
    minimum hash of a whole band — its bucket then holds ~every document
    and emits d²/2 candidate pairs that exact verification must reject
    one by one. Dropping it loses only candidates whose EVERY shared
    band is hot (true near-dups collide in several bands, so recall on
    non-hot pairs is unchanged — property-tested); None = uncapped.

    The corpus is scanned ONCE: shingles + signatures come from one
    persisted base frame (MEMORY_AND_DISK) reused by the banding stage and
    both sides of the verify join. Without the persist, Spark recomputes
    the scan→tokenize→shingle lineage per consumer — at 100 TB that is the
    difference between one read and three. The persist sits in the SQL
    CacheManager, which the ContextCleaner never frees: the caller's
    ``pipeline_scope`` (or an explicit ``unpersist``) releases it."""
    from pyspark import StorageLevel

    rows = num_hashes // bands
    base = _shingle_sig_base(docs, num_hashes, n).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    # bucket key = xxhash64(band-slice); band id mixed in so buckets from
    # different bands never collide into one group
    band_cols = F.array(
        *[
            F.xxhash64(
                F.lit(bi),
                *[F.element_at("sig", bi * rows + j + 1) for j in range(rows)],
            )
            for bi in range(bands)
        ]
    )
    banded = base.select("doc_id", F.explode(band_cols).alias("bucket"))
    # postings-list pair emission (same shape as jaccard_pairs): ONE
    # shuffle on the bucket, no self-join — a join would recompute the
    # whole signature pipeline (scan→shingle→explode→groupBy) per side.
    postings = banded.groupBy("bucket").agg(
        F.sort_array(F.collect_set("doc_id")).alias("docs")
    )
    if max_df is not None:
        postings = postings.filter(F.size("docs") <= max_df)
    candidates = (
        sorted_pairs(
            postings, "docs", lambda x, y: F.struct(x.alias("doc_a"), y.alias("doc_b"))
        )
        .select(F.col("p.doc_a").alias("doc_a"), F.col("p.doc_b").alias("doc_b"))
        .distinct()
    )
    # verify candidates with exact jaccard on shingle sets — projections of
    # the SAME persisted base, not a fresh corpus scan per side
    va = base.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    vb = base.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    # intersection/union sizes materialize ONCE per candidate pair
    # behind a Generate barrier (the jaccard_pairs_prefix device) —
    # written as withColumn + filter, alias substitution pushes the
    # threshold predicate into the join condition and the O(na+nb)
    # array_intersect/array_union pair evaluates twice per candidate.
    # Same integers, same single division — bit-identical output.
    sized = candidates.join(va, "doc_a").join(vb, "doc_b").select(
        F.explode_outer(
            F.array(
                F.struct(
                    "doc_a",
                    "doc_b",
                    F.size(F.array_intersect("sh_a", "sh_b")).alias("inter"),
                    F.size(F.array_union("sh_a", "sh_b")).alias("uni"),
                )
            )
        ).alias("p")
    ).select("p.*")
    jac = F.col("inter") / F.col("uni")
    return (
        sized.filter(jac >= threshold)
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
    )


# ---------------------------------------------------------------------------
# Near-dup pairs → clusters (connected components)
# ---------------------------------------------------------------------------


def connected_components(pairs: DataFrame) -> DataFrame:
    """Transitive closure of a near-dup pair set: (doc_id, component,
    is_survivor), component = the min doc_id reachable through pairs, the
    deterministic survivor every dedup pipeline needs (A~B and B~C must
    collapse to ONE kept doc even though A~C was never emitted).

    Min-label propagation: each round every node takes the min of its own
    and its neighbors' labels; rounds needed = graph diameter, which for
    near-dup clusters is tiny (near-dups of one source text all pair with
    each other). Each round is one shuffle join + groupBy; the label frame
    is localCheckpoint'ed per round so lineage stays flat. Those blocks
    live in executor storage until the caller's ``pipeline_scope``
    frees them, and an executor lost mid-run loses them; at cluster
    scale the durable variant is ``checkpoint()``, which writes to
    ``spark.checkpoint.dir``. For web-diameter graphs swap in the
    large-star/small-star variant (O(log n) rounds) — same contract.

    At most 25 rounds may change a label, so a component's diameter must
    be at most 25 (a path of 26 nodes). One more round confirms that the
    labels are final; if it still changes one, the labels would split a
    component, and the call raises ``RuntimeError`` instead.
    """
    from pyspark import StorageLevel

    e = pairs.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
    edges = (
        e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # LAZY checkpoints: each round's ``changed`` count is an action
    # that materializes ``new`` anyway, so an eager checkpoint would
    # run a second job per round for the same lineage truncation.
    labels = (
        edges.select(F.col("a").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("label"))
        .localCheckpoint(eager=False)
    )
    max_rounds = 25
    for rnd in range(max_rounds + 1):
        nbr = (
            edges.join(labels, edges.a == labels.node)
            .select(F.col("b").alias("node"), "label")
            .groupBy("node")
            .agg(F.min("label").alias("nbr_min"))
        )
        # the changed flag rides the label-update join itself (old
        # label and its replacement meet in the same row), so the
        # convergence probe is a filter over the checkpointed frame,
        # not a second node-keyed join
        new = labels.join(nbr, "node", "left").select(
            "node",
            F.least(F.col("label"), F.coalesce("nbr_min", F.col("label"))).alias("label"),
            (
                F.least(F.col("label"), F.coalesce("nbr_min", F.col("label")))
                != F.col("label")
            ).alias("chg"),
        )
        new = new.localCheckpoint(eager=False)
        changed = new.filter("chg").limit(1).count()
        labels = new.select("node", "label")
        if changed == 0:
            break
        if rnd == max_rounds:
            edges.unpersist()
            raise RuntimeError(
                f"connected_components: labels still change after {max_rounds}"
                " rounds; a component's diameter exceeds the round cap"
            )
    edges.unpersist()
    return labels.select(
        F.col("node").alias("doc_id"),
        F.col("label").alias("component"),
        (F.col("label") == F.col("node")).alias("is_survivor"),
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash(docs: DataFrame, n_bits: int = 64, hash_fn=None) -> DataFrame:
    """``n_bits``-wide SimHash per document: for each bit position, sum
    +1/-1 over token hashes; the sign vector is the signature. Built
    entirely from higher-order functions — no Python in the loop.

    ``hash_fn`` maps the token column to a LONG hash (default
    ``F.xxhash64``). Passing an engine-portable hash (e.g. the first 4
    md5 bytes) with ``n_bits=32`` makes the whole signature exactly
    replayable by another engine — the oracle-gated variant the
    ``dedup_simhash_banded`` query uses."""
    if hash_fn is None:
        hash_fn = F.xxhash64
    # materialize the token array, then explode_outer (InferFiltersFromGenerate
    # would otherwise push a split-inlined size filter into the scan)
    tok = (
        docs.select("doc_id", tokens("text").alias("w"))
        .select("doc_id", F.explode_outer("w").alias("t"))
        .filter(F.col("t").isNotNull())
    )
    h = tok.withColumn("h", hash_fn(F.col("t")))
    bit_sums = [
        F.sum(
            F.when(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"b{i}")
        for i in range(n_bits)
    ]
    sums = h.groupBy("doc_id").agg(*bit_sums)
    top = n_bits - 1
    sig = sums.select(
        "doc_id",
        F.aggregate(
            F.array(*[
                F.when(
                    F.col(f"b{i}") > 0,
                    F.lit(1).cast("long")
                    * (2**i if not (n_bits == 64 and i == top) else -(2**63)),
                )
                .otherwise(0)
                for i in range(n_bits)
            ]),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("simhash"),
    )
    return sig


def simhash_pairs(
    docs: DataFrame, max_hamming: int = 6, n_bits: int = 64, hash_fn=None
) -> DataFrame:
    """Near-dup pairs by SimHash: band the ``n_bits`` signature into 4
    equal chunks (pigeonhole: hamming ≤ 3 ⇒ some chunk equal; wider
    max_hamming trades recall), pair bucket-mates, verify with
    bit_count(xor).

    Same postings-list shape as ``jaccard_pairs``/``minhash_lsh_pairs``:
    ONE shuffle on the (chunk, value) bucket, pair generation inline over
    the postings list (signatures travel WITH the postings — no join back),
    Hamming-filtered BEFORE the distinct so only surviving pairs shuffle.
    A self-join here would recompute the whole scan→tokenize→bit-sums
    signature pipeline once per side."""
    sig = simhash(docs, n_bits=n_bits, hash_fn=hash_fn)
    chunk_bits = n_bits // 4
    mask = (1 << chunk_bits) - 1
    chunks = F.array(
        *[
            F.struct(
                F.lit(c).alias("chunk"),
                F.shiftright(F.col("simhash"), c * chunk_bits)
                .bitwiseAND(F.lit(mask))
                .alias("v"),
            )
            for c in range(4)
        ]
    )
    banded = sig.select("doc_id", "simhash", F.explode(chunks).alias("c")).select(
        "doc_id", "simhash", F.col("c.chunk").alias("chunk"), F.col("c.v").alias("v")
    )
    # postings list per bucket; sort_array over (doc_id, simhash) structs
    # orders by doc_id, so inline pairs are emitted with doc_a < doc_b
    postings = banded.groupBy("chunk", "v").agg(
        F.sort_array(F.collect_set(F.struct("doc_id", "simhash"))).alias("docs")
    )
    pairs = sorted_pairs(
        postings,
        "docs",
        lambda x, y: F.struct(
            x["doc_id"].alias("doc_a"),
            y["doc_id"].alias("doc_b"),
            F.bit_count(x["simhash"].bitwiseXOR(y["simhash"])).alias("hamming"),
        ),
    )
    return (
        pairs.select("p.doc_a", "p.doc_b", "p.hamming")
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def span_chunk_dedup(docs: DataFrame, k: int = 10) -> DataFrame:
    """Exact duplicate-SPAN removal: cut every document into
    non-overlapping ``k``-token chunks, keep only the corpus-wide FIRST
    occurrence of each chunk (ordered by (doc_id, chunk_idx)), and
    reassemble documents from their surviving chunks.

    This is the scalable approximation of exact-substring dedup
    (Lee et al. 2021 "Deduplicating Training Data Makes Language Models
    Better" builds a suffix array; C4 removed repeated three-sentence
    spans): chunk-hash granularity trades boundary-straddling duplicates
    for a fully distributed shuffle-join shape. Repeats WITHIN a
    document collapse too (only its first copy survives).

    Scale shape (100 TB): ONE corpus text scan explodes chunks map-side;
    winner election is a hash-partitioned groupBy on the 8-byte
    xxhash64 chunk key (~3x less shuffle IO than raw span strings;
    64-bit collisions negligible at corpus scale, same trade as
    ``decontaminate``); the chunk rows join the winner set on the same
    key, each chunk is TAGGED keep/drop, and a single doc_id groupBy
    reassembles the text while counting total and kept chunks — so
    n_chunks never needs a second text scan or a join back to the
    corpus (a prior formulation did exactly that; this one is
    plan-pinned to a single documents scan). Two key-partitioned
    shuffles + the winner join, no self-join, no global sort, per-doc
    state bounded by document length.

    The chunk frame feeds BOTH the winner election and the probe side of
    the join, so it is persisted (MEMORY_AND_DISK) — without the persist
    Spark re-executes the scan+explode lineage per consumer and the
    100 TB corpus is read twice (the same 1-vs-3-reads trade
    ``minhash_lsh_pairs`` documents; the persist sits in the SQL
    CacheManager and is released by the caller's ``pipeline_scope`` or
    an explicit ``unpersist``). Skewed hot chunks
    (boilerplate spans repeated across the corpus) partial-agg away in
    the winner election and AQE skew-splits the probe join — the
    window-rank alternative would funnel every copy of a hot span
    through one task's sort.
    """
    from pyspark import StorageLevel

    w = tokens("text")
    base = docs.select("doc_id", w.alias("w")).select(
        "doc_id",
        "w",
        # explicit NULL guard, not bare size(): under ANSI-off sessions
        # size(NULL) is -1 (ANSI-on gives NULL) and a NULL-text doc
        # must report nc = NULL in BOTH configs
        F.when(
            F.col("w").isNotNull(),
            F.ceil(F.size("w") / F.lit(k)).cast("int"),
        ).alias("nc"),
    )
    # posexplode_OUTER + a NULL-guarded hash key: a NULL-text document
    # has no chunks but must keep its report row (NULL n_chunks /
    # n_dropped, '' text — the LEFT-joined SQL shape) instead of
    # vanishing; its placeholder row carries h = NULL, which never
    # equi-joins the winner set (xxhash64(NULL) would hash the seed and
    # could collide with a real chunk). r10 all-NULL axis.
    chunks = (
        base.select(
            "doc_id",
            "nc",
            F.posexplode_outer(
                F.transform(
                    F.sequence(F.lit(0), F.col("nc") - 1),
                    lambda i: F.array_join(F.slice("w", i * k + 1, k), " "),
                )
            ).alias("idx", "chunk"),
        )
        .select(
            "doc_id",
            "nc",
            "idx",
            F.when(F.col("chunk").isNotNull(), F.xxhash64("chunk")).alias("h"),
            "chunk",
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    winners = (
        chunks.filter(F.col("h").isNotNull())
        .groupBy("h")
        .agg(F.min(F.struct("doc_id", "idx")).alias("win"))
    )
    tagged = chunks.join(winners, "h", "left").select(
        "doc_id",
        "nc",
        "idx",
        "chunk",
        (
            (F.col("doc_id") == F.col("win.doc_id")) & (F.col("idx") == F.col("win.idx"))
        ).alias("keep"),
    )
    return tagged.groupBy("doc_id").agg(
        F.max("nc").cast("int").alias("n_chunks"),
        (
            F.max("nc").cast("long")
            - F.coalesce(F.sum(F.col("keep").cast("long")), F.lit(0))
        ).alias("n_dropped"),
        F.array_join(
            F.transform(
                F.filter(
                    F.array_sort(F.collect_list(F.struct("idx", "chunk", "keep"))),
                    lambda s: s["keep"],
                ),
                lambda s: s["chunk"],
            ),
            " ",
        ).alias("text_dedup"),
    )


def prefix_candidate_pairs(
    docs: DataFrame, n: int = 3, threshold: float = 0.5
) -> tuple[DataFrame, DataFrame]:
    """(candidates, doc_sets) for the prefix-filtered similarity join.

    Canonical order = (global shingle document-frequency ASC, hash) —
    rarest shingles first, so prefixes carry the most selective tokens.
    A doc of set size m contributes only its first m - ceil(t*m) + 1
    ordered shingles to the inverted index; the prefix-filtering theorem
    (Bayardo all-pairs / SSJoin) guarantees any pair with Jaccard >= t
    still collides in some prefix posting (overlap O >= ceil(t*m) on
    BOTH sides, so skipping the whole prefix would cap O at
    ceil(t*m) - 1). candidates = distinct (doc_a < doc_b) prefix
    collisions; doc_sets = (doc_id, n_sh, all_h sorted hash array) for
    the exact verification step."""
    from pyspark import StorageLevel

    # ONE corpus scan: the document frequency rides a window over the
    # exploded shingle frame (single consumer — see below), and the
    # ordered per-doc frame feeds both the prefix postings and the
    # verification doc sets — without ITS persist each consumer re-runs
    # the scan -> tokenize -> shingle -> window lineage (the
    # MinHash-base rule, SCALE.md deliberate-persist inventory).
    # The document frequency attaches via a window count over the
    # shingle key — ONE exchange of the exploded frame, where a
    # groupBy + join back exchanges it twice.
    #
    # Skew bound: the window has no
    # map-side combiner, so every row of a hot shingle lands in one
    # task.  Measured at sf0.1: 27 213 distinct shingles over 260 388
    # exploded rows, top key 25 rows (0.0096% share), p999 key 21 rows,
    # 32-partition max/median 8 695/8 192 — no hot task at any fixture
    # SF.  On a Zipfian web corpus (stopword shingles) the documented
    # escape is the two-phase shape — groupBy(s_h) count
    # (combiner) + join back — whose join-side skew is then
    # AQE-splittable (skew-split applies to joins, NOT windows); the
    # window shape is kept because it is one exchange cheaper and the
    # key distribution here is flat.
    from pyspark.sql import Window as _W

    ex = _exploded_shingles(docs, n)
    exr = ex.withColumn("df", F.count("*").over(_W.partitionBy("s_h")))
    per_doc = exr.groupBy("doc_id").agg(
        F.first("n_sh").alias("n_sh"),
        F.sort_array(F.collect_list(F.struct("df", "s_h"))).alias("ordered"),
    )
    p_len = (
        F.col("n_sh") - F.ceil(F.lit(threshold) * F.col("n_sh")) + 1
    ).cast("int")
    pref = per_doc.select(
        "doc_id",
        "n_sh",
        F.transform(F.slice("ordered", F.lit(1), p_len), lambda x: x["s_h"]).alias(
            "pref"
        ),
        F.sort_array(F.transform("ordered", lambda x: x["s_h"])).alias("all_h"),
    ).persist(StorageLevel.MEMORY_AND_DISK)
    doc_sets = pref.select("doc_id", "n_sh", "all_h")
    postings = (
        pref.select("doc_id", F.explode("pref").alias("s_h"))
        .groupBy("s_h")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ds"))
    )
    candidates = (
        sorted_pairs(
            postings, "ds", lambda x, y: F.struct(x.alias("doc_a"), y.alias("doc_b"))
        )
        .select(F.col("p.doc_a").alias("doc_a"), F.col("p.doc_b").alias("doc_b"))
        .distinct()
    )
    return candidates, doc_sets


def jaccard_pairs_prefix(
    docs: DataFrame, n: int = 3, threshold: float = 0.5
) -> DataFrame:
    """Exact all-pairs Jaccard >= threshold via PREFIX FILTERING — the
    canonical set-similarity-join optimization over the plain postings
    index: identical output to :func:`jaccard_pairs` (the filter is
    provably lossless), but pair emission runs only on each document's
    rarest (1-t)·m + 1 shingles, so hot-shingle postings (stopword-like
    grams that dominate the plain index's pair count) mostly vanish —
    they are at the FREQUENT end of the canonical order and fall outside
    every prefix. Verification computes exact Jaccard from the sorted
    hash sets (array_intersect), no second corpus scan: the doc-set
    frame comes out of the same pipeline."""
    candidates, doc_sets = prefix_candidate_pairs(docs, n, threshold)
    a = doc_sets.select(
        F.col("doc_id").alias("doc_a"),
        F.col("n_sh").alias("na"),
        F.col("all_h").alias("ha"),
    )
    b = doc_sets.select(
        F.col("doc_id").alias("doc_b"),
        F.col("n_sh").alias("nb"),
        F.col("all_h").alias("hb"),
    )
    # materialize the intersection SIZE
    # once per candidate pair behind a Generate barrier.  Written the
    # natural way (filter + round on a jac expression), predicate
    # pushdown folds the threshold filter into the broadcast-join
    # condition and the O(na+nb) array_intersect evaluates FOUR times
    # per pair (twice in the pushed condition's numerator/denominator,
    # twice in the rounded output).  A filter on a Generate's output
    # cannot be pushed below it — the repo's explode_outer device — so
    # `inter` is computed exactly once and the jaccard filter/round are
    # scalar arithmetic on it.
    inter_once = candidates.join(a, "doc_a").join(b, "doc_b").select(
        F.explode_outer(
            F.array(
                F.struct(
                    "doc_a",
                    "doc_b",
                    "na",
                    "nb",
                    F.size(F.array_intersect("ha", "hb")).alias("inter"),
                )
            )
        ).alias("p")
    ).select("p.*")
    jac = F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter"))
    return (
        inter_once.filter(jac >= threshold)
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
    )
