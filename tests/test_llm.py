"""LLM-operator semantics beyond the oracle gate (SURVEY.md §2.L):
approximate operators validated against their exact baselines."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hive_release_spark.catalog import load_table
from hive_release_spark.llm import dedup, multimodal, similarity, text
from tests.conftest import SF_SMOKE


def _pairs(df):
    return {tuple(sorted((r.doc_a, r.doc_b))) for r in df.collect()}


def test_minhash_lsh_recall_vs_exact(spark):
    docs = load_table(spark, SF_SMOKE, "documents")
    exact = _pairs(dedup.jaccard_pairs(docs, n=3, threshold=0.5))
    approx = _pairs(dedup.minhash_lsh_pairs(docs, num_hashes=32, bands=8, threshold=0.5))
    # verification step makes approx ⊆ exact; banding should catch most
    assert approx <= exact
    if exact:
        assert len(approx) / len(exact) >= 0.8, (len(approx), len(exact))


def test_minhash_deterministic(spark):
    docs = load_table(spark, SF_SMOKE, "documents")
    a = dedup.minhash_signatures(docs, num_hashes=8).orderBy("doc_id").limit(5).collect()
    b = dedup.minhash_signatures(docs, num_hashes=8).orderBy("doc_id").limit(5).collect()
    assert a == b


def test_simhash_near_dups_have_low_hamming(spark):
    docs = load_table(spark, SF_SMOKE, "documents")
    exact = _pairs(dedup.jaccard_pairs(docs, n=3, threshold=0.8))
    sim_pairs = {
        tuple(sorted((r.doc_a, r.doc_b))): r.hamming
        for r in dedup.simhash_pairs(docs, max_hamming=10).collect()
    }
    # very-near duplicates (jaccard ≥ .8) should be simhash-close too
    found = sum(1 for p in exact if p in sim_pairs)
    if exact:
        assert found / len(exact) >= 0.7, (found, len(exact))


def test_ann_lsh_is_subset_quality(spark):
    emb = load_table(spark, SF_SMOKE, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in similarity.brute_force_topk(q, emb, k=10).collect()
    }
    approx = similarity.lsh_bucket_topk(q, emb, k=5, n_planes=4, n_tables=8).collect()
    # every ANN hit must be a true corpus vector ranked by real cosine;
    # measure overlap with the exact top-10 (recall proxy). These vectors
    # are near-orthogonal (max pairwise cosine ~0.5) — the hardest regime
    # for LSH — so the bar is recall, not perfection.
    hits = sum(1 for r in approx if (r.query_id, r.neighbor_id) in exact)
    assert hits >= len(approx) * 0.3, (hits, len(approx))


def test_ann_lsh_accepts_string_ids(spark):
    """The bucket kernel derives the id column type from the input
    schema (regression: the first vectorized cut hardcoded BIGINT,
    silently narrowing a previously-generic helper)."""
    emb = load_table(spark, SF_SMOKE, "embeddings").select(
        F.concat(F.lit("doc-"), F.col("vec_id")).alias("vec_id"), "embedding"
    )
    q = emb.filter(F.col("vec_id").isin("doc-1", "doc-2"))
    rows = similarity.lsh_bucket_topk(q, emb, k=3).collect()
    assert rows and all(r.neighbor_id.startswith("doc-") for r in rows)


def test_multimodal_features_deterministic_schema(spark):
    docs = load_table(spark, SF_SMOKE, "documents")
    feats = multimodal.extract_features(multimodal.pack_assets(docs))
    assert feats.columns == ["asset_id", "modality", "width", "height", "n_frames", "feat_norm"]
    rows = feats.orderBy("asset_id").limit(3).collect()
    rows2 = feats.orderBy("asset_id").limit(3).collect()
    assert rows == rows2
    assert all(64 <= r.width < 256 and 64 <= r.height < 256 for r in rows)

class TestShortDocGuards:
    """ADVICE r01: docs with fewer tokens than the shingle width crashed
    the whole job (descending sequence → element_at index 0). Short docs
    must instead contribute empty shingle/bigram arrays."""

    @pytest.fixture()
    def corpus_with_short_docs(self, spark):
        rows = [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy cat"),
            (3, "hi"),            # 1 token < n=3
            (4, ""),              # empty text
            (5, "two tokens"),    # 2 tokens < n=3
        ]
        return spark.createDataFrame(rows, "doc_id BIGINT, text STRING")

    def test_jaccard_pairs_survives_short_docs(self, corpus_with_short_docs):
        got = dedup.jaccard_pairs(corpus_with_short_docs, n=3, threshold=0.5).collect()
        assert [(r.doc_a, r.doc_b) for r in got] == [(1, 2)]

    def test_minhash_lsh_survives_short_docs(self, corpus_with_short_docs):
        got = dedup.minhash_lsh_pairs(
            corpus_with_short_docs, n=3, threshold=0.5
        ).collect()
        assert [(r.doc_a, r.doc_b) for r in got] == [(1, 2)]

    def test_top_ngrams_survives_single_token_docs(self, spark):
        df = spark.createDataFrame(
            [(1, "a b c"), (2, "x")], "doc_id BIGINT, text STRING"
        )
        got = {r.ngram for r in text.top_ngrams(df).collect()}
        assert got == {"a b", "b c"}

    def test_shingles_empty_for_short_docs(self, spark):
        df = spark.createDataFrame([(1, "one two")], "doc_id BIGINT, text STRING")
        out = df.select(
            dedup.shingles(text.tokens(F.col("text")), 3).alias("sh")
        ).collect()
        assert out[0].sh == []


class TestConnectedComponents:
    def test_multi_hop_chain_collapses_to_one_component(self, spark):
        """A~B, B~C, C~D (no direct A~D pair): all four must land in one
        component with min-id survivor — the transitive case plain pair
        output gets wrong."""
        pairs = spark.createDataFrame(
            [(2, 3), (3, 4), (4, 5), (10, 11)], "doc_a BIGINT, doc_b BIGINT"
        )
        got = {r.doc_id: (r.component, r.is_survivor)
               for r in dedup.connected_components(pairs).collect()}
        assert got == {
            2: (2, True), 3: (2, False), 4: (2, False), 5: (2, False),
            10: (10, True), 11: (10, False),
        }

    @staticmethod
    def _path(spark, n):
        """The path 0–1–…–(n-1): one component of diameter n - 1."""
        return spark.createDataFrame(
            [(i, i + 1) for i in range(n - 1)], "doc_a BIGINT, doc_b BIGINT"
        )

    def test_long_chain_converges(self, spark):
        # 26 nodes: the 25th round, the cap, makes the last change
        for n in (20, 26):
            got = dedup.connected_components(self._path(spark, n)).collect()
            assert len(got) == n
            assert all(r.component == 0 for r in got), n
            assert sum(r.is_survivor for r in got) == 1

    def test_path_beyond_round_cap_raises(self, spark):
        """A 60-node path needs 59 rounds; returning the labels after the
        cap would split it into 35 components."""
        with pytest.raises(RuntimeError, match="still change after 25 rounds"):
            dedup.connected_components(self._path(spark, 60)).collect()


def test_ivf_ann_recall_vs_brute_force(spark):
    """IVF with n_probe=n_cells degenerates to exact (recall 1.0); with a
    partial probe recall must stay usable on the near-orthogonal corpus."""
    emb = load_table(spark, SF_SMOKE, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    exact = {(r.query_id, r.neighbor_id)
             for r in similarity.brute_force_topk(queries, emb, k=5).collect()}

    full = {(r.query_id, r.neighbor_id)
            for r in similarity.ivf_topk(queries, emb, k=5, n_cells=8, n_probe=8).collect()}
    assert full == exact  # probing every cell == exact search

    part = {(r.query_id, r.neighbor_id)
            for r in similarity.ivf_topk(queries, emb, k=5, n_cells=8, n_probe=4).collect()}
    recall = len(part & exact) / len(exact)
    assert recall >= 0.5, f"IVF partial-probe recall {recall}"


class TestRound3Ops:
    """Edge semantics for the r2 additions: repetition scoring, PII
    scrub, normalize/quantize — cases the corpus oracles never hit."""

    def test_repetition_short_docs_get_null_share(self, spark):
        df = spark.createDataFrame(
            [(1, "hello"), (2, "a a a a b"), (3, "x y")], ["doc_id", "text"]
        )
        rows = {r.doc_id: r for r in text.repetition_features(df).collect()}
        # single token: no bigrams -> NULL share, not a crash
        assert rows[1].top_bigram_share is None
        assert rows[1].distinct_token_ratio == 1.0
        # 'a a' occurs 3 of 4 bigrams
        assert rows[2].top_bigram_share == 0.75
        assert rows[2].is_repetitive  # 2/5 distinct < 0.3 and share > 0.2
        assert rows[3].top_bigram_share == 1.0

    def test_pii_scrub_counts_and_redacts(self, spark):
        df = spark.createDataFrame(
            [
                (1, "mail me at bob1@host.org or +1-555-0199 now"),
                (2, "no pii here"),
            ],
            ["doc_id", "text"],
        )
        rows = {r.doc_id: r for r in text.pii_scrub(df).collect()}
        assert (rows[1].n_email, rows[1].n_phone) == (1, 1)
        assert "<EMAIL>" in rows[1].scrubbed and "<PHONE>" in rows[1].scrubbed
        assert "bob1@host.org" not in rows[1].scrubbed
        assert (rows[2].n_email, rows[2].n_phone) == (0, 0)
        assert rows[2].scrubbed == "no pii here"

    def test_normalize_quantize_unit_bounds(self, spark):
        df = spark.createDataFrame(
            [(1, [3.0, 4.0]), (2, [0.0, 0.0]), (3, [float("nan"), 1.0])],
            ["vec_id", "embedding"],
        )
        rows = {r.vec_id: r for r in similarity.normalize_quantize(df).collect()}
        assert rows[1].l2_norm == 5.0
        assert rows[1].q8 == [76, 102]  # round(127*3/5), round(127*4/5)
        # vector-geometry contract v2 (r12): zero-norm and
        # corrupt-component vectors have nothing to normalize — dropped
        # at the intake, never a 0/0 NULL row and never a NaN->INT crash
        assert set(rows) == {1}


class TestKMeans:
    def test_partitions_all_points_into_multiple_clusters(self, spark):
        from hive_release_spark.llm import clustering

        emb = load_table(spark, SF_SMOKE, "embeddings")
        out = clustering.kmeans_assign(emb, k=4, n_iter=2).collect()
        assert len(out) == emb.count()
        clusters = {r.cluster for r in out}
        assert clusters <= set(range(4))
        assert len(clusters) >= 2  # not degenerate

    def test_deterministic_across_runs(self, spark):
        """Centroid rounding (6 dp) absorbs float-summation order noise:
        two independent runs assign identically."""
        from hive_release_spark.llm import clustering

        emb = load_table(spark, SF_SMOKE, "embeddings")
        a = sorted((r.vec_id, r.cluster) for r in clustering.kmeans_assign(emb, k=8, n_iter=3).collect())
        b = sorted((r.vec_id, r.cluster) for r in clustering.kmeans_assign(emb, k=8, n_iter=3).collect())
        assert a == b

    def test_iterations_do_not_increase_sse(self, spark):
        """Lloyd's invariant: within-cluster SSE is non-increasing over
        iterations (checked via successive n_iter runs)."""
        from hive_release_spark.llm import clustering

        emb = load_table(spark, SF_SMOKE, "embeddings")
        pts = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))

        def sse(n_iter):
            assigned = clustering.kmeans_assign(emb, k=8, n_iter=n_iter)
            joined = pts.join(assigned, "vec_id")
            # recompute centroid per cluster, then sum of squared dists
            cent = (
                joined.select("cluster", F.posexplode("v").alias("pos", "val"))
                .groupBy("cluster", "pos")
                .agg(F.avg("val").alias("m"))
            )
            d = (
                joined.select("cluster", F.posexplode("v").alias("pos", "val"))
                .join(cent, ["cluster", "pos"])
                .select(((F.col("val") - F.col("m")) ** 2).alias("sq"))
                .agg(F.sum("sq"))
                .collect()[0][0]
            )
            return d

        s1, s3 = sse(1), sse(3)
        assert s3 <= s1 + 1e-6


def test_span_chunk_dedup_semantics(spark):
    """First corpus occurrence of a duplicated span survives (ordered by
    (doc_id, idx)); later cross-doc AND within-doc copies drop; unique
    chunks always survive; a doc whose every chunk is a duplicate
    reassembles to the empty string."""
    from hive_release_spark.llm.dedup import span_chunk_dedup

    dup = "a b c"  # one 3-token chunk with k=3
    rows = [
        (1, f"{dup} x y z {dup}"),        # chunks: dup, "x y z", dup(within-doc copy)
        (2, f"{dup} p q"),                # dup (cross-doc copy), "p q" (short tail)
        (3, "x y z"),                     # cross-doc copy of doc 1's chunk 1
        (4, dup),                         # fully duplicated doc
    ]
    df = spark.createDataFrame(rows, "doc_id BIGINT, text STRING")
    got = {
        r.doc_id: (r.n_chunks, r.n_dropped, r.text_dedup)
        for r in span_chunk_dedup(df, k=3).collect()
    }
    assert got == {
        1: (3, 1, "a b c x y z"),  # within-doc second copy dropped
        2: (2, 1, "p q"),          # cross-doc copy dropped, short tail kept
        3: (1, 1, ""),             # doc 1 owns "x y z" first
        4: (1, 1, ""),             # fully duplicated -> empty
    }


def test_semantic_dedup_pairs_subset_of_brute_force(spark):
    """Cell-bucketed semantic pairs must be a subset of the brute-force
    cosine pair set at the same threshold (bucketing can only DROP
    cross-cell pairs, never invent or rescore one), with decent recall
    on this corpus."""
    emb = load_table(spark, SF_SMOKE, "embeddings")
    brute = {
        (r.id_a, r.id_b)
        for r in similarity.cosine_pairs(emb, threshold=0.4).collect()
    }
    sem = {
        (r.id_a, r.id_b)
        for r in similarity.semantic_dedup_pairs(emb, threshold=0.4, n_cells=8).collect()
    }
    assert sem <= brute
    assert brute, "fixture produced no near-dup pairs; threshold drifted?"
    assert len(sem) / len(brute) >= 0.3, (len(sem), len(brute))


def test_assign_cells_is_total_and_in_range(spark):
    """Every vector gets exactly one cell label in [0, n_cells)."""
    emb = load_table(spark, SF_SMOKE, "embeddings")
    n = emb.count()
    assigned = similarity.assign_cells(emb, n_cells=8)
    assert assigned.count() == n
    row = assigned.agg(
        F.min("cell").alias("lo"), F.max("cell").alias("hi"),
        F.count_distinct("cell").alias("nc"),
    ).first()
    assert row.lo >= 0 and row.hi < 8 and row.nc >= 2


def test_new_operators_handle_empty_inputs(spark):
    """Empty-frame behavior of the r4 operators: no crashes, empty (or
    structurally sound) outputs — the corner a 100 TB partition-pruned
    run hits whenever a filter eliminates everything."""
    from pyspark.sql import types as T

    from hive_release_spark.llm import text as text_mod
    from hive_release_spark.operators.rangejoin import range_join_bucketed

    empty_docs = spark.createDataFrame([], "doc_id BIGINT, text STRING")
    assert text_mod.lm_bigram_score(empty_docs).count() == 0

    emb_schema = T.StructType([
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
    ])
    empty_emb = spark.createDataFrame([], emb_schema)
    # stride-sampled centroids from an empty corpus -> no cells, no pairs
    assert similarity.semantic_dedup_pairs(empty_emb, threshold=0.5).count() == 0
    # the BLAS twin collects eagerly at call time; an empty corpus must
    # yield an empty typed frame, not a kernel crash (ADVICE r6-3)
    blas_empty = similarity.cosine_pairs_blas(empty_emb, threshold=0.5)
    assert blas_empty.columns == ["id_a", "id_b", "sim"]
    assert blas_empty.count() == 0

    empty_ev = spark.createDataFrame([], "event_id BIGINT, user_id BIGINT, ts TIMESTAMP_NTZ")
    joined = range_join_bucketed(
        empty_ev, empty_ev.withColumnRenamed("ts", "vts"),
        key="user_id", left_ts="ts", right_ts="vts", window_seconds=60,
    )
    assert joined.count() == 0


def test_cosine_pairs_blas_rejects_string_ids_before_any_job(spark):
    """The BLAS kernel packs ids as int64, so a string id column is
    refused with a ValueError at call time, before the eager count()."""
    from tests.conftest import _jobs

    emb = load_table(spark, SF_SMOKE, "embeddings").withColumn(
        "vec_id", F.col("vec_id").cast("string")
    )

    def call():
        with pytest.raises(ValueError, match="integer type, got string"):
            similarity.cosine_pairs_blas(emb, threshold=0.5)

    assert _jobs(spark, call)[1] == 0


def test_semantic_dedup_chunked_matmul_matches_single_block(spark):
    """The per-cell kernel chunks the similarity matmul so only a
    block_rows x m slice is live (ADVICE r6-1: applyInArrow groups are
    indivisible, so a hot cell's memory must be bounded INSIDE the
    kernel). Forcing block_rows below the cell size must exercise the
    multi-block path and reproduce the single-block pair set exactly."""
    emb = load_table(spark, SF_SMOKE, "embeddings")
    one = sorted(
        similarity.semantic_dedup_pairs(
            emb, threshold=0.4, n_cells=8, block_rows=1 << 20
        ).collect()
    )
    many = sorted(
        similarity.semantic_dedup_pairs(
            emb, threshold=0.4, n_cells=8, block_rows=16
        ).collect()
    )
    assert one == many and len(one) > 0


def test_resize_images_plumbing(spark):
    """Resize stub: image-modality rows only, binary output payload,
    deterministic (same input -> same resized bytes/checksum), and the
    declared 224x224 target dims on every row."""
    import hashlib

    docs = load_table(spark, SF_SMOKE, "documents").filter(F.col("doc_id") < 60)
    assets = multimodal.pack_assets(docs)
    n_images = assets.filter(F.col("modality") == "image").count()
    out = multimodal.resize_images(assets, target_w=224, target_h=224)
    rows = out.collect()
    assert len(rows) == n_images > 0
    assert all(r.out_w == 224 and r.out_h == 224 for r in rows)
    for r in rows[:5]:
        assert isinstance(r.resized, (bytes, bytearray)) and len(r.resized) == 32
        assert hashlib.sha256(bytes(r.resized)).hexdigest() == r.resized_checksum
    again = {r.asset_id: r.resized_checksum for r in out.collect()}
    assert again == {r.asset_id: r.resized_checksum for r in rows}


def test_sample_frames_counts_match_decoder(spark):
    """Frame sampling emits ceil(n_frames / every_n) rows per video asset
    (the 1->N mapInPandas contract), indices 0, n, 2n, ..."""
    docs = load_table(spark, SF_SMOKE, "documents").filter(F.col("doc_id") < 60)
    assets = multimodal.pack_assets(docs)
    feats = {r.asset_id: r.n_frames for r in multimodal.extract_features(assets).collect()}
    videos = {r.asset_id for r in assets.filter(F.col("modality") == "video").collect()}
    out = multimodal.sample_frames(assets, every_n=4)
    by_asset: dict[int, list[int]] = {}
    for r in out.collect():
        by_asset.setdefault(r.asset_id, []).append(r.frame_idx)
    assert set(by_asset) == videos
    for aid, idxs in by_asset.items():
        nf = feats[aid]
        assert sorted(idxs) == list(range(0, nf, 4))


def test_pq_topk_recall_vs_exact(spark):
    """PQ is lossy by design, and UNCLUSTERED random embeddings are its
    worst case (ADC error ~ the signal itself), so the recall bar here
    is deliberately low: >= 0.1, an order of magnitude above the ~0.01
    chance overlap of picking 5 of ~500. Real-data codebooks cluster and
    recall climbs; CORRECTNESS comes from the exact ADC-replay oracle,
    not this bound. Structural contract: 5 ranked rows per query, no
    self-matches."""
    emb = load_table(spark, SF_SMOKE, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    exact = similarity.brute_force_topk(q, emb, k=5)
    pq = similarity.pq_topk(q, emb, k=5, n_subspaces=8, n_cells=16)
    e = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    p_rows = pq.collect()
    p = {(r.query_id, r.neighbor_id) for r in p_rows}
    assert all(r.query_id != r.neighbor_id for r in p_rows)
    from collections import Counter

    per_q = Counter(r.query_id for r in p_rows)
    assert set(per_q.values()) == {5}
    assert len(e & p) / len(e) >= 0.1, len(e & p) / len(e)


def test_prefix_filter_is_lossless_and_prunes(spark):
    """Prefix filtering must (a) return the EXACT pair set of the plain
    postings join — the Bayardo bound is lossless — and (b) generate
    strictly fewer candidate pairs than the plain index's postings pair
    count (the whole point: hot shingles fall outside every prefix)."""
    docs = load_table(spark, SF_SMOKE, "documents")
    exact = sorted(map(tuple, dedup.jaccard_pairs(docs, n=3, threshold=0.5).collect()))
    pref = sorted(
        map(tuple, dedup.jaccard_pairs_prefix(docs, n=3, threshold=0.5).collect())
    )
    assert exact == pref and exact

    cand, _ = dedup.prefix_candidate_pairs(docs, 3, 0.5)
    n_pref_cand = cand.count()
    # plain postings candidate count = sum over shingles of d*(d-1)/2
    from hive_release_spark.llm.dedup import _exploded_shingles

    ex = _exploded_shingles(docs, 3)
    plain = (
        ex.groupBy("s_h").agg(F.count("*").alias("d"))
        .filter(F.col("d") > 1)
        .agg(F.sum(F.col("d") * (F.col("d") - 1) / 2).alias("n"))
        .first()
        .n
    )
    assert n_pref_cand < plain, (n_pref_cand, plain)


def test_bpe_merges_match_pure_python_reference(spark):
    """The registry oracle shares the bracket-string replace trick with
    the Spark side, so it cannot catch a flaw in the trick itself. This
    test validates the ALGORITHM against an independent pure-Python BPE
    (explicit token lists, greedy left-to-right merge, no string
    encoding) on the real sf0.001 corpus word frequencies."""
    import re
    from collections import Counter

    from hive_release_spark.catalog import load_table
    from hive_release_spark.queries import REGISTRY
    from tests.conftest import SF_SMOKE

    docs = load_table(spark, SF_SMOKE, "documents")
    words = Counter()
    for row in docs.select("text").collect():
        for w in row.text.split(" "):
            if re.fullmatch(r"[A-Za-z0-9]+", w):
                words[w] += 1

    vocab = {w: list(w) for w in words}

    def merge_round():
        pairs = Counter()
        for w, toks in vocab.items():
            f = words[w]
            for a, b in zip(toks, toks[1:]):
                pairs[(a, b)] += f
        # argmax: count desc, then lexicographic (a, b)
        (a, b), cnt = min(
            pairs.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        for w, toks in vocab.items():
            out, i = [], 0
            while i < len(toks):
                if i + 1 < len(toks) and toks[i] == a and toks[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(toks[i])
                    i += 1
            vocab[w] = out
        return a, b, cnt

    expected = [merge_round() for _ in range(5)]
    got = [
        (r.pair_a, r.pair_b, r.pair_count)
        for r in REGISTRY["bpe_train_merges"].fn(spark, SF_SMOKE).collect()
    ]
    assert got == expected, (got, expected)


def test_mask_evasion_profile(spark):
    """Pin for text.mask_evasion_profile (VERDICT r11 #8): the
    measurement's regex classes must count EXACTLY the codepoints that
    evade Spark's mask() — astral letters/digits and the 12
    Unicode-14+ BMP additions — and nothing else (emoji are astral but
    not letters: the mask never masks them, so they are not
    'evading'). Cross-checked in the same test: every row the profile
    calls unsafe really does survive mask() with visible payload."""
    rows = [
        (1, "plain ascii text 123"),          # masked fine
        (2, "spoofed 𝕦𝕟𝕚𝕔𝕠𝕕𝕖 name"),            # astral letters evade
        (3, "old polish Ꟁꟁ letters"),          # Unicode-14 skew evades
        (4, "emoji only 😀🚀 here"),            # astral NON-letters: safe
        (5, None),                             # NULL text
        (6, "both 𝕒 and ꟑ kinds"),             # counted once in unsafe
    ]
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    prof = text.mask_evasion_profile(df).first()
    assert prof.n_docs == 6
    assert prof.n_docs_astral_evading == 2          # rows 2, 6
    assert prof.n_astral_evading_chars == 7 + 1     # 𝕦𝕟𝕚𝕔𝕠𝕕𝕖 + 𝕒
    assert prof.n_docs_unicode_skew == 2            # rows 3, 6
    assert prof.n_skew_chars == 2 + 1               # Ꟁꟁ + ꟑ
    assert prof.n_docs_mask_unsafe == 3             # rows 2, 3, 6

    # the unsafe rows really do defeat mask(): the evading codepoints
    # appear VERBATIM in the masked output
    masked = {
        r.doc_id: r.m
        for r in df.select("doc_id", F.mask("text").alias("m")).collect()
    }
    assert "𝕦𝕟𝕚𝕔𝕠𝕕𝕖" in masked[2]
    assert "Ꟁꟁ" in masked[3]
    assert "𝕒" in masked[6] and "ꟑ" in masked[6]
    # and the safe emoji row carries no letter/digit leak at all
    assert masked[4] == "xxxxx xxxx 😀🚀 xxxx"
