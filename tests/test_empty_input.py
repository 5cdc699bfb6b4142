"""Zero-row input robustness (the r9 empty-input axis).

An engine run against 100 TB routinely sees EMPTY slices — an empty
date partition, a filter that matches nothing, a table freshly created
— and Hive returns empty (or NULL-aggregate) results there, never a
crash. The r9 sweep ran ALL registry entries against zero-row copies
of every table and found two classes of defect, both fixed and pinned
here:

* engine-side crashes: ANSI divide-by-zero on empty-derived
  denominators, ``first()[0]`` on an empty frame, VOID-typed empty
  literal arrays feeding array_min/max, element_at on empty arrays,
  numpy axis errors on empty Arrow batches, saveAsSequenceFile's
  first-record type inference, XML schema inference over a rowless
  directory;
* oracle-parity mismatches: printf rendering NULL as the string
  'null', sums needing coalesce to report a zero-count audit, profile
  rows emitted for key columns with no rows.

The one DOCUMENTED non-parity family is grouping sets: Spark (and
Hive, whose GroupByOperator replicates input rows per grouping set —
zero in, zero out) returns NO rows for CUBE/ROLLUP/GROUPING SETS over
empty input, while DuckDB/Postgres emit the () grand-total row. That
delta is pinned below as EXPECTED behavior, Hive side chosen.

Full-axis sweeps (all 362 entries vs DuckDB on degenerate tables):
    python tests/test_empty_input.py --make-empty  /tmp/sf_empty
    python tests/test_empty_input.py --make-single /tmp/sf_one
    python tests/test_empty_input.py --make-null   /tmp/sf_null
    python tests/test_empty_input.py --make-nan    /tmp/sf_nan
    python tests/test_empty_input.py --make-dup    /tmp/sf_dup
    python tests/test_empty_input.py --make-uni    /tmp/sf_uni
    SPARK_GRAFT_CHECK_SF=/tmp/sf_<axis> python tools/check.py
Expected: empty = green except the six GROUPING_SETS_DELTA entries;
single = green except the three adjudicated exceptions pinned below;
all-null (the r10 axis — 42 findings: NULL-geometry vectors, NULL
payloads/text, NULL event times, NULL join/group keys, DuckDB-vs-Hive
join/'' semantics) = green except ds_hierarchy_rank, the grouping-sets
delta reached via NULL join keys; nan/inf (the r10 STRETCH axis —
IEEE specials salted into every double column) = 362/362 GREEN as of
r11: the 12 silent/one-sided divergences were repaired in r10 together
with the first finite()-adoption wave of 8 loud-class flagships, and
the r11 wave 2 (VERDICT r10 #2) repaired the remaining 40 loud-class
entries (REPAIRED_NAN, 60 entries, each hash-compared on the axis);
the raw micro-fold's three-arm loud adjudication is pinned at device
level (test_micro_fold_specials_device_pin); duplicate/replica (the
r11 STRETCH axis — K disjoint key-offset replicas with shared content,
the mass-duplication regime the dedup/survivor/sampler family exists
for) = 362/362 GREEN after four repairs (REPAIRED_DUP): three
rank-on-raw-float-sum entries now quantize the rank key to the
reported precision (raw sums differ between engines in the last ulp,
so axis-made sub-1e-6 near-ties flipped ranks), and
pipeline_corpus_build's oracle now mirrors the kernel's
min-struct survivor exactly — no join-back at all (a join-back by
doc_id multiplies by the id's row multiplicity, and even a DISTINCT'd
one re-attaches attribute variants); the min is decided by a
non-NULL (cmp_id, attribute-hash) compare prefix because struct
comparison orders NULL fields NULLS-FIRST in Spark but NULLS-LAST in
DuckDB; multibyte/Unicode text (the r11 SECOND stretch axis —
script-diverse snippets salted into documents.text) = 362/362 GREEN
after one repair (REPAIRED_UNI: DuckDB's STRING->BLOB cast refuses
non-ASCII; the byte-count oracle now uses encode(), the UTF-8 byte
view).
"""

from __future__ import annotations

import os
import sys

import pytest

from hive_release_spark import testing

SF_SRC = "/root/testdata/sf0.001"

# Entries repaired by the r9 empty-input sweep — each must hash-match
# its DuckDB oracle on zero-row tables (the oracle defines the
# empty-input semantics: empty result sets for joins/rankings,
# NULL-valued aggregate rows for global aggregates, vacuously-true
# contract booleans).
REPAIRED = [
    "events_markov_stationary",
    "dq_business_rules",
    "timeseries_croston",
    "stats_power_two_proportions",
    "timeseries_theil_sen",
    "timeseries_holt_winters",
    "dq_key_skew_profile",
    "dq_column_profile",
    "dq_distribution_drift_psi",
    "agg_bloom_filter",
    "source_xml_roundtrip",
    "source_sequencefile_roundtrip",
    "emb_pca_project",
    "sim_ann_ivf",
    "sim_ann_pq",
    "emb_kmeans",
    "sim_cosine_topk_arrow",
    "emb_pca_contract",
]

# The documented Hive-faithful delta: these aggregate with
# CUBE/ROLLUP/GROUPING SETS, where Spark's zero-rows-in-zero-rows-out
# matches Hive's row-replication implementation and the DuckDB oracle
# emits the SQL-standard () grand-total row instead.
GROUPING_SETS_DELTA = [
    "agg_grouping_sets",
    "agg_rollup",
    "agg_cube",
    "agg_grouping_id",
    "ds_channel_rollup",
    "ds_hierarchy_rank",
]


# SINGLE-ROW axis (n=1 — the second sweep): degenerate-variance and
# degrees-of-freedom denominators go to zero differently than at n=0
# (the aggregate row EXISTS but its statistics are undefined), plus the
# k>n k-means clamp. Each repaired entry must hash-match its oracle on
# 1-row tables.
REPAIRED_SINGLE_ROW = [
    "events_anomaly_mad",
    "events_ab_cuped",
    "search_tfidf_cosine",
    "stats_chi_square",
    "stats_anova_oneway",
    "stats_spearman_corr",
    "stats_fdr_bh",
    "sample_stratified_neyman",
    "events_fano_factor",
    "ml_linear_regression",
    "ml_regression_calibration",
    "ml_regression_kfold_cv",
    "emb_kmeans",
    "timeseries_holt_winters",
    # r10: the sharper n_bins = min(10, non-null count) contract made
    # the histogram sketch exact at n=1 — un-pinned from the
    # adjudicated-exception list below
    "agg_histogram_numeric",
]


# ALL-NULL axis (r10 — the third sweep): same schemas, same row
# counts, every value NULL. Null join keys (inner joins emit nothing),
# null group keys (one NULL group), null-only aggregates, null text /
# vector / payload columns. Repaired entries must hash-match their
# oracle on the all-NULL tables; the full-axis expectation is
# 361/362 green + ds_hierarchy_rank pinned below.
REPAIRED_ALL_NULL = [
    "events_did_analysis",
    "agg_percentile_disc",
    "window_moving_median",
    "text_langid_ngram",
    "dedup_embedding_cosine",
    "dedup_semantic_cells",
    "sim_ann_lsh",
    "sim_ann_pq",
    "emb_kmeans",
    "emb_pca_project",
    "emb_pca_contract",
    "emb_normalize_quantize",
    "multimodal_features",
    "multimodal_payload_dedup",
    "multimodal_meta",
    "multimodal_frame_sample",
    "agg_histogram_numeric",
    "agg_collect",
    "fn_string",
    "events_top_paths",
    "dedup_span_chunks",
    "text_repetition_score",
    "agg_percentile_approx_contract",
    "pipeline_quality_ablation",
    "stream_tumbling",
    "stream_tumbling_live",
    "stream_sliding",
    "stream_session",
    "stream_session_dynamic",
    "stream_distinct_sketch",
    # canon-NaT-repair witnesses (testing.py fix, no kernel change):
    "events_anomaly_mad",
    "timeseries_ewma",
    "join_asof_orders",
]


def make_empty(dst: str) -> str:
    """Zero-row copies of every driver table, schemas preserved."""
    import pyarrow.parquet as pq

    os.makedirs(dst, exist_ok=True)
    for f in os.listdir(SF_SRC):
        if f.endswith(".parquet"):
            t = pq.read_table(os.path.join(SF_SRC, f))
            pq.write_table(t.slice(0, 0), os.path.join(dst, f))
    return dst


def make_all_null(dst: str) -> str:
    """All-NULL copies of every table: same schema, same row COUNT,
    every value NULL (the r10 third axis). Exercises null join keys
    (inner joins emit nothing, outer joins preserve), null group keys
    (one NULL group), null-only aggregates (NULL sums over non-zero
    counts), and null text/vector payloads — both engines see the SAME
    rows, so DuckDB parity is exactly defined."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(dst, exist_ok=True)
    for f in os.listdir(SF_SRC):
        if f.endswith(".parquet"):
            t = pq.read_table(os.path.join(SF_SRC, f))
            nulls = pa.table(
                [pa.nulls(t.num_rows, type=fld.type) for fld in t.schema],
                schema=t.schema,
            )
            pq.write_table(nulls, os.path.join(dst, f))
    return dst


def make_special_floats(dst: str) -> str:
    """Fourth axis (r10 stretch): NaN / +Inf / -Inf salted into every
    double column on a deterministic row-index grid (i%17 -> NaN,
    i%23 -> +Inf, i%29 -> -Inf, others untouched). Real 100 TB data
    carries IEEE specials from upstream division; both engines read
    the SAME parquet values, so parity is exactly defined. Non-float
    columns and row counts are untouched — most rows stay normal so
    the ordinary code paths still execute."""
    import math

    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(dst, exist_ok=True)
    for f in os.listdir(SF_SRC):
        if f.endswith(".parquet"):
            t = pq.read_table(os.path.join(SF_SRC, f))
            cols = []
            for fld in t.schema:
                col = t.column(fld.name)
                if str(fld.type) in ("double", "float"):
                    vals = col.to_pylist()
                    for i in range(len(vals)):
                        if vals[i] is None:
                            continue
                        if i % 17 == 0:
                            vals[i] = math.nan
                        elif i % 23 == 0:
                            vals[i] = math.inf
                        elif i % 29 == 0:
                            vals[i] = -math.inf
                    col = pa.array(vals, type=fld.type)
                cols.append(col)
            pq.write_table(pa.table(cols, schema=t.schema), os.path.join(dst, f))
    return dst


# Multibyte snippets for the SIXTH axis: latin diacritics, CJK,
# cyrillic, greek, arabic (RTL), emoji + astral-plane letters —
# the scripts a real multilingual corpus carries.
_UNI_SNIPPETS = (
    "Zürich café naïve façade",
    "東京 大阪 名古屋 データ 処理",
    "Москва данные поток анализ",
    "αβγ δέλτα σύστημα",
    "مرحبا بيانات نظام",
    "😀 🚀 ✨ données 𝕦𝕟𝕚𝕔𝕠𝕕𝕖",
)


def make_multibyte(dst: str) -> str:
    """SIXTH axis (r11 second stretch): multibyte/Unicode text salted
    into documents.text on a deterministic grid (every 7th doc gets a
    script-diverse snippet prepended, every 11th appended). A real
    LLM corpus is multilingual, and the byte-vs-char seam is where
    JVM string semantics (Spark) and utf8proc semantics (DuckDB) can
    silently disagree — length/substr units, regex classes, casing,
    tokenize boundaries, hash inputs. Both engines read the SAME
    UTF-8 bytes from parquet, so parity is exactly defined; the sweep
    found ONE divergence (DuckDB's STRING->BLOB cast refuses
    non-ASCII — repaired to encode(), the UTF-8 byte view, in
    multimodal_payload_dedup) and everything else held: both engines
    count length() in CODEPOINTS, split on the literal space, hash
    UTF-8 bytes, and regex-match bytes-blind."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(dst, exist_ok=True)
    # name/entity columns get BMP-only salt: astral-plane LETTERS are
    # kept out because Spark's mask() walks UTF-16 chars and passes
    # them through unmasked by design (canary-pinned below); the
    # documents.text salt keeps its astral snippet — the text family
    # hashes/splits bytes and is surrogate-safe on both engines.
    bmp = [x for x in _UNI_SNIPPETS if all(ord(ch) < 0x10000 for ch in x)]
    name_cols = {
        "part.parquet": "p_name",
        "customer.parquet": "c_name",
        "supplier.parquet": "s_name",
    }
    for f in os.listdir(SF_SRC):
        if f.endswith(".parquet"):
            t = pq.read_table(os.path.join(SF_SRC, f))
            if f == "documents.parquet":
                texts = t.column("text").to_pylist()
                for i in range(len(texts)):
                    if texts[i] is None:
                        continue
                    if i % 7 == 0:
                        texts[i] = (
                            _UNI_SNIPPETS[i % len(_UNI_SNIPPETS)]
                            + " "
                            + texts[i]
                        )
                    elif i % 11 == 0:
                        texts[i] = (
                            texts[i]
                            + " "
                            + _UNI_SNIPPETS[(i // 11) % len(_UNI_SNIPPETS)]
                        )
                idx = t.schema.get_field_index("text")
                t = t.set_column(
                    idx,
                    t.schema.field(idx),
                    pa.array(texts, type=pa.string()),
                )
            elif f in name_cols:
                col = name_cols[f]
                vals = t.column(col).to_pylist()
                for i in range(len(vals)):
                    if vals[i] is not None and i % 5 == 0:
                        vals[i] = vals[i] + " " + bmp[i % len(bmp)]
                idx = t.schema.get_field_index(col)
                t = t.set_column(
                    idx,
                    t.schema.field(idx),
                    pa.array(vals, type=pa.string()),
                )
            pq.write_table(t, os.path.join(dst, f))
    return dst


# Multibyte axis: the repaired entry plus the text-family flagships
# that must stay green on script-diverse input.
REPAIRED_UNI = [
    "multimodal_payload_dedup",
    # name-column salt (r11 second wave of the axis): Spark's mask()
    # classifies letters Unicode-wide, so the ASCII-range oracle left
    # 'ü' VISIBLE — a silent PII leak in the replay, now \p-classes
    "fn_mask",
    "fn_string",
    "fn_misc_surface",
    "text_quality",
    "text_langid_ngram",
    "text_fingerprint",
    "text_token_bpe_regex",
    "dedup_jaccard_pairs",
    "dedup_span_chunks",
    "search_bm25_rank",
]


@pytest.fixture(scope="module")
def uni_sf(tmp_path_factory):
    return make_multibyte(str(tmp_path_factory.mktemp("sf_uni")))


@pytest.fixture(scope="module")
def uni_con(uni_sf):
    return testing.duckdb_con(uni_sf)


@pytest.mark.parametrize("name", REPAIRED_UNI)
def test_entry_matches_oracle_on_multibyte_text(spark, uni_sf, uni_con, name):
    from hive_release_spark.queries import REGISTRY

    entry = REGISTRY[name]
    ok, why = testing.compare_query(
        spark, uni_con, entry.fn, entry.oracle, uni_sf
    )
    assert ok, f"{name} on multibyte text: {why}"


# Key columns per table (primary AND foreign): copy c of the corpus
# offsets every one of these by c * _DUP_KEY_OFFSET, so the duplicated
# corpus is K DISJOINT REPLICAS sharing identical CONTENT — keys stay
# unique (the tables' declared identity contract holds), joins bind
# copy-c rows to copy-c rows, and the duplication lands where the
# stress belongs: the VALUES. Dedup sees every document K times under
# K distinct ids (the mass-duplication regime LSH/survivor-pick is
# for), samplers see K-fold tied hash keys, rankings see K-way value
# ties broken only by the offset keys.
_DUP_KEYS = {
    "region": ("r_regionkey",),
    "nation": ("n_nationkey", "n_regionkey"),
    "customer": ("c_custkey", "c_nationkey"),
    "supplier": ("s_suppkey", "s_nationkey"),
    "part": ("p_partkey",),
    "orders": ("o_orderkey", "o_custkey"),
    "lineitem": ("l_orderkey", "l_partkey", "l_suppkey"),
    "events": ("event_id", "user_id"),
    "documents": ("doc_id",),
    "embeddings": ("vec_id",),
}
_DUP_KEY_OFFSET = 10_000_000


def make_duplicated(dst: str, k: int = 3) -> str:
    """FIFTH axis (r11 stretch, VERDICT r10 #8): the corpus as K
    disjoint REPLICAS with shared content — every row appears K times
    with all identity/foreign keys offset per copy, order
    deterministically shuffled. This is the mass-duplication regime a
    100 TB ingest actually produces (the same document re-crawled
    under a new id, a shard loaded twice with regenerated ids), and
    the one contract class no other axis stresses: min-struct
    survivor determinism over K equal-content candidates, LSH band
    buckets under K-fold collisions, samplers on K-fold tied md5
    keys, rank ties broken only by the key. Keys stay UNIQUE — the
    tables' declared identity contract holds, so every entry has
    exactly-defined DuckDB parity and the whole registry must stay
    green (a first draft that duplicated rows KEY AND ALL was
    rejected: it tested ingest-corruption, not duplication, and made
    17 keyed entries' divergence adjudication noise). The shuffle is
    a deterministic md5 permutation (no RNG — reruns byte-identical);
    foreign keys offset consistently so copy-c facts join copy-c
    dims."""
    import hashlib

    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    os.makedirs(dst, exist_ok=True)
    for f in os.listdir(SF_SRC):
        if f.endswith(".parquet"):
            t = pq.read_table(os.path.join(SF_SRC, f))
            # fail LOUDLY on an unlisted table: silently duplicating
            # it key-and-all would reintroduce the rejected
            # ingest-corruption regime for that table
            keys = _DUP_KEYS[f[: -len(".parquet")]]
            copies = []
            for c in range(k):
                tc = t
                for key in keys:
                    idx = tc.schema.get_field_index(key)
                    col = tc.column(idx)
                    shifted = pc.add(
                        col, pa.scalar(c * _DUP_KEY_OFFSET, type=col.type)
                    )
                    tc = tc.set_column(idx, tc.schema.field(idx), shifted)
                copies.append(tc)
            allrows = pa.concat_tables(copies)
            perm = sorted(
                range(allrows.num_rows),
                key=lambda i: hashlib.md5(f"{f}:{i}".encode()).hexdigest(),
            )
            pq.write_table(allrows.take(perm), os.path.join(dst, f))
    return dst


def make_vector_specials(dst: str) -> str:
    """TENTH axis (r12 fourth stretch): IEEE specials INSIDE embedding
    vectors plus zero-norm vectors — the one numeric surface the NaN
    axis never reached (make_special_floats salts only TOP-LEVEL
    double columns; array<float> components pass through untouched).
    Real crawl embeddings carry NaN from degenerate upstream
    normalization and all-zero vectors from empty inputs; a NaN
    component silently poisons every dot product it touches, and
    under DESC similarity ordering NaN ranks FIRST on both engines —
    corrupt vectors winning every search is the failure mode this
    axis exists to expose. Grid: i%13 → one NaN component, i%17 →
    one +Inf, i%19 → the all-zero vector, i%23 → one -Inf."""
    import math

    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(dst, exist_ok=True)
    for f in os.listdir(SF_SRC):
        if f.endswith(".parquet"):
            t = pq.read_table(os.path.join(SF_SRC, f))
            if f == "embeddings.parquet":
                idx = t.schema.get_field_index("embedding")
                vecs = t.column(idx).to_pylist()
                for i in range(len(vecs)):
                    v = vecs[i]
                    if v is None:
                        continue
                    if i % 13 == 0 and v:
                        v = list(v)
                        v[i % len(v)] = math.nan
                    elif i % 17 == 0 and v:
                        v = list(v)
                        v[i % len(v)] = math.inf
                    elif i % 19 == 0 and v:
                        v = [0.0] * len(v)
                    elif i % 23 == 0 and v:
                        v = list(v)
                        v[i % len(v)] = -math.inf
                    vecs[i] = v
                t = t.set_column(
                    idx,
                    t.schema.field(idx),
                    pa.array(vecs, type=t.schema.field(idx).type),
                )
            pq.write_table(t, os.path.join(dst, f))
    return dst


# Dirty-JSON payloads for the NINTH axis (r12 third stretch): the
# events.props JSON column is the one semi-structured surface no
# axis ever salted, and crawled JSON is DIRTY — truncated documents,
# unquoted keys, empty strings, wrong-typed and overflow values.
# Probing found the engines genuinely disagree at the edges (DuckDB's
# ->> ERRORS on malformed input where Spark's get_json_object yields
# NULL; Spark's variant parser REJECTS duplicate keys both others
# first-win; both accept trailing junk differently), so the salt
# carries the classes a DECLARED lenient-JSON contract can mirror,
# and the unmirrorable classes (duplicate keys, trailing junk) are
# canary-pinned instead of salted.
_JSON_EDGES = (
    '{"k": 5',                        # truncated document
    "{k: 7}",                         # unquoted key
    "",                               # empty payload
    '{"k": null}',                    # JSON null
    '{"k": "12"}',                    # string-typed number
    '{"k": 9223372036854775807}',     # int64 max
    '{"k": 1e309}',                   # double overflow -> Infinity
    '{"k": [1, 2]}',                  # array-valued k
    '{"a": {"k": 3}}',                # k only at a deeper path
)


def make_json_edges(dst: str) -> str:
    """NINTH axis (r12 third stretch): dirty JSON salted into
    events.props on a deterministic grid (every 7th row). Both
    engines read the SAME payload bytes, so parity is exactly
    defined under the lenient-JSON contract: extraction yields NULL
    for malformed documents and un-castable values instead of
    killing the query — the only sane posture when one bad crawl
    row must not take down a 100 TB scan."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(dst, exist_ok=True)
    for f in os.listdir(SF_SRC):
        if f.endswith(".parquet"):
            t = pq.read_table(os.path.join(SF_SRC, f))
            if f == "events.parquet":
                vals = t.column("props").to_pylist()
                for i in range(len(vals)):
                    if vals[i] is not None and i % 7 == 0:
                        vals[i] = _JSON_EDGES[(i // 7) % len(_JSON_EDGES)]
                idx = t.schema.get_field_index("props")
                t = t.set_column(
                    idx,
                    t.schema.field(idx),
                    pa.array(vals, type=pa.string()),
                )
            pq.write_table(t, os.path.join(dst, f))
    return dst


# Control/hostile-byte snippets for the EIGHTH axis (r12 second
# stretch): the bytes a real crawl actually carries that no prior
# axis stressed — embedded NUL, CR/LF/TAB inside "lines", zero-width
# characters (the invisible-text spam class), bidi override controls
# (the display-spoofing class), BOM, DEL and C1 NEL (U+0085 — a
# whitespace character to SOME regex engines), and a combining-mark
# sequence (é as e + U+0301 — NFC-unnormalized text, which neither
# engine normalizes implicitly; length/compare must agree anyway).
_CTRL_SNIPPETS = (
    "pre\x00post nul",
    "crlf\r\nline two",
    "tab\tseparated\tcols",
    "zero​width‍join",
    "bidi‮flipped‬ end",
    "﻿bom lead",
    "del\x7fchar nel\x85line",
    "café combining",
)


def make_control_chars(dst: str) -> str:
    """EIGHTH axis (r12 second stretch): hostile control bytes salted
    into documents.text (every 7th doc prepended, every 11th appended
    — the multibyte-axis grid) and the p_name/c_name/s_name entity
    columns (every 5th row). Both engines read the SAME UTF-8 bytes
    from parquet, so parity is exactly defined; divergence means the
    engines' string primitives disagree on NUL/control handling —
    the classic C-string-vs-length-prefixed seam a 100 TB crawl WILL
    eventually probe."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(dst, exist_ok=True)
    name_cols = {
        "part.parquet": "p_name",
        "customer.parquet": "c_name",
        "supplier.parquet": "s_name",
    }
    for f in os.listdir(SF_SRC):
        if f.endswith(".parquet"):
            t = pq.read_table(os.path.join(SF_SRC, f))
            if f == "documents.parquet":
                texts = t.column("text").to_pylist()
                for i in range(len(texts)):
                    if texts[i] is None:
                        continue
                    if i % 7 == 0:
                        texts[i] = (
                            _CTRL_SNIPPETS[i % len(_CTRL_SNIPPETS)]
                            + " "
                            + texts[i]
                        )
                    elif i % 11 == 0:
                        texts[i] = (
                            texts[i]
                            + " "
                            + _CTRL_SNIPPETS[(i // 11) % len(_CTRL_SNIPPETS)]
                        )
                idx = t.schema.get_field_index("text")
                t = t.set_column(
                    idx,
                    t.schema.field(idx),
                    pa.array(texts, type=pa.string()),
                )
            elif f in name_cols:
                col = name_cols[f]
                vals = t.column(col).to_pylist()
                for i in range(len(vals)):
                    if vals[i] is not None and i % 5 == 0:
                        vals[i] = (
                            vals[i]
                            + " "
                            + _CTRL_SNIPPETS[i % len(_CTRL_SNIPPETS)]
                        )
                idx = t.schema.get_field_index(col)
                t = t.set_column(
                    idx,
                    t.schema.field(idx),
                    pa.array(vals, type=pa.string()),
                )
            pq.write_table(t, os.path.join(dst, f))
    return dst


# Temporal-edge values for the SEVENTH axis (r12, VERDICT r11 #7).
# The one fixture surface no prior axis stressed: TIMESTAMP edge
# values, where JVM calendars (Spark) and ICU (DuckDB) can silently
# disagree in date_trunc / window bucketing / interval arithmetic,
# and SURVEY §7.6 #1 names timestamps the top semantic risk.
# The six edges, each with a reason:
#   * pre-1970 WITH sub-second fraction — epoch-seconds are NEGATIVE;
#     truncation direction (floor vs toward-zero) is the classic seam
#     for any kernel doing integer epoch division;
#   * epoch 0 exactly — the degenerate origin bucket;
#   * one µs BEFORE epoch — trunc-toward-zero puts it in second 0,
#     floor puts it in second -1;
#   * a DST spring-forward wall instant (2021-03-14 02:30 US) — inert
#     under the pinned-UTC sessions, live the moment any kernel
#     converts named zones;
#   * just past 2262-04-11 — the datetime64[ns] ceiling: any kernel
#     routing timestamps through a nanosecond pandas/Arrow path
#     overflows here while µs-native paths are fine;
#   * year 9999 — far-future corruption a real crawl carries; the
#     stress for data-driven calendar spines (a gap-fill between 1992
#     and 9999 is a ~70M-hour sequence — kernels must bound their
#     spines by a declared business window, not trust max(ts)).
import datetime as _dt

_TIME_EDGES = (
    _dt.datetime(1955, 6, 15, 11, 22, 33, 654321),
    _dt.datetime(1970, 1, 1, 0, 0, 0, 0),
    _dt.datetime(1969, 12, 31, 23, 59, 59, 999999),
    _dt.datetime(2021, 3, 14, 2, 30, 0, 500000),
    _dt.datetime(2262, 4, 12, 0, 0, 0, 1),
    _dt.datetime(9999, 12, 31, 23, 59, 59, 999999),
)

# Salt grid per temporal column: prime strides so edges interleave
# and most rows stay in the normal business window (the ordinary
# code paths must still execute — the make_special_floats pattern).
_TIME_GRID = ((13, 0), (17, 1), (19, 2), (23, 3), (29, 4), (31, 5))


def make_time_edges(dst: str) -> str:
    """SEVENTH axis (r12, VERDICT r11 #7): temporal-edge values salted
    into every timestamp column (events.ts, orders.o_orderdate,
    lineitem.l_shipdate) on a deterministic row-index grid. Both
    engines read the SAME parquet µs values, so parity is exactly
    defined; divergence means the engines' calendar/truncation/
    bucketing semantics differ — exactly what a 100 TB pipeline with
    crawl-corrupted timestamps needs to know."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(dst, exist_ok=True)
    for f in os.listdir(SF_SRC):
        if f.endswith(".parquet"):
            t = pq.read_table(os.path.join(SF_SRC, f))
            for fld in t.schema:
                if not str(fld.type).startswith("timestamp"):
                    continue
                idx = t.schema.get_field_index(fld.name)
                vals = t.column(idx).to_pylist()
                for i in range(len(vals)):
                    if vals[i] is None:
                        continue
                    for stride, e in _TIME_GRID:
                        if i % stride == 0:
                            vals[i] = _TIME_EDGES[e]
                            break
                t = t.set_column(
                    idx, t.schema.field(idx), pa.array(vals, type=fld.type)
                )
            pq.write_table(t, os.path.join(dst, f))
    return dst


def make_single(dst: str) -> str:
    """First-row-only copies of every driver table (referential links
    between tables break, but Spark and the oracle see the SAME rows,
    so parity is still exactly defined)."""
    import pyarrow.parquet as pq

    os.makedirs(dst, exist_ok=True)
    for f in os.listdir(SF_SRC):
        if f.endswith(".parquet"):
            t = pq.read_table(os.path.join(SF_SRC, f))
            pq.write_table(t.slice(0, 1), os.path.join(dst, f))
    return dst


@pytest.fixture(scope="module")
def empty_sf(tmp_path_factory):
    return make_empty(str(tmp_path_factory.mktemp("sf_empty")))


@pytest.fixture(scope="module")
def empty_con(empty_sf):
    return testing.duckdb_con(empty_sf)


@pytest.mark.parametrize("name", REPAIRED)
def test_repaired_entry_matches_oracle_on_empty(spark, empty_sf, empty_con, name):
    from hive_release_spark.queries import REGISTRY

    entry = REGISTRY[name]
    ok, why = testing.compare_query(
        spark, empty_con, entry.fn, entry.oracle, empty_sf
    )
    assert ok, f"{name} on zero-row input: {why}"


@pytest.mark.parametrize("name", GROUPING_SETS_DELTA)
def test_grouping_sets_empty_delta_pinned(spark, empty_sf, empty_con, name):
    """Spark returns ZERO rows for grouping-set aggregates over empty
    input (Hive-faithful: the GroupByOperator replicates input rows per
    grouping set, so zero input rows produce zero output rows); the
    DuckDB oracle emits the SQL-standard () grand-total row. Pin BOTH
    sides so a semantic change in either engine surfaces here instead
    of silently flipping the documented delta."""
    from hive_release_spark.queries import REGISTRY

    entry = REGISTRY[name]
    assert entry.fn(spark, empty_sf).count() == 0, (
        f"{name}: Spark no longer returns 0 rows on empty grouping-set "
        "input — the Hive-faithful delta documented in COVERAGE.md "
        "changed underneath us"
    )
    n_oracle = len(empty_con.execute(entry.oracle).fetchall())
    assert n_oracle >= 1, (
        f"{name}: the DuckDB oracle now returns {n_oracle} rows on empty "
        "input — the documented delta no longer exists; promote the "
        "entry into the oracle-parity set"
    )


@pytest.fixture(scope="module")
def single_sf(tmp_path_factory):
    return make_single(str(tmp_path_factory.mktemp("sf_one")))


@pytest.fixture(scope="module")
def single_con(single_sf):
    return testing.duckdb_con(single_sf)


@pytest.mark.parametrize("name", REPAIRED_SINGLE_ROW)
def test_repaired_entry_matches_oracle_on_single_row(
    spark, single_sf, single_con, name
):
    from hive_release_spark.queries import REGISTRY

    entry = REGISTRY[name]
    ok, why = testing.compare_query(
        spark, single_con, entry.fn, entry.oracle, single_sf
    )
    assert ok, f"{name} on single-row input: {why}"


def test_single_row_adjudicated_exceptions(spark, single_sf, single_con):
    """The n=1 behaviors deliberately NOT converged, pinned so a
    change in either engine surfaces here:

    * emb_pca_project: a 1-vector corpus mean-centers to all-zeros and
      the quantized iterate collapses — Spark raises the documented
      degenerate-input ValueError (ADVICE r6-5) and DuckDB's replay
      errors on the NULL-laden list arithmetic; BOTH engines fail, in
      their own ways, which is the adjudicated contract for a data
      pathology (unlike n=0, where both return empty).
    * agg_percentile_approx_contract: a rank-error contract (observed
      fraction within 0.02 of the target rank) that is not a
      meaningful claim at n=1 (the fraction is exactly 1.0) — the
      entry runs fine; only the contract comparison diverges.
      (agg_histogram_numeric left this list in r10: its sharpened
      n_bins = min(10, non-null count) contract IS exact at n=1 and
      it now sits in REPAIRED_SINGLE_ROW.)
    """
    from hive_release_spark.llm.clustering import power_iteration_project
    from hive_release_spark.queries import REGISTRY

    emb = spark.read.parquet(os.path.join(single_sf, "embeddings.parquet"))
    with pytest.raises(ValueError, match="degenerate"):
        power_iteration_project(emb, n_iter=2, nq=5)
    import duckdb

    with pytest.raises(duckdb.Error):
        single_con.execute(REGISTRY["emb_pca_project"].oracle).fetchall()

    assert (
        REGISTRY["agg_percentile_approx_contract"].fn(spark, single_sf).count()
        >= 1
    )  # runs clean; only the rank-error booleans diverge from the oracle


def test_empty_arrow_batch_does_not_crash_pandas_kernel(spark, empty_sf):
    """The Arrow vector kernels must tolerate EMPTY partitions — on a
    real cluster most partitions of a small frame are empty, so this is
    live-data robustness, not just the empty-table edge. An empty
    partition sends ``mapInArrow`` no batch at all, which is why the
    kernels carry no empty-batch guard; this pins the 1-row corpus
    spread over 8 partitions and the all-empty tables."""
    from hive_release_spark.queries import REGISTRY

    # 1-row corpus across 8 partitions -> at least 7 empty batches
    emb = (
        spark.read.parquet(os.path.join(SF_SRC, "embeddings.parquet"))
        .limit(1)
        .repartition(8)
    )
    emb.createOrReplaceTempView("_one_row_emb")
    import numpy as np

    from hive_release_spark.llm.clustering import pca_project

    assert pca_project(emb, k=1).count() == 1
    del np
    # and the registry entry end-to-end on the all-empty tables
    assert REGISTRY["sim_cosine_topk_arrow"].fn(spark, empty_sf).count() == 0


# NaN/Inf axis (r10 stretch — the fourth sweep): the 10 entries whose
# divergence was SILENT (wrong values, flipped contract booleans,
# 'Infinity'-vs-'inf' renderings), repaired with the finite() device
# (functions/numeric.py) and Hive-style special rendering in oracles.
# The ~45 entries where BOTH engines refuse loudly (ANSI CAST_OVERFLOW
# on the micro-fold device vs DuckDB's own cast/variance refusals) are
# the documented shared-failure class pinned below.
REPAIRED_NAN = [
    "agg_percentile",
    "agg_percentile_disc",
    "orders_monthly_percentiles",
    "agg_trimmed_stats",
    "window_exclude_current",
    "window_exclude_group_ties",
    "window_moving_median",
    "agg_histogram_numeric",
    "agg_percentile_approx_contract",
    "fn_gap_tier",
    "fn_union_type",
    "dq_column_profile",
    # wave 1 of the staged finite() adoption (same round, the 8 free
    # window slots): the variance/correlation flagship family + math
    # sums + arg_max cents key + applyInPandas z-score + the shared
    # daily-series helper
    "agg_stats",
    "agg_regr",
    "agg_corr_matrix",
    "fn_math",
    "agg_min_max_by",
    "ptf_apply_in_pandas_zscore",
    "timeseries_autocorr",
    "timeseries_cross_corr",
    # wave 2 (r11, VERDICT r10 #2 — closes the loud class): every
    # remaining micro-fold/DECIMAL-cast/log-domain refusal, repaired
    # with one of three declared devices — (a) cents()/finite() inside
    # the fold (specials aggregate like NULL, the row keeps its other
    # roles), (b) scan-side is_finite() drop where the row IS the
    # measurement, (c) listwise deletion where the semantic unit is a
    # multi-column observation. The recursion entries additionally
    # drop no-signal periods (see the struct-accumulator canary).
    "timeseries_ewma",
    "timeseries_theil_sen",
    "timeseries_holt",
    "timeseries_gap_fill",
    "timeseries_backtest_naive",
    "timeseries_croston",
    "timeseries_holt_winters",
    "ml_linear_regression",
    "ml_decision_stump",
    "ml_boosted_stumps",
    "ml_regression_calibration",
    "ml_regression_kfold_cv",
    "stats_subsample_ci",
    "stats_anova_oneway",
    "stats_spearman_corr",
    "sample_stratified_neyman",
    "stats_granger_lite",
    "dq_distribution_drift_psi",
    "customer_cohort_ltv",
    "dq_benford_first_digit",
    "customer_gini_revenue",
    "part_price_elasticity",
    "events_attribution_position",
    "events_ab_cuped",
    "orders_abc_classification",
    "supplier_concentration_hhi",
    "customer_segment_migration",
    "orders_price_index",
    "orders_abc_xyz_matrix",
    "ds_worst_return_ratios",
    "ds_sales_deviation_rank",
    "ds_returns_adjusted_spend",
    "ds_three_channel_ratio",
    "sql_named_window",
    "source_xml_roundtrip",
    "source_sequencefile_roundtrip",
    "fn_misc_surface",
    "fn_decimal_arith",
    "window_regr_slope",
    "fn_trig",
]


@pytest.fixture(scope="module")
def nan_sf(tmp_path_factory):
    return make_special_floats(str(tmp_path_factory.mktemp("sf_nan")))


@pytest.fixture(scope="module")
def nan_con(nan_sf):
    return testing.duckdb_con(nan_sf)


@pytest.mark.parametrize("name", REPAIRED_NAN)
def test_repaired_entry_matches_oracle_on_specials(spark, nan_sf, nan_con, name):
    from hive_release_spark.queries import REGISTRY

    entry = REGISTRY[name]
    ok, why = testing.compare_query(
        spark, nan_con, entry.fn, entry.oracle, nan_sf
    )
    assert ok, f"{name} on NaN/Inf input: {why}"


def test_frame_exclusion_all_special_neighborhood(spark, tmp_path):
    """Adversarial specials placement for the EXCLUDE-rewrite entries
    (r10 in-round review): a finite row whose ENTIRE excluded frame is
    NaN/Inf must get a NULL excluded sum — DuckDB's native EXCLUDE
    sums only NULLs there — not the 0.0 the sum-minus-current (or
    frame-minus-peer-group) cancellation would emit. The committed
    fixture's salt grid never produces this neighborhood, so it is
    pinned with a crafted one: one 8-row partition where row 4 is the
    only finite price among its neighbors."""
    import datetime
    import math
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    dst = str(tmp_path / "sf_adv")
    shutil.copytree(SF_SRC, dst)
    orig = pq.read_table(os.path.join(SF_SRC, "lineitem.parquet"))
    nan = math.nan
    rows = {
        "l_orderkey": list(range(1, 9)),
        "l_partkey": [1] * 8,
        "l_suppkey": [0] * 8,
        "l_linenumber": [1] * 8,
        "l_quantity": [float(i) for i in range(1, 9)],
        "l_extendedprice": [nan, nan, nan, 5.0, nan, math.inf, nan, nan],
        "l_discount": [0.0] * 8,
        "l_tax": [0.0] * 8,
        "l_returnflag": ["N"] * 8,
        "l_linestatus": ["O"] * 8,
        "l_shipdate": [datetime.datetime(1997, 1, 1)] * 8,
    }
    pq.write_table(
        pa.table(
            [pa.array(rows[f.name], type=f.type) for f in orig.schema],
            schema=orig.schema,
        ),
        os.path.join(dst, "lineitem.parquet"),
    )
    con = testing.duckdb_con(dst)
    from hive_release_spark.queries import REGISTRY

    for name in ("window_exclude_current", "window_exclude_group_ties"):
        entry = REGISTRY[name]
        ok, why = testing.compare_query(
            spark, con, entry.fn, entry.oracle, dst
        )
        assert ok, f"{name} on all-special neighborhood: {why}"
    # the load-bearing cell: the lone finite row's excluded sum is NULL
    r = {
        row.l_orderkey: row.peer_sum
        for row in REGISTRY["window_exclude_current"].fn(spark, dst).collect()
    }
    assert r[4] is None and r[3] == 5.0


# Duplicate/replica axis (r11 — the fifth sweep): the entries the axis
# diverged, each repaired and re-pinned against the replica tables.
REPAIRED_DUP = [
    "search_bm25_rank",
    "search_tfidf_cosine",
    "graph_adamic_adar",
    "pipeline_corpus_build",
    # flagship representatives that must stay green on mass
    # duplication (survivor-pick determinism, LSH band collisions,
    # tied sampler keys — the stress the axis was built for):
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_jaccard_prefix",
    "dedup_span_chunks",
    "sample_reservoir_group",
    "sample_stratified_neyman",
    "agg_min_max_by",
]


@pytest.fixture(scope="module")
def dup_sf(tmp_path_factory):
    return make_duplicated(str(tmp_path_factory.mktemp("sf_dup")))


@pytest.fixture(scope="module")
def dup_con(dup_sf):
    return testing.duckdb_con(dup_sf)


@pytest.mark.parametrize("name", REPAIRED_DUP)
def test_repaired_entry_matches_oracle_on_replicas(spark, dup_sf, dup_con, name):
    from hive_release_spark.queries import REGISTRY

    entry = REGISTRY[name]
    ok, why = testing.compare_query(
        spark, dup_con, entry.fn, entry.oracle, dup_sf
    )
    assert ok, f"{name} on K-replica input: {why}"


# Vector-specials axis (r12 fourth stretch — the tenth sweep): the
# embedding family under the vector-geometry contract v2
# (llm/similarity.py vec_valid / VEC_VALID_SQL): NaN/Inf components
# and zero-norm vectors are dropped at every geometry intake, because
# cosine against them is NaN or a division by zero and NaN ranks
# FIRST under DESC ordering on both engines — one corrupt crawl
# embedding would otherwise win every search. The one deliberate
# exception: emb_quality_report keeps corrupt vectors IN (it is the
# corruption detector) and its norm statistics ride finite norms.
REPAIRED_VEC = [
    "dedup_embedding_cosine",
    "dedup_semantic_cells",
    "sim_cosine_topk",
    "sim_cosine_topk_arrow",
    "sim_ann_lsh",
    "sim_ann_ivf",
    "sim_ann_ivf_bcast",
    "sim_ann_pq",
    "sim_ann_binary",
    "sim_ann_sq8",
    "sim_hard_negatives",
    "sim_mmr_rerank",
    "sim_rrf_fusion",
    "sim_rocchio_expansion",
    "emb_label_centroids",
    "emb_quality_report",
    "emb_normalize_quantize",
    "emb_kmeans",
    "emb_pca_contract",
    "emb_matryoshka_recall",
    "emb_cluster_separation",
    "emb_whitening",
    "emb_mean_shift_drift",
    "search_eval_metrics",
    "ml_knn_label_accuracy",
]


@pytest.fixture(scope="module")
def vec_sf(tmp_path_factory):
    return make_vector_specials(str(tmp_path_factory.mktemp("sf_vec")))


@pytest.fixture(scope="module")
def vec_con(vec_sf):
    return testing.duckdb_con(vec_sf)


@pytest.mark.parametrize("name", REPAIRED_VEC)
def test_repaired_entry_matches_oracle_on_vector_specials(
    spark, vec_sf, vec_con, name
):
    from hive_release_spark.queries import REGISTRY

    entry = REGISTRY[name]
    ok, why = testing.compare_query(
        spark, vec_con, entry.fn, entry.oracle, vec_sf
    )
    assert ok, f"{name} on vector-specials input: {why}"


# Stride-sample miss: the centroid-indexed entries sample every
# stride-th vector id as a centroid, stride = n // n_cells. An
# embeddings table of the 32 odd ids below 64 is non-empty, yet no id
# is a multiple of the stride at 16 cells (stride 2) or 8 cells
# (stride 4), so the sample is empty and no cell exists; every oracle
# then answers with zero rows. At 64 cells the stride is 1 and the
# sample is the whole table.
SAMPLE_MISS = [
    "sim_ann_ivf",
    "sim_ann_ivf_bcast",
    "sim_ann_pq",
    "dedup_semantic_cells",
]


def make_sample_miss(dst: str) -> str:
    """Copies of every sf0.001 table, with embeddings cut to the 32 rows
    whose vec_id is odd and below 64."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    os.makedirs(dst, exist_ok=True)
    for f in os.listdir(SF_SRC):
        if f.endswith(".parquet"):
            t = pq.read_table(os.path.join(SF_SRC, f))
            if f == "embeddings.parquet":
                ids = t.column("vec_id")
                t = t.filter(
                    pc.and_(pc.less(ids, 64), pc.equal(pc.bit_wise_and(ids, 1), 1))
                )
                assert t.num_rows == 32
            pq.write_table(t, os.path.join(dst, f))
    return dst


@pytest.fixture(scope="module")
def miss_sf(tmp_path_factory):
    return make_sample_miss(str(tmp_path_factory.mktemp("sf_miss")))


@pytest.fixture(scope="module")
def miss_con(miss_sf):
    return testing.duckdb_con(miss_sf)


@pytest.mark.parametrize("name", SAMPLE_MISS)
def test_entry_matches_oracle_on_stride_sample_miss(spark, miss_sf, miss_con, name):
    from hive_release_spark.queries import REGISTRY

    entry = REGISTRY[name]
    ok, why = testing.compare_query(
        spark, miss_con, entry.fn, entry.oracle, miss_sf
    )
    assert ok, f"{name} on a stride-sample miss: {why}"


def test_nan_similarity_ranks_first_quirk(spark):
    """The engine behavior that makes the vector-geometry contract v2
    NECESSARY, pinned: a NaN cosine similarity sorts FIRST under DESC
    ordering (NaN is greatest in Spark's ordering), so without the
    vec_valid guard a corrupt vector would be returned as the TOP
    neighbor of every query — not an error, a silently wrong search
    result. If this flips (NaN ordered last), the guard is still
    correct (corrupt vectors carry no geometry) but the urgency
    argument in the contract comments should be softened."""
    import math

    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(1, 0.9), (2, float("nan")), (3, 0.1)], "id LONG, sim DOUBLE"
    )
    top = df.orderBy(F.col("sim").desc()).first()
    assert math.isnan(top.sim), top
    import duckdb

    con = duckdb.connect()
    first = con.execute(
        "SELECT id FROM (VALUES (1, 0.9), (2, 'NaN'::DOUBLE), (3, 0.1))"
        " t(id, sim) ORDER BY sim DESC LIMIT 1"
    ).fetchone()[0]
    assert first == 2, first


# Dirty-JSON axis (r12 third stretch — the ninth sweep): the two
# props-consuming entries, repaired with the lenient-JSON contract
# (extraction yields NULL for malformed documents and un-castable
# values; overflow group sums mirror as NULL via try_sum /
# TRY_CAST(sum)) — one truncated crawl payload must not kill a
# 100 TB scan, which is exactly what the old parse_json FAILFAST
# path did.
REPAIRED_JSON = [
    "fn_json",
    "fn_variant_json",
]


@pytest.fixture(scope="module")
def json_sf(tmp_path_factory):
    return make_json_edges(str(tmp_path_factory.mktemp("sf_json")))


@pytest.fixture(scope="module")
def json_con(json_sf):
    return testing.duckdb_con(json_sf)


@pytest.mark.parametrize("name", REPAIRED_JSON)
def test_repaired_entry_matches_oracle_on_dirty_json(
    spark, json_sf, json_con, name
):
    from hive_release_spark.queries import REGISTRY

    entry = REGISTRY[name]
    ok, why = testing.compare_query(
        spark, json_con, entry.fn, entry.oracle, json_sf
    )
    assert ok, f"{name} on dirty-JSON input: {why}"


def test_json_unmirrorable_edge_classes_quirk(spark):
    """The two dirty-JSON classes kept OUT of the axis salt because
    the engines genuinely disagree and no guard mirrors them —
    pinned here so the fixture-exclusion stays justified:
    (1) DUPLICATE KEYS: Spark's variant parser REJECTS the whole
    document (try_parse_json → NULL) while get_json_object AND
    DuckDB's ->> both first-win; (2) TRAILING JUNK: Spark's string
    path extracts from the valid prefix while DuckDB's json_valid
    refuses the document; (3) NON-INTEGRAL NUMBERS: variant's typed
    bigint get TRUNCATES 2.9 → 2 while the string-path try_cast
    refuses '2.9'. If any assertion flips, the engines converged —
    fold the class into the axis salt."""
    import duckdb

    from pyspark.sql import functions as F

    rows = [
        (1, '{"k": 5, "k": 9}'),   # duplicate keys
        (2, '{"k": 5}extra'),      # trailing junk
        (3, '{"k": 2.9}'),         # non-integral number
    ]
    df = spark.createDataFrame(rows, "i LONG, props STRING")
    got = {
        r.i: (r.var, r.gj)
        for r in df.select(
            "i",
            F.try_variant_get(
                F.try_parse_json("props"), "$.k", "bigint"
            ).alias("var"),
            F.get_json_object("props", "$.k").try_cast("long").alias("gj"),
        ).collect()
    }
    assert got[1] == (None, 5), got[1]   # variant rejects, string first-wins
    assert got[2] == (5, 5), got[2]      # Spark accepts trailing junk
    assert got[3] == (2, None), got[3]   # variant truncates, cast refuses

    con = duckdb.connect()
    assert con.execute(
        "SELECT TRY_CAST('{\"k\": 5, \"k\": 9}'::VARCHAR->>'k' AS BIGINT)"
    ).fetchone()[0] == 5                 # DuckDB first-wins
    assert con.execute(
        "SELECT json_valid('{\"k\": 5}extra')"
    ).fetchone()[0] is False             # DuckDB refuses trailing junk


# Control-chars axis (r12 second stretch — the eighth sweep): CLEAN
# BILL on first contact, 362/362 with ZERO repairs — both engines'
# string surfaces are length-prefixed/binary-safe end-to-end:
# length() counts a NUL, md5/fingerprint hash it, split/regex walk
# past it, trim strips neither tabs nor zero-width characters, and
# the driver hash canon carries it. The axis therefore pins the
# AGREEMENT (these flagships must STAY green on hostile bytes), and
# its value is the measured clean bill: the classic C-string
# truncation seam does not exist anywhere in this engine pair.
HOLD_CTRL = [
    "fn_string",
    "fn_mask",
    "fn_regex",
    "text_quality",
    "text_langid_ngram",
    "text_fingerprint",
    "text_token_bpe_regex",
    "text_normalize",
    "text_pii_scrub",
    "dedup_jaccard_pairs",
    "dedup_span_chunks",
    "multimodal_payload_dedup",
]


@pytest.fixture(scope="module")
def ctrl_sf(tmp_path_factory):
    return make_control_chars(str(tmp_path_factory.mktemp("sf_ctrl")))


@pytest.fixture(scope="module")
def ctrl_con(ctrl_sf):
    return testing.duckdb_con(ctrl_sf)


@pytest.mark.parametrize("name", HOLD_CTRL)
def test_entry_matches_oracle_on_control_chars(
    spark, ctrl_sf, ctrl_con, name
):
    from hive_release_spark.queries import REGISTRY

    entry = REGISTRY[name]
    ok, why = testing.compare_query(
        spark, ctrl_con, entry.fn, entry.oracle, ctrl_sf
    )
    assert ok, f"{name} on control-char input: {why}"


# Temporal-edge axis (r12 — the seventh sweep): the 9 entries the axis
# diverged, each repaired with one of three declared devices and
# re-pinned against the salted tables, plus the temporal flagships
# that must stay green on edge timestamps:
#   * ts_valid ceiling (functions/temporal.py) — far-future corruption
#     poisons watermarks and overflows interval arithmetic; dropped
#     scan-side on BOTH engines (fn_datetime, fn_datetime_misc,
#     stream_session, stream_session_dynamic,
#     stream_watermark_late_drop, orders_backlog_curve);
#   * µs-integer ordering across the Arrow/pandas boundary
#     (ptf_matchpath) — datetime64[ns] overflows past 2262; int64 µs
#     is order-identical and keeps EVERY row;
#   * exact-money rendering — q9 adopts the cents fold (group
#     reshuffles landed a raw double sum on a .xx5 round boundary),
#     customer_cohort_ltv's final divide moved to floor(x+0.5) on the
#     shared exact quotient, and the unix-seconds oracles now
#     trunc() toward zero (Spark/Hive Java division; floor()/CAST
#     are off-by-one on pre-1970 sub-second values).
# The axis also caught a real ORACLE bug with no engine counterpart:
# both session oracles' island running-sum walked equal-ts peers in a
# DIFFERENT order than the new-session flags were computed in,
# splitting an equal-ts block across two sessions once the salt put
# many events on one instant — both now order by (ts, event_id)
# end-to-end.
REPAIRED_TIME = [
    "ptf_matchpath",
    "fn_datetime",
    "fn_datetime_misc",
    "stream_session",
    "stream_session_dynamic",
    "stream_watermark_late_drop",
    "orders_backlog_curve",
    "customer_cohort_ltv",
    "q9_product_profit",
    # temporal flagships: bucketing/windows/gap-fill/as-of must stay
    # green on pre-1970, epoch-0, sub-second and far-future values
    "stream_tumbling",
    "stream_sliding",
    "timeseries_gap_fill",
    "join_asof_orders",
    "events_top_paths",
    "fn_misc_surface",
]


@pytest.fixture(scope="module")
def time_sf(tmp_path_factory):
    return make_time_edges(str(tmp_path_factory.mktemp("sf_time")))


@pytest.fixture(scope="module")
def time_con(time_sf):
    return testing.duckdb_con(time_sf)


@pytest.mark.parametrize("name", REPAIRED_TIME)
def test_repaired_entry_matches_oracle_on_time_edges(
    spark, time_sf, time_con, name
):
    from hive_release_spark.queries import REGISTRY

    entry = REGISTRY[name]
    ok, why = testing.compare_query(
        spark, time_con, entry.fn, entry.oracle, time_sf
    )
    assert ok, f"{name} on temporal-edge input: {why}"


def test_pandas_boundary_ns_overflow_quirk(spark):
    """Engine limit behind the µs-ordering device (r12 temporal axis):
    the applyInPandas input boundary converts timestamps to
    datetime64[ns], which OVERFLOWS for values past 2262-04-11 — the
    whole task dies on one corrupt row. ptf_matchpath therefore ships
    its order key as int64 µs. If this assertion flips, pyspark's
    Arrow→pandas conversion went µs-native — the device can be
    retired."""
    import datetime

    import pandas as pd
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(1, datetime.datetime(9999, 12, 31, 23, 59, 59))],
        "k LONG, ts TIMESTAMP_NTZ",
    )

    def ident(pdf: pd.DataFrame) -> pd.DataFrame:
        return pdf[["k"]]

    with pytest.raises(Exception) as exc:
        df.groupBy("k").applyInPandas(ident, "k long").collect()
    assert "out of" in str(exc.value).lower() or "overflow" in str(
        exc.value
    ).lower() or "bounds" in str(exc.value).lower(), str(exc.value)[:500]


def test_session_window_calendar_overflow_quirk(spark):
    """Engine limit behind the ts_valid ceiling (r12 temporal axis):
    Spark COMPUTES a session end past year 9999 without error (µs are
    int64 internally) but the row cannot be collected to Python —
    the failure surfaces at the last possible moment, far from the
    corrupt input. A real pipeline must bound event time BEFORE the
    window op, which is exactly what functions/temporal.ts_valid
    declares."""
    import datetime

    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(1, datetime.datetime(9999, 12, 31, 23, 59, 59))],
        "user_id LONG, ts TIMESTAMP_NTZ",
    )
    agg = df.groupBy(F.session_window("ts", "6 hours"), "user_id").count()
    with pytest.raises(Exception) as exc:
        agg.collect()
    assert "out of range" in str(exc.value).lower(), str(exc.value)[:500]


def test_session_oracle_equal_ts_block_crafted(spark, tmp_path):
    """Crafted adversarial pin for the r12 session-oracle ordering
    repair (the hygiene-loop bar: verify repairs against CRAFTED
    inputs, not just the axis that found them). The regime: one user
    with MANY events on the SAME instant, mixed gap classes (purchase
    12h / click 6h), plus a follow-up event inside the long gap but
    outside the short one — the dynamic merge must extend the session
    via the purchase's 12h te even though later-ordered peers carry
    6h, and the island sum must keep the equal-ts block in ONE
    session regardless of which peer the engine walks first. Both
    session entries must hash-match their oracles on this fixture."""
    import datetime
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    dst = str(tmp_path / "sf_tie")
    shutil.copytree(SF_SRC, dst)
    t0 = datetime.datetime(2024, 1, 10, 12, 0, 0)
    rows = {
        "event_id": [1, 2, 3, 4, 5, 6],
        # events 1-4: one instant; event 5 at +9h (inside the
        # purchase's 12h gap, outside a click's 6h); event 6 at +30h
        # (a clean new session)
        "ts": [t0, t0, t0, t0,
               t0 + datetime.timedelta(hours=9),
               t0 + datetime.timedelta(hours=30)],
        "user_id": [7, 7, 7, 7, 7, 7],
        "event_type": ["click", "purchase", "click", "view",
                       "click", "click"],
        "value": [1.0, 2.0, 3.0, 4.0, 5.0, 6.0],
        "props": ["{}"] * 6,
    }
    orig = pq.read_table(os.path.join(SF_SRC, "events.parquet"))
    cols = [
        pa.array(rows[f.name], type=f.type) for f in orig.schema
    ]
    pq.write_table(
        pa.table(cols, schema=orig.schema),
        os.path.join(dst, "events.parquet"),
    )
    from hive_release_spark.queries import REGISTRY

    con = testing.duckdb_con(dst)
    for name in ("stream_session", "stream_session_dynamic"):
        entry = REGISTRY[name]
        ok, why = testing.compare_query(
            spark, con, entry.fn, entry.oracle, dst
        )
        assert ok, f"{name} on crafted equal-ts block: {why}"
    # and the dynamic semantics themselves: events 1-5 fuse into ONE
    # session (the purchase's 12h te bridges the +9h event), event 6
    # opens the second
    got = (
        REGISTRY["stream_session_dynamic"].fn(spark, dst)
        .orderBy("session_start")
        .collect()
    )
    assert [r.n_events for r in got] == [5, 1], got


def test_ts_valid_ceiling_boundary(spark):
    """The ts_valid device's boundary is EXCLUSIVE at exactly
    2200-01-01 00:00:00 and its DuckDB twin must agree to the
    microsecond — an off-by-one here silently shifts which rows the
    six guarded entries drop."""
    import datetime

    import duckdb

    from hive_release_spark.functions.temporal import (
        TS_VALID_MAX,
        ts_valid,
        ts_valid_sql,
    )

    edge = datetime.datetime(2200, 1, 1, 0, 0, 0)
    just_under = edge - datetime.timedelta(microseconds=1)
    df = spark.createDataFrame(
        [(1, just_under), (2, edge), (3, None)], "k LONG, ts TIMESTAMP_NTZ"
    )
    kept = sorted(
        r.k for r in df.filter(ts_valid("ts")).select("k").collect()
    )
    assert kept == [1], kept  # edge excluded, NULL filtered
    con = duckdb.connect()
    got = con.execute(
        "SELECT "
        + ts_valid_sql("TIMESTAMP '2199-12-31 23:59:59.999999'")
        + ", "
        + ts_valid_sql(f"TIMESTAMP '{TS_VALID_MAX}'")
    ).fetchone()
    assert got == (True, False), got


def test_unix_seconds_truncate_toward_zero_quirk(spark):
    """Engine semantic behind the trunc() oracle twin (r12 temporal
    axis): Spark/Hive unix-seconds conversion is Java integer division
    — TRUNCATION TOWARD ZERO — so a pre-1970 sub-second instant maps
    one second HIGHER than floor() (and DuckDB's float→BIGINT CAST
    rounds, a third behavior). Pinned so the trunc(epoch(...)) oracle
    device stays justified."""
    import datetime

    import duckdb
    from pyspark.sql import functions as F

    ts = datetime.datetime(1955, 6, 15, 11, 22, 33, 654321)
    row = (
        spark.createDataFrame([(ts,)], "ts TIMESTAMP_NTZ")
        .select(
            F.to_unix_timestamp(F.col("ts").cast("timestamp")).alias("s")
        )
        .first()
    )
    assert row.s == -459088646, row.s  # trunc, not floor (-459088647)
    con = duckdb.connect()
    # the oracle device is INTEGER µs division: DuckDB's BIGINT //
    # truncates toward zero like Java's division (pinned here — if //
    # ever goes floor-division, the oracles drift on negatives), and
    # integer arithmetic carries no double-precision hazard for
    # sub-second values near the validity ceiling (epoch()'s DOUBLE
    # ulp crosses 1µs around year 2242)
    got = con.execute(
        "SELECT epoch_us(TIMESTAMP '1955-06-15 11:22:33.654321')"
        " // 1000000"
    ).fetchone()[0]
    assert got == row.s, got


def test_histogram_bins_duplicates_below_cap(spark, tmp_path):
    """ADVICE r10-1, sharpened: below the cap histogram_numeric's bin
    count is MERGE-ORDER dependent — equal values coalesce on the ADD
    path (same partition) but NOT on the MERGE path (partial sketches
    concatenate) — so the oracle can pin neither count (the old
    contract) nor distinct-count (the advice's proposal) exactly in
    the duplicates-below-cap regime. No committed fixture produces
    that regime (fixture groups have >10 distinct prices; n=1 has no
    duplicates; all-NULL gives 0), so it is pinned with a crafted one:
    one group holding 5 finite values over 3 distinct prices. The
    repaired contract answers NULL for n_bins_exact there, TRUE for
    the [distinct, count] bound, and the full entry must still
    hash-match its oracle."""
    import datetime
    import math
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    dst = str(tmp_path / "sf_dupcap")
    shutil.copytree(SF_SRC, dst)
    orig = pq.read_table(os.path.join(SF_SRC, "lineitem.parquet"))
    rows = {
        "l_orderkey": list(range(1, 7)),
        "l_partkey": [1] * 6,
        "l_suppkey": [0] * 6,
        "l_linenumber": [1] * 6,
        "l_quantity": [1.0] * 6,
        # group 'N': duplicates below the cap (5 finite over 3
        # distinct, plus one NaN the sketch must ignore)
        "l_extendedprice": [1.0, 1.0, 2.0, 2.0, 3.0, math.nan],
        "l_discount": [0.0] * 6,
        "l_tax": [0.0] * 6,
        "l_returnflag": ["N"] * 6,
        "l_linestatus": ["O"] * 6,
        "l_shipdate": [datetime.datetime(1997, 1, 1)] * 6,
    }
    pq.write_table(
        pa.table(
            [pa.array(rows[f.name], type=f.type) for f in orig.schema],
            schema=orig.schema,
        ),
        os.path.join(dst, "lineitem.parquet"),
    )
    from hive_release_spark.queries import REGISTRY

    entry = REGISTRY["agg_histogram_numeric"]
    con = testing.duckdb_con(dst)
    ok, why = testing.compare_query(spark, con, entry.fn, entry.oracle, dst)
    assert ok, f"agg_histogram_numeric duplicates-below-cap: {why}"
    row = entry.fn(spark, dst).collect()[0]
    assert row.n_bins_exact is None  # the indeterminate regime
    assert row.n_bins_ok  # 3 <= bins <= 5, engine value range-checked


def test_micro_fold_specials_device_pin(spark):
    """The exact-cents micro-fold device on non-finite input — the
    three-arm adjudication that justified the r10/r11 finite()
    adoption, pinned at DEVICE level now that the r11 wave emptied
    the loud REGISTRY class (every former loud entry is in
    REPAIRED_NAN and hash-greens on the axis):

    * RAW fold, driver's ANSI-on session: Spark refuses LOUDLY
      (CAST_OVERFLOW) — no silent garbage.
    * RAW fold, tuned ANSI-off (Hive-parity) session: Spark returns
      Hive's own answer — ``(long) Double.NaN == 0``.
    * RAW fold in DuckDB: the double→INT64 cast refuses in either
      case, so a raw-fold oracle can never hash-green on specials.
    * The finite()-wrapped fold (numeric.cents / cents_sql) treats
      the special like SQL NULL on BOTH engines — the uniform repair
      every adopted entry rides.
    A change on any arm re-opens the adjudication."""
    import math

    import duckdb

    from pyspark.sql import functions as F

    from hive_release_spark.functions.numeric import cents, cents_sql

    df = spark.createDataFrame(
        [(1.25,), (math.nan,), (math.inf,)], "x DOUBLE"
    )
    raw = F.sum(F.round(F.col("x") * 100).cast("long"))
    prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        with pytest.raises(Exception, match="CAST_OVERFLOW|cannot be cast"):
            df.agg(raw.alias("s")).collect()
        # the finite fold answers under ANSI: specials sum like NULL
        assert df.agg(F.sum(cents("x")).alias("s")).first()[0] == 125
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)
    # Hive-parity arm: the raw cast silently degrades exactly as Hive
    # does — (long) NaN == 0, (long) Inf == Long.MAX_VALUE, and the
    # BIGINT sum then WRAPS (125 + 0 + 2^63-1 overflows): silent
    # garbage, which is why the finite fold exists
    assert (
        df.agg(raw.alias("s")).first()[0]
        == (125 + (2**63 - 1) - 2**64)
    )
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE t AS SELECT unnest(["
        "1.25::DOUBLE, 'nan'::DOUBLE, 'inf'::DOUBLE]) AS x"
    )
    with pytest.raises(duckdb.Error):
        con.execute(
            "SELECT sum(CAST(round(x * 100) AS BIGINT)) FROM t"
        ).fetchall()
    assert con.execute(
        f"SELECT sum({cents_sql('x')}) FROM t"
    ).fetchone()[0] == 125


@pytest.fixture(scope="module")
def null_sf(tmp_path_factory):
    return make_all_null(str(tmp_path_factory.mktemp("sf_null")))


@pytest.fixture(scope="module")
def null_con(null_sf):
    return testing.duckdb_con(null_sf)


@pytest.mark.parametrize("name", REPAIRED_ALL_NULL)
def test_repaired_entry_matches_oracle_on_all_null(spark, null_sf, null_con, name):
    from hive_release_spark.queries import REGISTRY

    entry = REGISTRY[name]
    ok, why = testing.compare_query(
        spark, null_con, entry.fn, entry.oracle, null_sf
    )
    assert ok, f"{name} on all-NULL input: {why}"


def test_hierarchy_rank_all_null_delta_pinned(spark, null_sf, null_con):
    """ds_hierarchy_rank on the all-NULL axis is the grouping-sets
    family delta AGAIN, reached a different way: NULL join keys empty
    the inner joins, then ROLLUP over zero rows is zero-in-zero-out in
    Spark/Hive while DuckDB emits the () grand-total row. Pin both
    sides, same as the empty-axis pin above."""
    from hive_release_spark.queries import REGISTRY

    entry = REGISTRY["ds_hierarchy_rank"]
    assert entry.fn(spark, null_sf).count() == 0
    assert len(null_con.execute(entry.oracle).fetchall()) >= 1


def test_element_at_runtime_null_index_quirk(spark):
    """Spark quirk the pack_assets guard works around (r10 all-NULL
    axis): under ANSI mode — the DRIVER's default session config —
    element_at with a RUNTIME-null index returns the LAST element,
    while the constant-folded literal-NULL form returns NULL. (The
    project's tuned ANSI-off session returns NULL for both, so the
    quirk must be probed with ANSI explicitly ON; the guard is a
    no-op-equivalent under ANSI-off.) If the runtime assertion fails,
    Spark fixed the quirk — the guard in llm/multimodal.pack_assets
    becomes removable."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame([(None,)], "i BIGINT")
    arr = F.array(F.lit("a"), F.lit("b"), F.lit("c"))
    prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        runtime = df.select(
            F.element_at(arr, (F.col("i") % 3 + 1).cast("int")).alias("m")
        ).first()[0]
        folded = df.select(
            F.element_at(arr, F.lit(None).cast("int")).alias("m")
        ).first()[0]
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)
    assert folded is None
    assert runtime == "c", (
        f"element_at(arr, runtime-NULL) now returns {runtime!r} under "
        "ANSI — Spark changed the quirk; revisit the pack_assets "
        "modality guard"
    )


def test_struct_accumulator_null_field_quirk(spark):
    """Spark quirk the r11 fold repairs route around: inside
    F.aggregate, a SCALAR accumulator propagates NULL correctly, but a
    STRUCT accumulator whose lambda produces NULL for a double field
    silently reads the field back as 0.0 (the non-nullable UnsafeRow
    slot's raw bytes — same under ANSI on and off). NULL-propagation
    through a struct-state fold is therefore SILENT GARBAGE, never an
    error, so the recursion entries (timeseries_ewma/holt/croston/
    holt_winters) drop no-signal periods (NULL period sums) from the
    series BEFORE folding instead of relying on NULL to poison the
    state. If the struct assertion fails with NULL, Spark fixed the
    quirk — the series filters stay correct but stop being
    load-bearing."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame([([5, None, 3],)], "xs ARRAY<BIGINT>")
    scalar = df.select(
        F.aggregate(
            "xs", F.lit(0.0), lambda a, x: F.lit(0.2) * x + F.lit(0.8) * a
        ).alias("z")
    ).first()[0]
    assert scalar is None  # NULL element poisons a scalar fold, as SQL says
    struct = df.select(
        F.aggregate(
            "xs",
            F.named_struct(
                F.lit("z"), F.lit(0.0), F.lit("n"), F.lit(0).cast("long")
            ),
            lambda a, x: F.named_struct(
                F.lit("z"),
                F.lit(0.2) * x + F.lit(0.8) * a["z"],
                F.lit("n"),
                a["n"] + 1,
            ),
        ).alias("st")
    ).select("st.z", "st.n").first()
    assert struct[1] == 3
    assert struct[0] == 0.0, (
        f"struct-field fold now returns {struct[0]!r} — Spark changed "
        "the NULL-in-struct-accumulator behavior; the timeseries "
        "series filters are still correct but no longer load-bearing"
    )


def test_sequencefile_empty_roundtrip(spark, tmp_path):
    """A zero-row frame writes an empty table directory (Hive's own
    empty-table layout — saveAsSequenceFile's first-record type
    inference cannot run) and reads back as a zero-row typed frame."""
    from hive_release_spark.sources.formats import (
        read_sequencefile,
        write_sequencefile,
    )

    schema = "id INT, s STRING, arr ARRAY<INT>"
    df = spark.createDataFrame([], schema)
    p = str(tmp_path / "seq_zero")
    write_sequencefile(df, p)
    assert os.path.isdir(p)
    back = read_sequencefile(spark, p, schema)
    assert back.count() == 0
    assert [f.name for f in back.schema.fields] == ["id", "s", "arr"]
    # the empty branch is Hadoop-strict like saveAsSequenceFile: a
    # second write to the now-existing directory must fail, not
    # silently leave the previous run's data (ADVICE r9-1)
    with pytest.raises(FileExistsError, match="already exists"):
        write_sequencefile(df, p)


if __name__ == "__main__":
    if len(sys.argv) == 3 and sys.argv[1] == "--make-empty":
        print(make_empty(sys.argv[2]))
    elif len(sys.argv) == 3 and sys.argv[1] == "--make-single":
        print(make_single(sys.argv[2]))
    elif len(sys.argv) == 3 and sys.argv[1] == "--make-null":
        print(make_all_null(sys.argv[2]))
    elif len(sys.argv) == 3 and sys.argv[1] == "--make-nan":
        print(make_special_floats(sys.argv[2]))
    elif len(sys.argv) == 3 and sys.argv[1] == "--make-dup":
        print(make_duplicated(sys.argv[2]))
    elif len(sys.argv) == 3 and sys.argv[1] == "--make-uni":
        print(make_multibyte(sys.argv[2]))
    elif len(sys.argv) == 3 and sys.argv[1] == "--make-time":
        print(make_time_edges(sys.argv[2]))
    elif len(sys.argv) == 3 and sys.argv[1] == "--make-ctrl":
        print(make_control_chars(sys.argv[2]))
    elif len(sys.argv) == 3 and sys.argv[1] == "--make-json":
        print(make_json_edges(sys.argv[2]))
    elif len(sys.argv) == 3 and sys.argv[1] == "--make-vec":
        print(make_vector_specials(sys.argv[2]))


def test_mask_astral_letter_passthrough_quirk(spark):
    """Spark quirk found by the multibyte axis: mask() walks UTF-16
    CHARS, so an astral-plane LETTER (category Ll, e.g. MATHEMATICAL
    DOUBLE-STRUCK SMALL U) is two surrogate halves — neither
    upper/lower/digit — and passes through UNMASKED, while any
    codepoint-wise engine (DuckDB \\p{Ll}) masks it. A PII nuance:
    fancy-unicode "spoofed" text defeats Spark's mask. The fn_mask
    fixture/salt space stays BMP-only so the oracle gate is exact; if
    this assertion fails, Spark went codepoint-wise — align the
    oracle and drop the BMP restriction."""
    from pyspark.sql import functions as F

    row = (
        spark.createDataFrame([("a\U0001d566b",)], "s STRING")
        .select(F.mask("s").alias("m"))
        .first()
    )
    assert row.m == "x\U0001d566x", row.m


def test_mask_unicode_version_skew_quirk(spark):
    """r12 exhaustive-BMP sweep (ADVICE r11-2, sharpened past the
    advice): Spark's mask() matches the Lu/Ll/Nd CATEGORIES exactly —
    Other_Uppercase/Other_Lowercase codepoints (Roman numerals Ⅷ,
    circled letters Ⓐ/ⓐ, ª/º) are left unmasked by BOTH Spark and a
    \\p{Lu}/\\p{Ll} regex, so the advisor's isUpperCase-divergence
    hypothesis is refuted empirically. The ONLY BMP divergence is
    Unicode VERSION skew: exactly 12 codepoints assigned in Unicode
    14+ (Java 17 ships Unicode 13.0) pass through Spark's mask as
    unassigned while DuckDB's newer regex tables mask them. Both
    facts pinned here; the fn_mask fixture/salt space excludes the
    skew set. If the second assertion flips, the JVM's Unicode tables
    caught up — re-run the exhaustive sweep (git history r12) and
    update the fn_mask contract comment."""
    from pyspark.sql import functions as F

    # (1) Other_Uppercase/Lowercase: unmasked by Spark, same as the
    # \p-class oracle — agreement, not divergence.
    other_case = "ⅧªºⒶⓐ"  # Ⅷ ª º Ⓐ ⓐ
    # (2) Unicode-14+ additions: Spark (Unicode 13) passes them
    # through; a current-Unicode engine masks them.
    skew = "ⰯⱟꟀꟁꟐꟑꟓꟕꟖꟗꟘꟙ"
    rows = (
        spark.createDataFrame([(other_case,), (skew,)], "s STRING")
        .select("s", F.mask("s").alias("m"))
        .collect()
    )
    got = {r.s: r.m for r in rows}
    assert got[other_case] == other_case, got[other_case]
    assert got[skew] == skew, got[skew]

    import duckdb

    con = duckdb.connect()
    q = (
        r"SELECT regexp_replace(regexp_replace(regexp_replace(?,"
        r" '\p{Lu}', 'X', 'g'), '\p{Ll}', 'x', 'g'), '\p{Nd}', 'n', 'g')"
    )
    assert con.execute(q, [other_case]).fetchone()[0] == other_case
    # DuckDB's Unicode tables DO know the 12 — every char masks.
    assert set(con.execute(q, [skew]).fetchone()[0]) <= {"X", "x"}


def test_hive_render_sign_bit_nan():
    """Unit pin for functions/numeric.hive_render (ADVICE r10-2):
    DuckDB renders a sign-bit NaN (inf + -inf, -0.0 * inf) as '-nan',
    while Java/Spark render EVERY NaN as 'NaN' regardless of sign bit
    — the innermost replace must normalize the sign away before the
    other substitutions."""
    import duckdb

    from hive_release_spark.functions.numeric import hive_render

    con = duckdb.connect()
    cases = {
        "'inf'::DOUBLE + ('-inf'::DOUBLE)": "NaN",  # sign-bit NaN
        "'nan'::DOUBLE": "NaN",
        "'inf'::DOUBLE": "Infinity",
        "'-inf'::DOUBLE": "-Infinity",
        "1.5::DOUBLE": "1.5",
        "CAST(NULL AS DOUBLE)": None,
    }
    for expr, want in cases.items():
        got = con.execute(f"SELECT {hive_render(expr)}").fetchone()[0]
        assert got == want, f"{expr}: {got!r} != {want!r}"


def test_finite_helper_semantics(spark):
    """Unit pin for functions/numeric.finite — the single definition
    every adopted entry relies on: finite values pass through, NaN and
    +/-Inf become NULL, and NULL stays NULL (so wrapping an aggregate
    argument never disturbs genuine-NULL semantics)."""
    import math

    from hive_release_spark.functions.numeric import finite

    df = spark.createDataFrame(
        [(1.5,), (0.0,), (-2.5,), (math.nan,), (math.inf,), (-math.inf,), (None,)],
        "x DOUBLE",
    )
    got = [r[0] for r in df.select(finite("x").alias("f")).collect()]
    assert got == [1.5, 0.0, -2.5, None, None, None, None]
