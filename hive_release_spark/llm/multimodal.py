"""Multimodal column plumbing (SURVEY.md §2.L).

Images/audio/video are opaque ``binary`` payloads plus typed metadata —
the Hive analogue is BINARY columns (TOK_BINARY, GenericUDFToBinary;
SURVEY.md §1.2). The Spark-side plumbing (schema, partitioning, Arrow
batch shape through ``mapInPandas``) is real and tested; the actual codec
step is a deterministic fake because no image/audio libraries ship in
this container — swap ``_fake_decode`` for PIL/ffmpeg in production.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def pack_assets(df: DataFrame) -> DataFrame:
    """Build an asset table: payload BINARY + typed metadata columns.
    (Here the payload is the utf-8 text; in production it is the media
    bytes and the metadata comes from ingest.)"""
    payload = F.col("text").cast("binary")
    return df.select(
        F.col("doc_id").alias("asset_id"),
        payload.alias("payload"),
        F.octet_length(payload).cast("long").alias("n_bytes"),
        F.sha2(payload, 256).alias("checksum"),
        # explicit NULL-id guard: under ANSI mode (the driver's default
        # session) Spark's element_at with a RUNTIME-null index returns
        # the LAST element instead of NULL (the constant-folded
        # literal-NULL form returns NULL — observed on Spark 4.1, r10
        # all-NULL axis; ANSI-off sessions return NULL for both), so a
        # NULL asset id would get modality 'video' while every SQL
        # replay says NULL. Quirk pinned by
        # tests/test_empty_input.py::test_element_at_runtime_null_index_quirk
        F.when(
            F.col("doc_id").isNotNull(),
            F.element_at(
                F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
                (F.col("doc_id") % 3 + 1).cast("int"),
            ),
        ).alias("modality"),
    )


FEATURE_SCHEMA = (
    "asset_id BIGINT, modality STRING, width INT, height INT, "
    "n_frames INT, feat_norm DOUBLE"
)


def _fake_decode(payload: bytes) -> tuple[int, int, int, float]:
    """Deterministic stand-in for a real decoder (PIL / torchaudio /
    ffmpeg): derives stable pseudo-dimensions from the payload digest.
    Replace this function — and only this function — for real media."""
    if payload is None:
        # a NULL payload has nothing to decode: NULL features, row kept
        # (decode-failure rows are real at 100 TB and dropping them
        # would hide volume; a production decoder's exception handler
        # lands here too). r10 all-NULL axis.
        return None, None, None, None
    d = hashlib.sha256(payload).digest()
    width = 64 + d[0] % 192
    height = 64 + d[1] % 192
    n_frames = 1 + d[2] % 32
    feat_norm = int.from_bytes(d[3:7], "big") / 2**32
    return width, height, n_frames, feat_norm


def extract_features(assets: DataFrame) -> DataFrame:
    """Decode / feature-extract over Arrow batches (``mapInPandas`` — the
    TRANSFORM/ScriptOperator replacement, SURVEY.md §2.A). Each batch is a
    pandas DataFrame of (asset_id, payload, modality); the UDF returns the
    typed feature rows. Partitioning is preserved; no shuffle."""

    def decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            decoded = [_fake_decode(p) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"],
                    "modality": pdf["modality"],
                    "width": [d[0] for d in decoded],
                    "height": [d[1] for d in decoded],
                    "n_frames": [d[2] for d in decoded],
                    "feat_norm": [
                        None if d[3] is None else round(d[3], 6)
                        for d in decoded
                    ],
                }
            )

    return assets.select("asset_id", "payload", "modality").mapInPandas(
        decode_batches, schema=FEATURE_SCHEMA
    )


RESIZE_SCHEMA = (
    "asset_id BIGINT, out_w INT, out_h INT, resized BINARY, resized_checksum STRING"
)


def resize_images(assets: DataFrame, target_w: int = 224, target_h: int = 224) -> DataFrame:
    """Image resize over Arrow batches — the Spark-side plumbing (binary
    in, binary out, batch iteration, image-modality pruning pushed to the
    scan) is real; the codec is a deterministic digest stand-in (no PIL
    in this container). Replace ``_fake_resize`` — and only it — with
    ``PIL.Image.resize`` for real media; the schema, partitioning, and
    batch shape do not change."""

    def _fake_resize(payload: bytes) -> bytes:
        return hashlib.sha256(payload + f":{target_w}x{target_h}".encode()).digest()

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = [_fake_resize(p) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"],
                    "out_w": target_w,
                    "out_h": target_h,
                    "resized": out,
                    "resized_checksum": [
                        hashlib.sha256(o).hexdigest() for o in out
                    ],
                }
            )

    return (
        assets.filter(F.col("modality") == "image")
        .select("asset_id", "payload")
        .mapInPandas(batches, schema=RESIZE_SCHEMA)
    )


FRAME_SCHEMA = "asset_id BIGINT, frame_idx INT, frame_checksum STRING"


def sample_frames(assets: DataFrame, every_n: int = 4) -> DataFrame:
    """Video frame sampling over Arrow batches — the 1→N mapInPandas
    shape (one input asset yields ceil(n_frames / every_n) frame rows).
    n_frames comes from the deterministic fake decoder; the per-frame
    checksum digests (payload, frame_idx), exactly what a real
    ffmpeg-extract step would persist per frame. Swap the two digest
    lines for ffmpeg to go real."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows: dict[str, list] = {"asset_id": [], "frame_idx": [], "frame_checksum": []}
            for aid, p in zip(pdf["asset_id"], pdf["payload"]):
                n_frames = _fake_decode(p)[2]
                for i in range(0, n_frames, every_n):
                    rows["asset_id"].append(aid)
                    rows["frame_idx"].append(i)
                    rows["frame_checksum"].append(
                        hashlib.sha256(p + f":{i}".encode()).hexdigest()
                    )
            yield pd.DataFrame(rows)

    return (
        assets.filter(F.col("modality") == "video")
        .select("asset_id", "payload")
        .mapInPandas(batches, schema=FRAME_SCHEMA)
    )
