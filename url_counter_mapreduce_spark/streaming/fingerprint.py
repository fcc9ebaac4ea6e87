"""Streaming perceptual fingerprinting: the image dHash, audio envelope,
and video keyframe stages applied to an unbounded documents stream — the
ingest-time shape of multimodal dedup (fingerprint every arriving asset
immediately; the banded pair join then runs as a periodic batch or a
stream-stream self-join over the fingerprint log). An ingest pipeline
wants all three modalities at the gate (VERDICT r10 gap 1), and they are
mechanically identical: one stateless mapInPandas per modality.

Each stage is one stateless call of the batch leg's per-row kernel
(multimodal.map_blobs / flatmap_blobs) whose per-id function fuses the
generator and the decoder — synthesize the container payload from the
doc_id, decode the real bytes, hash — so it runs append-mode with no
watermark or state store at source parallelism: the same zero-shuffle
plan as the batch twins (image_dhash / audio_fingerprint /
video_keyframe_dhash), with the same generators, decoders and output
columns. Exact oracles: the generator closed forms (the batch queries'
SQL verbatim; a bounded AvailableNow drain of a stateless map is the
batch result).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..operators.multimodal import (
    AUDIO_FP_SCHEMA,
    IMAGE_FP_SCHEMA,
    VIDEO_FP_SCHEMA,
    dhash_from_png,
    envelope_fp_from_wav,
    envelope_wav_bytes,
    flatmap_blobs,
    keyframe_dhashes_from_gif,
    map_blobs,
    pattern_gif_bytes,
    pattern_png_bytes,
)
from .url_count import _documents_stream
from . import memory_drain


def _doc_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The documents stream's doc_id column, round-robined to full
    parallelism before the decode stage. A single-file test stream
    arrives as ONE split, serializing the compute-dense Python decode
    (measured: the video drain at sf0.1 fell 14.7 s -> ~1 s once spread).
    Unlike the batch spread() this is unconditional — a streaming frame's
    partitioning can't be inspected pre-execution — but the exchange
    carries ONLY the doc_id column (8 bytes/row), noise next to per-row
    container decode at any scale."""
    ids = _documents_stream(spark, sf_dir).select("doc_id")
    return ids.repartition(ids.sparkSession.sparkContext.defaultParallelism)


def _image_fps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents stream → patterned-PNG payload → pixel decode → dHash:
    the image stage of stream_image_dhash and stream_ingest_dedup_check."""
    return map_blobs(
        _doc_ids(spark, sf_dir), "doc_id", lambda i: dhash_from_png(pattern_png_bytes(i)), IMAGE_FP_SCHEMA
    )


def stream_image_dhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents stream → patterned-PNG payload → pixel decode → dHash
    halves, drained via Trigger.AvailableNow into a memory sink."""
    return memory_drain(_image_fps(spark, sf_dir), "stream_image_dhash_sink", "append")


def stream_audio_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents stream → envelope-WAV payload → PCM decode → 63-bit
    loudness-envelope fingerprint halves — the ingest twin of the batch
    audio_fingerprint stage (same decode kernel, same schema)."""
    fps = map_blobs(
        _doc_ids(spark, sf_dir),
        "doc_id",
        lambda i: envelope_fp_from_wav(envelope_wav_bytes(i)),
        AUDIO_FP_SCHEMA,
    )
    return memory_drain(fps, "stream_audio_fingerprint_sink", "append")


def stream_video_keyframe_dhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents stream → multi-frame GIF payload → LZW keyframe decode →
    per-(doc, frame) dHash halves — the ingest twin of the batch
    video_keyframe_dhash stage. Frames fan rows out 4x but stay inside
    the same task (still stateless, still zero-shuffle)."""
    fps = flatmap_blobs(
        _doc_ids(spark, sf_dir),
        "doc_id",
        lambda i: keyframe_dhashes_from_gif(pattern_gif_bytes(i)),
        VIDEO_FP_SCHEMA,
    )
    return memory_drain(fps, "stream_video_keyframe_dhash_sink", "append")


def stream_ingest_dedup_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-time near-duplicate check: every arriving asset's dHash is
    banded (the 4x16-bit scheme) and joined against the STATIC corpus
    fingerprint index — "is this upload a near-dup of anything we already
    hold?" — the composition an ingest pipeline actually deploys
    (fingerprint stage → stream-static band join → per-asset verdict).

    Plan shape: the stream side is the stateless fingerprint map; the
    static side is the persisted corpus index (one banded frame, reused
    across micro-batches); the join is an equi-join on (band, key) so
    candidates stay bucket-proportional — never stream×corpus. The
    per-asset verdict is a complete-mode aggregation: band-hit count,
    best Hamming distance, and the deterministic argmin partner
    (min over the (hamming, partner) struct).

    Exact oracle: bounded AvailableNow drain of a stateless join +
    deterministic aggregation == the batch band-rule replay (the
    dedup_image_dhash_pairs oracle generalized to directed hits)."""
    from pyspark.sql import functions as F

    from ..operators.multimodal import HAMMING_T, hamming_bands, image_dhash

    def band_cols(fp: DataFrame, prefix: str) -> DataFrame:
        return hamming_bands(fp).select(
            F.col("doc_id").alias(f"{prefix}_id"),
            F.col("fp_hi").alias(f"{prefix}_hi"),
            F.col("fp_lo").alias(f"{prefix}_lo"),
            "band",
            "key",
        )

    incoming = band_cols(_image_fps(spark, sf_dir), "s")
    index = band_cols(image_dhash(spark, sf_dir), "c")
    hits = (
        incoming.join(index, ["band", "key"])
        .filter(F.col("s_id") != F.col("c_id"))
        .select(
            F.col("s_id").alias("doc_id"),
            F.col("c_id").alias("partner"),
            F.expr(
                "CAST(bit_count(s_hi ^ c_hi) + bit_count(s_lo ^ c_lo) AS BIGINT)"
            ).alias("hamming"),
        )
        .filter(F.col("hamming") <= HAMMING_T)
    )
    verdicts = hits.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_band_hits"),
        F.min(F.struct("hamming", "partner")).alias("best"),
    )
    out = verdicts.select(
        "doc_id",
        "n_band_hits",
        F.col("best.hamming").alias("best_hamming"),
        F.col("best.partner").alias("dup_of"),
    )
    return memory_drain(out, "stream_ingest_dedup_check_sink", "complete")
