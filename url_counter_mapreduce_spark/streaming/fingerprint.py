"""Streaming perceptual fingerprinting: the image dHash, audio envelope,
and video keyframe stages applied to an unbounded documents stream — the
ingest-time shape of multimodal dedup (fingerprint every arriving asset
immediately; the banded pair join then runs as a periodic batch or a
stream-stream self-join over the fingerprint log). An ingest pipeline
wants all three modalities at the gate (VERDICT r10 gap 1), and they are
mechanically identical: one stateless mapInPandas per modality.

Each stage is a stateless mapInPandas projection (synthesize the
container payload, decode real bytes, hash), so it runs append-mode with
no watermark or state store at source parallelism — the same zero-
shuffle plan as the batch twins (image_dhash / audio_fingerprint /
video_keyframe_dhash), which share every decode helper. Exact oracles:
the generator closed forms (the batch queries' SQL verbatim; a bounded
AvailableNow drain of a stateless map is the batch result).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from ..operators.multimodal import (
    dhash_from_png,
    envelope_fp_from_wav,
    envelope_wav_bytes,
    keyframe_dhashes_from_gif,
    pattern_gif_bytes,
    pattern_png_bytes,
)
from .url_count import _documents_stream
from . import memory_drain


def _spread_stream(ids: DataFrame) -> DataFrame:
    """Round-robin the id stream to full parallelism before the decode
    stage. A single-file test stream arrives as ONE split, serializing
    the compute-dense Python decode (measured: the video drain at sf0.1
    fell 14.7 s -> ~1 s once spread). Unlike the batch spread() this is
    unconditional — a streaming frame's partitioning can't be inspected
    pre-execution — but the exchange carries ONLY the doc_id column
    (8 bytes/row), noise next to per-row container decode at any scale."""
    sc = ids.sparkSession.sparkContext
    return ids.repartition(sc.defaultParallelism)


def stream_image_dhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents stream → patterned-PNG payload → pixel decode → dHash
    halves, drained via Trigger.AvailableNow into a memory sink."""

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [
                dhash_from_png(pattern_png_bytes(int(i))) for i in pdf["doc_id"]
            ]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "width": [f[0] if f else None for f in feats],
                    "height": [f[1] if f else None for f in feats],
                    "fp_hi": [f[2] if f else None for f in feats],
                    "fp_lo": [f[3] if f else None for f in feats],
                }
            )

    fps = _spread_stream(_documents_stream(spark, sf_dir).select("doc_id")).mapInPandas(
        extract, schema="doc_id long, width int, height int, fp_hi long, fp_lo long"
    )
    return memory_drain(fps, "stream_image_dhash_sink", "append")


def stream_audio_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents stream → envelope-WAV payload → PCM decode → 63-bit
    loudness-envelope fingerprint halves — the ingest twin of the batch
    audio_fingerprint stage (same decode kernel, same schema)."""

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [
                envelope_fp_from_wav(envelope_wav_bytes(int(i)))
                for i in pdf["doc_id"]
            ]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "sample_rate": [f[0] if f else None for f in feats],
                    "n_samples": [f[1] if f else None for f in feats],
                    "fp_hi": [f[2] if f else None for f in feats],
                    "fp_lo": [f[3] if f else None for f in feats],
                }
            )

    fps = _spread_stream(_documents_stream(spark, sf_dir).select("doc_id")).mapInPandas(
        extract,
        schema="doc_id long, sample_rate int, n_samples long, fp_hi long, fp_lo long",
    )
    return memory_drain(fps, "stream_audio_fingerprint_sink", "append")


def stream_video_keyframe_dhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents stream → multi-frame GIF payload → LZW keyframe decode →
    per-(doc, frame) dHash halves — the ingest twin of the batch
    video_keyframe_dhash stage. Frames fan rows out 4x but stay inside
    the same task (still stateless, still zero-shuffle)."""

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, fids, his, los = [], [], [], []
            for doc_id in pdf["doc_id"]:
                frames = keyframe_dhashes_from_gif(pattern_gif_bytes(int(doc_id)))
                for fidx, hi, lo in frames or []:
                    ids.append(doc_id)
                    fids.append(fidx)
                    his.append(hi)
                    los.append(lo)
            yield pd.DataFrame(
                {"doc_id": ids, "frame_idx": fids, "fp_hi": his, "fp_lo": los}
            )

    fps = _spread_stream(_documents_stream(spark, sf_dir).select("doc_id")).mapInPandas(
        extract, schema="doc_id long, frame_idx int, fp_hi long, fp_lo long"
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

    from ..operators.multimodal import HAMMING_T, image_dhash

    def band_cols(df: DataFrame, prefix: str) -> DataFrame:
        return df.select(
            F.col("doc_id").alias(f"{prefix}_id"),
            F.col("fp_hi").alias(f"{prefix}_hi"),
            F.col("fp_lo").alias(f"{prefix}_lo"),
            F.explode(
                F.array(
                    F.struct(F.lit(0).alias("band"), F.expr("fp_lo & 65535").alias("key")),
                    F.struct(F.lit(1).alias("band"), F.expr("(fp_lo >> 16) & 65535").alias("key")),
                    F.struct(F.lit(2).alias("band"), F.expr("fp_hi & 65535").alias("key")),
                    F.struct(F.lit(3).alias("band"), F.expr("(fp_hi >> 16) & 65535").alias("key")),
                )
            ).alias("bk"),
        ).select(f"{prefix}_id", f"{prefix}_hi", f"{prefix}_lo", "bk.band", "bk.key")

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [
                dhash_from_png(pattern_png_bytes(int(i))) for i in pdf["doc_id"]
            ]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "fp_hi": [f[2] if f else None for f in feats],
                    "fp_lo": [f[3] if f else None for f in feats],
                }
            )

    incoming = band_cols(
        _spread_stream(_documents_stream(spark, sf_dir).select("doc_id"))
        .mapInPandas(extract, schema="doc_id long, fp_hi long, fp_lo long"),
        "s",
    )
    index = band_cols(
        image_dhash(spark, sf_dir).select("doc_id", "fp_hi", "fp_lo"), "c"
    )
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
