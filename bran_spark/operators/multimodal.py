"""Multimodal (image/table/media) column plumbing.

The interleaved input (BASELINE.json input_hint) carries media spans as
``kind``-tagged elements with a ``media_ref``. This module implements the
Spark-side plumbing a multimodal pipeline needs — typed binary columns,
partition-friendly layout, Arrow-batched feature extraction via
``mapInPandas`` — with the actual byte decoding STUBBED (no image/audio
libraries exist in this container):

- ``media_spans``: explode media elements out of ``spans`` (JVM-side).
- ``fetch_media_payload``: attach an opaque ``binary`` payload + typed
  metadata struct. The fetch is a deterministic fake (bytes derived from the
  ref) standing in for a blob-store read; shape/partitioning are real.
- ``extract_media_features``: Arrow-batched ``mapInPandas`` producing a
  fixed-dim float feature vector per media item from a deterministic
  digest-based fake — the seam where a real decoder (PIL/ffmpeg) plugs in.

Scale notes: media payloads dominate bytes at 100 TB — they stay OUT of the
text stages (nested-schema pruning: text stages never deserialize
``spans.media_ref`` payloads).
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

FEATURE_DIM = 8

MEDIA_FEATURE_SCHEMA = (
    "doc_id string, media_ref string, kind string, "
    "width int, height int, n_bytes int, feature array<float>"
)


def media_spans(docs: DataFrame) -> DataFrame:
    """(doc_id, kind, media_ref) for every media element — pure JVM ops."""
    return docs.select(
        "doc_id",
        F.explode(F.expr("filter(spans, s -> s.media_ref != '')")).alias("m"),
    ).select("doc_id", F.col("m.kind").alias("kind"), F.col("m.media_ref").alias("media_ref"))


def fetch_media_payload(media: DataFrame) -> DataFrame:
    """Attach an opaque binary payload + typed metadata.

    STUB: payload bytes are a deterministic function of media_ref (sha256
    stretched), standing in for the blob-store fetch; the schema
    (binary + struct metadata) is exactly what a real fetch returns.
    """
    payload = F.sha2(F.col("media_ref"), 256).cast("binary")
    return media.select(
        "doc_id",
        "media_ref",
        "kind",
        payload.alias("payload"),
        F.struct(
            F.length(payload).alias("n_bytes"),
            (F.pmod(F.crc32(F.col("media_ref")), F.lit(512)) + 64).cast("int").alias("width"),
            (F.pmod(F.crc32(F.reverse(F.col("media_ref"))), F.lit(512)) + 64).cast("int").alias("height"),
        ).alias("meta"),
    )


FRAME_FEATURE_SCHEMA = (
    "doc_id string, media_ref string, frame_idx int, t_offset_s double, "
    "feature array<float>"
)

AUDIO_WINDOW_SCHEMA = (
    "doc_id string, media_ref string, win_idx int, t_start_s double, "
    "t_end_s double, energy double"
)


def sample_video_frames(
    media_with_payload: DataFrame,
    fps_sample: int = 4,
    duration_s: int = 16,
    kind: str = "video",
) -> DataFrame:
    """Frame sampling for video media: 1 media row → N frame rows.

    The fan-out (frame indices) is pure JVM (``sequence`` + ``posexplode``),
    so Catalyst sees the cardinality and the shuffle planner can size
    partitions; only the per-frame decode crosses into Python, one Arrow
    batch at a time. Real frame extraction (ffmpeg seek+decode) is stubbed
    with a deterministic digest — the seam is the ``_frame_vec`` call.
    Duration is a metadata stand-in (no real container parsing here).
    """
    n_frames = fps_sample * duration_s
    if n_frames <= 0:
        # sequence(0, -1) would default to step -1 and emit TWO phantom
        # rows ([0, -1]) per media row instead of zero
        raise ValueError(f"fps_sample*duration_s must be > 0, got {n_frames}")

    frames = media_with_payload.where(F.col("kind") == kind).select(
        "doc_id",
        "media_ref",
        "payload",
        F.posexplode(
            F.expr(f"sequence(0, {n_frames - 1})")
        ).alias("frame_idx", "_f"),
    ).select(
        "doc_id",
        "media_ref",
        "payload",
        "frame_idx",
        (F.col("frame_idx") / F.lit(float(fps_sample))).alias("t_offset_s"),
    )

    def fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            feats = []
            for payload, idx in zip(pdf["payload"], pdf["frame_idx"]):
                digest = hashlib.sha256(
                    bytes(payload) + int(idx).to_bytes(4, "little")
                ).digest()
                feats.append(
                    (
                        np.frombuffer(digest[: FEATURE_DIM * 4], dtype=np.uint32)
                        .astype(np.float32)
                        / np.float32(2**32)
                    ).tolist()
                )
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media_ref": pdf["media_ref"],
                    "frame_idx": pdf["frame_idx"],
                    "t_offset_s": pdf["t_offset_s"],
                    "feature": feats,
                }
            )

    return frames.mapInPandas(fn, FRAME_FEATURE_SCHEMA)


def audio_window_energy(
    media_with_payload: DataFrame,
    window_s: float = 2.0,
    duration_s: int = 16,
    kind: str = "audio",
) -> DataFrame:
    """Fixed-window audio segmentation: 1 audio row → duration/window rows
    with a per-window energy scalar. Same shape as frame sampling — JVM
    fan-out, single Arrow decode pass; the PCM decode is the stubbed seam."""
    # full windows only — a partial tail (duration not a multiple of
    # window_s) is deliberately not emitted; callers wanting tail coverage
    # pass a divisor window
    n_win = int(duration_s / window_s)
    if n_win <= 0:
        raise ValueError(f"duration_s/window_s must be >= 1, got {n_win}")
    wins = media_with_payload.where(F.col("kind") == kind).select(
        "doc_id",
        "media_ref",
        "payload",
        F.posexplode(F.expr(f"sequence(0, {n_win - 1})")).alias("win_idx", "_w"),
    ).select(
        "doc_id",
        "media_ref",
        "payload",
        "win_idx",
        (F.col("win_idx") * F.lit(window_s)).alias("t_start_s"),
        ((F.col("win_idx") + 1) * F.lit(window_s)).alias("t_end_s"),
    )

    def fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            energy = [
                int.from_bytes(
                    hashlib.sha256(
                        bytes(p) + int(w).to_bytes(4, "little")
                    ).digest()[:4],
                    "little",
                )
                / 2**32
                for p, w in zip(pdf["payload"], pdf["win_idx"])
            ]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media_ref": pdf["media_ref"],
                    "win_idx": pdf["win_idx"],
                    "t_start_s": pdf["t_start_s"],
                    "t_end_s": pdf["t_end_s"],
                    "energy": energy,
                }
            )

    return wins.mapInPandas(fn, AUDIO_WINDOW_SCHEMA)


def extract_media_features(media_with_payload: DataFrame) -> DataFrame:
    """Arrow-batched feature extraction over media payloads.

    The UDF receives (doc_id, media_ref, kind, payload, meta) batches; the
    decode step is where image/audio decoding would run — stubbed here with
    a deterministic digest→float map so the Spark plumbing (schema, batch
    shape, partitioning) is real and testable without media libraries.
    """

    def fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            # column-wise over the Arrow batch: one comprehension touches the
            # payload column (the decode seam); the meta struct unpacks via
            # vectorized .str accessors on the dict column — no iterrows
            feats = [
                (
                    np.frombuffer(
                        hashlib.sha256(bytes(p)).digest()[: FEATURE_DIM * 4],
                        dtype=np.uint32,
                    ).astype(np.float32)
                    / np.float32(2**32)
                ).tolist()
                for p in pdf["payload"]
            ]
            meta = pdf["meta"]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media_ref": pdf["media_ref"],
                    "kind": pdf["kind"],
                    "width": meta.str["width"].astype("int32"),
                    "height": meta.str["height"].astype("int32"),
                    "n_bytes": meta.str["n_bytes"].astype("int32"),
                    "feature": feats,
                }
            )

    return media_with_payload.mapInPandas(fn, MEDIA_FEATURE_SCHEMA)


def caption_candidates(
    docs: DataFrame,
    spans_col: str = "spans",
    text_kinds: tuple = ("title", "body"),
) -> DataFrame:
    """Caption pairing over the interleaved span sequence: for every
    media span, the nearest text span BEFORE and AFTER it in document
    order — the (image, caption-candidate) pairs a CLIP-style
    multimodal training set is built from, straight off the
    BASELINE.json input shape (doc_id, spans[kind,text,media_ref,
    offset]).

    One posexplode + two per-document windows (last/first with
    ignorenulls over the position order). Documents bound the window
    partitions, so there is no skew surface beyond document length —
    the same per-doc argument as every span operator in the pipeline.
    Output: (doc_id, position, kind, media_ref, prev_text, next_text);
    a media span at the document edge has NULL on the missing side."""
    from pyspark.sql import Window

    ex = docs.select(
        "doc_id", F.posexplode(spans_col).alias("position", "s")
    ).select(
        "doc_id",
        F.col("position").cast("int").alias("position"),
        F.col("s.kind").alias("kind"),
        F.col("s.text").alias("text"),
        F.col("s.media_ref").alias("media_ref"),
    )
    txt = F.when(F.col("kind").isin(*text_kinds), F.col("text"))
    w = Window.partitionBy("doc_id").orderBy("position")
    ctx = ex.withColumn(
        "prev_text",
        F.last(txt, ignorenulls=True).over(
            w.rowsBetween(Window.unboundedPreceding, -1)
        ),
    ).withColumn(
        "next_text",
        F.first(txt, ignorenulls=True).over(
            w.rowsBetween(1, Window.unboundedFollowing)
        ),
    )
    return ctx.where(~F.col("kind").isin(*text_kinds)).select(
        "doc_id", "position", "kind", "media_ref", "prev_text", "next_text"
    )


def modality_mix_profile(interleaved: DataFrame) -> DataFrame:
    """Interleaving census over span documents — how multimodal the
    corpus actually is: docs bucketed by their media-span count, with
    average text-span count and text mass per bucket. This is the
    input to every multimodal batching decision (a vision token budget
    per image only matters if you know the image-per-doc distribution)
    and the drift check when a new source changes the mix.

    Pure JVM array math per doc (filter/size/aggregate over the spans
    struct array — no explode, no Python), then one tiny aggregate on
    the media-count bucket. Output: (n_media, n_docs, avg_text_spans,
    avg_text_chars), 6 dp, ordered by n_media."""
    media = F.filter(F.col("spans"), lambda s: s["media_ref"] != "")
    text = F.filter(F.col("spans"), lambda s: s["media_ref"] == "")
    chars = F.aggregate(
        text, F.lit(0), lambda a, s: a + F.length(s["text"])
    )
    per = interleaved.select(
        F.size(media).alias("n_media"),
        F.size(text).cast("long").alias("n_text"),
        chars.cast("long").alias("chars"),
    )
    return (
        per.groupBy("n_media")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.round(F.avg("n_text"), 6).alias("avg_text_spans"),
            F.round(F.avg("chars"), 6).alias("avg_text_chars"),
        )
        .orderBy("n_media")
    )
