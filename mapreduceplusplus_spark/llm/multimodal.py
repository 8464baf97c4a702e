"""Multimodal-column operators (SURVEY.md §2.B row ``multimodal_columns``
+ charter extensions ``multimodal_decode`` / resize / features /
frame-sample).

North-star contract: image/audio/video are opaque ``binary`` columns
with typed metadata travelling beside them.  Two tiers:

- ``multimodal_columns`` — nested-type plumbing on built-in Catalyst
  expressions: struct/array/map columns constructed, carried through a
  join + filter, and projected back out to flat scalars (what the
  DuckDB oracle can check).  Nested columns are first-class in
  Parquet + Tungsten; nothing here leaves the JVM.
- the decode family — the Python-side pixel path, implemented as a REAL
  dependency-free codec: payloads are PPM (P6) images — a genuinely
  self-describing public format (header ``P6\\n<w> <h>\\n<maxval>\\n``
  followed by the RGB raster) — parsed and processed with pure numpy.
  No PIL/ffmpeg needed: decode reads the header and computes true
  per-channel pixel statistics from the raster; resize is true
  nearest-neighbor resampling re-encoded to P6; feature-extract is a
  16-dim vector of real pixel statistics.  Because the driver fixtures
  carry text (not images), each registered query first runs the
  ``encode_ppm`` stage, which deterministically renders a document's
  bytes into a P6 payload — so the decode stages exercise the identical
  parse-real-bytes path they would on disk-resident images.  At 100 TB
  every stage is the textbook ``mapInPandas`` shape: per-batch Python,
  Arrow both ways, no shuffle, scales with input splits.  Swapping the
  codec body for PIL/ffmpeg changes none of the Spark plumbing.
"""

from __future__ import annotations

import re
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduceplusplus_spark.iterate import truncate
from mapreduceplusplus_spark.registry import query
from mapreduceplusplus_spark.session import ensure_utc
from mapreduceplusplus_spark.sources.tables import load_table


@query(
    "multimodal_columns",
    oracle="""
    SELECT d.doc_id,
           d.lang                         AS meta_lang,
           d.source                       AS meta_source,
           CAST(len(e.embedding) AS BIGINT) AS emb_dim,
           round(list_aggregate(list_transform(e.embedding[1:8], x -> CAST(x AS DOUBLE)),
                                'sum'), 3) + 0 AS head_sum,
           round(CAST(e.embedding[1] AS DOUBLE), 3) + 0 AS first_val
    FROM documents d
    JOIN embeddings e ON e.vec_id = d.doc_id
    WHERE d.n_chars > 100
    """,
)
def multimodal_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Struct/array/map columns carried through a join and a filter,
    then flattened: metadata struct (lang, source), a string→string
    map probed with element_at, and array ops (size, slice-sum,
    element_at) on the embedding.  The join keys align doc_id=vec_id
    (1:1 in the fixtures).

    NO broadcast hint: in a real multimodal pipeline the embeddings
    side is row-for-row as large as documents (a fact table, not a
    dim), so a forced broadcast would OOM executors at scale.  A plain
    equi-join lets Catalyst/AQE pick shuffled-hash or sort-merge — and
    still auto-broadcasts if runtime stats show one side is genuinely
    small."""
    ensure_utc(spark)
    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    enriched = (
        docs.withColumn("meta", F.struct("lang", "source"))
        .withColumn(
            "attrs",
            F.create_map(
                F.lit("lang"), F.col("lang"), F.lit("source"), F.col("source")
            ),
        )
        .join(emb, F.col("vec_id") == F.col("doc_id"))
        .where(F.col("n_chars") > 100)
    )
    head = F.transform(F.slice("embedding", 1, 8), lambda x: x.cast("double"))
    return enriched.select(
        "doc_id",
        F.col("meta.lang").alias("meta_lang"),
        F.element_at("attrs", "source").alias("meta_source"),
        F.size("embedding").cast("bigint").alias("emb_dim"),
        (F.round(F.aggregate(head, F.lit(0.0), lambda a, x: a + x), 3) + F.lit(0.0))
        .alias("head_sum"),
        (F.round(F.element_at("embedding", 1).cast("double"), 3) + F.lit(0.0))
        .alias("first_val"),
    )


# --------------------------------------------------------------------------
# PPM (P6) codec — pure numpy, no image libraries.
# --------------------------------------------------------------------------

#: fixed raster width of encoder-produced images (bytes render 3-per-
#: pixel, row-major, zero-padded to a full w×h raster)
PPM_W = 16

#: header parser: ``P6`` magic, width, height, maxval, one whitespace,
#: then the binary raster.  (Comments — ``#`` lines — are legal PPM but
#: never produced by our encoder; payloads carrying them simply decode
#: as ok=False, the same contract as any foreign/corrupt payload.)
_PPM_HEADER = re.compile(rb"^P6\s+(\d+)\s+(\d+)\s+(\d+)\s")


def ppm_encode(data: bytes, width: int = PPM_W) -> bytes:
    """Render raw bytes as a P6 image: 3 bytes per RGB pixel, row-major
    at fixed ``width``, zero-padded to the last full row.  Deterministic
    and self-describing — the decoder recovers dims from the header and
    the leading ``len(data)`` raster bytes are the input verbatim."""
    n_px = max(1, -(-len(data) // 3))
    h = max(1, -(-n_px // width))
    raster = data.ljust(width * h * 3, b"\x00")
    return b"P6\n%d %d\n255\n" % (width, h) + raster


def ppm_decode(payload: bytes) -> tuple[int, int, np.ndarray] | None:
    """Parse one P6 image → (width, height, h×w×3 uint8 array), or
    ``None`` when the payload is not a complete P6 image."""
    m = _PPM_HEADER.match(payload)
    if not m:
        return None
    w, h, maxval = (int(g) for g in m.groups())
    if maxval != 255 or w <= 0 or h <= 0:
        return None
    raster = np.frombuffer(payload, dtype=np.uint8, offset=m.end())
    if raster.size < w * h * 3:
        return None
    return w, h, raster[: w * h * 3].reshape(h, w, 3)


def _ppm_frames(payload: bytes) -> list[bytes]:
    """Split a document's bytes into its deterministic multi-frame
    'video': F = (len % 4) + 1 near-equal chunks, each encoded P6 and
    concatenated.  Purely a fixture-side container builder (real videos
    arrive as real containers); the SAMPLER below does real parsing."""
    n = len(payload)
    f = n % 4 + 1
    step = -(-n // f) if n else 1
    return [ppm_encode(payload[i * step : (i + 1) * step]) for i in range(f)]


def _encode_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        yield pd.DataFrame(
            {"doc_id": pdf["doc_id"], "payload": pdf["payload"].map(ppm_encode)}
        )


def encode_ppm(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """(doc_id, raw bytes) → (doc_id, P6 image payload).  Narrow Arrow
    ``mapInPandas`` — the fixture-to-image bridge each registered query
    runs so the decode stages parse genuine image bytes."""
    return df.select("doc_id", F.col(payload_col).alias("payload")).mapInPandas(
        _encode_batch, schema="doc_id bigint, payload binary"
    )


#: decoder output: real header fields + true per-channel pixel means
DECODE_SCHEMA = (
    "doc_id bigint, n_bytes bigint, format string, width int, height int, "
    "ok boolean, mean_r double, mean_g double, mean_b double"
)


def _decode_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Arrow-batched REAL decoder: parses the P6 header, validates the
    raster, and computes true per-channel means from the pixels.
    Foreign/corrupt payloads yield ok=False with null metadata instead
    of failing the task — at 100 TB a poisoned payload must never kill
    a 10k-row batch."""
    for pdf in batches:
        rows = {k: [] for k in (
            "doc_id", "n_bytes", "format", "width", "height",
            "ok", "mean_r", "mean_g", "mean_b",
        )}
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            rows["doc_id"].append(doc_id)
            rows["n_bytes"].append(len(payload))
            img = ppm_decode(payload)
            if img is None:
                rows["format"].append(None)
                rows["width"].append(None)
                rows["height"].append(None)
                rows["ok"].append(False)
                rows["mean_r"].append(None)
                rows["mean_g"].append(None)
                rows["mean_b"].append(None)
                continue
            w, h, px = img
            means = px.reshape(-1, 3).mean(axis=0)
            rows["format"].append("ppm")
            rows["width"].append(w)
            rows["height"].append(h)
            rows["ok"].append(True)
            rows["mean_r"].append(round(float(means[0]), 3))
            rows["mean_g"].append(round(float(means[1]), 3))
            rows["mean_b"].append(round(float(means[2]), 3))
        out = pd.DataFrame(rows)
        out["width"] = out["width"].astype("Int32")
        out["height"] = out["height"].astype("Int32")
        yield out


def decode_images(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """Public decode operator: (doc_id, payload binary) → typed
    metadata + real pixel statistics.  Narrow ``mapInPandas`` — no
    shuffle, one Python worker per input split, Arrow both ways."""
    return df.select("doc_id", F.col(payload_col).alias("payload")).mapInPandas(
        _decode_batch, schema=DECODE_SCHEMA
    )


@query("multimodal_decode")  # no SQL oracle: the decode is a Python
# mapInPandas stage; header fields + pixel means are pinned exactly by
# tests/test_llm_ops.py against an independent reimplementation
def multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column decode pipeline on the documents fixture: document
    bytes are rendered to real P6 images by ``encode_ppm``, then the
    REAL decoder parses headers and computes per-channel pixel means.
    One metadata row per document."""
    ensure_utc(spark)
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.col("text").cast("binary").alias("payload")
    )
    return decode_images(encode_ppm(docs))


#: frame-sampler output: one row PER FRAME — the 1→N batch shape a
#: video pipeline needs
FRAME_SCHEMA = (
    "doc_id bigint, frame_idx int, ts_ms bigint, frame_bytes bigint, "
    "width int, height int"
)


def _walk_frames(payload: bytes):
    """THE container frame-walk (single source of truth for every
    multi-frame consumer): repeatedly parse a P6 header within a
    64-byte window, enforce the validity contract (maxval 255,
    positive area — a corrupt pseudo-header stops the walk rather
    than fanning out forever), measure the frame, and yield
    ``(frame_idx, offset, header_end, w, h, size)``.  Trailing
    garbage / truncated final frames terminate cleanly (partial
    frames are not yielded)."""
    off, idx = 0, 0
    while off < len(payload):
        m = _PPM_HEADER.match(payload[off : off + 64])
        if not m:
            return
        w, h, maxval = (int(g) for g in m.groups())
        if maxval != 255 or w <= 0 or h <= 0:
            return
        size = m.end() + w * h * 3
        if off + size > len(payload):
            return
        yield idx, off, m.end(), w, h, size
        off += size
        idx += 1


def _sample_frames_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Arrow-batched REAL frame walker: a 'video' payload is a
    concatenation of P6 frames; each complete frame becomes one typed
    row — data-dependent 1→N fan-out inside one Arrow batch, no
    shuffle.  The walk itself is the shared ``_walk_frames``."""
    for pdf in batches:
        out = {k: [] for k in (
            "doc_id", "frame_idx", "ts_ms", "frame_bytes", "width", "height"
        )}
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            for idx, _off, _he, w, h, size in _walk_frames(payload):
                out["doc_id"].append(doc_id)
                out["frame_idx"].append(idx)
                out["ts_ms"].append(idx * 1000)
                out["frame_bytes"].append(size)
                out["width"].append(w)
                out["height"].append(h)
        yield pd.DataFrame(out)


def sample_frames(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """Public frame-sampling operator: (doc_id, multi-frame payload) →
    one typed row per contained frame.  Narrow ``mapInPandas`` (1→N
    inside the batch): at 100 TB this is the correct shape for frame
    extraction — parallel per input split, output volume scales with
    frames sampled, never a shuffle."""
    return df.select("doc_id", F.col(payload_col).alias("payload")).mapInPandas(
        _sample_frames_batch, schema=FRAME_SCHEMA
    )


def _frame_container_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "payload": pdf["payload"].map(lambda b: b"".join(_ppm_frames(b))),
            }
        )


@query("multimodal_frame_sample")  # no SQL oracle: Python mapInPandas
# stage; per-frame parse + fan-out pinned by tests/test_llm_ops.py
# against an independent reimplementation
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling pipeline on the documents fixture: document bytes
    become a real multi-frame P6 container, the REAL frame walker
    parses every frame header, and the fanned-out rows aggregate back
    per document: frame count, total frame bytes, first/last frame
    timestamps.  Exercises the full 1→N Arrow path plus a downstream
    shuffle over the fanned-out rows."""
    ensure_utc(spark)
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.col("text").cast("binary").alias("payload")
    )
    container = docs.mapInPandas(
        _frame_container_batch, schema="doc_id bigint, payload binary"
    )
    frames = sample_frames(container)
    return frames.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_frames"),
        F.sum("frame_bytes").cast("bigint").alias("total_frame_bytes"),
        F.min("ts_ms").cast("bigint").alias("first_ts_ms"),
        F.max("ts_ms").cast("bigint").alias("last_ts_ms"),
    )


RESIZE_SCHEMA = (
    "doc_id bigint, payload binary, width int, height int, orig_bytes bigint"
)
FEATURE_DIM = 16
FEATURE_SCHEMA = "doc_id bigint, feature array<float>"


def _resize_batch(target_w: int, target_h: int):
    """Factory for the Arrow-batched REAL resizer: decode P6 →
    nearest-neighbor resample to (target_w, target_h) via numpy index
    arithmetic → re-encode P6.  Undecodable payloads yield an all-black
    target-size frame (ok-shaped output keeps downstream stages total;
    the decode query is where corrupt payloads get flagged)."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        def resize(payload: bytes) -> bytes:
            img = ppm_decode(payload)
            if img is None:
                px = np.zeros((target_h, target_w, 3), dtype=np.uint8)
            else:
                w, h, src = img
                yi = (np.arange(target_h) * h) // target_h
                xi = (np.arange(target_w) * w) // target_w
                px = src[yi][:, xi]
            return b"P6\n%d %d\n255\n" % (target_w, target_h) + px.tobytes()

        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "payload": pdf["payload"].map(resize),
                    "width": target_w,
                    "height": target_h,
                    "orig_bytes": pdf["payload"].map(len),
                }
            )

    return fn


def resize_images(
    df: DataFrame, target_w: int = 224, target_h: int = 224, payload_col: str = "payload"
) -> DataFrame:
    """Public resize operator: (doc_id, P6 payload) → nearest-neighbor
    resized P6 payload + new dims.  Narrow ``mapInPandas``, binary
    in/binary out — decode→resample→re-encode per Arrow batch with no
    shuffle (the canonical pre-training image normalization stage)."""
    return df.select("doc_id", F.col(payload_col).alias("payload")).mapInPandas(
        _resize_batch(target_w, target_h), schema=RESIZE_SCHEMA
    )


def _feature_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Arrow-batched REAL feature extractor: decode P6 and emit a
    16-dim vector of true pixel statistics — per-channel means and
    standard deviations (scaled to [0,1]), an 8-bin luminance
    histogram (fractions), log10 pixel count, and aspect ratio — then
    L2-normalize.  A learned encoder (CLIP/ViT) would replace only this
    statistics body; the array<float> output column is exactly what the
    similarity-search operators consume downstream."""
    for pdf in batches:
        feats = []
        for p in pdf["payload"]:
            img = ppm_decode(p)
            if img is None:
                feats.append([0.0] * FEATURE_DIM)
                continue
            w, h, px = img
            flat = px.reshape(-1, 3).astype(np.float64)
            lum = flat @ np.array([0.299, 0.587, 0.114])
            hist = np.histogram(lum, bins=8, range=(0.0, 256.0))[0]
            v = np.concatenate(
                [
                    flat.mean(axis=0) / 255.0,
                    flat.std(axis=0) / 255.0,
                    hist / len(lum),
                    [np.log10(w * h), w / h],
                ]
            )
            nrm = float(np.linalg.norm(v))
            feats.append((v / nrm if nrm else v).astype(np.float32).tolist())
        yield pd.DataFrame({"doc_id": pdf["doc_id"], "feature": feats})


def extract_features(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """Public feature-extraction operator: (doc_id, P6 payload) →
    unit-norm ``array<float>`` of real pixel statistics.  Completes the
    multimodal pipeline: decode → resize → feature-extract feeds the
    embedding dedup/similarity operators in ``llm/dedup.py`` /
    ``llm/similarity.py``."""
    return df.select("doc_id", F.col(payload_col).alias("payload")).mapInPandas(
        _feature_batch, schema=FEATURE_SCHEMA
    )


@query("multimodal_resize")  # no SQL oracle: Python mapInPandas stage;
# nearest-neighbor pixel values pinned by tests/test_llm_ops.py
def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered form of ``resize_images`` on the documents fixture
    (bytes rendered to P6 by ``encode_ppm``): real nearest-neighbor
    resample to 224×224, surfaced as (doc_id, dims, payload size + md5)
    so the result is hashable and deterministic."""
    ensure_utc(spark)
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.col("text").cast("binary").alias("payload")
    )
    out = resize_images(encode_ppm(docs))
    return out.select(
        "doc_id",
        "width",
        "height",
        F.length("payload").cast("bigint").alias("payload_bytes"),
        F.md5("payload").alias("payload_fp"),
    )


@query("multimodal_features")  # no SQL oracle: Python mapInPandas stage;
# pixel-statistics vector pinned by tests/test_llm_ops.py against an
# independent reimplementation
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered form of ``extract_features``: P6 payload → unit-norm
    ``array<float>`` of real pixel statistics, surfaced as (doc_id,
    dim, norm, first value) — the column shape the similarity/dedup
    operators consume."""
    ensure_utc(spark)
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.col("text").cast("binary").alias("payload")
    )
    out = extract_features(encode_ppm(docs))
    norm = F.sqrt(F.aggregate("feature", F.lit(0.0), lambda a, x: a + x * x))
    return out.select(
        "doc_id",
        F.size("feature").cast("int").alias("dim"),
        F.round(norm, 3).alias("norm"),
        F.round(F.element_at("feature", 1), 3).alias("f0"),
    )


#: samples per analysis frame of the audio-energy operator
AUDIO_FRAME = 256

AUDIO_SCHEMA = (
    "doc_id bigint, n_samples bigint, n_frames bigint, "
    "total_energy bigint, max_frame_energy bigint"
)


def _audio_energy_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Arrow-batched REAL PCM analysis: the payload is interpreted as
    16-bit little-endian mono PCM (trailing odd byte dropped), split
    into {AUDIO_FRAME}-sample frames (last frame ragged), and each
    frame's energy Σx² is computed in exact int64 — the framing +
    per-frame-statistic shape every audio pipeline (VAD, loudness
    normalization, silence trimming) starts from.  Bounded exactly:
    |x| ≤ 2¹⁵ ⇒ frame energy ≤ 256·2³⁰ ≪ 2⁶³."""
    for pdf in batches:
        out = {k: [] for k in (
            "doc_id", "n_samples", "n_frames", "total_energy", "max_frame_energy"
        )}
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            n = len(payload) // 2
            samples = np.frombuffer(payload, dtype="<i2", count=n).astype(np.int64)
            energies = [
                int((samples[i : i + AUDIO_FRAME] ** 2).sum())
                for i in range(0, n, AUDIO_FRAME)
            ]
            out["doc_id"].append(doc_id)
            out["n_samples"].append(n)
            out["n_frames"].append(len(energies))
            out["total_energy"].append(sum(energies))
            out["max_frame_energy"].append(max(energies, default=0))
        yield pd.DataFrame(out)


def audio_frame_energy(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """Public audio operator: (doc_id, PCM16 payload) → per-document
    framing + energy statistics.  Narrow Arrow ``mapInPandas`` like the
    image/video stages — no shuffle, scales with input splits."""
    return df.select("doc_id", F.col(payload_col).alias("payload")).mapInPandas(
        _audio_energy_batch, schema=AUDIO_SCHEMA
    )


@query("multimodal_audio_energy")  # no SQL oracle: binary int16 PCM
# parsing isn't SQL-expressible; pinned by tests/test_llm_ops.py
# against an independent pure-Python reimplementation
def multimodal_audio_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio-modality operator on the documents fixture (text bytes
    stand in for a PCM16 payload — every 2 bytes ARE a genuine int16
    sample, so the parse is real): framing + exact-integer energy per
    document.  Completes the modality trio (image = PPM codec, video =
    multi-frame container walk, audio = PCM framing) with the same
    production Spark shape: opaque binary column + narrow Arrow
    decode."""
    ensure_utc(spark)
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.col("text").cast("binary").alias("payload")
    )
    return audio_frame_energy(docs)


SCENE_SCHEMA = "doc_id bigint, frame_idx int, sad_per_px bigint"

#: per-pixel mean absolute difference (0..255) at/above which two
#: consecutive frames are called a scene cut
SCENE_CUT_THRESHOLD = 30


def _scene_cut_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Arrow-batched REAL scene-change scorer: walk the multi-frame P6
    container (the shared ``_walk_frames`` — one validity contract for
    every consumer) decoding each raster, and score every consecutive
    frame pair by the mean per-pixel sum-of-absolute-differences (SAD)
    — the classic hard-cut detector.  All-integer (uint8 rasters diffed in
    int64, floor-divided by the pixel count), so the scores are exact
    and partitioning-independent.  Frames whose dimensions differ are
    scored against the overlapping top-left region (real cut detectors
    letterbox/resample; the overlap keeps this dependency-free and
    total).  Emits one row per frame TRANSITION (frame_idx = the later
    frame); single-frame payloads emit nothing."""
    for pdf in batches:
        out = {"doc_id": [], "frame_idx": [], "sad_per_px": []}
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            prev = None
            for idx, off, he, w, h, _size in _walk_frames(payload):
                cur = (
                    np.frombuffer(
                        payload, dtype=np.uint8, offset=off + he,
                        count=w * h * 3,
                    )
                    .reshape(h, w, 3)
                    .astype(np.int64)
                )
                if prev is not None:
                    hh = min(h, prev.shape[0])
                    ww = min(w, prev.shape[1])
                    a = cur[:hh, :ww, :]
                    b = prev[:hh, :ww, :]
                    sad = int(np.abs(a - b).sum()) // (hh * ww * 3)
                    out["doc_id"].append(doc_id)
                    out["frame_idx"].append(idx)
                    out["sad_per_px"].append(sad)
                prev = cur
        yield pd.DataFrame(out)


def detect_scene_cuts(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """Public scene-cut operator: (doc_id, multi-frame payload) → one
    integer SAD score per frame transition.  Narrow ``mapInPandas``
    (decode + diff inside the Arrow batch, no shuffle); at 100 TB the
    per-split cost is linear in raster bytes and the emitted rows are
    tiny — the aggregation after is the only exchange."""
    return df.select("doc_id", F.col(payload_col).alias("payload")).mapInPandas(
        _scene_cut_batch, schema=SCENE_SCHEMA
    )


@query("multimodal_scene_cuts")  # no SQL oracle: binary P6 decode +
# raster SAD is a Python mapInPandas stage; semantics pinned by
# tests/test_llm_ops.py against an independent numpy reimplementation
# and a synthetic container with one constructed hard cut
def multimodal_scene_cuts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scene-cut detection over the 'video' modality — the shot-
    boundary signal every video-training pipeline computes before
    frame dedup/sampling: per document, the multi-frame container is
    decoded and every consecutive frame pair scored by integer mean
    SAD; transitions at/above ``SCENE_CUT_THRESHOLD`` count as cuts.
    Completes the video story begun by ``multimodal_frame_sample``
    (structure walk) with actual cross-frame CONTENT analysis.

    Output per document: transition count, cut count, and the max/mean
    SAD (mean as an exact integer floor to stay hash-stable).  One
    Arrow stage + one hash agg — same scale shape as the other
    multimodal rows."""
    ensure_utc(spark)
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.col("text").cast("binary").alias("payload")
    )
    container = docs.mapInPandas(
        _frame_container_batch, schema="doc_id bigint, payload binary"
    )
    scores = detect_scene_cuts(container)
    return scores.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_transitions"),
        F.sum(
            (F.col("sad_per_px") >= SCENE_CUT_THRESHOLD).cast("bigint")
        ).alias("n_cuts"),
        F.max("sad_per_px").cast("bigint").alias("max_sad"),
        F.expr("CAST(sum(sad_per_px) div count(*) AS BIGINT)").alias(
            "mean_sad_floor"
        ),
    )


PHASH_SCHEMA = "doc_id bigint, phash bigint"

#: Hamming radius at/below which two 64-bit aHashes are near-duplicates
PHASH_HAMMING_MAX = 6
#: band layout for candidate generation: 8 bands × 8 bits.  Pigeonhole
#: needs bands > radius for losslessness: d ≤ 6 flipped bits can touch
#: at most 6 of 8 bands, so some band is always equal.  (4 × 16 would
#: only be lossless to d ≤ 3 — a distance-4 pair can differ in all 4.)
PHASH_BANDS = 8


def _ahash64(px: "np.ndarray") -> int:
    """64-bit average hash of an RGB raster: nearest-neighbor resample
    to 8×8 via integer index arithmetic, integer grayscale (the exact
    (r+g+b)//3), threshold at the integer mean — bit i (row-major MSB
    first) set iff cell i is at/above the mean.  All-integer, so the
    hash is platform- and partitioning-exact."""
    h, w = px.shape[0], px.shape[1]
    ys = (np.arange(8) * h) // 8
    xs = (np.arange(8) * w) // 8
    cells = px[ys][:, xs].astype(np.int64)
    gray = cells.sum(axis=2) // 3
    thresh = int(gray.sum()) // 64
    bits = (gray >= thresh).flatten()
    out = 0
    for b in bits:
        out = (out << 1) | int(b)
    # map to signed 64-bit so it round-trips through a Spark BIGINT
    return out - (1 << 64) if out >= (1 << 63) else out


def _phash_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        out = {"doc_id": [], "phash": []}
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            img = ppm_decode(payload)
            if img is None:
                continue  # undecodable ⇒ no hash row (decode query flags it)
            _, _, px = img
            out["doc_id"].append(doc_id)
            out["phash"].append(_ahash64(px))
        yield pd.DataFrame(out, dtype="object" if not out["doc_id"] else None)


def image_phash(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """Public perceptual-hash operator: (doc_id, payload) → 64-bit
    aHash.  Narrow ``mapInPandas``; 8 bytes per image downstream."""
    return df.select("doc_id", F.col(payload_col).alias("payload")).mapInPandas(
        _phash_batch, schema=PHASH_SCHEMA
    )


@query("multimodal_image_dedup_phash")  # no SQL oracle: the hash needs
# the binary P6 decode; semantics pinned by tests/test_llm_ops.py via an
# independent numpy aHash and a constructed near-identical image pair
def multimodal_image_dedup_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IMAGE near-duplicate detection by perceptual hash — the
    multimodal twin of ``dedup_simhash``: every decoded image gets a
    64-bit average-hash (8×8 integer grayscale thresholded at its own
    mean — invariant to uniform brightness scaling and to any resize
    the nearest-neighbor pipeline applies), candidates are generated
    by 8-BIT BAND EQUALITY (two hashes within Hamming distance 6 of
    each other must agree on at least one of 8 bands — pigeonhole
    needs MORE BANDS THAN THE RADIUS, so 8×8 is RECALL-LOSSLESS at
    d ≤ 7 where a 4×16 layout would silently miss distance-4 pairs
    that spread one flip per band), and candidates are verified with
    an exact JVM-side ``bit_count(a XOR b)``.

    Never all-pairs: the self-join is an equi-join on (band index,
    band value), the same structural-skew-capped shape as the SimHash
    and MinHash dedups; at 100 TB each image contributes 4 rows of
    8-byte keys and the verify runs only inside band buckets.

    Output per image: its hash, candidate-partner count, and verified
    near-dup count (0 for most of this text-derived corpus — the
    constructed-pair test is where recall is pinned)."""
    ensure_utc(spark)
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.col("text").cast("binary").alias("payload")
    )
    encoded = docs.mapInPandas(
        _encode_batch, schema="doc_id bigint, payload binary"
    )
    hashes = truncate(image_phash(encoded))
    bands = hashes.select(
        "doc_id",
        "phash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band_idx"),
                        F.shiftright("phash", 8 * i)
                        .bitwiseAND(F.lit(0xFF))
                        .alias("band_val"),
                    )
                    for i in range(PHASH_BANDS)
                ]
            )
        ).alias("band"),
    ).select("doc_id", "phash", "band.band_idx", "band.band_val")
    left = bands.alias("l")
    right = bands.alias("r")
    cand = (
        left.join(
            right,
            (F.col("l.band_idx") == F.col("r.band_idx"))
            & (F.col("l.band_val") == F.col("r.band_val"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(
            F.col("l.doc_id").alias("a"),
            F.col("r.doc_id").alias("b"),
            F.col("l.phash").alias("ha"),
            F.col("r.phash").alias("hb"),
        )
        .distinct()
    )
    verified = cand.withColumn(
        "hamming", F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
    )
    pair_stats = (
        verified.select(F.col("a").alias("doc_id"), "hamming")
        .unionAll(verified.select(F.col("b").alias("doc_id"), "hamming"))
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_candidates"),
            F.sum(
                (F.col("hamming") <= PHASH_HAMMING_MAX).cast("bigint")
            ).alias("n_near_dups"),
        )
    )
    return (
        hashes.join(pair_stats, "doc_id", "left")
        .select(
            "doc_id",
            "phash",
            F.coalesce("n_candidates", F.lit(0)).cast("bigint").alias(
                "n_candidates"
            ),
            F.coalesce("n_near_dups", F.lit(0)).cast("bigint").alias(
                "n_near_dups"
            ),
        )
    )
