"""Multimodal columns: image/audio/video as opaque ``binary`` payloads
with typed metadata, processed by Arrow-vectorized stages.

Design per the training-data-pipeline brief: media bytes are an opaque
``binary`` column + a typed metadata struct; decode / feature-extract /
thumbnail / frame-sample run as ``mapInArrow``/``mapInPandas`` stages
(Arrow batch transfer, no per-row Python dispatch). The container
format here is a tiny deterministic one (16-byte header + raw payload)
so the *decode is real* — header fields are parsed from the actual
bytes, pixels/samples come off ``np.frombuffer``. Real-world codecs
(JPEG/PNG/WAV) are not decoded: the media queries read only this
container.

Container layout (big-endian):
    0:4   magic  b"MM01"
    4:6   width  uint16
    6:8   height uint16
    8:9   channels uint8
    9:10  media_kind uint8 (0=image, 1=video, 2=audio)
    10:12 n_frames uint16 (video; 1 for image, 0 for audio)
    12:16 payload_len uint32
    16:   payload  (image/video: uint8 pixels; audio: int16 samples)

Every field of the payload is a pure integer function of ``doc_id``
(closed forms below), so a SQL oracle can verify the full synthesize ->
decode round trip without being able to read bytes: if header packing,
parsing, or payload sizing broke anywhere, the aggregate comparison
fails. Pixel-level features are pinned by pytest against a pure-Python
recomputation instead (SQL cannot express the byte stream cheaply).

At 100 TB scale: payloads ride the same partitioning as their doc_id
keys; stages are batch-local (no shuffle); Arrow batch size bounds
executor memory (payload bytes per batch <= maxRecordsPerBatch *
max payload; ``session.get_spark`` caps maxRecordsPerBatch at 256).
"""
from __future__ import annotations

import struct
from collections.abc import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame

MAGIC = b"MM01"
KIND_IMAGE, KIND_VIDEO, KIND_AUDIO = 0, 1, 2
KIND_NAMES = {KIND_IMAGE: "image", KIND_VIDEO: "video", KIND_AUDIO: "audio"}

_M31 = 2_147_483_648


# --- closed-form metadata (shared contract with the SQL oracle) ----------

def media_kind(doc_id: int) -> int:
    return doc_id % 3


def media_dims(doc_id: int) -> tuple[int, int, int, int, int]:
    """(width, height, channels, n_frames, payload_len) for a doc_id."""
    k = media_kind(doc_id)
    if k == KIND_IMAGE:
        w = 8 + doc_id % 24
        h = 8 + (doc_id // 7) % 24
        c = 1 + doc_id % 3
        return w, h, c, 1, w * h * c
    if k == KIND_VIDEO:
        w = 8 + doc_id % 16
        h = 8 + (doc_id // 3) % 16
        nf = 2 + doc_id % 6
        return w, h, 1, nf, w * h * nf
    n_samples = 256 + (doc_id % 128) * 16
    return 0, 0, 1, 0, 2 * n_samples


def payload_bytes(doc_id: int, n: int) -> np.ndarray:
    """Deterministic pseudo-random payload (vectorized integer hash —
    no RNG object, a pure function of (doc_id, position))."""
    i = np.arange(n, dtype=np.int64)
    x = ((doc_id + 1) * 2654435761 + (i + 1) * 40503) % _M31
    x = (x * 1103515245 + 12345) % _M31
    return ((x >> 7) & 0xFF).astype(np.uint8)


def encode_media(doc_id: int) -> bytes:
    w, h, c, nf, plen = media_dims(doc_id)
    header = MAGIC + struct.pack(">HHBBHI", w, h, c, media_kind(doc_id),
                                 nf, plen)
    return header + payload_bytes(doc_id, plen).tobytes()


def decode_header(blob: bytes) -> dict:
    """Parse the typed metadata out of the real bytes."""
    if blob[:4] != MAGIC:
        raise ValueError("bad magic")
    w, h, c, kind, nf, plen = struct.unpack(">HHBBHI", blob[4:16])
    if len(blob) != 16 + plen:
        raise ValueError("length mismatch")
    return {"width": w, "height": h, "channels": c, "kind": kind,
            "n_frames": nf, "payload_len": plen}


# --- Spark stages ---------------------------------------------------------

MEDIA_SCHEMA_DDL = ("doc_id long, media_type string, media binary")

_MEDIA_ARROW = pa.schema([
    ("doc_id", pa.int64()),
    ("media_type", pa.string()),
    ("media", pa.binary()),
])

DECODED_SCHEMA_DDL = (
    "doc_id long, media_type string, width int, height int, "
    "channels int, n_frames int, payload_len int, n_bytes int, "
    "mean_level double, rms double"
)

THUMB_SCHEMA_DDL = "doc_id long, media_type string, thumb array<double>"
THUMB_GRID = 4  # thumbnails are THUMB_GRID x THUMB_GRID pooled cells

FRAME_SCHEMA_DDL = (
    "doc_id long, frame_idx int, frame_mean double"
)


def synth_media_stage(df: DataFrame) -> DataFrame:
    """(doc_id: long) -> (doc_id, media_type, media binary)."""

    def gen(it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in it:
            ids = batch.column("doc_id").to_pylist()
            blobs = [encode_media(i) for i in ids]
            yield pa.RecordBatch.from_arrays(
                [pa.array(ids, pa.int64()),
                 pa.array([KIND_NAMES[media_kind(i)] for i in ids],
                          pa.string()),
                 pa.array(blobs, pa.binary())],
                schema=_MEDIA_ARROW)

    return df.select("doc_id").mapInArrow(gen, MEDIA_SCHEMA_DDL)


def decode_stage(media: DataFrame) -> DataFrame:
    """Parse headers + payload features from the actual bytes.

    mean_level: mean byte value of pixels (image/video) or mean int16
    sample (audio); rms: root-mean-square of the same, rounded to 4dp
    (both engines of the pytest oracle recompute identically)."""

    def dec(it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in it:
            ids = batch.column("doc_id").to_pylist()
            types = batch.column("media_type").to_pylist()
            blobs = batch.column("media").to_pylist()
            rows = {k: [] for k in ("width", "height", "channels",
                                    "n_frames", "payload_len", "n_bytes",
                                    "mean_level", "rms")}
            for blob in blobs:
                hd = decode_header(blob)
                payload = blob[16:]
                if hd["kind"] == KIND_AUDIO:
                    arr = np.frombuffer(payload, dtype=">i2").astype(
                        np.float64)
                else:
                    arr = np.frombuffer(payload, dtype=np.uint8).astype(
                        np.float64)
                rows["width"].append(hd["width"])
                rows["height"].append(hd["height"])
                rows["channels"].append(hd["channels"])
                rows["n_frames"].append(hd["n_frames"])
                rows["payload_len"].append(hd["payload_len"])
                rows["n_bytes"].append(len(blob))
                rows["mean_level"].append(round(float(arr.mean()), 4))
                rows["rms"].append(
                    round(float(np.sqrt((arr * arr).mean())), 4))
            yield pa.RecordBatch.from_arrays(
                [pa.array(ids, pa.int64()),
                 pa.array(types, pa.string()),
                 pa.array(rows["width"], pa.int32()),
                 pa.array(rows["height"], pa.int32()),
                 pa.array(rows["channels"], pa.int32()),
                 pa.array(rows["n_frames"], pa.int32()),
                 pa.array(rows["payload_len"], pa.int32()),
                 pa.array(rows["n_bytes"], pa.int32()),
                 pa.array(rows["mean_level"], pa.float64()),
                 pa.array(rows["rms"], pa.float64())],
                names=["doc_id", "media_type", "width", "height",
                       "channels", "n_frames", "payload_len", "n_bytes",
                       "mean_level", "rms"])

    return media.mapInArrow(dec, DECODED_SCHEMA_DDL)


def thumbnail_stage(media: DataFrame) -> DataFrame:
    """Image resize analog: average-pool the (grayscale-averaged) image
    to a THUMB_GRID x THUMB_GRID thumbnail -> array<double> of
    THUMB_GRID**2 values."""

    def thumb(it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in it:
            ids, types, blobs = (batch.column("doc_id").to_pylist(),
                                 batch.column("media_type").to_pylist(),
                                 batch.column("media").to_pylist())
            out_ids, out_types, out_thumbs = [], [], []
            for did, mtype, blob in zip(ids, types, blobs):
                hd = decode_header(blob)
                if hd["kind"] != KIND_IMAGE:
                    continue
                w, h, c = hd["width"], hd["height"], hd["channels"]
                img = np.frombuffer(blob[16:], dtype=np.uint8).reshape(
                    h, w, c).astype(np.float64).mean(axis=2)
                ys = np.linspace(0, h, THUMB_GRID + 1).astype(int)
                xs = np.linspace(0, w, THUMB_GRID + 1).astype(int)
                t = [round(float(img[ys[r]:ys[r + 1],
                                     xs[q]:xs[q + 1]].mean()), 4)
                     for r in range(THUMB_GRID)
                     for q in range(THUMB_GRID)]
                out_ids.append(did)
                out_types.append(mtype)
                out_thumbs.append(t)
            yield pa.RecordBatch.from_arrays(
                [pa.array(out_ids, pa.int64()),
                 pa.array(out_types, pa.string()),
                 pa.array(out_thumbs, pa.list_(pa.float64()))],
                names=["doc_id", "media_type", "thumb"])

    return media.mapInArrow(thumb, THUMB_SCHEMA_DDL)


def frame_sample_stage(media: DataFrame) -> DataFrame:
    """Video frame sampling: keep every 2nd frame, emit one row per
    sampled frame with its mean level (explodes the video axis — the
    rows-per-doc amplification is bounded by n_frames/2)."""

    def frames(it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in it:
            ids = batch.column("doc_id").to_pylist()
            blobs = batch.column("media").to_pylist()
            o_ids, o_idx, o_mean = [], [], []
            for did, blob in zip(ids, blobs):
                hd = decode_header(blob)
                if hd["kind"] != KIND_VIDEO:
                    continue
                w, h, nf = hd["width"], hd["height"], hd["n_frames"]
                vid = np.frombuffer(blob[16:], dtype=np.uint8).reshape(
                    nf, h, w).astype(np.float64)
                for fi in range(0, nf, 2):
                    o_ids.append(did)
                    o_idx.append(fi)
                    o_mean.append(round(float(vid[fi].mean()), 4))
            yield pa.RecordBatch.from_arrays(
                [pa.array(o_ids, pa.int64()),
                 pa.array(o_idx, pa.int32()),
                 pa.array(o_mean, pa.float64())],
                names=["doc_id", "frame_idx", "frame_mean"])

    return media.mapInArrow(frames, FRAME_SCHEMA_DDL)


# --- SQL oracle for the metadata round trip -------------------------------

def oracle_metadata_sql() -> str:
    """DuckDB: the closed-form metadata aggregate the Spark synthesize->
    decode round trip must reproduce from actual bytes."""
    return """
        SELECT media_type, count(*) AS n,
               CAST(sum(width) AS BIGINT) AS sum_w,
               CAST(sum(height) AS BIGINT) AS sum_h,
               CAST(sum(channels) AS BIGINT) AS sum_c,
               CAST(sum(n_frames) AS BIGINT) AS sum_frames,
               CAST(sum(payload_len) AS BIGINT) AS sum_payload,
               CAST(sum(payload_len + 16) AS BIGINT) AS sum_bytes
        FROM (
            SELECT CASE doc_id % 3 WHEN 0 THEN 'image'
                                   WHEN 1 THEN 'video'
                                   ELSE 'audio' END AS media_type,
                   CASE doc_id % 3
                       WHEN 0 THEN 8 + doc_id % 24
                       WHEN 1 THEN 8 + doc_id % 16
                       ELSE 0 END AS width,
                   CASE doc_id % 3
                       WHEN 0 THEN 8 + (doc_id // 7) % 24
                       WHEN 1 THEN 8 + (doc_id // 3) % 16
                       ELSE 0 END AS height,
                   CASE doc_id % 3
                       WHEN 0 THEN 1 + doc_id % 3
                       ELSE 1 END AS channels,
                   CASE doc_id % 3 WHEN 0 THEN 1
                                   WHEN 1 THEN 2 + doc_id % 6
                                   ELSE 0 END AS n_frames,
                   CASE doc_id % 3
                       WHEN 0 THEN (8 + doc_id % 24)
                                   * (8 + (doc_id // 7) % 24)
                                   * (1 + doc_id % 3)
                       WHEN 1 THEN (8 + doc_id % 16)
                                   * (8 + (doc_id // 3) % 16)
                                   * (2 + doc_id % 6)
                       ELSE 2 * (256 + (doc_id % 128) * 16)
                   END AS payload_len
            FROM documents)
        GROUP BY media_type
    """
