"""Multimodal binary-column operators: container round trip, feature
extraction vs pure recomputation, thumbnail pooling and frame
sampling."""
from __future__ import annotations

import numpy as np
import pytest

from console_log_parser_spark.operators import multimodal as mm


def test_roundtrip_all_kinds():
    for doc_id in (0, 1, 2, 7, 23, 999, 123456):
        blob = mm.encode_media(doc_id)
        hd = mm.decode_header(blob)
        w, h, c, nf, plen = mm.media_dims(doc_id)
        assert (hd["width"], hd["height"], hd["channels"],
                hd["n_frames"], hd["payload_len"]) == (w, h, c, nf, plen)
        assert hd["kind"] == doc_id % 3
        assert len(blob) == 16 + plen


def test_decode_header_rejects_garbage():
    with pytest.raises(ValueError):
        mm.decode_header(b"XXXX" + b"\x00" * 20)
    blob = mm.encode_media(3)
    with pytest.raises(ValueError):
        mm.decode_header(blob[:-1])  # truncated payload


def test_payload_deterministic():
    a = mm.payload_bytes(42, 100)
    b = mm.payload_bytes(42, 100)
    assert (a == b).all()
    assert a.dtype == np.uint8
    # different docs differ
    assert not (a == mm.payload_bytes(43, 100)).all()


@pytest.fixture(scope="module")
def media_df(spark):
    ids = spark.range(0, 60).withColumnRenamed("id", "doc_id")
    return mm.synth_media_stage(ids)


def test_decode_stage_matches_pure_python(spark, media_df):
    rows = {r["doc_id"]: r for r in mm.decode_stage(media_df).collect()}
    assert len(rows) == 60
    for doc_id in range(60):
        r = rows[doc_id]
        w, h, c, nf, plen = mm.media_dims(doc_id)
        assert (r["width"], r["height"], r["channels"], r["n_frames"],
                r["payload_len"], r["n_bytes"]) == (w, h, c, nf, plen,
                                                    plen + 16)
        raw = mm.payload_bytes(doc_id, plen)
        if doc_id % 3 == mm.KIND_AUDIO:
            arr = np.frombuffer(raw.tobytes(), dtype=">i2").astype(
                np.float64)
        else:
            arr = raw.astype(np.float64)
        assert r["mean_level"] == round(float(arr.mean()), 4)
        assert r["rms"] == round(float(np.sqrt((arr * arr).mean())), 4)


def test_thumbnail_pooling(spark, media_df):
    thumbs = {r["doc_id"]: r["thumb"]
              for r in mm.thumbnail_stage(media_df).collect()}
    # only images, all 16 cells
    assert set(thumbs) == {i for i in range(60) if i % 3 == 0}
    doc_id = 6
    w, h, c, _nf, plen = mm.media_dims(doc_id)
    img = mm.payload_bytes(doc_id, plen).reshape(h, w, c).astype(
        np.float64).mean(axis=2)
    ys = np.linspace(0, h, 5).astype(int)
    xs = np.linspace(0, w, 5).astype(int)
    expected = [round(float(img[ys[r]:ys[r + 1], xs[q]:xs[q + 1]].mean()),
                      4) for r in range(4) for q in range(4)]
    assert thumbs[doc_id] == expected


def test_frame_sampling(spark, media_df):
    frames = mm.frame_sample_stage(media_df).collect()
    by_doc: dict[int, list[int]] = {}
    for r in frames:
        by_doc.setdefault(r["doc_id"], []).append(r["frame_idx"])
    assert set(by_doc) == {i for i in range(60) if i % 3 == 1}
    for doc_id, idxs in by_doc.items():
        nf = 2 + doc_id % 6
        assert sorted(idxs) == list(range(0, nf, 2))
