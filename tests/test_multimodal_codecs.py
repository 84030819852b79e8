"""Real-decode multimodal codecs: PCM-WAV and PPM(P6), stdlib-only.

These pin that the decode is genuine (bytes → samples/pixels) and that
the Spark stages' decoded features match direct numpy computation on the
same payloads."""

from __future__ import annotations

import numpy as np

from healthcare_data_warehouse_spark.operators.multimodal import (
    attach_ppm,
    attach_wav,
    audio_features,
    decode_ppm,
    decode_wav,
    image_features,
    synth_ppm,
    synth_wav,
)
from healthcare_data_warehouse_spark.sources.loaders import load_table

from conftest import SF_SMOKE


def test_wav_roundtrip_is_bit_exact():
    for doc_id, n_chars in [(0, 0), (3, 157), (41, 1023)]:
        payload = synth_wav(doc_id, n_chars)
        assert payload[:4] == b"RIFF" and payload[8:12] == b"WAVE"
        sr, nch, x = decode_wav(payload)
        assert (sr, nch) == (8000, 1)
        n = 256 + (n_chars * 7) % 1024
        freq = 110.0 + (doc_id % 40) * 55.0
        t = np.arange(n, dtype=np.float64) / sr
        want = np.rint(np.sin(2 * np.pi * freq * t) * 12000.0).astype("<i2")
        assert np.array_equal(x, want)  # decode returns the exact samples


def test_ppm_decode_pixels():
    p = synth_ppm(7, width=16, height=8)
    img = decode_ppm(p)
    assert img.shape == (8, 16, 3)
    # corner pixels follow the synthesis formula
    assert img[0, 0, 0] == 0 and img[0, 15, 0] == 255
    assert img[7, 0, 1] == 255 and img[0, 0, 2] == (0 + 0 + 7) % 256


def test_spark_audio_features_match_numpy(spark):
    docs = load_table(spark, SF_SMOKE, "documents").limit(50)
    got = {r["doc_id"]: r for r in audio_features(attach_wav(docs)).collect()}
    for r in docs.select("doc_id", "n_chars").collect():
        sr, nch, x = decode_wav(synth_wav(r["doc_id"], r["n_chars"]))
        xf = x.astype(np.float64)
        g = got[r["doc_id"]]
        assert g["n_samples"] == len(x) and g["sample_rate"] == sr
        assert g["rms"] == float(np.sqrt(np.mean(xf * xf)))
        assert g["zero_crossings"] == int(
            np.count_nonzero(np.signbit(xf[1:]) != np.signbit(xf[:-1])))
        assert g["peak"] == int(np.max(np.abs(x)))


def test_spark_image_pipeline_decodes_pixels(spark):
    docs = load_table(spark, SF_SMOKE, "documents").limit(20)
    imgs = attach_ppm(docs)
    feats = {r["doc_id"]: r for r in image_features(imgs).collect()}
    for doc_id, f in feats.items():
        img = decode_ppm(synth_ppm(doc_id))
        means = img.reshape(-1, 3).mean(axis=0, dtype=np.float64)
        assert (f["width"], f["height"]) == (32, 24)
        assert f["mean_r"] == float(means[0])
        assert f["mean_b"] == float(means[2])
