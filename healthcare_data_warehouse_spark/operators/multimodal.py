"""Multimodal column plumbing: opaque binary payloads + typed metadata.

north_star scope. Images/audio/video ride through the engine as ``binary``
columns with metadata; decode/frame-sample run as Arrow-batched
``mapInPandas`` stages. Codec-library formats (JPEG/MP3/H264) are not
decodable in this container, so ``decode_media`` stays honestly gated and
the generic stages use deterministic byte-level fakes — but PCM-WAV and
PPM(P6) need only the stdlib + numpy, so for those two the decode layer
further down is GENUINE: RIFF/PPM parse, real samples/pixels, features
computed from the decoded signal.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

FEATURE_SCHEMA = "doc_id long, byte_len long, first_byte int"


def attach_binary(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Stand-in ingest: utf-8 bytes of the text as the opaque media payload
    (in production: spark.read.format('binaryFile') or a blob-store URI
    column resolved inside mapInPandas)."""
    return df.withColumn("payload", F.encode(F.col(text_col), "utf-8"))


def decode_media(payload: bytes) -> object:
    """Codec-library decoder hook (PIL/av/librosa) for JPEG/MP3/H264-class
    formats. Not available in this container. PCM-WAV and PPM(P6) do NOT
    go through this hook: decode_wav / decode_ppm below are genuine
    stdlib+numpy decoders (real samples/pixels, real features) and back
    the certified multimodal queries."""
    raise NotImplementedError(
        "codec-library media decode (JPEG/MP3/H264) requires image/audio libs "
        "not present in this environment; WAV and PPM payloads are genuinely "
        "decoded by decode_wav/decode_ppm in this module"
    )


def _feature_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Arrow-batched feature extraction. Each batch is a pandas frame of
    whole rows; output schema is FEATURE_SCHEMA. Vectorized over the batch
    — this is the shape a real decode/embed stage takes."""
    for pdf in batches:
        payloads = pdf["payload"]
        yield pd.DataFrame({
            "doc_id": pdf["doc_id"].astype("int64"),
            "byte_len": payloads.map(len).astype("int64"),
            "first_byte": payloads.map(lambda b: b[0] if len(b) else -1).astype("int32"),
        })


def extract_features(df: DataFrame) -> DataFrame:
    """mapInPandas feature stage over the binary payload column. The input
    is spread (pinned keyed repartition) first: a decode/feature stage is
    pure CPU, and a one-file ingest otherwise runs the whole Python stage
    in a single Arrow worker."""
    from .skew import spread

    return spread(df.select("doc_id", "payload"), "doc_id").mapInPandas(
        _feature_batches, FEATURE_SCHEMA
    )


# ---------------------------------------------------------------------------
# Frame-sample plumbing (decode layer stubbed; the Spark-side shapes —
# schema, batch iteration, explode of per-frame rows — are real)
# ---------------------------------------------------------------------------

FRAME_SCHEMA = "doc_id long, frame_idx int, frame_payload binary"


def sample_frames(df: DataFrame, every_n_bytes: int = 32) -> DataFrame:
    """Frame sampling for video-like payloads: one output row per sampled
    'frame' (fixed-stride chunks of the payload as the deterministic
    stand-in for keyframe extraction). Output cardinality > input — the
    explode-shaped mapInPandas pattern."""
    def _fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, frames = [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                for i, off in enumerate(range(0, len(payload), every_n_bytes)):
                    ids.append(int(doc_id))
                    idxs.append(i)
                    frames.append(bytes(payload[off:off + every_n_bytes]))
            yield pd.DataFrame({
                "doc_id": pd.Series(ids, dtype="int64"),
                "frame_idx": pd.Series(idxs, dtype="int32"),
                "frame_payload": frames if frames else pd.Series([], dtype=object),
            })
    from .skew import spread

    return spread(df.select("doc_id", "payload"), "doc_id").mapInPandas(
        _fn, FRAME_SCHEMA
    )


# ---------------------------------------------------------------------------
# REAL decode for container-friendly formats. JPEG/MP3/H264 need codec libs
# this environment lacks (decode_media above stays honestly gated), but
# PCM-WAV and PPM(P6) are stdlib/numpy-parseable — so for these two the
# decode stage is genuine: bytes in, samples/pixels out, features computed
# from the DECODED signal, all inside the same Arrow-batched mapInPandas
# shape a production codec stage uses.
# ---------------------------------------------------------------------------

AUDIO_FEATURE_SCHEMA = (
    "doc_id long, sample_rate int, n_channels int, n_samples long, "
    "duration_s double, rms double, zero_crossings long, peak int"
)
IMAGE_FEATURE_SCHEMA = (
    "doc_id long, width int, height int, mean_r double, mean_g double, "
    "mean_b double"
)


def synth_wav(doc_id: int, n_chars: int) -> bytes:
    """Deterministic PCM16 mono WAV (stand-in ingest for a real blob store:
    same bytes for the same row on every run/partitioning). Tone frequency
    and length derive from the row, so features vary across the corpus."""
    import io
    import wave as _wave

    import numpy as np

    sr = 8000
    n = 256 + (int(n_chars) * 7) % 1024
    freq = 110.0 + (int(doc_id) % 40) * 55.0
    t = np.arange(n, dtype=np.float64) / sr
    x = np.rint(np.sin(2 * np.pi * freq * t) * 12000.0).astype("<i2")
    buf = io.BytesIO()
    w = _wave.open(buf, "wb")
    w.setnchannels(1)
    w.setsampwidth(2)
    w.setframerate(sr)
    w.writeframes(x.tobytes())
    w.close()
    return buf.getvalue()


def decode_wav(payload: bytes):
    """REAL decode: RIFF/WAVE container parse via the stdlib wave module →
    (sample_rate, n_channels, int16 sample array)."""
    import io
    import wave as _wave

    import numpy as np

    w = _wave.open(io.BytesIO(payload), "rb")
    try:
        if w.getsampwidth() != 2:
            raise ValueError("only PCM16 supported")
        sr, nch, nframes = w.getframerate(), w.getnchannels(), w.getnframes()
        samples = np.frombuffer(w.readframes(nframes), dtype="<i2")
    finally:
        w.close()
    return sr, nch, samples


def attach_wav(df: DataFrame, id_col: str = "doc_id",
               len_col: str = "n_chars") -> DataFrame:
    """Ingest stand-in: a deterministic WAV payload per row, generated
    inside mapInPandas (in production this stage reads the blob store)."""
    from .skew import spread

    def _gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame({
                "doc_id": pdf[id_col].astype("int64"),
                "payload": [
                    synth_wav(int(i), int(n))
                    for i, n in zip(pdf[id_col], pdf[len_col])
                ],
            })

    return spread(df.select(id_col, len_col), id_col).mapInPandas(
        _gen, "doc_id long, payload binary"
    )


def audio_features(df: DataFrame) -> DataFrame:
    """mapInPandas over WAV payloads: genuine decode, then signal features
    from the decoded samples — RMS, zero-crossing count, peak amplitude.
    Same batch/partition shape as extract_features; only the inside of the
    loop differs, which is the point of the plumbing."""
    import numpy as np

    def _fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {k: [] for k in ("doc_id", "sample_rate", "n_channels",
                                    "n_samples", "duration_s", "rms",
                                    "zero_crossings", "peak")}
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                sr, nch, x = decode_wav(bytes(payload))
                xf = x.astype(np.float64)
                rows["doc_id"].append(int(doc_id))
                rows["sample_rate"].append(sr)
                rows["n_channels"].append(nch)
                rows["n_samples"].append(len(x))
                rows["duration_s"].append(len(x) / (sr * nch))
                rows["rms"].append(float(np.sqrt(np.mean(xf * xf))) if len(x) else 0.0)
                rows["zero_crossings"].append(
                    int(np.count_nonzero(np.signbit(xf[1:]) != np.signbit(xf[:-1]))))
                rows["peak"].append(int(np.max(np.abs(x))) if len(x) else 0)
            yield pd.DataFrame(rows)

    from .skew import spread

    return spread(df.select("doc_id", "payload"), "doc_id").mapInPandas(
        _fn, AUDIO_FEATURE_SCHEMA
    )


def synth_ppm(doc_id: int, width: int = 32, height: int = 24) -> bytes:
    """Deterministic P6 PPM: per-row gradient + phase pattern."""
    import numpy as np

    yy, xx = np.mgrid[0:height, 0:width]
    phase = int(doc_id) % 251
    r = (xx * 255 // max(1, width - 1)).astype(np.uint8)
    g = (yy * 255 // max(1, height - 1)).astype(np.uint8)
    b = ((xx + yy + phase) % 256).astype(np.uint8)
    img = np.stack([r, g, b], axis=-1)
    return b"P6\n%d %d\n255\n" % (width, height) + img.tobytes()


def decode_ppm(payload: bytes):
    """REAL decode: P6 PPM header parse + pixel plane → (H, W, 3) uint8."""
    import numpy as np

    if not payload.startswith(b"P6"):
        raise ValueError("not a P6 PPM payload")
    # header: magic, whitespace-separated width/height/maxval, then raster
    parts: list[bytes] = []
    i = 2
    while len(parts) < 3:
        while i < len(payload) and payload[i:i + 1].isspace():
            i += 1
        if payload[i:i + 1] == b"#":  # comment line
            while i < len(payload) and payload[i:i + 1] != b"\n":
                i += 1
            continue
        j = i
        while j < len(payload) and not payload[j:j + 1].isspace():
            j += 1
        parts.append(payload[i:j])
        i = j
    i += 1  # single whitespace after maxval
    w, h, maxval = int(parts[0]), int(parts[1]), int(parts[2])
    if maxval != 255:
        raise ValueError("only 8-bit PPM supported")
    raster = np.frombuffer(payload, dtype=np.uint8, count=w * h * 3, offset=i)
    return raster.reshape(h, w, 3)


def attach_ppm(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    from .skew import spread

    def _gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame({
                "doc_id": pdf[id_col].astype("int64"),
                "payload": [synth_ppm(int(i)) for i in pdf[id_col]],
            })

    return spread(df.select(id_col), id_col).mapInPandas(
        _gen, "doc_id long, payload binary"
    )


def image_features(df: DataFrame) -> DataFrame:
    """Genuine decode → per-channel means from the pixel planes."""
    import numpy as np

    def _fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {k: [] for k in ("doc_id", "width", "height",
                                    "mean_r", "mean_g", "mean_b")}
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                img = decode_ppm(bytes(payload))
                h, w = img.shape[:2]
                means = img.reshape(-1, 3).mean(axis=0, dtype=np.float64)
                rows["doc_id"].append(int(doc_id))
                rows["width"].append(w)
                rows["height"].append(h)
                rows["mean_r"].append(float(means[0]))
                rows["mean_g"].append(float(means[1]))
                rows["mean_b"].append(float(means[2]))
            yield pd.DataFrame(rows)

    from .skew import spread

    return spread(df.select("doc_id", "payload"), "doc_id").mapInPandas(
        _fn, IMAGE_FEATURE_SCHEMA
    )
