"""Multimodal column plumbing: image/audio/video as opaque binary columns
with typed metadata, processed via Arrow-batched mapInPandas.

Decode status (honest accounting):

- ``audio`` — REAL decode: RIFF/WAVE PCM parser (stdlib ``struct`` +
  numpy.frombuffer; 8/16/32-bit PCM, any channel count) → duration, sample
  rate, amplitude stats, zero-crossing rate.
- ``image`` — REAL decode: uncompressed 24-bpp BMP parser (BITMAPFILEHEADER
  + BITMAPINFOHEADER, bottom-up rows, 4-byte row padding) → dimensions,
  per-channel means, luma stats.
- ``video`` — REAL decode: YUV4MPEG2 (Y4M) parser (header tags + planar
  YUV 4:2:0 frames, stdlib-only) → dimensions, frame count, fps, luma
  stats, temporal motion proxy, duration. Y4M is the standard UNCOMPRESSED
  video interchange format (ffmpeg/x264 pipelines emit it), so this is a
  genuine demuxer for the no-codec-libs regime; compressed containers
  (mp4/webm) still need ffmpeg in production.

Malformed payloads decode to NULL features (the negative path), never throw.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from periodicity_spark.session import ensure_worker_imports, prune_zip_importers

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),  # image | audio | video
        T.StructField("payload", T.BinaryType(), True),
        T.StructField("meta", T.MapType(T.StringType(), T.StringType()), True),
    ]
)

N_FEATURES = 8


def wav_pcm(payload: bytes):
    """RIFF/WAVE PCM → (mono float samples ndarray, sample_rate), or None
    if the payload is not a well-formed PCM WAV. The shared parse behind
    decode_wav (summary features) and audio_features (spectral features)."""
    import struct

    import numpy as np

    try:
        if payload is None or len(payload) < 44:
            return None
        if payload[0:4] != b"RIFF" or payload[8:12] != b"WAVE":
            return None
        pos, fmt, data = 12, None, None
        while pos + 8 <= len(payload):
            cid = payload[pos:pos + 4]
            (csize,) = struct.unpack_from("<I", payload, pos + 4)
            body = payload[pos + 8:pos + 8 + csize]
            if cid == b"fmt " and len(body) >= 16:
                fmt = struct.unpack_from("<HHIIHH", body, 0)
            elif cid == b"data":
                data = body
            pos += 8 + csize + (csize & 1)  # chunks are word-aligned
        if fmt is None or data is None:
            return None
        audio_format, channels, sample_rate, _rate, _align, bits = fmt
        if audio_format != 1 or channels < 1 or sample_rate <= 0:
            return None  # PCM only
        if bits == 16:
            x = np.frombuffer(data, dtype="<i2").astype(float) / 32768.0
        elif bits == 8:
            x = (np.frombuffer(data, dtype="u1").astype(float) - 128.0) / 128.0
        elif bits == 32:
            x = np.frombuffer(data, dtype="<i4").astype(float) / 2147483648.0
        else:
            return None
        n_frames = len(x) // channels
        if n_frames == 0:
            return None
        x = x[: n_frames * channels].reshape(n_frames, channels).mean(axis=1)
        return x, int(sample_rate), int(channels)
    except Exception:
        return None


def decode_wav(payload: bytes) -> list[float] | None:
    """RIFF/WAVE PCM → [n_samples, sample_rate, channels, duration_s, rms,
    peak, zcr, mean] (amplitude normalized to full scale). None if the
    payload is not a well-formed PCM WAV."""
    import numpy as np

    parsed = wav_pcm(payload)
    if parsed is None:
        return None
    x, sample_rate, channels = parsed
    n_frames = len(x)
    zc = float(np.count_nonzero(np.diff(np.signbit(x)))) / max(n_frames - 1, 1)
    return [
        float(n_frames),
        float(sample_rate),
        float(channels),
        n_frames / sample_rate,
        float(np.sqrt(np.mean(x * x))),
        float(np.abs(x).max()),
        zc,
        float(x.mean()),
    ]


def bmp_pixels(payload: bytes):
    """Uncompressed 24-bpp BMP → float (H, W, 3) BGR array, top-down row
    order. None if not well-formed. Shared parser for decode_bmp and
    resize_images."""
    import struct

    import numpy as np

    try:
        if payload is None or len(payload) < 54 or payload[0:2] != b"BM":
            return None
        (pix_off,) = struct.unpack_from("<I", payload, 10)
        (hdr_size,) = struct.unpack_from("<I", payload, 14)
        if hdr_size < 40:
            return None
        width, height = struct.unpack_from("<ii", payload, 18)
        (bpp,) = struct.unpack_from("<H", payload, 28)
        (compression,) = struct.unpack_from("<I", payload, 30)
        if bpp != 24 or compression != 0 or width <= 0 or height == 0:
            return None
        flipped = height < 0  # negative height = top-down rows
        h = abs(height)
        stride = ((width * 3 + 3) // 4) * 4
        need = pix_off + stride * h
        if len(payload) < need:
            return None
        rows = np.frombuffer(payload, dtype="u1", count=stride * h, offset=pix_off)
        rows = rows.reshape(h, stride)[:, : width * 3].reshape(h, width, 3)
        if not flipped:
            rows = rows[::-1]  # bottom-up storage → top-down
        return rows.astype(float)
    except Exception:
        return None


def decode_bmp(payload: bytes) -> list[float] | None:
    """Uncompressed 24-bpp BMP → [width, height, mean_r, mean_g, mean_b,
    mean_luma, std_luma, aspect]. None if not a well-formed 24-bpp BMP."""
    try:
        bgr = bmp_pixels(payload)
        if bgr is None:
            return None
        h, width = bgr.shape[0], bgr.shape[1]
        b, g, r = bgr[..., 0], bgr[..., 1], bgr[..., 2]
        luma = 0.299 * r + 0.587 * g + 0.114 * b
        return [
            float(width),
            float(h),
            float(r.mean()),
            float(g.mean()),
            float(b.mean()),
            float(luma.mean()),
            float(luma.std()),
            float(width) / float(h),
        ]
    except Exception:
        return None


def y4m_lumas(payload: bytes):
    """YUV4MPEG2 → (luma frames float (F, H, W), fps). Parses the stream
    header (W/H/F tags; C tag accepted for any 4:2:0 variant, the Y4M
    default) and every FRAME's planar YUV420 payload. None if not
    well-formed. Shared parser for decode_y4m and sample_frames."""
    import numpy as np

    try:
        if payload is None or len(payload) < 10 or payload[0:9] != b"YUV4MPEG2":
            return None
        nl = payload.index(b"\n")
        width = height = 0
        fnum, fden = 0, 1
        for tag in payload[9:nl].split(b" "):
            if not tag:
                continue
            if tag[0:1] == b"W":
                width = int(tag[1:])
            elif tag[0:1] == b"H":
                height = int(tag[1:])
            elif tag[0:1] == b"F":
                num, den = tag[1:].split(b":")
                fnum, fden = int(num), int(den)
            elif tag[0:1] == b"C" and not tag[1:].startswith(b"420"):
                return None  # only 4:2:0 subsampling supported
        if width <= 0 or height <= 0 or fnum <= 0 or fden <= 0:
            return None
        ysize = width * height
        frame_size = ysize + 2 * ((width // 2) * (height // 2))
        pos = nl + 1
        lumas = []
        while pos < len(payload):
            fnl = payload.index(b"\n", pos)
            if payload[pos:pos + 5] != b"FRAME":
                return None
            body = payload[fnl + 1:fnl + 1 + frame_size]
            if len(body) < frame_size:
                return None
            lumas.append(
                np.frombuffer(body, dtype="u1", count=ysize)
                .astype(float)
                .reshape(height, width)
            )
            pos = fnl + 1 + frame_size
        if not lumas:
            return None
        return np.stack(lumas), fnum / fden
    except Exception:
        return None


def decode_y4m(payload: bytes) -> list[float] | None:
    """YUV4MPEG2 → [width, height, n_frames, fps, mean_luma, std_luma,
    mean_frame_diff, duration_s]; luma stats are over all Y-plane pixels,
    mean_frame_diff is the mean absolute per-pixel luma change between
    consecutive frames (a motion proxy; 0.0 for a single frame). None if
    the payload is not well-formed Y4M."""
    import numpy as np

    try:
        parsed = y4m_lumas(payload)
        if parsed is None:
            return None
        y, fps = parsed
        nfr, height, width = y.shape
        diff = float(np.abs(np.diff(y, axis=0)).mean()) if nfr > 1 else 0.0
        return [
            float(width),
            float(height),
            float(nfr),
            fps,
            float(y.mean()),
            float(y.std()),
            diff,
            nfr / fps,
        ]
    except Exception:
        return None


DECODERS: dict[str, Callable[[bytes], list[float] | None]] = {
    "image": decode_bmp,  # real
    "audio": decode_wav,  # real
    "video": decode_y4m,  # real (uncompressed Y4M)
}


def extract_features(media: DataFrame, n_features: int = N_FEATURES) -> DataFrame:
    """binary payload → feature vector, Arrow-batched via mapInPandas.
    → (media_id, kind, features array<double>). Partition-friendly: each
    batch decodes independently; no state, no driver round-trips; malformed
    payloads (and unknown kinds) yield NULL features."""
    ensure_worker_imports(media.sparkSession)
    nf = n_features

    def _batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        prune_zip_importers()
        import pandas as pd
        from periodicity_spark.pipeline.multimodal import DECODERS as reg

        for pdf in it:
            feats = []
            for kind, payload in zip(pdf["kind"], pdf["payload"]):
                dec = reg.get(kind)
                out = dec(payload) if dec is not None else None
                if out is not None and len(out) != nf:
                    out = (out + [0.0] * nf)[:nf]
                feats.append(out)
            yield pd.DataFrame(
                {"media_id": pdf["media_id"], "kind": pdf["kind"], "features": feats}
            )

    out_schema = T.StructType(
        [
            T.StructField("media_id", T.LongType(), False),
            T.StructField("kind", T.StringType(), False),
            T.StructField("features", T.ArrayType(T.DoubleType()), True),
        ]
    )
    return media.mapInPandas(_batches, out_schema)


def box_resize(a, oh: int, ow: int):
    """Exact area-average (box) resize of a 2-D float array to (oh, ow),
    via a summed-area table. Output cell (i, j) averages source rows
    [i·h//oh, (i+1)·h//oh) × cols [j·w//ow, (j+1)·w//ow); degenerate
    (upscaling) boxes fall back to the single nearest source pixel."""
    import numpy as np

    h, w = a.shape
    c = np.zeros((h + 1, w + 1))
    c[1:, 1:] = np.cumsum(np.cumsum(a, axis=0), axis=1)
    rb = (np.arange(oh + 1) * h) // oh
    cb = (np.arange(ow + 1) * w) // ow
    out = np.empty((oh, ow))
    for i in range(oh):
        r0 = rb[i]
        r1 = max(rb[i + 1], r0 + 1)
        for j in range(ow):
            c0 = cb[j]
            c1 = max(cb[j + 1], c0 + 1)
            out[i, j] = (c[r1, c1] - c[r0, c1] - c[r1, c0] + c[r0, c0]) / (
                (r1 - r0) * (c1 - c0)
            )
    return out


def resize_images(media: DataFrame, out_w: int = 8, out_h: int = 8) -> DataFrame:
    """Image resize stage of the training-data pipeline: decode 24-bpp BMP
    payloads and box-average the luma plane to a fixed (out_h × out_w)
    thumbnail. → one row per pixel: (media_id, width, height, py, px, luma)
    — exploded so downstream SQL/dedup can consume it without array
    columns. Arrow-batched mapInPandas, stateless per batch; non-image /
    malformed payloads are skipped. At scale this is a pure map stage."""
    ensure_worker_imports(media.sparkSession)
    ow, oh = int(out_w), int(out_h)

    def _batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        prune_zip_importers()
        import numpy as np
        import pandas as pd
        from periodicity_spark.pipeline.multimodal import bmp_pixels, box_resize

        for pdf in it:
            mid_o, w_o, h_o, py_o, px_o, lu_o = [], [], [], [], [], []
            for mid, kind, payload in zip(
                pdf["media_id"], pdf["kind"], pdf["payload"]
            ):
                if kind != "image":
                    continue
                bgr = bmp_pixels(payload)
                if bgr is None:
                    continue
                luma = 0.299 * bgr[..., 2] + 0.587 * bgr[..., 1] + 0.114 * bgr[..., 0]
                th = box_resize(luma, oh, ow)
                npx = oh * ow
                mid_o.extend([int(mid)] * npx)
                w_o.extend([luma.shape[1]] * npx)
                h_o.extend([luma.shape[0]] * npx)
                py_o.extend(np.repeat(np.arange(oh), ow).tolist())
                px_o.extend(np.tile(np.arange(ow), oh).tolist())
                lu_o.extend(th.ravel().tolist())
            yield pd.DataFrame(
                {
                    "media_id": pd.Series(mid_o, dtype="int64"),
                    "width": pd.Series(w_o, dtype="int32"),
                    "height": pd.Series(h_o, dtype="int32"),
                    "py": pd.Series(py_o, dtype="int32"),
                    "px": pd.Series(px_o, dtype="int32"),
                    "luma": pd.Series(lu_o, dtype="float64"),
                }
            )

    return media.mapInPandas(
        _batches,
        "media_id long, width int, height int, py int, px int, luma double",
    )


def sample_frames(media: DataFrame, stride: int = 2) -> DataFrame:
    """Video frame-sampling stage: decode YUV4MPEG2 payloads and emit every
    ``stride``-th frame's luma statistics — one row per sampled frame:
    (media_id, frame_index, t_sec, mean_luma, std_luma). The row fan-out
    (one input video → many frame rows) is the Spark-side shape a real
    frame-extraction pipeline has; swap the stat columns for decoded
    tensors at will. Non-video / malformed payloads are skipped."""
    ensure_worker_imports(media.sparkSession)
    st = max(int(stride), 1)

    def _batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        prune_zip_importers()
        import pandas as pd
        from periodicity_spark.pipeline.multimodal import y4m_lumas

        for pdf in it:
            rows = []
            for mid, kind, payload in zip(
                pdf["media_id"], pdf["kind"], pdf["payload"]
            ):
                if kind != "video":
                    continue
                parsed = y4m_lumas(payload)
                if parsed is None:
                    continue
                y, fps = parsed
                for k in range(0, y.shape[0], st):
                    f = y[k]
                    rows.append(
                        (int(mid), k, k / fps, float(f.mean()), float(f.std()))
                    )
            yield pd.DataFrame(
                rows,
                columns=["media_id", "frame_index", "t_sec", "mean_luma", "std_luma"],
            ).astype(
                {
                    "media_id": "int64",
                    "frame_index": "int32",
                    "t_sec": "float64",
                    "mean_luma": "float64",
                    "std_luma": "float64",
                }
            )

    return media.mapInPandas(
        _batches,
        "media_id long, frame_index int, t_sec double, mean_luma double, std_luma double",
    )


def synthesize_media(ids: DataFrame) -> DataFrame:
    """Deterministic media fixture generator: (media_id, kind) → MEDIA_SCHEMA
    rows with REAL format payloads — a PCM16 sine WAV for audio (frequency
    keyed by media_id), a solid-color 24-bpp BMP for image (color keyed by
    media_id), a YUV4MPEG2 clip for video (dims/frame count/per-frame luma
    keyed by media_id). Exists so decode tests and the contract query
    exercise genuine parsers without shipping binary fixtures."""
    ensure_worker_imports(ids.sparkSession)

    def _batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        prune_zip_importers()
        import pandas as pd
        from periodicity_spark.pipeline.multimodal import make_bmp, make_wav

        for pdf in it:
            rows = []
            for mid, kind in zip(pdf["media_id"], pdf["kind"]):
                mid = int(mid)
                if kind == "audio":
                    payload = make_wav(
                        freq_hz=200.0 + (mid % 20) * 50.0, n=256, sample_rate=8000
                    )
                    meta = {"codec": "pcm16"}
                elif kind == "image":
                    w, h = 4 + mid % 5, 3 + mid % 4
                    payload = make_bmp(w, h, rgb=(mid % 256, (mid * 7) % 256, (mid * 13) % 256))
                    meta = {"format": "bmp24"}
                else:
                    w, h = 8 + 2 * (mid % 4), 6 + 2 * (mid % 3)
                    nfr = 2 + mid % 3
                    payload = make_y4m(
                        w, h, n_frames=nfr,
                        luma=[(mid * 17 + k * 40) % 256 for k in range(nfr)],
                    )
                    meta = {"n_frames": str(nfr), "format": "y4m"}
                rows.append((mid, kind, payload, meta))
            yield pd.DataFrame(rows, columns=["media_id", "kind", "payload", "meta"])

    return ids.mapInPandas(_batches, MEDIA_SCHEMA)


def make_wav(freq_hz: float, n: int = 256, sample_rate: int = 8000, amp: float = 0.5) -> bytes:
    """Minimal valid PCM16 mono WAV of a sine tone (fixture helper)."""
    import math
    import struct

    samples = [
        int(amp * 32767 * math.sin(2 * math.pi * freq_hz * i / sample_rate))
        for i in range(n)
    ]
    data = struct.pack(f"<{n}h", *samples)
    fmt = struct.pack("<HHIIHH", 1, 1, sample_rate, sample_rate * 2, 2, 16)
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    body += b"data" + struct.pack("<I", len(data)) + data
    return b"RIFF" + struct.pack("<I", len(body)) + body


def make_bmp(width: int, height: int, rgb: tuple[int, int, int]) -> bytes:
    """Minimal valid solid-color 24-bpp bottom-up BMP (fixture helper)."""
    import struct

    stride = ((width * 3 + 3) // 4) * 4
    row = bytes([rgb[2], rgb[1], rgb[0]] * width) + b"\x00" * (stride - width * 3)
    pixels = row * height
    dib = struct.pack("<IiiHHIIiiII", 40, width, height, 1, 24, 0, len(pixels), 2835, 2835, 0, 0)
    header = b"BM" + struct.pack("<IHHI", 14 + len(dib) + len(pixels), 0, 0, 14 + len(dib))
    return header + dib + pixels


def make_y4m(
    width: int,
    height: int,
    n_frames: int = 2,
    fps: tuple[int, int] = (25, 1),
    luma: list[int] | None = None,
) -> bytes:
    """Minimal valid YUV4MPEG2 clip (fixture helper): planar 4:2:0 frames
    with a solid luma per frame (``luma[k]``, default ramp) and neutral
    chroma (128)."""
    if luma is None:
        luma = [(40 * k) % 256 for k in range(n_frames)]
    header = f"YUV4MPEG2 W{width} H{height} F{fps[0]}:{fps[1]} Ip A1:1 C420jpeg\n"
    csize = (width // 2) * (height // 2)
    out = [header.encode()]
    for k in range(n_frames):
        out.append(b"FRAME\n")
        out.append(bytes([luma[k] % 256]) * (width * height))
        out.append(b"\x80" * (2 * csize))
    return b"".join(out)


def frame_sample_plan(media: DataFrame, every_n: int = 10) -> DataFrame:
    """Video frame-sampling *plan*: one row per sampled frame index, derived
    from meta['n_frames'] — pure plan math (sequence+explode), decode stubbed.
    → (media_id, frame_index)."""
    n_frames = F.coalesce(
        F.element_at(F.col("meta"), "n_frames").cast("int"), F.lit(0)
    )
    return (
        media.filter(F.col("kind") == "video")
        .select(
            "media_id",
            F.explode(
                F.sequence(F.lit(0), F.greatest(n_frames - 1, F.lit(0)), F.lit(every_n))
            ).alias("frame_index"),
        )
    )


def make_bmp_from_array(arr) -> bytes:
    """24-bpp bottom-up BMP from an (h, w, 3) uint8 RGB array — the
    fixture builder for non-solid test images (gradients, near-dup pairs)."""
    import struct

    import numpy as np

    a = np.asarray(arr, dtype="uint8")
    h, w, _ = a.shape
    stride = ((w * 3 + 3) // 4) * 4
    rows = []
    for y in range(h - 1, -1, -1):  # bottom-up row order
        row = a[y][:, ::-1].tobytes()  # RGB → BGR
        rows.append(row + b"\x00" * (stride - w * 3))
    pixels = b"".join(rows)
    dib = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(pixels), 2835, 2835, 0, 0
    )
    header = b"BM" + struct.pack(
        "<IHHI", 14 + len(dib) + len(pixels), 0, 0, 14 + len(dib)
    )
    return header + dib + pixels


def audio_features(media: DataFrame) -> DataFrame:
    """Audio feature extraction for training-data curation: per-clip
    spectral features from the decoded PCM — → (media_id, n_samples, sr,
    rms, zcr, centroid_hz, rolloff85_hz, flatness).

    centroid = Σ f·|X(f)| / Σ|X(f)| (rfft magnitudes); rolloff85 = lowest
    frequency below which 85 % of spectral energy lies; flatness =
    geometric/arithmetic mean of the power spectrum (≈0 for pure tones,
    →1 for white noise) — the standard audio-quality/content signals.
    Arrow-batched mapInPandas, stateless per batch; non-audio or malformed
    payloads yield NULL features."""
    ensure_worker_imports(media.sparkSession)

    def _batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        prune_zip_importers()
        import numpy as np
        import pandas as pd
        from periodicity_spark.pipeline.multimodal import wav_pcm

        for pdf in it:
            out = {k: [] for k in
                   ("n_samples", "sr", "rms", "zcr", "centroid_hz",
                    "rolloff85_hz", "flatness")}
            for kind, payload in zip(pdf["kind"], pdf["payload"]):
                parsed = wav_pcm(payload) if kind == "audio" else None
                if parsed is None:
                    for k in out:
                        out[k].append(None)
                    continue
                x, sr, _ch = parsed
                n = len(x)
                # Hann window: a rectangular window's leakage sidelobes
                # drag the centroid of an off-bin tone hundreds of Hz up
                mag = np.abs(np.fft.rfft(x * np.hanning(n)))
                freqs = np.fft.rfftfreq(n, d=1.0 / sr)
                power = mag * mag
                # power weighting (not magnitude) further suppresses the
                # leakage tail — a pure tone's centroid lands on the tone
                psum = power.sum()
                centroid = float((freqs * power).sum() / psum) if psum > 0 else None
                if psum > 0:
                    roll_idx = int(np.searchsorted(np.cumsum(power), 0.85 * psum))
                    rolloff = float(freqs[min(roll_idx, len(freqs) - 1)])
                    nz = power[power > 0]
                    flat = float(
                        np.exp(np.mean(np.log(nz))) / (power.mean())
                    )
                else:
                    rolloff, flat = None, None
                out["n_samples"].append(n)
                out["sr"].append(sr)
                out["rms"].append(float(np.sqrt(np.mean(x * x))))
                out["zcr"].append(
                    float(np.count_nonzero(np.diff(np.signbit(x)))) / max(n - 1, 1)
                )
                out["centroid_hz"].append(centroid)
                out["rolloff85_hz"].append(rolloff)
                out["flatness"].append(flat)
            yield pd.DataFrame({"media_id": pdf["media_id"], **out})

    schema = (
        "media_id long, n_samples long, sr long, rms double, zcr double, "
        "centroid_hz double, rolloff85_hz double, flatness double"
    )
    return media.mapInPandas(_batches, schema)


def image_dhash(media: DataFrame) -> DataFrame:
    """Perceptual dHash for image dedup (the LAION-style near-dup key):
    decode the BMP luma, box-resize to 9×8, hash = the 64 left>right
    gradient bits packed into a BIGINT. Robust to uniform brightness and
    scale changes; one Arrow map stage → (media_id, dhash). Non-image /
    malformed payloads drop out (NULL-filtered)."""
    ensure_worker_imports(media.sparkSession)

    def _batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        prune_zip_importers()
        import numpy as np
        import pandas as pd
        from periodicity_spark.pipeline.multimodal import bmp_pixels, box_resize

        for pdf in it:
            ids, hs = [], []
            for mid, kind, payload in zip(
                pdf["media_id"], pdf["kind"], pdf["payload"]
            ):
                if kind != "image":
                    continue
                px = bmp_pixels(payload)
                if px is None:
                    continue
                luma = (
                    0.299 * px[:, :, 0] + 0.587 * px[:, :, 1] + 0.114 * px[:, :, 2]
                )
                g = box_resize(luma, 8, 9)
                bits = (g[:, :-1] > g[:, 1:]).ravel()
                h = 0
                for b in bits:
                    h = (h << 1) | int(b)
                # store as signed 64-bit (Spark LongType)
                if h >= 1 << 63:
                    h -= 1 << 64
                ids.append(mid)
                hs.append(h)
            yield pd.DataFrame({"media_id": ids, "dhash": pd.array(hs, dtype="int64")})

    return media.mapInPandas(_batches, "media_id long, dhash long")


def image_near_duplicates(
    media: DataFrame, max_hamming: int = 6, n_bands: int = 4
) -> DataFrame:
    """Image near-dup pairs by banded-Hamming join over the dHash — the
    same blocking strategy as text SimHash (pigeonhole: two hashes within
    ``max_hamming`` < n_bands bits share at least one exact 16-bit band):
    band equi-join generates candidates, exact Hamming (bit_count of XOR)
    verifies. → (m1, m2, hamming), m1 < m2. No all-pairs comparison."""
    h = image_dhash(media)
    width = 64 // n_bands
    mask = (1 << width) - 1
    bands = h.select(
        "media_id",
        "dhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.expr(f"(dhash >> {i * width}) & {mask}").alias("sig"),
                    )
                    for i in range(n_bands)
                ]
            )
        ).alias("b"),
    ).select("media_id", "dhash", "b.band", "b.sig")
    a = bands.select(
        F.col("media_id").alias("m1"), F.col("dhash").alias("h1"), "band", "sig"
    )
    b = bands.select(
        F.col("media_id").alias("m2"), F.col("dhash").alias("h2"), "band", "sig"
    )
    cand = (
        a.join(b, ["band", "sig"])
        .filter(F.col("m1") < F.col("m2"))
        .select("m1", "m2", "h1", "h2")
        .distinct()
    )
    ham = F.bit_count(F.expr("h1 ^ h2"))
    return (
        cand.withColumn("hamming", ham)
        .filter(F.col("hamming") <= int(max_hamming))
        .select("m1", "m2", "hamming")
    )


def sample_frames_by_motion(
    media: DataFrame, threshold: float = 8.0
) -> DataFrame:
    """Motion-adaptive frame sampling — the content-aware alternative to
    the fixed-stride sampler: emit frame 0 of every clip plus every frame
    whose mean absolute luma difference from the PREVIOUS EMITTED frame
    exceeds ``threshold`` (scene changes, motion bursts). Static spans
    collapse to their first frame, so the sampled-frame budget follows
    information content instead of duration. → one row per kept frame:
    (media_id, frame_index, t_sec, motion, mean_luma); frame 0 has NULL
    motion. Arrow map stage, stateless per clip, no shuffle."""
    ensure_worker_imports(media.sparkSession)
    th = float(threshold)

    def _batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        prune_zip_importers()
        import numpy as np
        import pandas as pd
        from periodicity_spark.pipeline.multimodal import y4m_lumas

        for pdf in it:
            rows = []
            for mid, kind, payload in zip(
                pdf["media_id"], pdf["kind"], pdf["payload"]
            ):
                if kind != "video":
                    continue
                parsed = y4m_lumas(payload)
                if parsed is None:
                    continue
                y, fps = parsed
                last = y[0]
                rows.append((int(mid), 0, 0.0, None, float(y[0].mean())))
                for k in range(1, y.shape[0]):
                    motion = float(np.abs(y[k] - last).mean())
                    if motion > th:
                        rows.append(
                            (int(mid), k, k / fps, motion, float(y[k].mean()))
                        )
                        last = y[k]
            yield pd.DataFrame(
                rows,
                columns=["media_id", "frame_index", "t_sec", "motion", "mean_luma"],
            ).astype(
                {
                    "media_id": "int64",
                    "frame_index": "int64",
                    "t_sec": "float64",
                    "motion": "float64",
                    "mean_luma": "float64",
                }
            )

    return media.mapInPandas(
        _batches,
        "media_id long, frame_index long, t_sec double, motion double, mean_luma double",
    )
