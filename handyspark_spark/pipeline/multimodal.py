"""Multimodal column plumbing: image/audio/video as opaque binary + typed
metadata.

Decode is REAL for uncompressed formats: 24-bit BMP images and PCM-16
WAV audio have numpy-only codecs in this module (struct header parse +
frombuffer — no PIL/libsndfile needed), and ``image_stats`` is
oracle-checked end-to-end (encode -> binary column -> Arrow batch ->
decode -> aggregate, with DuckDB reproducing the numbers independently).
COMPRESSED formats (png/jpeg/mp3/mp4) are stubbed — this container has
no codecs — behind ``fake=True`` or a loud ``NotImplementedError``;
swapping the stub for PIL/ffmpeg changes one function body, not the
plan: the media schema, binary-column construction, Arrow batch shape
through ``mapInPandas``, and feature-column contracts are identical.
"""
from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_META = T.StructType([
    T.StructField("kind", T.StringType()),       # image | audio | video
    T.StructField("format", T.StringType()),     # png | wav | mp4 | ...
    T.StructField("width", T.IntegerType()),
    T.StructField("height", T.IntegerType()),
    T.StructField("n_frames", T.IntegerType()),
    T.StructField("sample_rate", T.IntegerType()),
])

MEDIA_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType()),
    T.StructField("data", T.BinaryType()),
    T.StructField("meta", MEDIA_META),
])


def attach_fake_media(df: DataFrame, id_col: str, payload_col: str,
                      kind: str = "image") -> DataFrame:
    """Build a deterministic binary media column from any string column —
    the test stand-in for real blobs (byte content = utf-8 payload)."""
    return df.select(
        F.col(id_col).cast("long").alias("media_id"),
        F.encode(F.col(payload_col), "utf-8").alias("data"),
        F.struct(
            F.lit(kind).alias("kind"), F.lit("raw").alias("format"),
            F.lit(32).alias("width"), F.lit(32).alias("height"),
            F.lit(1).alias("n_frames"), F.lit(16000).alias("sample_rate"),
        ).alias("meta"))


def codec_capabilities() -> dict:
    """Runtime codec detection: which OPTIONAL media capabilities this
    environment has. The multimodal API is identical either way — a
    codec-bearing environment lights up the real compressed-format
    paths with no code change, a bare one raises loudly naming the
    missing capability (contract pinned in tests/test_streaming.py).

    - ``pil``: Pillow importable -> real png/jpeg decode in ``_decode``
      and compressed-image resize in ``resize_images(fake=False)``.
    - ``ffmpeg``: ffmpeg binary on PATH -> real frame extraction in
      ``sample_frames(fake=False)``.
    BMP/WAV never appear here: their numpy codecs are built in."""
    caps = {"pil": False, "ffmpeg": False}
    try:
        from PIL import Image  # noqa: F401
        caps["pil"] = True
    except ImportError:
        pass
    import shutil
    caps["ffmpeg"] = shutil.which("ffmpeg") is not None
    return caps


def _decode(data: bytes, meta, fake: bool):
    """Decode dispatch. REAL for uncompressed formats (BMP images,
    PCM-16 WAV audio — numpy-only codecs below, no PIL/ffmpeg) and,
    when Pillow is installed (``codec_capabilities()['pil']``), for
    compressed images too; the deterministic fake (or a loud
    NotImplementedError naming the missing capability) remains for
    formats this environment has no codec for."""
    data = data or b""
    # strict sniff (magic + size field must agree with the blob) so a
    # text payload that merely STARTS with 'BM'/'RIFF' can't be
    # misrouted into a codec
    if (len(data) >= 54 and data[:2] == b"BM"
            and _struct.unpack_from("<I", data, 2)[0] == len(data)):
        return decode_bmp(bytes(data)).reshape(-1, 3).astype(np.float32)
    if (len(data) >= 44 and data[:4] == b"RIFF"
            and data[8:12] == b"WAVE"):
        samples, _ = decode_wav(bytes(data))
        return samples.astype(np.float32).reshape(-1, 1)
    if not fake:
        if codec_capabilities()["pil"]:
            import io

            from PIL import Image
            px = np.asarray(
                Image.open(io.BytesIO(data)).convert("RGB"))
            return px.reshape(-1, 3).astype(np.float32)
        raise NotImplementedError(
            "compressed-media decode needs Pillow "
            "(codec_capabilities()['pil'] is False in this "
            "environment); pass fake=True for the deterministic stub "
            "(BMP/WAV decode is always real)")
    h = hashlib.md5(data or b"").digest()
    rng = np.frombuffer((h * 8)[:64], dtype=np.uint8)
    return rng.reshape(8, 8).astype(np.float32)


def media_features(df: DataFrame, n_features: int = 8,
                   fake: bool = True) -> DataFrame:
    """Decode + feature-extract via ``mapInPandas`` (Arrow batches, one
    python worker pass, no shuffle). Output: media_id, byte_len, sha256,
    features array<float>."""
    out_schema = T.StructType([
        T.StructField("media_id", T.LongType()),
        T.StructField("byte_len", T.IntegerType()),
        T.StructField("sha256", T.StringType()),
        T.StructField("features", T.ArrayType(T.FloatType())),
    ])

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            feats, lens, hashes = [], [], []
            for data in pdf["data"]:
                b = bytes(data) if data is not None else b""
                lens.append(len(b))
                hashes.append(hashlib.sha256(b).hexdigest())
                px = _decode(b, None, fake)
                # pooled fake features: row means of the pixel block
                feats.append(px.mean(axis=1)[:n_features].tolist())
            yield pd.DataFrame({"media_id": pdf["media_id"],
                                "byte_len": lens, "sha256": hashes,
                                "features": feats})

    return df.select("media_id", "data").mapInPandas(batches, out_schema)


def resize_images(df: DataFrame, width: int, height: int,
                  fake: bool = True) -> DataFrame:
    """Resize over MEDIA_SCHEMA frames.

    ``fake=True``: plumbing only — meta is updated, bytes untouched.
    ``fake=False``: REAL pixel resize via one ``mapInPandas`` pass —
    BMP blobs decode/resize/re-encode with the built-in numpy codec
    (works in every environment); compressed formats go through Pillow
    when ``codec_capabilities()['pil']`` is True, else raise loudly
    naming the missing capability. Output schema is MEDIA_SCHEMA either
    way (contract pinned in tests)."""
    if not fake:
        has_pil = codec_capabilities()["pil"]

        def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in it:
                blobs, metas = [], []
                for data, meta in zip(pdf["data"], pdf["meta"]):
                    b = bytes(data) if data is not None else b""
                    if (len(b) >= 54 and b[:2] == b"BM"
                            and _struct.unpack_from(
                                "<I", b, 2)[0] == len(b)):
                        px = resize_nearest(decode_bmp(b), width, height)
                        blobs.append(encode_bmp(px))
                        fmt = "bmp"
                    elif has_pil:
                        import io

                        from PIL import Image
                        img = Image.open(io.BytesIO(b)).convert("RGB")
                        out = io.BytesIO()
                        img.resize((width, height)).save(out,
                                                         format="PNG")
                        blobs.append(out.getvalue())
                        fmt = "png"
                    else:
                        raise NotImplementedError(
                            "compressed-image resize needs Pillow "
                            "(codec_capabilities()['pil'] is False); "
                            "only BMP resizes without it")
                    m = dict(meta)
                    m.update(width=width, height=height, format=fmt)
                    metas.append(m)
                yield pd.DataFrame({"media_id": pdf["media_id"],
                                    "data": blobs, "meta": metas})

        return df.mapInPandas(batches, MEDIA_SCHEMA)
    return df.withColumn(
        "meta",
        F.struct(F.col("meta.kind").alias("kind"),
                 F.col("meta.format").alias("format"),
                 F.lit(width).alias("width"),
                 F.lit(height).alias("height"),
                 F.col("meta.n_frames").alias("n_frames"),
                 F.col("meta.sample_rate").alias("sample_rate")))


def sample_frames(df: DataFrame, every_n: int = 10,
                  fake: bool = True) -> DataFrame:
    """Frame sampling for video kind: emits (media_id, frame_idx,
    frame_bytes) — real plumbing via posexplode over a generated index.
    ``fake=False`` requires the ffmpeg binary
    (``codec_capabilities()['ffmpeg']``); without it the error names
    the missing capability instead of pretending."""
    if not fake:
        if not codec_capabilities()["ffmpeg"]:
            raise NotImplementedError(
                "real frame extraction needs the ffmpeg binary "
                "(codec_capabilities()['ffmpeg'] is False in this "
                "environment); pass fake=True for the index-plumbing "
                "stub")
        return _sample_frames_ffmpeg(df, every_n)
    idx = F.sequence(F.lit(0),
                     F.greatest(F.col("meta.n_frames") - 1, F.lit(0)),
                     F.lit(every_n))
    return (df.select("media_id", F.explode(idx).alias("frame_idx"),
                      F.col("data"))
            .withColumn("frame_bytes",
                        F.sha2(F.concat(
                            F.col("data"),
                            F.encode(F.col("frame_idx").cast("string"),
                                     "utf-8")), 256))
            .drop("data"))


def _sample_frames_ffmpeg(df: DataFrame, every_n: int) -> DataFrame:
    """Real frame extraction (ffmpeg on PATH): each video blob lands in
    a worker-local temp file, ffmpeg emits every ``every_n``-th frame as
    PNG bytes, one output row per frame. Same output schema as the fake
    path: (media_id, frame_idx, frame_bytes). Only reachable when
    ``codec_capabilities()['ffmpeg']`` — exercised in codec-bearing
    environments, capability-gated here."""
    out_schema = T.StructType([
        T.StructField("media_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("frame_bytes", T.BinaryType()),
    ])

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import glob
        import os
        import subprocess
        import tempfile
        for pdf in it:
            rows = {"media_id": [], "frame_idx": [], "frame_bytes": []}
            for mid, data in zip(pdf["media_id"], pdf["data"]):
                with tempfile.TemporaryDirectory() as d:
                    src = os.path.join(d, "in.bin")
                    with open(src, "wb") as f:
                        f.write(bytes(data) if data is not None else b"")
                    subprocess.run(
                        ["ffmpeg", "-v", "error", "-i", src,
                         "-vf", f"select=not(mod(n\\,{every_n}))",
                         "-vsync", "vfr",
                         os.path.join(d, "f_%06d.png")],
                        check=True)
                    for j, p in enumerate(
                            sorted(glob.glob(os.path.join(d, "f_*.png")))):
                        with open(p, "rb") as f:
                            rows["media_id"].append(mid)
                            rows["frame_idx"].append(j * every_n)
                            rows["frame_bytes"].append(f.read())
            yield pd.DataFrame(rows)

    return df.select("media_id", "data").mapInPandas(batches, out_schema)


# ---------------------------------------------------------------------------
# REAL codecs for uncompressed formats — numpy-only, no PIL/ffmpeg needed.
# Compressed formats (png/jpeg/mp3/mp4) remain behind the fake/raise gate
# above; BMP and PCM-WAV are plain structs + raw samples, so their decode
# is exact here and the multimodal pipeline is fully real end-to-end for
# them (encode <-> decode roundtrips pinned in tests).
# ---------------------------------------------------------------------------

import struct as _struct


def encode_bmp(px: "np.ndarray") -> bytes:
    """Minimal 24-bit uncompressed BMP writer (BITMAPINFOHEADER).
    ``px``: (H, W, 3) uint8 RGB."""
    h, w, _ = px.shape
    row = w * 3
    pad = (-row) % 4
    img_size = (row + pad) * h
    header = _struct.pack("<2sIHHI", b"BM", 54 + img_size, 0, 0, 54)
    info = _struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, img_size,
                        2835, 2835, 0, 0)
    # BMP stores rows bottom-up as BGR
    body = bytearray()
    for y in range(h - 1, -1, -1):
        body += px[y, :, ::-1].tobytes() + b"\x00" * pad
    return header + info + bytes(body)


def decode_bmp(b: bytes) -> "np.ndarray":
    """Decode a 24-bit uncompressed BMP to (H, W, 3) uint8 RGB — pure
    struct + numpy (no image library)."""
    if b[:2] != b"BM":
        raise ValueError("not a BMP stream")
    off = _struct.unpack_from("<I", b, 10)[0]
    hdr_sz, w, h_signed = _struct.unpack_from("<Iii", b, 14)
    planes, bpp, comp = _struct.unpack_from("<HHI", b, 26)
    if bpp != 24 or comp != 0:
        raise NotImplementedError(
            f"only 24-bit uncompressed BMP supported (bpp={bpp}, "
            f"compression={comp})")
    h = abs(h_signed)
    row = w * 3
    pad = (-row) % 4
    out = np.empty((h, w, 3), dtype=np.uint8)
    for i in range(h):
        start = off + i * (row + pad)
        line = np.frombuffer(b, dtype=np.uint8, count=row, offset=start)
        y = (h - 1 - i) if h_signed > 0 else i     # bottom-up unless h<0
        out[y] = line.reshape(w, 3)[:, ::-1]       # BGR -> RGB
    return out


def encode_wav(samples: "np.ndarray", sample_rate: int = 16000) -> bytes:
    """Minimal PCM-16 mono WAV writer. ``samples``: (n,) int16."""
    data = samples.astype("<i2").tobytes()
    hdr = _struct.pack(
        "<4sI4s4sIHHIIHH4sI", b"RIFF", 36 + len(data), b"WAVE",
        b"fmt ", 16, 1, 1, sample_rate, sample_rate * 2, 2, 16,
        b"data", len(data))
    return hdr + data


def decode_wav(b: bytes) -> tuple["np.ndarray", int]:
    """Decode PCM-16 mono WAV to (samples int16, sample_rate) — RIFF
    chunk walk, numpy frombuffer, no audio library."""
    if b[:4] != b"RIFF" or b[8:12] != b"WAVE":
        raise ValueError("not a WAV stream")
    pos, rate, n_ch, bps = 12, None, None, None
    while pos + 8 <= len(b):
        cid, sz = _struct.unpack_from("<4sI", b, pos)
        if cid == b"fmt ":
            fmt, n_ch, rate = _struct.unpack_from("<HHI", b, pos + 8)
            bps = _struct.unpack_from("<H", b, pos + 22)[0]
            if fmt != 1 or n_ch != 1 or bps != 16:
                raise NotImplementedError(
                    "only PCM-16 mono WAV supported")
        elif cid == b"data":
            if rate is None:
                raise ValueError("WAV data chunk before fmt chunk")
            samples = np.frombuffer(b, dtype="<i2", count=sz // 2,
                                    offset=pos + 8)
            return samples, rate
        pos += 8 + sz + (sz & 1)
    raise ValueError("WAV stream has no data chunk")


def resize_nearest(px: "np.ndarray", width: int, height: int) -> "np.ndarray":
    """Nearest-neighbor resize — index arithmetic only (resize never
    needed PIL; only DECODE of compressed formats does)."""
    h, w = px.shape[:2]
    yi = (np.arange(height) * (h / height)).astype(np.int64).clip(0, h - 1)
    xi = (np.arange(width) * (w / width)).astype(np.int64).clip(0, w - 1)
    return px[yi][:, xi]


def attach_bmp_media(df: DataFrame, id_col: str, payload_col: str,
                     width: int = 16, height: int = 16) -> DataFrame:
    """Build REAL decodable BMP blobs from any string column: pixels are
    a deterministic function of the payload bytes (tiled), encoded with
    the actual BMP writer. Arrow-batched projection."""
    out_schema = MEDIA_SCHEMA

    def gen(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        n = width * height * 3
        row = width * 3
        pad = (-row) % 4
        img_size = (row + pad) * height
        hdr = (_struct.pack("<2sIHHI", b"BM", 54 + img_size, 0, 0, 54)
               + _struct.pack("<IiiHHIIiiII", 40, width, height, 1, 24,
                              0, img_size, 2835, 2835, 0, 0))
        hdr_arr = np.frombuffer(hdr, dtype=np.uint8)
        for pdf in it:
            # r12 (guide §4.2): per-row work is only the variable-length
            # tiling (C-speed bytes multiply); the BMP assembly —
            # bottom-up row flip, BGR swap, row padding, constant header
            # — is ONE vectorized pass over an (m, h, w, 3) stack,
            # byte-identical to encode_bmp per row (pinned in tests).
            # empty payload tiles as zero bytes (the old per-row loop
            # crashed on it; no driver table carries empty text)
            tiled = b"".join(
                (r * (n // len(r) + 1))[:n]
                for r in (((s or "").encode() or b"\x00")
                          for s in pdf["_payload"]))
            m = len(pdf)
            px = np.frombuffer(tiled, dtype=np.uint8).reshape(
                m, height, width, 3)
            body = np.zeros((m, height, row + pad), dtype=np.uint8)
            body[:, :, :row] = px[:, ::-1, :, ::-1].reshape(m, height,
                                                            row)
            out = np.empty((m, 54 + img_size), dtype=np.uint8)
            out[:, :54] = hdr_arr
            out[:, 54:] = body.reshape(m, img_size)
            yield pd.DataFrame({
                "media_id": pdf["_id"],
                "data": [r.tobytes() for r in out],
                "meta": [{"kind": "image", "format": "bmp",
                          "width": width, "height": height,
                          "n_frames": 1, "sample_rate": None}] * m})

    src = df.select(F.col(id_col).cast("long").alias("_id"),
                    F.col(payload_col).alias("_payload"))
    return src.mapInPandas(gen, out_schema)


def image_stats(df: DataFrame, resize_to: tuple[int, int] | None = None
                ) -> DataFrame:
    """REAL image statistics over BMP media columns: decode each blob
    (numpy BMP reader), optional nearest-neighbor resize, then
    per-channel means + brightness. ``mapInPandas`` Arrow batches —
    the exact plan shape a PIL/turbojpeg decode would use; only the
    decoder body differs for compressed formats."""
    out_schema = T.StructType([
        T.StructField("media_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("mean_r", T.DoubleType()),
        T.StructField("mean_g", T.DoubleType()),
        T.StructField("mean_b", T.DoubleType()),
        T.StructField("brightness", T.DoubleType()),
    ])

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            datas = [bytes(d) for d in pdf["data"]]
            n = len(datas)
            res_w = np.empty(n, np.int32)
            res_h = np.empty(n, np.int32)
            res = np.empty((n, 3), np.float64)
            # r12 (guide §4.2): decode WHOLE same-shape groups with one
            # fancy-indexed numpy slice instead of a per-row python
            # loop — blobs sharing (byte_len, pixel offset, w, h) stack
            # into an (n_group, len) uint8 matrix; one gather of the
            # pixel region and one vectorized mean replace n_group
            # decode_bmp calls. Channel means are EXACT either way
            # (uint8 sums are exact in float64, division is the only
            # rounding), so group order cannot change a value. Rows
            # with any other shape/codec fall back to the per-row path.
            groups: dict = {}
            for i, b in enumerate(datas):
                key = None
                if resize_to is None and len(b) >= 54 and b[:2] == b"BM":
                    off = _struct.unpack_from("<I", b, 10)[0]
                    _, w, hs = _struct.unpack_from("<Iii", b, 14)
                    _, bpp, comp = _struct.unpack_from("<HHI", b, 26)
                    row = w * 3
                    pad = (-row) % 4
                    if (bpp == 24 and comp == 0
                            and off + abs(hs) * (row + pad) <= len(b)):
                        key = (len(b), off, w, hs)
                groups.setdefault(key, []).append(i)
            for key, idxs in groups.items():
                if key is None:
                    for i in idxs:
                        px = decode_bmp(datas[i])
                        if resize_to is not None:
                            px = resize_nearest(px, *resize_to)
                        m = px.reshape(-1, 3).mean(axis=0)
                        res_h[i], res_w[i] = px.shape[0], px.shape[1]
                        res[i] = m
                    continue
                length, off, w, hs = key
                h = abs(hs)
                row = w * 3
                pad = (-row) % 4
                mat = np.frombuffer(
                    b"".join(datas[i] for i in idxs),
                    dtype=np.uint8).reshape(len(idxs), length)
                sel = (off + np.arange(h)[:, None] * (row + pad)
                       + np.arange(row)[None, :]).ravel()
                px = mat[:, sel].reshape(len(idxs), h, w, 3)[..., ::-1]
                m = px.reshape(len(idxs), -1, 3).mean(axis=1)
                ii = np.asarray(idxs)
                res_w[ii] = w
                res_h[ii] = h
                res[ii] = m
            yield pd.DataFrame({
                "media_id": pdf["media_id"].to_numpy(),
                "width": res_w, "height": res_h,
                "mean_r": res[:, 0], "mean_g": res[:, 1],
                "mean_b": res[:, 2],
                "brightness": res.mean(axis=1)})

    return df.select("media_id", "data").mapInPandas(batches, out_schema)
