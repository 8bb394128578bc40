"""Multimodal column handling: images/audio/video as opaque ``binary``
columns with typed metadata structs.

The Spark-side plumbing (schemas, Arrow-batched mapInPandas operators, batch
shapes, partition sizing) is real and tested — and so are the kernels for
four container formats, decode AND encode, pure Python with no codec
libraries: RIFF/WAVE PCM audio (``decode_wav_pcm``/``encode_wav_pcm`` +
real nearest-sample ``resample_audio``), PNG images (``decode_png`` —
stdlib zlib inflate + full filter-set reversal — and ``encode_png``),
binary PPM images (``decode_ppm``/``encode_ppm``), and YUV4MPEG2 video
(``decode_y4m``/``encode_y4m`` + real ``frame_sample`` emitting PNG luma
frames); ``resize_media`` does real nearest-neighbor resampling for the
image family. Formats that genuinely need external codec libraries (JPEG,
MP4, ...) fall back to a deterministic fake vector / metadata-only
passthrough, or raise ``NotImplementedError`` in strict mode — that call
site is the production integration point.

Scale notes: binary payloads ride the columnar path (parquet binary +
Arrow); mapInPandas streams batches so peak memory is
``spark.sql.execution.arrow.maxRecordsPerBatch`` × mean payload, and the ops
are shuffle-free projections. Keep payload columns OUT of shuffle keys; at
100 TB, store payloads in their own parquet column-chunks (they compress and
prune independently) and carry (uri, offset) pointers when payloads exceed
~1 MB.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType(), False),
    T.StructField("payload", T.BinaryType(), True),
    T.StructField("meta", T.StructType([
        T.StructField("kind", T.StringType(), False),     # image|audio|video
        T.StructField("mime", T.StringType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("duration_ms", T.LongType(), True),
    ]), True),
])

FEATURE_DIM = 16


def documents_as_media(df: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text") -> DataFrame:
    """Adapter: treat document bytes as a media payload (the container has no
    image/audio fixtures; payload bytes are real, kind is synthetic)."""
    return df.select(
        F.col(id_col).alias("media_id"),
        F.encode(F.col(text_col), "UTF-8").alias("payload"),
        F.struct(
            F.lit("image").alias("kind"),
            F.lit("application/octet-stream").alias("mime"),
            (F.length(text_col) % 640).cast("int").alias("width"),
            (F.length(text_col) % 480).cast("int").alias("height"),
            F.lit(None).cast("long").alias("duration_ms"),
        ).alias("meta"))


def _fake_decode(payload: bytes) -> list[float]:
    """Deterministic stand-in for payloads with no recognized container
    format: a tiny feature vector derived from payload bytes."""
    if payload is None:
        return [0.0] * FEATURE_DIM
    acc = [0] * FEATURE_DIM
    for i, b in enumerate(payload):
        acc[i % FEATURE_DIM] = (acc[i % FEATURE_DIM] * 31 + b) % 1_000_003
    return [v / 1_000_003.0 for v in acc]


# -- real pure-Python codecs (no external libraries) ------------------------

def decode_wav_pcm(payload: bytes) -> dict:
    """RIFF/WAVE PCM decoder implemented with ``struct`` only: walks the
    RIFF chunk list, reads the ``fmt `` and ``data`` chunks, and returns
    sample_rate / channels / bit depth plus samples normalized to [-1, 1).
    Supports the uncompressed PCM formats (8-bit unsigned, 16-bit signed)."""
    import struct

    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(payload):
        cid, size = struct.unpack_from("<4sI", payload, pos)
        pos += 8
        chunk = payload[pos:pos + size]
        if cid == b"fmt ":
            if len(chunk) < 16:
                # r10 property-sweep catch: a truncated fmt chunk raised
                # struct.error out of the Arrow batch loop instead of the
                # typed decode error
                raise ValueError("truncated WAV fmt chunk")
            fmt = struct.unpack_from("<HHIIHH", chunk, 0)
        elif cid == b"data":
            data = chunk
        pos += size + (size & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("missing fmt/data chunk")
    audio_format, channels, sample_rate, _, _, bits = fmt
    if audio_format != 1:
        raise ValueError(f"unsupported WAV format code {audio_format} (PCM only)")
    if channels == 0 or sample_rate == 0:
        # r10 property-sweep catch: zero channels/rate survived decode and
        # became a ZeroDivisionError in the duration feature
        raise ValueError("WAV fmt declares zero channels or sample rate")
    if bits == 16:
        n = len(data) // 2
        samples = [s / 32768.0 for s in struct.unpack(f"<{n}h", data[:n * 2])]
    elif bits == 8:
        samples = [(b - 128) / 128.0 for b in data]
    else:
        raise ValueError(f"unsupported PCM bit depth {bits}")
    return {"sample_rate": sample_rate, "channels": channels, "bits": bits,
            "samples": samples}


def decode_ppm(payload: bytes) -> dict:
    """Binary PPM (P6) image decoder: header parse (whitespace + ``#``
    comments) then raw RGB triples. Returns width/height/maxval/pixels."""
    if not payload.startswith(b"P6"):
        raise ValueError("not a binary PPM (P6) payload")
    pos, fields = 2, []
    while len(fields) < 3:
        while pos < len(payload) and payload[pos:pos + 1].isspace():
            pos += 1
        if payload[pos:pos + 1] == b"#":  # comment to end of line
            while pos < len(payload) and payload[pos] != 0x0A:
                pos += 1
            continue
        start = pos
        while pos < len(payload) and not payload[pos:pos + 1].isspace():
            pos += 1
        fields.append(int(payload[start:pos]))
    pos += 1  # single whitespace after maxval
    width, height, maxval = fields
    if width <= 0 or height <= 0 or maxval <= 0:
        # r10 property-sweep catch: a forged negative header dimension
        # made `need` negative, so the truncation check could not fire
        # and garbage decoded "successfully"
        raise ValueError("non-positive PPM header field")
    if maxval > 255:
        raise ValueError("16-bit PPM unsupported")
    need = width * height * 3
    raw = payload[pos:pos + need]
    if len(raw) < need:
        raise ValueError("truncated PPM pixel data")
    return {"width": width, "height": height, "maxval": maxval, "pixels": raw}


PNG_SIG = b"\x89PNG\r\n\x1a\n"


def decode_png(payload: bytes) -> dict:
    """PNG decoder implemented with ``struct`` + stdlib ``zlib`` only:
    walks the chunk list, parses IHDR, inflates the IDAT stream, and
    reverses the per-scanline filters (None/Sub/Up/Average/Paeth — the
    full filter set of the spec). Supports the non-interlaced 8-bit-depth
    color types: 0 (gray), 2 (RGB), 4 (gray+alpha), 6 (RGBA). Returns
    width/height/channels plus the raw unfiltered pixel bytes
    (row-major, ``channels`` bytes per pixel)."""
    import struct
    import zlib

    if not payload.startswith(PNG_SIG):
        raise ValueError("not a PNG payload")
    pos, ihdr, idat = len(PNG_SIG), None, bytearray()
    while pos + 8 <= len(payload):
        size, ctype = struct.unpack_from(">I4s", payload, pos)
        pos += 8
        chunk = payload[pos:pos + size]
        pos += size + 4  # skip CRC
        if ctype == b"IHDR":
            if len(chunk) < 13:
                # r10 property-sweep catch: short IHDR raised struct.error
                raise ValueError("truncated PNG IHDR chunk")
            ihdr = struct.unpack(">IIBBBBB", chunk[:13])
        elif ctype == b"IDAT":
            idat += chunk
        elif ctype == b"IEND":
            break
    if ihdr is None or not idat:
        raise ValueError("missing IHDR/IDAT chunk")
    width, height, depth, color, _comp, _filt, interlace = ihdr
    if width == 0 or height == 0:
        # r10 property-sweep catch: the spec forbids zero dimensions, and
        # a zero-width header slipped past the truncation check (stride 0)
        # into an empty pixel buffer the feature kernel then indexed
        raise ValueError("zero-dimension PNG")
    channels = {0: 1, 2: 3, 4: 2, 6: 4}.get(color)
    if channels is None:
        raise ValueError(f"unsupported PNG color type {color} "
                         "(palette needs PLTE handling)")
    if depth != 8 or interlace != 0:
        raise ValueError("only 8-bit non-interlaced PNG supported")
    try:
        raw = zlib.decompress(bytes(idat))
    except zlib.error as e:
        # r10 property-sweep catch: a truncated/corrupt IDAT stream raised
        # zlib.error out of the Arrow batch loop instead of the typed error
        raise ValueError(f"corrupt PNG IDAT stream: {e}") from e
    stride = width * channels
    if len(raw) < height * (stride + 1):
        raise ValueError("truncated PNG pixel data")
    out = bytearray(height * stride)
    prev_row = bytes(stride)
    for y in range(height):
        base = y * (stride + 1)
        ftype = raw[base]
        row = bytearray(raw[base + 1:base + 1 + stride])
        if ftype == 1:    # Sub
            for i in range(channels, stride):
                row[i] = (row[i] + row[i - channels]) & 0xFF
        elif ftype == 2:  # Up
            for i in range(stride):
                row[i] = (row[i] + prev_row[i]) & 0xFF
        elif ftype == 3:  # Average
            for i in range(stride):
                left = row[i - channels] if i >= channels else 0
                row[i] = (row[i] + ((left + prev_row[i]) >> 1)) & 0xFF
        elif ftype == 4:  # Paeth
            for i in range(stride):
                a = row[i - channels] if i >= channels else 0
                b = prev_row[i]
                c = prev_row[i - channels] if i >= channels else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else b if pb <= pc else c
                row[i] = (row[i] + pred) & 0xFF
        elif ftype != 0:
            raise ValueError(f"invalid PNG filter type {ftype}")
        out[y * stride:(y + 1) * stride] = row
        prev_row = bytes(row)
    return {"width": width, "height": height, "channels": channels,
            "pixels": bytes(out)}


def _png_features(payload: bytes) -> list[float]:
    """FEATURE_DIM image vector with the same layout as PPM's: [w, h,
    mean R, mean G, mean B] + (FEATURE_DIM-5)-bucket luminance histogram
    (gray expands to R=G=B; alpha is ignored for the feature)."""
    img = decode_png(payload)
    px, ch = img["pixels"], img["channels"]
    npx = max(len(px) // ch, 1)
    if ch >= 3:
        rgb = [[px[i * ch + c] for i in range(npx)] for c in range(3)]
    else:
        rgb = [[px[i * ch] for i in range(npx)]] * 3
    means = [sum(v) / npx / 255.0 for v in rgb]
    buckets = FEATURE_DIM - 5
    hist = [0] * buckets
    for i in range(npx):
        lum = (0.299 * rgb[0][i] + 0.587 * rgb[1][i] + 0.114 * rgb[2][i]) / 255.0
        hist[min(int(lum * buckets), buckets - 1)] += 1
    return ([float(img["width"]), float(img["height"])] + means
            + [h / npx for h in hist])


def _wav_features(payload: bytes) -> list[float]:
    """FEATURE_DIM audio vector: [duration_s, rms, peak, zero-cross rate]
    + a (FEATURE_DIM-4)-band mean-|amplitude| envelope."""
    w = decode_wav_pcm(payload)
    s = w["samples"]
    n = max(len(s), 1)
    rms = (sum(x * x for x in s) / n) ** 0.5
    peak = max((abs(x) for x in s), default=0.0)
    zc = sum(1 for a, b in zip(s, s[1:]) if (a < 0) != (b < 0)) / n
    dur = n / (w["sample_rate"] * w["channels"])
    bands = FEATURE_DIM - 4
    env = []
    for i in range(bands):
        seg = s[i * n // bands:(i + 1) * n // bands]
        env.append(sum(abs(x) for x in seg) / max(len(seg), 1))
    return [dur, rms, peak, zc] + env


def _ppm_features(payload: bytes) -> list[float]:
    """FEATURE_DIM image vector: [w, h, mean R, mean G, mean B] + a
    (FEATURE_DIM-5)-bucket luminance histogram (normalized)."""
    img = decode_ppm(payload)
    px, scale = img["pixels"], float(img["maxval"])
    npx = max(len(px) // 3, 1)
    means = [sum(px[c::3]) / npx / scale for c in range(3)]
    buckets = FEATURE_DIM - 5
    hist = [0] * buckets
    for i in range(0, npx * 3, 3):
        lum = (0.299 * px[i] + 0.587 * px[i + 1] + 0.114 * px[i + 2]) / scale
        hist[min(int(lum * buckets), buckets - 1)] += 1
    return ([float(img["width"]), float(img["height"])] + means
            + [h / npx for h in hist])


def _decode_auto(payload: bytes, strict: bool) -> list[float]:
    if payload is None:
        return [0.0] * FEATURE_DIM
    if payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
        return _wav_features(payload)
    if payload[:2] == b"P6":
        return _ppm_features(payload)
    if payload.startswith(PNG_SIG):
        return _png_features(payload)
    if strict:
        raise NotImplementedError(
            "no decoder for this payload format (WAV PCM, PNG and PPM are "
            "built in; other codecs need an external library)")
    return _fake_decode(payload)


def decode_features(df: DataFrame, strict: bool = False) -> DataFrame:
    """Arrow-batched decode → fixed-dim feature vector per media row.

    Containers with a built-in pure-Python decoder (RIFF/WAVE PCM audio,
    binary PPM images) are decoded for real; other payloads fall back to a
    deterministic fake vector, or — with ``strict=True`` — raise
    ``NotImplementedError`` (the production integration point for codec
    libraries)."""
    out_schema = T.StructType(
        list(MEDIA_SCHEMA.fields)
        + [T.StructField("features", T.ArrayType(T.DoubleType()), True)])

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pdf = pdf.copy()
            pdf["features"] = pdf["payload"].map(
                lambda p: _decode_auto(p, strict))
            yield pdf

    return df.mapInPandas(op, schema=out_schema)


def encode_png(width: int, height: int, channels: int,
               pixels: bytes) -> bytes:
    """PNG encoder (stdlib struct + zlib, filter type None per scanline):
    the write half of :func:`decode_png`, round-trip tested."""
    import struct
    import zlib

    color = {1: 0, 3: 2, 2: 4, 4: 6}[channels]

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (struct.pack(">I", len(data)) + ctype + data
                + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF))

    ihdr = struct.pack(">IIBBBBB", width, height, 8, color, 0, 0, 0)
    stride = width * channels
    raw = b"".join(b"\x00" + pixels[y * stride:(y + 1) * stride]
                   for y in range(height))
    return (PNG_SIG + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b""))


def encode_ppm(width: int, height: int, pixels: bytes) -> bytes:
    """Binary PPM (P6) encoder — the write half of :func:`decode_ppm`."""
    return f"P6\n{width} {height}\n255\n".encode() + pixels


def _nn_resize(pixels: bytes, w: int, h: int, ch: int,
               nw: int, nh: int) -> bytes:
    """Nearest-neighbor pixel resample (pure Python, exact integer source
    indexing — deterministic across platforms)."""
    out = bytearray(nw * nh * ch)
    for y in range(nh):
        sy = y * h // nh
        row_base = sy * w
        for x in range(nw):
            si = (row_base + x * w // nw) * ch
            di = (y * nw + x) * ch
            out[di:di + ch] = pixels[si:si + ch]
    return bytes(out)


def resize_media(df: DataFrame, width: int, height: int,
                 strict: bool = False) -> DataFrame:
    """REAL image resize for the decodable container family: PNG and PPM
    payloads are decoded, nearest-neighbor resampled, and RE-ENCODED in
    their original container (round-trip tested against the decoders);
    other payloads pass through with metadata-only update — or raise in
    ``strict`` mode (the codec-library integration point, same contract
    as :func:`decode_features`).

    Arrow-batched mapInPandas, shuffle-free — the per-row kernel is the
    only cost, so at scale the knob is input split size, exactly like
    decode."""
    def resize_one(p: bytes):
        if p is None:
            return None
        if p.startswith(PNG_SIG):
            img = decode_png(p)
            px = _nn_resize(img["pixels"], img["width"], img["height"],
                            img["channels"], width, height)
            return encode_png(width, height, img["channels"], px)
        if p.startswith(b"P6"):
            img = decode_ppm(p)
            px = _nn_resize(img["pixels"], img["width"], img["height"],
                            3, width, height)
            return encode_ppm(width, height, px)
        if strict:
            raise NotImplementedError(
                "resize needs a codec library for this container")
        return p

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pdf = pdf.copy()
            pdf["payload"] = pdf["payload"].map(resize_one)
            yield pdf

    resized = df.mapInPandas(op, schema=MEDIA_SCHEMA)
    return resized.withColumn(
        "meta",
        F.struct(
            F.col("meta.kind").alias("kind"),
            F.col("meta.mime").alias("mime"),
            F.lit(width).cast("int").alias("width"),
            F.lit(height).cast("int").alias("height"),
            F.col("meta.duration_ms").alias("duration_ms")))


def encode_wav_pcm(sample_rate: int, channels: int, bits: int,
                   data: bytes) -> bytes:
    """RIFF/WAVE PCM encoder — the write half of :func:`decode_wav_pcm`."""
    import struct

    block = channels * bits // 8
    fmt = struct.pack("<HHIIHH", 1, channels, sample_rate,
                      sample_rate * block, block, bits)
    return (b"RIFF" + struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(data))
            + b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", len(data)) + data)


def resample_audio(df: DataFrame, target_rate: int,
                   strict: bool = False) -> DataFrame:
    """REAL audio resample for the decodable family: WAV-PCM payloads are
    decoded, nearest-sample rate-converted (integer source indexing, the
    audio analog of :func:`resize_media`'s nearest-neighbor), and
    re-encoded as WAV at ``target_rate``. Other payloads pass through, or
    raise in ``strict`` mode. Arrow-batched mapInPandas, shuffle-free.

    Nearest-sample conversion is the deterministic baseline (aliasing
    above Nyquist is accepted); swap a polyphase kernel in at the same
    call site when scipy-class DSP is available.
    """
    import struct

    def resample_one(p: bytes):
        if p is None:
            return None
        if p.startswith(b"RIFF"):
            w = decode_wav_pcm(p)
            sr, ch, bits = w["sample_rate"], w["channels"], w["bits"]
            frames = len(w["samples"]) // ch
            n_out = max(1, frames * target_rate // sr)
            out = []
            for i in range(n_out):
                src = i * sr // target_rate
                out.extend(w["samples"][src * ch:(src + 1) * ch])
            if bits == 16:
                data = struct.pack(
                    f"<{len(out)}h",
                    *[max(-32768, min(32767, round(s * 32768))) for s in out])
            else:
                data = bytes(max(0, min(255, round(s * 128 + 128)))
                             for s in out)
            return encode_wav_pcm(target_rate, ch, bits, data)
        if strict:
            raise NotImplementedError(
                "resample needs a codec library for this container")
        return p

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pdf = pdf.copy()
            pdf["payload"] = pdf["payload"].map(resample_one)
            yield pdf

    return df.mapInPandas(op, schema=MEDIA_SCHEMA)


Y4M_SIG = b"YUV4MPEG2 "


def decode_y4m(payload: bytes) -> dict:
    """YUV4MPEG2 (.y4m) decoder — the uncompressed video interchange
    format (plain-text stream header, ``FRAME`` markers, raw planar YUV).
    Supports C420*, C422, C444, and Cmono colorspaces at 8-bit depth.
    Returns width/height/fps plus the list of per-frame Y planes (the
    luma image, enough for thumbnailing/sampling/perceptual hashing)."""
    if not payload.startswith(Y4M_SIG):
        raise ValueError("not a YUV4MPEG2 payload")
    nl = payload.index(b"\n")
    width = height = None
    fps_num, fps_den = 25, 1
    chroma = "420"
    for tok in payload[len(Y4M_SIG):nl].split(b" "):
        if not tok:
            continue
        tag, val = tok[:1], tok[1:].decode()
        if tag == b"W":
            width = int(val)
        elif tag == b"H":
            height = int(val)
        elif tag == b"F":
            fps_num, fps_den = (int(x) for x in val.split(":"))
        elif tag == b"C":
            chroma = val
    if not width or not height:
        raise ValueError("missing W/H in YUV4MPEG2 header")
    y_size = width * height
    if chroma.startswith("420"):
        frame_size = y_size * 3 // 2
    elif chroma.startswith("422"):
        frame_size = y_size * 2
    elif chroma.startswith("444"):
        frame_size = y_size * 3
    elif chroma.startswith("mono"):
        frame_size = y_size
    else:
        raise ValueError(f"unsupported Y4M colorspace C{chroma}")
    frames, pos = [], nl + 1
    while pos < len(payload):
        fnl = payload.index(b"\n", pos)
        if payload[pos:pos + 5] != b"FRAME":
            raise ValueError("corrupt FRAME marker")
        pos = fnl + 1
        if pos + frame_size > len(payload):
            raise ValueError("truncated Y4M frame data")
        frames.append(payload[pos:pos + y_size])  # keep the luma plane
        pos += frame_size
    return {"width": width, "height": height, "fps_num": fps_num,
            "fps_den": fps_den, "chroma": chroma, "frames": frames}


def encode_y4m(width: int, height: int, fps_num: int, fps_den: int,
               y_frames: list[bytes]) -> bytes:
    """YUV4MPEG2 encoder (Cmono: luma-only frames) — the write half of
    :func:`decode_y4m`, round-trip tested."""
    head = (f"YUV4MPEG2 W{width} H{height} F{fps_num}:{fps_den} "
            f"Ip A1:1 Cmono\n").encode()
    return head + b"".join(b"FRAME\n" + f for f in y_frames)


def frame_sample(df: DataFrame, every_ms: int = 1000,
                 strict: bool = False) -> DataFrame:
    """REAL video frame sampling for the decodable family: Y4M payloads
    are decoded and one frame per ``every_ms`` of media time is emitted
    as a grayscale PNG of its luma plane (real image bytes, consumable by
    :func:`decode_png` / :func:`resize_media` downstream). Other
    containers get the metadata-only contract — one row per ``every_ms``
    of ``meta.duration_ms`` (at least one), timestamps real, payload
    null — or raise in ``strict`` mode.

    Output schema: (media_id, frame_idx, frame_ts_ms, frame_payload).
    mapInPandas row-expansion is Arrow-batched and shuffle-free; at scale
    the sampled-frame stream is typically 100-1000× smaller than the
    source video, so sample BEFORE any shuffle-bearing stage.
    """
    out_schema = T.StructType([
        T.StructField("media_id", T.LongType(), False),
        T.StructField("frame_idx", T.IntegerType(), False),
        T.StructField("frame_ts_ms", T.LongType(), False),
        T.StructField("frame_payload", T.BinaryType(), True),
    ])

    def sample_one(media_id: int, p: bytes, duration_ms):
        if p is not None and p.startswith(Y4M_SIG):
            v = decode_y4m(p)
            ms_per_frame = 1000 * v["fps_den"] / v["fps_num"]
            out, next_ts, idx = [], 0.0, 0
            for i, y in enumerate(v["frames"]):
                ts = i * ms_per_frame
                if ts + 1e-9 >= next_ts:
                    png = encode_png(v["width"], v["height"], 1, y)
                    out.append((media_id, idx, int(ts), png))
                    idx += 1
                    next_ts += every_ms
            return out
        if strict:
            raise NotImplementedError(
                "frame sampling needs a codec library for this container")
        n = max(1, int((duration_ms or 0) // every_ms) or 1)
        return [(media_id, i, i * every_ms, None) for i in range(n)]

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                dur = r.meta.get("duration_ms") if isinstance(r.meta, dict) \
                    else r.meta["duration_ms"]
                rows.extend(sample_one(r.media_id, r.payload, dur))
            yield pd.DataFrame(
                rows, columns=["media_id", "frame_idx", "frame_ts_ms",
                               "frame_payload"])

    return df.mapInPandas(op, schema=out_schema)
