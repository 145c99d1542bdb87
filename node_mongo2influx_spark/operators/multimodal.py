"""Multimodal columns (SURVEY.md §2.12): opaque binary payloads + typed
metadata, with Arrow-batched decode/feature plumbing.

Design: image/audio/video payloads are ``BinaryType`` columns travelling
next to typed metadata (mime, byte size, checksum). Spark never interprets
the bytes; decode/feature/frame-sample run as ``mapInPandas`` stages so the
bytes cross into Python once per Arrow batch, not per row.

Codec posture (round 5): PNG and WAV-PCM16 decode REALLY happens, with
the stdlib only — PNG is zlib inflate + the 5-filter unfilter pass
(:func:`decode_png`), WAV is a RIFF chunk walk (:func:`decode_wav_pcm16`)
— so ``mode="real"`` produces true pixel/sample features for those
formats. Formats that genuinely need a codec library
(JPEG's DCT entropy decoding, video) remain honestly stubbed PER ROW:
``feature = None`` with the sniffed type in ``decoder``, never a
task failure. ``mode="fake"`` keeps the deterministic sha-expansion
pseudo-decode — the oracle-checkable tier the registry queries use.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: Output schema of the feature-extraction stage.
FEATURE_SCHEMA = (
    "doc_id long, mime string, n_bytes long, feature array<float>, decoder string"
)


def as_binary_payload(
    df: DataFrame,
    source_col: str,
    id_col: str = "doc_id",
    mime: str = "text/plain",
) -> DataFrame:
    """Wrap a column as an opaque binary payload with mime metadata —
    the ingestion shape for any modality."""
    return df.select(
        F.col(id_col),
        F.col(source_col).cast("binary").alias("payload"),
        F.lit(mime).alias("mime"),
    )


def payload_meta(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Typed metadata over opaque payloads: byte length, checksum, size
    class. Pure Column expressions — no payload bytes leave the JVM."""
    n_bytes = F.length("payload").cast("long")
    return df.select(
        F.col(id_col),
        n_bytes.alias("n_bytes"),
        F.md5("payload").alias("content_md5"),
        F.when(n_bytes >= 4096, "large")
        .when(n_bytes >= 1024, "medium")
        .otherwise("small")
        .alias("size_class"),
    )


def _sha_expand(payload: bytes, need: int) -> bytes:
    """First ``need`` bytes of sha256(payload || counter) counter-mode
    expansion — the deterministic pseudo-decode behind the fake
    feature kernel (and replayed byte-for-byte by the
    multimodal_features DuckDB oracle)."""
    out = b""
    counter = 0
    while len(out) < need:
        out += hashlib.sha256(payload + counter.to_bytes(4, "big")).digest()
        counter += 1
    return out[:need]


def _fake_feature(payload: bytes, dim: int) -> list[float]:
    """Deterministic pseudo-embedding from payload bytes (sha256 expansion)
    — stands in for a real decode+encode so tests exercise real shapes."""
    return [b / 255.0 for b in _sha_expand(payload, dim)]


def extract_features(
    df: DataFrame,
    id_col: str = "doc_id",
    dim: int = 16,
    mode: str = "fake",
) -> DataFrame:
    """Arrow-batched feature extraction over binary payloads.

    ``mode="real"`` REALLY decodes PNG (stdlib zlib + unfilter) and WAV
    PCM16 (RIFF walk) payloads — see :func:`_real_feature` for the
    feature layout; payload types that genuinely need a codec library
    (JPEG, video) yield ``feature=None`` with ``decoder=
    "unsupported:<type>"`` so one undecodable payload marks its row
    instead of killing the job. ``mode="fake"`` keeps the deterministic
    sha-expansion pseudo-features (the oracle-checkable tier).
    """
    if mode not in ("fake", "real"):
        raise ValueError("mode must be 'fake' or 'real'")
    if mode == "real" and dim < 8:
        raise ValueError("real feature layout needs dim >= 8")

    def kernel(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            feats, decoders = [], []
            for p in pdf["payload"]:
                if p is None:
                    feats.append(None)
                    decoders.append("null")
                elif mode == "fake":
                    feats.append(_fake_feature(bytes(p), dim))
                    decoders.append("stub-fake")
                else:
                    f, label = _real_feature(bytes(p), dim)
                    feats.append(f)
                    decoders.append(label)
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col],
                    "mime": pdf["mime"],
                    "n_bytes": [0 if p is None else len(p) for p in pdf["payload"]],
                    "feature": feats,
                    "decoder": decoders,
                }
            )

    return df.mapInPandas(kernel, schema=FEATURE_SCHEMA)


def sample_frames(
    df: DataFrame,
    id_col: str = "doc_id",
    every_n_bytes: int = 1024,
    frame_bytes: int = 16,
) -> DataFrame:
    """Deterministic 'frame sampling' over opaque payloads: one slice every
    ``every_n_bytes``. Stands in for video frame extraction; the slicing is
    pure Column expressions so only the sampled bytes ever leave the scan."""
    n = F.length("payload")
    offsets = F.sequence(F.lit(1), F.greatest(n - frame_bytes + 1, F.lit(1)),
                         F.lit(every_n_bytes))
    return df.select(
        F.col(id_col),
        F.posexplode(
            F.transform(offsets, lambda off: F.substring(F.col("payload"), off, frame_bytes))
        ).alias("frame_no", "frame"),
    )

# ---------------------------------------------------------------------------
# Codec-free image header parsing (PNG IHDR / JPEG SOF) — pure Column byte
# arithmetic over BinaryType. A genuine multimodal capability that needs no
# codec library: container formats put dimensions at documented offsets
# (PNG: IHDR width/height at bytes 17-24 big-endian; JPEG: a marker-segment
# walk to the first SOFn frame header). Runs fully inside whole-stage
# codegen — no payload byte ever crosses into Python.
# ---------------------------------------------------------------------------

#: PNG signature (8 bytes) as uppercase hex, per the PNG spec.
_PNG_MAGIC_HEX = "89504E470D0A1A0A"


def _be_uint(payload, pos, nbytes):
    """Big-endian unsigned int read at 1-based byte offset ``pos`` —
    hex() the slice, then base-16 -> base-10. Pure Column expression."""
    return F.conv(F.hex(F.substring(payload, pos, nbytes)), 16, 10).cast("long")


def image_dims(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "doc_id",
    max_jpeg_segments: int = 16,
) -> DataFrame:
    """Parse (format, width, height) out of raw image bytes.

    PNG: signature check, then IHDR width (bytes 17-20) / height (21-24),
    both big-endian u32 — fixed offsets, two slice reads.

    JPEG: SOI (FFD8), then a bounded marker-segment walk (APPn/DQT/DHT/COM
    all carry a big-endian u16 length) until the first SOFn frame header
    (FFC0-FFCF minus C4/C8/CC), whose payload is
    [len:2][precision:1][height:2][width:2]. The walk is an ``aggregate``
    over ``sequence(1, max_jpeg_segments)`` carrying (pos, w, h) in a
    struct — an unrolled fixed-trip loop the optimizer folds into one
    projection; headers deeper than ``max_jpeg_segments`` segments yield
    NULL dims rather than an error.

    Anything else parses as format='unknown' with NULL dims. All reads are
    Column expressions (substring/hex/conv) — zero Python, zero shuffle;
    at 100 TB this is a map-only pass whose scan can prune to the payload
    and id columns.
    """
    p = F.col(payload_col)

    is_png = F.hex(F.substring(p, 1, 8)) == _PNG_MAGIC_HEX
    png_w = _be_uint(p, 17, 4)
    png_h = _be_uint(p, 21, 4)

    is_jpeg = F.hex(F.substring(p, 1, 2)) == "FFD8"

    zero = F.lit(0).cast("long")

    def _step(acc, _i):
        pos = acc["pos"].cast("int")
        marker = _be_uint(p, pos + 1, 1)          # byte after the 0xFF
        seg_len = _be_uint(p, pos + 2, 2)          # includes its own 2 bytes
        is_sof = (
            marker.between(0xC0, 0xCF)
            & (marker != 0xC4) & (marker != 0xC8) & (marker != 0xCC)
        )
        done = acc["w"] > 0
        return F.struct(
            F.when(done | is_sof, acc["pos"])
            .otherwise((pos + 2 + seg_len).cast("long"))
            .alias("pos"),
            F.when(done, acc["w"])
            .when(is_sof, _be_uint(p, pos + 7, 2))
            .otherwise(zero)
            .alias("w"),
            F.when(done, acc["h"])
            .when(is_sof, _be_uint(p, pos + 5, 2))
            .otherwise(zero)
            .alias("h"),
        )

    jpeg_scan = F.aggregate(
        F.sequence(F.lit(1), F.lit(max_jpeg_segments)),
        F.struct(
            F.lit(3).cast("long").alias("pos"),    # first marker after SOI
            zero.alias("w"),
            zero.alias("h"),
        ),
        _step,
    )

    width = (
        F.when(is_png, png_w)
        .when(is_jpeg & (jpeg_scan["w"] > 0), jpeg_scan["w"])
        .cast("long")
    )
    height = (
        F.when(is_png, png_h)
        .when(is_jpeg & (jpeg_scan["h"] > 0), jpeg_scan["h"])
        .cast("long")
    )
    fmt = (
        F.when(is_png, "png").when(is_jpeg, "jpeg").otherwise("unknown")
    )
    return df.select(
        F.col(id_col),
        fmt.alias("fmt"),
        width.alias("width"),
        height.alias("height"),
    )


#: Magic-byte prefixes (hex, uppercase) in sniff priority order.
MAGIC_MIMES: tuple[tuple[str, str], ...] = (
    ("89504E470D0A1A0A", "image/png"),
    ("FFD8FF", "image/jpeg"),
    ("474946383761", "image/gif"),  # GIF87a
    ("474946383961", "image/gif"),  # GIF89a
    ("25504446", "application/pdf"),  # %PDF
)


def sniff_mime(
    df: DataFrame, payload_col: str = "payload", id_col: str = "doc_id"
) -> DataFrame:
    """Detect a payload's container type from its magic bytes — the
    routing step for mixed binary columns (a 100 TB multimodal crawl is
    never uniformly typed; declared mime headers lie, magic bytes don't).

    Pure Column byte compares over BinaryType (prefix hex against known
    magics — no codec, no Python): the whole classification runs inside
    whole-stage codegen at scan speed, and only the first 16 bytes of
    each payload are ever examined. RIFF containers are sniffed one
    level deeper (bytes 9-12: WAVE -> audio/x-wav, else the generic
    RIFF mime). Unknown prefixes -> application/octet-stream.
    """
    hx = F.hex(F.substring(F.col(payload_col), 1, 16))

    def starts(magic: str):
        return F.substring(hx, 1, len(magic)) == magic

    riff = starts("52494646")
    wave = F.substring(hx, 17, 8) == "57415645"
    expr = None
    for magic, mime in MAGIC_MIMES:
        cond = starts(magic)
        expr = F.when(cond, mime) if expr is None else expr.when(cond, mime)
    expr = (
        expr.when(riff & wave, "audio/x-wav")
        .when(riff, "application/x-riff")
        .otherwise("application/octet-stream")
    )
    return df.select(
        F.col(id_col),
        expr.alias("sniffed_mime"),
        F.length(payload_col).cast("long").alias("n_bytes"),
    )


def _le_uint_sql(payload: str, pos: int, nbytes: int) -> str:
    """Little-endian unsigned int at 1-based offset ``pos`` as SQL text: n
    single-byte reads recombined with place values (RIFF/WAV fields are
    LE; _be_uint's hex-then-conv trick would read them backwards).
    Expression text, not Columns: audio_meta's 12 field reads built ~250
    Column objects (~1000 py4j round trips ≈ 2 s of construction per
    call, measured r11 optimization round); the parser sees the same
    integer arithmetic in one hop."""
    out = "CAST(0 AS BIGINT)"
    for i in range(nbytes):
        be = (
            f"CAST(conv(hex(substring({payload}, {pos + i}, 1)), 16, 10)"
            " AS BIGINT)"
        )
        out = f"({out} + {be} * {1 << (8 * i)})"
    return out


def audio_meta(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "doc_id",
) -> DataFrame:
    """Parse canonical 44-byte PCM WAV headers: channels, sample rate,
    bits/sample, data size, and the duration they imply.

    Field offsets (1-based, RIFF little-endian): channels@23 (u16),
    sample_rate@25 (u32), bits_per_sample@35 (u16), data_size@41 (u32).
    Non-WAV payloads (magic mismatch at RIFF/WAVE/fmt/data anchors)
    yield NULLs rather than garbage. All reads are Column byte
    arithmetic — codec-free, zero Python, zero shuffles, same decoder
    seam as image_dims: a real libsndfile would slot in at the honest
    stub boundary (extract_features), but header math needs no codec.

    duration_ms = data_size · 8000 / (rate · channels · bits) — exact
    integer arithmetic scaled to milliseconds, floor'd (identical in any
    engine; float division would be engine-rounding-dependent).

    Spelled as ONE selectExpr text (r11 optimization round, the py4j
    batching class): the Column spelling built ~250 Column objects for
    the magic anchors + 12 byte reads — ~2 s of driver chatter per
    construction. Same expressions, same CASE-gated NULL branch, same
    integer arithmetic — values identical (oracle-gated).
    """
    p = f"`{payload_col}`"
    is_wav = (
        f"(hex(substring({p}, 1, 4)) = '52494646'"       # RIFF
        f" AND hex(substring({p}, 9, 4)) = '57415645'"   # WAVE
        f" AND hex(substring({p}, 13, 4)) = '666D7420'"  # 'fmt '
        f" AND hex(substring({p}, 37, 4)) = '64617461')"  # data
    )
    channels = _le_uint_sql(p, 23, 2)
    rate = _le_uint_sql(p, 25, 4)
    bits = _le_uint_sql(p, 35, 2)
    data_size = _le_uint_sql(p, 41, 4)
    duration_ms = (
        f"floor({data_size} * CAST(8000 AS BIGINT)"
        f" / ({rate} * {channels} * {bits}))"
    )

    def gated(expr: str, name: str) -> str:
        return (
            f"CASE WHEN {is_wav} THEN {expr}"
            f" ELSE CAST(NULL AS BIGINT) END AS {name}"
        )

    return df.selectExpr(
        f"`{id_col}`",
        f"{is_wav} AS is_wav",
        gated(channels, "channels"),
        gated(rate, "sample_rate"),
        gated(bits, "bits_per_sample"),
        gated(data_size, "data_size"),
        gated(duration_ms, "duration_ms"),
    )


# ---------------------------------------------------------------------------
# REAL stdlib-only decoders (round 5). "No codec libs in the container"
# turns out to be a weaker constraint than it sounds: PNG is zlib (stdlib)
# + a 5-filter unfilter pass, and WAV PCM16 is a RIFF chunk walk +
# frombuffer — so those two formats get REAL pixel/sample decoding with
# zero dependencies. JPEG/video stay honestly stubbed (a DCT entropy
# decoder is a codec); unsupported payloads yield feature=None with the
# sniffed type in `decoder`, never a task failure (one bad payload must
# not kill a 100 TB job).
# ---------------------------------------------------------------------------

_PNG_SIG = b"\x89PNG\r\n\x1a\n"
#: PNG color type -> channel count (8-bit, non-interlaced support).
_PNG_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}


def decode_png(payload: bytes):
    """Decode a non-interlaced 8-bit PNG (gray / RGB / gray+alpha / RGBA)
    with the stdlib only: chunk walk, concatenated-IDAT zlib inflate, and
    the per-scanline unfilter pass (None/Sub/Up/Average/Paeth).

    Returns ``(height, width, channels, pixels)`` with ``pixels`` the
    row-major H×W×C bytes. Raises ValueError for non-PNG bytes and
    NotImplementedError for 16-bit / palette / interlaced variants (the
    honest remaining boundary)."""
    import struct
    import zlib

    if payload[:8] != _PNG_SIG:
        raise ValueError("not a PNG payload")
    pos, idat, header = 8, [], None
    while pos + 8 <= len(payload):
        ln = int.from_bytes(payload[pos : pos + 4], "big")
        typ = payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + ln]
        pos += 12 + ln  # len + type + data + crc
        if typ == b"IHDR":
            header = struct.unpack(">IIBBBBB", data)
        elif typ == b"IDAT":
            idat.append(data)
        elif typ == b"IEND":
            break
    if header is None:
        raise ValueError("PNG missing IHDR")
    w, h, depth, ctype, _comp, _filt, interlace = header
    if depth != 8 or ctype not in _PNG_CHANNELS or interlace != 0:
        raise NotImplementedError(
            f"PNG variant not supported (depth={depth}, color_type={ctype}, "
            f"interlace={interlace}): stdlib decoder covers 8-bit "
            "non-interlaced gray/RGB/GA/RGBA"
        )
    import numpy as np

    ch = _PNG_CHANNELS[ctype]
    raw = zlib.decompress(b"".join(idat))
    stride = w * ch
    if len(raw) != h * (stride + 1):
        raise ValueError("PNG IDAT length mismatch")
    out = np.empty((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    pos = 0
    for y in range(h):
        f = raw[pos]
        row = np.frombuffer(
            raw[pos + 1 : pos + 1 + stride], dtype=np.uint8
        ).copy()
        pos += 1 + stride
        # None/Sub/Up vectorize (Sub is a per-channel-lane prefix sum —
        # addition is associative mod 256); Average and Paeth keep the
        # per-byte scan: each byte's predictor needs the ALREADY
        # reconstructed left neighbor through a floor/branch, which
        # doesn't reassociate.
        if f == 1:  # Sub
            lanes = row.reshape(w, ch).astype(np.uint32)
            row = (
                (np.cumsum(lanes, axis=0) & 0xFF).astype(np.uint8).reshape(stride)
            )
        elif f == 2:  # Up
            row = row + prev  # uint8 wraps mod 256
        elif f in (3, 4):
            rb = bytearray(row.tobytes())
            pb = prev.tobytes()
            if f == 3:  # Average
                for x in range(stride):
                    left = rb[x - ch] if x >= ch else 0
                    rb[x] = (rb[x] + ((left + pb[x]) >> 1)) & 0xFF
            else:  # Paeth
                for x in range(stride):
                    a = rb[x - ch] if x >= ch else 0
                    b = pb[x]
                    c = pb[x - ch] if x >= ch else 0
                    p = a + b - c
                    pa, pbd, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = (
                        a
                        if (pa <= pbd and pa <= pc)
                        else (b if pbd <= pc else c)
                    )
                    rb[x] = (rb[x] + pred) & 0xFF
            row = np.frombuffer(bytes(rb), dtype=np.uint8)
        elif f != 0:
            raise ValueError(f"unknown PNG filter {f}")
        out[y] = row
        prev = out[y]
    return h, w, ch, out.tobytes()


def decode_wav_pcm16(payload: bytes):
    """Decode a PCM16 WAV with the stdlib only: RIFF/WAVE chunk walk for
    ``fmt `` and ``data``. Returns ``(sample_rate, n_channels, samples)``
    with ``samples`` an int16 ndarray of shape (n_frames, n_channels).
    Raises ValueError for non-WAV bytes, NotImplementedError for
    non-PCM16 encodings (ADPCM/float/24-bit — the honest boundary)."""
    import struct

    import numpy as np

    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a WAV payload")
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(payload):
        typ = payload[pos : pos + 4]
        ln = int.from_bytes(payload[pos + 4 : pos + 8], "little")
        body = payload[pos + 8 : pos + 8 + ln]
        pos += 8 + ln + (ln & 1)  # chunks are word-aligned
        if typ == b"fmt ":
            fmt = struct.unpack("<HHIIHH", body[:16])
        elif typ == b"data":
            data = body
    if fmt is None or data is None:
        raise ValueError("WAV missing fmt/data chunk")
    audio_format, n_ch, rate, _byte_rate, _align, bits = fmt
    if audio_format != 1 or bits != 16:
        raise NotImplementedError(
            f"WAV encoding not supported (format={audio_format}, "
            f"bits={bits}): stdlib decoder covers PCM16"
        )
    n = len(data) // (2 * n_ch) * (2 * n_ch)
    samples = np.frombuffer(data[:n], dtype="<i2").reshape(-1, n_ch)
    return rate, n_ch, samples


def _real_feature(payload: bytes, dim: int):
    """Dispatch a REAL decode by magic bytes -> (feature, decoder_label).
    Feature layout (all float32, length ``dim``, dim >= 8):

    * PNG:  [h, w, channels, lum_mean, lum_std] + (dim-5)-bin luminance
      histogram (fractions).
    * WAV:  [rate, channels, duration_s, rms, peak] + (dim-5)-bin
      amplitude histogram (fractions).
    * anything else: (None, "unsupported:<sniff>") — JPEG/video need a
      real codec; a row-level stub marker, never a task failure.

    ANY decode failure — unsupported variant, truncated chunks
    (ValueError/struct.error), corrupt deflate bytes (zlib.error),
    degenerate headers — downgrades to the unsupported marker: scraped
    corpora contain arbitrarily malformed bytes behind valid magic
    numbers, and one of them must mark its row, not kill the job.
    """
    import numpy as np

    if payload[:8] == _PNG_SIG:
        try:
            h, w, ch, px = decode_png(payload)
            arr = np.frombuffer(px, dtype=np.uint8).reshape(h, w, ch)
        except NotImplementedError:
            return None, "unsupported:png-variant"
        except Exception:
            return None, "unsupported:png-corrupt"
        lum = arr[:, :, : 3 if ch >= 3 else 1].mean(axis=2) / 255.0
        hist, _ = np.histogram(lum, bins=dim - 5, range=(0.0, 1.0))
        hist = hist / max(lum.size, 1)
        feat = [float(h), float(w), float(ch),
                float(lum.mean()), float(lum.std())] + hist.tolist()
        return [float(np.float32(v)) for v in feat], "stdlib-png"
    if payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
        try:
            rate, n_ch, samples = decode_wav_pcm16(payload)
            if rate <= 0 or n_ch <= 0:
                raise ValueError("degenerate WAV header")
        except NotImplementedError:
            return None, "unsupported:wav-variant"
        except Exception:
            return None, "unsupported:wav-corrupt"
        x = samples.astype(np.float64) / 32768.0
        n_frames = len(x)
        if n_frames:
            mono = x.mean(axis=1)
            hist, _ = np.histogram(mono, bins=dim - 5, range=(-1.0, 1.0))
            hist = hist / mono.size
            rms, peak = float(np.sqrt((mono ** 2).mean())), float(
                np.abs(mono).max()
            )
        else:
            # empty data chunk: an EMPTY clip, not a phantom one-sample one
            hist = np.zeros(dim - 5)
            rms = peak = 0.0
        feat = [float(rate), float(n_ch), float(n_frames / rate),
                rms, peak] + hist.tolist()
        return [float(np.float32(v)) for v in feat], "stdlib-wav"
    sniff = "jpeg" if payload[:2] == b"\xff\xd8" else "unknown"
    return None, f"unsupported:{sniff}"

