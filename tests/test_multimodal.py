"""Multimodal plumbing tests: binary payloads, metadata, stubbed decode."""

from __future__ import annotations

import pytest

from node_mongo2influx_spark.operators import multimodal


@pytest.fixture(scope="module")
def payloads(spark):
    df = spark.createDataFrame(
        [(1, "x" * 10), (2, "y" * 2000), (3, "z" * 5000)],
        "doc_id long, text string",
    )
    return multimodal.as_binary_payload(df, source_col="text")


def test_payload_meta(payloads):
    rows = {r["doc_id"]: r for r in multimodal.payload_meta(payloads).collect()}
    assert rows[1]["n_bytes"] == 10 and rows[1]["size_class"] == "small"
    assert rows[2]["size_class"] == "medium"
    assert rows[3]["size_class"] == "large"
    assert len(rows[1]["content_md5"]) == 32


def test_extract_features_fake_mode(payloads):
    out = multimodal.extract_features(payloads, dim=16).collect()
    rows = {r["doc_id"]: r for r in out}
    assert len(rows) == 3
    assert len(rows[1]["feature"]) == 16
    assert all(0.0 <= v <= 1.0 for v in rows[1]["feature"])
    assert rows[1]["decoder"] == "stub-fake"
    # deterministic across runs
    again = {r["doc_id"]: r for r in multimodal.extract_features(payloads, dim=16).collect()}
    assert again[1]["feature"] == rows[1]["feature"]


def test_extract_features_real_mode_marks_undecodable_rows(payloads):
    # Since round 5, mode="real" actually decodes PNG/WAV (stdlib-only);
    # payloads that still need a codec (these fixtures are raw text
    # bytes) are MARKED per row instead of failing the task.
    rows = multimodal.extract_features(payloads, mode="real").collect()
    assert rows
    for r in rows:
        if r["n_bytes"] == 0:
            assert r["decoder"] == "null"
        else:
            assert r["decoder"].startswith("unsupported:")
            assert r["feature"] is None


def test_sample_frames(payloads):
    rows = multimodal.sample_frames(payloads, every_n_bytes=1024, frame_bytes=16).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert len(by_doc[1]) == 1  # tiny payload -> one frame
    assert len(by_doc[3]) == 5  # 5000 bytes / 1024 -> offsets 1,1025,...,4097
    assert all(len(bytes(r["frame"])) <= 16 for r in rows)


# --- image_dims: real container-format headers, no codec needed ----------

def _png(w: int, h: int) -> bytearray:
    # signature + IHDR chunk (len, type, width, height, bit depth, color
    # type, compression, filter, interlace) — crc omitted; the parser only
    # reads the documented fixed offsets.
    return bytearray(
        b"\x89PNG\r\n\x1a\n"
        + (13).to_bytes(4, "big")
        + b"IHDR"
        + w.to_bytes(4, "big")
        + h.to_bytes(4, "big")
        + bytes([8, 6, 0, 0, 0])
    )


def _jpeg(w: int, h: int, extra_segments: int = 2) -> bytearray:
    # SOI, then APP0 (JFIF), then `extra_segments` dummy COM segments (so
    # the marker walk is actually exercised), then SOF0 with the dims.
    out = bytearray(b"\xff\xd8")
    out += b"\xff\xe0" + (16).to_bytes(2, "big") + b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
    for i in range(extra_segments):
        body = bytes([i]) * 5
        out += b"\xff\xfe" + (2 + len(body)).to_bytes(2, "big") + body
    out += (
        b"\xff\xc0"
        + (11).to_bytes(2, "big")
        + bytes([8])
        + h.to_bytes(2, "big")
        + w.to_bytes(2, "big")
        + bytes([1, 1, 0x11, 0])
    )
    return out


def test_image_dims_parses_png_and_jpeg_headers(spark):
    df = spark.createDataFrame(
        [
            (1, _png(640, 480)),
            (2, _jpeg(1920, 1080)),
            (3, _jpeg(33000, 2, extra_segments=8)),  # width > int16
            (4, bytearray(b"not an image at all")),
            (5, _png(1, 1)),
        ],
        "doc_id long, payload binary",
    )
    rows = {r["doc_id"]: r for r in multimodal.image_dims(df).collect()}
    assert (rows[1]["fmt"], rows[1]["width"], rows[1]["height"]) == ("png", 640, 480)
    assert (rows[2]["fmt"], rows[2]["width"], rows[2]["height"]) == ("jpeg", 1920, 1080)
    assert (rows[3]["fmt"], rows[3]["width"], rows[3]["height"]) == ("jpeg", 33000, 2)
    assert rows[4]["fmt"] == "unknown"
    assert rows[4]["width"] is None and rows[4]["height"] is None
    assert (rows[5]["width"], rows[5]["height"]) == (1, 1)


def test_image_dims_jpeg_segment_cap_yields_null_not_error(spark):
    deep = _jpeg(10, 10, extra_segments=40)  # beyond max_jpeg_segments
    df = spark.createDataFrame([(1, bytearray(deep))], "doc_id long, payload binary")
    row = multimodal.image_dims(df, max_jpeg_segments=16).collect()[0]
    assert row["fmt"] == "jpeg"
    assert row["width"] is None and row["height"] is None


def test_image_dims_stays_jvm_side(spark):
    df = spark.createDataFrame([(1, _png(2, 2))], "doc_id long, payload binary")
    plan = multimodal.image_dims(df)._jdf.queryExecution().executedPlan().toString()
    for bad in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert bad not in plan


def test_sniff_mime_magic_bytes(spark):
    from node_mongo2influx_spark.operators import multimodal

    rows = [
        (1, bytes.fromhex("89504E470D0A1A0A" + "00" * 8)),  # PNG
        (2, bytes.fromhex("FFD8FFE000104A46")),             # JPEG
        (3, b"GIF89a" + b"\x01\x02"),                        # GIF
        (4, b"RIFF\x10\x00\x00\x00WAVEfmt "),                # RIFF+WAVE
        (5, b"RIFF\x10\x00\x00\x00AVI LIST"),                # RIFF, not WAVE
        (6, b"%PDF-1.7 stuff"),                              # PDF
        (7, b"\xde\xad\xbe\xef garbage"),                    # unknown
        (8, b"\x89P"),                                       # short prefix
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    got = {
        r["doc_id"]: r["sniffed_mime"]
        for r in multimodal.sniff_mime(df).collect()
    }
    assert got == {
        1: "image/png",
        2: "image/jpeg",
        3: "image/gif",
        4: "audio/x-wav",
        5: "application/x-riff",
        6: "application/pdf",
        7: "application/octet-stream",
        8: "application/octet-stream",
    }


# ---------------------------------------------------------------------------
# Round 5: REAL stdlib decoders (PNG zlib+unfilter, WAV PCM16)
# ---------------------------------------------------------------------------
def _encode_png(arr, filters):
    """Minimal PNG encoder for tests: 8-bit non-interlaced, one explicit
    filter type per row (applies the FORWARD filter, so decode must
    invert every filter path)."""
    import struct
    import zlib

    import numpy as np

    h, w, ch = arr.shape
    ctype = {1: 0, 2: 4, 3: 2, 4: 6}[ch]

    def chunk(typ, data):
        return (
            struct.pack(">I", len(data))
            + typ
            + data
            + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
        )

    raw = bytearray()
    prev = np.zeros((w, ch), dtype=np.int16)
    for y in range(h):
        row = arr[y].astype(np.int16)
        f = filters[y % len(filters)]
        left = np.zeros_like(row)
        left[1:] = row[:-1]
        prev_left = np.zeros_like(prev)
        prev_left[1:] = prev[:-1]
        if f == 0:
            enc = row
        elif f == 1:
            enc = row - left
        elif f == 2:
            enc = row - prev
        elif f == 3:
            enc = row - ((left + prev) >> 1)
        else:  # paeth
            p = left + prev - prev_left
            pa, pb, pc = (
                np.abs(p - left), np.abs(p - prev), np.abs(p - prev_left)
            )
            pred = np.where(
                (pa <= pb) & (pa <= pc), left, np.where(pb <= pc, prev, prev_left)
            )
            enc = row - pred
        raw.append(f)
        raw.extend((enc & 0xFF).astype(np.uint8).tobytes())
        prev = row
    ihdr = struct.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )


def test_decode_png_roundtrip_all_filters():
    import numpy as np

    rng = np.random.RandomState(7)
    for ch in (1, 2, 3, 4):
        arr = rng.randint(0, 256, size=(11, 7, ch), dtype=np.uint8)
        payload = _encode_png(arr, filters=[0, 1, 2, 3, 4])
        h, w, c, px = multimodal.decode_png(payload)
        assert (h, w, c) == (11, 7, ch)
        got = np.frombuffer(px, dtype=np.uint8).reshape(h, w, c)
        assert (got == arr).all(), f"filter roundtrip failed for ch={ch}"


def test_decode_wav_pcm16_matches_stdlib_writer():
    import io
    import wave

    import numpy as np

    t = np.arange(8000) / 8000.0
    mono = (0.5 * np.sin(2 * np.pi * 440 * t) * 32767).astype("<i2")
    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(1)
        wf.setsampwidth(2)
        wf.setframerate(8000)
        wf.writeframes(mono.tobytes())
    rate, n_ch, samples = multimodal.decode_wav_pcm16(buf.getvalue())
    assert (rate, n_ch) == (8000, 1)
    assert (samples[:, 0] == mono).all()


def test_extract_features_real_decodes_png_and_wav(spark):
    import io
    import wave

    import numpy as np

    rng = np.random.RandomState(3)
    img = rng.randint(0, 256, size=(9, 9, 3), dtype=np.uint8)
    png = _encode_png(img, filters=[4, 3, 2, 1, 0])
    t = np.arange(4000) / 8000.0
    mono = (0.25 * np.sin(2 * np.pi * 220 * t) * 32767).astype("<i2")
    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(1)
        wf.setsampwidth(2)
        wf.setframerate(8000)
        wf.writeframes(mono.tobytes())
    wav = buf.getvalue()
    jpeg = b"\xff\xd8\xff\xe0" + b"\x00" * 32

    df = spark.createDataFrame(
        [(0, bytearray(png), "image/png"),
         (1, bytearray(wav), "audio/wav"),
         (2, bytearray(jpeg), "image/jpeg"),
         (3, None, "image/png")],
        "doc_id long, payload binary, mime string",
    )
    out = {
        r["doc_id"]: r
        for r in multimodal.extract_features(df, dim=16, mode="real").collect()
    }
    # PNG row: real luminance stats
    lum = img.mean(axis=2) / 255.0
    assert out[0]["decoder"] == "stdlib-png"
    f = out[0]["feature"]
    assert f[:3] == [9.0, 9.0, 3.0]
    assert abs(f[3] - lum.mean()) < 1e-5 and abs(f[4] - lum.std()) < 1e-5
    assert abs(sum(f[5:]) - 1.0) < 1e-5  # histogram fractions
    # WAV row: real sample stats
    x = mono.astype(np.float64) / 32768.0
    g = out[1]["feature"]
    assert out[1]["decoder"] == "stdlib-wav"
    assert g[:3] == [8000.0, 1.0, 0.5]
    assert abs(g[3] - np.sqrt((x ** 2).mean())) < 1e-5
    # JPEG: honest per-row stub marker, job alive
    assert out[2]["decoder"] == "unsupported:jpeg" and out[2]["feature"] is None
    assert out[3]["decoder"] == "null" and out[3]["feature"] is None


def test_real_mode_survives_corrupt_payloads(spark):
    # Malformed bytes BEHIND valid magic numbers — the scraped-corpus
    # reality: truncated PNG (signature only), corrupt deflate in IDAT,
    # WAV with an empty data chunk, WAV with a degenerate fmt. Every row
    # must be marked, none may kill the task.
    import io
    import struct
    import wave
    import zlib

    import numpy as np

    sig_only = b"\x89PNG\r\n\x1a\n"
    # valid IHDR, garbage IDAT bytes
    def chunk(typ, data):
        return (
            struct.pack(">I", len(data)) + typ + data
            + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
        )
    bad_idat = (
        sig_only
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 4, 4, 8, 2, 0, 0, 0))
        + chunk(b"IDAT", b"\x00notdeflate")
        + chunk(b"IEND", b"")
    )
    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(1)
        wf.setsampwidth(2)
        wf.setframerate(8000)
        wf.writeframes(b"")  # EMPTY data chunk
    empty_wav = buf.getvalue()
    degenerate_wav = (
        b"RIFF" + struct.pack("<I", 36) + b"WAVE"
        + b"fmt " + struct.pack("<I", 16)
        + struct.pack("<HHIIHH", 1, 0, 0, 0, 0, 16)  # n_ch=0, rate=0
        + b"data" + struct.pack("<I", 0)
    )
    df = spark.createDataFrame(
        [(0, bytearray(sig_only), "image/png"),
         (1, bytearray(bad_idat), "image/png"),
         (2, bytearray(empty_wav), "audio/wav"),
         (3, bytearray(degenerate_wav), "audio/wav")],
        "doc_id long, payload binary, mime string",
    )
    out = {
        r["doc_id"]: r
        for r in multimodal.extract_features(df, dim=16, mode="real").collect()
    }
    assert out[0]["decoder"] == "unsupported:png-corrupt"
    assert out[1]["decoder"] == "unsupported:png-corrupt"
    # empty data chunk is a VALID empty clip: duration 0, rms 0, all-zero histogram
    assert out[2]["decoder"] == "stdlib-wav"
    f = out[2]["feature"]
    assert f[2] == 0.0 and f[3] == 0.0 and sum(f[5:]) == 0.0
    assert out[3]["decoder"] == "unsupported:wav-corrupt"


def test_audio_meta_parses_struct_built_headers(spark):
    # Focused witness for the r11 SQL-text respelling of audio_meta:
    # headers built with Python struct (ground truth independent of the
    # expression spelling), plus the NULL-gated branches (non-WAV magic,
    # NULL payload). Field offsets: channels@23 u16, rate@25 u32,
    # bits@35 u16, data@41 u32, all little-endian.
    import struct

    def wav(ch: int, rate: int, bits: int, data: int) -> bytes:
        block = ch * bits // 8
        return (
            b"RIFF" + struct.pack("<I", 36 + data) + b"WAVE"
            + b"fmt " + struct.pack("<I", 16)
            + struct.pack(
                "<HHIIHH", 1, ch, rate, rate * block, block, bits
            )
            + b"data" + struct.pack("<I", data)
        )

    df = spark.createDataFrame(
        [
            (0, bytearray(wav(2, 44100, 16, 88200))),
            (1, bytearray(wav(1, 8000, 16, 4000))),
            # u32 data size with the high bit set: must read unsigned
            (2, bytearray(wav(1, 48000, 16, 0x80000001))),
            (3, bytearray(b"\x89PNG\r\n\x1a\x0a")),  # non-WAV magic
            (4, None),  # NULL payload
        ],
        "doc_id long, payload binary",
    )
    out = {r["doc_id"]: r for r in multimodal.audio_meta(df).collect()}
    r0 = out[0]
    assert r0["is_wav"] and r0["channels"] == 2 and r0["sample_rate"] == 44100
    assert r0["bits_per_sample"] == 16 and r0["data_size"] == 88200
    # 88200 bytes / (44100 * 2 ch * 16 bit / 8000) = 500 ms exactly
    assert r0["duration_ms"] == 500
    r1 = out[1]
    assert r1["is_wav"] and r1["duration_ms"] == 250
    r2 = out[2]
    assert r2["data_size"] == 0x80000001  # unsigned, not sign-extended
    assert r2["duration_ms"] == (0x80000001 * 8000) // (48000 * 1 * 16)
    assert not out[3]["is_wav"] and out[3]["channels"] is None
    assert out[3]["duration_ms"] is None
    assert not out[4]["is_wav"] and out[4]["data_size"] is None
