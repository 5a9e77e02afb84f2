"""REAL media metadata codecs over synthesized wire-format payloads.

Every payload here is a byte-valid file of its format, built from the
spec (PNG chunk CRCs, BMP/GIF little-endian headers, a JPEG SOF0
segment walk, a WAV written by the stdlib wave module) — so the decode
path under test is the real one, not a fixture shortcut.
"""

from __future__ import annotations

import io
import struct
import zlib

from pyspark.sql import functions as F

from databus_spark.operators.multimodal import media_meta_probe, parse_media_meta


def make_png(w: int, h: int) -> bytes:
    def chunk(tag: bytes, body: bytes) -> bytes:
        raw = tag + body
        return struct.pack(">I", len(body)) + raw + struct.pack(">I", zlib.crc32(raw))

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)  # 8-bit grayscale
    scanlines = b"".join(b"\x00" + b"\x7f" * w for _ in range(h))
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(scanlines))
        + chunk(b"IEND", b"")
    )


def make_gif(w: int, h: int) -> bytes:
    return b"GIF89a" + struct.pack("<HH", w, h) + b"\x00\x00\x00" + b"\x3b"


def make_bmp(w: int, h: int) -> bytes:
    row = (w * 3 + 3) & ~3
    size = 54 + row * h
    header = b"BM" + struct.pack("<IHHI", size, 0, 0, 54)
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, row * h, 2835, 2835, 0, 0)
    return header + info + b"\x00" * (row * h)


def make_jpeg(w: int, h: int) -> bytes:
    app0 = b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x02\x00\x00\x01\x00\x01\x00\x00"
    sof0 = b"\xff\xc0" + struct.pack(">HBHHB", 11, 8, h, w, 1) + b"\x01\x11\x00"
    return b"\xff\xd8" + app0 + sof0 + b"\xff\xd9"


def make_wav(rate: int, n_frames: int, amplitude: int = 1000) -> bytes:
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(2)
        wf.setsampwidth(2)
        wf.setframerate(rate)
        frames = struct.pack("<h", amplitude) * (2 * n_frames)
        wf.writeframes(frames)
    return buf.getvalue()


def test_parse_media_meta_real_formats():
    png = parse_media_meta(make_png(320, 200))
    assert (png["mime"], png["width"], png["height"]) == ("image/png", 320, 200)

    gif = parse_media_meta(make_gif(17, 9))
    assert (gif["mime"], gif["width"], gif["height"]) == ("image/gif", 17, 9)

    bmp = parse_media_meta(make_bmp(33, 21))
    assert (bmp["mime"], bmp["width"], bmp["height"]) == ("image/bmp", 33, 21)

    jpg = parse_media_meta(make_jpeg(640, 480))
    assert (jpg["mime"], jpg["width"], jpg["height"]) == ("image/jpeg", 640, 480)

    wav = parse_media_meta(make_wav(8000, 4000, amplitude=1000))
    assert wav["mime"] == "audio/wav"
    assert wav["n_channels"] == 2
    assert wav["sample_rate_hz"] == 8000
    assert wav["duration_ms"] == 500
    assert wav["rms_energy"] == 1000  # constant-amplitude signal: rms == amp

    junk = parse_media_meta(b"not a media file at all")
    assert junk["mime"] == "application/octet-stream"
    assert junk["width"] is None

    # torn header: data, not a crash
    torn = parse_media_meta(b"\x89PNG\r\n\x1a\n\x00\x00")
    assert torn["mime"] == "application/octet-stream"

    # torn WAV (truncated mid-container): parse-layer error -> opaque
    torn_wav = parse_media_meta(make_wav(8000, 4000)[:32])
    assert torn_wav["mime"] == "application/octet-stream"


def test_pcm_rms_matches_audioop(spark):
    """pcm_rms is pinned against audioop.rms while the interpreter still
    ships it (the module is gone in Python 3.13): on the frames of the
    WAV fixtures and on seeded random buffers of every sample width, and
    a fragment cut mid-sample degrades to opaque bytes as before."""
    import warnings
    import wave

    import numpy as np
    import pytest

    from databus_spark.operators.multimodal import (
        AudioFormatError,
        pcm_rms,
        synth_audio_corpus,
        synth_wav_corpus,
    )

    with warnings.catch_warnings():
        warnings.simplefilter("ignore", DeprecationWarning)
        audioop = pytest.importorskip("audioop")

    docs = spark.createDataFrame(
        [(d, 37 * d % 700) for d in range(12)], "doc_id BIGINT, n_chars INT"
    )
    wavs = [make_wav(8000, 4000, amplitude=1000), make_wav(16000, 16000, amplitude=-32768)]
    wavs += [bytes(r["media"]) for r in synth_wav_corpus(docs).collect()]
    wavs += [bytes(r["media"]) for r in synth_audio_corpus(docs).collect()]
    for wav in wavs:
        with wave.open(io.BytesIO(wav)) as wf:
            width, raw = wf.getsampwidth(), wf.readframes(wf.getnframes())
        assert pcm_rms(raw, width) == audioop.rms(raw, width)

    rng = np.random.default_rng(20261017)
    for width in (1, 2, 3, 4):
        for n in (0, 1, 2, 7, 1000, 100_003):
            buf = rng.integers(0, 256, size=n * width, dtype=np.uint8).tobytes()
            assert pcm_rms(buf, width) == audioop.rms(buf, width), (width, n)
        most_negative = b"\x00" * (width - 1) + b"\x80"
        assert pcm_rms(most_negative * 99, width) == audioop.rms(most_negative * 99, width)

    for buf, width in ((b"\x00" * 5, 2), (b"\x00" * 5, 4), (b"\x00" * 10, 5)):
        with pytest.raises(audioop.error):
            audioop.rms(buf, width)
        with pytest.raises(AudioFormatError):
            pcm_rms(buf, width)
    # WAV data cut mid-sample: the parse-layer error degrades to opaque
    torn = parse_media_meta(make_wav(8000, 400)[:-1])
    assert torn["mime"] == "application/octet-stream"


def test_parse_media_meta_propagates_programming_bugs(monkeypatch):
    """The degrade-to-opaque handler is narrowed to parse-layer
    exception types: a planted AttributeError (the canonical
    future-edit bug) must PROPAGATE, not silently reclassify every
    payload as opaque bytes."""
    import wave

    import pytest

    def broken_open(*a, **k):
        raise AttributeError("planted bug: future edit touched wave usage")

    monkeypatch.setattr(wave, "open", broken_open)
    with pytest.raises(AttributeError, match="planted bug"):
        parse_media_meta(make_wav(8000, 400))


def test_media_meta_probe_distributed(spark):
    rows = [
        (1, make_png(320, 200)),
        (2, make_gif(17, 9)),
        (3, make_jpeg(640, 480)),
        (4, make_wav(16000, 16000)),
        (5, b"opaque junk"),
    ]
    df = spark.createDataFrame(rows, "doc_id BIGINT, media BINARY")
    got = {r["doc_id"]: r.asDict() for r in media_meta_probe(df).collect()}
    assert got[1]["mime"] == "image/png" and got[1]["width"] == 320
    assert got[2]["height"] == 9
    assert got[3]["width"] == 640
    assert got[4]["sample_rate_hz"] == 16000 and got[4]["duration_ms"] == 1000
    assert got[5]["mime"] == "application/octet-stream"
    assert all(r["n_bytes"] > 0 for r in got.values())

    # the decode stage stays Arrow-batched (never row-at-a-time Python)
    plan = media_meta_probe(df)._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan


def test_png_decode_spec_vector():
    """Decoder pinned against HAND-FILTERED bytes (PNG spec §9), so a
    symmetric encode/decode bug cannot hide behind the round-trip:
    row0 uses filter 1 (Sub): raw [10, 20] -> stored [10, 10];
    row1 uses filter 4 (Paeth): raw [30, 40] -> stored [20, 10]
    (j0: pred = up = 10; j1: pred = left = 30)."""
    import struct
    import zlib

    from databus_spark.operators.multimodal import png_decode

    def chunk(tag, body):
        return (
            struct.pack(">I", len(body))
            + tag
            + body
            + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 0, 0, 0, 0)  # 2x2 gray
    raw = bytes([1, 10, 10]) + bytes([4, 20, 10])
    payload = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )
    px = png_decode(payload)
    assert px.shape == (2, 2, 1)
    assert px[:, :, 0].tolist() == [[10, 20], [30, 40]]


def test_png_roundtrip_all_filters_and_rgb():
    import numpy as np

    from databus_spark.operators.multimodal import png_decode, png_encode

    gray = ((np.arange(64).reshape(8, 8) * 37 + 11) % 256).astype("uint8")
    assert (png_decode(png_encode(gray))[:, :, 0] == gray).all()
    rgb = ((np.arange(192).reshape(8, 8, 3) * 29 + 5) % 256).astype("uint8")
    assert (png_decode(png_encode(rgb)) == rgb).all()


def test_png_decode_rejects_torn_payloads():
    import pytest as _pytest

    from databus_spark.operators.multimodal import png_decode, png_encode
    import numpy as np

    good = png_encode(np.zeros((4, 4), dtype="uint8"))
    with _pytest.raises(ValueError):
        png_decode(good[:-20] + b"\x00" * 4)  # truncated IDAT stream
    with _pytest.raises(ValueError):
        png_decode(b"not a png at all")


def test_png_decode_short_ihdr_is_value_error():
    """A truncated IHDR body must surface as ValueError (quarantinable
    data), never struct.error (task crash)."""
    import pytest as _pytest
    import numpy as np

    from databus_spark.operators.multimodal import png_decode, png_encode

    good = png_encode(np.zeros((4, 4), dtype="uint8"))
    with _pytest.raises(ValueError):
        png_decode(good[:20])  # signature + cut-short IHDR


def test_jpeg_constant_blocks_roundtrip_exact():
    """Constant 8x8 blocks have a DC-only DCT, so under the flat q=1
    table the baseline-JPEG round trip is bit-exact — the property the
    oracle's closed-form pixel stats rely on."""
    import numpy as np

    from databus_spark.operators.multimodal import jpeg_decode, jpeg_encode

    for d in (0, 1, 42, 255, 1000):
        img = np.zeros((16, 16), dtype=np.uint8)
        for b, (by, bx) in enumerate(((0, 0), (0, 1), (1, 0), (1, 1))):
            img[by * 8:(by + 1) * 8, bx * 8:(bx + 1) * 8] = (d * 7 + b * 31) % 256
        assert np.array_equal(jpeg_decode(jpeg_encode(img)), img)


def test_jpeg_ac_path_differential_idct():
    """The general (AC-coefficient) path: encode arbitrary patterns,
    decode, and compare against an INDEPENDENT reference decode that
    re-derives each block with an explicit double-loop cos IDCT from the
    encoder's own quantized coefficients — a different code path than
    jpeg_decode's matrix IDCT, so a symmetric encoder/decoder bug can't
    hide. Also asserts the q=1 round trip stays within the +-1 DCT
    rounding envelope of the source."""
    import math

    import numpy as np

    from databus_spark.operators.multimodal import (
        _dct_matrix,
        jpeg_decode,
        jpeg_encode,
    )

    patterns = [
        ((np.arange(256).reshape(16, 16) * 13 + 7) % 256).astype(np.uint8),
        np.fromfunction(lambda r, c: (r * 16 + c * 3) % 256, (16, 24)).astype(np.uint8),
        (np.indices((8, 8)).sum(axis=0) % 2 * 255).astype(np.uint8),  # checkerboard
    ]
    m = _dct_matrix()
    for img in patterns:
        got = jpeg_decode(jpeg_encode(img))
        assert got.shape == img.shape
        # +-1 envelope vs the source (flat q=1: only DCT rounding error)
        assert int(np.abs(got.astype(int) - img.astype(int)).max()) <= 1

        # independent reference: quantized coeffs -> explicit cos IDCT
        h, w = img.shape
        ref = np.zeros_like(img)
        for by in range(h // 8):
            for bx in range(w // 8):
                blk = img[by*8:(by+1)*8, bx*8:(bx+1)*8].astype(np.float64) - 128.0
                q = np.rint(m @ blk @ m.T)
                rec = np.zeros((8, 8))
                for x in range(8):
                    for y in range(8):
                        s = 0.0
                        for u in range(8):
                            for v in range(8):
                                cu = 1 / math.sqrt(2) if u == 0 else 1.0
                                cv = 1 / math.sqrt(2) if v == 0 else 1.0
                                s += (cu * cv / 4) * q[u, v] \
                                    * math.cos((2*x+1)*u*math.pi/16) \
                                    * math.cos((2*y+1)*v*math.pi/16)
                        rec[x, y] = s
                ref[by*8:(by+1)*8, bx*8:(bx+1)*8] = np.clip(
                    np.rint(rec) + 128, 0, 255
                ).astype(np.uint8)
        assert np.array_equal(got, ref)


def test_jpeg_decode_rejects_unsupported_and_torn():
    import numpy as np
    import pytest as _pytest

    from databus_spark.operators.multimodal import jpeg_decode, jpeg_encode

    good = jpeg_encode(np.zeros((8, 8), dtype=np.uint8))
    with _pytest.raises(ValueError):
        jpeg_decode(b"not a jpeg")
    with _pytest.raises(ValueError):
        jpeg_decode(good[:30])  # cut before SOS
    # progressive marker (SOF2) must be rejected, not mis-decoded
    prog = bytearray(good)
    i = prog.find(b"\xff\xc0")
    prog[i + 1] = 0xC2
    with _pytest.raises(ValueError):
        jpeg_decode(bytes(prog))


def test_jpeg_decode_rejects_hostile_geometry():
    """A ~100-byte payload declaring h=w=65528 in SOF would allocate a
    ~4.3 GB array and run ~67M block decodes; the SOF guard must reject
    it as ValueError (the quarantine contract) BEFORE any allocation."""
    import struct

    import numpy as np
    import pytest as _pytest

    from databus_spark.operators.multimodal import jpeg_decode, jpeg_encode

    good = jpeg_encode(np.zeros((8, 8), dtype=np.uint8))
    i = good.find(b"\xff\xc0")
    # SOF0 body layout: len(2) prec(1) h(2) w(2) nc(1) ...
    bomb = bytearray(good)
    bomb[i + 5:i + 9] = struct.pack(">HH", 65528, 65528)
    with _pytest.raises(ValueError, match="cap|implausible"):
        jpeg_decode(bytes(bomb))
    # dims under the cap but absurd versus the payload size also fail
    bomb[i + 5:i + 9] = struct.pack(">HH", 4096, 4096)
    with _pytest.raises(ValueError, match="cap|implausible"):
        jpeg_decode(bytes(bomb))


def test_png_decode_rejects_hostile_geometry():
    """PNG IHDR declaring a huge canvas must fail as ValueError before
    the inflate sizes any buffer from it; a zlib stream longer than the
    declared geometry is bounded by max_length, not trusted."""
    import struct
    import zlib

    import numpy as np
    import pytest as _pytest

    from databus_spark.operators.multimodal import png_decode, png_encode

    good = png_encode(np.zeros((8, 8), dtype=np.uint8))
    i = good.find(b"IHDR")
    bomb = bytearray(good)
    bomb[i + 4:i + 12] = struct.pack(">II", 1 << 16, 1 << 16)
    with _pytest.raises(ValueError):
        png_decode(bytes(bomb))
    # oversized-inflate path: legit dims, IDAT inflating past geometry
    over = bytearray(png_encode(np.zeros((8, 8), dtype=np.uint8)))
    j = over.find(b"IDAT")
    (length,) = struct.unpack(">I", over[j - 4:j])
    big = zlib.compress(b"\x00" * 10_000)  # >> 8*(8+1) declared bytes
    patched = (
        bytes(over[:j - 4])
        + struct.pack(">I", len(big))
        + b"IDAT"
        + big
        + struct.pack(">I", zlib.crc32(b"IDAT" + big) & 0xFFFFFFFF)
        + bytes(over[j + 4 + length + 4:])
    )
    with _pytest.raises(ValueError):
        png_decode(patched)


def test_jpeg_probe_distributed(spark):
    """The Arrow-batched probe over a synthesized corpus: closed-form
    stats per doc (what the driver's oracle checks at sf0.01)."""
    from databus_spark.operators.multimodal import media_jpeg_probe, synth_jpeg_corpus

    docs = spark.range(0, 40).selectExpr("id AS doc_id")
    got = {r["doc_id"]: r for r in media_jpeg_probe(synth_jpeg_corpus(docs)).collect()}
    assert len(got) == 40
    for d, r in got.items():
        vs = [(d * 7 + b * 31) % 256 for b in range(4)]
        assert (r["width"], r["height"]) == (16, 16)
        assert r["pixel_sum"] == 64 * sum(vs)
        assert r["px_min"] == min(vs) and r["px_max"] == max(vs)


def test_avi_mjpeg_roundtrip_and_demux():
    """The RIFF/AVI writer+demuxer agree on frame count, order, and
    bytes; decoded frames are bit-exact for constant-block content."""
    import numpy as np

    from databus_spark.operators.multimodal import avi_encode, avi_frames, jpeg_decode

    frames = []
    for f in range(4):
        img = np.full((16, 16), (f * 40 + 7) % 256, dtype=np.uint8)
        frames.append(img)
    blob = avi_encode(frames)
    outs = avi_frames(blob)
    assert len(outs) == 4
    for i, fr in enumerate(outs):
        assert np.array_equal(jpeg_decode(fr), frames[i])


def test_avi_rejects_torn_and_foreign():
    import numpy as np
    import pytest as _pytest

    from databus_spark.operators.multimodal import avi_encode, avi_frames

    blob = avi_encode([np.zeros((8, 8), dtype=np.uint8)])
    with _pytest.raises(ValueError):
        avi_frames(b"RIFFxxxxWAVE")  # wrong RIFF kind
    with _pytest.raises(ValueError):
        avi_frames(blob[:60])  # torn mid-header


def test_video_frame_probe_distributed(spark):
    from databus_spark.operators.multimodal import synth_avi_corpus, video_frame_probe

    docs = spark.range(0, 20).selectExpr("id AS doc_id")
    rows = video_frame_probe(synth_avi_corpus(docs)).collect()
    assert len(rows) == 60  # 20 docs x 3 frames
    got = {(r["doc_id"], r["frame_idx"]): r for r in rows}
    for d in range(20):
        for f in range(3):
            vs = [(d * 7 + f * 17 + b * 31) % 256 for b in range(4)]
            r = got[(d, f)]
            assert r["pixel_sum"] == 64 * sum(vs)
            assert r["px_min"] == min(vs) and r["px_max"] == max(vs)


def test_decoders_quarantine_contract_under_fuzz():
    """Every malformed payload must fail as ValueError — any other
    exception class escaping a decoder would crash the executor task
    instead of landing in the quarantine leg. Deterministic fuzz:
    byte flips, truncations, and garbage tails over valid JPEG/AVI/PNG
    payloads (this caught struct.error and IndexError escapes in
    jpeg_decode)."""
    import random

    import numpy as np

    from databus_spark.operators.multimodal import (
        avi_encode,
        avi_frames,
        jpeg_decode,
        jpeg_encode,
        png_decode,
        png_encode,
    )

    img = np.zeros((8, 8), dtype=np.uint8)
    seeds = [jpeg_encode(img), avi_encode([img]), png_encode(img)]
    rng = random.Random(7)
    escapes = []
    for trial in range(3000):
        b = bytearray(seeds[trial % 3])
        for _ in range(rng.randint(1, 6)):
            op = rng.random()
            if op < 0.4 and len(b) > 4:
                b[rng.randrange(len(b))] = rng.randrange(256)
            elif op < 0.7 and len(b) > 2:
                b = bytearray(b[: rng.randrange(1, len(b))])
            else:
                b += bytes(rng.randrange(8))
        for fn in (jpeg_decode, avi_frames, png_decode):
            try:
                fn(bytes(b))
            except ValueError:
                pass
            except Exception as e:  # noqa: BLE001 — the assertion target
                escapes.append((fn.__name__, type(e).__name__, str(e)[:80]))
    assert not escapes, escapes[:5]


def _dhash_py(px):
    """Independent reference dHash (row-major gradient-sign bits)."""
    h = 0
    for r in range(8):
        for c in range(7):
            if px[r][c + 1] > px[r][c]:
                h |= 1 << (r * 7 + c)
    return h


def test_dhash_brightness_invariance_and_local_edit():
    """The perceptual-hash contract the dedup query relies on:
    brightness-shifted variants (v0/v1/v2) hash IDENTICALLY through the
    real encode->decode->hash path, and the locally-edited variant (v3)
    lands within Hamming distance 2 of the base."""
    import numpy as np

    from databus_spark.operators.multimodal import png_decode, png_encode

    r = np.arange(8, dtype=np.int64).reshape(8, 1)
    c = np.arange(8, dtype=np.int64).reshape(1, 8)
    for g in (0, 7, 139, 140, 1234):
        b = (g * 8191 + r * 8 + c + 1) % 999983
        base = 40 + (b * b % 999983) % 140
        hashes = []
        for v in range(4):
            px = base.copy()
            if v == 3:
                px[g % 8, g % 7] += 60
            else:
                px = px + v
            decoded = png_decode(png_encode(px.astype("uint8")))[:, :, 0]
            assert (decoded == px).all()  # real codec is lossless
            hashes.append(_dhash_py(decoded.astype(int).tolist()))
        assert hashes[0] == hashes[1] == hashes[2]
        assert bin(hashes[3] ^ hashes[0]).count("1") <= 2


def test_image_dhash_spark_matches_reference(spark):
    """Spark image_dhash over the synthesized corpus == the independent
    per-pixel reference, and dedup classes group all brightness
    variants of a group together."""
    from databus_spark.operators.multimodal import (
        dhash_dedup_classes,
        image_dhash,
        synth_phash_corpus,
    )

    docs = spark.range(48).withColumnRenamed("id", "doc_id")
    hashed = image_dhash(synth_phash_corpus(docs)).collect()
    assert len(hashed) == 48
    got = {r["doc_id"]: r["dhash"] for r in hashed}
    import numpy as np

    rr = np.arange(8, dtype=np.int64).reshape(8, 1)
    cc = np.arange(8, dtype=np.int64).reshape(1, 8)
    for d, h in got.items():
        g, v = d // 4, d % 4
        b = (g * 8191 + rr * 8 + cc + 1) % 999983
        px = 40 + (b * b % 999983) % 140
        if v == 3:
            px = px.copy()
            px[g % 8, g % 7] += 60
        else:
            px = px + v
        assert h == _dhash_py(px.astype(int).tolist()), d
    classes = dhash_dedup_classes(
        image_dhash(synth_phash_corpus(docs))
    ).collect()
    # every class's brightness triple stays together: the class holding
    # doc 4g must also hold 4g+1 and 4g+2
    by_hash = {r["dhash"]: r for r in classes}
    for g in range(12):
        base_h = got[4 * g]
        assert got[4 * g + 1] == base_h and got[4 * g + 2] == base_h
        assert by_hash[base_h]["n_docs"] >= 3


def test_audio_fingerprint_gain_invariance(spark):
    """The audio-fingerprint contract: gain-scaled variants (v0/v1/v2)
    fingerprint identically through the real WAV encode->decode path;
    the frame-bumped variant lands within Hamming distance 2."""
    from databus_spark.operators.multimodal import (
        audio_fingerprint,
        synth_audio_corpus,
    )

    docs = spark.range(48).withColumnRenamed("id", "doc_id")
    got = {
        r["doc_id"]: r["audio_fp"]
        for r in audio_fingerprint(synth_audio_corpus(docs)).collect()
    }
    assert len(got) == 48
    for g in range(12):
        base = got[4 * g]
        assert got[4 * g + 1] == base and got[4 * g + 2] == base
        assert bin(got[4 * g + 3] ^ base).count("1") <= 2
    # independent closed-form reference for a few docs
    for d in (0, 5, 11, 47):
        g, v = d // 4, d % 4
        gain = 1 if v == 3 else v + 1
        amps = [
            (200 + (((g * 8191 + f + 1) % 999983) ** 2 % 999983) % 800) * gain
            + (500 if v == 3 and f == g % 64 else 0)
            for f in range(64)
        ]
        ref = sum(1 << f for f in range(63) if amps[f + 1] > amps[f])
        assert got[d] == ref, d


def test_media_dhash_incremental_matches_sibling(spark, tmp_path):
    """A delta image whose brightness sibling sits in the base index
    matches it at hamming 0 with the lowest-id tiebreak."""
    from databus_spark.operators.dedup import (
        bithash_bands,
        incremental_bithash_dedup,
    )
    from databus_spark.operators.multimodal import image_dhash, synth_phash_corpus

    docs = spark.range(48).withColumnRenamed("id", "doc_id")
    from pyspark.sql import functions as F

    media = synth_phash_corpus(docs)
    base = image_dhash(media.where(F.col("doc_id") % 5 != 0))
    delta = image_dhash(media.where(F.col("doc_id") % 5 == 0))
    out = {
        r["doc_id"]: r
        for r in incremental_bithash_dedup(
            delta, bithash_bands(base, "dhash", 56, 2, "base_doc"), 56
        ).collect()
    }
    # doc 20 = group 5 variant 0; siblings 21/22 (identical hash) are in
    # base -> best match is the LOWEST id at hamming 0
    assert out[20]["matched_base"] == 21
    assert out[20]["best_hamming"] == 0 and not out[20]["is_new"]
    # every delta doc has its brightness triple partially in base at
    # this size -> nothing is_new, and hamming never exceeds the bound
    assert all(not r["is_new"] and r["best_hamming"] <= 2 for r in out.values())


def test_media_decision_log_invariants(spark, sf_dir):
    """Governance invariants on the image decision log: every doc has
    exactly one decision, every survivor_id IS a kept doc, kept docs
    point at themselves, and the keep-set equals the perceptual-class
    survivors filtered through cluster survivorship."""
    from databus_spark.registry import QUERIES

    rows = QUERIES["media_decision_log"](spark, sf_dir).collect()
    by_doc = {r["doc_id"]: r for r in rows}
    n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    assert len(by_doc) == n_docs  # every image decided, exactly once
    kept = {d for d, r in by_doc.items() if r["decision"] == "keep"}
    for d, r in by_doc.items():
        assert r["survivor_id"] in kept, (d, r)
        if r["decision"] == "keep":
            assert r["survivor_id"] == d
        else:
            assert r["survivor_id"] < d  # pointers strictly decrease


def test_image_dhash_large_image_downsamples_to_56_bits(spark):
    """Real-world geometry guard: for any input larger than 8x8 the
    hash comes from an even-stride 8x8 downsample, so it is always
    exactly 56 bits — int64 shifts past 63 wrap silently on x86, which
    made pre-fix hashes of wide images platform-dependent garbage."""
    import numpy as np

    from databus_spark.operators.multimodal import image_dhash, png_encode

    rng = np.arange(16 * 16, dtype=np.int64).reshape(16, 16)
    px = ((rng * rng + 7) % 251).astype("uint8")
    media = spark.createDataFrame(
        [(1, bytearray(png_encode(px)))], "doc_id BIGINT, media BINARY"
    )
    got = image_dhash(media).collect()
    assert len(got) == 1
    h = got[0]["dhash"]
    assert 0 <= h < (1 << 56)
    idx = (np.arange(8) * 16) // 8
    small = px.astype(np.int64)[np.ix_(idx, idx)]
    expect = sum(
        1 << (r * 7 + c)
        for r in range(8)
        for c in range(7)
        if small[r, c + 1] > small[r, c]
    )
    assert h == expect


def test_audio_fingerprint_long_audio_fits_63_bits(spark):
    """A 300-frame WAV (real-world length, vs the 64-frame fixture)
    must fingerprint from a 64-point even-stride energy profile: the
    result always fits 63 bits and matches the independent closed
    form; pre-fix the shift count ran to n_frames-1 and wrapped."""
    import io
    import struct as pystruct
    import wave

    import numpy as np

    from databus_spark.operators.multimodal import (
        AUDIO_FRAME_LEN,
        audio_fingerprint,
    )

    n_frames = 300
    amps = [(37 * f * f + 11) % 800 + 100 for f in range(n_frames)]
    frames = b"".join(
        pystruct.pack("<h", a) * AUDIO_FRAME_LEN for a in amps
    )
    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(1)
        wf.setsampwidth(2)
        wf.setframerate(8000)
        wf.writeframes(frames)
    media = spark.createDataFrame(
        [(1, bytearray(buf.getvalue()))], "doc_id BIGINT, media BINARY"
    )
    got = audio_fingerprint(media).collect()
    assert len(got) == 1
    fp = got[0]["audio_fp"]
    assert 0 <= fp < (1 << 63)
    sampled = [amps[(i * n_frames) // 64] for i in range(64)]
    expect = sum(1 << f for f in range(63) if sampled[f + 1] > sampled[f])
    assert fp == expect


def test_audio_fingerprint_quarantines_torn_wav(spark):
    """Truncated WAV containers raise parse-layer errors (wave.Error /
    EOFError / struct.error / RuntimeError) inside stdlib wave; all
    four must quarantine (drop the row), not crash the task."""
    from databus_spark.operators.multimodal import (
        audio_fingerprint,
        synth_audio_corpus,
    )

    good = synth_audio_corpus(
        spark.range(1).withColumnRenamed("id", "doc_id")
    ).collect()[0]["media"]
    torn = [bytes(good)[:cut] for cut in (4, 11, 14, 21, 30, 43)]
    media = spark.createDataFrame(
        [(i, bytearray(b)) for i, b in enumerate(torn)],
        "doc_id BIGINT, media BINARY",
    )
    assert audio_fingerprint(media).count() == 0


def test_png_decode_rejects_idat_cut_before_trailer():
    """An IDAT holding the full deflate payload but cut before the
    zlib Adler-32 trailer is a torn container: decompressobj reports
    it only via .eof, which the quarantine contract must check."""
    import struct as pystruct
    import zlib

    import numpy as np
    import pytest

    from databus_spark.operators.multimodal import png_decode, png_encode

    px = (np.arange(64, dtype=np.int64).reshape(8, 8) % 200).astype("uint8")
    payload = png_encode(px)
    # walk chunks, truncate the zlib stream inside IDAT by 4 bytes
    i, out = 8, bytearray(payload[:8])
    while i + 8 <= len(payload):
        (length,) = pystruct.unpack(">I", payload[i : i + 4])
        tag = payload[i + 4 : i + 8]
        body = payload[i + 8 : i + 8 + length]
        if tag == b"IDAT":
            # verify the cut really lands mid-trailer, not mid-data
            dec = zlib.decompressobj()
            data = dec.decompress(bytes(body[:-4]))
            assert not dec.eof and dec.decompress(b"") == b""
            body = body[:-4]
        out += pystruct.pack(">I", len(body)) + tag + body
        out += payload[i + 8 + length : i + 12 + length]  # keep old crc field
        i += 12 + length
    with pytest.raises(ValueError, match="truncated IDAT"):
        png_decode(bytes(out))
