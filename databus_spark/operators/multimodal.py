"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Beyond-reference capability. Images/audio/video travel as `binary`
columns with a typed metadata struct; decode / feature-extract run as
Arrow-batched Pandas functions over mapInPandas. REAL, stdlib-only
codecs cover: header metadata for PNG/GIF/BMP/JPEG, full WAV decode
(wave + numpy RMS), and full PNG pixel decode (zlib inflate + all
five scanline filters, png_decode below) — each driven through the
oracle gate by a synthesized corpus with closed-form expected values.
Baseline grayscale JPEG decode (segment walk, Annex K Huffman, zigzag,
dequant, IDCT — jpeg_decode below) is real too, from the public ITU
T.81 spec, and video frame extraction is real for the MJPEG class
(RIFF/AVI demux + per-frame JPEG decode, avi_frames below). The only
remaining stub is inter-frame-predicted video (H.264/VP9/AV1): those
genuinely need ffmpeg, which this container does not ship.

Design for 100 TB: binary payloads stay opaque end-to-end (no JVM<->
Python round trip until the extract stage), rows flow through
mapInPandas in Arrow record batches, and the output schema is fixed so
the optimizer can prune. The reference's analogous stance: relays move
raw payload bytes without deserializing (DbusEventBuffer streamEvents,
core/DbusEventBuffer.java:2235-2560).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Pixel/sample DECODE for inter-frame-predicted video (H.264/VP9/AV1)
# still needs ffmpeg and stays stubbed; PNG (inflate + 5-filter
# defilter), baseline JPEG (Huffman + IDCT, jpeg_decode below),
# MJPEG/AVI frame extraction (avi_frames), WAV, and header-level
# metadata decode are all real, pure stdlib + numpy.
_REAL_CODECS_AVAILABLE = False

MEDIA_SCHEMA = (
    "doc_id BIGINT, media BINARY, "
    "meta STRUCT<mime: STRING, n_bytes: BIGINT, checksum: STRING>"
)

FEATURE_SCHEMA = (
    "doc_id BIGINT, n_bytes BIGINT, first_byte INT, last_byte INT, byte_sum BIGINT"
)


def attach_media(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Wrap each document's text bytes as an opaque media payload with
    typed metadata — the engine's canonical multimodal row shape."""
    media = F.encode(F.col(text_col), "UTF-8")
    return docs.select(
        "doc_id",
        media.alias("media"),
        F.struct(
            F.lit("application/octet-stream").alias("mime"),
            F.octet_length(media).cast("long").alias("n_bytes"),
            F.md5(F.col(text_col)).alias("checksum"),
        ).alias("meta"),
    )


def decode_media(payload: bytes) -> object:
    """Decode an image/audio/video payload to pixels/samples. PNG,
    baseline grayscale JPEG, MJPEG/AVI video frames, and WAV are REAL
    (png_decode, jpeg_decode, avi_frames, parse_media_meta); only
    inter-frame-predicted video still needs ffmpeg and stays stubbed
    here."""
    if payload[:8] == _PNG_SIG:
        return png_decode(payload)
    if payload[:2] == b"\xff\xd8":
        return jpeg_decode(payload)
    if payload[:4] == b"RIFF" and payload[8:12] == b"AVI ":
        return [jpeg_decode(fr) for fr in avi_frames(payload)]
    if payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
        import io
        import struct as _struct
        import wave

        try:
            with wave.open(io.BytesIO(payload)) as wf:
                return wf.readframes(wf.getnframes())
        except ValueError:
            raise
        except (wave.Error, EOFError, _struct.error, RuntimeError) as e:
            # stdlib wave raises exactly these parse-layer types on torn
            # containers — only THOSE are data; genuine programming bugs
            # (AttributeError, NameError, ...) must propagate, not be
            # quarantined as bad input
            raise ValueError(f"torn WAV: {e}") from e
    if not _REAL_CODECS_AVAILABLE:
        raise NotImplementedError(
            "inter-frame-predicted video (H.264/VP9/AV1) unavailable in "
            "this environment (needs ffmpeg); PNG, baseline JPEG, "
            "MJPEG/AVI frames, and WAV decode are real"
        )


# -- REAL metadata codecs (pure stdlib, no external libs) --------------------

MEDIA_META_SCHEMA = (
    "doc_id BIGINT, mime STRING, width INT, height INT, "
    "n_channels INT, sample_rate_hz INT, duration_ms BIGINT, "
    "rms_energy BIGINT, n_bytes BIGINT"
)

_NO_META = {
    "mime": "application/octet-stream",
    "width": None,
    "height": None,
    "n_channels": None,
    "sample_rate_hz": None,
    "duration_ms": None,
    "rms_energy": None,
}


class AudioFormatError(Exception):
    """A PCM fragment that is not whole samples of width 1-4 (the
    ``audioop.error`` analog): a parse-layer error, data not a bug."""


def pcm_rms(fragment: bytes, width: int) -> int:
    """Root-mean-square of signed little-endian PCM samples of ``width``
    bytes (1-4), truncated to an int — the replacement for
    ``audioop.rms``, which Python 3.13 removes. The squares are summed
    in sample order in float64 (``np.cumsum`` is sequential, unlike the
    pairwise ``np.sum``), the same arithmetic as audioop's C loop, so the
    two agree exactly."""
    import math

    import numpy as np

    if width not in (1, 2, 3, 4):
        raise AudioFormatError(f"sample width {width} is not 1-4")
    if len(fragment) % width:
        raise AudioFormatError("fragment is not a whole number of samples")
    if not fragment:
        return 0
    if width == 3:
        # 24-bit: shift each sample into the top of an int32, then an
        # arithmetic shift back sign-extends it
        padded = np.zeros((len(fragment) // 3, 4), dtype=np.uint8)
        padded[:, 1:] = np.frombuffer(fragment, dtype=np.uint8).reshape(-1, 3)
        samples = padded.view("<i4").ravel() >> 8
    else:
        samples = np.frombuffer(fragment, dtype=f"<i{width}")
    x = samples.astype(np.float64)
    return int(math.sqrt(np.cumsum(x * x)[-1] / len(samples)))


def parse_media_meta(payload: bytes) -> dict:
    """REAL format sniff + metadata decode for the container's
    libs-free environment: PNG/GIF/BMP/JPEG dimensions from their wire
    headers, WAV audio via the stdlib wave module and pcm_rms (channels,
    sample rate, duration, RMS energy). Unknown formats degrade to the
    opaque-bytes row, never an error — a corrupt header is data, not an
    ingest crash. Only PARSE-LAYER exception types degrade (same
    contract as decode_media's WAV leg and extract_features): genuine
    programming bugs (AttributeError, NameError, TypeError, ...) must
    propagate, or a future edit silently reclassifies every payload as
    opaque and no test fails."""
    import io
    import struct
    import wave

    out = dict(_NO_META)
    try:
        if payload[:8] == b"\x89PNG\r\n\x1a\n" and len(payload) >= 24:
            w, h = struct.unpack(">II", payload[16:24])
            out.update(mime="image/png", width=w, height=h)
        elif payload[:6] in (b"GIF87a", b"GIF89a") and len(payload) >= 10:
            w, h = struct.unpack("<HH", payload[6:10])
            out.update(mime="image/gif", width=w, height=h)
        elif payload[:2] == b"BM" and len(payload) >= 26:
            w, h = struct.unpack("<ii", payload[18:26])
            out.update(mime="image/bmp", width=w, height=abs(h))
        elif payload[:2] == b"\xff\xd8":
            # JPEG: walk segments to the first SOF frame header
            i = 2
            while i + 9 < len(payload):
                if payload[i] != 0xFF:
                    break
                marker = payload[i + 1]
                if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
                    i += 2
                    continue
                seg_len = struct.unpack(">H", payload[i + 2 : i + 4])[0]
                if marker in (0xC0, 0xC1, 0xC2, 0xC3):
                    h, w = struct.unpack(">HH", payload[i + 5 : i + 9])
                    out.update(mime="image/jpeg", width=w, height=h)
                    break
                i += 2 + seg_len
        elif payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
            with wave.open(io.BytesIO(payload)) as wf:
                rate = wf.getframerate()
                frames = wf.getnframes()
                width = wf.getsampwidth()
                out.update(
                    mime="audio/wav",
                    n_channels=wf.getnchannels(),
                    sample_rate_hz=rate,
                    duration_ms=int(frames * 1000 / rate) if rate else None,
                    rms_energy=pcm_rms(wf.readframes(frames), width)
                    if frames
                    else 0,
                )
    except (
        struct.error,  # unpack on a truncated header slice
        wave.Error,
        EOFError,
        AudioFormatError,
        RuntimeError,  # stdlib wave's torn-chunk path (see decode_media)
    ):
        return dict(_NO_META)  # torn/corrupt header -> opaque bytes
    return out


def media_meta_probe(media_df: DataFrame) -> DataFrame:
    """Arrow-batched REAL metadata extraction over the opaque media
    column — the decode stage a 100 TB multimodal pipeline runs before
    routing payloads to modality-specific feature extractors. Output
    schema is fixed (prunable); payloads only cross to Python here."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            metas = [parse_media_meta(bytes(b)) for b in pdf["media"]]
            out = pd.DataFrame(metas)
            out.insert(0, "doc_id", pdf["doc_id"].values)
            out["n_bytes"] = pdf["media"].map(len).astype("int64")
            yield out

    return media_df.mapInPandas(batches, MEDIA_META_SCHEMA)


def extract_features(media_df: DataFrame) -> DataFrame:
    """Feature extraction over Arrow batches (mapInPandas).

    With real codecs this would decode and embed; the deterministic
    fallback computes byte-level features so the distributed plumbing
    (batch shape, schema, partition flow) is fully exercised and
    oracle-checkable.
    """

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            payloads = pdf["media"]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": payloads.map(len).astype("int64"),
                    "first_byte": payloads.map(lambda b: b[0] if len(b) else -1).astype("int32"),
                    "last_byte": payloads.map(lambda b: b[-1] if len(b) else -1).astype("int32"),
                    "byte_sum": payloads.map(lambda b: int(sum(b))).astype("int64"),
                }
            )

    return media_df.mapInPandas(batches, FEATURE_SCHEMA)


MEDIA_FEATURES_SQL = """
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           CAST(ascii(substr(text, 1, 1)) AS INT) AS first_byte,
           CAST(ascii(substr(text, length(text), 1)) AS INT) AS last_byte,
           CAST(list_sum(list_transform(range(1, length(text)+1),
                i -> ascii(substr(text, i, 1)))) AS BIGINT) AS byte_sum
    FROM documents
"""


def synth_wav_corpus(docs: DataFrame) -> DataFrame:
    """Deterministic WAV payload per document (FIXTURE for the codec
    path): mono 8 kHz, 16-bit, constant amplitude 500 + doc_id % 1000,
    100 + n_chars % 500 frames — every metadata field the probe decodes
    is a closed-form function of (doc_id, n_chars), so a SQL oracle can
    check the REAL wave/pcm_rms decode end-to-end. Arrow-batched
    synthesis; payload bytes never leave the executors."""
    import io
    import struct
    import wave
    from collections.abc import Iterator as _Iterator

    def batches(it: _Iterator[pd.DataFrame]) -> _Iterator[pd.DataFrame]:
        for pdf in it:
            blobs = []
            for doc_id, n_chars in zip(pdf["doc_id"], pdf["n_chars"]):
                amp = 500 + int(doc_id) % 1000
                frames = 100 + int(n_chars) % 500
                buf = io.BytesIO()
                with wave.open(buf, "wb") as wf:
                    wf.setnchannels(1)
                    wf.setsampwidth(2)
                    wf.setframerate(8000)
                    wf.writeframes(struct.pack("<h", amp) * frames)
                blobs.append(buf.getvalue())
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "media": blobs})

    return docs.select("doc_id", "n_chars").mapInPandas(
        batches, "doc_id BIGINT, media BINARY"
    )


AUDIO_FRAMES = 64  # 63 fingerprint bits: enough resolution to BAND
AUDIO_FRAME_LEN = 8


def synth_audio_corpus(docs: DataFrame) -> DataFrame:
    """Audio-fingerprint FIXTURE (the WAV sibling of synth_phash_corpus):
    four variants per group g = doc_id // 4, v = doc_id % 4 of a
    64-frame (8 samples each) mono 16-bit WAV whose per-frame amplitude
    is amp(f) = (200 + (b*b % 999983) % 800) with
    b = (g*8191 + f + 1) % 999983 — the same quadratic scramble the
    phash corpus uses (affine patterns collapse to a ramp family; the
    square makes per-group fingerprints sparse in 2^63, so band
    buckets stay tiny at any SF and the GENERIC bithash machinery —
    near pairs, clusters, incremental — applies to audio unchanged).
    Variants v in {0,1,2} apply a pure GAIN x(v+1) (energy-profile
    sign bits are gain-invariant); v=3 bumps ONE frame (g % 64) by
    +500 — a local edit moving at most the two adjacent fingerprint
    bits. Max sample 999*3+500 < 32767: no int16 clipping anywhere."""
    import io
    import struct
    import wave
    from collections.abc import Iterator as _Iterator

    def batches(it: _Iterator[pd.DataFrame]) -> _Iterator[pd.DataFrame]:
        for pdf in it:
            blobs = []
            for d in pdf["doc_id"]:
                g, v = int(d) // 4, int(d) % 4
                gain = 1 if v == 3 else v + 1
                frames = bytearray()
                for f in range(AUDIO_FRAMES):
                    b = (g * 8191 + f + 1) % 999983
                    amp = (200 + (b * b % 999983) % 800) * gain
                    if v == 3 and f == g % AUDIO_FRAMES:
                        amp += 500
                    frames += struct.pack("<h", amp) * AUDIO_FRAME_LEN
                buf = io.BytesIO()
                with wave.open(buf, "wb") as wf:
                    wf.setnchannels(1)
                    wf.setsampwidth(2)
                    wf.setframerate(8000)
                    wf.writeframes(bytes(frames))
                blobs.append(buf.getvalue())
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "media": blobs})

    return docs.select("doc_id").mapInPandas(batches, "doc_id BIGINT, media BINARY")


def audio_fingerprint(media_df: DataFrame, frame_len: int = AUDIO_FRAME_LEN) -> DataFrame:
    """Arrow-batched REAL WAV decode -> 63-bit energy-profile
    fingerprint: bit f is set iff frame f+1's energy (sum |sample|)
    exceeds frame f's — the time-domain restatement of the
    Haitsma-Kalker sign-of-band-energy-difference fingerprint, and like
    it invariant to gain. 63 bits is enough resolution to band, so the
    generic bithash near-pair/cluster/incremental machinery applies to
    audio exactly as to image dHash. Torn payloads quarantine (parse-layer
    exceptions only, per the WAV contract in parse_media_meta)."""
    import io
    import struct
    import wave

    import numpy as np

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for doc_id, blob in zip(pdf["doc_id"], pdf["media"]):
                try:
                    with wave.open(io.BytesIO(bytes(blob)), "rb") as wf:
                        raw = wf.readframes(wf.getnframes())
                except (wave.Error, EOFError, struct.error, RuntimeError):
                    continue  # torn payload -> quarantine leg, like the probes
                samples = np.frombuffer(raw, dtype="<i2").astype(np.int64)
                n_frames = len(samples) // frame_len
                if n_frames < 2:
                    continue
                energy = (
                    np.abs(samples[: n_frames * frame_len])
                    .reshape(n_frames, frame_len)
                    .sum(axis=1)
                )
                # Bound the profile to 64 samples so the fingerprint always
                # fits 63 bits (int64 shifts past 63 wrap silently on x86).
                # Even-stride sampling is the identity on the 64-frame
                # fixture, so the closed-form oracle is untouched.
                if n_frames > 64:
                    energy = energy[(np.arange(64) * n_frames) // 64]
                bits = (energy[1:] > energy[:-1]).astype(np.int64)
                fp = int((bits << np.arange(len(bits), dtype=np.int64)).sum())
                rows.append({"doc_id": int(doc_id), "audio_fp": fp})
            yield pd.DataFrame(rows, columns=["doc_id", "audio_fp"])

    return media_df.mapInPandas(batches, "doc_id BIGINT, audio_fp BIGINT")


def frame_sample(media_df: DataFrame, every_n_bytes: int = 64) -> DataFrame:
    """'Frame sampling' shape: emit one row per sampled offset of each
    payload (what video frame extraction looks like as a plan) — pure
    DataFrame ops, the payload slice stays JVM-side."""
    n = F.col("meta.n_bytes")
    offsets = F.sequence(F.lit(0), F.greatest((n - 1) / every_n_bytes, F.lit(0)).cast("long"))
    return media_df.select(
        "doc_id",
        F.explode(offsets).alias("frame_idx"),
    ).withColumn("byte_offset", F.col("frame_idx") * every_n_bytes)


# -- REAL PNG pixel codec (pure stdlib zlib + numpy defiltering) -------------
# Pixel-level decode for PNG needs no external imaging lib: IDAT is zlib
# (RFC 1950) and scanline defiltering is five integer filters (PNG spec
# §9). Implemented here so the "decode" stage of the multimodal pipeline
# is REAL for PNG the way wave + pcm_rms make it real for WAV; JPEG/video
# remain the honest stub in decode_media (their entropy coders genuinely
# need libjpeg/ffmpeg).

_PNG_SIG = b"\x89PNG\r\n\x1a\n"

# Decode-side allocation cap: headers are attacker-controlled DATA, so a
# declared geometry (PNG IHDR w*h, JPEG SOF h*w) must be bounded BEFORE
# any allocation sized from it.  16.7M px (= 4096x4096) is far above any
# fixture and far below the ~4.3 GB a 16-bit dim field can demand.
_MAX_DECODE_PIXELS = 1 << 24
_PNG_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}  # color type -> samples/pixel


def png_encode(pixels, filter_mode: str = "cycle") -> bytes:
    """Minimal PNG writer for 8-bit grayscale/RGB numpy arrays (shape
    (h, w) or (h, w, 3)). filter_mode 'cycle' applies filter r % 5 to
    scanline r — deliberately exercising every PNG filter type so a
    decoder round-trip proves real defiltering, not just inflate."""
    import struct
    import zlib

    import numpy as np

    px = np.asarray(pixels, dtype=np.uint8)
    h, w = px.shape[:2]
    ch = 1 if px.ndim == 2 else px.shape[2]
    color_type = {1: 0, 3: 2}[ch]
    raw = px.reshape(h, w * ch).astype(np.int32)

    def chunk(tag: bytes, body: bytes) -> bytes:
        return (
            struct.pack(">I", len(body))
            + tag
            + body
            + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
        )

    lines = bytearray()
    prior = np.zeros(w * ch, dtype=np.int32)
    for r in range(h):
        cur = raw[r]
        f = r % 5 if filter_mode == "cycle" else 0
        left = np.concatenate([np.zeros(ch, dtype=np.int32), cur[:-ch]])
        pleft = np.concatenate([np.zeros(ch, dtype=np.int32), prior[:-ch]])
        if f == 0:
            out = cur
        elif f == 1:
            out = cur - left
        elif f == 2:
            out = cur - prior
        elif f == 3:
            out = cur - (left + prior) // 2
        else:  # Paeth
            p = left + prior - pleft
            pa, pb, pc = abs(p - left), abs(p - prior), abs(p - pleft)
            pred = np.where((pa <= pb) & (pa <= pc), left, np.where(pb <= pc, prior, pleft))
            out = cur - pred
        lines.append(f)
        lines.extend((out % 256).astype(np.uint8).tobytes())
        prior = cur

    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    return (
        _PNG_SIG
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(lines)))
        + chunk(b"IEND", b"")
    )


def png_decode(payload: bytes):
    """REAL PNG pixel decode, stdlib-only: chunk walk, zlib inflate,
    full five-filter scanline defiltering (PNG spec §9: None/Sub/Up/
    Average/Paeth). Supports 8-bit depth, color types 0/2/4/6,
    non-interlaced. Returns an (h, w, channels) uint8 array; raises
    ValueError on anything else (caller quarantines)."""
    import struct
    import zlib

    import numpy as np

    if payload[:8] != _PNG_SIG:
        raise ValueError("not a PNG")
    i, idat, meta = 8, bytearray(), None
    while i + 8 <= len(payload):
        (length,) = struct.unpack(">I", payload[i : i + 4])
        tag = payload[i + 4 : i + 8]
        body = payload[i + 8 : i + 8 + length]
        if tag == b"IHDR":
            if len(body) < 13:  # short body is DATA -> ValueError, per contract
                raise ValueError("truncated IHDR")
            w, h, depth, color_type, comp, filt, interlace = struct.unpack(
                ">IIBBBBB", body[:13]
            )
            if depth != 8 or color_type not in _PNG_CHANNELS or interlace:
                raise ValueError("unsupported PNG variant")
            # IHDR geometry is DATA: cap before any allocation sized
            # from it (a small zlib-bomb IDAT could otherwise inflate
            # to h*(w*ch+1) bytes of our choosing)
            if w * h > _MAX_DECODE_PIXELS:
                raise ValueError(
                    f"declared dimensions {w}x{h} exceed decode cap "
                    f"({_MAX_DECODE_PIXELS} px)"
                )
            meta = (w, h, _PNG_CHANNELS[color_type])
        elif tag == b"IDAT":
            idat.extend(body)
        elif tag == b"IEND":
            break
        i += 12 + length
    if meta is None:
        raise ValueError("missing IHDR")
    w, h, ch = meta
    stride = w * ch
    expected = h * (stride + 1)
    try:
        # decompressobj + max_length bounds the inflate to the declared
        # geometry: a zlib bomb cannot allocate past expected+1 bytes
        dec = zlib.decompressobj()
        data = dec.decompress(bytes(idat), expected + 1)
    except zlib.error as e:  # torn/corrupt stream is DATA, not a crash
        raise ValueError(f"corrupt IDAT: {e}") from e
    # dec.eof distinguishes "exactly expected bytes AND the stream's
    # Adler-32 trailer was seen" from "cut mid-stream right at the
    # boundary" — zlib.decompress raised on the latter; decompressobj
    # only reports it via eof.
    if len(data) != expected or dec.unconsumed_tail or not dec.eof:
        raise ValueError("truncated IDAT")
    out = np.zeros((h, stride), dtype=np.int32)
    prior = np.zeros(stride, dtype=np.int32)
    for r in range(h):
        f = data[r * (stride + 1)]
        line = np.frombuffer(
            data, dtype=np.uint8, count=stride, offset=r * (stride + 1) + 1
        ).astype(np.int32)
        if f == 0:
            cur = line
        elif f == 2:
            cur = (line + prior) % 256
        else:
            # Sub/Average/Paeth need the reconstructed left neighbor:
            # sequential per pixel within the scanline (scanlines are
            # short; payload-level parallelism comes from Arrow batches)
            cur = np.zeros(stride, dtype=np.int32)
            for j in range(stride):
                left = cur[j - ch] if j >= ch else 0
                up = prior[j]
                upleft = prior[j - ch] if j >= ch else 0
                if f == 1:
                    pred = left
                elif f == 3:
                    pred = (left + up) // 2
                elif f == 4:
                    p = left + up - upleft
                    pa, pb, pc = abs(p - left), abs(p - up), abs(p - upleft)
                    pred = left if pa <= pb and pa <= pc else (up if pb <= pc else upleft)
                else:
                    raise ValueError(f"bad filter {f}")
                cur[j] = (line[j] + pred) % 256
        out[r] = cur
        prior = cur
    return out.astype(np.uint8).reshape(h, w, ch)


PNG_PIXEL_SCHEMA = (
    "doc_id BIGINT, width INT, height INT, n_channels INT, "
    "pixel_sum BIGINT, px_min INT, px_max INT"
)


def synth_png_corpus(docs: DataFrame) -> DataFrame:
    """Deterministic 8x8 grayscale PNG per document (FIXTURE for the
    codec path): pixel[r, c] = (doc_id * 7 + r * 8 + c) % 256, encoded
    with the filter-cycling writer so decode exercises all five PNG
    filters. Every probe output is a closed-form function of doc_id, so
    a SQL oracle checks the REAL inflate + defilter end-to-end."""
    import numpy as np

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        base = np.arange(64, dtype=np.int64).reshape(8, 8)
        for pdf in it:
            blobs = [
                png_encode(((int(d) * 7 + base) % 256).astype("uint8"))
                for d in pdf["doc_id"]
            ]
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "media": blobs})

    return docs.select("doc_id").mapInPandas(batches, "doc_id BIGINT, media BINARY")


def media_png_probe(media_df: DataFrame) -> DataFrame:
    """Arrow-batched REAL PNG pixel decode over the opaque media column:
    dimensions + integer pixel statistics (exact, oracle-checkable).
    Undecodable payloads are dropped here; production keeps them in a
    quarantine leg like the JSONL source does."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for doc_id, blob in zip(pdf["doc_id"], pdf["media"]):
                try:
                    px = png_decode(bytes(blob))
                except ValueError:
                    continue
                rows.append(
                    {
                        "doc_id": int(doc_id),
                        "width": px.shape[1],
                        "height": px.shape[0],
                        "n_channels": px.shape[2],
                        "pixel_sum": int(px.astype("int64").sum()),
                        "px_min": int(px.min()),
                        "px_max": int(px.max()),
                    }
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "width", "height", "n_channels",
                    "pixel_sum", "px_min", "px_max",
                ],
            )

    return media_df.mapInPandas(batches, PNG_PIXEL_SCHEMA)


# -- Perceptual image hashing (dHash) over the real PNG codec ---------------
# The image analog of text near-dup: a 64-pixel difference hash whose
# bits are horizontal-gradient signs, so it is INVARIANT to constant
# brightness shift (re-encodes, exposure tweaks) and moves only a few
# bits under local pixel edits — the standard cheap image-dedup key in
# crawl pipelines. 100 TB shape: the hash is computed map-side per
# image (one mapInPandas over the binary column), dedup is one groupBy
# on a 56-bit key — no pairwise comparison anywhere.


def synth_phash_corpus(docs: DataFrame) -> DataFrame:
    """Perceptual-dedup FIXTURE: four image variants per group
    g = doc_id // 4, v = doc_id % 4 of a deterministic 8x8 base
    base[r, c] = 40 + (b*b % 999983) % 140 with
    b = (g*8191 + r*8 + c + 1) % 999983 — the SQUARE is the point:
    any affine construction f(g*A + r*B + c*C) mod M mod m (one or
    many multiplicative "rounds" — multiplication mod M is linear) is
    a one-parameter ramp family whose dHash collapses to a few hundred
    classes, tripping MAX_BAND_DOCS at 10x so near-pair runs measure
    cap behavior. Squaring the reduced b is nonlinear in the pixel
    index: measured 12,395 distinct hashes over 12,500 groups (sf1
    scale), zero cross-group pairs within hamming 2 at sf0.1, mean
    cross hamming 28 — dHashes sparse in 2^56 like real image hashes.
    All intermediates < 2^63: b < 1e6, b*b < 1e12 (DuckDB BIGINT
    errors on overflow; numpy would wrap silently — keep both exact). Variants v in {0,1,2} add a constant brightness +v
    (no uint8 wrap: max 40+139+2 < 255) — dHash-identical by design;
    v=3 bumps ONE pixel at (g%8, g%7) by +60 — a local edit moving at
    most the two adjacent gradient bits. Every pixel is a closed form
    of doc_id, so the SQL oracle recomputes the same hash bit-for-bit
    while the Spark side goes through REAL png_encode -> inflate ->
    defilter."""
    import numpy as np

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        r = np.arange(8, dtype=np.int64).reshape(8, 1)
        c = np.arange(8, dtype=np.int64).reshape(1, 8)
        for pdf in it:
            blobs = []
            for d in pdf["doc_id"]:
                g, v = int(d) // 4, int(d) % 4
                b = (g * 8191 + r * 8 + c + 1) % 999983
                px = 40 + (b * b % 999983) % 140
                if v == 3:
                    px = px.copy()
                    px[g % 8, g % 7] += 60
                else:
                    px = px + v
                blobs.append(png_encode(px.astype("uint8")))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "media": blobs})

    return docs.select("doc_id").mapInPandas(batches, "doc_id BIGINT, media BINARY")


def image_dhash(media_df: DataFrame) -> DataFrame:
    """Arrow-batched REAL decode -> 56-bit difference hash: bit
    b = r*7 + c is set iff p(r, c+1) > p(r, c). Undecodable payloads
    quarantine (dropped here; production tees them like the JSONL
    source). Output fits a BIGINT — the groupBy/dedup key."""
    import numpy as np

    weights = np.int64(1) << np.arange(56, dtype=np.int64)

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for doc_id, blob in zip(pdf["doc_id"], pdf["media"]):
                try:
                    px = png_decode(bytes(blob))
                except ValueError:
                    continue
                gray = px[:, :, 0].astype(np.int64)
                # Standard dHash downsamples to a fixed grid first; even-stride
                # sampling to 8x8 keeps the hash at exactly 56 bits for any
                # input geometry (int64 shifts past 63 wrap silently) and is
                # the identity on the 8x8 fixture corpus, preserving the
                # closed-form oracle.
                h, w = gray.shape
                if (h, w) != (8, 8):
                    gray = gray[np.ix_((np.arange(8) * h) // 8, (np.arange(8) * w) // 8)]
                bits = (gray[:, 1:] > gray[:, :-1]).astype(np.int64).ravel()
                rows.append({"doc_id": int(doc_id), "dhash": int((bits * weights).sum())})
            yield pd.DataFrame(rows, columns=["doc_id", "dhash"])

    return media_df.mapInPandas(batches, "doc_id BIGINT, dhash BIGINT")


def dhash_dedup_classes(hashed: DataFrame) -> DataFrame:
    """Perceptual-dup classes: one row per distinct dHash with the
    class size and canonical survivor (min doc_id) — the image
    equivalent of exact_dedup's hash-groupBy, trivially scale-safe."""
    return hashed.groupBy("dhash").agg(
        F.count("*").alias("n_docs"),
        F.min("doc_id").alias("doc_min"),
        F.max("doc_id").alias("doc_max"),
    )


# -- REAL baseline JPEG codec (pure stdlib + numpy, ITU T.81) ---------------
# Closes the entropy-coded-image stub: a from-scratch baseline (SOF0)
# grayscale JPEG encoder/decoder — segment walk, standard Annex K
# Huffman tables, zigzag, dequant, IDCT, level shift. The fixture
# corpus uses per-8x8-block constant images, whose DCT is DC-only and
# therefore round-trips EXACTLY (AC coefficients are mathematically
# zero; DC is an exact integer under the flat q=1 table) — so the SQL
# oracle has closed-form pixel stats while DC prediction chaining
# across MCUs, Huffman decode, byte unstuffing, and the IDCT all run
# for real. The general AC path is pinned by a differential pytest
# against an independent cos-loop IDCT. Video remains the one
# environment-bound stub.

_JPEG_DC_BITS = (0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0)
_JPEG_DC_VALS = tuple(range(12))
_JPEG_AC_BITS = (0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D)
_JPEG_AC_VALS = (
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12,
    0x21, 0x31, 0x41, 0x06, 0x13, 0x51, 0x61, 0x07,
    0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
    0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0,
    0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16,
    0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39,
    0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49,
    0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
    0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98,
    0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7,
    0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
    0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5,
    0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4,
    0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
    0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA,
    0xF1, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
    0xF9, 0xFA,
)

_ZIGZAG = (
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
)


def _huff_canonical(bits, vals):
    """(value -> (code, length)) canonical Huffman assignment per T.81
    Annex C: codes of each length are consecutive, lengths ascending."""
    out, code, k = {}, 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return out


_DCT_M = None


def _dct_matrix():
    # memoized: rebuilding the cos matrix per payload dominated the
    # per-frame decode cost at corpus scale
    global _DCT_M
    if _DCT_M is None:
        import math

        import numpy as np

        m = np.zeros((8, 8))
        for u in range(8):
            c = (1 / (2 ** 0.5)) if u == 0 else 1.0
            for x in range(8):
                m[u, x] = 0.5 * c * math.cos((2 * x + 1) * u * math.pi / 16)
        _DCT_M = m
    return _DCT_M


class _BitWriter:
    def __init__(self):
        self.buf = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            byte = (self.acc >> (self.nbits - 8)) & 0xFF
            self.buf.append(byte)
            if byte == 0xFF:  # byte stuffing (T.81 F.1.2.3)
                self.buf.append(0x00)
            self.nbits -= 8
        self.acc &= (1 << self.nbits) - 1

    def flush(self) -> bytes:
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)  # 1-pad to byte boundary
        return bytes(self.buf)


def _jpeg_category(v: int) -> int:
    return 0 if v == 0 else abs(v).bit_length()


def jpeg_encode(pixels) -> bytes:
    """Minimal baseline (SOF0) grayscale JPEG writer: 8-bit numpy array
    (h, w), dims multiples of 8, flat q=1 quantization (lossless up to
    DCT rounding), standard Annex K luminance Huffman tables."""
    import struct

    import numpy as np

    px = np.asarray(pixels, dtype=np.uint8)
    h, w = px.shape
    if h % 8 or w % 8:
        raise ValueError("jpeg_encode: dims must be multiples of 8")
    m = _dct_matrix()
    dc_huff = _huff_canonical(_JPEG_DC_BITS, _JPEG_DC_VALS)
    ac_huff = _huff_canonical(_JPEG_AC_BITS, _JPEG_AC_VALS)

    bw = _BitWriter()
    prev_dc = 0
    for by in range(h // 8):
        for bx in range(w // 8):
            block = px[by * 8:(by + 1) * 8, bx * 8:(bx + 1) * 8].astype(np.float64) - 128.0
            coef = m @ block @ m.T
            q = np.rint(coef).astype(np.int64)  # flat qtable of 1s
            zz = [int(q.flat[_ZIGZAG[i]]) for i in range(64)]
            # DC: differential, category + extension bits
            diff = zz[0] - prev_dc
            prev_dc = zz[0]
            s = _jpeg_category(diff)
            code, length = dc_huff[s]
            bw.write(code, length)
            if s:
                bw.write(diff if diff >= 0 else diff + (1 << s) - 1, s)
            # AC: (run, size) symbols, ZRL for 16-zero runs, EOB
            run = 0
            for k in range(1, 64):
                v = zz[k]
                if v == 0:
                    run += 1
                    continue
                while run > 15:
                    zc, zl = ac_huff[0xF0]
                    bw.write(zc, zl)
                    run -= 16
                s = _jpeg_category(v)
                code, length = ac_huff[(run << 4) | s]
                bw.write(code, length)
                bw.write(v if v >= 0 else v + (1 << s) - 1, s)
                run = 0
            if run:
                ec, el = ac_huff[0x00]
                bw.write(ec, el)
    data = bw.flush()

    def seg(marker: int, body: bytes) -> bytes:
        return bytes((0xFF, marker)) + struct.pack(">H", len(body) + 2) + body

    qtab = bytes([0]) + bytes([1] * 64)  # Pq=0/Tq=0, flat table in zigzag
    sof = struct.pack(">BHHB", 8, h, w, 1) + bytes((1, 0x11, 0))
    dht = (
        bytes([0x00]) + bytes(_JPEG_DC_BITS) + bytes(_JPEG_DC_VALS)
        + bytes([0x10]) + bytes(_JPEG_AC_BITS) + bytes(_JPEG_AC_VALS)
    )
    sos = bytes((1, 1, 0x00, 0, 63, 0))
    return (
        b"\xff\xd8"
        + seg(0xDB, qtab)
        + seg(0xC0, sof)
        + seg(0xC4, dht)
        + seg(0xDA, sos)
        + data
        + b"\xff\xd9"
    )


class _BitReader:
    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0
        self.acc = 0
        self.nbits = 0

    def _fill(self) -> None:
        while self.nbits <= 24:
            if self.pos >= len(self.data):
                self.acc = (self.acc << 8) | 0  # trailing zero-fill
                self.nbits += 8
                continue
            b = self.data[self.pos]
            self.pos += 1
            if b == 0xFF:
                nxt = self.data[self.pos] if self.pos < len(self.data) else 0
                if nxt == 0x00:
                    self.pos += 1  # stuffed byte
                else:
                    # marker: stop consuming, pad with zeros
                    self.pos -= 1
                    self.acc = (self.acc << 8) | 0
                    self.nbits += 8
                    continue
            self.acc = (self.acc << 8) | b
            self.nbits += 8

    def read(self, n: int) -> int:
        if n == 0:
            return 0
        self._fill()
        v = (self.acc >> (self.nbits - n)) & ((1 << n) - 1)
        self.nbits -= n
        self.acc &= (1 << self.nbits) - 1
        return v


_HUFF_TABLE_CACHE: dict = {}


def _huff_decode_table(bits, vals):
    """(length, code) -> value map for sequential canonical decode.
    Memoized on the (bits, vals) spec: every frame of a corpus carries
    the same DHT bytes, and rebuilding the 162-entry AC table per
    payload dominated per-frame decode cost."""
    key = (bits, vals)
    cached = _HUFF_TABLE_CACHE.get(key)
    if cached is not None:
        return cached
    table, code, k = {}, 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            table[(length, code)] = vals[k]
            code += 1
            k += 1
        code <<= 1
    if len(_HUFF_TABLE_CACHE) < 64:  # bound the cache for hostile inputs
        _HUFF_TABLE_CACHE[key] = table
    return table


def _huff_read(br: _BitReader, table) -> int:
    code = 0
    for length in range(1, 17):
        code = (code << 1) | br.read(1)
        if (length, code) in table:
            return table[(length, code)]
    raise ValueError("bad Huffman code")


def _extend(v: int, s: int) -> int:
    return v if v >= (1 << (s - 1)) else v - (1 << s) + 1


def jpeg_decode(payload: bytes):
    """REAL baseline JPEG pixel decode, stdlib+numpy only: segment walk,
    DQT/DHT/SOF0/SOS parse, canonical Huffman entropy decode with byte
    unstuffing, DC prediction, dequantize, de-zigzag, IDCT, level shift.
    Supports 8-bit baseline GRAYSCALE (1 component, no subsampling, no
    restart markers); anything else raises ValueError (caller
    quarantines). Returns an (h, w) uint8 array.

    Quarantine contract: EVERY malformed input fails as ValueError —
    parse-layer struct.error/IndexError on torn bytes are converted
    (fuzz-pinned), so executor tasks never crash on hostile payloads."""
    import struct

    try:
        return _jpeg_decode_inner(payload, struct)
    except (struct.error, IndexError) as e:
        raise ValueError(f"torn JPEG: {e}") from e


def _jpeg_decode_inner(payload: bytes, struct):
    import numpy as np

    if payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG")
    i = 2
    qtables: dict[int, list[int]] = {}
    huff: dict[tuple[int, int], dict] = {}
    dims = None
    comp_q = 0
    comp_td = comp_ta = 0
    data_start = None
    while i + 4 <= len(payload):
        if payload[i] != 0xFF:
            raise ValueError("bad marker sync")
        marker = payload[i + 1]
        if marker == 0xD9:
            break
        seg_len = struct.unpack(">H", payload[i + 2:i + 4])[0]
        body = payload[i + 4:i + 2 + seg_len]
        if marker == 0xDB:
            j = 0
            while j < len(body):
                pq, tq = body[j] >> 4, body[j] & 0x0F
                if pq != 0:
                    raise ValueError("16-bit qtable unsupported")
                qtables[tq] = list(body[j + 1:j + 65])
                j += 65
        elif marker == 0xC4:
            j = 0
            while j < len(body):
                tc, th = body[j] >> 4, body[j] & 0x0F
                bits = tuple(body[j + 1:j + 17])
                n = sum(bits)
                vals = tuple(body[j + 17:j + 17 + n])
                huff[(tc, th)] = _huff_decode_table(bits, vals)
                j += 17 + n
        elif marker == 0xC0:
            prec, h, w, nc = struct.unpack(">BHHB", body[:6])
            if prec != 8 or nc != 1:
                raise ValueError("only 8-bit baseline grayscale supported")
            if body[7] != 0x11:
                raise ValueError("subsampling unsupported")
            comp_q = body[8]
            # Hostile-input guard: a ~100-byte payload can declare
            # h=w=65528 and force a ~4.3 GB allocation + 67M block
            # decodes before the bitstream runs dry.  Cap total pixels,
            # and reject dimensions implausible versus the payload size
            # (every 8x8 block consumes >=2 huffman codes >=2 bits, so
            # more blocks than 4*len(payload) cannot be a real image).
            if h * w > _MAX_DECODE_PIXELS:
                raise ValueError(
                    f"declared dimensions {w}x{h} exceed decode cap "
                    f"({_MAX_DECODE_PIXELS} px)"
                )
            if (h // 8) * (w // 8) > 4 * len(payload):
                raise ValueError(
                    f"declared dimensions {w}x{h} implausible for "
                    f"{len(payload)}-byte payload"
                )
            dims = (h, w)
        elif marker in (0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB,
                        0xCD, 0xCE, 0xCF):
            raise ValueError("non-baseline JPEG unsupported")
        elif marker == 0xDD:
            raise ValueError("restart intervals unsupported")
        elif marker == 0xDA:
            ns = body[0]
            if ns != 1:
                raise ValueError("multi-component scan unsupported")
            comp_td, comp_ta = body[2] >> 4, body[2] & 0x0F
            data_start = i + 2 + seg_len
            break
        i += 2 + seg_len
    if dims is None or data_start is None:
        raise ValueError("missing SOF/SOS")
    if comp_q not in qtables or (0, comp_td) not in huff or (1, comp_ta) not in huff:
        raise ValueError("missing tables")
    h, w = dims
    if h % 8 or w % 8:
        raise ValueError("non-multiple-of-8 dims unsupported")
    qt = qtables[comp_q]
    dc_tab, ac_tab = huff[(0, comp_td)], huff[(1, comp_ta)]
    br = _BitReader(payload[data_start:])
    m = _dct_matrix()
    out = np.zeros((h, w), dtype=np.uint8)
    prev_dc = 0
    for by in range(h // 8):
        for bx in range(w // 8):
            zz = [0] * 64
            s = _huff_read(br, dc_tab)
            diff = _extend(br.read(s), s) if s else 0
            prev_dc += diff
            zz[0] = prev_dc
            k = 1
            while k < 64:
                rs = _huff_read(br, ac_tab)
                if rs == 0x00:  # EOB
                    break
                if rs == 0xF0:  # ZRL
                    k += 16
                    continue
                k += rs >> 4
                if k > 63:
                    raise ValueError("AC run past block end")
                s = rs & 0x0F
                zz[k] = _extend(br.read(s), s)
                k += 1
            coef = np.zeros(64, dtype=np.float64)
            for k in range(64):
                coef[_ZIGZAG[k]] = zz[k] * qt[k]
            block = m.T @ coef.reshape(8, 8) @ m
            out[by * 8:(by + 1) * 8, bx * 8:(bx + 1) * 8] = np.clip(
                np.rint(block) + 128, 0, 255
            ).astype(np.uint8)
    return out


JPEG_PIXEL_SCHEMA = (
    "doc_id BIGINT, width INT, height INT, "
    "pixel_sum BIGINT, px_min INT, px_max INT"
)


def synth_jpeg_corpus(docs: DataFrame) -> DataFrame:
    """Deterministic 16x16 grayscale JPEG per document (FIXTURE for the
    codec path): four 8x8 blocks, block b constant at
    (doc_id * 7 + b * 31) % 256. Constant blocks have a DC-only DCT, so
    under the flat q=1 table the round trip is EXACT and every probe
    output is a closed-form function of doc_id — while DC differential
    coding across the four MCUs, Huffman decode, and the IDCT all run
    for real."""
    import numpy as np

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            blobs = []
            for d in pdf["doc_id"]:
                d = int(d)
                img = np.zeros((16, 16), dtype=np.uint8)
                for b, (by, bx) in enumerate(((0, 0), (0, 1), (1, 0), (1, 1))):
                    img[by * 8:(by + 1) * 8, bx * 8:(bx + 1) * 8] = (d * 7 + b * 31) % 256
                blobs.append(jpeg_encode(img))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "media": blobs})

    return docs.select("doc_id").mapInPandas(batches, "doc_id BIGINT, media BINARY")


def media_jpeg_probe(media_df: DataFrame) -> DataFrame:
    """Arrow-batched REAL baseline-JPEG pixel decode over the opaque
    media column: dimensions + integer pixel statistics. Undecodable
    payloads are dropped (quarantine leg in production)."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for doc_id, blob in zip(pdf["doc_id"], pdf["media"]):
                try:
                    px = jpeg_decode(bytes(blob))
                except ValueError:
                    continue
                rows.append(
                    {
                        "doc_id": int(doc_id),
                        "width": px.shape[1],
                        "height": px.shape[0],
                        "pixel_sum": int(px.astype("int64").sum()),
                        "px_min": int(px.min()),
                        "px_max": int(px.max()),
                    }
                )
            yield pd.DataFrame(
                rows,
                columns=["doc_id", "width", "height", "pixel_sum", "px_min", "px_max"],
            )

    return media_df.mapInPandas(batches, JPEG_PIXEL_SCHEMA)


PNG_RESIZE_SCHEMA = (
    "doc_id BIGINT, out_width INT, out_height INT, "
    "ds_pixel_sum BIGINT, ds_min INT, ds_max INT"
)


def png_resize_probe(media_df: DataFrame, factor: int = 2) -> DataFrame:
    """The multimodal RESIZE step on REAL pixels: decode the PNG, box-
    average factor x factor blocks with integer floor division (exact,
    no float resampling ambiguity), report the downsampled image's
    stats. Same Arrow-batched mapInPandas shape as the probe — payload
    opaque until this step, dims/stats prunable columns after; at scale
    the thumbnail bytes would be re-encoded into a new binary column in
    the same pass. Undecodable or non-divisible images are dropped
    (quarantine leg in production)."""
    from collections.abc import Iterator as _Iterator

    def batches(it: _Iterator[pd.DataFrame]) -> _Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for doc_id, blob in zip(pdf["doc_id"], pdf["media"]):
                try:
                    px = png_decode(bytes(blob))
                except ValueError:
                    continue
                h, w, ch = px.shape
                if h % factor or w % factor:
                    continue
                ds = (
                    px.astype("int64")
                    .reshape(h // factor, factor, w // factor, factor, ch)
                    .sum(axis=(1, 3))
                    // (factor * factor)
                )
                rows.append(
                    {
                        "doc_id": int(doc_id),
                        "out_width": w // factor,
                        "out_height": h // factor,
                        "ds_pixel_sum": int(ds.sum()),
                        "ds_min": int(ds.min()),
                        "ds_max": int(ds.max()),
                    }
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "out_width", "out_height",
                    "ds_pixel_sum", "ds_min", "ds_max",
                ],
            )

    return media_df.mapInPandas(batches, PNG_RESIZE_SCHEMA)


# -- REAL video frame extraction: RIFF/AVI + MJPEG (pure stdlib) -------------
# Closes the last media stub for the MJPEG class: a from-scratch
# RIFF/AVI container walk (the public Microsoft AVI format — LIST
# 'movi' holding '00dc'/'00db' frame chunks) whose frames are decoded
# by the baseline-JPEG codec above. This makes frame-sample + decode
# REAL for the motion-JPEG family every capture pipeline emits;
# inter-frame-predicted codecs (H.264/VP9) genuinely still need
# ffmpeg, and decode_media says so.


def avi_encode(frames) -> bytes:
    """Minimal AVI/MJPG writer: a list of same-shape 8-bit grayscale
    numpy arrays becomes RIFF('AVI ') { hdrl(avih, strl(strh, strf)),
    movi('00dc' jpeg)* }. Enough structure that a real demuxer agrees
    about frame count and dimensions."""
    import struct

    jpegs = [jpeg_encode(f) for f in frames]
    h, w = frames[0].shape if frames else (0, 0)
    n = len(jpegs)

    def chunk(fourcc: bytes, body: bytes) -> bytes:
        pad = b"\x00" if len(body) % 2 else b""
        return fourcc + struct.pack("<I", len(body)) + body + pad

    def lst(kind: bytes, body: bytes) -> bytes:
        return chunk(b"LIST", kind + body)

    # main header: us/frame, maxbytes, pad, flags, totalframes, initial,
    # streams, bufsize, w, h, reserved[4]
    avih = struct.pack("<10I16x", 40000, 0, 0, 0, n, 0, 1, 0, w, h)
    strh = struct.pack("<4s4sI2H8I4i", b"vids", b"MJPG", 0, 0, 0, 0, 1, 25, 0,
                       n, 0, 0xFFFFFFFF, 0, 0, 0, 0, 0)
    # BITMAPINFOHEADER
    strf = struct.pack("<I2i2H2I2i2I", 40, w, h, 1, 8, 0x47504A4D, w * h, 0, 0, 0, 0)
    hdrl = lst(b"hdrl", chunk(b"avih", avih)
               + lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf)))
    movi = lst(b"movi", b"".join(chunk(b"00dc", j) for j in jpegs))
    return chunk(b"RIFF", b"AVI " + hdrl + movi)


def avi_frames(payload: bytes) -> list[bytes]:
    """REAL RIFF/AVI demux, stdlib-only: walk the chunk tree to LIST
    'movi' and return the raw '00dc'/'00db' frame payloads in stream
    order. Raises ValueError on a torn container (caller quarantines)."""
    import struct

    if payload[:4] != b"RIFF" or payload[8:12] != b"AVI ":
        raise ValueError("not an AVI")
    (riff_len,) = struct.unpack("<I", payload[4:8])
    end = min(8 + riff_len, len(payload))
    frames: list[bytes] = []

    # ITERATIVE chunk-tree walk (explicit stack): a hostile payload of
    # thousands of nested LIST chunks would blow Python's recursion
    # limit, and RecursionError escapes the ValueError quarantine
    # contract (caught by review, not by byte-flip fuzz — flips can't
    # synthesize deep nesting)
    stack: list[tuple[int, int]] = [(12, end)]
    while stack:
        i, stop = stack.pop()
        while i + 8 <= stop:
            fourcc = payload[i:i + 4]
            (length,) = struct.unpack("<I", payload[i + 4:i + 8])
            body_start = i + 8
            if body_start + length > stop:
                raise ValueError("torn AVI chunk")
            next_i = body_start + length + (length % 2)
            if fourcc == b"LIST":
                kind = payload[body_start:body_start + 4]
                if kind in (b"movi", b"hdrl", b"strl", b"rec "):
                    stack.append((next_i, stop))
                    i, stop = body_start + 4, body_start + length
                    continue
            elif fourcc[2:4] in (b"dc", b"db"):
                frames.append(payload[body_start:body_start + length])
            i = next_i
    return frames


VIDEO_FRAME_SCHEMA = (
    "doc_id BIGINT, frame_idx INT, width INT, height INT, "
    "pixel_sum BIGINT, px_min INT, px_max INT"
)

VIDEO_N_FRAMES = 3


def synth_avi_corpus(docs: DataFrame) -> DataFrame:
    """Deterministic 3-frame MJPEG AVI per document (FIXTURE): frame f
    is a 16x16 grayscale image of four constant 8x8 blocks at
    (doc_id * 7 + f * 17 + b * 31) % 256 — DC-only DCTs, so every
    frame round-trips exactly and the per-frame stats have closed
    forms (see synth_jpeg_corpus)."""
    import numpy as np

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            blobs = []
            for d in pdf["doc_id"]:
                d = int(d)
                frames = []
                for f in range(VIDEO_N_FRAMES):
                    img = np.zeros((16, 16), dtype=np.uint8)
                    for b, (by, bx) in enumerate(((0, 0), (0, 1), (1, 0), (1, 1))):
                        img[by * 8:(by + 1) * 8, bx * 8:(bx + 1) * 8] = (
                            d * 7 + f * 17 + b * 31
                        ) % 256
                    frames.append(img)
                blobs.append(avi_encode(frames))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "media": blobs})

    return docs.select("doc_id").mapInPandas(batches, "doc_id BIGINT, media BINARY")


def video_frame_probe(media_df: DataFrame) -> DataFrame:
    """Arrow-batched REAL video frame extraction + decode over the
    opaque media column: AVI demux -> per-frame baseline-JPEG decode ->
    per-frame pixel statistics, one output row per frame. Undecodable
    payloads/frames are dropped (quarantine leg in production)."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for doc_id, blob in zip(pdf["doc_id"], pdf["media"]):
                try:
                    frames = avi_frames(bytes(blob))
                except ValueError:
                    continue
                for idx, fr in enumerate(frames):
                    try:
                        px = jpeg_decode(fr)
                    except ValueError:
                        continue
                    rows.append(
                        {
                            "doc_id": int(doc_id),
                            "frame_idx": idx,
                            "width": px.shape[1],
                            "height": px.shape[0],
                            "pixel_sum": int(px.astype("int64").sum()),
                            "px_min": int(px.min()),
                            "px_max": int(px.max()),
                        }
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "frame_idx", "width", "height",
                    "pixel_sum", "px_min", "px_max",
                ],
            )

    return media_df.mapInPandas(batches, VIDEO_FRAME_SCHEMA)
