"""Multimodal column plumbing: image/audio/video as opaque ``binary``
columns with typed metadata.

Three tiers of honesty about what runs in this codec-free runtime:
- `attach_media_metadata` (byte length, content hash), `probe_media`
  (container-header parsing: PNG/JPEG/GIF/BMP dimensions, WAV sample
  rate/channels/duration — pure stdlib ``struct``, no codec libraries),
  `decode_audio` (REAL PCM WAV decode via stdlib ``wave`` + numpy:
  8/16/24/32-bit PCM -> mono float samples, RMS/peak energy, fixed-bin
  downsampled waveform) and `decode_image` (REAL pixel decode: PNG via
  zlib IDAT inflate + scanline unfiltering, uncompressed BMP, GIF via
  real LZW incl. interlace, and JPEG — baseline AND progressive — via
  a from-the-spec ITU-T.81 decoder: canonical Huffman, DC prediction,
  AC RLE with EOB runs, spectral selection + successive approximation,
  dequant, matrix IDCT, 4:2:0/4:2:2 upsampling, JFIF YCbCr->RGB;
  per-channel means + luma histogram) are REAL.
- `sample_frames` is REAL for MJPEG-in-AVI (RIFF walk; every sampled
  frame is a standalone JPEG the decoder above fully decodes); codec
  containers (H.264/VP9/...) fall back to a clearly-fake byte-slice
  stub.  The learned feature extractor (`decode_features`) remains a
  deterministic fake (it needs model weights); swap `_decode_stub`
  for a real extractor without touching the plumbing — schema, Arrow
  batch shape, :func:`.rows.map_rows` kernels and partition sizing are
  production-real.

Scale design: media bytes stay in the executor (never collect), batches
flow through Arrow; per-file work parallelizes by repartitioning on a
content-hash so one oversized asset can't skew a partition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pincette_json_streams_spark.functions.caching import tracked_persist
from pincette_json_streams_spark.functions.rows import map_rows

__all__ = [
    "MEDIA_SCHEMA", "attach_media_metadata", "audio_fingerprint",
    "cdc_chunks", "decode_audio", "decode_features", "decode_image",
    "probe_media", "sample_frames", "video_fingerprint",
    "video_near_pairs",
]

# canonical media column group
MEDIA_SCHEMA = (
    "media binary, media_type string, width int, height int, "
    "duration_ms bigint"
)


def attach_media_metadata(df: DataFrame, media_col: str = "media") -> DataFrame:
    """Derive cheap metadata without decoding: byte length + content hash
    (native Columns)."""
    return df.withColumns(
        {
            "media_bytes": F.length(F.col(media_col)),
            "media_sha": F.sha2(F.col(media_col), 256),
        }
    )


_PROBE_FIELDS = ("format", "width", "height", "sample_rate", "channels",
                 "duration_ms")


def _probe_bytes(b: bytes | None) -> dict:
    """REAL container-header probe, stdlib only.  Recognizes PNG (IHDR),
    JPEG (SOF0/1/2 walk), GIF, BMP (BITMAPINFOHEADER), RIFF/WAV
    (fmt + data chunks -> sample rate, channels, duration), ISO-BMFF
    MP4 (box walk: mvhd duration, tkhd 16.16 dimensions) and WebP
    (VP8X canvas / VP8L packed / VP8 frame header dims).  Unknown or
    truncated payloads yield all-NULL fields, never an exception."""
    import struct

    out = dict.fromkeys(_PROBE_FIELDS)
    if not b:
        return out
    try:
        if b[:8] == b"\x89PNG\r\n\x1a\n" and b[12:16] == b"IHDR" \
                and len(b) >= 24:
            w, h = struct.unpack(">II", b[16:24])
            out.update(format="png", width=w, height=h)
        elif b[:3] == b"\xff\xd8\xff":
            i = 2
            while i + 9 < len(b) and b[i] == 0xFF:
                marker = b[i + 1]
                if marker in (0xC0, 0xC1, 0xC2):
                    h, w = struct.unpack(">HH", b[i + 5:i + 9])
                    out.update(format="jpeg", width=w, height=h)
                    break
                if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
                    i += 2
                    continue
                i += 2 + struct.unpack(">H", b[i + 2:i + 4])[0]
        elif b[:6] in (b"GIF87a", b"GIF89a") and len(b) >= 10:
            w, h = struct.unpack("<HH", b[6:10])
            out.update(format="gif", width=w, height=h)
        elif b[:2] == b"BM" and len(b) >= 26:
            w, h = struct.unpack("<ii", b[18:26])
            out.update(format="bmp", width=w, height=abs(h))
        elif len(b) >= 8 and b[4:8] == b"ftyp":
            # ISO BMFF / MP4: box walk to moov/mvhd (timescale +
            # duration) and trak/tkhd (presentation width/height,
            # 16.16 fixed point) — spec ISO/IEC 14496-12
            def walk(lo, hi, depth=0):
                i = lo
                while i + 8 <= hi and depth < 8:
                    size, = struct.unpack(">I", b[i:i + 4])
                    typ = b[i + 4:i + 8]
                    body = i + 8
                    if size == 1 and i + 16 <= hi:      # 64-bit size
                        size, = struct.unpack(">Q", b[i + 8:i + 16])
                        body = i + 16
                    if size < 8:
                        break
                    end = min(i + size, hi)
                    if typ == b"mvhd" and body + 20 <= end:
                        ver = b[body]
                        if ver == 1:
                            ts, dur = struct.unpack(
                                ">IQ", b[body + 20:body + 32])
                        else:
                            ts, dur = struct.unpack(
                                ">II", b[body + 12:body + 20])
                        if ts:
                            out["duration_ms"] = int(dur * 1000 // ts)
                    elif typ == b"tkhd" and body + 84 <= end:
                        ver = b[body]
                        off = body + (92 if ver == 1 else 80)
                        if off + 8 <= end:
                            wfix, hfix = struct.unpack(
                                ">II", b[off:off + 8])
                            if wfix and hfix:
                                out["width"] = wfix >> 16
                                out["height"] = hfix >> 16
                    elif typ in (b"moov", b"trak", b"mdia"):
                        walk(body, end, depth + 1)
                    i += size
            out["format"] = "mp4"
            walk(0, len(b))
        elif b[:4] == b"RIFF" and b[8:12] == b"WEBP" and len(b) >= 16:
            # WebP: VP8X extended header carries the canvas size;
            # VP8L lossless packs w-1/h-1 in 14-bit fields
            chunk = b[12:16]
            if chunk == b"VP8X" and len(b) >= 30:
                wm1 = int.from_bytes(b[24:27], "little")
                hm1 = int.from_bytes(b[27:30], "little")
                out.update(format="webp", width=wm1 + 1, height=hm1 + 1)
            elif chunk == b"VP8L" and len(b) >= 25 and b[20] == 0x2F:
                bits = int.from_bytes(b[21:25], "little")
                out.update(format="webp",
                           width=(bits & 0x3FFF) + 1,
                           height=((bits >> 14) & 0x3FFF) + 1)
            elif chunk == b"VP8 " and len(b) >= 30 \
                    and b[23:26] == b"\x9d\x01\x2a":
                w, h = struct.unpack("<HH", b[26:30])
                out.update(format="webp", width=w & 0x3FFF,
                           height=h & 0x3FFF)
            else:
                out["format"] = "webp"
        elif b[:4] == b"RIFF" and b[8:12] == b"WAVE":
            i, sr, ch, bits, data_len = 12, None, None, None, None
            while i + 8 <= len(b):
                cid = b[i:i + 4]
                clen = struct.unpack("<I", b[i + 4:i + 8])[0]
                if cid == b"fmt " and i + 24 <= len(b):
                    ch, sr = struct.unpack("<HI", b[i + 10:i + 16])
                    bits = struct.unpack("<H", b[i + 22:i + 24])[0]
                elif cid == b"data":
                    data_len = clen
                i += 8 + clen + (clen & 1)
            if sr:
                out.update(format="wav", sample_rate=sr, channels=ch)
                if data_len and ch and bits:
                    out["duration_ms"] = \
                        int(data_len * 8000 / (sr * ch * bits))
    except (struct.error, IndexError):
        pass
    return out


def probe_media(
    df: DataFrame, media_col: str = "media", out_col: str = "probe"
) -> DataFrame:
    """Adds ``out_col`` struct(format, width, height, sample_rate,
    channels, duration_ms) parsed from container headers — real metadata
    with zero codec dependencies.  Arrow-batched (:func:`.rows.map_rows`);
    bytes never leave the executor."""
    def kernel(media):
        return [[_probe_bytes(b) for b in media]]

    return map_rows(df, kernel, [media_col], [(
        out_col, "struct<format:string,width:int,height:int,"
        "sample_rate:int,channels:int,duration_ms:bigint>")])


_AUDIO_FIELDS = ("sample_rate", "channels", "n_samples", "duration_ms",
                 "rms", "peak", "waveform")


def _riff_pcm_parts(b: bytes):
    """(sampwidth, nchannels, framerate, frames) for a canonical PCM
    WAV via a bytes-level RIFF chunk walk, or None when anything is
    unusual — missing/odd headers, non-PCM format tag, chunk sizes
    that overrun the RIFF extent — so the caller falls back to the
    stdlib ``wave`` module and tolerance stays exactly what it was
    (the d70c1fc fast-path pattern; ``wave`` costs ~20-30 us of Chunk
    objects, struct unpacks and seeks per clip, which at the
    per-window audio grain is the dominant container cost).

    Where the fast path DOES claim a file, it reproduces ``wave``
    byte-for-byte (differentially tested): the RIFF size field caps
    the readable extent, the LAST ``fmt `` before ``data`` wins,
    ``data`` frames are truncated to whole frames of the declared
    chunk size and then to the capped extent (mid-frame cuts
    included, exactly like Chunk.read), and odd-sized chunks skip
    their pad byte."""
    n = len(b)
    if n < 12 or b[:4] != b"RIFF" or b[8:12] != b"WAVE":
        return None
    end = min(n, 8 + int.from_bytes(b[4:8], "little"))
    pos = 12
    fmt = None
    while pos + 8 <= end:
        name = b[pos:pos + 4]
        size = int.from_bytes(b[pos + 4:pos + 8], "little")
        body = pos + 8
        if name == b"fmt ":
            if size < 16 or body + 16 > end:
                return None  # short fmt: let wave decide (it raises)
            tag = int.from_bytes(b[body:body + 2], "little")
            ch = int.from_bytes(b[body + 2:body + 4], "little")
            rate = int.from_bytes(b[body + 4:body + 8], "little")
            bits = int.from_bytes(b[body + 14:body + 16], "little")
            if tag != 1 or ch == 0 or bits == 0:
                return None  # non-PCM / degenerate: wave's call
            fmt = (ch, (bits + 7) // 8, rate)
        elif name == b"data":
            if fmt is None:
                return None  # data before fmt: wave raises
            ch, sw, rate = fmt
            fs = ch * sw
            wanted = (size // fs) * fs
            return sw, ch, rate, b[body:body + min(wanted, end - body)]
        nxt = body + size + (size & 1)
        if nxt > end:
            return None  # overrunning skip: wave's (noisy) territory
        pos = nxt
    return None


def _wave_module_parts(b: bytes):
    """The stdlib ``wave`` fallback behind :func:`_riff_pcm_parts` —
    returns the same tuple, or None where wave errors."""
    import io
    import wave

    try:
        with wave.open(io.BytesIO(b)) as w:
            return (w.getsampwidth(), w.getnchannels(),
                    w.getframerate(), w.readframes(w.getnframes()))
    except (wave.Error, EOFError):
        return None


def _decode_wav(b: bytes | None, waveform_bins: int) -> dict:
    """REAL PCM WAV decode — bytes-level RIFF walk (stdlib ``wave``
    fallback) + numpy, no codecs.  Supports 8/16/24/32-bit PCM;
    compressed or non-RIFF payloads yield all-NULL fields
    (probe_media tells callers what they have)."""
    import numpy as np

    out = dict.fromkeys(_AUDIO_FIELDS)
    if not b:
        return out
    parts = _riff_pcm_parts(b) or _wave_module_parts(b)
    if parts is None:
        return out
    sw, ch, sr, raw = parts
    if sw == 1:  # unsigned 8-bit
        x = (np.frombuffer(raw, np.uint8).astype(np.float32) - 128.0) \
            / 128.0
    elif sw == 2:
        x = np.frombuffer(raw, "<i2").astype(np.float32) / 32768.0
    elif sw == 3:  # packed 24-bit: widen to int32 with sign extension
        a = np.frombuffer(raw, np.uint8)
        a = a[: (len(a) // 3) * 3].reshape(-1, 3).astype(np.uint32)
        v = (a[:, 0] | (a[:, 1] << 8) | (a[:, 2] << 16)).astype(np.int32)
        v = (v << 8) >> 8
        x = v.astype(np.float32) / float(1 << 23)
    elif sw == 4:
        x = np.frombuffer(raw, "<i4").astype(np.float32) / float(1 << 31)
    else:
        return out
    if ch > 1:
        x = x[: (len(x) // ch) * ch].reshape(-1, ch).mean(axis=1)
    n_samples = int(len(x))
    out.update(
        sample_rate=sr, channels=ch, n_samples=n_samples,
        duration_ms=int(n_samples * 1000 / sr) if sr else None,
    )
    if n_samples:
        out["rms"] = float(np.sqrt(np.mean(x.astype(np.float64) ** 2)))
        out["peak"] = float(np.abs(x).max())
        # fixed-bin mean-abs envelope: the cheap waveform fingerprint
        bins = np.array_split(np.abs(x), min(waveform_bins, n_samples))
        out["waveform"] = [float(seg.mean()) for seg in bins]
    return out


def decode_audio(
    df: DataFrame,
    media_col: str = "media",
    out_col: str = "audio",
    waveform_bins: int = 64,
) -> DataFrame:
    """REAL audio decode for PCM WAV payloads: per-row
    struct(sample_rate, channels, n_samples, duration_ms, rms, peak,
    waveform array<float>).  Arrow-batched (:func:`.rows.map_rows`);
    bytes never leave the executor; unsupported formats yield NULL
    fields rather than failing the batch."""
    def kernel(media):
        return [[_decode_wav(b, waveform_bins) for b in media]]

    return map_rows(df, kernel, [media_col], [(
        out_col, "struct<sample_rate:int,channels:int,n_samples:bigint,"
        "duration_ms:bigint,rms:double,peak:double,waveform:array<float>>")])


# Audio perceptual fingerprint: 16 frames x 64 samples, dyadic-lag
# difference energies as integer band proxies (lag 1 ~ highest band),
# Haitsma-Kalker bit rule (ISMIR 2002, public) over band-energy deltas.
_AFP_LAGS = (1, 2, 4, 8, 16)
_AFP_FRAMES = 16
_AFP_FRAME_LEN = 64


def _wav_mono16(b: bytes | None):
    """PCM WAV -> int64 mono samples on the 16-bit grid: every width
    normalizes to its top 16 bits (u8 -> (v-128)<<8, 24-bit -> >>8,
    32-bit -> >>16) and channels SUM (integer — no float mean), so the
    fingerprint math downstream is exact and SQL-replayable.
    Container walk via :func:`_riff_pcm_parts` (bytes-level, ~10x less
    per-clip overhead than the ``wave`` module it falls back to)."""
    import numpy as np

    if not b:
        return None
    parts = _riff_pcm_parts(b) or _wave_module_parts(b)
    if parts is None:
        return None
    sw, ch, _rate, raw = parts
    if sw == 1:
        x = (np.frombuffer(raw, np.uint8).astype(np.int64) - 128) << 8
    elif sw == 2:
        x = np.frombuffer(raw, "<i2").astype(np.int64)
    elif sw == 3:
        a = np.frombuffer(raw, np.uint8)
        a = a[: (len(a) // 3) * 3].reshape(-1, 3).astype(np.uint32)
        v = (a[:, 0] | (a[:, 1] << 8) | (a[:, 2] << 16)).astype(np.int32)
        x = ((v << 8) >> 8).astype(np.int64) >> 8
    elif sw == 4:
        x = np.frombuffer(raw, "<i4").astype(np.int64) >> 16
    else:
        return None
    if ch > 1:
        x = x[: (len(x) // ch) * ch].reshape(-1, ch).sum(axis=1)
    return x


def _audio_fp_int(x) -> int:
    """64-bit fingerprint from int64 mono samples (zero-padded /
    truncated to 16 frames x 64 samples).

    E(n, m) = sum over frame n of (s[i] - s[i-L_m])^2 for global
    i >= L_m, lags (1,2,4,8,16) — integer band-energy proxies from
    high to low.  D(n, m) = E(n, m) - E(n, m+1); bit(n, m) = 1 iff
    D(n, m) > D(n-1, m) with D(-1, *) = 0; fingerprint bit position
    k = n*4 + m, two's-complement int64.  All arithmetic stays in
    int64 (|s| <= 2^17 after channel sum, diff^2 * 64 <= 2^43)."""
    import numpy as np

    n_total = _AFP_FRAMES * _AFP_FRAME_LEN
    s = np.zeros(n_total, np.int64)
    m = min(len(x), n_total)
    s[:m] = x[:m]
    E = np.zeros((_AFP_FRAMES, len(_AFP_LAGS)), np.int64)
    for mi, lag in enumerate(_AFP_LAGS):
        d = np.zeros(n_total, np.int64)
        d[lag:] = s[lag:] - s[:-lag]
        E[:, mi] = (d * d).reshape(_AFP_FRAMES, _AFP_FRAME_LEN) \
            .sum(axis=1)
    D = E[:, :-1] - E[:, 1:]
    prev = np.vstack([np.zeros((1, D.shape[1]), np.int64), D[:-1]])
    bits = D > prev
    fp = 0
    for n in range(_AFP_FRAMES):
        for mm in range(D.shape[1]):
            if bits[n, mm]:
                fp |= 1 << (n * D.shape[1] + mm)
    if fp >= 1 << 63:
        fp -= 1 << 64
    return fp


# chunk height for the batched HK kernel: (256, 1024) int64 scratch is
# ~2 MB — stays in cache, avoiding the multi-80 MB temporaries a
# whole-batch vectorization allocates (measured pathological on this
# class of host: 0.36-11 s for the same work; chunked is a stable
# ~0.2 s)
_AFP_CHUNK = 256


def _audio_fp_batch(windows) -> "list":
    """Vectorized :func:`_audio_fp_int` over a list of int64 sample
    arrays (each zero-padded/truncated to one window) — bit-identical
    by construction: the same int64 lag diffs, squares, frame sums,
    D-column differences and strict > comparisons, with the bit pack
    as an exact uint64 dot product.  ~5x less per-window numpy
    dispatch overhead than the scalar loop (r12 A/B: 0.20 s vs 1.1 s
    per 10k windows)."""
    import numpy as np

    if not windows:
        return []
    n_total = _AFP_FRAMES * _AFP_FRAME_LEN
    n_lags = len(_AFP_LAGS)
    k_all = len(windows)
    X = np.zeros((k_all, n_total), np.int64)
    for i, x in enumerate(windows):
        m = min(len(x), n_total)
        X[i, :m] = x[:m]
    out = np.empty(k_all, np.int64)
    d = np.zeros((_AFP_CHUNK, n_total), np.int64)
    E = np.empty((_AFP_CHUNK, _AFP_FRAMES, n_lags), np.int64)
    pw = 1 << np.arange(_AFP_FRAMES * (n_lags - 1), dtype=np.uint64)
    for i0 in range(0, k_all, _AFP_CHUNK):
        C = X[i0:i0 + _AFP_CHUNK]
        k = C.shape[0]
        for mi, lag in enumerate(_AFP_LAGS):
            d[:k] = 0
            np.subtract(C[:, lag:], C[:, :-lag], out=d[:k, lag:])
            np.multiply(d[:k], d[:k], out=d[:k])
            E[:k, :, mi] = d[:k].reshape(
                k, _AFP_FRAMES, _AFP_FRAME_LEN).sum(axis=2)
        D = E[:k, :, :-1] - E[:k, :, 1:]
        prev = np.concatenate(
            [np.zeros((k, 1, D.shape[2]), np.int64), D[:, :-1]], axis=1)
        bits = (D > prev).reshape(k, -1)
        out[i0:i0 + k] = (bits.astype(np.uint64) * pw).sum(axis=1) \
            .astype(np.uint64).view(np.int64)
    return [int(v) for v in out]


def audio_fingerprint(
    df: DataFrame,
    media_col: str = "media",
    out_col: str = "afp",
) -> DataFrame:
    """REAL audio perceptual fingerprint for PCM WAV payloads: one
    int64 sketch lane per row (NULL for undecodable/empty), computed
    by the Haitsma-Kalker bit rule over integer dyadic-lag band
    energies (see :func:`_audio_fp_int`).  The lane feeds
    :func:`similarity.hamming_near_pairs` / ``$hammingPairs`` with
    ``lane_bits=64`` UNCHANGED — text shingles, embedding sign
    sketches, image dHashes and audio now share ONE near-dup index
    family.

    Integer-exact by construction, so a SQL oracle replays the
    fingerprint bit-for-bit from the raw samples (driver query
    ``audio_fingerprint``).

    Scale shape: per-row map over Arrow batches — zero shuffle; bytes
    never leave the executor."""
    def kernel(wavs):
        samples = [_wav_mono16(b) for b in wavs]
        it = iter(_audio_fp_batch([x for x in samples if x is not None]))
        return [[None if x is None else next(it) for x in samples]]

    return map_rows(df, kernel, [media_col], [(out_col, "bigint")],
                    keep=df.columns)


# one fingerprint window = the full HK geometry (16 frames x 64
# samples); the default hop overlaps windows by half so a clip
# shifted by k*hop samples still aligns whole windows bit-for-bit
_AFP_WINDOW = _AFP_FRAMES * _AFP_FRAME_LEN


def audio_fingerprint_windows(
    df: DataFrame,
    media_col: str = "media",
    id_col: str = "clip_id",
    out_col: str = "afp",
    hop: int = _AFP_WINDOW // 2,
) -> DataFrame:
    """Per-WINDOW audio perceptual fingerprints: one int64
    Haitsma-Kalker lane (the exact :func:`_audio_fp_int` math) per
    1024-sample window, windows starting every ``hop`` samples — the
    audio twin of :func:`video_fingerprint`'s per-frame dHash lanes.
    The whole-clip :func:`audio_fingerprint` emits ONE lane from the
    first 1024 samples, so it can neither see past the clip head nor
    match time-shifted or clipped audio; per-window lanes fix both: a
    clip shifted by a multiple of ``hop`` reproduces the original's
    windows bit-for-bit at later indices, and
    :func:`audio_near_pairs` rolls window matches up to clip pairs.

    Window ``j`` covers samples ``[j*hop, j*hop + 1024)``.  Only
    FULL windows are emitted (standard STFT-style framing): a
    mostly-zero-padded tail window fingerprints as mostly-zero bits
    and would near-collide with every other clip's tail — quadratic
    junk pairs at corpus scale.  Trailing samples shorter than one
    window are covered by the previous overlapping window up to
    ``hop - 1`` samples.  Clips shorter than 1024 samples emit ONE
    zero-padded window — identical to the whole-clip
    :func:`audio_fingerprint` lane.  Undecodable/NULL payloads emit
    NO rows (honest absence).  Integer-exact like the whole-clip
    lane, so a SQL oracle replays every window bit-for-bit from the
    raw samples (driver query ``audio_windows``).

    Scale shape: per-row Arrow map, zero shuffle; only (id,
    window_idx, afp) ≈ 20 bytes per window leave the executor, never
    the audio bytes.

    -> one row per window: (id_col, window_idx int, afp bigint)."""
    if hop <= 0:
        raise ValueError(f"audio_fingerprint_windows: hop={hop} "
                         "must be positive")
    def kernel(wavs):
        index, idxs, windows = [], [], []
        for i, b in enumerate(wavs):
            x = _wav_mono16(b)
            if x is None:
                continue
            n_win = max(1, 1 + (len(x) - _AFP_WINDOW) // hop)
            for j in range(n_win):
                index.append(i)
                idxs.append(j)
                windows.append(x[j * hop:j * hop + _AFP_WINDOW])
        return [index, idxs, _audio_fp_batch(windows)]

    return map_rows(df, kernel, [media_col],
                    [("window_idx", "int"), (out_col, "bigint")],
                    keep=[id_col])


def audio_near_pairs(
    df: DataFrame,
    media_col: str = "media",
    id_col: str = "clip_id",
    hop: int = _AFP_WINDOW // 2,
    max_hamming: int = 7,
    min_matching_windows: int = 1,
) -> DataFrame:
    """Audio near-duplicates on the shared Hamming index, robust to
    time shifts and clipping: per-window HK lanes
    (:func:`audio_fingerprint_windows`) pair through the banded-index
    self-join (``hamming_near_pairs`` — candidates ∝ band collisions,
    never |windows|²), and clips pair by how many windows match —
    the exact shape :func:`video_near_pairs` uses for frames, down
    to the shared packed/delimited window key and its range guard.
    A clip shifted by a multiple of ``hop``, or clipped to a
    sub-range, still shares whole windows with the original, which
    the single whole-clip lane of :func:`audio_fingerprint`
    provably cannot match.

    -> (id_a, id_b, matching_windows, min_hamming) with
    id_a < id_b (ordered in the id's own type)."""
    fps = audio_fingerprint_windows(
        df, media_col=media_col, id_col=id_col, hop=hop,
    ).filter(F.col("afp").isNotNull())
    return _lane_rollup_pairs(
        fps, id_col=id_col, idx_col="window_idx", lane_col="afp",
        max_hamming=max_hamming, min_matching=min_matching_windows,
        out_a="id_a", out_b="id_b", count_name="matching_windows",
        op="audio_near_pairs")


def _png_unfilter(raw: bytes, w: int, h: int, bpp: int):
    """Reverse PNG scanline filters (types 0-4) -> HxW*bpp bytes.
    Pure numpy; spec: https://www.w3.org/TR/png-3/#9Filters."""
    import numpy as np

    stride = w * bpp
    out = np.zeros((h, stride), dtype=np.uint8)
    pos = 0
    for y in range(h):
        ftype = raw[pos]
        line = np.frombuffer(raw[pos + 1:pos + 1 + stride], np.uint8)
        pos += 1 + stride
        cur = line.astype(np.int32)
        prev = out[y - 1].astype(np.int32) if y else np.zeros(
            stride, np.int32)
        if ftype == 0:
            rec = cur
        elif ftype == 2:  # Up
            rec = (cur + prev) % 256
        elif ftype in (1, 3, 4):  # Sub / Average / Paeth need a scan
            rec = np.zeros(stride, np.int32)
            for i in range(stride):
                a = rec[i - bpp] if i >= bpp else 0
                b = prev[i]
                c = prev[i - bpp] if i >= bpp else 0
                if ftype == 1:
                    pred = a
                elif ftype == 3:
                    pred = (a + b) // 2
                else:
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if pa <= pb and pa <= pc else \
                        (b if pb <= pc else c)
                rec[i] = (cur[i] + pred) % 256
        else:
            raise ValueError(f"png: unknown filter {ftype}")
        out[y] = rec.astype(np.uint8)
    return out.reshape(h, w, bpp)


def _jpeg_huff_table(counts: bytes, symbols: bytes) -> dict:
    """Canonical JPEG Huffman table: (length, code) -> symbol
    (spec ITU-T.81 Annex C code assignment)."""
    table = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(counts[length - 1]):
            table[(length, code)] = symbols[k]
            code += 1
            k += 1
        code <<= 1
    return table


class _JpegBits:
    """MSB-first bit reader over an entropy-coded segment (already
    unstuffed)."""

    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0       # bit position

    def bit(self) -> int:
        byte_i = self.pos >> 3
        if byte_i >= len(self.data):
            raise ValueError("jpeg: bit stream exhausted")
        b = (self.data[byte_i] >> (7 - (self.pos & 7))) & 1
        self.pos += 1
        return b

    def bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.bit()
        return v

    def decode(self, table: dict) -> int:
        length = 0
        code = 0
        while length < 16:
            code = (code << 1) | self.bit()
            length += 1
            sym = table.get((length, code))
            if sym is not None:
                return sym
        raise ValueError("jpeg: invalid Huffman code")


def _jpeg_extend(v: int, t: int) -> int:
    """Sign-extend a t-bit magnitude (spec F.2.2.1 EXTEND)."""
    return v - (1 << t) + 1 if t and v < (1 << (t - 1)) else v


_JPEG_ZIGZAG = [
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
]


def _jpeg_idct_matrix():
    import numpy as np

    x, u = np.meshgrid(np.arange(8), np.arange(8))
    M = np.cos((2 * x + 1) * u * np.pi / 16) / 2.0
    M[0, :] /= np.sqrt(2.0)
    return M  # spatial = M.T @ coef @ M


def _jpeg_split_scan(b: bytes, start: int):
    """Entropy segments (FF00 unstuffed), split at RST markers; returns
    (segments, index just past the scan)."""
    segs = []
    cur = bytearray()
    i = start
    n = len(b)
    while i < n:
        byte = b[i]
        if byte != 0xFF:
            cur.append(byte)
            i += 1
            continue
        nxt = b[i + 1] if i + 1 < n else 0xD9
        if nxt == 0x00:
            cur.append(0xFF)
            i += 2
        elif 0xD0 <= nxt <= 0xD7:      # restart marker
            segs.append(bytes(cur))
            cur = bytearray()
            i += 2
        else:                          # EOI or next real marker
            break
    segs.append(bytes(cur))
    return segs, i


def _jpeg_grid(comps, w, h):
    """(hmax, vmax, per-comp padded block grid, per-comp used blocks)."""
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))
    dims = {}
    for c in comps:
        cw = -(-w * c["h"] // hmax)
        ch = -(-h * c["v"] // vmax)
        dims[c["id"]] = {
            "pad_bx": mcux * c["h"], "pad_by": mcuy * c["v"],
            "used_bx": -(-cw // 8), "used_by": -(-ch // 8),
        }
    return hmax, vmax, mcux, mcuy, dims


def _jpeg_store(comps, w, h):
    """Per-component coefficient store for progressive decoding:
    int32 (padded_by, padded_bx, 64) in ZIGZAG index order."""
    import numpy as np

    _, _, _, _, dims = _jpeg_grid(comps, w, h)
    return {
        c["id"]: np.zeros(
            (dims[c["id"]]["pad_by"], dims[c["id"]]["pad_bx"], 64),
            np.int32,
        )
        for c in comps
    }


def _jpeg_progressive_scan(
    segs, comps, order, sel, huff, store, restart,
    ss, se, ah, al, w, h,
):
    """One progressive scan (ITU-T.81 G.2): DC first/refine
    (interleaved or single-component), AC first/refine
    (single-component, EOB runs, successive approximation)."""
    hmax, vmax, mcux, mcuy, dims = _jpeg_grid(comps, w, h)
    by_id = {c["id"]: c for c in comps}
    scomp = [by_id[cid] for cid in order]

    if ss == 0:                        # ---- DC scan ----
        if se != 0:
            raise ValueError("jpeg: DC scan with Se != 0")
        # block visit order: interleaved MCU order (ns>1) or the
        # component's own padded grid (ns == 1)
        def dc_blocks():
            if len(scomp) > 1:
                for my in range(mcuy):
                    for mx in range(mcux):
                        for c in scomp:
                            for vy in range(c["v"]):
                                for vx in range(c["h"]):
                                    yield (c["id"],
                                           my * c["v"] + vy,
                                           mx * c["h"] + vx)
            else:
                c = scomp[0]
                d = dims[c["id"]]
                for by in range(d["pad_by"]):
                    for bx in range(d["pad_bx"]):
                        yield c["id"], by, bx
        blocks = list(dc_blocks())
        per_rst = None
        if restart:
            per_mcu = (sum(c["h"] * c["v"] for c in scomp)
                       if len(scomp) > 1 else 1)
            per_rst = restart * per_mcu
        seg_idx = 0
        bits = _JpegBits(segs[0])
        pred = {c["id"]: 0 for c in scomp}
        done = 0
        for cid, by, bx in blocks:
            if per_rst and done and done % per_rst == 0:
                seg_idx += 1
                bits = _JpegBits(segs[seg_idx])
                pred = {c["id"]: 0 for c in scomp}
            blk = store[cid][by, bx]
            if ah == 0:                # DC first
                t = bits.decode(huff[(0, sel[cid][0])])
                diff = _jpeg_extend(bits.bits(t), t) if t else 0
                pred[cid] += diff
                blk[0] = pred[cid] << al
            else:                      # DC refinement: one bit
                if bits.bit():
                    blk[0] = int(blk[0]) | (1 << al)
            done += 1
        return

    # ---- AC scan: always single-component ----
    if len(scomp) != 1:
        raise ValueError("jpeg: interleaved AC scan")
    c = scomp[0]
    d = dims[c["id"]]
    ac_tbl = huff[(1, sel[c["id"]][1])]
    seg_idx = 0
    bits = _JpegBits(segs[0])
    eobrun = 0
    done = 0
    for by in range(d["used_by"]):
        for bx in range(d["used_bx"]):
            if restart and done and done % restart == 0:
                seg_idx += 1
                bits = _JpegBits(segs[seg_idx])
                eobrun = 0
            blk = store[c["id"]][by, bx]
            if ah == 0:
                eobrun = _jpeg_ac_first(
                    blk, bits, ac_tbl, ss, se, al, eobrun)
            else:
                eobrun = _jpeg_ac_refine(
                    blk, bits, ac_tbl, ss, se, al, eobrun)
            done += 1
    return


def _jpeg_ac_first(blk, bits, ac_tbl, ss, se, al, eobrun):
    """AC coefficients, first pass at this precision (G.2.2)."""
    if eobrun > 0:
        return eobrun - 1
    k = ss
    while k <= se:
        rs = bits.decode(ac_tbl)
        r, s = rs >> 4, rs & 15
        if s == 0:
            if r < 15:                 # EOBn
                run = (1 << r) - 1
                if r:
                    run += bits.bits(r)
                return run
            k += 16                    # ZRL
            continue
        k += r
        if k > se:
            raise ValueError("jpeg: AC first overflow")
        blk[k] = _jpeg_extend(bits.bits(s), s) << al
        k += 1
    return 0


def _jpeg_ac_refine(blk, bits, ac_tbl, ss, se, al, eobrun):
    """AC successive-approximation refinement (G.2.3; the libjpeg
    decode_mcu_AC_refine control flow): corrections for already-
    nonzero coefficients, insertion of newly-significant +-1<<Al."""
    p1 = 1 << al
    m1 = -1 << al

    def correct(k):
        if bits.bit():
            v = int(blk[k])
            if (v & p1) == 0:
                blk[k] = v + (p1 if v >= 0 else m1)

    k = ss
    if eobrun == 0:
        while k <= se:
            rs = bits.decode(ac_tbl)
            r, s = rs >> 4, rs & 15
            newval = 0
            if s == 0:
                if r < 15:             # EOBn: covers this block too
                    eobrun = (1 << r)
                    if r:
                        eobrun += bits.bits(r)
                    break
                # ZRL: advance over 16 zero-history coefficients
            else:
                if s != 1:
                    raise ValueError("jpeg: refine s != 1")
                newval = p1 if bits.bit() else m1
            while k <= se:
                if blk[k] != 0:
                    correct(k)
                else:
                    if r == 0:
                        if newval:
                            blk[k] = newval
                        k += 1
                        break
                    r -= 1
                k += 1
    if eobrun > 0:
        while k <= se:
            if blk[k] != 0:
                correct(k)
            k += 1
        eobrun -= 1
    return eobrun


def _jpeg_reconstruct(store, comps, qt, w, h, M):
    """Dequantize + IDCT the accumulated progressive coefficients and
    finish exactly like the sequential path (upsample, YCbCr->RGB)."""
    import numpy as np

    hmax, vmax, mcux, mcuy, dims = _jpeg_grid(comps, w, h)
    full = []
    for c in comps:
        coefs = store[c["id"]]
        by, bx = coefs.shape[:2]
        q = qt[c["tq"]]
        plane = np.zeros((by * 8, bx * 8), np.float64)
        nat = np.zeros(64, np.int32)
        for y in range(by):
            for x in range(bx):
                nat[:] = 0
                nat[_JPEG_ZIGZAG] = coefs[y, x]
                block = nat.reshape(8, 8).astype(np.float64) * q
                plane[y * 8:y * 8 + 8, x * 8:x * 8 + 8] = \
                    M.T @ block @ M + 128.0
        plane = np.repeat(plane, hmax // c["h"], axis=1)
        plane = np.repeat(plane, vmax // c["v"], axis=0)
        full.append(plane[:h, :w])
    if len(full) == 1:
        y = np.clip(full[0], 0, 255)
        return np.dstack([y, y, y]).round().astype(np.uint8)
    y, cb, cr = full[0], full[1] - 128.0, full[2] - 128.0
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    bl = y + 1.772 * cb
    return np.clip(
        np.dstack([r, g, bl]), 0, 255
    ).round().astype(np.uint8)


def _jpeg_decode(b: bytes):
    """REAL JPEG decode (ITU-T.81, Huffman): baseline/extended
    sequential (SOF0/SOF1) AND progressive (SOF2) — segment parse
    (DQT/SOF/DHT/DRI/multi-SOS), canonical Huffman decoding with DC
    prediction, AC run-length with EOB runs, spectral selection and
    successive approximation (DC/AC first + refinement scans),
    dequantization, 8x8 IDCT via one matrix product per block,
    sampling-factor upsampling (4:4:4 / 4:2:2 / 4:2:0 / grayscale),
    JFIF YCbCr->RGB.  Pure numpy + stdlib.  Lossless/arithmetic
    coding rejected (raise) — the caller surfaces NULL fields."""
    import struct

    import numpy as np

    if b[:2] != b"\xff\xd8":
        raise ValueError("jpeg: no SOI")
    qt: dict[int, "np.ndarray"] = {}
    huff: dict[tuple[int, int], dict] = {}
    comps = None
    w = h = 0
    restart = 0
    progressive = False
    store = None
    i = 2
    M = _jpeg_idct_matrix()
    while i + 4 <= len(b):
        if b[i] != 0xFF:
            raise ValueError("jpeg: bad marker")
        marker = b[i + 1]
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            i += 2
            continue
        ln, = struct.unpack(">H", b[i + 2:i + 4])
        seg = b[i + 4:i + 2 + ln]
        i += 2 + ln
        if marker == 0xDB:             # DQT
            j = 0
            while j < len(seg):
                pq, tq = seg[j] >> 4, seg[j] & 15
                j += 1
                if pq:
                    vals = np.frombuffer(
                        seg[j:j + 128], ">u2").astype(np.int32)
                    j += 128
                else:
                    vals = np.frombuffer(
                        seg[j:j + 64], np.uint8).astype(np.int32)
                    j += 64
                tbl = np.zeros(64, np.int32)
                tbl[_JPEG_ZIGZAG] = vals
                qt[tq] = tbl.reshape(8, 8)
        elif marker in (0xC0, 0xC1):   # SOF0/SOF1 baseline/ext sequential
            _prec, h, w, nc = struct.unpack(">BHHB", seg[:6])
            comps = []
            for c in range(nc):
                cid, hv, tq = seg[6 + 3 * c:9 + 3 * c]
                comps.append({"id": cid, "h": hv >> 4, "v": hv & 15,
                              "tq": tq})
        elif marker == 0xC4:           # DHT
            j = 0
            while j < len(seg):
                tc, th = seg[j] >> 4, seg[j] & 15
                counts = seg[j + 1:j + 17]
                nsym = sum(counts)
                symbols = seg[j + 17:j + 17 + nsym]
                huff[(tc, th)] = _jpeg_huff_table(counts, symbols)
                j += 17 + nsym
        elif marker == 0xDD:           # DRI
            restart, = struct.unpack(">H", seg[:2])
        elif marker == 0xDA:           # SOS
            if comps is None:
                raise ValueError("jpeg: SOS before SOF")
            ns = seg[0]
            sel = {}
            order = []
            for c in range(ns):
                cid, tda = seg[1 + 2 * c:3 + 2 * c]
                sel[cid] = (tda >> 4, tda & 15)
                order.append(cid)
            if not progressive:
                segs, i = _jpeg_split_scan(b, i)
                return _jpeg_scan(
                    b, segs, comps, sel, qt, huff, w, h, restart, M)
            ss, se, ahal = seg[1 + 2 * ns:4 + 2 * ns]
            segs, i = _jpeg_split_scan(b, i)
            if store is None:
                store = _jpeg_store(comps, w, h)
            _jpeg_progressive_scan(
                segs, comps, order, sel, huff, store, restart,
                ss, se, ahal >> 4, ahal & 15, w, h)
        elif marker == 0xC2:           # SOF2 progressive, Huffman
            _prec, h, w, nc = struct.unpack(">BHHB", seg[:6])
            comps = []
            for c in range(nc):
                cid, hv, tq = seg[6 + 3 * c:9 + 3 * c]
                comps.append({"id": cid, "h": hv >> 4, "v": hv & 15,
                              "tq": tq})
            progressive = True
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA,
                        0xCB, 0xCD, 0xCE, 0xCF):
            raise ValueError("jpeg: unsupported SOF (lossless/arith)")
        elif marker == 0xD9:           # EOI
            break
    if progressive and store is not None:
        return _jpeg_reconstruct(store, comps, qt, w, h, M)
    raise ValueError("jpeg: no scan data")


def _jpeg_scan(b, segs, comps, sel, qt, huff, w, h, restart, M):
    import numpy as np

    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))
    planes = {
        c["id"]: np.zeros(
            (mcuy * 8 * c["v"], mcux * 8 * c["h"]), np.float64)
        for c in comps
    }
    pred = {c["id"]: 0 for c in comps}
    seg_idx = 0
    bits = _JpegBits(segs[0])
    mcu_in_seg = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart and mcu_in_seg == restart:
                seg_idx += 1
                bits = _JpegBits(segs[seg_idx])
                pred = {c["id"]: 0 for c in comps}
                mcu_in_seg = 0
            for c in comps:
                dc_tbl = huff[(0, sel[c["id"]][0])]
                ac_tbl = huff[(1, sel[c["id"]][1])]
                q = qt[c["tq"]]
                for vy in range(c["v"]):
                    for vx in range(c["h"]):
                        coef = np.zeros(64, np.int32)
                        t = bits.decode(dc_tbl)
                        diff = _jpeg_extend(bits.bits(t), t) if t else 0
                        pred[c["id"]] += diff
                        coef[0] = pred[c["id"]]
                        k = 1
                        while k < 64:
                            rs = bits.decode(ac_tbl)
                            r, s = rs >> 4, rs & 15
                            if s == 0:
                                if r == 15:    # ZRL
                                    k += 16
                                    continue
                                break          # EOB
                            k += r
                            if k > 63:
                                raise ValueError("jpeg: AC overflow")
                            coef[_JPEG_ZIGZAG[k]] = _jpeg_extend(
                                bits.bits(s), s)
                            k += 1
                        # coef is already in natural order (AC stored at
                        # _JPEG_ZIGZAG[k]); q likewise
                        block = coef.reshape(8, 8).astype(np.float64) * q
                        spatial = M.T @ block @ M + 128.0
                        py = (my * c["v"] + vy) * 8
                        px = (mx * c["h"] + vx) * 8
                        planes[c["id"]][py:py + 8, px:px + 8] = spatial
            mcu_in_seg += 1
    # upsample to full MCU-padded resolution, then crop
    full = []
    for c in comps:
        p = planes[c["id"]]
        p = np.repeat(p, hmax // c["h"], axis=1)
        p = np.repeat(p, vmax // c["v"], axis=0)
        full.append(p[:h, :w])
    if len(full) == 1:
        y = np.clip(full[0], 0, 255)
        return np.dstack([y, y, y]).round().astype(np.uint8)
    y, cb, cr = full[0], full[1] - 128.0, full[2] - 128.0
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    bl = y + 1.772 * cb
    return np.clip(
        np.dstack([r, g, bl]), 0, 255
    ).round().astype(np.uint8)


def _gif_lzw(data: bytes, min_code_size: int, npix: int) -> bytes:
    """GIF LZW decompression (spec GIF89a appendix F): variable-width
    codes packed LSB-first, clear/end control codes, dictionary grows
    one entry per emitted code, code width bumps at 2^width up to 12
    bits.  Pure python — no codec library."""
    clear = 1 << min_code_size
    end = clear + 1
    code_size = min_code_size + 1
    table: dict[int, bytes] = {i: bytes([i]) for i in range(clear)}
    next_code = end + 1
    out = bytearray()
    prev: bytes | None = None
    bitpos = 0
    total = len(data) * 8
    while bitpos + code_size <= total and len(out) < npix:
        byte_i = bitpos >> 3
        chunk = int.from_bytes(data[byte_i:byte_i + 3], "little")
        code = (chunk >> (bitpos & 7)) & ((1 << code_size) - 1)
        bitpos += code_size
        if code == clear:
            code_size = min_code_size + 1
            table = {i: bytes([i]) for i in range(clear)}
            next_code = end + 1
            prev = None
            continue
        if code == end:
            break
        if prev is None:
            entry = table[code]
        else:
            if code in table:
                entry = table[code]
                table[next_code] = prev + entry[:1]
            elif code == next_code:          # KwKwK
                entry = prev + prev[:1]
                table[next_code] = entry
            else:
                raise ValueError("gif: corrupt LZW stream")
            next_code += 1
            if next_code == (1 << code_size) and code_size < 12:
                code_size += 1
        out += entry
        prev = entry
    return bytes(out[:npix])


# interlaced GIFs store rows in four passes (spec 89a §20)
def _gif_deinterlace_rows(h: int) -> list[int]:
    return (list(range(0, h, 8)) + list(range(4, h, 8))
            + list(range(2, h, 4)) + list(range(1, h, 2)))


_IMG_FIELDS = ("format", "width", "height", "channels",
               "mean_rgb", "luma_hist")


def _decode_image(b: bytes | None, hist_bins: int,
                  return_pixels: bool = False) -> dict:
    """REAL pixel decode, stdlib + numpy only:

    - PNG: 8-bit greyscale/RGB/(+alpha), non-interlaced — zlib IDAT
      inflate + scanline unfiltering (the actual format spec, not a
      codec binding).
    - BMP: uncompressed (BI_RGB) 24/32-bit bottom-up.
    - GIF: 87a/89a first frame — real LZW decompression, global/local
      color tables, interlace deinterleave.
    - JPEG: baseline sequential (SOF0/SOF1) AND progressive (SOF2,
      spectral selection + successive approximation) — real Huffman
      entropy decode, dequant, IDCT, chroma upsampling, YCbCr->RGB.

    Lossless/arithmetic JPEG yields NULL fields; `probe_media`
    still reports header metadata for everything.  Features:
    per-channel mean and a fixed-bin luma histogram (normalized)."""
    import struct
    import zlib

    import numpy as np

    out = dict.fromkeys(_IMG_FIELDS)
    if not b:
        return out
    try:
        px = None
        if b[:8] == b"\x89PNG\r\n\x1a\n":
            w = h = bitd = ctype = None
            idat = b""
            i = 8
            while i + 8 <= len(b):
                ln, typ = struct.unpack(">I4s", b[i:i + 8])
                data = b[i + 8:i + 8 + ln]
                if typ == b"IHDR":
                    w, h, bitd, ctype, _comp, _filt, inter = \
                        struct.unpack(">IIBBBBB", data[:13])
                    if bitd != 8 or inter != 0 or ctype not in (0, 2, 4, 6):
                        return out  # outside the supported PNG subset
                elif typ == b"IDAT":
                    idat += data
                elif typ == b"IEND":
                    break
                i += 12 + ln
            bpp = {0: 1, 2: 3, 4: 2, 6: 4}[ctype]
            px = _png_unfilter(zlib.decompress(idat), w, h, bpp)
            if ctype == 4:       # grey+alpha -> grey
                px = px[:, :, :1]
            if ctype in (0,):    # grey -> 3-channel view for mean_rgb
                pass
            out["format"] = "png"
        elif b[:2] == b"BM" and len(b) >= 54:
            off, = struct.unpack("<I", b[10:14])
            hsz, w, h = struct.unpack("<Iii", b[14:26])
            planes, bits = struct.unpack("<HH", b[26:30])
            comp, = struct.unpack("<I", b[30:34])
            if comp != 0 or bits not in (24, 32):
                return out
            bpp = bits // 8
            stride = (w * bpp + 3) & ~3
            rows = []
            for y in range(abs(h)):
                start = off + y * stride
                rows.append(np.frombuffer(
                    b[start:start + w * bpp], np.uint8
                ).reshape(w, bpp)[:, :3][:, ::-1])  # BGR -> RGB
            px = np.stack(rows[::-1] if h > 0 else rows)  # bottom-up
            out["format"] = "bmp"
        elif b[:6] in (b"GIF87a", b"GIF89a"):
            # REAL GIF decode: global/local color table, extensions
            # skipped, first image frame, LZW (incl. interlace)
            _sw, _sh, packed, _bg, _ar = struct.unpack("<HHBBB", b[6:13])
            i = 13
            gct = None
            if packed & 0x80:
                ncol = 2 << (packed & 7)
                gct = np.frombuffer(
                    b[i:i + 3 * ncol], np.uint8).reshape(ncol, 3)
                i += 3 * ncol
            while i < len(b):
                blk = b[i]
                if blk == 0x21:              # extension block
                    i += 2
                    while b[i] != 0:
                        i += 1 + b[i]
                    i += 1
                elif blk == 0x2C:            # image descriptor
                    _x, _y, w, h, ip = struct.unpack(
                        "<HHHHB", b[i + 1:i + 10])
                    i += 10
                    ctable = gct
                    if ip & 0x80:            # local color table wins
                        ncol = 2 << (ip & 7)
                        ctable = np.frombuffer(
                            b[i:i + 3 * ncol], np.uint8).reshape(ncol, 3)
                        i += 3 * ncol
                    mcs = b[i]
                    i += 1
                    data = bytearray()
                    while b[i] != 0:         # data sub-blocks
                        ln = b[i]
                        data += b[i + 1:i + 1 + ln]
                        i += 1 + ln
                    idx = np.frombuffer(
                        _gif_lzw(bytes(data), mcs, w * h), np.uint8)
                    if ctable is None or len(idx) < w * h:
                        return out
                    img = idx.reshape(h, w)
                    if ip & 0x40:            # interlaced
                        deinter = np.zeros_like(img)
                        deinter[np.array(_gif_deinterlace_rows(h))] = img
                        img = deinter
                    px = ctable[np.minimum(img, len(ctable) - 1)]
                    out["format"] = "gif"
                    break
                elif blk == 0x3B:            # trailer
                    break
                else:
                    return out
        elif b[:2] == b"\xff\xd8":
            # REAL baseline JPEG decode (ITU-T.81): Huffman + IDCT
            px = _jpeg_decode(b)
            out["format"] = "jpeg"
        if px is None:
            return out
        h_, w_ = px.shape[:2]
        ch = px.shape[2]
        rgb = px[:, :, :3] if ch >= 3 else np.repeat(px[:, :, :1], 3, 2)
        out.update(width=int(w_), height=int(h_), channels=int(ch))
        out["mean_rgb"] = [round(float(rgb[:, :, c].mean()), 4)
                           for c in range(3)]
        luma = (0.299 * rgb[:, :, 0] + 0.587 * rgb[:, :, 1]
                + 0.114 * rgb[:, :, 2])
        hist, _ = np.histogram(luma, bins=hist_bins, range=(0, 256))
        total = max(int(hist.sum()), 1)
        out["luma_hist"] = [round(float(x) / total, 6) for x in hist]
        if return_pixels:
            out["_px"] = px
        return out
    except Exception:
        return dict.fromkeys(_IMG_FIELDS)


def decode_image(
    df: DataFrame,
    media_col: str = "media",
    out_col: str = "image",
    hist_bins: int = 16,
) -> DataFrame:
    """REAL image decode for PNG (8-bit, non-interlaced), uncompressed
    BMP and GIF: struct(format, width, height, channels,
    mean_rgb array<double>, luma_hist array<double>).  Arrow-batched
    (:func:`.rows.map_rows`); unsupported formats yield NULL fields
    instead of failing the batch."""
    def kernel(media):
        return [[_decode_image(b, hist_bins) for b in media]]

    return map_rows(df, kernel, [media_col], [(
        out_col, "struct<format:string,width:int,height:int,channels:int,"
        "mean_rgb:array<double>,luma_hist:array<double>>")])


def _int_luma(px) -> "object":
    """HxW integer luma grid (BT.709-ish weights on a 1e-4 integer
    grid: (2126 R + 7152 G + 722 B) div 10000) — pure int math so the
    resize grid is engine- and platform-exact."""
    import numpy as np

    rgb = (px[:, :, :3] if px.shape[2] >= 3
           else np.repeat(px[:, :, :1], 3, 2)).astype(np.int64)
    return (2126 * rgb[:, :, 0] + 7152 * rgb[:, :, 1]
            + 722 * rgb[:, :, 2]) // 10000


def _bands(n_in: int, n_out: int):
    """Deterministic integer banding: output cell i covers input rows
    [i*n_in div n_out, (i+1)*n_in div n_out), widened to at least one
    row — box-average when downsizing, nearest-pixel when upsizing."""
    out = []
    for i in range(n_out):
        lo = i * n_in // n_out
        hi = max((i + 1) * n_in // n_out, lo + 1)
        out.append((lo, hi))
    return out


def _resize_cell_grid(luma, w_out: int, h_out: int):
    """(h_out, w_out) integer grid of box-averaged luma: each cell is
    sum div count over its band — floor division, so the thumbnail is
    bit-identical on every platform."""
    rows = _bands(luma.shape[0], h_out)
    cols = _bands(luma.shape[1], w_out)
    return [[int(luma[rl:rh, cl:ch].sum())
             // ((rh - rl) * (ch - cl))
             for (cl, ch) in cols] for (rl, rh) in rows]


def _resize_and_dhash(b: bytes | None, width: int, height: int) -> dict:
    """Thumbnail + dHash from one decode: the width x height
    box-average luma grid (row-major), plus the classic
    difference-hash fingerprint (Krawetz): a (width+1) x height grid,
    bit = 1 iff cell[r][c] < cell[r][c+1], packed row-major.  The
    default 8x8 = 64 bits exactly fills int64 (values >= 2^63 wrap to
    negative two's-complement) — sign is irrelevant to the XOR +
    bit_count Hamming distance consumers compute; resize_image
    raises at plan build when width*height > 64 rather than silently
    truncating."""
    out = {"format": None, "grid_w": None, "grid_h": None,
           "pixels": None, "dhash": None}
    d = _decode_image(b, 1, return_pixels=True)
    px = d.get("_px")
    if px is None:
        return out
    luma = _int_luma(px)
    grid = _resize_cell_grid(luma, width, height)
    wide = _resize_cell_grid(luma, width + 1, height)
    bits = 0
    for r in range(height):
        for c in range(width):
            bits = (bits << 1) | (1 if wide[r][c] < wide[r][c + 1]
                                  else 0)
    if bits >= 1 << 63:                 # wrap into signed int64
        bits -= 1 << 64
    out.update(format=d["format"], grid_w=width, grid_h=height,
               pixels=[v for row in grid for v in row], dhash=bits)
    return out


def resize_image(
    df: DataFrame,
    media_col: str = "media",
    out_col: str = "thumb",
    width: int = 8,
    height: int = 8,
) -> DataFrame:
    """REAL image resize over the real decoders (PNG/BMP/GIF/JPEG):
    struct(format, grid_w, grid_h, pixels array<int>, dhash long).

    ``pixels`` is the width x height box-averaged integer luma grid
    (floor division — bit-identical on every platform); ``dhash`` is
    the classic difference-hash over a (width+1) x height grid, the
    standard perceptual fingerprint for image near-dup: XOR+popcount
    Hamming distance between dhashes feeds the SAME banded index as
    the text/embedding sketches (functions/similarity.py
    hamming_lsh_topk's byte-band pattern applies unchanged to one
    64-bit lane).

    Arrow-batched (:func:`.rows.map_rows`); undecodable payloads yield
    NULL fields instead of failing the batch (same contract as
    decode_image)."""
    if width * height > 64:
        raise ValueError(
            f"resize_image: dhash needs width*height <= 64 bits, got "
            f"{width}x{height}")

    def kernel(media):
        return [[_resize_and_dhash(b, width, height) for b in media]]

    return map_rows(df, kernel, [media_col], [(
        out_col, "struct<format:string,grid_w:int,grid_h:int,"
        "pixels:array<int>,dhash:bigint>")])


def _decode_stub(payload: bytes) -> list[float]:
    """STUB feature extractor: deterministic fake embedding from byte
    content.  Pixel DECODE is real for PNG/BMP/GIF/baseline-JPEG
    (_decode_image); what is stubbed here is the learned feature
    extractor (and video-frame decode), which needs model weights /
    video codecs absent from this runtime.  Raising path kept for
    strict mode."""
    if payload is None:
        raise NotImplementedError(
            "feature extraction / video decode requires model+codec "
            "libraries not present in this runtime; plug a real one "
            "via decode_features(extractor=...) or register_codec()"
        )
    # deterministic 8-dim fake embedding from byte statistics
    n = len(payload) or 1
    return [
        float(n % 251) / 251.0,
        float(payload[0]) / 255.0 if n else 0.0,
        float(payload[-1]) / 255.0 if n else 0.0,
        float(sum(payload[:64]) % 509) / 509.0,
        float(min(payload[:64] or b"\0")) / 255.0,
        float(max(payload[:64] or b"\0")) / 255.0,
        float(n % 7) / 7.0,
        1.0,
    ]


def decode_features(
    df: DataFrame, media_col: str = "media", out_col: str = "features",
    extractor=None,
) -> DataFrame:
    """Feature decode: Arrow-batched (:func:`.rows.map_rows`), zero
    driver involvement.

    ``extractor(data: bytes) -> list[float]`` is the plug point for a
    production learned feature extractor (model weights live executor-
    side in the closure); the default is the deterministic byte-
    statistics stub `_decode_stub`."""
    fx = extractor if extractor is not None else _decode_stub

    def kernel(media):
        return [[fx(b) if b is not None else None for b in media]]

    return map_rows(df, kernel, [media_col], [(out_col, "array<float>")])


# --------------------------------------------------------------------------
# external-codec plug point: production deployments register real
# H.264/VP9/AV1/... decoders here; the sandbox ships none, so only the
# self-contained MJPEG-AVI/GIF parsers below are built in.
# --------------------------------------------------------------------------

_CODEC_REGISTRY: dict = {}


def register_codec(name: str, probe, frames) -> None:
    """Register an external video codec for `sample_frames`:
    ``probe(data: bytes) -> bool`` (container sniff) and
    ``frames(data: bytes) -> list[bytes]`` (decoded/demuxed frame
    payloads).  Consulted after the built-in MJPEG-AVI/GIF parsers and
    before the clearly-fake byte-slice stub.  The callables ship to
    executors inside the Arrow UDF closure, so they must be
    self-contained (cloudpickle-serializable, no driver-only state)."""
    _CODEC_REGISTRY[name] = (probe, frames)


def unregister_codec(name: str) -> None:
    _CODEC_REGISTRY.pop(name, None)


def _avi_mjpeg_frames(b: bytes) -> list[bytes] | None:
    """REAL frame extraction for MJPEG-in-AVI: RIFF 'AVI ' chunk walk
    to the ``movi`` list, collecting ``..dc``/``..db`` video chunks
    whose payload starts with a JPEG SOI.  Pure struct parsing —
    each returned frame is a standalone JPEG our own decoder reads.
    Returns None when the payload is not an AVI."""
    import struct

    if len(b) < 12 or b[:4] != b"RIFF" or b[8:12] != b"AVI ":
        return None
    frames: list[bytes] = []

    def walk(lo: int, hi: int, depth: int = 0) -> None:
        i = lo
        while i + 8 <= hi and depth < 6:
            cid = b[i:i + 4]
            clen, = struct.unpack("<I", b[i + 4:i + 8])
            body = i + 8
            end = min(body + clen, hi)
            if cid == b"LIST":
                walk(body + 4, end, depth + 1)
            elif cid[2:4] in (b"dc", b"db") and \
                    b[body:body + 2] == b"\xff\xd8":
                frames.append(b[body:end])
            i = body + clen + (clen & 1)

    walk(12, len(b))
    return frames


def _gif_frames(b: bytes) -> list[bytes] | None:
    """REAL frame extraction for animated GIF: block walk collecting
    every image descriptor; each frame is re-wrapped as a standalone
    single-frame GIF (original header flags + global color table + the
    frame's own descriptor/local table/LZW data, offsets normalized to
    the origin) that `_decode_image`'s real LZW path decodes.

    No canvas compositing: a partial-update frame decodes as its own
    region, not layered over prior frames (documented simplification —
    compositing is presentation state, the pixel data per frame is
    complete and real).  Returns None when the payload is not a GIF."""
    import struct

    if len(b) < 13 or b[:6] not in (b"GIF87a", b"GIF89a"):
        return None
    _sw, _sh, packed, bg, ar = struct.unpack("<HHBBB", b[6:13])
    i = 13
    gct = b""
    if packed & 0x80:
        ncol = 2 << (packed & 7)
        gct = b[i:i + 3 * ncol]
        i += 3 * ncol
    frames: list[bytes] = []
    try:
        while i < len(b):
            blk = b[i]
            if blk == 0x21:                  # extension: skip sub-blocks
                i += 2
                while i < len(b) and b[i] != 0:
                    i += 1 + b[i]
                i += 1
            elif blk == 0x2C:                # image descriptor
                start = i
                _x, _y, w, h, ip = struct.unpack("<HHHHB", b[i + 1:i + 10])
                i += 10
                if ip & 0x80:                # local color table
                    i += 3 * (2 << (ip & 7))
                i += 1                       # LZW min code size
                while i < len(b) and b[i] != 0:
                    i += 1 + b[i]
                i += 1
                desc = bytearray(b[start:i])
                # normalize the frame offset so it decodes standalone
                struct.pack_into("<HHHH", desc, 1, 0, 0, w, h)
                sd = struct.pack("<HHBBB", w, h, packed, bg, ar)
                frames.append(b[:6] + sd + gct + bytes(desc) + b"\x3B")
            elif blk == 0x3B:                # trailer
                break
            else:
                break
    except (IndexError, struct.error):
        return frames or None
    return frames


def sample_frames(
    df: DataFrame,
    media_col: str = "media",
    n_frames: int = 4,
    out_col: str = "frames",
) -> DataFrame:
    """Frame sampling: emits (frame_index, frame binary) structs of up
    to ``n_frames`` evenly spaced frames.

    REAL for MJPEG-in-AVI containers (RIFF walk; each sampled frame is
    a standalone JPEG that `decode_image`/`_jpeg_decode` fully
    decodes) and for animated GIF (block walk; each frame re-wrapped
    as a standalone GIF the real LZW path decodes).  Other containers
    (H.264/VP9/AV1...) need real codecs absent from this runtime:
    plug one in with `register_codec` (probe + frames callables,
    snapshot into the UDF closure at plan time); without a matching
    codec the payload falls back to the clearly-fake byte-slice stub —
    the schema, Arrow batching and partition behavior are identical
    either way."""
    # snapshot: module globals re-import EMPTY on executors, so the
    # registered callables must ride the closure by value
    codecs = list(_CODEC_REGISTRY.values())

    def frames_of(data):
        if data is None:
            return None
        real = _avi_mjpeg_frames(data)
        if real is None:
            real = _gif_frames(data)
        if real is None:
            for probe, fr in codecs:
                if probe(data):
                    real = fr(data)
                    break
        if real is not None:
            if not real:
                return []
            step = max(len(real) / float(n_frames), 1.0)
            picked = []
            seen = set()
            for j in range(min(n_frames, len(real))):
                k = min(int(j * step), len(real) - 1)
                if k not in seen:
                    seen.add(k)
                    picked.append({"idx": k, "frame": real[k]})
            return picked
        # STUB fallback for codec formats: byte slices
        step = max(len(data) // n_frames, 1)
        return [
            {"idx": i, "frame": data[o:o + step]}
            for i, o in enumerate(range(0, len(data), step))
        ][:n_frames]

    def kernel(media):
        return [[frames_of(b) for b in media]]

    return map_rows(df, kernel, [media_col],
                    [(out_col, "array<struct<idx:int,frame:binary>>")])


# Deterministic 256-entry gear table for content-defined chunking:
# md5-derived (engine-portable, no RNG state), one 64-bit value per
# possible byte.
def _gear_table():
    import hashlib

    return [
        int.from_bytes(hashlib.md5(b"gear%d" % i).digest()[:8], "big")
        for i in range(256)
    ]


def _cdc_boundaries(data: bytes, min_size: int, avg_size: int,
                    max_size: int, table) -> list[int]:
    """FastCDC-style boundary scan: gear rolling hash, cut when
    ``h & mask == 0`` (mask = avg_size rounded to a power of two),
    with min/max chunk-size clamps.  Pure python over one buffer —
    runs executor-side per document."""
    mask = (1 << max(1, (avg_size).bit_length() - 1)) - 1
    bounds = []
    h = 0
    i = 0
    last = 0
    n = len(data)
    while i < n:
        h = ((h << 1) + table[data[i]]) & 0xFFFFFFFFFFFFFFFF
        i += 1
        ln = i - last
        if (ln >= min_size and (h & mask) == 0) or ln >= max_size:
            bounds.append(i)
            last = i
            h = 0
    if last < n:
        bounds.append(n)
    return bounds


def cdc_chunks(
    df: DataFrame,
    data_col: str = "media",
    id_col: str = "media_id",
    min_size: int = 256,
    avg_size: int = 1024,
    max_size: int = 4096,
) -> DataFrame:
    """Content-defined chunking (FastCDC shape) of a binary column —
    the dedup primitive for blobs: chunk boundaries follow CONTENT, so
    inserting bytes early in a file only re-chunks the neighborhood
    (shift invariance, property-tested) and identical regions of
    different files hash to identical chunks.

    -> one row per chunk: (id, chunk_idx, offset, length, chunk_hash
    = md5 hex).  Arrow-batched (:func:`.rows.map_rows`): bytes never
    leave the executor, only offsets + digests come out — at 100 TB the
    output is the dedup index, ~32 bytes per ~1 KiB chunk, and downstream
    exact dedup is a hash groupBy like `fingerprint`."""
    import hashlib

    table = _gear_table()

    def kernel(blobs):
        rows = []
        for i, data in enumerate(blobs):
            if data is None:
                continue
            last = 0
            for j, end in enumerate(_cdc_boundaries(
                    data, min_size, avg_size, max_size, table)):
                rows.append((i, j, last, end - last,
                             hashlib.md5(data[last:end]).hexdigest()))
                last = end
        return zip(*rows)

    # the id column keeps ITS OWN type (string URIs are as common as
    # integer ids for blob keys)
    return map_rows(df.select(id_col, data_col), kernel, [data_col], [
        ("chunk_idx", "int"), ("offset", "bigint"), ("length", "bigint"),
        ("chunk_hash", "string")], keep=[id_col])


def video_fingerprint(
    df: DataFrame,
    media_col: str = "media",
    id_col: str = "vid",
    n_frames: int = 8,
    width: int = 8,
    height: int = 8,
) -> DataFrame:
    """Per-frame perceptual fingerprints for video: the composition
    sample_frames ∘ resize_image's dHash — one row per sampled frame
    with a 64-bit dHash lane, so VIDEO rides the same banded Hamming
    index as text shingles, embedding sign-sketches, image dHashes
    and audio fingerprints (``hamming_near_pairs`` /
    ``$hammingPairs`` / ``$hammingProbe`` with ``lane_bits=64``).

    REAL for MJPEG-in-AVI and animated GIF (the stdlib-grade
    decoders); codec containers registered via ``register_codec``
    decode for real too; anything else falls back to NO rows for
    that video (the byte-slice stub's slices do not decode as
    images, so emitting lanes from them would be garbage — absence
    is the honest signal, and ``probe_media`` tells callers which
    container they had).

    Scale shape: per-row Arrow map, zero shuffle; only (id,
    frame_idx, dhash) leave the executor — ~16 bytes per sampled
    frame at 100 TB, the index rows, never the video bytes.

    -> one row per sampled, decodable frame: (id_col, frame_idx int,
    dhash bigint; dhash NULL when a real container's frame fails to
    decode)."""
    codecs = list(_CODEC_REGISTRY.values())

    def kernel(media):
        rows = []
        for i, data in enumerate(media):
            if data is None:
                continue
            real = _avi_mjpeg_frames(data)
            if real is None:
                real = _gif_frames(data)
            if real is None:
                for probe, fr in codecs:
                    if probe(data):
                        real = fr(data)
                        break
            if not real:
                continue
            step = max(len(real) / float(n_frames), 1.0)
            seen = set()
            for j in range(min(n_frames, len(real))):
                k = min(int(j * step), len(real) - 1)
                if k in seen:
                    continue
                seen.add(k)
                d = _resize_and_dhash(real[k], width, height)
                rows.append((i, k, d["dhash"]))
        return zip(*rows)

    return map_rows(df, kernel, [media_col],
                    [("frame_idx", "int"), ("dhash", "bigint")],
                    keep=[id_col])


def video_near_pairs(
    df: DataFrame,
    media_col: str = "media",
    id_col: str = "vid",
    n_frames: int = 8,
    max_hamming: int = 7,
    min_matching_frames: int = 1,
) -> DataFrame:
    """Video near-duplicates on the shared Hamming index: sampled
    frames fingerprint to dHash lanes (:func:`video_fingerprint`),
    frame pairs come from the banded-index self-join
    (``hamming_near_pairs`` — candidates ∝ band collisions, never
    |frames|²), and videos pair by how many of their sampled frames
    match.  ``id_col`` may be any type: integer vids in [0, 2^31)
    use the packed scalar key ``vid * 2^32 + frame_idx``
    (shift-decoded after the join; 32 frame bits cover any physical
    video — 4.2 billion frames); anything else (string URLs, big
    ids) uses the delimited string key ``vid || 0x1f || frame_idx``
    — both keep the pair join on ONE scalar id column.  Integer vids
    outside [0, 2^31) raise at execution (``raise_error`` in the fid
    expression, same pattern as ``binary_signatures``'s ragged
    guard) rather than shift-decoding to the WRONG vid and emitting
    mis-attributed pairs; cast such ids to string to take the
    delimited path.

    -> (vid_a, vid_b, matching_frames, min_hamming) with
    vid_a < vid_b (ordered in the id's own type)."""
    fps = video_fingerprint(df, media_col, id_col, n_frames) \
        .filter(F.col("dhash").isNotNull())
    return _lane_rollup_pairs(
        fps, id_col=id_col, idx_col="frame_idx", lane_col="dhash",
        max_hamming=max_hamming, min_matching=min_matching_frames,
        out_a="vid_a", out_b="vid_b", count_name="matching_frames",
        op="video_near_pairs")


def _lane_rollup_pairs(
    fps: DataFrame,
    id_col: str,
    idx_col: str,
    lane_col: str,
    max_hamming: int,
    min_matching: int,
    out_a: str,
    out_b: str,
    count_name: str,
    op: str,
) -> DataFrame:
    """Shared frame/window rollup for :func:`video_near_pairs` and
    :func:`audio_near_pairs`: pack (id, idx) into ONE scalar key,
    find near-dup lanes through the banded Hamming index, decode the
    key and roll lane matches up to id pairs.  Integer ids in
    [0, 2^31) use the packed long key ``id * 2^32 + idx`` (32 idx
    bits cover any physical clip); anything else the delimited
    string key ``id || 0x1f || idx``.  Out-of-range integer ids
    RAISE (mis-attributed pairs would be silent data corruption)."""
    from pyspark.sql import types as T

    from pincette_json_streams_spark.functions.similarity import (
        hamming_near_pairs,
    )

    id_type = fps.schema[id_col].dataType
    integral = isinstance(
        id_type, (T.ByteType, T.ShortType, T.IntegerType, T.LongType))
    if integral:
        vid_l = F.col(id_col).cast("long")
        idx_l = F.col(idx_col).cast("long")
        ok = ((vid_l >= 0) & (vid_l < F.lit(1 << 31))
              & (idx_l >= 0) & (idx_l < F.lit(1 << 32)))
        fid = F.when(ok, vid_l * F.lit(1 << 32) + idx_l).otherwise(
            F.raise_error(F.concat(
                F.lit(f"{op}: packed key needs id in "
                      "[0, 2^31) and index in [0, 2^32); got id="),
                vid_l.cast("string"), F.lit(f" {idx_col}="),
                idx_l.cast("string"),
                F.lit(" — cast the id column to string for the "
                      "delimited key path"))).cast("long"))
    else:
        fid = F.concat_ws("\x1f", F.col(id_col).cast("string"),
                          F.col(idx_col).cast("string"))
    keyed = fps.select(fid.alias("fid"), lane_col)
    if not keyed.isStreaming:
        # both sides of the banded posting self-join read this frame:
        # without a persist the upstream media decode + fingerprint
        # Arrow map runs TWICE (measured 25-70% of audio_near_pairs
        # wall time at sf0.1).  The cached frame is the tiny lane
        # table (~20 bytes/window), never the media bytes — the same
        # cluster-compression persist ngram_jaccard_pairs uses.
        # Registered with functions.caching so long-lived sessions can
        # drop it between corpus passes via release_caches() — the
        # CacheManager never garbage-collects these on its own.
        keyed = tracked_persist(keyed)
    pairs = hamming_near_pairs(
        keyed,
        id_col="fid", lane_cols=[lane_col],
        max_hamming=max_hamming, lane_bits=64)
    if integral:
        va = F.shiftright("id_a", 32).cast(id_type)
        vb = F.shiftright("id_b", 32).cast(id_type)
    else:
        va = F.split("id_a", "\x1f").getItem(0).cast(id_type)
        vb = F.split("id_b", "\x1f").getItem(0).cast(id_type)
    return (
        pairs.select(va.alias("va"), vb.alias("vb"), "hamming")
        .filter(F.col("va") != F.col("vb"))
        .select(F.least("va", "vb").alias(out_a),
                F.greatest("va", "vb").alias(out_b), "hamming")
        .groupBy(out_a, out_b)
        .agg(F.count(F.lit(1)).alias(count_name),
             F.min("hamming").alias("min_hamming"))
        .filter(F.col(count_name) >= min_matching)
    )
