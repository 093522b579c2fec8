"""Multimodal payload plumbing: opaque binary columns + typed metadata.

Image/audio/video payloads are opaque ``binary`` columns with a typed
metadata struct, processed through Arrow-batched ``mapInPandas`` — the
exact shape the reference uses for its pixel payloads (one ndarray per
document, ``final_run_ocr.py:389-396``), generalized to any modality.

Image METADATA decode is REAL: ``parse_image_header`` reads PNG IHDR,
JPEG SOFn, and GIF logical-screen headers with pure stdlib byte walking —
no codec library needed — yielding true width/height/channels. RASTER
decode is REAL for all three crawl formats: PNG (``decode_png``: zlib
inflate + per-row unfilter for all five filter types, palette, Adam7),
baseline-sequential JPEG (``decode_jpeg``: Annex-K Huffman, dequant,
exact float IDCT, chroma upsample, YCbCr→RGB), and GIF (``decode_gif``:
LZW with dict resets, interlace, first frame of animations) — each gets
true per-channel pixel statistics (``pixel_features``) and perceptual
hashes. Audio is REAL end-to-end for PCM WAV: RIFF decode
(``decode_wav``), FFT spectral features (``audio_features``), and
sample-rate conversion (``resample_pcm``/``resample_audio`` —
windowed-sinc rational resampling, anti-aliased, pure numpy). The
remaining seam is VIDEO sample decode (MP4 exposes real container
metadata only) and non-PCM audio codecs: ``decode_stub`` on such a
payload raises ``NotImplementedError`` unless ``fake=True``. The
Spark-side plumbing — schema, batching, partitioning, UDF signature —
is real and tested; a production deploy swaps the remaining codec
kernels for Pillow/ffmpeg with no plan changes.
"""

from __future__ import annotations

import hashlib
from collections.abc import Callable, Iterable, Iterator

from pyspark.sql import DataFrame, functions as F

MEDIA_META_DDL = ("media_type string, width int, height int, channels int, "
                  "duration_ms int, codec string")

FEATURES_DDL = (
    "url string, media_type string, width int, height int, channels int, "
    "n_frames int, feature array<float>, decode_ok boolean, error string"
)

N_FEATURES = 16


def _fake_decode(payload: bytes) -> dict:
    """DETERMINISTIC FAKE decode — stands in for a real codec.

    Shapes and a 16-dim feature vector derived purely from the bytes, so
    tests and plans are stable. NOT a real decoder.
    """
    d = hashlib.md5(payload or b"").digest()
    w = 64 + d[0] % 192
    h = 64 + d[1] % 192
    feat = [((d[i % 16] * (i + 1)) % 255) / 255.0 for i in range(N_FEATURES)]
    return {"width": w, "height": h, "channels": 3,
            "n_frames": 1 + d[2] % 4, "feature": feat}


# JPEG start-of-frame markers that carry dimensions (C4=DHT, C8=JPG ext,
# CC=DAC are NOT SOF and are excluded)
_JPEG_SOF = {0xC0, 0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7,
             0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF}
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


def parse_image_header(payload: bytes) -> dict | None:
    """REAL stdlib image-metadata decode: PNG IHDR / JPEG SOFn / GIF LSD.

    Returns ``{format, width, height, channels}`` or None if the bytes are
    not a recognizable image. No codec library involved — this is a pure
    header walk, the analog of the reference reading frame shape before OCR
    (final_run_ocr.py:389-396).
    """
    if not payload:
        return None
    p = bytes(payload)
    if p[:8] == b"\x89PNG\r\n\x1a\n" and len(p) >= 26 and p[12:16] == b"IHDR":
        return {"format": "png",
                "width": int.from_bytes(p[16:20], "big"),
                "height": int.from_bytes(p[20:24], "big"),
                "channels": _PNG_CHANNELS.get(p[25], 3)}
    if p[:2] == b"\xff\xd8":
        i = 2
        while i + 10 <= len(p):
            if p[i] != 0xFF:
                return None
            marker = p[i + 1]
            if marker in _JPEG_SOF:
                return {"format": "jpeg",
                        "height": int.from_bytes(p[i + 5:i + 7], "big"),
                        "width": int.from_bytes(p[i + 7:i + 9], "big"),
                        "channels": p[i + 9]}
            if marker == 0xFF:  # fill byte: next byte may be the marker
                i += 1
                continue
            if 0xD0 <= marker <= 0xD9:  # standalone (SOI/EOI/RSTn), no length
                i += 2
                continue
            seglen = int.from_bytes(p[i + 2:i + 4], "big")
            if seglen < 2:
                return None
            i += 2 + seglen
        return None
    if p[:6] in (b"GIF87a", b"GIF89a") and len(p) >= 10:
        return {"format": "gif",
                "width": int.from_bytes(p[6:8], "little"),
                "height": int.from_bytes(p[8:10], "little"),
                "channels": 3}
    if p[:4] == b"RIFF" and len(p) >= 30 and p[8:12] == b"WEBP":
        four = p[12:16]
        if four == b"VP8L" and p[20] == 0x2F:
            le = int.from_bytes(p[21:25], "little")
            return {"format": "webp",
                    "width": (le & 0x3FFF) + 1,
                    "height": ((le >> 14) & 0x3FFF) + 1,
                    "channels": 4 if (le >> 28) & 1 else 3}
        if four == b"VP8X" and len(p) >= 30:
            return {"format": "webp",
                    "width": int.from_bytes(p[24:27], "little") + 1,
                    "height": int.from_bytes(p[27:30], "little") + 1,
                    "channels": 4 if p[20] & 0x10 else 3}
        if four == b"VP8 " and len(p) >= 30 \
                and p[23:26] == b"\x9d\x01\x2a":
            return {"format": "webp",
                    "width": int.from_bytes(p[26:28], "little") & 0x3FFF,
                    "height": int.from_bytes(p[28:30], "little") & 0x3FFF,
                    "channels": 3}
    return None


def parse_wav_header(payload: bytes) -> dict | None:
    """REAL stdlib audio-metadata decode: RIFF/WAVE fmt + data chunks.

    Returns ``{format, channels, sample_rate, duration_ms}`` or None.
    Chunk walk tolerates unknown chunks (LIST, INFO, ...) and truncation.
    """
    if not payload:
        return None
    p = bytes(payload)
    if len(p) < 12 or p[:4] != b"RIFF" or p[8:12] != b"WAVE":
        return None
    i = 12
    channels = rate = block_align = None
    data_len = None
    while i + 8 <= len(p):
        cid = p[i:i + 4]
        clen = int.from_bytes(p[i + 4:i + 8], "little")
        if cid == b"fmt " and i + 16 <= len(p):
            channels = int.from_bytes(p[i + 10:i + 12], "little")
            rate = int.from_bytes(p[i + 12:i + 16], "little")
            block_align = int.from_bytes(p[i + 20:i + 22], "little") or None
        elif cid == b"data":
            data_len = clen
        i += 8 + clen + (clen & 1)  # chunks are word-aligned
    if not channels or not rate:
        return None
    duration_ms = None
    if data_len is not None and block_align:
        duration_ms = int(data_len / (rate * block_align) * 1000)
    return {"format": "wav", "channels": channels, "sample_rate": rate,
            "duration_ms": duration_ms}


def encode_wav(samples, rate: int) -> bytes:
    """Minimal REAL PCM WAV encoder (16-bit mono) for fixtures: RIFF
    header + fmt + data, little-endian int16 samples."""
    import struct

    import numpy as np
    s = np.asarray(samples, dtype=np.int16)
    data = s.tobytes()
    fmt = struct.pack("<HHIIHH", 1, 1, rate, rate * 2, 2, 16)
    body = (b"WAVE"
            + b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", len(data)) + data)
    return b"RIFF" + struct.pack("<I", len(body)) + body


def decode_wav(payload: bytes):
    """REAL stdlib WAV PCM decode: RIFF chunk walk → 16-bit PCM samples
    as an (n, channels) numpy int16 array plus the sample rate, or None
    when the payload isn't decodable 16-bit PCM (header-only fixtures,
    compressed formats — callers fall back to header features, the same
    degradation contract as ``decode_png``). Tolerates trailing chunk
    truncation (uses whatever sample bytes are present)."""
    import numpy as np
    p = bytes(payload or b"")
    if len(p) < 12 or p[:4] != b"RIFF" or p[8:12] != b"WAVE":
        return None
    i, channels, rate, bits, data = 12, None, None, None, None
    while i + 8 <= len(p):
        cid = p[i:i + 4]
        clen = int.from_bytes(p[i + 4:i + 8], "little")
        chunk = p[i + 8:i + 8 + clen]
        if cid == b"fmt " and len(chunk) >= 16:
            fmt_tag = int.from_bytes(chunk[0:2], "little")
            channels = int.from_bytes(chunk[2:4], "little")
            rate = int.from_bytes(chunk[4:8], "little")
            bits = int.from_bytes(chunk[14:16], "little")
            if fmt_tag != 1:  # PCM only
                return None
        elif cid == b"data":
            data = chunk
        i += 8 + clen + (clen & 1)
    if not channels or not rate or bits != 16 or data is None:
        return None
    n = len(data) // (2 * channels)
    if n == 0:
        return None
    arr = np.frombuffer(data[:n * 2 * channels], dtype="<i2")
    return arr.reshape(n, channels), rate


def resample_pcm(arr, src_rate: int, dst_rate: int, taps: int = 33):
    """REAL PCM sample-rate conversion: rational-ratio windowed-sinc
    interpolation (the polyphase family every audio resampler uses —
    Hann-windowed sinc kernel, cutoff at min(src, dst) Nyquist so
    downsampling anti-aliases). Pure numpy over int16 ``(n, ch)``
    samples — no codec library; per-output-sample kernel normalization
    makes DC gain exactly 1 (no edge droop). Memory is O(n_out·ch):
    the kernel loop runs over ``taps``, not materialized as a matrix."""
    import math

    import numpy as np
    a = np.asarray(arr, dtype=np.int16)
    if a.ndim == 1:
        a = a[:, None]
    if src_rate == dst_rate:
        return a.copy()
    if src_rate <= 0 or dst_rate <= 0:
        raise ValueError("rates must be positive")
    n, ch = a.shape
    g = math.gcd(src_rate, dst_rate)
    up, down = dst_rate // g, src_rate // g
    n_out = (n * up) // down
    if n_out == 0:
        return np.zeros((0, ch), dtype=np.int16)
    half = taps // 2
    cutoff = min(1.0, up / down)  # fraction of the SOURCE Nyquist
    pos = np.arange(n_out, dtype=np.float64) * (down / up)
    base = np.floor(pos).astype(np.int64)
    frac = pos - base
    src = a.astype(np.float64)
    out = np.zeros((n_out, ch), dtype=np.float64)
    wsum = np.zeros(n_out, dtype=np.float64)
    for j in range(-half, half + 1):
        x = j - frac                                   # kernel offset
        w = cutoff * np.sinc(cutoff * x) \
            * (0.5 + 0.5 * np.cos(np.pi * x / (half + 1)))  # Hann taper
        idx = np.clip(base + j, 0, n - 1)              # edge-hold padding
        out += w[:, None] * src[idx]
        wsum += w
    out /= wsum[:, None]
    return np.clip(np.rint(out), -32768, 32767).astype(np.int16)


def mel_filterbank(n_mels: int, n_fft: int, rate: int):
    """Standard HTK-mel triangular filterbank (mel = 2595·log10(1+f/700)
    — a published formula, no fitted constants): ``(n_mels, n_fft//2+1)``
    float64 weights, each row a triangle between adjacent mel-spaced
    edge frequencies, evaluated at the rfft bin centers."""
    import numpy as np
    mel = lambda f: 2595.0 * np.log10(1.0 + f / 700.0)  # noqa: E731
    imel = lambda m: 700.0 * (10.0 ** (m / 2595.0) - 1.0)  # noqa: E731
    edges = imel(np.linspace(0.0, mel(rate / 2.0), n_mels + 2))
    freqs = np.arange(n_fft // 2 + 1) * (rate / n_fft)
    fb = np.zeros((n_mels, freqs.size))
    for i in range(n_mels):
        lo, mid, hi = edges[i], edges[i + 1], edges[i + 2]
        up = (freqs - lo) / max(mid - lo, 1e-12)
        down = (hi - freqs) / max(hi - mid, 1e-12)
        fb[i] = np.clip(np.minimum(up, down), 0.0, None)
    return fb


def stft_frames(mono, n_fft: int, hop: int):
    """Hann-windowed magnitude STFT of an int16 mono signal:
    ``(n_frames, n_fft//2+1)`` float64, frames = 1 + (n−n_fft)//hop
    (no padding — partial tail frames are dropped, the deterministic
    shard-stable choice)."""
    import numpy as np
    x = np.asarray(mono, dtype=np.float64)
    n = x.shape[0]
    if n < n_fft:
        return np.zeros((0, n_fft // 2 + 1))
    n_frames = 1 + (n - n_fft) // hop
    win = 0.5 - 0.5 * np.cos(2 * np.pi * np.arange(n_fft) / n_fft)
    idx = (np.arange(n_frames)[:, None] * hop + np.arange(n_fft)[None, :])
    return np.abs(np.fft.rfft(x[idx] * win[None, :], axis=1))


def audio_spectrogram(df: DataFrame, id_col: str = "url",
                      payload_col: str = "payload", n_fft: int = 1024,
                      hop: int = 512, n_mels: int = 0) -> DataFrame:
    """WAV payloads → framed spectral features via one Arrow-batched
    ``mapInPandas`` (pure map, zero Exchange): per file, decode PCM,
    average channels, Hann-windowed magnitude STFT, per-frame dominant
    bin (DC excluded — exact integers, the gate surface), and with
    ``n_mels > 0`` the per-frame argmax HTK-mel band (``dominant_mels``,
    else NULL). Non-decodable payloads keep their row with
    ``decode_ok=false`` (ST8 policy)."""
    def run(batches: Iterable) -> Iterator:
        import numpy as np
        import pandas as pd
        fb_cache: dict = {}
        for pdf in batches:
            out = []
            for key, payload in zip(pdf[id_col], pdf[payload_col]):
                got = decode_wav(bytes(payload) if payload is not None else b"")
                if got is None or got[0].shape[0] < n_fft:
                    out.append((key, None, None, None, None, False))
                    continue
                arr, rate = got
                mono = arr.astype(np.int64).sum(axis=1) // arr.shape[1]
                spec = stft_frames(mono, n_fft, hop)
                spec[:, 0] = 0.0
                bins = [int(b) for b in np.argmax(spec, axis=1)]
                mels = None
                if n_mels > 0:
                    if rate not in fb_cache:
                        fb_cache[rate] = mel_filterbank(n_mels, n_fft, rate)
                    mels = [int(m) for m in
                            np.argmax(spec @ fb_cache[rate].T, axis=1)]
                out.append((key, rate, int(spec.shape[0]), bins, mels, True))
            yield pd.DataFrame(out, columns=[
                id_col, "sample_rate", "n_frames", "dominant_bins",
                "dominant_mels", "decode_ok"])

    return df.select(id_col, payload_col).mapInPandas(
        run, schema=(f"{id_col} string, sample_rate int, n_frames int, "
                     "dominant_bins array<int>, dominant_mels array<int>, "
                     "decode_ok boolean"))


def audio_content_dedup(df: DataFrame, id_col: str = "url",
                        payload_col: str = "payload", n_fft: int = 1024,
                        hop: int = 512) -> DataFrame:
    """Content-level audio deduplication: the fingerprint is the
    per-frame dominant-bin sequence from ``audio_spectrogram`` — a
    spectral signature that survives container/byte differences
    (re-encoded or trailing-padded copies of the same recording
    collapse; the audio analog of ``image_dhash`` dedup). ONE narrow
    shuffle on the fingerprint with map-side combine; no pairwise
    comparison anywhere — the 100 TB shape."""
    spec = audio_spectrogram(df, id_col=id_col, payload_col=payload_col,
                             n_fft=n_fft, hop=hop)
    return (spec.filter("decode_ok")
            .groupBy("dominant_bins")
            .agg(F.count("*").alias("n_dups"),
                 F.min(id_col).alias("canonical_id"),
                 F.sort_array(F.collect_list(id_col)).alias("members")))


def resample_audio(df: DataFrame, target_rate: int, id_col: str = "url",
                   payload_col: str = "payload",
                   taps: int = 33) -> DataFrame:
    """WAV payloads → re-encoded WAV payloads at ``target_rate`` via one
    Arrow-batched ``mapInPandas`` (pure map, zero Exchange — the same
    plan shape as ``extract_media_features``). Channels are averaged to
    mono before conversion (the training-pipeline shape: one waveform
    per document). Non-decodable payloads keep their row with
    ``decode_ok=false`` and a NULL payload (ST8 policy)."""
    def run(batches: Iterable) -> Iterator:
        import numpy as np
        import pandas as pd
        for pdf in batches:
            out = []
            for key, payload in zip(pdf[id_col], pdf[payload_col]):
                got = decode_wav(bytes(payload) if payload is not None else b"")
                if got is None:
                    out.append((key, None, target_rate, None, None,
                                None, False))
                    continue
                arr, rate = got
                mono = (arr.astype(np.int64).sum(axis=1)
                        // arr.shape[1]).astype(np.int16)
                res = resample_pcm(mono, rate, target_rate, taps=taps)
                out.append((key, rate, target_rate, int(arr.shape[0]),
                            int(res.shape[0]),
                            encode_wav(res[:, 0], target_rate), True))
            yield pd.DataFrame(out, columns=[
                id_col, "src_rate", "dst_rate", "n_samples_in",
                "n_samples_out", "payload", "decode_ok"])

    return df.select(id_col, payload_col).mapInPandas(
        run, schema=(f"{id_col} string, src_rate int, dst_rate int, "
                     "n_samples_in int, n_samples_out int, "
                     "payload binary, decode_ok boolean"))


def audio_features(df: DataFrame, id_col: str = "url",
                   payload_col: str = "payload",
                   n_fft: int = 1024) -> DataFrame:
    """WAV payloads → REAL spectral features via one Arrow-batched
    ``mapInPandas`` (pure map, zero Exchange): per file, decode PCM,
    average channels, take the magnitude spectrum of the first ``n_fft``
    samples (rectangular window — the fixtures use exact-bin tones, so
    no leakage), and report the dominant frequency bin. Output:
    ``(id, sample_rate, n_samples, dominant_bin, dominant_freq_mhz,
    decode_ok)`` — the frequency is integer milli-Hz (bin·rate·1000 /
    n_fft, exact for integer rates) to stay engine-exact. Non-decodable
    payloads keep their row with ``decode_ok=false`` (ST8 policy)."""
    def run(batches: Iterable) -> Iterator:
        import numpy as np
        import pandas as pd
        for pdf in batches:
            out = []
            for key, payload in zip(pdf[id_col], pdf[payload_col]):
                got = decode_wav(bytes(payload) if payload is not None else b"")
                if got is None or got[0].shape[0] < n_fft:
                    out.append((key, None, None, None, None, False))
                    continue
                arr, rate = got
                mono = arr.astype(np.int64).sum(axis=1) // arr.shape[1]
                spec = np.abs(np.fft.rfft(mono[:n_fft].astype(np.float64)))
                spec[0] = 0.0  # ignore DC
                k = int(np.argmax(spec))
                out.append((key, rate, int(arr.shape[0]), k,
                            k * rate * 1000 // n_fft, True))
            yield pd.DataFrame(out, columns=[
                id_col, "sample_rate", "n_samples", "dominant_bin",
                "dominant_freq_mhz", "decode_ok"])

    return df.select(id_col, payload_col).mapInPandas(
        run, schema=(f"{id_col} string, sample_rate int, n_samples int, "
                     "dominant_bin int, dominant_freq_mhz bigint, "
                     "decode_ok boolean"))


def _paeth(left: int, up: int, ul: int) -> int:
    pa, pb, pc = abs(up - ul), abs(left - ul), abs(left + up - 2 * ul)
    if pa <= pb and pa <= pc:
        return left
    return up if pb <= pc else ul


# Adam7 pass grid: (x0, y0, dx, dy) per pass — public PNG spec §8.2
_ADAM7 = ((0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
          (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2))


def _filter_image(a, filters) -> bytearray:
    """Filter one (h, w, c) uint8 image into PNG scanline bytes (one
    filter-type byte + filtered row, per row)."""
    import numpy as np
    h, w, c = a.shape
    flat = a.reshape(h, w * c).astype(np.int16)
    prev = np.zeros(w * c, dtype=np.int16)
    raw = bytearray()
    for y in range(h):
        cur = flat[y]
        f = (y % 5) if filters is None else filters[y % len(filters)]
        left = np.concatenate([np.zeros(c, dtype=np.int16), cur[:-c]])
        ul = np.concatenate([np.zeros(c, dtype=np.int16), prev[:-c]])
        if f == 0:
            delta = cur
        elif f == 1:
            delta = cur - left
        elif f == 2:
            delta = cur - prev
        elif f == 3:
            delta = cur - ((left + prev) >> 1)
        else:
            pred = np.array([_paeth(int(left[x]), int(prev[x]), int(ul[x]))
                             for x in range(w * c)], dtype=np.int16)
            delta = cur - pred
        raw.append(f)
        raw.extend((delta & 0xFF).astype(np.uint8).tobytes())
        prev = cur
    return raw


def encode_png(arr, filters=None, palette=None, interlace=False) -> bytes:
    """Minimal REAL PNG encoder (stdlib zlib/struct): 8-bit gray / gray+A /
    RGB / RGBA — or indexed color (PNG color type 3) when ``palette`` is
    given: ``arr`` is then an (h, w) palette-index array and ``palette``
    an (n<=256, 3) RGB table emitted as a PLTE chunk. ``interlace=True``
    writes Adam7 (each of the 7 passes filtered as its own sub-image, per
    the public spec). One IDAT, valid CRCs. ``filters`` picks the per-row
    filter type (default cycles 0..4 so a decode exercises every unfilter
    path). Fixture/test-scale tool — the point is byte-real PNGs whose
    raster is a known function, not encoding throughput."""
    import struct
    import zlib as _zlib

    import numpy as np
    a = np.asarray(arr, dtype=np.uint8)
    if a.ndim == 2:
        a = a[:, :, None]
    h, w, c = a.shape
    plte = b""
    if palette is not None:
        pal = np.asarray(palette, dtype=np.uint8).reshape(-1, 3)
        if c != 1:
            raise ValueError("palette PNG needs an (h, w) index array")
        if len(pal) > 256 or int(a.max()) >= len(pal):
            raise ValueError("palette must hold <=256 entries covering "
                             "every index used")
        ctype = 3
        plte = pal.tobytes()
    else:
        ctype = {1: 0, 2: 4, 3: 2, 4: 6}[c]

    def chunk(cid: bytes, data: bytes) -> bytes:
        return (struct.pack(">I", len(data)) + cid + data
                + struct.pack(">I", _zlib.crc32(cid + data) & 0xFFFFFFFF))

    if interlace:
        raw = bytearray()
        for x0, y0, dx, dy in _ADAM7:
            sub = a[y0::dy, x0::dx]
            if sub.shape[0] and sub.shape[1]:
                raw += _filter_image(np.ascontiguousarray(sub), filters)
    else:
        raw = _filter_image(a, filters)
    ihdr = struct.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, int(interlace))
    return (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
            + (chunk(b"PLTE", plte) if plte else b"")
            + chunk(b"IDAT", _zlib.compress(bytes(raw), 6))
            + chunk(b"IEND", b""))


def _unfilter_image(raw, pos: int, w: int, h: int, c: int):
    """Unfilter one sub-image of ``h`` scanlines (filter byte + w·c
    pixels each) starting at ``pos`` in the inflated stream. Returns
    ``(rows, new_pos)`` where rows is (h, w·c) uint8, or None on a bad
    filter type or truncated stream."""
    import numpy as np
    stride = w * c
    if len(raw) - pos < h * (stride + 1):
        return None
    out = np.empty((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.int32)
    for y in range(h):
        f = raw[pos]
        row = np.frombuffer(raw, np.uint8, stride, pos + 1).astype(np.int32)
        pos += 1 + stride
        if f == 1:  # Sub: cumulative sum along x within each channel lane
            row = np.cumsum(row.reshape(w, c), axis=0).reshape(stride)
        elif f == 2:  # Up
            row = row + prev
        elif f == 3:  # Average
            for x in range(stride):
                left = row[x - c] & 0xFF if x >= c else 0
                row[x] += (left + (prev[x] & 0xFF)) >> 1
        elif f == 4:  # Paeth
            for x in range(stride):
                left = row[x - c] & 0xFF if x >= c else 0
                ul = prev[x - c] & 0xFF if x >= c else 0
                row[x] += _paeth(left, prev[x] & 0xFF, ul)
        elif f != 0:
            return None
        row &= 0xFF
        out[y] = row
        prev = row
    return out, pos


def decode_png(payload: bytes):
    """REAL stdlib PNG raster decode: chunk walk → zlib-inflate the IDAT
    stream → per-row unfilter (None/Sub/Up/Average/Paeth). Supports 8-bit
    depth, color types 0/2/4/6 and 3 (indexed: the unfiltered index plane
    is mapped through the PLTE table to an RGB raster), both interlace
    methods (Adam7 passes are unfiltered as independent sub-images and
    scattered onto the output grid, per the public spec). Returns an
    (h, w, channels) numpy uint8 array, or None when the payload carries
    no decodable raster (e.g. the header-only fixtures) — callers fall
    back to header-derived features. Sub rows unfilter via a vectorized
    per-lane cumsum; Average/Paeth are inherently sequential in x."""
    import zlib as _zlib

    import numpy as np
    p = bytes(payload or b"")
    if p[:8] != b"\x89PNG\r\n\x1a\n":
        return None
    i, w, h, depth, ctype, interlace = 8, None, None, None, None, None
    idat = []
    plte = None
    while i + 8 <= len(p):
        clen = int.from_bytes(p[i:i + 4], "big")
        cid = p[i + 4:i + 8]
        data = p[i + 8:i + 8 + clen]
        if cid == b"IHDR" and clen >= 13:
            w = int.from_bytes(data[0:4], "big")
            h = int.from_bytes(data[4:8], "big")
            depth, ctype, interlace = data[8], data[9], data[12]
        elif cid == b"PLTE":
            plte = data
        elif cid == b"IDAT":
            idat.append(data)
        elif cid == b"IEND":
            break
        i += 12 + clen
    # indexed color carries ONE index byte per pixel through the filter
    # stage; the palette lookup happens after unfiltering
    c = 1 if ctype == 3 else _PNG_CHANNELS.get(ctype)
    if not idat or not w or not h or depth != 8 or interlace not in (0, 1) \
            or c is None:
        return None
    if ctype == 3 and (not plte or len(plte) % 3 or len(plte) > 768):
        return None
    try:
        raw = _zlib.decompress(b"".join(idat))
    except _zlib.error:
        return None
    if interlace == 0:
        got = _unfilter_image(raw, 0, w, h, c)
        if got is None:
            return None
        out = got[0]
    else:  # Adam7: each non-empty pass is its own filtered sub-image
        grid = np.empty((h, w, c), dtype=np.uint8)
        pos = 0
        for x0, y0, dx, dy in _ADAM7:
            pw = (w - x0 + dx - 1) // dx
            ph = (h - y0 + dy - 1) // dy
            if pw <= 0 or ph <= 0:
                continue
            got = _unfilter_image(raw, pos, pw, ph, c)
            if got is None:
                return None
            rows, pos = got
            grid[y0::dy, x0::dx] = rows.reshape(ph, pw, c)
        out = grid.reshape(h, w * c)
    if ctype == 3:
        pal = np.frombuffer(plte, np.uint8).reshape(-1, 3)
        idx = out.reshape(h, w)
        if int(idx.max()) >= len(pal):
            return None  # index past the palette: not decodable
        return pal[idx]
    return out.reshape(h, w, c)


# ---------------------------------------------------------------------------
# Baseline-sequential JPEG (ITU T.81): stdlib+numpy encoder and decoder.
# The encoder exists to build fixtures; the decoder is the production
# raster path for the dominant real-crawl image format. Tables below are
# the published Annex K defaults (quantization K.1/K.2, Huffman K.3-K.6)
# and the standard zigzag scan — public-spec constants, not code.

_ZIGZAG = (
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63)

_QT_LUMA = (
    16, 11, 10, 16, 24, 40, 51, 61, 12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56, 14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77, 24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101, 72, 92, 95, 98, 112, 100, 103, 99)

_QT_CHROMA = (
    17, 18, 24, 47, 99, 99, 99, 99, 18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99, 47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99)

_HUFF_DC_LUMA = ((0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0),
                 tuple(range(12)))
_HUFF_DC_CHROMA = ((0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0),
                   tuple(range(12)))
_HUFF_AC_LUMA = (
    (0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D),
    (0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12,
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
     0xF9, 0xFA))
_HUFF_AC_CHROMA = (
    (0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77),
    (0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21,
     0x31, 0x06, 0x12, 0x41, 0x51, 0x07, 0x61, 0x71,
     0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
     0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0,
     0x15, 0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34,
     0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
     0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38,
     0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48,
     0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
     0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68,
     0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
     0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
     0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96,
     0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
     0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
     0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3,
     0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2,
     0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
     0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9,
     0xEA, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
     0xF9, 0xFA))

_DCT_A = None  # lazy orthonormal 8x8 DCT-II basis (A @ b @ A.T == JPEG FDCT)


def _dct_basis():
    global _DCT_A
    if _DCT_A is None:
        import math

        import numpy as np
        a = np.zeros((8, 8))
        for u in range(8):
            cu = math.sqrt(1 / 8) if u == 0 else math.sqrt(2 / 8)
            for x in range(8):
                a[u, x] = cu * math.cos((2 * x + 1) * u * math.pi / 16)
        _DCT_A = a
    return _DCT_A


def _scaled_qt(table, quality: int):
    q = max(1, min(100, int(quality)))
    scale = 5000 // q if q < 50 else 200 - 2 * q
    return [max(1, min(255, (t * scale + 50) // 100)) for t in table]


def _huff_codes(bits, vals) -> dict:
    """Canonical JPEG Huffman codes: symbol → (bit_length, code)."""
    out, code, k = {}, 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[vals[k]] = (length, code)
            code += 1
            k += 1
        code <<= 1
    return out


def _bit_category(v: int) -> int:
    a, s = abs(int(v)), 0
    while a:
        s += 1
        a >>= 1
    return s


class _BitWriter:
    """Entropy-coded-segment writer with 0xFF byte stuffing."""

    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def put(self, code: int, length: int):
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            b = (self.acc >> (self.nbits - 8)) & 0xFF
            self.out.append(b)
            if b == 0xFF:
                self.out.append(0x00)
            self.nbits -= 8
        self.acc &= (1 << self.nbits) - 1

    def pad(self):  # fill the final partial byte with 1-bits (spec)
        if self.nbits:
            self.put(0x7F, 8 - self.nbits)


def encode_jpeg(arr, quality: int = 100, subsampling=(1, 1),
                restart_interval: int = 0) -> bytes:
    """Baseline-sequential JPEG encoder (stdlib + numpy): SOI/JFIF/DQT/
    SOF0/DHT/SOS with Annex K default tables scaled by ``quality``.

    ``arr`` is (h, w, 3) uint8 RGB or (h, w)/(h, w, 1) grayscale.
    ``subsampling=(sh, sv)`` are the LUMA sampling factors (so (2, 2) is
    4:2:0; chroma is averaged over sh×sv boxes). ``restart_interval``
    > 0 emits DRI and RSTn markers every that many MCUs. At quality 100
    every quantizer is 1, so block-constant inputs round-trip exactly —
    the property the closed-form pixel-stat oracle leans on."""
    import numpy as np
    a = np.asarray(arr, dtype=np.uint8)
    if a.ndim == 2:
        a = a[:, :, None]
    h, w, nc = a.shape
    if nc not in (1, 3):
        raise ValueError("encode_jpeg expects 1 or 3 channels")
    sh, sv = (int(subsampling[0]), int(subsampling[1])) if nc == 3 else (1, 1)
    if sh not in (1, 2) or sv not in (1, 2):
        raise ValueError("subsampling factors must be 1 or 2")
    A = _dct_basis()
    qt_l = _scaled_qt(_QT_LUMA, quality)
    qt_c = _scaled_qt(_QT_CHROMA, quality)

    f = a.astype(np.float64)
    if nc == 3:
        r, g, b = f[:, :, 0], f[:, :, 1], f[:, :, 2]
        planes = [0.299 * r + 0.587 * g + 0.114 * b,
                  -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0,
                  0.5 * r - 0.418688 * g - 0.081312 * b + 128.0]
    else:
        planes = [f[:, :, 0]]

    mcu_w, mcu_h = 8 * sh, 8 * sv
    mcus_x = (w + mcu_w - 1) // mcu_w
    mcus_y = (h + mcu_h - 1) // mcu_h

    def pad_to(p, ph, pw):
        out = np.empty((ph, pw))
        out[:p.shape[0], :p.shape[1]] = p
        out[p.shape[0]:, :p.shape[1]] = p[-1:, :]
        out[:p.shape[0], p.shape[1]:] = p[:, -1:]
        out[p.shape[0]:, p.shape[1]:] = p[-1, -1]
        return out

    comp_planes, comp_factors, comp_qt = [], [], []
    for ci, p in enumerate(planes):
        if ci == 0:
            cp = pad_to(p, mcus_y * mcu_h, mcus_x * mcu_w)
            comp_factors.append((sh, sv))
            comp_qt.append(qt_l)
        else:
            if sh > 1 or sv > 1:  # box-average chroma downsample
                pp = pad_to(p, ((h + sv - 1) // sv) * sv,
                            ((w + sh - 1) // sh) * sh)
                p = pp.reshape(pp.shape[0] // sv, sv,
                               pp.shape[1] // sh, sh).mean(axis=(1, 3))
            cp = pad_to(p, mcus_y * 8, mcus_x * 8)
            comp_factors.append((1, 1))
            comp_qt.append(qt_c)
        comp_planes.append(cp - 128.0)

    dc_codes_l = _huff_codes(*_HUFF_DC_LUMA)
    ac_codes_l = _huff_codes(*_HUFF_AC_LUMA)
    dc_codes_c = _huff_codes(*_HUFF_DC_CHROMA)
    ac_codes_c = _huff_codes(*_HUFF_AC_CHROMA)

    def encode_block(bw, block, qt, dc_codes, ac_codes, pred):
        coeff = A @ block @ A.T
        zz = [int(round(coeff.flat[_ZIGZAG[i]] / qt[_ZIGZAG[i]]))
              for i in range(64)]
        diff = zz[0] - pred
        s = _bit_category(diff)
        ln, code = dc_codes[s]
        bw.put(code, ln)
        if s:
            bw.put(diff if diff > 0 else diff + (1 << s) - 1, s)
        run = 0
        last = 63
        while last > 0 and zz[last] == 0:
            last -= 1
        for i in range(1, last + 1):
            v = zz[i]
            if v == 0:
                run += 1
                continue
            while run > 15:
                ln, code = ac_codes[0xF0]  # ZRL
                bw.put(code, ln)
                run -= 16
            s = _bit_category(v)
            ln, code = ac_codes[(run << 4) | s]
            bw.put(code, ln)
            bw.put(v if v > 0 else v + (1 << s) - 1, s)
            run = 0
        if last < 63:
            ln, code = ac_codes[0x00]  # EOB
            bw.put(code, ln)
        return zz[0]

    bw = _BitWriter()
    preds = [0] * len(comp_planes)
    mcu_count = 0
    rst = 0
    ecs = bytearray()
    for my in range(mcus_y):
        for mx in range(mcus_x):
            if restart_interval and mcu_count and \
                    mcu_count % restart_interval == 0:
                bw.pad()
                ecs += bw.out
                ecs += bytes((0xFF, 0xD0 + rst))
                rst = (rst + 1) % 8
                bw = _BitWriter()
                preds = [0] * len(comp_planes)
            for ci, cp in enumerate(comp_planes):
                fh, fv = comp_factors[ci]
                qt = comp_qt[ci]
                dc = dc_codes_l if ci == 0 else dc_codes_c
                ac = ac_codes_l if ci == 0 else ac_codes_c
                for by in range(fv):
                    for bx in range(fh):
                        y0 = (my * fv + by) * 8
                        x0 = (mx * fh + bx) * 8
                        preds[ci] = encode_block(
                            bw, cp[y0:y0 + 8, x0:x0 + 8], qt, dc, ac,
                            preds[ci])
            mcu_count += 1
    bw.pad()
    ecs += bw.out

    def seg(marker: int, payload: bytes) -> bytes:
        return bytes((0xFF, marker)) + (len(payload) + 2).to_bytes(2, "big") \
            + payload

    out = bytearray(b"\xff\xd8")  # SOI
    out += seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    out += seg(0xDB, bytes([0]) + bytes(qt_l[z] for z in _ZIGZAG))
    if nc == 3:
        out += seg(0xDB, bytes([1]) + bytes(qt_c[z] for z in _ZIGZAG))
    sof = bytearray([8]) + h.to_bytes(2, "big") + w.to_bytes(2, "big") \
        + bytes([nc])
    for ci in range(nc):
        fh, fv = comp_factors[ci]
        sof += bytes((ci + 1, (fh << 4) | fv, 0 if ci == 0 else 1))
    out += seg(0xC0, bytes(sof))
    for tc_th, (bits, vals) in ((0x00, _HUFF_DC_LUMA),
                                (0x10, _HUFF_AC_LUMA),
                                (0x01, _HUFF_DC_CHROMA),
                                (0x11, _HUFF_AC_CHROMA)):
        if nc == 1 and tc_th in (0x01, 0x11):
            continue
        out += seg(0xC4, bytes([tc_th]) + bytes(bits) + bytes(vals))
    if restart_interval:
        out += seg(0xDD, int(restart_interval).to_bytes(2, "big"))
    sos = bytearray([nc])
    for ci in range(nc):
        sos += bytes((ci + 1, 0x00 if ci == 0 else 0x11))
    sos += b"\x00\x3f\x00"
    out += seg(0xDA, bytes(sos))
    out += ecs
    out += b"\xff\xd9"  # EOI
    return bytes(out)


class _BitReader:
    """Entropy-coded-segment reader: un-stuffs 0xFF00, stops at markers."""

    def __init__(self, data: bytes, pos: int):
        self.d = data
        self.pos = pos
        self.acc = 0
        self.nbits = 0

    def _fill(self):
        while self.nbits < 24:
            if self.pos >= len(self.d):
                self.acc = (self.acc << 8) | 0xFF  # pad past end
                self.nbits += 8
                continue
            b = self.d[self.pos]
            if b == 0xFF:
                nxt = self.d[self.pos + 1] if self.pos + 1 < len(self.d) \
                    else 0xD9
                if nxt == 0x00:
                    self.pos += 2
                elif 0xD0 <= nxt <= 0xD7:
                    break  # restart marker: consumed by sync_restart
                else:
                    break  # EOI / next segment
                self.acc = (self.acc << 8) | 0xFF
                self.nbits += 8
                continue
            self.pos += 1
            self.acc = (self.acc << 8) | b
            self.nbits += 8

    def bits(self, n: int) -> int:
        if n == 0:
            return 0
        self._fill()
        if self.nbits < n:
            raise ValueError("truncated entropy stream")
        v = (self.acc >> (self.nbits - n)) & ((1 << n) - 1)
        self.nbits -= n
        self.acc &= (1 << self.nbits) - 1
        return v

    def decode_huff(self, table: dict) -> int:
        code, length = 0, 0
        while length < 16:
            code = (code << 1) | self.bits(1)
            length += 1
            sym = table.get((length, code))
            if sym is not None:
                return sym
        raise ValueError("invalid Huffman code")

    def sync_restart(self):
        """Drop partial-byte bits, consume the RSTn marker."""
        self.nbits = 0
        self.acc = 0
        while self.pos + 1 < len(self.d) and not (
                self.d[self.pos] == 0xFF
                and 0xD0 <= self.d[self.pos + 1] <= 0xD7):
            self.pos += 1
        if self.pos + 1 < len(self.d):
            self.pos += 2


def decode_jpeg(payload: bytes):
    """REAL baseline-sequential JPEG raster decode (stdlib + numpy):
    segment walk (DQT/DHT/SOF0-1/DRI/SOS), canonical Huffman decode with
    byte-unstuffing and restart-marker resync, dequantize + inverse
    zigzag, exact float IDCT (orthonormal basis product), chroma
    upsample by replication, JFIF YCbCr→RGB. Supports 8-bit precision,
    1 or 3 components, sampling factors 1-2. PROGRESSIVE (SOF2) files
    dispatch to ``_decode_jpeg_progressive`` (spectral selection +
    successive approximation, DC/AC refinement passes). Returns
    (h, w, channels) uint8, or None when the payload is not decodable
    (lossless/arithmetic/12-bit fall back to header features —
    tolerant, never raises)."""
    import numpy as np
    p = bytes(payload or b"")
    if p[:2] != b"\xff\xd8":
        return None
    try:
        qts: dict = {}
        huffs: dict = {}
        comps = None
        hh = ww = None
        dri = 0
        i = 2
        while i + 4 <= len(p):
            if p[i] != 0xFF:
                return None
            marker = p[i + 1]
            if marker == 0xFF:
                i += 1
                continue
            if 0xD0 <= marker <= 0xD9:
                i += 2
                continue
            seglen = int.from_bytes(p[i + 2:i + 4], "big")
            data = p[i + 4:i + 2 + seglen]
            if marker == 0xDB:
                j = 0
                while j < len(data):
                    pq, tq = data[j] >> 4, data[j] & 0x0F
                    if pq != 0:
                        return None  # 16-bit tables: not baseline-8
                    tbl = [0] * 64
                    for k in range(64):
                        tbl[_ZIGZAG[k]] = data[j + 1 + k]
                    qts[tq] = tbl
                    j += 65
            elif marker == 0xC4:
                j = 0
                while j < len(data):
                    tc, th = data[j] >> 4, data[j] & 0x0F
                    bits = list(data[j + 1:j + 17])
                    n = sum(bits)
                    vals = list(data[j + 17:j + 17 + n])
                    dec = {}
                    code, k = 0, 0
                    for length in range(1, 17):
                        for _ in range(bits[length - 1]):
                            dec[(length, code)] = vals[k]
                            code += 1
                            k += 1
                        code <<= 1
                    huffs[(tc, th)] = dec
                    j += 17 + n
            elif marker in (0xC0, 0xC1):
                if data[0] != 8:
                    return None
                hh = int.from_bytes(data[1:3], "big")
                ww = int.from_bytes(data[3:5], "big")
                nc = data[5]
                if nc not in (1, 3):
                    return None
                comps = []
                for c in range(nc):
                    cid, hv, tq = data[6 + 3 * c:9 + 3 * c]
                    comps.append({"id": cid, "h": hv >> 4, "v": hv & 0x0F,
                                  "tq": tq})
            elif marker == 0xC2:
                # progressive DCT: multi-scan coefficient accumulation
                return _decode_jpeg_progressive(p)
            elif marker in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA,
                            0xCB, 0xCD, 0xCE, 0xCF):
                return None  # lossless/arithmetic/12-bit: not supported
            elif marker == 0xDD:
                dri = int.from_bytes(data[0:2], "big")
            elif marker == 0xDA:
                if comps is None or not hh or not ww:
                    return None
                ns = data[0]
                if ns < len(comps):
                    # non-interleaved baseline (one scan per component,
                    # legal per T.81): decoding only the first scan would
                    # silently return a luma-only raster — fall back to
                    # header features instead
                    return None
                scan = []
                for c in range(ns):
                    cs, tables = data[1 + 2 * c], data[2 + 2 * c]
                    comp = next(x for x in comps if x["id"] == cs)
                    scan.append((comp, tables >> 4, tables & 0x0F))
                ecs_start = i + 2 + seglen
                return _decode_scan(p, ecs_start, scan, qts, huffs,
                                    hh, ww, dri)
            i += 2 + seglen
        return None
    except Exception:
        return None  # tolerant parse (ST8): undecodable → header fallback


def _decode_scan(p, pos, scan, qts, huffs, hh, ww, dri):
    import numpy as np
    A = _dct_basis()
    hmax = max(c["h"] for c, _, _ in scan)
    vmax = max(c["v"] for c, _, _ in scan)
    if not (1 <= hmax <= 2 and 1 <= vmax <= 2):
        return None
    mcus_x = (ww + 8 * hmax - 1) // (8 * hmax)
    mcus_y = (hh + 8 * vmax - 1) // (8 * vmax)
    planes = []
    for comp, _, _ in scan:
        planes.append(np.zeros((mcus_y * comp["v"] * 8,
                                mcus_x * comp["h"] * 8)))
    br = _BitReader(p, pos)
    preds = [0] * len(scan)
    mcu_count = 0
    for my in range(mcus_y):
        for mx in range(mcus_x):
            if dri and mcu_count and mcu_count % dri == 0:
                br.sync_restart()
                preds = [0] * len(scan)
            for ci, (comp, td, ta) in enumerate(scan):
                dc_tab = huffs[(0, td)]
                ac_tab = huffs[(1, ta)]
                qt = qts[comp["tq"]]
                for by in range(comp["v"]):
                    for bx in range(comp["h"]):
                        zz = [0] * 64
                        s = br.decode_huff(dc_tab)
                        diff = br.bits(s)
                        if s and diff < (1 << (s - 1)):
                            diff += 1 - (1 << s)
                        preds[ci] += diff
                        zz[0] = preds[ci]
                        k = 1
                        while k < 64:
                            rs = br.decode_huff(ac_tab)
                            if rs == 0x00:  # EOB
                                break
                            if rs == 0xF0:  # ZRL
                                k += 16
                                continue
                            k += rs >> 4
                            s = rs & 0x0F
                            v = br.bits(s)
                            if v < (1 << (s - 1)):
                                v += 1 - (1 << s)
                            if k > 63:
                                return None
                            zz[k] = v
                            k += 1
                        coeff = np.zeros(64)
                        for k in range(64):
                            coeff[_ZIGZAG[k]] = zz[k] * qt[_ZIGZAG[k]]
                        blk = A.T @ coeff.reshape(8, 8) @ A + 128.0
                        y0 = (my * comp["v"] + by) * 8
                        x0 = (mx * comp["h"] + bx) * 8
                        planes[ci][y0:y0 + 8, x0:x0 + 8] = blk
            mcu_count += 1
    full = []
    for ci, (comp, _, _) in enumerate(scan):
        pl = planes[ci]
        ry, rx = vmax // comp["v"], hmax // comp["h"]
        if ry > 1 or rx > 1:
            pl = pl.repeat(ry, axis=0).repeat(rx, axis=1)
        full.append(pl[:hh, :ww])
    if len(full) == 1:
        out = np.clip(np.round(full[0]), 0, 255).astype(np.uint8)
        return out[:, :, None]
    y, cb, cr = full
    r = y + 1.402 * (cr - 128.0)
    g = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
    b = y + 1.772 * (cb - 128.0)
    rgb = np.stack([r, g, b], axis=2)
    return np.clip(np.round(rgb), 0, 255).astype(np.uint8)


def _comp_scan_blocks(comp, hh, ww, hmax, vmax) -> tuple[int, int]:
    """Block grid of a component in a NON-INTERLEAVED scan (T.81
    A.2.2): ceil over the component's own sample dims, which can be
    smaller than the MCU-padded interleaved grid."""
    cw = (ww * comp["h"] + hmax - 1) // hmax
    ch = (hh * comp["v"] + vmax - 1) // vmax
    return (cw + 7) // 8, (ch + 7) // 8


def _decode_jpeg_progressive(p: bytes):
    """REAL progressive JPEG (SOF2) raster decode: the multi-scan
    coefficient-accumulation model of T.81 Annex G — spectral
    selection (per-band AC scans, EOBRUN run-length coding),
    successive approximation (point-transformed first passes + DC/AC
    refinement passes with correction bits), interleaved DC scans and
    non-interleaved single-component scans over the component's OWN
    block grid, restart-marker resync, tables redefinable between
    scans. Coefficients accumulate across scans; dequantize + IDCT +
    upsample + color-convert run once at EOI. Tolerant: anything
    malformed → None (header-features fallback), never raises.

    Kept separate from the certified baseline path (byte-identity
    freeze) — shares only the table parsers' formats, ``_BitReader``,
    and the IDCT basis."""
    import numpy as np
    try:
        qts: dict = {}
        huffs: dict = {}
        comps = None
        coefs = None
        hh = ww = None
        hmax = vmax = 1
        dri = 0
        i = 2
        while i + 4 <= len(p):
            if p[i] != 0xFF:
                return None
            marker = p[i + 1]
            if marker == 0xFF:
                i += 1
                continue
            if marker == 0xD9:
                break
            if 0xD0 <= marker <= 0xD8:
                i += 2
                continue
            seglen = int.from_bytes(p[i + 2:i + 4], "big")
            data = p[i + 4:i + 2 + seglen]
            if marker == 0xDB:
                j = 0
                while j < len(data):
                    pq, tq = data[j] >> 4, data[j] & 0x0F
                    if pq != 0:
                        return None
                    tbl = [0] * 64
                    for k in range(64):
                        tbl[_ZIGZAG[k]] = data[j + 1 + k]
                    qts[tq] = tbl
                    j += 65
            elif marker == 0xC4:
                j = 0
                while j < len(data):
                    tc, th = data[j] >> 4, data[j] & 0x0F
                    bits = list(data[j + 1:j + 17])
                    n = sum(bits)
                    vals = list(data[j + 17:j + 17 + n])
                    dec = {}
                    code, k = 0, 0
                    for length in range(1, 17):
                        for _ in range(bits[length - 1]):
                            dec[(length, code)] = vals[k]
                            code += 1
                            k += 1
                        code <<= 1
                    huffs[(tc, th)] = dec
                    j += 17 + n
            elif marker == 0xC2:
                if data[0] != 8:
                    return None
                hh = int.from_bytes(data[1:3], "big")
                ww = int.from_bytes(data[3:5], "big")
                nc = data[5]
                if nc not in (1, 3) or not hh or not ww:
                    return None
                comps = []
                for c in range(nc):
                    cid, hv, tq = data[6 + 3 * c:9 + 3 * c]
                    comps.append({"id": cid, "h": hv >> 4, "v": hv & 0x0F,
                                  "tq": tq})
                hmax = max(c["h"] for c in comps)
                vmax = max(c["v"] for c in comps)
                if not (1 <= hmax <= 2 and 1 <= vmax <= 2):
                    return None
                mcus_x = (ww + 8 * hmax - 1) // (8 * hmax)
                mcus_y = (hh + 8 * vmax - 1) // (8 * vmax)
                coefs = [np.zeros((mcus_y * c["v"], mcus_x * c["h"], 64),
                                  np.int32) for c in comps]
            elif marker == 0xDD:
                dri = int.from_bytes(data[0:2], "big")
            elif marker == 0xDA:
                if coefs is None:
                    return None
                ns = data[0]
                scan = []
                for c in range(ns):
                    cs, tables = data[1 + 2 * c], data[2 + 2 * c]
                    ci = next(k for k, x in enumerate(comps)
                              if x["id"] == cs)
                    scan.append((ci, tables >> 4, tables & 0x0F))
                ss, se = data[1 + 2 * ns], data[2 + 2 * ns]
                ah_al = data[3 + 2 * ns]
                ah, al = ah_al >> 4, ah_al & 0x0F
                br = _BitReader(p, i + 2 + seglen)
                _progressive_scan(br, scan, coefs, comps, ss, se, ah, al,
                                  huffs, hh, ww, hmax, vmax, dri)
                j = br.pos
                while j + 1 < len(p) and not (
                        p[j] == 0xFF and p[j + 1] != 0x00
                        and not 0xD0 <= p[j + 1] <= 0xD7):
                    j += 1
                i = j
                continue
            i += 2 + seglen
        if coefs is None:
            return None
        # dequantize (zigzag → natural) + vectorized IDCT per component
        A = _dct_basis()
        zig = np.array(_ZIGZAG, np.int64)
        planes = []
        for ci, comp in enumerate(comps):
            qt = qts[comp["tq"]]
            qtz = np.array([qt[_ZIGZAG[k]] for k in range(64)], np.float64)
            grid = coefs[ci]
            bh, bw = grid.shape[:2]
            nat = np.zeros((bh * bw, 64))
            nat[:, zig] = grid.reshape(-1, 64) * qtz
            blocks = np.einsum("ij,njk,kl->nil", A.T,
                               nat.reshape(-1, 8, 8), A) + 128.0
            plane = (blocks.reshape(bh, bw, 8, 8)
                     .transpose(0, 2, 1, 3).reshape(bh * 8, bw * 8))
            ry, rx = vmax // comp["v"], hmax // comp["h"]
            if ry > 1 or rx > 1:
                plane = plane.repeat(ry, axis=0).repeat(rx, axis=1)
            planes.append(plane[:hh, :ww])
        if len(planes) == 1:
            out = np.clip(np.round(planes[0]), 0, 255).astype(np.uint8)
            return out[:, :, None]
        y, cb, cr = planes
        r = y + 1.402 * (cr - 128.0)
        g = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
        b = y + 1.772 * (cb - 128.0)
        rgb = np.stack([r, g, b], axis=2)
        return np.clip(np.round(rgb), 0, 255).astype(np.uint8)
    except Exception:
        return None  # tolerant parse (ST8): undecodable → header fallback


def _progressive_scan(br, scan, coefs, comps, ss, se, ah, al, huffs,
                      hh, ww, hmax, vmax, dri):
    """Decode ONE progressive scan into the coefficient grids (zigzag
    order). Four shapes per T.81 G.2: DC first / DC refine (ns ≥ 1,
    MCU-interleaved when ns > 1), AC first / AC refine (ns == 1,
    non-interleaved, EOBRUN)."""
    if ss == 0:
        if se != 0:
            raise ValueError("DC scan with Se != 0")
        preds = [0] * len(scan)
        if len(scan) > 1:
            mcus_x = (ww + 8 * hmax - 1) // (8 * hmax)
            mcus_y = (hh + 8 * vmax - 1) // (8 * vmax)
            n = 0
            for my in range(mcus_y):
                for mx in range(mcus_x):
                    if dri and n and n % dri == 0:
                        br.sync_restart()
                        preds = [0] * len(scan)
                    for si, (ci, td, _) in enumerate(scan):
                        comp = comps[ci]
                        for by in range(comp["v"]):
                            for bx in range(comp["h"]):
                                blk = coefs[ci][my * comp["v"] + by,
                                                mx * comp["h"] + bx]
                                _dc_unit(br, blk, ah, al, huffs, td,
                                         preds, si)
                    n += 1
        else:
            ci, td, _ = scan[0]
            bw_s, bh_s = _comp_scan_blocks(comps[ci], hh, ww, hmax, vmax)
            n = 0
            for by in range(bh_s):
                for bx in range(bw_s):
                    if dri and n and n % dri == 0:
                        br.sync_restart()
                        preds = [0] * len(scan)
                    _dc_unit(br, coefs[ci][by, bx], ah, al, huffs, td,
                             preds, 0)
                    n += 1
        return
    if len(scan) != 1:
        raise ValueError("interleaved AC scan")
    ci, _, ta = scan[0]
    ac_tab = huffs[(1, ta)]
    bw_s, bh_s = _comp_scan_blocks(comps[ci], hh, ww, hmax, vmax)
    eobrun = 0
    n = 0
    for by in range(bh_s):
        for bx in range(bw_s):
            if dri and n and n % dri == 0:
                br.sync_restart()
                eobrun = 0
            n += 1
            blk = coefs[ci][by, bx]
            if ah == 0:
                if eobrun:
                    eobrun -= 1
                    continue
                k = ss
                while k <= se:
                    rs = br.decode_huff(ac_tab)
                    r, s = rs >> 4, rs & 0x0F
                    if s == 0:
                        if r == 15:
                            k += 16
                            continue
                        eobrun = (1 << r) - 1
                        if r:
                            eobrun += br.bits(r)
                        break
                    k += r
                    if k > se:
                        raise ValueError("AC run past Se")
                    v = br.bits(s)
                    if v < (1 << (s - 1)):
                        v += 1 - (1 << s)
                    blk[k] = v << al if v > 0 else -((-v) << al)
                    k += 1
            else:
                eobrun = _ac_refine_unit(br, blk, ss, se, al, ac_tab,
                                         eobrun)


def _dc_unit(br, blk, ah, al, huffs, td, preds, si):
    if ah == 0:
        s = br.decode_huff(huffs[(0, td)])
        diff = br.bits(s)
        if s and diff < (1 << (s - 1)):
            diff += 1 - (1 << s)
        preds[si] += diff
        blk[0] = preds[si] << al
    elif br.bits(1):
        blk[0] |= 1 << al  # refinement: append the next magnitude bit


def _ac_refine_unit(br, blk, ss, se, al, ac_tab, eobrun) -> int:
    """AC successive-approximation refinement for one block (T.81
    G.1.2.3 / the classical libjpeg-equivalent control flow): newly
    nonzero coefficients arrive as (zero-history-run, size-1) symbols;
    coefficients already nonzero consume one correction bit each and
    do NOT count toward runs; EOB runs still carry correction bits for
    the blocks they cover."""
    p1 = 1 << al

    def correct(k):
        if br.bits(1) and (abs(int(blk[k])) & p1) == 0:
            blk[k] += p1 if blk[k] > 0 else -p1

    k = ss
    if eobrun == 0:
        while k <= se:
            rs = br.decode_huff(ac_tab)
            r, s = rs >> 4, rs & 0x0F
            v = 0
            if s == 0:
                if r != 15:
                    eobrun = 1 << r
                    if r:
                        eobrun += br.bits(r)
                    break
                # r == 15: ZRL = a run of 16 zero-history positions
            else:
                if s != 1:
                    raise ValueError("AC refine size > 1")
                v = p1 if br.bits(1) else -p1
            while k <= se:
                if blk[k] != 0:
                    correct(k)
                else:
                    if r == 0:
                        break
                    r -= 1
                k += 1
            if v:
                if k > se:
                    raise ValueError("refine placement past Se")
                blk[k] = v
            k += 1
    if eobrun > 0:
        while k <= se:
            if blk[k] != 0:
                correct(k)
            k += 1
        eobrun -= 1
    return eobrun


# flat Huffman tables for the progressive encoder: every symbol one
# fixed-length code (16 DC symbols @5 bits, 251 AC symbols @9 bits —
# Kraft-feasible, all-ones code unused). Annex-K tables cannot encode
# progressive streams at all: they lack the EOBn symbols (r<<4 with
# size 0 for r in 1..14) baseline never uses.
_PROG_DC_TABLE = ([0, 0, 0, 0, 16] + [0] * 11, list(range(16)))
_PROG_AC_TABLE = ([0] * 8 + [251] + [0] * 7, list(range(251)))


def encode_jpeg_progressive(arr, quality: int = 100, subsampling=(1, 1),
                            scans=None) -> bytes:
    """PROGRESSIVE JPEG encoder (SOF2): same DCT/quantization front
    half as ``encode_jpeg``, then the coefficients leave in multiple
    scans driven by a scan script — ``[(comp_indices, Ss, Se, Ah,
    Al), ...]``, default = the classic libjpeg-style progression
    (DC-first at Al=1, banded AC-first passes, then DC and AC
    refinement passes to Al=0), so spectral selection AND successive
    approximation (EOBRUN coding, correction bits) are all exercised.
    Fixture builder: flat Huffman tables (compression irrelevant),
    no restart markers."""
    import numpy as np
    a = np.asarray(arr, dtype=np.uint8)
    if a.ndim == 2:
        a = a[:, :, None]
    h, w, nc = a.shape
    if nc not in (1, 3):
        raise ValueError("encode_jpeg_progressive expects 1 or 3 channels")
    sh, sv = (int(subsampling[0]), int(subsampling[1])) if nc == 3 else (1, 1)
    if sh not in (1, 2) or sv not in (1, 2):
        raise ValueError("subsampling factors must be 1 or 2")
    A = _dct_basis()
    qt_l = _scaled_qt(_QT_LUMA, quality)
    qt_c = _scaled_qt(_QT_CHROMA, quality)

    f = a.astype(np.float64)
    if nc == 3:
        r, g, b = f[:, :, 0], f[:, :, 1], f[:, :, 2]
        planes = [0.299 * r + 0.587 * g + 0.114 * b,
                  -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0,
                  0.5 * r - 0.418688 * g - 0.081312 * b + 128.0]
    else:
        planes = [f[:, :, 0]]

    mcu_w, mcu_h = 8 * sh, 8 * sv
    mcus_x = (w + mcu_w - 1) // mcu_w
    mcus_y = (h + mcu_h - 1) // mcu_h

    def pad_to(p, ph, pw):
        out = np.empty((ph, pw))
        out[:p.shape[0], :p.shape[1]] = p
        out[p.shape[0]:, :p.shape[1]] = p[-1:, :]
        out[:p.shape[0], p.shape[1]:] = p[:, -1:]
        out[p.shape[0]:, p.shape[1]:] = p[-1, -1]
        return out

    comp_factors, comp_qt, coefs = [], [], []
    for ci, pl in enumerate(planes):
        if ci == 0:
            cp = pad_to(pl, mcus_y * mcu_h, mcus_x * mcu_w)
            comp_factors.append((sh, sv))
            comp_qt.append(qt_l)
        else:
            if sh > 1 or sv > 1:
                pp = pad_to(pl, ((h + sv - 1) // sv) * sv,
                            ((w + sh - 1) // sh) * sh)
                pl = pp.reshape(pp.shape[0] // sv, sv,
                                pp.shape[1] // sh, sh).mean(axis=(1, 3))
            cp = pad_to(pl, mcus_y * 8, mcus_x * 8)
            comp_factors.append((1, 1))
            comp_qt.append(qt_c)
        cp = cp - 128.0
        bh, bw = cp.shape[0] // 8, cp.shape[1] // 8
        qt = comp_qt[-1]
        grid = np.zeros((bh, bw, 64), np.int32)
        for by in range(bh):
            for bx in range(bw):
                coeff = A @ cp[by * 8:by * 8 + 8, bx * 8:bx * 8 + 8] @ A.T
                for k in range(64):
                    grid[by, bx, k] = int(round(
                        coeff.flat[_ZIGZAG[k]] / qt[_ZIGZAG[k]]))
        coefs.append(grid)

    if scans is None:
        if nc == 3:
            scans = [([0, 1, 2], 0, 0, 0, 1),
                     ([0], 1, 5, 0, 2), ([2], 1, 63, 0, 1),
                     ([1], 1, 63, 0, 1), ([0], 6, 63, 0, 2),
                     ([0], 1, 63, 2, 1), ([0, 1, 2], 0, 0, 1, 0),
                     ([2], 1, 63, 1, 0), ([1], 1, 63, 1, 0),
                     ([0], 1, 63, 1, 0)]
        else:
            scans = [([0], 0, 0, 0, 1), ([0], 1, 5, 0, 2),
                     ([0], 6, 63, 0, 2), ([0], 1, 63, 2, 1),
                     ([0], 0, 0, 1, 0), ([0], 1, 63, 1, 0)]

    dc_codes = _huff_codes(*_PROG_DC_TABLE)
    ac_codes = _huff_codes(*_PROG_AC_TABLE)
    comps_meta = [{"h": fh, "v": fv} for fh, fv in comp_factors]

    def seg(marker: int, payload: bytes) -> bytes:
        return bytes((0xFF, marker)) + (len(payload) + 2).to_bytes(2, "big") \
            + payload

    out = bytearray(b"\xff\xd8")
    out += seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    out += seg(0xDB, bytes([0]) + bytes(qt_l[z] for z in _ZIGZAG))
    if nc == 3:
        out += seg(0xDB, bytes([1]) + bytes(qt_c[z] for z in _ZIGZAG))
    sof = bytearray([8]) + h.to_bytes(2, "big") + w.to_bytes(2, "big") \
        + bytes([nc])
    for ci in range(nc):
        fh, fv = comp_factors[ci]
        sof += bytes((ci + 1, (fh << 4) | fv, 0 if ci == 0 else 1))
    out += seg(0xC2, bytes(sof))
    out += seg(0xC4, bytes([0x00]) + bytes(_PROG_DC_TABLE[0])
               + bytes(_PROG_DC_TABLE[1]))
    out += seg(0xC4, bytes([0x10]) + bytes(_PROG_AC_TABLE[0])
               + bytes(_PROG_AC_TABLE[1]))

    for comp_ids, ss, se, ah, al in scans:
        sos = bytearray([len(comp_ids)])
        for ci in comp_ids:
            sos += bytes((ci + 1, 0x00))
        sos += bytes((ss, se, (ah << 4) | al))
        out += seg(0xDA, bytes(sos))
        bw_ = _BitWriter()
        _encode_progressive_scan(bw_, comp_ids, coefs, comps_meta,
                                 ss, se, ah, al, dc_codes, ac_codes,
                                 h, w, sh, sv)
        bw_.pad()
        out += bw_.out
    out += b"\xff\xd9"
    return bytes(out)


def _encode_progressive_scan(bw, comp_ids, coefs, comps_meta, ss, se,
                             ah, al, dc_codes, ac_codes, hh, ww,
                             hmax, vmax):
    """Emit one progressive scan's entropy-coded segment — the exact
    dual of ``_progressive_scan``/``_ac_refine_unit``."""
    if ss == 0:
        preds = [0] * len(comp_ids)
        units = []
        if len(comp_ids) > 1:
            mcus_y = coefs[0].shape[0] // comps_meta[0]["v"]
            mcus_x = coefs[0].shape[1] // comps_meta[0]["h"]
            for my in range(mcus_y):
                for mx in range(mcus_x):
                    for si, ci in enumerate(comp_ids):
                        c = comps_meta[ci]
                        for by in range(c["v"]):
                            for bx in range(c["h"]):
                                units.append((si, coefs[ci][
                                    my * c["v"] + by, mx * c["h"] + bx]))
        else:
            ci = comp_ids[0]
            bw_s, bh_s = _comp_scan_blocks(comps_meta[ci], hh, ww,
                                           hmax, vmax)
            for by in range(bh_s):
                for bx in range(bw_s):
                    units.append((0, coefs[ci][by, bx]))
        for si, blk in units:
            v = int(blk[0]) >> al  # arithmetic shift: DC point transform
            if ah == 0:
                diff = v - preds[si]
                preds[si] = v
                s = _bit_category(diff)
                ln, code = dc_codes[s]
                bw.put(code, ln)
                if s:
                    bw.put(diff if diff > 0 else diff + (1 << s) - 1, s)
            else:
                bw.put(v & 1, 1)
        return

    ci = comp_ids[0]
    bw_s, bh_s = _comp_scan_blocks(comps_meta[ci], hh, ww, hmax, vmax)
    eobrun = 0
    pending_bits: list[int] = []

    def flush_eob():
        nonlocal eobrun
        if eobrun:
            r = eobrun.bit_length() - 1
            ln, code = ac_codes[r << 4]
            bw.put(code, ln)
            if r:
                bw.put(eobrun - (1 << r), r)
            eobrun = 0
        for bit in pending_bits:
            bw.put(bit, 1)
        pending_bits.clear()

    for by in range(bh_s):
        for bx in range(bw_s):
            blk = coefs[ci][by, bx]
            if ah == 0:
                vals = [int(blk[k]) for k in range(ss, se + 1)]
                tv = [v >> al if v > 0 else -((-v) >> al) for v in vals]
                last = len(tv) - 1
                while last >= 0 and tv[last] == 0:
                    last -= 1
                if last < 0:
                    eobrun += 1
                    if eobrun == 0x7FFF:
                        flush_eob()
                    continue
                flush_eob()
                run = 0
                for v in tv[:last + 1]:
                    if v == 0:
                        run += 1
                        continue
                    while run > 15:
                        ln, code = ac_codes[0xF0]
                        bw.put(code, ln)
                        run -= 16
                    s = _bit_category(v)
                    ln, code = ac_codes[(run << 4) | s]
                    bw.put(code, ln)
                    bw.put(v if v > 0 else v + (1 << s) - 1, s)
                    run = 0
                if last < len(tv) - 1:
                    eobrun += 1
                    if eobrun == 0x7FFF:
                        flush_eob()
            else:
                # refinement: mirror of _ac_refine_unit
                absv = [abs(int(blk[k])) >> al for k in range(ss, se + 1)]
                eob = -1
                for idx, t in enumerate(absv):
                    if t == 1:
                        eob = idx
                run = 0
                br_bits: list[int] = []
                for idx, t in enumerate(absv):
                    if t == 0:
                        run += 1
                        continue
                    # ZRL flush BEFORE buffering this position's bit:
                    # the decoder consumes exactly 16 zero-history
                    # positions per ZRL, correcting only the history
                    # coefficients that lie before the 16th zero —
                    # positional order must be preserved. Runs that
                    # extend past the last new coefficient fold into
                    # the EOB run instead (idx <= eob guard).
                    while run > 15 and idx <= eob:
                        flush_eob()
                        ln, code = ac_codes[0xF0]
                        bw.put(code, ln)
                        run -= 16
                        for bit in br_bits:
                            bw.put(bit, 1)
                        br_bits = []
                    if t > 1:  # history-nonzero: correction bit only
                        br_bits.append(t & 1)
                        continue
                    flush_eob()
                    ln, code = ac_codes[(run << 4) | 1]
                    bw.put(code, ln)
                    bw.put(1 if blk[ss + idx] > 0 else 0, 1)
                    for bit in br_bits:
                        bw.put(bit, 1)
                    br_bits = []
                    run = 0
                if run > 0 or br_bits:
                    eobrun += 1
                    pending_bits.extend(br_bits)
                    if eobrun == 0x7FFF:
                        flush_eob()
    flush_eob()


# ---------------------------------------------------------------------------
# GIF (87a/89a): stdlib LZW encoder and decoder — the last of the three
# real-crawl image formats. First frame only for animated files.

def _lzw_compress(indices, min_code_size: int) -> bytes:
    """Standard GIF LZW: variable-width codes, CLEAR/END, dict resets at
    4096. Produces the raw code stream (caller packs into sub-blocks)."""
    clear = 1 << min_code_size
    end = clear + 1
    out = bytearray()
    acc = 0
    nbits = 0

    def put(code: int, width: int):
        nonlocal acc, nbits
        acc |= code << nbits          # GIF packs codes LSB-first
        nbits += width
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    table = {(i,): i for i in range(clear)}
    next_code = end + 1
    width = min_code_size + 1
    put(clear, width)
    run: tuple = ()
    for px in indices:
        cand = run + (int(px),)
        if cand in table:
            run = cand
            continue
        put(table[run], width)
        table[cand] = next_code
        next_code += 1
        if next_code > (1 << width) and width < 12:
            width += 1
        elif next_code >= 4096:
            put(clear, width)
            table = {(i,): i for i in range(clear)}
            next_code = end + 1
            width = min_code_size + 1
        run = (int(px),)
    if run:
        put(table[run], width)
    put(end, width)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


def _lzw_decompress(data: bytes, min_code_size: int, n_expected: int):
    """GIF LZW decode → list of palette indices (None on corruption)."""
    clear = 1 << min_code_size
    end = clear + 1
    width = min_code_size + 1
    table = [bytes((i,)) for i in range(clear)] + [b"", b""]
    out = bytearray()
    acc = 0
    nbits = 0
    pos = 0
    prev: bytes | None = None
    while len(out) < n_expected:
        while nbits < width:
            if pos >= len(data):
                return None
            acc |= data[pos] << nbits
            pos += 1
            nbits += 8
        code = acc & ((1 << width) - 1)
        acc >>= width
        nbits -= width
        if code == clear:
            table = [bytes((i,)) for i in range(clear)] + [b"", b""]
            width = min_code_size + 1
            prev = None
            continue
        if code == end:
            break
        if code < len(table):
            entry = table[code]
        elif code == len(table) and prev is not None:
            entry = prev + prev[:1]
        else:
            return None
        out += entry
        if prev is not None and len(table) < 4096:
            table.append(prev + entry[:1])
            if len(table) == (1 << width) and width < 12:
                width += 1
        prev = entry
    return out[:n_expected] if len(out) >= n_expected else None


_GIF_INTERLACE = ((0, 8), (4, 8), (2, 4), (1, 2))


def encode_gif(idx, palette, interlace: bool = False) -> bytes:
    """GIF89a encoder (stdlib): (h, w) uint8 index plane + (n, 3)
    palette → single-frame GIF with a global color table, real LZW
    stream, optional interlace. Fixture builder for the raster gate."""
    import numpy as np
    a = np.asarray(idx, dtype=np.uint8)
    pal = np.asarray(palette, dtype=np.uint8)
    h, w = a.shape
    bits = max(1, int(pal.shape[0] - 1).bit_length())
    gct = bytearray()
    for i in range(1 << bits):
        gct += bytes(pal[i]) if i < pal.shape[0] else b"\x00\x00\x00"
    out = bytearray(b"GIF89a")
    out += w.to_bytes(2, "little") + h.to_bytes(2, "little")
    out += bytes(((0x80 | ((bits - 1) << 4) | (bits - 1)), 0, 0))
    out += gct
    out += b"\x2c" + b"\x00\x00\x00\x00"  # image descriptor at (0,0)
    out += w.to_bytes(2, "little") + h.to_bytes(2, "little")
    out += bytes((0x40 if interlace else 0x00,))
    if interlace:
        rows = [r for off, step in _GIF_INTERLACE for r in range(off, h, step)]
        a = a[rows]
    mcs = max(2, bits)
    out += bytes((mcs,))
    stream = _lzw_compress(a.reshape(-1), mcs)
    for i in range(0, len(stream), 255):
        chunk = stream[i:i + 255]
        out += bytes((len(chunk),)) + chunk
    out += b"\x00\x3b"  # block terminator + trailer
    return bytes(out)


def decode_gif(payload: bytes):
    """REAL GIF raster decode (stdlib): header + color tables + LZW +
    both row orders (sequential and 4-pass interlace), first frame of
    animated files, 89a extensions skipped. A first frame smaller than
    the logical screen is COMPOSITED at its (left, top) offset onto a
    background-color canvas (optimized animations ship such frames), so
    the returned dimensions always match ``parse_image_header``.
    Returns (h, w, 3) uint8 via the palette lookup, or None when not a
    decodable GIF (tolerant — never raises)."""
    import numpy as np
    p = bytes(payload or b"")
    if p[:6] not in (b"GIF87a", b"GIF89a") or len(p) < 13:
        return None
    try:
        screen_w = int.from_bytes(p[6:8], "little")
        screen_h = int.from_bytes(p[8:10], "little")
        packed = p[10]
        bg_idx = p[11]
        pos = 13
        gct = None
        if packed & 0x80:
            n = 2 << (packed & 0x07)
            gct = np.frombuffer(p[pos:pos + 3 * n], np.uint8).reshape(-1, 3)
            pos += 3 * n
        while pos < len(p):
            b0 = p[pos]
            if b0 == 0x3B:  # trailer
                return None
            if b0 == 0x21:  # extension: label + sub-blocks
                pos += 2
                while pos < len(p) and p[pos] != 0:
                    pos += 1 + p[pos]
                pos += 1
                continue
            if b0 != 0x2C:
                return None
            left = int.from_bytes(p[pos + 1:pos + 3], "little")
            top = int.from_bytes(p[pos + 3:pos + 5], "little")
            w = int.from_bytes(p[pos + 5:pos + 7], "little")
            h = int.from_bytes(p[pos + 7:pos + 9], "little")
            ipk = p[pos + 9]
            pos += 10
            pal = gct
            if ipk & 0x80:
                n = 2 << (ipk & 0x07)
                pal = np.frombuffer(p[pos:pos + 3 * n],
                                    np.uint8).reshape(-1, 3)
                pos += 3 * n
            if pal is None or w == 0 or h == 0:
                return None
            mcs = p[pos]
            pos += 1
            stream = bytearray()
            while pos < len(p) and p[pos] != 0:
                ln = p[pos]
                stream += p[pos + 1:pos + 1 + ln]
                pos += 1 + ln
            idx = _lzw_decompress(bytes(stream), mcs, w * h)
            if idx is None:
                return None
            a = np.frombuffer(bytes(idx), np.uint8).reshape(h, w)
            if ipk & 0x40:  # interlace: rows arrive in 4-pass order
                rows = [r for off, step in _GIF_INTERLACE
                        for r in range(off, h, step)]
                grid = np.empty_like(a)
                grid[rows] = a
                a = grid
            if int(a.max()) >= pal.shape[0]:
                return None
            rgb = pal[a]
            if left or top or w != screen_w or h != screen_h:
                if left + w > screen_w or top + h > screen_h \
                        or not screen_w or not screen_h:
                    return None  # frame exceeds the declared screen
                # spec: the Background Color Index points into the
                # GLOBAL color table (not the frame's local one), so
                # composite in RGB space with the GCT color
                bg = gct[bg_idx] if gct is not None \
                    and bg_idx < gct.shape[0] else np.zeros(3, np.uint8)
                canvas = np.empty((screen_h, screen_w, 3), np.uint8)
                canvas[:, :] = bg
                canvas[top:top + h, left:left + w] = rgb
                rgb = canvas
            return rgb
        return None
    except Exception:
        return None  # tolerant parse (ST8): undecodable → header fallback


def encode_gif_animated(frames, palette, bg_idx: int = 0,
                        screen: tuple[int, int] | None = None,
                        disposals=None, transparent_idx: int | None = None,
                        delay_cs: int = 10) -> bytes:
    """GIF89a ANIMATION encoder (stdlib): ``frames`` is a list of
    ``(idx_2d, left, top)`` patches over one global color table;
    ``disposals[k]`` is the frame's disposal method (0/1 none,
    2 restore-to-background, 3 restore-to-previous); a non-None
    ``transparent_idx`` marks that palette slot transparent in every
    frame's GCE. Fixture builder for the multi-frame gate + pytests."""
    import numpy as np
    pal = np.asarray(palette, dtype=np.uint8)
    bits = max(1, int(pal.shape[0] - 1).bit_length())
    if screen is None:
        screen = (max(t + np.asarray(a).shape[0] for a, _, t in frames),
                  max(l + np.asarray(a).shape[1] for a, l, _ in frames))
    sh, sw = screen
    gct = bytearray()
    for i in range(1 << bits):
        gct += bytes(pal[i]) if i < pal.shape[0] else b"\x00\x00\x00"
    out = bytearray(b"GIF89a")
    out += sw.to_bytes(2, "little") + sh.to_bytes(2, "little")
    out += bytes(((0x80 | ((bits - 1) << 4) | (bits - 1)), bg_idx, 0))
    out += gct
    # Netscape looping extension (real animated GIFs carry it; the
    # decoder must walk application-extension sub-blocks correctly)
    out += b"\x21\xff\x0bNETSCAPE2.0\x03\x01\x00\x00\x00"
    for k, (a, left, top) in enumerate(frames):
        a = np.asarray(a, dtype=np.uint8)
        h, w = a.shape
        disp = 0 if disposals is None else int(disposals[k])
        tflag = 1 if transparent_idx is not None else 0
        out += bytes((0x21, 0xF9, 4, (disp << 2) | tflag))
        out += int(delay_cs).to_bytes(2, "little")
        out += bytes((transparent_idx or 0, 0))
        out += b"\x2c" + left.to_bytes(2, "little") + top.to_bytes(2, "little")
        out += w.to_bytes(2, "little") + h.to_bytes(2, "little")
        out += b"\x00"  # no local table, no interlace
        mcs = max(2, bits)
        out += bytes((mcs,))
        stream = _lzw_compress(a.reshape(-1), mcs)
        for i in range(0, len(stream), 255):
            chunk = stream[i:i + 255]
            out += bytes((len(chunk),)) + chunk
        out += b"\x00"
    out += b"\x3b"
    return bytes(out)


def gif_frame_count(payload: bytes) -> int | None:
    """Structural frame count: walk the block stream counting image
    descriptors WITHOUT running LZW (data sub-blocks are length-skipped)
    — cheap enough for ``decode_stub`` to report a real ``n_frames``.
    None when the payload is not a GIF."""
    p = bytes(payload or b"")
    if p[:6] not in (b"GIF87a", b"GIF89a") or len(p) < 13:
        return None
    try:
        pos = 13
        if p[10] & 0x80:
            pos += 3 * (2 << (p[10] & 0x07))
        n = 0
        while pos < len(p):
            b0 = p[pos]
            if b0 == 0x3B:
                break
            if b0 == 0x21:
                pos += 2
                while pos < len(p) and p[pos] != 0:
                    pos += 1 + p[pos]
                pos += 1
                continue
            if b0 != 0x2C:
                break
            ipk = p[pos + 9]
            pos += 10
            if ipk & 0x80:
                pos += 3 * (2 << (ipk & 0x07))
            pos += 1  # min code size
            while pos < len(p) and p[pos] != 0:
                pos += 1 + p[pos]
            pos += 1
            n += 1
        return n or None
    except Exception:
        return None


def decode_gif_frames(payload: bytes, max_frames: int = 64):
    """REAL animated-GIF decode (stdlib): every frame COMPOSITED to a
    full-canvas (screen_h, screen_w, 3) uint8 raster with GIF89a
    animation semantics — Graphic Control Extension disposal methods
    (0/1 leave, 2 restore frame region to the background color, 3
    restore to the pre-frame canvas), transparent-index pixels leaving
    the underlying canvas unchanged, local color tables, interlace,
    application/comment extensions skipped. Returns a list of frames
    (or None when not a decodable GIF; tolerant — never raises).
    ``max_frames`` bounds memory on hostile payloads (the no-silent-cap
    rule: frames past the cap are simply not returned; callers see the
    true total via ``gif_frame_count``).

    ``decode_gif`` (the certified single-frame path) is intentionally
    left untouched: first-frame-onto-background semantics are a
    different contract from stateful animation compositing."""
    import numpy as np
    p = bytes(payload or b"")
    if p[:6] not in (b"GIF87a", b"GIF89a") or len(p) < 13:
        return None
    try:
        screen_w = int.from_bytes(p[6:8], "little")
        screen_h = int.from_bytes(p[8:10], "little")
        packed = p[10]
        bg_idx = p[11]
        pos = 13
        gct = None
        if packed & 0x80:
            n = 2 << (packed & 0x07)
            gct = np.frombuffer(p[pos:pos + 3 * n], np.uint8).reshape(-1, 3)
            pos += 3 * n
        if not screen_w or not screen_h:
            return None
        bg = gct[bg_idx] if gct is not None and bg_idx < gct.shape[0] \
            else np.zeros(3, np.uint8)
        canvas = np.empty((screen_h, screen_w, 3), np.uint8)
        canvas[:, :] = bg
        frames: list = []
        disp, trans = 0, None
        while pos < len(p) and len(frames) < max_frames:
            b0 = p[pos]
            if b0 == 0x3B:
                break
            if b0 == 0x21:
                if pos + 1 < len(p) and p[pos + 1] == 0xF9 \
                        and pos + 4 < len(p) and p[pos + 2] == 4:
                    gce = p[pos + 3]
                    disp = (gce >> 2) & 0x07
                    trans = p[pos + 6] if gce & 1 else None
                pos += 2
                while pos < len(p) and p[pos] != 0:
                    pos += 1 + p[pos]
                pos += 1
                continue
            if b0 != 0x2C:
                return None
            left = int.from_bytes(p[pos + 1:pos + 3], "little")
            top = int.from_bytes(p[pos + 3:pos + 5], "little")
            w = int.from_bytes(p[pos + 5:pos + 7], "little")
            h = int.from_bytes(p[pos + 7:pos + 9], "little")
            ipk = p[pos + 9]
            pos += 10
            pal = gct
            if ipk & 0x80:
                n = 2 << (ipk & 0x07)
                pal = np.frombuffer(p[pos:pos + 3 * n],
                                    np.uint8).reshape(-1, 3)
                pos += 3 * n
            if pal is None or w == 0 or h == 0 \
                    or left + w > screen_w or top + h > screen_h:
                return None
            mcs = p[pos]
            pos += 1
            stream = bytearray()
            while pos < len(p) and p[pos] != 0:
                ln = p[pos]
                stream += p[pos + 1:pos + 1 + ln]
                pos += 1 + ln
            pos += 1
            idx = _lzw_decompress(bytes(stream), mcs, w * h)
            if idx is None:
                return None
            a = np.frombuffer(bytes(idx), np.uint8).reshape(h, w)
            if ipk & 0x40:
                rows = [r for off, step in _GIF_INTERLACE
                        for r in range(off, h, step)]
                grid = np.empty_like(a)
                grid[rows] = a
                a = grid
            if int(a.max()) >= pal.shape[0]:
                return None
            region = canvas[top:top + h, left:left + w]
            saved = region.copy() if disp == 3 else None
            rgb = pal[a]
            if trans is not None:
                mask = a == trans
                rgb = np.where(mask[:, :, None], region, rgb)
            canvas[top:top + h, left:left + w] = rgb
            frames.append(canvas.copy())
            if disp == 2:
                canvas[top:top + h, left:left + w] = bg
            elif disp == 3 and saved is not None:
                canvas[top:top + h, left:left + w] = saved
            disp, trans = 0, None
        return frames or None
    except Exception:
        return None  # tolerant parse (ST8): undecodable → None


def _frame_rows(df: DataFrame, id_col: str, payload_col: str,
                max_frames: int, decode: Callable, count: Callable) -> DataFrame:
    """The one-row-per-composited-frame kernel behind ``gif_frames`` and
    ``webp_frames``: ``decode(payload, max_frames=)`` gives the frames,
    ``count(payload)`` the true structural frame total."""
    def run(batches: Iterable) -> Iterator:
        import pandas as pd
        for pdf in batches:
            out = []
            for key, payload in zip(pdf[id_col], pdf[payload_col]):
                fr = decode(payload, max_frames=max_frames)
                if fr is None:
                    out.append((key, None, None, None, None,
                                None, None, None, None, False))
                    continue
                # n_frames is the TRUE structural count even when the
                # emitted rows are capped at max_frames (no-silent-cap:
                # a 100-frame animation yields 64 rows that SAY n_frames=100,
                # so frame_sample_plan sees the real total)
                n = count(payload) or len(fr)
                for k, arr in enumerate(fr):
                    h, w, _ = arr.shape
                    sums = arr.sum(axis=(0, 1), dtype="int64")
                    out.append((key, k, n, h, w,
                                int(sums[0]), int(sums[1]), int(sums[2]),
                                dhash64_raster(arr), True))
            yield pd.DataFrame(out, columns=[
                id_col, "frame_idx", "n_frames", "height", "width",
                "sum_r", "sum_g", "sum_b", "dhash", "decode_ok"])

    return df.select(id_col, payload_col).mapInPandas(
        run, schema=f"{id_col} string, frame_idx int, n_frames int, "
                    "height int, width int, sum_r bigint, sum_g bigint, "
                    "sum_b bigint, dhash bigint, decode_ok boolean")


def gif_frames(df: DataFrame, id_col: str = "url",
               payload_col: str = "payload",
               max_frames: int = 64) -> DataFrame:
    """Animated-GIF payloads → ONE ROW PER COMPOSITED FRAME:
    ``(id, frame_idx, n_frames, height, width, sum_r, sum_g, sum_b,
    dhash, decode_ok)`` via one Arrow-batched ``mapInPandas`` (pure map
    — inherits partitioning, zero Exchange; the explode happens inside
    the Python kernel, so a 64-frame GIF costs one input row and 64
    output rows, no shuffle). Channel sums are EXACT integers (the
    value-oracle currency); ``dhash`` is the per-frame perceptual hash,
    ready for ``frame_sample_plan`` + ``image_near_dup`` keyframe
    dedup. Undecodable payloads come back as one ``decode_ok=false``
    row (ST8 policy)."""
    return _frame_rows(df, id_col, payload_col, max_frames,
                       decode_gif_frames, gif_frame_count)


def parse_mp4_header(payload: bytes) -> dict | None:
    """REAL ISO-BMFF (MP4/MOV) metadata decode: recursive box walk to
    ``mvhd`` (timescale + duration) and the video ``tkhd`` boxes
    (16.16-fixed width/height). Returns ``{format, width, height,
    duration_ms, n_video_tracks}`` or None when the bytes are not an
    ISO-BMFF container. Pure header walk — SAMPLE DATA IS NEVER
    DECODED (H.264/H.265/AV1 need a real codec; the documented seam) —
    so a crawl pipeline still gets real dimensions/durations to
    filter, sample, and shard on."""
    p = bytes(payload or b"")
    if len(p) < 16 or p[4:8] not in (b"ftyp", b"moov", b"mdat", b"free",
                                     b"wide", b"skip"):
        return None
    out = {"format": "mp4", "width": None, "height": None,
           "duration_ms": None, "n_video_tracks": 0}

    def walk(lo: int, hi: int, depth: int) -> None:
        pos = lo
        while pos + 8 <= hi and depth < 8:
            size = int.from_bytes(p[pos:pos + 4], "big")
            box = p[pos + 4:pos + 8]
            if size == 1 or size == 0 or pos + size > hi or size < 8:
                return  # 64-bit/to-end sizes: unsupported, stop cleanly
            body_lo, body_hi = pos + 8, pos + size
            if box in (b"moov", b"trak", b"mdia"):
                walk(body_lo, body_hi, depth + 1)
            elif box == b"mvhd" and body_hi - body_lo >= 20:
                # v0 needs 20 body bytes (32-bit times); v1 needs 32
                # (64-bit creation/modification + 32-bit timescale +
                # 64-bit duration). A truncated v1 would read empty
                # slices (int.from_bytes(b"") == 0) and emit garbage —
                # tolerantly omit duration instead.
                ver = p[body_lo]
                if ver == 0:
                    ts = int.from_bytes(p[body_lo + 12:body_lo + 16], "big")
                    dur = int.from_bytes(p[body_lo + 16:body_lo + 20], "big")
                elif body_hi - body_lo >= 32:
                    ts = int.from_bytes(p[body_lo + 20:body_lo + 24], "big")
                    dur = int.from_bytes(p[body_lo + 24:body_lo + 32], "big")
                else:
                    ts = dur = 0
                if ts:
                    out["duration_ms"] = dur * 1000 // ts
            elif box == b"tkhd" and body_hi - body_lo >= 12:
                w = int.from_bytes(p[body_hi - 8:body_hi - 4], "big") >> 16
                h = int.from_bytes(p[body_hi - 4:body_hi], "big") >> 16
                if w and h:
                    out["n_video_tracks"] += 1
                    if out["width"] is None:
                        out["width"], out["height"] = w, h
            pos += size

    try:
        walk(0, len(p), 0)
    except Exception:
        return None  # tolerant parse (ST8)
    return out


def encode_mp4_header(width: int, height: int, duration_ms: int,
                      timescale: int = 1000) -> bytes:
    """Minimal legal ISO-BMFF skeleton (ftyp + moov{mvhd, trak{tkhd}}
    + empty mdat) for fixtures — real box sizes, versions, and
    16.16-fixed dimensions; no sample data."""
    def box(four: bytes, body: bytes) -> bytes:
        return (8 + len(body)).to_bytes(4, "big") + four + body

    ftyp = box(b"ftyp", b"isom" + (0x200).to_bytes(4, "big")
               + b"isomiso2mp41")
    dur = duration_ms * timescale // 1000
    mvhd = box(b"mvhd", bytes(4) + bytes(8)
               + timescale.to_bytes(4, "big") + dur.to_bytes(4, "big")
               + bytes(80))
    tkhd = box(b"tkhd", bytes(4) + bytes(8) + (1).to_bytes(4, "big")
               + bytes(4) + dur.to_bytes(4, "big") + bytes(52)
               + (width << 16).to_bytes(4, "big")
               + (height << 16).to_bytes(4, "big"))
    moov = box(b"moov", mvhd + box(b"trak", tkhd))
    return ftyp + moov + box(b"mdat", b"")


# ---------------------------------------------------------------------------
# WebP lossless (VP8L) — the modern-web raster format (RFC 9649 subset)
# ---------------------------------------------------------------------------

class _VP8LBits:
    """LSB-first bit reader over bytes (VP8L convention)."""

    __slots__ = ("d", "pos")

    def __init__(self, data: bytes):
        self.d = data
        self.pos = 0

    def read(self, n: int) -> int:
        v = 0
        for i in range(n):
            byte = self.d[self.pos >> 3]
            v |= ((byte >> (self.pos & 7)) & 1) << i
            self.pos += 1
        return v


class _VP8LBitWriter:
    __slots__ = ("bits", "n")

    def __init__(self):
        self.bits = 0
        self.n = 0

    def put(self, value: int, nbits: int):
        self.bits |= (value & ((1 << nbits) - 1)) << self.n
        self.n += nbits

    def bytes(self) -> bytes:
        out = bytearray()
        b, n = self.bits, self.n
        while n > 0:
            out.append(b & 0xFF)
            b >>= 8
            n -= 8
        return bytes(out)


class _Prefix:
    """Canonical prefix code (DEFLATE-style assignment; bits read
    MSB-of-code-first, matching VP8L)."""

    __slots__ = ("table", "only")

    def __init__(self, lengths: list[int]):
        self.only = None
        nz = [(l, s) for s, l in enumerate(lengths) if l > 0]
        if len(nz) == 1:
            self.only = nz[0][1]  # single symbol: zero-bit code
            self.table = {}
            return
        # canonical: count per length, ascending symbol order
        max_len = max((l for l, _ in nz), default=0)
        bl_count = [0] * (max_len + 1)
        for l, _ in nz:
            bl_count[l] += 1
        code = 0
        next_code = [0] * (max_len + 2)
        for l in range(1, max_len + 1):
            code = (code + bl_count[l - 1]) << 1
            next_code[l] = code
        table = {}
        for s, l in enumerate(lengths):
            if l > 0:
                table[(l, next_code[l])] = s
                next_code[l] += 1
        self.table = table

    @classmethod
    def simple(cls, symbols: list[int]):
        p = cls.__new__(cls)
        if len(symbols) == 1:
            p.only = symbols[0]
            p.table = {}
        else:
            p.only = None
            p.table = {(1, 0): symbols[0], (1, 1): symbols[1]}
        return p

    def decode(self, br: _VP8LBits) -> int:
        if self.only is not None:
            return self.only
        acc, ln = 0, 0
        while ln < 16:
            acc = (acc << 1) | br.read(1)
            ln += 1
            s = self.table.get((ln, acc))
            if s is not None:
                return s
        raise ValueError("bad prefix code")


_CLC_ORDER = (17, 18, 0, 1, 2, 3, 4, 5, 6, 7, 8, 9, 10,
              11, 12, 13, 14, 15, 16)


def _vp8l_read_prefix(br: _VP8LBits, alphabet: int) -> _Prefix:
    if br.read(1):  # simple code
        n_syms = br.read(1) + 1
        first_8 = br.read(1)
        sym0 = br.read(8 if first_8 else 1)
        syms = [sym0] + ([br.read(8)] if n_syms == 2 else [])
        return _Prefix.simple(syms)
    num_clc = br.read(4) + 4
    clc_lens = [0] * 19
    for i in range(num_clc):
        clc_lens[_CLC_ORDER[i]] = br.read(3)
    clc = _Prefix(clc_lens)
    if br.read(1):  # explicit max symbol
        length_nbits = 2 + 2 * br.read(3)
        max_symbol = 2 + br.read(length_nbits)
    else:
        max_symbol = alphabet
    lengths = [0] * alphabet
    symbol, prev = 0, 8  # default repeat length per libwebp
    while symbol < alphabet:
        if max_symbol <= 0:
            break
        max_symbol -= 1
        cl = clc.decode(br)
        if cl < 16:
            lengths[symbol] = cl
            symbol += 1
            if cl:
                prev = cl
        elif cl == 16:
            for _ in range(3 + br.read(2)):
                if symbol < alphabet:
                    lengths[symbol] = prev
                    symbol += 1
        elif cl == 17:
            symbol += 3 + br.read(3)
        else:
            symbol += 11 + br.read(7)
    return _Prefix(lengths)


def _lz77_value(prefix_sym: int, br: _VP8LBits) -> int:
    if prefix_sym < 4:
        return prefix_sym + 1
    extra = (prefix_sym - 2) >> 1
    offset = (2 + (prefix_sym & 1)) << extra
    return offset + br.read(extra) + 1


# VP8L 2-D short-distance codes (RFC 9649 §4.2.1.3): LZ77 distance
# values 1..120 address a NEARBY PIXEL as an (dx, dy) offset instead of
# a linear distance — distance = dy·xsize + dx (floored at 1). The
# table is the 120 closest above/left neighbors in the |dx| ≤ 8,
# 0 ≤ dy ≤ 8 window ordered by (dx²+dy² asc, dy desc, dx desc) — the
# generation rule is pinned by pytest (regenerates this literal) and
# cross-checked against the packed-byte form of the same table in
# public libwebp ((y<<4)|(8-x) bytes); the 120 cut falls on a clean
# distance boundary (d²=74 kept, d²=80 out), so no tie is split.
_VP8L_DIST_MAP = (
    (0, 1), (1, 0), (1, 1), (-1, 1), (0, 2), (2, 0), (1, 2), (-1, 2),
    (2, 1), (-2, 1), (2, 2), (-2, 2), (0, 3), (3, 0), (1, 3), (-1, 3),
    (3, 1), (-3, 1), (2, 3), (-2, 3), (3, 2), (-3, 2), (0, 4), (4, 0),
    (1, 4), (-1, 4), (4, 1), (-4, 1), (3, 3), (-3, 3), (2, 4), (-2, 4),
    (4, 2), (-4, 2), (0, 5), (3, 4), (-3, 4), (4, 3), (-4, 3), (5, 0),
    (1, 5), (-1, 5), (5, 1), (-5, 1), (2, 5), (-2, 5), (5, 2), (-5, 2),
    (4, 4), (-4, 4), (3, 5), (-3, 5), (5, 3), (-5, 3), (0, 6), (6, 0),
    (1, 6), (-1, 6), (6, 1), (-6, 1), (2, 6), (-2, 6), (6, 2), (-6, 2),
    (4, 5), (-4, 5), (5, 4), (-5, 4), (3, 6), (-3, 6), (6, 3), (-6, 3),
    (0, 7), (7, 0), (1, 7), (-1, 7), (5, 5), (-5, 5), (7, 1), (-7, 1),
    (4, 6), (-4, 6), (6, 4), (-6, 4), (2, 7), (-2, 7), (7, 2), (-7, 2),
    (3, 7), (-3, 7), (7, 3), (-7, 3), (5, 6), (-5, 6), (6, 5), (-6, 5),
    (0, 8), (8, 0), (1, 8), (-1, 8), (4, 7), (-4, 7), (7, 4), (-7, 4),
    (8, 1), (-8, 1), (2, 8), (-2, 8), (8, 2), (-8, 2), (6, 6), (-6, 6),
    (3, 8), (-3, 8), (8, 3), (-8, 3), (5, 7), (-5, 7), (7, 5), (-7, 5),
)


def _vp8l_entropy_image(br: _VP8LBits, w: int, h: int,
                        top_level: bool = False):
    """Decode one VP8L entropy-coded ARGB image → list of (a,r,g,b)
    tuples, or None on hostile input. Short-distance 2-D codes
    (distances 1..120 → ``_VP8L_DIST_MAP`` neighbor offsets, RFC 9649
    §4.2.1.3) are decoded — the former documented seam is closed.
    META PREFIX CODES are supported on the top-level image:
    a sub-resolution entropy image (same 3-bit+2 tile convention as
    the transforms) selects one of N prefix-code groups per tile,
    group index = (red << 8) | green of the tile pixel; the color
    cache stays image-global across groups (spec semantics)."""
    use_cache = br.read(1)
    cache_bits = br.read(4) if use_cache else 0
    if use_cache and not (1 <= cache_bits <= 11):
        return None
    cache_size = (1 << cache_bits) if use_cache else 0
    meta_tiles = None
    meta_bits = 0
    tile_w = 0
    if top_level and br.read(1):  # meta prefix codes present
        meta_bits = br.read(3) + 2
        tile_w = (w + (1 << meta_bits) - 1) >> meta_bits
        tile_h = (h + (1 << meta_bits) - 1) >> meta_bits
        tpx = _vp8l_entropy_image(br, tile_w, tile_h)
        if tpx is None:
            return None
        meta_tiles = [((p[1] << 8) | p[2]) for p in tpx]
        n_groups = max(meta_tiles) + 1
        if n_groups > 1024:  # hostile-input bound (spec allows 65536)
            return None
    else:
        n_groups = 1

    def read_group():
        g = _vp8l_read_prefix(br, 256 + 24 + cache_size)
        r = _vp8l_read_prefix(br, 256)
        b = _vp8l_read_prefix(br, 256)
        a = _vp8l_read_prefix(br, 256)
        d = _vp8l_read_prefix(br, 40)
        return (g, r, b, a, d)

    groups = [read_group() for _ in range(n_groups)]
    green, red, blue, alpha, dist = groups[0]
    cache = [0] * cache_size
    out: list = []
    n = w * h

    def insert(px):
        if cache_size:
            argb = (px[0] << 24) | (px[1] << 16) | (px[2] << 8) | px[3]
            cache[(0x1E35A7BD * argb & 0xFFFFFFFF) >> (32 - cache_bits)] = px

    while len(out) < n:
        if meta_tiles is not None:
            y, x = divmod(len(out), w)
            green, red, blue, alpha, dist = groups[meta_tiles[
                (y >> meta_bits) * tile_w + (x >> meta_bits)]]
        s = green.decode(br)
        if s < 256:
            # spec channel order after green: red, blue, alpha (the
            # tuple is built in that READ order — Python evaluates
            # left-to-right, so the names force the bit order)
            r_ = red.decode(br)
            b_ = blue.decode(br)
            a_ = alpha.decode(br)
            px = (a_, r_, s, b_)
            out.append(px)
            insert(px)
        elif s < 280:
            length = _lz77_value(s - 256, br)
            dval = _lz77_value(dist.decode(br), br)
            if dval <= 120:
                # 2-D short-distance code: neighbor offset in THIS
                # image's coordinate space, floored at 1 (RFC 9649)
                dx, dy = _VP8L_DIST_MAP[dval - 1]
                d = max(dy * w + dx, 1)
            else:
                d = dval - 120
            if d > len(out):
                return None
            for _ in range(length):
                px = out[-d]
                out.append(px)
                insert(px)
        else:
            if s - 280 >= cache_size:
                return None
            out.append(cache[s - 280])
    return out[:n]


def mp4_metadata(df: DataFrame, id_col: str = "url",
                 payload_col: str = "payload") -> DataFrame:
    """Video payloads → container metadata rows ``(id, width, height,
    duration_ms, n_video_tracks, parse_ok)`` via one Arrow-batched
    ``mapInPandas`` (pure map, zero Exchange) — the filter/sample/shard
    columns a crawl pipeline needs from video BEFORE any codec runs
    (frame decode is the documented seam; ``frame_sample_plan``
    consumes the downstream frame counts once a decoder exists)."""
    def run(batches: Iterable) -> Iterator:
        import pandas as pd
        for pdf in batches:
            out = []
            for key, payload in zip(pdf[id_col], pdf[payload_col]):
                m = parse_mp4_header(
                    bytes(payload) if payload is not None else b"")
                if m is None or m["width"] is None:
                    out.append((key, None, None, None, None, False))
                else:
                    out.append((key, m["width"], m["height"],
                                m["duration_ms"], m["n_video_tracks"],
                                True))
            yield pd.DataFrame(out, columns=[
                id_col, "width", "height", "duration_ms",
                "n_video_tracks", "parse_ok"])

    return df.select(id_col, payload_col).mapInPandas(
        run, schema=f"{id_col} string, width int, height int, "
                    "duration_ms bigint, n_video_tracks int, "
                    "parse_ok boolean")


def _vp8l_avg2(p, q):
    return tuple((p[c] + q[c]) >> 1 for c in range(4))


def _vp8l_predict(mode, left, top, tl, tr):
    """One VP8L predictor (RFC 9649 §4.2.2 modes 0–13) over ARGB
    4-tuples; raises on mode > 13 (tolerant outer → None)."""
    if mode == 0:
        return (255, 0, 0, 0)  # 0xff000000
    if mode == 1:
        return left
    if mode == 2:
        return top
    if mode == 3:
        return tr
    if mode == 4:
        return tl
    if mode == 5:
        return _vp8l_avg2(_vp8l_avg2(left, tr), top)
    if mode == 6:
        return _vp8l_avg2(left, tl)
    if mode == 7:
        return _vp8l_avg2(left, top)
    if mode == 8:
        return _vp8l_avg2(tl, top)
    if mode == 9:
        return _vp8l_avg2(top, tr)
    if mode == 10:
        return _vp8l_avg2(_vp8l_avg2(left, tl), _vp8l_avg2(top, tr))
    if mode == 11:  # Select: Manhattan-closer of L/T to the gradient
        est = [left[c] + top[c] - tl[c] for c in range(4)]
        p_l = sum(abs(est[c] - left[c]) for c in range(4))
        p_t = sum(abs(est[c] - top[c]) for c in range(4))
        return left if p_l < p_t else top
    if mode == 12:  # ClampAddSubtractFull
        return tuple(min(255, max(0, left[c] + top[c] - tl[c]))
                     for c in range(4))
    if mode == 13:  # ClampAddSubtractHalf (C-truncating /2)
        out = []
        for c in range(4):
            a = (left[c] + top[c]) >> 1
            d = a - tl[c]
            half = d // 2 if d >= 0 else -((-d) // 2)
            out.append(min(255, max(0, a + half)))
        return tuple(out)
    raise ValueError(f"VP8L predictor mode {mode}")


def _vp8l_inverse_predictor(px, w, h, size_bits, tiles, tw):
    """Invert the predictor transform: ``px`` holds per-channel
    residuals; reconstruct row-major, per-tile mode from the
    subresolution image's GREEN channel, spec border rules (top-left
    pixel predicts 0xff000000, top row L, left column T, and the
    rightmost column's TR is the CURRENT row's leftmost pixel)."""
    out: list = []
    for y in range(h):
        base = y * w
        for x in range(w):
            res = px[base + x]
            if x == 0 and y == 0:
                pred = (255, 0, 0, 0)
            elif y == 0:
                pred = out[base + x - 1]
            elif x == 0:
                pred = out[base + x - w]
            else:
                mode = tiles[(y >> size_bits) * tw + (x >> size_bits)][2]
                i = base + x
                left, top, tl = out[i - 1], out[i - w], out[i - w - 1]
                tr = out[i - w + 1] if x + 1 < w else out[base]
                pred = _vp8l_predict(mode, left, top, tl, tr)
            out.append(tuple((res[c] + pred[c]) & 0xFF for c in range(4)))
    return out


def _i8(v: int) -> int:
    return v - 256 if v >= 128 else v


def _ct_delta(t: int, c: int) -> int:
    """ColorTransformDelta: int8 × int8, arithmetic shift right 5."""
    return (_i8(t) * _i8(c)) >> 5


def _vp8l_inverse_crosscolor(px, w, h, size_bits, tiles, tw):
    """Invert the cross-color transform: per-tile ColorTransformElement
    packed as (red=red_to_blue, green=green_to_blue, blue=green_to_red);
    red recovers first, then blue uses the RECOVERED red."""
    out: list = []
    for i, (a, r, g, b) in enumerate(px):
        y, x = divmod(i, w)
        t = tiles[(y >> size_bits) * tw + (x >> size_bits)]
        r = (r + _ct_delta(t[3], g)) & 0xFF
        b = (b + _ct_delta(t[2], g) + _ct_delta(t[1], r)) & 0xFF
        out.append((a, r, g, b))
    return out


# ---------------------------------------------------------------------------
# Lossy VP8 (RFC 6386) — bounded r8 scope: the boolean arithmetic coder
# (§7) and the keyframe first-partition header through the quantizer
# indices (§9.2-9.6). The full raster decode is a recorded KILL for this
# round (BENCH.md): it requires ~1000+ spec constants (coefficient and
# mode probability tables, dequant lookups) that cannot be independently
# verified in this offline environment — a mis-recalled constant would
# corrupt rasters silently. The header slice IS locally verifiable
# (encoder/decoder roundtrip pins the bool coder; the uncompressed dims
# cross-check parse_image_header) and carries the crawl signal that
# matters for curation: y_ac_qi is the encoder's base quantizer — a
# direct image-quality proxy for filtering/sampling lossy thumbnails.

class _VP8BoolReader:
    """RFC 6386 §7.3 boolean decoder. Reads past-the-end as zero bytes
    (the spec's decoders tolerate this; callers bound via partition
    size). Bit-exactness is pinned by roundtrip against
    ``_VP8BoolWriter`` — no independent conformance vector is available
    offline (documented caveat)."""

    __slots__ = ("buf", "pos", "range", "value", "bit_count")

    def __init__(self, buf: bytes):
        self.buf = buf
        self.pos = 2
        self.range = 255
        b0 = buf[0] if len(buf) > 0 else 0
        b1 = buf[1] if len(buf) > 1 else 0
        self.value = (b0 << 8) | b1
        self.bit_count = 0

    def read_bool(self, prob: int) -> int:
        split = 1 + (((self.range - 1) * prob) >> 8)
        big = split << 8
        if self.value >= big:
            ret = 1
            self.range -= split
            self.value -= big
        else:
            ret = 0
            self.range = split
        while self.range < 128:
            self.value <<= 1
            self.range <<= 1
            self.bit_count += 1
            if self.bit_count == 8:
                self.bit_count = 0
                nxt = self.buf[self.pos] if self.pos < len(self.buf) else 0
                self.pos += 1
                self.value |= nxt
        return ret

    def literal(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bool(128)
        return v

    def signed_literal(self, n: int) -> int:
        v = self.literal(n)
        return -v if self.read_bool(128) else v


class _VP8BoolWriter:
    """Inverse of ``_VP8BoolReader`` (§7.2 shape): carry-propagating
    arithmetic encoder producing streams the reader replays exactly
    (fuzz roundtrip pytest)."""

    __slots__ = ("out", "range", "bottom", "bit_count")

    def __init__(self):
        self.out = bytearray()
        self.range = 255
        self.bottom = 0
        self.bit_count = 24

    def _carry(self):
        i = len(self.out) - 1
        while i >= 0:
            self.out[i] = (self.out[i] + 1) & 0xFF
            if self.out[i]:
                return
            i -= 1

    def write_bool(self, prob: int, value: int):
        split = 1 + (((self.range - 1) * prob) >> 8)
        if value:
            self.bottom += split
            if self.bottom >> 32:  # carry out of the 32-bit window
                self._carry()
                self.bottom &= 0xFFFFFFFF
            self.range -= split
        else:
            self.range = split
        while self.range < 128:
            if self.bottom & (1 << 31):
                self._carry()
            self.bottom = (self.bottom << 1) & 0xFFFFFFFF
            self.range <<= 1
            self.bit_count -= 1
            if self.bit_count == 0:
                self.out.append((self.bottom >> 24) & 0xFF)
                self.bottom &= 0xFFFFFF
                self.bit_count = 8

    def put_literal(self, value: int, n: int):
        for i in range(n - 1, -1, -1):
            self.write_bool(128, (value >> i) & 1)

    def put_signed(self, value: int, n: int):
        self.put_literal(abs(value), n)
        self.write_bool(128, 1 if value < 0 else 0)

    def bytes(self) -> bytes:
        # flush: complete the in-flight byte (bit_count more shifts),
        # propagating any carry into already-emitted bytes, then emit
        # the remaining 32 bits of `bottom` — the decoder's value then
        # lands inside [bottom, bottom + range) exactly
        out = bytearray(self.out)
        v = self.bottom << self.bit_count
        if v >> 32:  # carry out of the 32-bit window
            i = len(out) - 1
            while i >= 0:
                out[i] = (out[i] + 1) & 0xFF
                if out[i]:
                    break
                i -= 1
        v &= 0xFFFFFFFF
        for _ in range(4):
            out.append((v >> 24) & 0xFF)
            v = (v << 8) & 0xFFFFFFFF
        return bytes(out)


def encode_vp8_keyframe_header(width: int, height: int, y_ac_qi: int,
                               filter_level: int = 12,
                               sharpness: int = 2,
                               n_dct_partitions_log2: int = 0,
                               y_dc_delta: int = 0,
                               uv_ac_delta: int = 0,
                               show_frame: bool = True,
                               container: bool = True) -> bytes:
    """FIXTURE generator (not a real encoder): a lossy-VP8 keyframe
    whose uncompressed tag + bool-coded header carry the given values,
    with NO macroblock data behind them — exactly the prefix
    ``parse_vp8_keyframe_header`` consumes, so planted headers give the
    parse a closed-form gate (the solid-color-PNG pattern)."""
    bw = _VP8BoolWriter()
    bw.write_bool(128, 0)  # color_space
    bw.write_bool(128, 0)  # clamping_type
    bw.write_bool(128, 0)  # segmentation_enabled
    bw.write_bool(128, 0)  # filter_type
    bw.put_literal(filter_level, 6)
    bw.put_literal(sharpness, 3)
    bw.write_bool(128, 0)  # mode_ref_lf_delta_enabled
    bw.put_literal(n_dct_partitions_log2, 2)
    bw.put_literal(y_ac_qi, 7)
    for delta in (y_dc_delta, 0, 0, 0, uv_ac_delta):
        if delta:
            bw.write_bool(128, 1)
            bw.put_signed(delta, 4)
        else:
            bw.write_bool(128, 0)
    part = bw.bytes()
    tag = (0 | (0 << 1) | ((1 if show_frame else 0) << 4)
           | (len(part) << 5))
    stream = (tag.to_bytes(3, "little") + b"\x9d\x01\x2a"
              + (width & 0x3FFF).to_bytes(2, "little")
              + (height & 0x3FFF).to_bytes(2, "little") + part)
    if not container:
        return stream
    chunk = b"VP8 " + len(stream).to_bytes(4, "little") + stream
    if len(stream) & 1:
        chunk += b"\x00"
    return (b"RIFF" + (4 + len(chunk)).to_bytes(4, "little")
            + b"WEBP" + chunk)


def parse_vp8_keyframe_header(payload: bytes) -> dict | None:
    """Lossy-VP8 (RFC 6386) keyframe header parse — the uncompressed
    frame tag (§9.1) plus the bool-coded first-partition prefix through
    the quant indices (§9.2-9.6): color space, segmentation block (all
    subfields consumed field-exactly), loop-filter setup, DCT partition
    count, and ``y_ac_qi`` + the five quantizer deltas. Works on a bare
    VP8 bitstream or a WebP container (``VP8 `` chunk). Tolerant → None
    on non-keyframe / truncated / non-VP8 input."""
    p = bytes(payload or b"")
    if len(p) >= 16 and p[:4] == b"RIFF" and p[8:12] == b"WEBP":
        pos, data = 12, None
        while pos + 8 <= len(p):
            four = p[pos:pos + 4]
            ln = int.from_bytes(p[pos + 4:pos + 8], "little")
            if four == b"VP8 ":
                data = p[pos + 8:pos + 8 + ln]
                break
            pos += 8 + ln + (ln & 1)
        if data is None:
            return None
        p = data
    if len(p) < 10:
        return None
    tag = int.from_bytes(p[0:3], "little")
    keyframe = not (tag & 1)
    version = (tag >> 1) & 7
    show_frame = (tag >> 4) & 1
    first_part_size = tag >> 5
    if not keyframe:
        return None
    if p[3:6] != b"\x9d\x01\x2a":
        return None
    wraw = int.from_bytes(p[6:8], "little")
    hraw = int.from_bytes(p[8:10], "little")
    out = {"keyframe": True, "version": version,
           "show_frame": bool(show_frame),
           "first_part_size": first_part_size,
           "width": wraw & 0x3FFF, "xscale": wraw >> 14,
           "height": hraw & 0x3FFF, "yscale": hraw >> 14}
    try:
        br = _VP8BoolReader(p[10:10 + max(first_part_size, 0)] or p[10:])
        out["color_space"] = br.read_bool(128)
        out["clamping_type"] = br.read_bool(128)
        seg_enabled = br.read_bool(128)
        out["segmentation_enabled"] = bool(seg_enabled)
        if seg_enabled:
            update_map = br.read_bool(128)
            update_data = br.read_bool(128)
            if update_data:
                br.read_bool(128)  # segment_feature_mode
                for _ in range(4):  # per-segment quantizer
                    if br.read_bool(128):
                        br.signed_literal(7)
                for _ in range(4):  # per-segment loop filter
                    if br.read_bool(128):
                        br.signed_literal(6)
            if update_map:
                for _ in range(3):  # segment tree probs
                    if br.read_bool(128):
                        br.literal(8)
        out["filter_type"] = br.read_bool(128)
        out["filter_level"] = br.literal(6)
        out["sharpness_level"] = br.literal(3)
        if br.read_bool(128):  # mode_ref_lf_delta_enabled
            if br.read_bool(128):  # ..._update
                for _ in range(8):  # 4 ref deltas + 4 mode deltas
                    if br.read_bool(128):
                        br.signed_literal(6)
        out["n_dct_partitions"] = 1 << br.literal(2)
        out["y_ac_qi"] = br.literal(7)
        for name in ("y_dc_delta", "y2_dc_delta", "y2_ac_delta",
                     "uv_dc_delta", "uv_ac_delta"):
            out[name] = br.signed_literal(4) if br.read_bool(128) else 0
    except IndexError:
        return None
    return out


def webp_lossy_meta(df: DataFrame, id_col: str = "url",
                    payload_col: str = "payload") -> DataFrame:
    """Lossy-WebP/VP8 keyframe header metadata as a DataFrame — one
    Arrow-batched ``mapInPandas`` (pure map, zero Exchange): ``(id,
    width, height, y_ac_qi, filter_level, n_dct_partitions, show_frame,
    parse_ok)``. ``y_ac_qi`` (0..127, the encoder's base quantizer) is
    the image-quality prior a crawl pipeline filters/samples lossy
    thumbnails on BEFORE any raster decode exists — the same
    decode-free routing role mp4_metadata plays for video."""
    def run(batches: Iterable) -> Iterator:
        import pandas as pd
        for pdf in batches:
            out = []
            for key, payload in zip(pdf[id_col], pdf[payload_col]):
                m = parse_vp8_keyframe_header(
                    bytes(payload) if payload is not None else b"")
                if m is None:
                    out.append((key, None, None, None, None, None,
                                None, False))
                else:
                    out.append((key, m["width"], m["height"],
                                m["y_ac_qi"], m["filter_level"],
                                m["n_dct_partitions"], m["show_frame"],
                                True))
            yield pd.DataFrame(out, columns=[
                id_col, "width", "height", "y_ac_qi", "filter_level",
                "n_dct_partitions", "show_frame", "parse_ok"])

    return df.select(id_col, payload_col).mapInPandas(
        run, schema=f"{id_col} string, width int, height int, "
                    "y_ac_qi int, filter_level int, n_dct_partitions int, "
                    "show_frame boolean, parse_ok boolean")


def decode_webp(payload: bytes, rgba: bool = False):
    """REAL WebP-LOSSLESS (VP8L) raster decode, stdlib-only, for the
    common subset: simple AND normal (code-length-coded) prefix codes,
    LZ77 backward references (1-D distances), the color cache, ALL
    FOUR transforms — predictor (14 modes, per-tile mode selection,
    the spec's border rules incl. the rightmost-column TR exception),
    cross-color (signed ColorTransformDelta algebra), subtract-green,
    color-indexing (palette) including sub-byte pixel bundling, and
    META PREFIX CODES (per-tile prefix-code group selection) and 2-D
    short-distance codes (RFC 9649 §4.2.1.3 — ``_VP8L_DIST_MAP``).
    Remaining seam (tolerant → None): lossy VP8. Returns
    (h, w, 3) uint8 RGB — or (h, w, 4) RGBA with ``rgba=True`` (the
    animated-frame compositor needs the alpha plane) — or None."""
    import numpy as np
    p = bytes(payload or b"")
    if len(p) < 30 or p[:4] != b"RIFF" or p[8:12] != b"WEBP":
        return None
    try:
        # walk RIFF chunks to the VP8L payload
        pos = 12
        data = None
        while pos + 8 <= len(p):
            four = p[pos:pos + 4]
            ln = int.from_bytes(p[pos + 4:pos + 8], "little")
            if four == b"VP8L":
                data = p[pos + 8:pos + 8 + ln]
                break
            pos += 8 + ln + (ln & 1)
        if data is None or not data or data[0] != 0x2F:
            return None
        br = _VP8LBits(data)
        br.read(8)  # signature
        w = br.read(14) + 1
        h = br.read(14) + 1
        # Hostile-input bound: a 5-byte header can declare 16383x16383
        # (~268M px) and LZ77/color-cache-expand into multi-GB Python
        # lists inside the Arrow worker. Same policy as GIF max_frames
        # and the robots crawl-delay clamp: tolerant None past the cap.
        if w * h > 4_194_304:  # 4M px (~2048x2048)
            return None
        br.read(1)  # alpha hint
        if br.read(3) != 0:
            return None  # version must be 0
        transforms = []
        palette = None
        w_eff = w
        while br.read(1):
            t = br.read(2)
            if t == 2:  # subtract green
                transforms.append(("subgreen",))
            elif t == 3:  # color indexing
                ct_size = br.read(8) + 1
                pal_px = _vp8l_entropy_image(br, ct_size, 1)
                if pal_px is None:
                    return None
                # palette entries are delta-coded bytewise per channel
                pal = []
                prev = (0, 0, 0, 0)
                for px in pal_px:
                    cur = tuple((prev[i] + px[i]) & 0xFF for i in range(4))
                    pal.append(cur)
                    prev = cur
                palette = pal
                wb = 3 if ct_size <= 2 else 2 if ct_size <= 4 \
                    else 1 if ct_size <= 16 else 0
                transforms.append(("palette", wb))
                w_eff = (w + (1 << wb) - 1) >> wb
            else:  # t == 0 predictor / t == 1 cross-color
                size_bits = br.read(3) + 2
                tw = (w_eff + (1 << size_bits) - 1) >> size_bits
                th = (h + (1 << size_bits) - 1) >> size_bits
                tiles = _vp8l_entropy_image(br, tw, th)
                if tiles is None:
                    return None
                transforms.append((
                    "predictor" if t == 0 else "crosscolor",
                    size_bits, tw, tiles, w_eff))
        px = _vp8l_entropy_image(br, w_eff, h, top_level=True)
        if px is None:
            return None
        for t in reversed(transforms):
            if t[0] == "palette":
                wb = t[1]
                xcount, bits = 1 << wb, 8 >> wb
                mask = (1 << bits) - 1
                unpacked = []
                for y in range(h):
                    row = px[y * w_eff:(y + 1) * w_eff]
                    line = []
                    for packed in row:
                        g = packed[2]
                        for k in range(xcount):
                            idx = (g >> (k * bits)) & mask
                            if idx >= len(palette):
                                return None
                            line.append(palette[idx])
                    unpacked.extend(line[:w])
                px = unpacked
                w_eff = w
            elif t[0] == "subgreen":
                px = [(a, (r + g) & 0xFF, g, (b + g) & 0xFF)
                      for a, r, g, b in px]
            elif t[0] == "predictor":
                px = _vp8l_inverse_predictor(px, t[4], h, t[1], t[3],
                                             t[2])
            elif t[0] == "crosscolor":
                px = _vp8l_inverse_crosscolor(px, t[4], h, t[1], t[3],
                                              t[2])
        if rgba:
            return np.array([(r, g, b, a) for a, r, g, b in px],
                            np.uint8).reshape(h, w, 4)
        arr = np.array([(r, g, b) for a, r, g, b in px],
                       np.uint8).reshape(h, w, 3)
        return arr
    except Exception:
        return None  # tolerant parse (ST8): undecodable → None


def _emit_uniform_subimage(bw, px) -> None:
    """Emit a subresolution (transform tile) image whose pixels are
    ALL ``px``: no cache, five simple 1-symbol prefix codes in read
    order (green, red, blue, alpha, distance) — every pixel then costs
    zero bits, so one emission covers any tile-grid size."""
    bw.put(0, 1)  # no color cache
    for v in (px[2], px[1], px[3], px[0], 0):
        bw.put(1, 1)  # simple code
        bw.put(0, 1)  # one symbol
        bw.put(1, 1)  # first symbol in 8 bits
        bw.put(v, 8)


def _forward_predictor(px, w, h, mode):
    """Forward predictor transform (the encoder side): residual =
    (pixel - predicted) mod 256 per channel, same border rules as the
    inverse; neighbors come from the ORIGINAL pixels (the decoder
    reconstructs them exactly — losslessness)."""
    out = []
    for y in range(h):
        base = y * w
        for x in range(w):
            cur = px[base + x]
            if x == 0 and y == 0:
                pred = (255, 0, 0, 0)
            elif y == 0:
                pred = px[base + x - 1]
            elif x == 0:
                pred = px[base + x - w]
            else:
                i = base + x
                left, top, tl = px[i - 1], px[i - w], px[i - w - 1]
                tr = px[i - w + 1] if x + 1 < w else px[base]
                pred = _vp8l_predict(mode, left, top, tl, tr)
            out.append(tuple((cur[c] - pred[c]) & 0xFF for c in range(4)))
    return out


def _forward_crosscolor(px, g2r, g2b, r2b):
    """Forward cross-color: subtract the deltas the inverse adds; the
    red_to_blue term uses the ORIGINAL red (what the inverse recovers
    before it touches blue)."""
    out = []
    for a, r, g, b in px:
        tr_ = (r - _ct_delta(g2r, g)) & 0xFF
        tb_ = (b - _ct_delta(g2b, g) - _ct_delta(r2b, r)) & 0xFF
        out.append((a, tr_, g, tb_))
    return out


def encode_webp_lossless(rgb, predictor_mode: int | None = None,
                         cross_color: tuple | None = None,
                         transform_bits: int = 9) -> bytes:
    """Minimal LEGAL VP8L encoder (stdlib): literal-only stream, no
    color cache, SIMPLE prefix codes — which constrains
    each channel to ≤2 distinct values AFTER transforms (the fixture
    regime; a solid or
    two-tone image costs ≤1 bit/channel/pixel). ``predictor_mode``
    emits a predictor transform with that single mode in every tile;
    ``cross_color=(g2r, g2b, r2b)`` (uint8 two's-complement deltas)
    emits a cross-color transform — both use ``transform_bits``-sized
    tiles (default 512px: one tile for fixture-scale images, a uniform
    multi-tile grid beyond). Transform order predictor-then-cross-color
    in the stream, so the decoder inverts cross-color first. Fixture
    builder for the
    WebP gate; richer decoder paths (normal codes, LZ77, cache,
    palette) are exercised by hand-built streams in pytest."""
    import numpy as np
    a = np.asarray(rgb, dtype=np.uint8)
    h, w, _ = a.shape
    bw = _VP8LBitWriter()
    bw.put(0x2F, 8)
    bw.put(w - 1, 14)
    bw.put(h - 1, 14)
    bw.put(0, 1)  # alpha unused
    bw.put(0, 3)  # version
    px = [(255, int(a[y, x, 0]), int(a[y, x, 1]), int(a[y, x, 2]))
          for y in range(h) for x in range(w)]
    if predictor_mode is not None:
        bw.put(1, 1)
        bw.put(0, 2)  # transform type 0: predictor
        bw.put(transform_bits - 2, 3)
        _emit_uniform_subimage(bw, (0, 0, predictor_mode, 0))
        px = _forward_predictor(px, w, h, predictor_mode)
    if cross_color is not None:
        g2r, g2b, r2b = cross_color
        bw.put(1, 1)
        bw.put(1, 2)  # transform type 1: cross-color
        bw.put(transform_bits - 2, 3)
        # tile pixel packs (red=r2b, green=g2b, blue=g2r)
        _emit_uniform_subimage(bw, (0, r2b, g2b, g2r))
        px = _forward_crosscolor(px, g2r, g2b, r2b)
    bw.put(0, 1)  # no more transforms
    bw.put(0, 1)  # no color cache
    bw.put(0, 1)  # no meta prefix codes
    chans = [sorted({p[c] for p in px})
             for c in (2, 1, 3, 0)]  # green, red, blue, alpha read order
    for vals in chans:
        if len(vals) > 2:
            raise ValueError("simple-code encoder: ≤2 distinct values "
                             "per channel required")
    codes = []
    for vals in chans + [[0]]:         # + distance
        bw.put(1, 1)                   # simple code
        bw.put(len(vals) - 1, 1)
        bw.put(1, 1)                   # first symbol in 8 bits
        bw.put(vals[0], 8)
        if len(vals) == 2:
            bw.put(vals[1], 8)
        codes.append({v: i for i, v in enumerate(vals)})
    gmap, rmap, bmap, amap = codes[0], codes[1], codes[2], codes[3]
    for p in px:
        if len(gmap) == 2:
            bw.put(gmap[p[2]], 1)
        if len(rmap) == 2:
            bw.put(rmap[p[1]], 1)
        if len(bmap) == 2:
            bw.put(bmap[p[3]], 1)
        if len(amap) == 2:
            bw.put(amap[p[0]], 1)
    stream = bw.bytes()
    chunk = b"VP8L" + len(stream).to_bytes(4, "little") + stream
    if len(stream) & 1:
        chunk += b"\x00"
    return b"RIFF" + (4 + len(chunk)).to_bytes(4, "little") + b"WEBP" + chunk


def webp_frame_info(payload: bytes) -> dict | None:
    """Animated-WebP structural frame walk: the ``gif_frame_count``
    analog for the VP8X/ANIM/ANMF chunk chain. Counts ANMF chunks and
    reads each frame's 24-bit duration WITHOUT decoding any frame
    bitstream (frame raster decode is the documented seam behind the
    VP8L transform work). Returns ``{n_frames, durations_ms,
    total_duration_ms, loop_count}`` or None when the payload is not
    an ANIMATION-flagged VP8X WebP. Tolerant — truncated chunk chains
    yield the frames walked so far; never raises."""
    p = bytes(payload or b"")
    if len(p) < 30 or p[:4] != b"RIFF" or p[8:12] != b"WEBP":
        return None
    if p[12:16] != b"VP8X" or not (p[20] & 0x02):  # ANIMATION flag
        return None
    try:
        durations: list[int] = []
        loop = None
        pos = 12
        while pos + 8 <= len(p):
            four = p[pos:pos + 4]
            ln = int.from_bytes(p[pos + 4:pos + 8], "little")
            body = p[pos + 8:pos + 8 + ln]
            if four == b"ANIM" and len(body) >= 6:
                loop = int.from_bytes(body[4:6], "little")
            elif four == b"ANMF" and len(body) >= 16:
                # x/2, y/2, w-1, h-1 (24-bit each), then duration
                durations.append(int.from_bytes(body[12:15], "little"))
            pos += 8 + ln + (ln & 1)
        if not durations:
            return None
        return {"n_frames": len(durations), "durations_ms": durations,
                "total_duration_ms": sum(durations),
                "loop_count": loop}
    except Exception:
        return None


def webp_frame_count(payload: bytes) -> int | None:
    """Structural frame count for animated WebP (None otherwise) —
    ``decode_stub``'s n_frames source, mirroring ``gif_frame_count``."""
    info = webp_frame_info(payload)
    return info["n_frames"] if info else None


def decode_webp_frames(payload: bytes, max_frames: int = 64):
    """Animated-WebP RASTER decode: composite each ANMF frame onto the
    canvas and return the list of (h, w, 3) uint8 RGB canvases — the
    ``decode_gif_frames`` analog, unlocked by the full VP8L transform
    decoder. Spec semantics (WebP container spec / libwebp demux):
    frame offsets are stored /2 (so always even), the flags byte's
    bit0 is disposal (1 = dispose to background color) and bit1 is
    blending (1 = do NOT blend, replace; 0 = straight-alpha blend),
    the canvas initializes to the ANIM chunk's BGRA background color,
    and disposal fills only the frame's rect. Alpha planes come from
    ``decode_webp(rgba=True)``; the emitted canvases drop alpha (the
    channel-sum/dHash currency is RGB, matching the GIF path).
    Tolerant: None when not an ANIMATION VP8X file or the first frame
    fails; a mid-chain bad frame ends the list (frames so far)."""
    import numpy as np
    p = bytes(payload or b"")
    if len(p) < 30 or p[:4] != b"RIFF" or p[8:12] != b"WEBP":
        return None
    if p[12:16] != b"VP8X" or not (p[20] & 0x02):
        return None
    try:
        cw = int.from_bytes(p[24:27], "little") + 1
        ch = int.from_bytes(p[27:30], "little") + 1
        if cw * ch > 4_194_304:  # same hostile-dimension cap as decode_webp
            return None
        bg = (0, 0, 0, 0)
        canvas = None
        frames: list = []
        pos = 12
        while pos + 8 <= len(p) and len(frames) < max_frames:
            four = p[pos:pos + 4]
            ln = int.from_bytes(p[pos + 4:pos + 8], "little")
            body = p[pos + 8:pos + 8 + ln]
            if four == b"ANIM" and len(body) >= 6:
                b_, g_, r_, a_ = body[0], body[1], body[2], body[3]
                bg = (r_, g_, b_, a_)
                canvas = np.zeros((ch, cw, 4), np.uint8)
                canvas[:, :] = bg
            elif four == b"ANMF" and len(body) >= 16:
                if canvas is None:  # ANMF before ANIM: structurally bad
                    break
                fx = int.from_bytes(body[0:3], "little") * 2
                fy = int.from_bytes(body[3:6], "little") * 2
                fw = int.from_bytes(body[6:9], "little") + 1
                fh = int.from_bytes(body[9:12], "little") + 1
                flags = body[15]
                sub = (b"RIFF" + (4 + len(body) - 16).to_bytes(4, "little")
                       + b"WEBP" + body[16:])
                fr = decode_webp(sub, rgba=True)
                if fr is None or fr.shape[:2] != (fh, fw) \
                        or fy + fh > ch or fx + fw > cw:
                    break
                dst = canvas[fy:fy + fh, fx:fx + fw]
                if flags & 0x02:  # do-not-blend: replace the rect
                    dst[:, :] = fr
                else:             # straight-alpha blend over dst
                    sa = fr[:, :, 3:4].astype(np.float64) / 255.0
                    da = dst[:, :, 3:4].astype(np.float64) / 255.0
                    oa = sa + da * (1.0 - sa)
                    safe = np.where(oa == 0.0, 1.0, oa)
                    rgb = (fr[:, :, :3] * sa
                           + dst[:, :, :3] * da * (1.0 - sa)) / safe
                    dst[:, :, :3] = np.rint(rgb).astype(np.uint8)
                    dst[:, :, 3] = np.rint(oa[:, :, 0] * 255.0) \
                        .astype(np.uint8)
                frames.append(canvas[:, :, :3].copy())
                if flags & 0x01:  # dispose to background color
                    canvas[fy:fy + fh, fx:fx + fw] = bg
            pos += 8 + ln + (ln & 1)
        return frames or None
    except Exception:
        return None  # tolerant parse (ST8)


def webp_frames(df: DataFrame, id_col: str = "url",
                payload_col: str = "payload",
                max_frames: int = 64) -> DataFrame:
    """Animated-WebP payloads → ONE ROW PER COMPOSITED FRAME, the
    ``gif_frames`` twin (same schema, same pure-map shape: the frame
    explode happens inside the Arrow kernel — zero Exchange, one input
    row → n_frames output rows). ``n_frames`` is the TRUE structural
    ANMF count even when rows are capped at ``max_frames`` (the
    no-silent-cap contract), so ``frame_sample_plan`` sees the real
    total for both animated formats. Undecodable payloads come back as
    one ``decode_ok=false`` row (ST8 policy)."""
    return _frame_rows(df, id_col, payload_col, max_frames,
                       decode_webp_frames, webp_frame_count)


def encode_webp_animated(frames, durations_ms, loop_count: int = 0,
                         canvas=None, offsets=None, flags=None,
                         bgcolor=(0, 0, 0, 0)) -> bytes:
    """Minimal legal ANIMATED WebP: VP8X (ANIMATION flag, canvas dims)
    + ANIM + one ANMF per frame, each embedding a real VP8L bitstream
    from ``encode_webp_lossless`` (same ≤2-values-per-channel fixture
    regime). ``canvas=(w, h)`` overrides the canvas size; ``offsets``
    is a per-frame (x, y) list (even values — the container stores
    them /2); ``flags`` a per-frame byte list (bit0 dispose-to-
    background, bit1 do-not-blend); ``bgcolor`` the ANIM background
    as RGBA (stored BGRA)."""
    import numpy as np
    anmf_chunks = b""
    fw = fh = 0
    for i, (rgb, dur) in enumerate(zip(frames, durations_ms)):
        a = np.asarray(rgb, dtype=np.uint8)
        fh, fw = a.shape[:2]
        fx, fy = offsets[i] if offsets is not None else (0, 0)
        fl = flags[i] if flags is not None else 0
        inner = encode_webp_lossless(a)[12:]  # strip RIFF....WEBP
        body = ((fx // 2).to_bytes(3, "little")
                + (fy // 2).to_bytes(3, "little")
                + (fw - 1).to_bytes(3, "little")
                + (fh - 1).to_bytes(3, "little")
                + int(dur).to_bytes(3, "little")
                + bytes([fl])
                + inner)
        anmf_chunks += b"ANMF" + len(body).to_bytes(4, "little") + body
        if len(body) & 1:
            anmf_chunks += b"\x00"
    cw, ch = canvas if canvas is not None else (fw, fh)
    vp8x = (b"VP8X" + (10).to_bytes(4, "little") + b"\x02\x00\x00\x00"
            + (cw - 1).to_bytes(3, "little") + (ch - 1).to_bytes(3, "little"))
    r_, g_, b_, a_ = bgcolor
    anim = (b"ANIM" + (6).to_bytes(4, "little")
            + bytes([b_, g_, r_, a_])
            + int(loop_count).to_bytes(2, "little"))
    payload = vp8x + anim + anmf_chunks
    return (b"RIFF" + (4 + len(payload)).to_bytes(4, "little") + b"WEBP"
            + payload)


def pixel_features(arr) -> list[float]:
    """REAL pixel statistics (16 dims, all in [0,1]-ish):
    [mean_c0..c3, std_c0..c3 (missing channels 0), overall mean, overall
    std, min, max, mean |row gradient|, mean |col gradient|, h/4096,
    w/4096]. Deterministic float64 math; the Arrow boundary narrows to
    float32 (FEATURES_DDL)."""
    import numpy as np
    a = np.asarray(arr, dtype=np.float64) / 255.0
    h, w, c = a.shape
    means = [float(a[:, :, j].mean()) for j in range(c)] + [0.0] * (4 - c)
    stds = [float(a[:, :, j].std()) for j in range(c)] + [0.0] * (4 - c)
    grad_r = float(np.abs(np.diff(a, axis=0)).mean()) if h > 1 else 0.0
    grad_c = float(np.abs(np.diff(a, axis=1)).mean()) if w > 1 else 0.0
    return (means + stds
            + [float(a.mean()), float(a.std()), float(a.min()), float(a.max()),
               grad_r, grad_c, h / 4096.0, w / 4096.0])


def header_features(width: int, height: int, channels: int) -> list[float]:
    """Placeholder feature kernel over the REAL parsed dimensions.

    Pixel statistics need a raster decode this container can't do, so the
    vector is a deterministic function of (width, height, channels) — the
    documented seam where a production deploy plugs Pillow/ffmpeg in.
    """
    return [((width * (i + 3) + height * (i + 7) + channels * (i + 1)) % 255)
            / 255.0 for i in range(N_FEATURES)]


def decode_stub(payload: bytes, fake: bool = False) -> dict:
    """Header-real decode, raster-real for PNG / baseline AND
    progressive JPEG / GIF / WebP-lossless: a
    payload with a decodable raster gets TRUE pixel statistics
    (``decode_raster`` → ``pixel_features``); header-only or
    undecodable images (lossy-VP8 WebP, arithmetic/12-bit JPEG) fall
    back to header-derived
    features; otherwise the deterministic fake (``fake=True``) or
    ``NotImplementedError`` (video sample decode and non-PCM audio
    codecs still need ffmpeg — the remaining seam; PCM WAV resampling
    itself is real, see ``resample_pcm``)."""
    hdr = parse_image_header(payload)
    if hdr is not None:
        # real frame count for animated GIFs AND animated WebPs
        # (structural walks, no bitstream decode); single-frame formats
        # report 1 as before
        nf = gif_frame_count(payload) or webp_frame_count(payload) or 1
        raster = decode_raster(payload)
        if raster is not None:
            h, w, c = raster.shape
            return {"width": w, "height": h, "channels": c,
                    "n_frames": nf, "feature": pixel_features(raster)}
        return {"width": hdr["width"], "height": hdr["height"],
                "channels": hdr["channels"], "n_frames": nf,
                "feature": header_features(hdr["width"], hdr["height"],
                                           hdr["channels"])}
    wav = parse_wav_header(payload)
    if wav is not None:
        return {"width": None, "height": None,
                "channels": wav["channels"], "n_frames": 1,
                "feature": header_features(wav["sample_rate"] % 65536,
                                           wav["duration_ms"] or 0,
                                           wav["channels"])}
    mp4 = parse_mp4_header(payload)
    if mp4 is not None and mp4["width"]:
        # real container metadata; sample decode is the documented seam
        return {"width": mp4["width"], "height": mp4["height"],
                "channels": 3, "n_frames": 1,
                "feature": header_features(mp4["width"], mp4["height"], 3)}
    if fake:
        return _fake_decode(payload)
    raise NotImplementedError(
        "payload is not a PNG/JPEG/GIF/WebP; full media decode requires "
        "Pillow/ffmpeg (not in this container); pass fake=True for the "
        "deterministic stand-in")


def extract_media_features(df: DataFrame, payload_col: str = "payload",
                           fake: bool = True) -> DataFrame:
    """binary payloads → per-item features via Arrow-batched mapInPandas.

    Input: (url STRING, payload BINARY, media_type STRING). Pure map —
    inherits partitioning; per-executor memory is bounded by the Arrow
    batch size times max payload size, so callers feeding video should
    lower ``spark.sql.execution.arrow.maxRecordsPerBatch``.
    """
    def run(batches: Iterable) -> Iterator:
        import pandas as pd
        for pdf in batches:
            out = []
            for url, payload, mtype in zip(pdf["url"], pdf["payload"],
                                           pdf["media_type"]):
                try:
                    r = decode_stub(bytes(payload) if payload is not None else b"",
                                    fake=fake)
                    out.append((url, mtype, r["width"], r["height"],
                                r["channels"], r["n_frames"],
                                r["feature"], True, None))
                except Exception as e:  # tolerant parse, ST8 analog
                    out.append((url, mtype, None, None, None, None,
                                None, False, str(e)[:200]))
            yield pd.DataFrame(out, columns=[
                "url", "media_type", "width", "height", "channels",
                "n_frames", "feature", "decode_ok", "error"])

    return df.select("url", payload_col, "media_type") \
             .withColumnRenamed(payload_col, "payload") \
             .mapInPandas(run, schema=FEATURES_DDL)


def dhash64_raster(arr) -> int:
    """64-bit difference hash (dHash) of an (h, w, c) uint8 raster —
    the standard perceptual image fingerprint (public algorithm:
    luma → 8×9 block means → horizontal-gradient sign bits). All
    integer math (floor-divide luma, floor block boundaries, integer
    block means) so the hash is bit-reproducible everywhere. Returns a
    SIGNED 64-bit int (two's complement) to match Spark's bigint."""
    import numpy as np
    a = np.asarray(arr, dtype=np.int64)
    h, w = a.shape[0], a.shape[1]
    if a.ndim == 2:
        a = a[:, :, None]
    if a.shape[2] >= 3:
        luma = (299 * a[:, :, 0] + 587 * a[:, :, 1] + 114 * a[:, :, 2]) // 1000
    else:
        luma = a[:, :, 0]
    ys = [(r * h) // 8 for r in range(9)]
    xs = [(c * w) // 9 for c in range(10)]
    means = np.zeros((8, 9), dtype=np.int64)
    for r in range(8):
        y0, y1 = ys[r], max(ys[r + 1], ys[r] + 1)
        for c in range(9):
            x0, x1 = xs[c], max(xs[c + 1], xs[c] + 1)
            blk = luma[min(y0, h - 1):min(y1, h), min(x0, w - 1):min(x1, w)]
            means[r, c] = int(blk.sum()) // max(blk.size, 1)
    bits = 0
    for r in range(8):
        for c in range(8):
            if means[r, c] > means[r, c + 1]:
                bits |= 1 << (r * 8 + c)
    return bits - (1 << 64) if bits >= (1 << 63) else bits


def decode_raster(payload: bytes):
    """Format-dispatched REAL raster decode: PNG (``decode_png``),
    baseline + progressive JPEG (``decode_jpeg``), GIF
    (``decode_gif``), or
    WebP-lossless (``decode_webp``, full VP8L incl. 2-D distance
    codes) → (h, w, c) uint8; None for anything else (lossy VP8 — the
    recorded r8 kill — falls back to the header/quality-meta path)."""
    p = bytes(payload or b"")
    if p[:8] == b"\x89PNG\r\n\x1a\n":
        return decode_png(p)
    if p[:2] == b"\xff\xd8":
        return decode_jpeg(p)
    if p[:6] in (b"GIF87a", b"GIF89a"):
        return decode_gif(p)
    if p[:4] == b"RIFF" and p[8:12] == b"WEBP":
        return decode_webp(p)
    return None


def image_dhash(df: DataFrame, id_col: str = "url",
                payload_col: str = "payload") -> DataFrame:
    """PNG/JPEG/GIF/WebP payloads → perceptual dHash: ``(id, dhash, decode_ok)``
    via one Arrow-batched ``mapInPandas`` (pure map — inherits
    partitioning, zero Exchange). Non-decodable payloads come back with
    ``decode_ok=false`` and a NULL hash rather than vanishing (ST8
    policy). Feed the result to ``image_near_dup`` for banded pairing."""
    def run(batches: Iterable) -> Iterator:
        import pandas as pd
        for pdf in batches:
            out = []
            for key, payload in zip(pdf[id_col], pdf[payload_col]):
                arr = decode_raster(payload)
                if arr is None:
                    out.append((key, None, False))
                else:
                    out.append((key, dhash64_raster(arr), True))
            yield pd.DataFrame(out, columns=[id_col, "dhash", "decode_ok"])

    return df.select(id_col, payload_col).mapInPandas(
        run, schema=f"{id_col} string, dhash bigint, decode_ok boolean")


def image_near_dup(hashed: DataFrame, id_col: str = "url",
                   hash_col: str = "dhash", max_hamming: int = 4,
                   n_bands: int = 8, max_bucket: int = 200) -> DataFrame:
    """Near-duplicate image pairs from dHashes — the SimHash banded
    pigeonhole pairing (``dedupe._hamming_pairs``): with ``n_bands``
    disjoint bit slices, any pair within ``max_hamming < n_bands`` bits
    shares at least one identical band (full recall), so candidates come
    from one guarded aggregation per (band, bits) bucket, then exact
    ``hamming64`` verification. Never compares across buckets."""
    from .dedupe import _hamming_pairs

    if max_hamming >= n_bands:
        raise ValueError(
            f"max_hamming={max_hamming} >= n_bands={n_bands}: the banded "
            "pigeonhole only guarantees full recall below n_bands differing "
            "bits — raise n_bands (or lower max_hamming)")
    base = hashed.filter(F.col(hash_col).isNotNull()).select(
        F.col(id_col).alias("_id"), F.col(hash_col).alias("_sh"))
    return _hamming_pairs(base, max_hamming, n_bands, max_bucket)


def frame_sample_plan(df: DataFrame, every_n: int = 2) -> DataFrame:
    """Video frame-sampling as a plan: explode frame indices (metadata-only
    here; a real decoder would emit one row per sampled frame's pixels)."""
    return (df.withColumn("frame_idx",
                          F.explode(F.sequence(F.lit(0), F.col("n_frames") - 1)))
            .filter(F.pmod(F.col("frame_idx"), F.lit(every_n)) == 0))
