"""Image codecs + fidelity metrics (pure numpy + stdlib zlib).

The north rule requires raster tiles whose decoded pixels round-trip at
PSNR >= 40 dB with caption equality.  PIL is not available in this container,
so:

* PNG: a real, spec-compliant codec (RFC 2083): encode RGB8 with filter 0,
  decode any of filters 0-4, zlib-compressed IDAT.  Lossless — PSNR = inf.
* "JPEG": a clearly-marked deterministic STAND-IN (PIL absent): 6-bit/channel
  quantization + zlib, magic ``FJPG``.  Quantization step 4 gives
  MSE ~= (4^2-1)/12 -> PSNR ~= 47 dB > 40 dB, deterministically.
  The Spark-side plumbing (binary columns, batch shapes, tile assembly) is
  identical to what a real JPEG codec would use.
* PSNR + 64-bit FNV-1a perceptual-hash stand-in (FIXTURES.md §1).
* Deterministic per-row RGB test pattern generator (seeded, no wall clock).
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

# ------------------------------------------------------------------ PNG

_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _chunk(tag: bytes, data: bytes) -> bytes:
    return (struct.pack(">I", len(data)) + tag + data
            + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF))


def png_encode(img: np.ndarray) -> bytes:
    """RGB8 (h, w, 3) uint8 -> PNG bytes (color type 2, bit depth 8, filter 0)."""
    img = np.ascontiguousarray(img, dtype=np.uint8)
    h, w, c = img.shape
    assert c == 3, "RGB only"
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    raw = np.empty((h, 1 + w * 3), dtype=np.uint8)
    raw[:, 0] = 0  # filter type 0 per scanline
    raw[:, 1:] = img.reshape(h, w * 3)
    idat = zlib.compress(raw.tobytes(), 6)
    return _PNG_SIG + _chunk(b"IHDR", ihdr) + _chunk(b"IDAT", idat) + _chunk(b"IEND", b"")


def png_decode(data: bytes) -> np.ndarray:
    """PNG bytes -> RGB8 (h, w, 3).  Supports color type 2, bit depth 8,
    filters 0-4, single IDAT stream (possibly split into chunks)."""
    assert data[:8] == _PNG_SIG, "not a PNG"
    off = 8
    w = h = None
    idat = bytearray()
    while off < len(data):
        ln, tag = struct.unpack_from(">I4s", data, off)
        payload = data[off + 8: off + 8 + ln]
        if tag == b"IHDR":
            w, h, depth, ctype = struct.unpack_from(">IIBB", payload)
            if depth != 8 or ctype != 2:
                raise NotImplementedError("only 8-bit RGB PNG supported")
        elif tag == b"IDAT":
            idat += payload
        elif tag == b"IEND":
            break
        off += 12 + ln
    raw = np.frombuffer(zlib.decompress(bytes(idat)), dtype=np.uint8)
    stride = 1 + w * 3
    raw = raw.reshape(h, stride)
    out = np.zeros((h, w * 3), dtype=np.uint8)
    for row in range(h):
        ft = raw[row, 0]
        line = raw[row, 1:].astype(np.int32)
        prev = out[row - 1].astype(np.int32) if row else np.zeros(w * 3, np.int32)
        if ft == 0:
            cur = line
        elif ft == 2:  # Up
            cur = (line + prev) & 0xFF
        elif ft in (1, 3, 4):
            cur = np.zeros(w * 3, np.int32)
            for i in range(w * 3):
                a = cur[i - 3] if i >= 3 else 0
                b = prev[i]
                if ft == 1:
                    cur[i] = (line[i] + a) & 0xFF
                elif ft == 3:
                    cur[i] = (line[i] + ((a + b) >> 1)) & 0xFF
                else:
                    cc = prev[i - 3] if i >= 3 else 0
                    p = a + b - cc
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - cc)
                    pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else cc)
                    cur[i] = (line[i] + pred) & 0xFF
        else:
            raise ValueError(f"bad filter {ft}")
        out[row] = cur.astype(np.uint8)
    return out.reshape(h, w, 3)


# ------------------------------------------------------------ "JPEG" stand-in

_FJPG_MAGIC = b"FJPG"
_Q_STEP = 4  # 6 bits/channel -> PSNR ~47 dB


def jpeg_encode(img: np.ndarray) -> bytes:
    """Deterministic lossy stand-in codec (PIL absent — see module docstring)."""
    img = np.ascontiguousarray(img, dtype=np.uint8)
    h, w, _ = img.shape
    q = (img.astype(np.uint16) // _Q_STEP).astype(np.uint8)
    return _FJPG_MAGIC + struct.pack("<HH", w, h) + zlib.compress(q.tobytes(), 6)


def jpeg_decode(data: bytes) -> np.ndarray:
    assert data[:4] == _FJPG_MAGIC, "not an FJPG payload"
    w, h = struct.unpack_from("<HH", data, 4)
    q = np.frombuffer(zlib.decompress(data[8:]), dtype=np.uint8).reshape(h, w, 3)
    # dequantize to bin centers
    return np.minimum(q.astype(np.uint16) * _Q_STEP + _Q_STEP // 2, 255).astype(np.uint8)


# ------------------------------------------------------------------ dispatch

def encode(img: np.ndarray, fmt: str) -> bytes:
    if fmt == "png":
        return png_encode(img)
    if fmt in ("jpeg", "jpg"):
        return jpeg_encode(img)
    raise NotImplementedError(f"unsupported format {fmt!r} (no PIL in container)")


def decode(data: bytes, fmt: str | None = None) -> np.ndarray:
    if data[:8] == _PNG_SIG:
        return png_decode(data)
    if data[:4] == _FJPG_MAGIC:
        return jpeg_decode(data)
    raise NotImplementedError("unrecognized image payload (no PIL in container)")


# ------------------------------------------------------------------ metrics

def psnr(a: np.ndarray, b: np.ndarray) -> float:
    """Peak signal-to-noise ratio in dB; inf for identical images."""
    a = a.astype(np.float64)
    b = b.astype(np.float64)
    mse = float(((a - b) ** 2).mean())
    if mse == 0:
        return float("inf")
    return 10.0 * np.log10(255.0 ** 2 / mse)


def fnv1a64(data: bytes) -> int:
    """64-bit FNV-1a, used as the deterministic phash stand-in (FIXTURES.md §1).
    Returned as signed int64 for Spark LongType compatibility."""
    h = np.uint64(0xCBF29CE484222325)
    prime = np.uint64(0x100000001B3)
    arr = np.frombuffer(data, dtype=np.uint8).astype(np.uint64)
    with np.errstate(over="ignore"):
        for byte in arr:
            h = (h ^ byte) * prime
    return int(h.astype(np.int64))


def quick_phash(img: np.ndarray) -> int:
    """Cheap deterministic 64-bit content hash of decoded pixels: average-hash
    over an 8x8 downsample (a real perceptual-hash construction)."""
    h, w, _ = img.shape
    ys = (np.arange(8) * h // 8)
    xs = (np.arange(8) * w // 8)
    patch = img[ys][:, xs].mean(axis=2)
    bits = (patch > patch.mean()).ravel()
    val = np.uint64(0)
    for i, b in enumerate(bits):
        if b:
            val |= np.uint64(1) << np.uint64(i)
    return int(val.astype(np.int64))


# ------------------------------------------------------------ test patterns

def synth_image(i: int, w: int, h: int) -> np.ndarray:
    """Deterministic RGB pattern for row i (FIXTURES.md §1: gradient +
    hash-derived noise), independent of wall clock."""
    yy, xx = np.mgrid[0:h, 0:w]
    base = np.empty((h, w, 3), dtype=np.uint8)
    base[..., 0] = ((xx * 255) // max(w - 1, 1)).astype(np.uint8)
    base[..., 1] = ((yy * 255) // max(h - 1, 1)).astype(np.uint8)
    base[..., 2] = np.uint8(i * 37 % 256)
    rng = np.random.RandomState(42 + i % 100003)
    noise = rng.randint(0, 32, size=(h, w, 3)).astype(np.uint8)
    return (base.astype(np.uint16) + noise).clip(0, 255).astype(np.uint8)


# ------------------------------------------------------------------ audio

_RIFF = b"RIFF"
_WAVE = b"WAVE"


def encode_wav(samples: np.ndarray, rate: int) -> bytes:
    """PCM16 RIFF/WAVE writer (canonical 44-byte header), pure stdlib.

    ``samples``: int16 (n,) mono or (n, ch).  The audio counterpart of the
    PNG path — a REAL container format, parsed back by :func:`decode_wav`.
    """
    import struct
    s = np.asarray(samples, dtype=np.int16)
    if s.ndim == 1:
        s = s[:, None]
    n, ch = s.shape
    data = s.astype("<i2").tobytes()
    byte_rate = rate * ch * 2
    hdr = struct.pack("<4sI4s4sIHHIIHH4sI", _RIFF, 36 + len(data), _WAVE,
                      b"fmt ", 16, 1, ch, rate, byte_rate, ch * 2, 16,
                      b"data", len(data))
    return hdr + data


def decode_wav(blob: bytes) -> tuple[int, np.ndarray]:
    """RIFF/WAVE reader -> (rate, int16 samples (n, ch)).

    Walks the chunk list (not just the canonical layout), PCM16 only —
    compressed WAVE (ADPCM/float/mp3-in-wav) raises NotImplementedError,
    the same honest stub-gating as the image codecs."""
    import struct
    if len(blob) < 12 or blob[:4] != _RIFF or blob[8:12] != _WAVE:
        raise ValueError("not a RIFF/WAVE payload")
    pos = 12
    fmt = None
    data = None
    while pos + 8 <= len(blob):
        cid, size = struct.unpack_from("<4sI", blob, pos)
        body = blob[pos + 8:pos + 8 + size]
        if cid == b"fmt ":
            fmt = struct.unpack_from("<HHIIHH", body, 0)
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)
    if fmt is None or data is None:
        raise ValueError("WAVE missing fmt/data chunk")
    audio_fmt, ch, rate, _br, _ba, bits = fmt
    if audio_fmt != 1 or bits != 16:
        raise NotImplementedError(
            f"only PCM16 WAVE is decodable here (fmt={audio_fmt}, bits={bits})")
    s = np.frombuffer(data, dtype="<i2")
    if ch > 1:
        s = s[: len(s) - len(s) % ch].reshape(-1, ch)
    else:
        s = s[:, None]
    return rate, s


def synth_audio(i: int, rate: int = 8000, seconds: float = 0.5) -> tuple[bytes, float]:
    """Deterministic test tone for row i: sine at a row-derived frequency +
    low noise, PCM16 WAV bytes.  Returns (bytes, planted_freq_hz)."""
    freq = 200.0 + (i % 40) * 37.0
    t = np.arange(int(rate * seconds)) / rate
    rng = np.random.RandomState(1000 + i % 99991)
    wave = 0.7 * np.sin(2 * np.pi * freq * t) + 0.02 * rng.standard_normal(len(t))
    pcm = np.clip(wave * 32767, -32768, 32767).astype(np.int16)
    return encode_wav(pcm, rate), freq
