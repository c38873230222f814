"""Lossless image/audio/video codecs with zero external dependencies
(Python stdlib + numpy):

* **BMP** — 24/32-bit uncompressed BITMAPINFOHEADER, bottom-up and
  top-down rows (struct + numpy).
* **PNG** — 8-bit gray / gray+alpha / RGB / RGBA / palette,
  non-interlaced, all five scanline filters (zlib + numpy; Sub is a
  vectorized per-lane cumsum, Average/Paeth are per-pixel within a row
  — fine at thumbnail sizes, and the honest cost of a pure-Python
  decoder; production swaps in a C codec behind the same sniff).
* **WAV** — PCM 8/16/32-bit via the stdlib `wave` module, mixed to
  mono float64 in [-1, 1].
* **AVI** — RIFF container with uncompressed 24-bit DIB ('00db')
  video frames (struct + numpy): the classic "raw video" AVI that
  needs no codec at all, only container parsing. Frame pixel data is
  the same bottom-up padded BGR layout as BMP.

Encoders for the same formats exist so tests can produce real payloads
deterministically (no external data). `sniff` still names JPEG by its
magic bytes, but nothing here decodes it; compressed AVI streams
(MJPG, H.264) raise ValueError.

No workload, registry entry or bench arm reads this module; it is kept
only until its tests can be deleted with it (ROADMAP item 6).
"""

from __future__ import annotations

import io
import functools
import struct
import wave
import zlib

import numpy as np

# ------------------------------------------------------------------ sniffing --

_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def sniff(data: bytes) -> str | None:
    """'bmp' | 'png' | 'jpeg' | 'wav' | 'avi' | None from magic bytes."""
    if data[:2] == b"BM":
        return "bmp"
    if data[:8] == _PNG_SIG:
        return "png"
    if data[:3] == b"\xff\xd8\xff":
        return "jpeg"
    if data[:4] == b"RIFF" and data[8:12] == b"WAVE":
        return "wav"
    if data[:4] == b"RIFF" and data[8:12] == b"AVI ":
        return "avi"
    return None


# ----------------------------------------------------------------------- BMP --

def _malformed_raises_valueerror(fn):
    """Truncated/garbage payloads fail mid-parse with struct.error,
    zlib.error, or IndexError depending on where the bytes run out; the
    decode contract is ValueError for ANY undecodable payload, so
    normalize here."""
    @functools.wraps(fn)
    def wrapper(data, *a, **k):
        try:
            return fn(data, *a, **k)
        except (struct.error, zlib.error, IndexError, EOFError) as e:
            raise ValueError(f"malformed {fn.__name__[7:]} payload: {e}") \
                from e
    return wrapper



@_malformed_raises_valueerror
def decode_bmp(data: bytes) -> np.ndarray:
    """→ (h, w, 3) uint8 RGB. 24/32-bit uncompressed only."""
    if data[:2] != b"BM":
        raise ValueError("not a BMP")
    (pix_off,) = struct.unpack_from("<I", data, 10)
    (hdr_size,) = struct.unpack_from("<I", data, 14)
    if hdr_size < 40:
        raise ValueError(f"unsupported BMP header size {hdr_size}")
    w, h = struct.unpack_from("<ii", data, 18)
    (bpp,) = struct.unpack_from("<H", data, 28)
    (comp,) = struct.unpack_from("<I", data, 30)
    if comp != 0 or bpp not in (24, 32):
        raise ValueError(f"unsupported BMP: bpp={bpp} compression={comp}")
    top_down = h < 0
    h = abs(h)
    nch = bpp // 8
    stride = (w * nch + 3) & ~3
    rows = np.frombuffer(data, dtype=np.uint8, count=stride * h,
                         offset=pix_off).reshape(h, stride)
    px = rows[:, : w * nch].reshape(h, w, nch)
    if not top_down:
        px = px[::-1]
    return px[:, :, 2::-1].copy()  # BGR(A) → RGB, drop alpha


def encode_bmp(arr: np.ndarray) -> bytes:
    """(h, w, 3) uint8 RGB → 24-bit bottom-up BMP bytes."""
    a = np.asarray(arr, dtype=np.uint8)
    h, w, _ = a.shape
    pix = _dib_rows(a)                 # the shared BMP/AVI-DIB layout
    hdr = struct.pack("<2sIHHI", b"BM", 54 + len(pix), 0, 0, 54)
    dib = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(pix),
                      2835, 2835, 0, 0)
    return hdr + dib + pix


# ----------------------------------------------------------------------- PNG --

def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


@_malformed_raises_valueerror
def decode_png(data: bytes) -> np.ndarray:
    """→ (h, w, c) uint8. 8-bit depth, non-interlaced; color types
    0 (gray, c=1), 2 (RGB), 3 (palette → RGB), 4 (gray+alpha), 6 (RGBA)."""
    if data[:8] != _PNG_SIG:
        raise ValueError("not a PNG")
    pos, idat, plte = 8, [], None
    w = h = depth = ctype = interlace = None
    while pos < len(data):
        (ln,) = struct.unpack_from(">I", data, pos)
        ctag = data[pos + 4:pos + 8]
        body = data[pos + 8:pos + 8 + ln]
        pos += 12 + ln
        if ctag == b"IHDR":
            w, h, depth, ctype, _, _, interlace = struct.unpack(
                ">IIBBBBB", body)
        elif ctag == b"PLTE":
            plte = np.frombuffer(body, dtype=np.uint8).reshape(-1, 3)
        elif ctag == b"IDAT":
            idat.append(body)
        elif ctag == b"IEND":
            break
    if depth != 8 or interlace != 0:
        raise ValueError(f"unsupported PNG: depth={depth} interlace={interlace}")
    nch = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}.get(ctype)
    if nch is None:
        raise ValueError(f"unsupported PNG color type {ctype}")
    raw = zlib.decompress(b"".join(idat))
    rb = w * nch                       # bytes per row (after filter byte)
    lines = np.frombuffer(raw, dtype=np.uint8).reshape(h, rb + 1)
    out = np.zeros((h, rb), dtype=np.uint8)
    prev = np.zeros(rb, dtype=np.int64)
    for y in range(h):
        f, row = int(lines[y, 0]), lines[y, 1:].astype(np.int64)
        if f == 0:
            cur = row
        elif f == 1:                    # Sub: per-lane cumsum (left
            # neighbor = previous pixel, same channel); masking once
            # after the int64 cumsum is exact for addition mod 256
            cur = row.reshape(-1, nch).cumsum(axis=0).ravel() & 0xFF
        elif f == 2:                    # Up
            cur = (row + prev) & 0xFF
        elif f == 3:                    # Average
            cur = row.copy()
            for x in range(rb):
                left = cur[x - nch] if x >= nch else 0
                cur[x] = (cur[x] + (left + prev[x]) // 2) & 0xFF
        elif f == 4:                    # Paeth
            cur = row.copy()
            for x in range(rb):
                left = int(cur[x - nch]) if x >= nch else 0
                ul = int(prev[x - nch]) if x >= nch else 0
                cur[x] = (cur[x] + _paeth(left, int(prev[x]), ul)) & 0xFF
        else:
            raise ValueError(f"bad PNG filter {f}")
        out[y] = cur.astype(np.uint8)
        prev = cur.astype(np.int64)
    px = out.reshape(h, w, nch)
    if ctype == 3:
        if plte is None:
            raise ValueError("palette PNG without PLTE")
        px = plte[px[:, :, 0]]
    return px


def encode_png(arr: np.ndarray) -> bytes:
    """(h, w) or (h, w, {1,3,4}) uint8 → PNG bytes (filter 0 rows)."""
    a = np.asarray(arr, dtype=np.uint8)
    if a.ndim == 2:
        a = a[:, :, None]
    h, w, nch = a.shape
    ctype = {1: 0, 3: 2, 4: 6}[nch]
    raw = np.concatenate(
        [np.zeros((h, 1), dtype=np.uint8), a.reshape(h, w * nch)],
        axis=1).tobytes()

    def chunk(tag: bytes, body: bytes) -> bytes:
        return (struct.pack(">I", len(body)) + tag + body
                + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF))

    ihdr = struct.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, 0)
    return (_PNG_SIG + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(raw))
            + chunk(b"IEND", b""))


# ----------------------------------------------------------------------- AVI --

def _dib_rows(frame: np.ndarray) -> bytes:
    """(h, w, 3) uint8 RGB → bottom-up padded BGR pixel rows (the shared
    BMP/AVI-DIB layout)."""
    h, w, _ = frame.shape
    stride = (w * 3 + 3) & ~3
    rows = np.zeros((h, stride), dtype=np.uint8)
    rows[:, : w * 3] = frame[::-1, :, ::-1].reshape(h, w * 3)
    return rows.tobytes()


def _undib_rows(raw: bytes, w: int, h: int,
                top_down: bool = False) -> np.ndarray:
    """Inverse of `_dib_rows` → (h, w, 3) uint8 RGB. `top_down` skips
    the bottom-up flip (negative biHeight DIBs)."""
    stride = (w * 3 + 3) & ~3
    rows = np.frombuffer(raw, dtype=np.uint8,
                         count=stride * h).reshape(h, stride)
    px = rows[:, : w * 3].reshape(h, w, 3)
    if not top_down:
        px = px[::-1]
    return px[:, :, ::-1].copy()


@_malformed_raises_valueerror
def decode_avi(data: bytes) -> tuple[np.ndarray, float]:
    """→ ((n, h, w, 3) uint8 RGB frames, fps). Uncompressed 24-bit DIB
    only (biCompression=BI_RGB; '..db' or '..dc' chunks — the suffix is
    naming convention, the strf header decides). Walks the RIFF chunk
    tree with plain struct offsets; chunk bodies pad to even length per
    the RIFF spec."""
    if data[:4] != b"RIFF" or data[8:12] != b"AVI ":
        raise ValueError("not an AVI")
    w = h = None                       # avih dwWidth/dwHeight
    sw = sh = None                     # strf biWidth/biHeight (authoritative
    rate, scale, bpp, comp = 0, 1, 24, 0   # per spec when avih says 0)
    # streams appear in strl order; strf applies to the stream whose strh
    # preceded it (a trailing audio stream's WAVEFORMATEX must not be
    # misread as the video bitmap header)
    n_streams, vids_idx, cur_is_vids = 0, None, False
    saw_vids_strf, saw_dc = False, False
    frames: list[bytes] = []

    def walk(pos: int, end: int) -> None:
        nonlocal w, h, sw, sh, rate, scale, bpp, comp
        nonlocal n_streams, vids_idx, cur_is_vids, saw_vids_strf, saw_dc
        while pos + 8 <= end:
            tag = data[pos:pos + 4]
            (ln,) = struct.unpack_from("<I", data, pos + 4)
            body_at = pos + 8
            if tag == b"LIST":
                walk(body_at + 4, body_at + ln)   # skip the list type fourcc
            elif tag == b"avih":
                w, h = struct.unpack_from("<II", data, body_at + 32)
            elif tag == b"strh":
                cur_is_vids = data[body_at:body_at + 4] == b"vids"
                if cur_is_vids:
                    vids_idx = n_streams
                    scale, rate = struct.unpack_from("<II", data, body_at + 20)
                n_streams += 1
            elif tag == b"strf":
                if cur_is_vids:
                    saw_vids_strf = True
                    sw, sh = struct.unpack_from("<ii", data, body_at + 4)
                    bpp, comp = struct.unpack_from("<HI", data, body_at + 14)
                    if comp != 0:
                        # headers precede movi: reject before buffering
                        # a whole compressed video's frames
                        raise ValueError(
                            f"compressed AVI unsupported "
                            f"(biCompression={comp}; DIB only)")
            elif (tag[:2].isdigit() and tag[2:4] in (b"db", b"dc") and ln
                  and (vids_idx is None or int(tag[:2]) == vids_idx)):
                # db/dc is a chunk-naming convention, not the codec:
                # biCompression (strf) decides; BI_RGB=0 is raw DIB
                # either way, anything else is a real codec we don't ship
                saw_dc = saw_dc or tag[2:4] == b"dc"
                frames.append(data[body_at:body_at + ln])
            pos = body_at + ln + (ln & 1)         # even-size padding

    walk(12, len(data))
    if w is None or not frames:
        raise ValueError("AVI without avih header or video frames")
    if saw_dc and not saw_vids_strf:
        # only the strf header can vouch for what dc-tagged chunks hold
        # (raw DIB); without one they must be presumed to be a codec we
        # don't ship
        raise ValueError("dc-tagged AVI frames without a vids strf header")
    if comp != 0:   # crafted files may place strf after movi
        raise ValueError(
            f"compressed AVI unsupported (biCompression={comp}; DIB only)")
    fps = rate / scale if scale else 0.0
    if bpp != 24:
        raise ValueError(f"unsupported AVI frame depth {bpp}")
    # spec: players use strf dims when avih carries zeros; a negative
    # strf biHeight means top-down rows (no bottom-up flip)
    top_down = sh is not None and sh < 0
    fw = int(w) if w else (abs(int(sw)) if sw else 0)
    fh = int(h) if h else (abs(int(sh)) if sh else 0)
    if not fw or not fh:
        raise ValueError("AVI with zero frame dimensions")
    return (np.stack([_undib_rows(f, fw, fh, top_down) for f in frames]),
            fps)


def encode_avi(frames: np.ndarray, fps: float = 10.0) -> bytes:
    """(n, h, w, 3) uint8 RGB → AVI bytes of uncompressed bottom-up DIB
    '00db' frames, decodable by `decode_avi` and any standard player."""
    a = np.asarray(frames, dtype=np.uint8)
    if a.ndim != 4 or a.shape[0] == 0:
        raise ValueError(
            "encode_avi needs at least one frame of shape (h, w, 3)")
    n, h, w, _ = a.shape
    payloads = [_dib_rows(f) for f in a]
    frame_size = max(len(p) for p in payloads)
    scale, rate = 1000, int(round(fps * 1000))

    def chunk(tag: bytes, body: bytes) -> bytes:
        return tag + struct.pack("<I", len(body)) + body + (
            b"\x00" if len(body) & 1 else b"")

    def lst(kind: bytes, body: bytes) -> bytes:
        return chunk(b"LIST", kind + body)

    fourcc = b"DIB "
    frame_tag = b"00db"
    avih = struct.pack("<14I", int(1e6 * scale / max(rate, 1)),
                       frame_size * int(max(fps, 1)), 0, 0x10, n, 0, 1,
                       frame_size, w, h, 0, 0, 0, 0)
    strh = (b"vids" + fourcc + struct.pack("<IHHIIIIIIII", 0, 0, 0, 0,
                                           scale, rate, 0, n, frame_size,
                                           0xFFFFFFFF, 0)
            + struct.pack("<4h", 0, 0, w, h))
    strf = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, frame_size,
                       0, 0, 0, 0)
    hdrl = lst(b"hdrl", chunk(b"avih", avih)
               + lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf)))
    movi_body, idx, off = b"", b"", 4
    for p in payloads:
        ck = chunk(frame_tag, p)
        idx += frame_tag + struct.pack("<III", 0x10, off, len(p))
        movi_body += ck
        off += len(ck)
    riff = b"AVI " + hdrl + lst(b"movi", movi_body) + chunk(b"idx1", idx)
    return b"RIFF" + struct.pack("<I", len(riff)) + riff


# ----------------------------------------------------------------------- WAV --

@_malformed_raises_valueerror
def decode_wav(data: bytes) -> tuple[np.ndarray, int]:
    """→ (mono float64 samples in [-1, 1], sample_rate). PCM 8/16/32.
    Raises ValueError on anything else — the module-wide decoder
    contract (the stdlib wave.Error never escapes)."""
    try:
        with wave.open(io.BytesIO(data), "rb") as f:
            nch, width, rate, nframes = (f.getnchannels(), f.getsampwidth(),
                                         f.getframerate(), f.getnframes())
            raw = f.readframes(nframes)
    except (wave.Error, RuntimeError) as e:
        # the stdlib chunk reader raises a BARE RuntimeError when a
        # corrupt chunk length makes it seek past an unseekable point
        raise ValueError(f"unsupported WAV: {e}") from e
    if width == 1:
        x = (np.frombuffer(raw, dtype=np.uint8).astype(np.float64)
             - 128.0) / 128.0
    elif width == 2:
        x = np.frombuffer(raw, dtype="<i2").astype(np.float64) / 32768.0
    elif width == 4:
        x = np.frombuffer(raw, dtype="<i4").astype(np.float64) / 2147483648.0
    else:
        raise ValueError(f"unsupported WAV sample width {width}")
    if nch > 1:
        x = x.reshape(-1, nch).mean(axis=1)
    return x, rate


def encode_wav(samples: np.ndarray, rate: int = 8000) -> bytes:
    """mono float in [-1, 1] → 16-bit PCM WAV bytes."""
    x = np.clip(np.asarray(samples, dtype=np.float64), -1.0, 1.0)
    pcm = (x * 32767.0).astype("<i2").tobytes()
    buf = io.BytesIO()
    with wave.open(buf, "wb") as f:
        f.setnchannels(1)
        f.setsampwidth(2)
        f.setframerate(rate)
        f.writeframes(pcm)
    return buf.getvalue()
