"""The lossless BMP/PNG/WAV/AVI codecs in `pipeline.codecs` (pure
stdlib/numpy): round trips, AVI container edge cases, every PNG
scanline filter, and ValueError on malformed or mutated payloads."""

import numpy as np
import pytest

from search_engines_spark.pipeline import codecs as C

def test_codec_round_trips():
    rng = np.random.RandomState(7)
    img = rng.randint(0, 256, (9, 13, 3), dtype=np.uint8)
    assert (C.decode_bmp(C.encode_bmp(img)) == img).all()
    assert (C.decode_png(C.encode_png(img)) == img).all()
    gray = rng.randint(0, 256, (5, 6, 1), dtype=np.uint8)
    assert (C.decode_png(C.encode_png(gray)) == gray).all()
    x = np.sin(np.linspace(0, 30, 400))
    y, rate = C.decode_wav(C.encode_wav(x, 8000))
    assert rate == 8000 and np.abs(y - x).max() < 1e-3
    assert C.sniff(C.encode_bmp(img)) == "bmp"
    assert C.sniff(b"\xff\xd8\xff") == "jpeg"
    assert C.sniff(b"\xff\xd8\x00") is None   # SOI alone isn't a JPEG
    # AVI: even and odd widths (stride + RIFF even-size padding)
    for shape in ((5, 12, 16, 3), (3, 7, 9, 3)):
        vid = rng.randint(0, 256, shape, dtype=np.uint8)
        data = C.encode_avi(vid, fps=4.0)
        assert C.sniff(data) == "avi"
        frames, fps = C.decode_avi(data)
        assert fps == 4.0 and (frames == vid).all()


def test_avi_codec_edge_cases():
    rng = np.random.RandomState(11)
    with pytest.raises(ValueError, match="at least one frame"):
        C.encode_avi(np.empty((0, 12, 16, 3), dtype=np.uint8))
    # a trailing audio stream's strf (WAVEFORMATEX) must not be misread
    # as the video bitmap header, and its chunks must not become frames
    vid = rng.randint(0, 256, (3, 6, 8, 3), dtype=np.uint8)
    data = C.encode_avi(vid, fps=4.0)

    def chunk(tag, body):
        import struct
        return tag + struct.pack("<I", len(body)) + body + (
            b"\x00" if len(body) & 1 else b"")

    import struct
    strh_aud = (b"auds" + b"\x00" * 4
                + struct.pack("<IHHIIIIIIII", 0, 0, 0, 0, 1, 8000, 0,
                              800, 2, 0xFFFFFFFF, 0))
    # WAVEFORMATEX: wBitsPerSample at offset 14 = 8 (≠ 24)
    strf_aud = struct.pack("<HHIIHH", 1, 1, 8000, 8000, 1, 8)
    strl = chunk(b"LIST", b"strl" + chunk(b"strh", strh_aud)
                 + chunk(b"strf", strf_aud))
    # splice the audio strl after hdrl and an '01wb' audio chunk into movi
    hdrl_end = data.find(b"LIST", 12)
    (hdrl_len,) = struct.unpack_from("<I", data, hdrl_end + 4)
    at = hdrl_end + 8 + hdrl_len + (hdrl_len & 1)
    patched = data[:at] + strl + data[at:]
    movi_at = patched.find(b"movi")
    aud_ck = chunk(b"01wb", b"\x80" * 100)
    patched = patched[:movi_at + 4] + aud_ck + patched[movi_at + 4:]
    # fix RIFF + movi LIST sizes
    (movi_len,) = struct.unpack_from("<I", patched, movi_at - 4)
    patched = (patched[:movi_at - 4]
               + struct.pack("<I", movi_len + len(aud_ck))
               + patched[movi_at:])
    patched = (patched[:4] + struct.pack("<I", len(patched) - 8)
               + patched[8:])
    frames, fps = C.decode_avi(patched)
    assert fps == 4.0 and (frames == vid).all()
    # '00dc' chunks with biCompression=BI_RGB are still raw DIB (the
    # suffix is naming convention) — decode identically
    dc = data.replace(b"00db", b"00dc")
    frames2, fps2 = C.decode_avi(dc)
    assert fps2 == 4.0 and (frames2 == vid).all()
    # an actually-compressed stream (biCompression != 0) is rejected,
    # not garbage-decoded: patch the vids strf's biCompression DWORD
    strf_at = data.find(b"strf")
    patched_comp = (data[:strf_at + 8 + 16] + struct.pack("<I", 0x44495643)
                    + data[strf_at + 8 + 20:])
    with pytest.raises(ValueError, match="compressed"):
        C.decode_avi(patched_comp)


def _png_with_filters(img, filters):
    """Hand-encode `img` (h, w, c) with a chosen filter id per row —
    encode_png only emits filter 0, so the decoder's Sub/Up/Average/
    Paeth paths need a reference encoder."""
    import struct
    import zlib
    h, w, c = img.shape
    a = img.astype(np.int64)
    raw = bytearray()
    prev = np.zeros(w * c, dtype=np.int64)
    for y, f in zip(range(h), filters):
        row = a[y].reshape(w * c)
        enc = row.copy()
        if f == 1:
            enc[c:] = (row[c:] - row[:-c]) % 256
        elif f == 2:
            enc = (row - prev) % 256
        elif f == 3:
            for x in range(w * c):
                left = row[x - c] if x >= c else 0
                enc[x] = (row[x] - (left + prev[x]) // 2) % 256
        elif f == 4:
            def paeth(a_, b_, c_):
                p = a_ + b_ - c_
                pa, pb, pc = abs(p - a_), abs(p - b_), abs(p - c_)
                return a_ if pa <= pb and pa <= pc else (
                    b_ if pb <= pc else c_)
            for x in range(w * c):
                left = row[x - c] if x >= c else 0
                ul = prev[x - c] if x >= c else 0
                enc[x] = (row[x] - paeth(int(left), int(prev[x]),
                                         int(ul))) % 256
        raw.append(f)
        raw.extend(enc.astype(np.uint8).tobytes())
        prev = row

    def chunk(tag, body):
        return (struct.pack(">I", len(body)) + tag + body
                + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF))

    ctype = {1: 0, 2: 4, 3: 2, 4: 6}[c]
    ihdr = struct.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, 0)
    return (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(bytes(raw)))
            + chunk(b"IEND", b""))


def test_png_all_filters_decode():
    rng = np.random.RandomState(23)
    img = rng.randint(0, 256, (8, 11, 3), dtype=np.uint8)
    data = _png_with_filters(img, [0, 1, 2, 3, 4, 1, 4, 2])
    assert (C.decode_png(data) == img).all()


def test_malformed_payloads_raise_valueerror_not_struct_error():
    """Truncated headers used to escape the fake-gates as struct.error;
    the codec layer must normalize EVERY undecodable payload to
    ValueError so `except ValueError` gates hold."""
    bad = {"bmp": b"BM" + b"\x00" * 10,
           "png": b"\x89PNG\r\n\x1a\n" + b"\x00" * 3,
           "avi": b"RIFF" + (9000).to_bytes(4, "little") + b"AVI "
                  + b"\x00" * 6,
           "wav": b"RIFF" + b"\x00" * 4 + b"WAVE"}
    for kind, payload in bad.items():
        assert C.sniff(payload) == kind
        with pytest.raises(ValueError):
            {"bmp": C.decode_bmp, "png": C.decode_png,
             "avi": C.decode_avi, "wav": C.decode_wav}[kind](payload)


def test_avi_strf_dims_and_topdown_and_no_strf():
    import struct
    rng = np.random.RandomState(31)
    vid = rng.randint(0, 256, (2, 6, 8, 3), dtype=np.uint8)
    data = C.encode_avi(vid, fps=4.0)
    # (a) zero avih dims → strf biWidth/biHeight take over (the spec's
    # players-must-use-strf rule)
    avih_at = data.find(b"avih") + 8
    zeroed = (data[:avih_at + 32] + struct.pack("<II", 0, 0)
              + data[avih_at + 40:])
    frames, _ = C.decode_avi(zeroed)
    assert (frames == vid).all()
    # (b) negative strf biHeight → top-down rows (no flip)
    strf_at = data.find(b"strf") + 8
    topdown = (data[:strf_at + 8] + struct.pack("<i", -6)
               + data[strf_at + 12:])
    frames2, _ = C.decode_avi(topdown)
    assert (frames2 == vid[:, ::-1]).all()
    # (c) dc-tagged frames with NO vids strf anywhere: presumed
    # compressed, rejected — not reinterpreted as raw DIB
    dc = data.replace(b"00db", b"00dc")
    strl_at = dc.find(b"LIST", dc.find(b"hdrl"))
    # blank out the strl list's type and children so no strh/strf parse
    (strl_len,) = struct.unpack_from("<I", dc, strl_at + 4)
    no_strf = (dc[:strl_at + 8] + b"JUNK" * ((strl_len) // 4)
               + dc[strl_at + 8 + (strl_len // 4) * 4:])
    with pytest.raises(ValueError, match="strf|avih"):
        C.decode_avi(no_strf)


def test_fuzz_codec_mutations_raise_only_valueerror():
    """Random byte corruption of every container must yield either a
    decode or ValueError — the codecs' decode contract (found for real:
    stdlib wave raises BARE RuntimeError on corrupt chunk lengths)."""
    import random
    rs = np.random.RandomState(5)
    img = rs.randint(0, 256, (9, 13, 3), dtype=np.uint8)
    vid = rs.randint(0, 256, (3, 8, 10, 3), dtype=np.uint8)
    bases = [
        (C.encode_bmp(img), C.decode_bmp),
        (C.encode_png(img), C.decode_png),
        (C.encode_wav(np.sin(np.linspace(0, 20, 500)), 8000),
         C.decode_wav),
        (C.encode_avi(vid, fps=4.0), C.decode_avi),
    ]
    rng = random.Random(0)
    for base, dec in bases:
        for _ in range(400):
            buf = bytearray(base)
            for _ in range(rng.randint(1, 6)):
                buf[rng.randrange(0, len(base))] = rng.randrange(256)
            try:
                dec(bytes(buf))
            except ValueError:
                pass
