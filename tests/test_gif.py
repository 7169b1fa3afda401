"""Pure-python GIF codec (text/gif.py): lossless round-trips, LZW
overflow/clear handling, animation compositing, interlace, and
real-world third-party decoder validation (embedded fixture)."""

from __future__ import annotations

import base64
import struct

import numpy as np
import pytest

from osm_spark.text.gif import (
    _LZWEncoder,
    _read_sub_blocks,
    _sub_blocks,
    decode_gif,
    encode_gif,
)

# 16×16 color GIF89a from CPython's test suite
# (Lib/test/imghdrdata/python.gif, PSF-licensed) — produced by
# ImageMagick, so decoding it exercises a foreign encoder's LZW
# stream, a 64-entry palette and extension blocks our encoder never
# emits.
PY16 = base64.b64decode(
    "R0lGODlhEAAQAPU/AOu7GOu+IfPBGvrHGf3LG//MHOvCKv/PI//PJP/QJf/TLevF"
    "NOjHPf/TMP/UMP3VNvrTOf/XOfnVPv/YOuzORf/aQf/bRP/eS//fTv/iVf/jWP/n"
    "YvLhbvXjb/3pav/rbDJghzZmkDZnkTZpkzdoljdqljlsljpvmzpwnDtwnDxxnj1z"
    "oj50oj92pUB4pkJ7qkN8q0N9rUV/r0aAsUeBskiDtEiFtkqGukyJvEyKvEyKv0+N"
    "wVCPw1KRxv///wAAACH/C0ltYWdlTWFnaWNrB2dhbW1hPTAAIfkEBQAAPwAsAAAA"
    "ABAAEAAABpvAn/C3u81iLRVpyBTmfLMXC1VqMm1RVqo0sv50thjLFDKVqszeDleT"
    "uVSn0fmXuUh+PB1N9oKP/iA/FxUPXzY0UipnIoEUhAo/hzAuXU0VEQoHP0cuIj8c"
    "HhsZGBUTCggEPzFSPx0fGxoYFhENCAUCQispP6+xpacFBVawGAwLBgEAAF6xsw0J"
    "wl4/shEOCT6p0j8QzwUD2uBDQQA7"
)


def test_roundtrip_lossless():
    rng = np.random.default_rng(7)
    for shape in ((1, 1), (7, 5), (20, 12)):
        img = rng.integers(0, 256, shape).astype(np.uint8)
        frames, meta = decode_gif(encode_gif(img))
        assert len(frames) == 1 and (frames[0] == img).all()
        assert (meta["width"], meta["height"]) == shape[::-1]
        assert meta["codec"] == "gif" and meta["version"] == "89a"


def test_lzw_overflow_clear_roundtrip():
    """>4096 dictionary entries force the encoder's CLEAR-on-overflow
    and the decoder's table reset — random noise maximizes dictionary
    churn."""
    rng = np.random.default_rng(9)
    img = rng.integers(0, 256, (120, 100)).astype(np.uint8)
    frames, _ = decode_gif(encode_gif(img))
    assert (frames[0] == img).all()


def test_animation_frames_composite():
    base = np.arange(0, 240, dtype=np.uint8).reshape(16, 15) % 250
    fs = [((base.astype(int) * (i + 1)) % 256).astype(np.uint8) for i in range(5)]
    frames, meta = decode_gif(encode_gif(fs, delay_cs=4))
    assert meta["n_frames"] == 5
    for a, b in zip(frames, fs):
        assert (a == b).all()


def test_interlaced_decode():
    """Our encoder never interlaces, so build the interlaced stream by
    hand: permute rows into pass order, set the interlace flag — the
    decoder must undo the 4-pass weave exactly."""
    rng = np.random.default_rng(3)
    img = rng.integers(0, 256, (13, 9)).astype(np.uint8)
    h, w = img.shape
    order = (
        list(range(0, h, 8))
        + list(range(4, h, 8))
        + list(range(2, h, 4))
        + list(range(1, h, 2))
    )
    woven = img[order].reshape(-1)
    out = bytearray()
    out += b"GIF89a" + struct.pack("<HHBBB", w, h, 0xF7, 0, 0)
    for i in range(256):
        out += bytes([i, i, i])
    out += b"\x2c" + struct.pack("<HHHHB", 0, 0, w, h, 0x40)  # interlaced
    out.append(8)
    out += _sub_blocks(_LZWEncoder(8).encode(woven))
    out += b"\x3b"
    frames, _ = decode_gif(bytes(out))
    assert (frames[0] == img).all()


def test_rejects_garbage_and_truncation():
    with pytest.raises(ValueError, match="signature"):
        decode_gif(b"NOTAGIF" + b"\x00" * 20)
    good = encode_gif(np.full((8, 8), 77, np.uint8))
    with pytest.raises(ValueError):
        decode_gif(good[:20])


def test_real_world_third_party_decode():
    """CPython's 16×16 ImageMagick GIF: foreign LZW stream, 64-color
    palette, gamma + graphic-control extensions — must parse and
    decode; pixel digest pinned against regression."""
    import hashlib

    frames, meta = decode_gif(PY16)
    assert meta["width"] == 16 and meta["height"] == 16
    assert frames[0].shape == (16, 16, 3)
    assert frames[0].std() > 10
    assert hashlib.md5(frames[0].tobytes()).hexdigest() == (
        "4853155c8d541412966389d2c696576d"
    )


def test_decode_image_sniffs_gif():
    from osm_spark.text.multimodal import decode_image

    img = (np.arange(0, 252, dtype=np.uint8) % 256).reshape(18, 14)
    feats, meta = decode_image(encode_gif(img), dim=4)
    assert meta is not None and meta["codec"] == "gif"
    assert meta["width"] == 14 and meta["height"] == 18
    # lossless: first block mean equals the exact pixel mean
    blk = img.reshape(-1)[:63]
    assert feats[0] == pytest.approx(blk.sum() / 63 / 255.0)
    _, meta2 = decode_image(b"RIFFnotgif", dim=4)
    assert meta2 is None


def _with_gce(gif: bytes, frame: int, packed: int, tidx: int = 0) -> bytes:
    """``gif`` with the graphic-control extension of image ``frame``
    set to ``packed`` / transparent index ``tidx`` (inserted before the
    image descriptor when the frame has none)."""
    gce = b"\x21\xf9\x04" + bytes([packed]) + b"\x00\x00" + bytes([tidx]) + b"\x00"
    pos, seen = 13 + 3 * 256, -1
    while True:
        if gif[pos] == 0x21:
            if gif[pos + 1] == 0xF9 and seen + 1 == frame:
                return gif[:pos] + gce + gif[pos + 8 :]
            _, pos = _read_sub_blocks(gif, pos + 2)
            continue
        assert gif[pos] == 0x2C
        seen += 1
        if seen == frame:
            return gif[:pos] + gce + gif[pos:]
        pos += 11  # separator, descriptor, LZW code size
        _, pos = _read_sub_blocks(gif, pos)


def test_transparent_index_shows_what_lies_beneath():
    """A transparent pixel keeps the screen under it: the background
    colour on the first frame, the earlier frame's pixel later."""
    a = np.full((6, 5), 40, np.uint8)
    b = np.arange(30, dtype=np.uint8).reshape(6, 5) % 4 + 100  # 100..103
    anim = _with_gce(encode_gif([a, b]), 1, 0x01, tidx=101)
    frames, meta = decode_gif(anim)
    assert meta["n_frames"] == 2
    np.testing.assert_array_equal(frames[0], a)
    np.testing.assert_array_equal(frames[1], np.where(b == 101, a, b))
    # first frame over the logical screen's background colour (index 7)
    one = bytearray(_with_gce(encode_gif(b), 0, 0x01, tidx=102))
    one[11] = 7
    (frame,), _ = decode_gif(bytes(one))
    np.testing.assert_array_equal(frame, np.where(b == 102, 7, b))
    # a transparent index the frame never uses changes nothing
    (frame,), _ = decode_gif(_with_gce(encode_gif(b), 0, 0x01, tidx=9))
    np.testing.assert_array_equal(frame, b)
    # a frame rect past the logical screen is malformed input
    small = bytearray(one)
    small[6] = 4  # screen width 4 < the frame's 5
    with pytest.raises(ValueError, match="outside"):
        decode_gif(bytes(small))


@pytest.mark.parametrize("disposal", [2, 3])
def test_disposal_before_a_later_frame_is_rejected(disposal):
    """Restore-to-background/previous would change what the next
    frame is drawn over: the decoder refuses rather than composite it
    opaque, and the multimodal path falls back to the stub."""
    from osm_spark.text.multimodal import decode_image

    a = np.full((4, 4), 10, np.uint8)
    anim = _with_gce(encode_gif([a, a + 1]), 0, disposal << 2)
    with pytest.raises(ValueError, match="disposal"):
        decode_gif(anim)
    feats, meta = decode_image(anim, dim=4)
    assert meta is None and feats.shape == (4,)
    # on the last frame it disposes nothing that is drawn
    (frame,), _ = decode_gif(_with_gce(encode_gif(a), 0, disposal << 2))
    np.testing.assert_array_equal(frame, a)
