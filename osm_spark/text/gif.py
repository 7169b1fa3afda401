"""Pure-python GIF codec — the fourth real image/video byte path
(PNG → APNG → JPEG → GIF), shrinking the multimodal md5-stub domain to
formats with no pure-python decoder left (WebP, progressive JPEG).

GIF needs no libraries: the container is byte-aligned blocks (struct)
and the pixel stream is LZW with LSB-first variable-width codes —
~happily implementable over numpy index arrays. Unlike JPEG, GIF is
LOSSLESS (palette-indexed), so the encode→decode round-trip preserves
pixel values exactly and a q61-style closed-form pixel oracle applies
verbatim (q169).

Encoder: GIF89a, single-frame, 8-bit global greyscale palette
(index i → (i,i,i)), no interlace; LZW with the standard 12-bit
dictionary and a CLEAR emitted on overflow. Multi-frame (animated)
encode takes a list of frames with a per-frame Graphic Control
Extension delay — the APNG-video sibling.

Decoder: GIF87a/89a, global + local color tables, interlaced and
non-interlaced frames, multi-frame animations (frame rects composited
onto the logical screen, which starts as the background colour; a
graphic-control extension's transparent index leaves the pixels
beneath it showing, and a disposal method other than none/keep before
a later frame raises ``ValueError``), other extensions skipped per
spec framing. Deferred-clear streams (dictionary parked at 4096) are
handled. Returns uint8 (H, W) grey when every palette entry is
r==g==b, else (H, W, 3) RGB.

Validated against real third-party encoder output in
tests/test_gif.py (CPython test-suite GIF fixture).

No reference counterpart; SURVEY §2.9 X27 completion (with jpeg.py).
"""

from __future__ import annotations

import struct

import numpy as np

GIF89A = b"GIF89a"
GIF87A = b"GIF87a"

_INTERLACE_PASSES = ((0, 8), (4, 8), (2, 4), (1, 2))


class _LZWEncoder:
    """LSB-first variable-width LZW, 12-bit max, CLEAR on overflow."""

    def __init__(self, min_code_size: int) -> None:
        self.min = min_code_size
        self.clear = 1 << min_code_size
        self.eoi = self.clear + 1
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def _emit(self, code: int, width: int) -> None:
        self.acc |= code << self.nbits
        self.nbits += width
        while self.nbits >= 8:
            self.out.append(self.acc & 0xFF)
            self.acc >>= 8
            self.nbits -= 8

    def encode(self, indices: np.ndarray) -> bytes:
        table: dict[bytes, int] = {
            bytes([i]): i for i in range(1 << self.min)
        }
        next_code = self.eoi + 1
        width = self.min + 1
        self._emit(self.clear, width)
        prefix = b""
        for v in indices.tolist():
            cur = prefix + bytes([v])
            if cur in table:
                prefix = cur
                continue
            self._emit(table[prefix], width)
            table[cur] = next_code
            next_code += 1
            if next_code - 1 == (1 << width) and width < 12:
                width += 1
            elif next_code > 4095:
                self._emit(self.clear, width)
                table = {bytes([i]): i for i in range(1 << self.min)}
                next_code = self.eoi + 1
                width = self.min + 1
            prefix = bytes([v])
        if prefix:
            self._emit(table[prefix], width)
        self._emit(self.eoi, width)
        if self.nbits:
            self.out.append(self.acc & 0xFF)
        return bytes(self.out)


def _sub_blocks(data: bytes) -> bytes:
    out = bytearray()
    for i in range(0, len(data), 255):
        chunk = data[i : i + 255]
        out.append(len(chunk))
        out += chunk
    out.append(0)
    return bytes(out)


def encode_gif(
    frames: np.ndarray | list[np.ndarray], delay_cs: int = 10
) -> bytes:
    """uint8 (H, W) greyscale frame or list of same-shape frames →
    GIF89a bytes (global 256-grey palette, lossless). Multi-frame
    input becomes an animation with ``delay_cs`` centiseconds/frame."""
    if isinstance(frames, np.ndarray):
        frames = [frames]
    if not frames:
        raise ValueError("encode_gif: no frames")
    frames = [np.ascontiguousarray(f, dtype=np.uint8) for f in frames]
    h, w = frames[0].shape
    for f in frames:
        if f.ndim != 2 or f.shape != (h, w):
            raise ValueError("encode_gif: greyscale same-shape frames only")
    out = bytearray()
    out += GIF89A
    # logical screen descriptor: GCT present, 8-bit, 256 entries
    out += struct.pack("<HHBBB", w, h, 0xF7, 0, 0)
    for i in range(256):
        out += bytes([i, i, i])
    if len(frames) > 1:
        # NETSCAPE looping extension
        out += b"\x21\xff\x0bNETSCAPE2.0\x03\x01\x00\x00\x00"
    for f in frames:
        if len(frames) > 1:
            out += b"\x21\xf9" + struct.pack(
                "<BBHBB", 4, 0x00, delay_cs, 0, 0
            )
        out += b"\x2c" + struct.pack("<HHHHB", 0, 0, w, h, 0x00)
        out.append(8)  # LZW min code size
        out += _sub_blocks(_LZWEncoder(8).encode(f.reshape(-1)))
    out += b"\x3b"
    return bytes(out)


class _LZWDecoder:
    def __init__(self, data: bytes, min_code_size: int) -> None:
        self.data = data
        self.pos = 0
        self.acc = 0
        self.nbits = 0
        self.min = min_code_size

    def _code(self, width: int) -> int:
        while self.nbits < width:
            if self.pos >= len(self.data):
                raise ValueError("gif: truncated LZW stream")
            self.acc |= self.data[self.pos] << self.nbits
            self.pos += 1
            self.nbits += 8
        v = self.acc & ((1 << width) - 1)
        self.acc >>= width
        self.nbits -= width
        return v

    def decode(self, n_pixels: int) -> np.ndarray:
        clear = 1 << self.min
        eoi = clear + 1
        out = np.empty(n_pixels, dtype=np.uint8)
        n_out = 0
        table: list[bytes] = [bytes([i]) for i in range(clear)] + [b"", b""]
        width = self.min + 1
        prev: bytes | None = None
        while n_out < n_pixels:
            code = self._code(width)
            if code == clear:
                table = table[: clear + 2]
                width = self.min + 1
                prev = None
                continue
            if code == eoi:
                break
            if prev is None:
                entry = table[code]
            elif code < len(table):
                entry = table[code]
                table.append(prev + entry[:1])
            elif code == len(table):
                entry = prev + prev[:1]
                table.append(entry)
            else:
                raise ValueError("gif: LZW code out of range")
            take = min(len(entry), n_pixels - n_out)
            out[n_out : n_out + take] = np.frombuffer(
                entry[:take], dtype=np.uint8
            )
            n_out += take
            prev = entry
            # widen AFTER appending; park at 12 bits (deferred clear)
            if len(table) == (1 << width) and width < 12:
                width += 1
        if n_out < n_pixels:
            raise ValueError("gif: LZW stream ended early")
        return out


def _read_sub_blocks(data: bytes, pos: int) -> tuple[bytes, int]:
    out = bytearray()
    while True:
        if pos >= len(data):
            raise ValueError("gif: truncated sub-blocks")
        n = data[pos]
        pos += 1
        if n == 0:
            return bytes(out), pos
        out += data[pos : pos + n]
        pos += n


def _deinterlace(idx: np.ndarray, h: int, w: int) -> np.ndarray:
    img = np.empty((h, w), dtype=np.uint8)
    src = 0
    for start, step in _INTERLACE_PASSES:
        for y in range(start, h, step):
            img[y] = idx[src * w : (src + 1) * w]
            src += 1
    return img


def decode_gif(data: bytes) -> tuple[list[np.ndarray], dict]:
    """GIF bytes → (frames, meta). Each frame is the full logical
    screen after compositing; greyscale (H, W) when every used palette
    is grey, else (H, W, 3) RGB. Meta: {width, height, codec: "gif",
    n_frames, version}.

    Transparent pixels keep what lies beneath them (the background
    colour, or earlier frames). Disposal methods 2 (restore to
    background) and 3 (restore to previous) raise ``ValueError`` when
    a later frame would be drawn over the disposed one, so callers fall
    back rather than get pixels composited under the wrong model."""
    if len(data) < 13 or data[:6] not in (GIF87A, GIF89A):
        raise ValueError("gif: bad signature")
    w, h, flags, bg, _ar = struct.unpack("<HHBBB", data[6:13])
    pos = 13
    gct = None
    if flags & 0x80:
        n = 2 << (flags & 7)
        gct = np.frombuffer(
            data[pos : pos + 3 * n], dtype=np.uint8
        ).reshape(n, 3)
        pos += 3 * n
    frames: list[np.ndarray] = []
    screen = np.zeros((h, w, 3), dtype=np.uint8)
    if gct is not None:
        screen[:, :] = gct[bg if bg < len(gct) else 0]
    # Graphic control of the next image (transparent index, disposal)
    # and the disposal method of the last image drawn.
    transparent, disposal, last_disposal = None, 0, 0
    while pos < len(data):
        b = data[pos]
        pos += 1
        if b == 0x3B:  # trailer
            break
        if b == 0x21:  # extension: label + sub-blocks
            label = data[pos] if pos < len(data) else None
            body, pos = _read_sub_blocks(data, pos + 1)
            if label == 0xF9 and len(body) >= 4:
                disposal = (body[0] >> 2) & 7
                transparent = body[3] if body[0] & 1 else None
            continue
        if b != 0x2C:
            raise ValueError(f"gif: unexpected block 0x{b:02x}")
        if last_disposal >= 2:
            raise ValueError(f"gif: disposal method {last_disposal} is not supported")
        fx, fy, fw, fh, iflags = struct.unpack("<HHHHB", data[pos : pos + 9])
        pos += 9
        if fx + fw > w or fy + fh > h:
            raise ValueError("gif: frame outside the logical screen")
        pal = gct
        if iflags & 0x80:
            n = 2 << (iflags & 7)
            pal = np.frombuffer(
                data[pos : pos + 3 * n], dtype=np.uint8
            ).reshape(n, 3)
            pos += 3 * n
        if pal is None:
            raise ValueError("gif: no color table")
        min_code = data[pos]
        pos += 1
        lzw, pos = _read_sub_blocks(data, pos)
        idx = _LZWDecoder(lzw, min_code).decode(fw * fh)
        if iflags & 0x40:
            rect_idx = _deinterlace(idx, fh, fw)
        else:
            rect_idx = idx.reshape(fh, fw)
        if rect_idx.max(initial=0) >= len(pal):
            raise ValueError("gif: palette index out of range")
        region = screen[fy : fy + fh, fx : fx + fw]
        if transparent is None:
            region[...] = pal[rect_idx]
        else:
            shown = rect_idx != transparent
            region[shown] = pal[rect_idx[shown]]
        frames.append(screen.copy())
        transparent, disposal, last_disposal = None, 0, disposal
    if not frames:
        raise ValueError("gif: no image data")
    meta = {
        "width": w,
        "height": h,
        "codec": "gif",
        "n_frames": len(frames),
        "version": data[3:6].decode("ascii"),
    }
    if all((f[..., 0] == f[..., 1]).all() and (f[..., 1] == f[..., 2]).all()
           for f in frames):
        frames = [f[..., 0] for f in frames]
    return frames, meta
