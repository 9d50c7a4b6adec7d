"""Dependency-free PNG rasterization for plot artifacts.

The reference emits PNG artifacts via matplotlib
(``pipeline/plot_threshold.py:33-83``, ``plot_feature_importance.py:63-71``);
:mod:`.viz` renders them with this module instead, with no plotting
dependency: a small raster canvas (numpy RGB buffer, Bresenham lines, filled
rects, a built-in public-domain-style 5×7 bitmap font) plus a standards-
compliant PNG encoder built on stdlib ``zlib``/``struct`` only (8-bit RGB,
filter 0). Artifacts are BOUNDED driver-side renders — the inputs are the
already-aggregated rows of oracle-verified queries, never raw data.
"""

from __future__ import annotations

import os
import struct
import zlib
from collections.abc import Sequence

import numpy as np

# --- 5×7 bitmap font -------------------------------------------------------
# Each glyph: 7 rows of 5 bits (MSB = leftmost pixel). Lowercase maps to
# uppercase; unknown characters render as blanks. Legibility, not typography.
_F = {
    " ": (0, 0, 0, 0, 0, 0, 0),
    ".": (0, 0, 0, 0, 0, 0b00100, 0b00100),
    ",": (0, 0, 0, 0, 0b00100, 0b00100, 0b01000),
    "+": (0, 0b00100, 0b00100, 0b11111, 0b00100, 0b00100, 0),
    "-": (0, 0, 0, 0b11111, 0, 0, 0),
    "=": (0, 0, 0b11111, 0, 0b11111, 0, 0),
    "(": (0b00010, 0b00100, 0b01000, 0b01000, 0b01000, 0b00100, 0b00010),
    ")": (0b01000, 0b00100, 0b00010, 0b00010, 0b00010, 0b00100, 0b01000),
    "%": (0b11001, 0b11010, 0b00010, 0b00100, 0b01000, 0b01011, 0b10011),
    "/": (0b00001, 0b00010, 0b00010, 0b00100, 0b01000, 0b01000, 0b10000),
    "_": (0, 0, 0, 0, 0, 0, 0b11111),
    ":": (0, 0b00100, 0b00100, 0, 0b00100, 0b00100, 0),
    "0": (0b01110, 0b10001, 0b10011, 0b10101, 0b11001, 0b10001, 0b01110),
    "1": (0b00100, 0b01100, 0b00100, 0b00100, 0b00100, 0b00100, 0b01110),
    "2": (0b01110, 0b10001, 0b00001, 0b00010, 0b00100, 0b01000, 0b11111),
    "3": (0b11111, 0b00010, 0b00100, 0b00010, 0b00001, 0b10001, 0b01110),
    "4": (0b00010, 0b00110, 0b01010, 0b10010, 0b11111, 0b00010, 0b00010),
    "5": (0b11111, 0b10000, 0b11110, 0b00001, 0b00001, 0b10001, 0b01110),
    "6": (0b00110, 0b01000, 0b10000, 0b11110, 0b10001, 0b10001, 0b01110),
    "7": (0b11111, 0b00001, 0b00010, 0b00100, 0b01000, 0b01000, 0b01000),
    "8": (0b01110, 0b10001, 0b10001, 0b01110, 0b10001, 0b10001, 0b01110),
    "9": (0b01110, 0b10001, 0b10001, 0b01111, 0b00001, 0b00010, 0b01100),
    "A": (0b01110, 0b10001, 0b10001, 0b11111, 0b10001, 0b10001, 0b10001),
    "B": (0b11110, 0b10001, 0b10001, 0b11110, 0b10001, 0b10001, 0b11110),
    "C": (0b01110, 0b10001, 0b10000, 0b10000, 0b10000, 0b10001, 0b01110),
    "D": (0b11100, 0b10010, 0b10001, 0b10001, 0b10001, 0b10010, 0b11100),
    "E": (0b11111, 0b10000, 0b10000, 0b11110, 0b10000, 0b10000, 0b11111),
    "F": (0b11111, 0b10000, 0b10000, 0b11110, 0b10000, 0b10000, 0b10000),
    "G": (0b01110, 0b10001, 0b10000, 0b10111, 0b10001, 0b10001, 0b01111),
    "H": (0b10001, 0b10001, 0b10001, 0b11111, 0b10001, 0b10001, 0b10001),
    "I": (0b01110, 0b00100, 0b00100, 0b00100, 0b00100, 0b00100, 0b01110),
    "J": (0b00111, 0b00010, 0b00010, 0b00010, 0b00010, 0b10010, 0b01100),
    "K": (0b10001, 0b10010, 0b10100, 0b11000, 0b10100, 0b10010, 0b10001),
    "L": (0b10000, 0b10000, 0b10000, 0b10000, 0b10000, 0b10000, 0b11111),
    "M": (0b10001, 0b11011, 0b10101, 0b10101, 0b10001, 0b10001, 0b10001),
    "N": (0b10001, 0b11001, 0b10101, 0b10011, 0b10001, 0b10001, 0b10001),
    "O": (0b01110, 0b10001, 0b10001, 0b10001, 0b10001, 0b10001, 0b01110),
    "P": (0b11110, 0b10001, 0b10001, 0b11110, 0b10000, 0b10000, 0b10000),
    "Q": (0b01110, 0b10001, 0b10001, 0b10001, 0b10101, 0b10010, 0b01101),
    "R": (0b11110, 0b10001, 0b10001, 0b11110, 0b10100, 0b10010, 0b10001),
    "S": (0b01111, 0b10000, 0b10000, 0b01110, 0b00001, 0b00001, 0b11110),
    "T": (0b11111, 0b00100, 0b00100, 0b00100, 0b00100, 0b00100, 0b00100),
    "U": (0b10001, 0b10001, 0b10001, 0b10001, 0b10001, 0b10001, 0b01110),
    "V": (0b10001, 0b10001, 0b10001, 0b10001, 0b10001, 0b01010, 0b00100),
    "W": (0b10001, 0b10001, 0b10001, 0b10101, 0b10101, 0b10101, 0b01010),
    "X": (0b10001, 0b10001, 0b01010, 0b00100, 0b01010, 0b10001, 0b10001),
    "Y": (0b10001, 0b10001, 0b01010, 0b00100, 0b00100, 0b00100, 0b00100),
    "Z": (0b11111, 0b00001, 0b00010, 0b00100, 0b01000, 0b10000, 0b11111),
}

GLYPH_W, GLYPH_H, GLYPH_ADVANCE = 5, 7, 6


def text_width(s: str) -> int:
    return len(s) * GLYPH_ADVANCE - 1 if s else 0


class Canvas:
    """RGB raster canvas, white background, y grows downward (SVG-like)."""

    def __init__(self, width: int, height: int):
        self.w, self.h = int(width), int(height)
        self.buf = np.full((self.h, self.w, 3), 255, dtype=np.uint8)

    # -- primitives --------------------------------------------------------
    def fill_rect(self, x: float, y: float, w: float, h: float, rgb) -> None:
        x0, y0 = max(int(round(x)), 0), max(int(round(y)), 0)
        x1 = min(int(round(x + w)), self.w)
        y1 = min(int(round(y + h)), self.h)
        if x1 > x0 and y1 > y0:
            self.buf[y0:y1, x0:x1] = rgb

    def _plot(self, x: int, y: int, rgb) -> None:
        if 0 <= x < self.w and 0 <= y < self.h:
            self.buf[y, x] = rgb

    def line(self, x0, y0, x1, y1, rgb, width: int = 1, dash=None) -> None:
        """Bresenham with optional thickness and (on, off) dash pattern."""
        x0, y0, x1, y1 = (int(round(v)) for v in (x0, y0, x1, y1))
        dx, dy = abs(x1 - x0), -abs(y1 - y0)
        sx, sy = (1 if x0 < x1 else -1), (1 if y0 < y1 else -1)
        err, i = dx + dy, 0
        on, period = (dash if dash else (1, 0))
        x, y = x0, y0
        while True:
            if period == 0 or (i % (on + period)) < on:
                for ox in range(width):
                    for oy in range(width):
                        self._plot(x + ox, y + oy, rgb)
            if x == x1 and y == y1:
                break
            e2 = 2 * err
            if e2 >= dy:
                err += dy
                x += sx
            if e2 <= dx:
                err += dx
                y += sy
            i += 1

    def polyline(self, points: Sequence[tuple[float, float]], rgb, width: int = 2) -> None:
        for (xa, ya), (xb, yb) in zip(points, points[1:]):
            self.line(xa, ya, xb, yb, rgb, width=width)

    def text(self, x: float, y: float, s: str, rgb=(0, 0, 0), anchor: str = "start") -> None:
        """Render ``s`` with the built-in 5×7 font; ``y`` is the glyph TOP.
        ``anchor``: start | middle | end (SVG semantics on x)."""
        px = int(round(x))
        if anchor == "middle":
            px -= text_width(s) // 2
        elif anchor == "end":
            px -= text_width(s)
        py = int(round(y))
        for ch in s:
            rows = _F.get(ch.upper() if ch.upper() in _F else ch, _F[" "])
            for ry, bits in enumerate(rows):
                for rx in range(GLYPH_W):
                    if bits & (1 << (GLYPH_W - 1 - rx)):
                        self._plot(px + rx, py + ry, rgb)
            px += GLYPH_ADVANCE

    # -- encoding ----------------------------------------------------------
    def to_png_bytes(self) -> bytes:
        def chunk(tag: bytes, data: bytes) -> bytes:
            return (
                struct.pack(">I", len(data))
                + tag
                + data
                + struct.pack(">I", zlib.crc32(tag + data))
            )

        ihdr = struct.pack(">IIBBBBB", self.w, self.h, 8, 2, 0, 0, 0)
        raw = b"".join(
            b"\x00" + self.buf[y].tobytes() for y in range(self.h)
        )  # filter 0 per scanline
        return (
            b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(raw, 6))
            + chunk(b"IEND", b"")
        )

    def write_png(self, path: str) -> str:
        os.makedirs(os.path.dirname(os.path.abspath(path)), exist_ok=True)
        with open(path, "wb") as f:
            f.write(self.to_png_bytes())
        return path


def decode_png(data: bytes) -> np.ndarray:
    """Minimal decoder for round-trip tests: 8-bit RGB, filter 0/1/2 only
    (this module's encoder emits filter 0; 1/2 tolerated for robustness)."""
    assert data[:8] == b"\x89PNG\r\n\x1a\n", "bad signature"
    pos, idat, w = 8, b"", 0
    while pos < len(data):
        (length,) = struct.unpack(">I", data[pos : pos + 4])
        tag = data[pos + 4 : pos + 8]
        payload = data[pos + 8 : pos + 8 + length]
        (crc,) = struct.unpack(">I", data[pos + 8 + length : pos + 12 + length])
        assert crc == zlib.crc32(tag + payload), f"bad CRC in {tag!r}"
        if tag == b"IHDR":
            w, h, depth, ctype = struct.unpack(">IIBB", payload[:10])
            assert (depth, ctype) == (8, 2), "decoder handles 8-bit RGB only"
        elif tag == b"IDAT":
            idat += payload
        pos += 12 + length
    raw = zlib.decompress(idat)
    stride = w * 3
    rows: list[np.ndarray] = []
    prev = np.zeros(stride, dtype=np.uint8)
    for y in range(h):
        off = y * (stride + 1)
        filt = raw[off]
        line = np.frombuffer(raw[off + 1 : off + 1 + stride], dtype=np.uint8).copy()
        if filt == 1:  # Sub
            for i in range(3, stride):
                line[i] = (int(line[i]) + int(line[i - 3])) & 0xFF
        elif filt == 2:  # Up
            line = ((line.astype(np.int16) + prev) & 0xFF).astype(np.uint8)
        elif filt != 0:
            raise AssertionError(f"unsupported filter {filt}")
        rows.append(line)
        prev = line
    return np.stack(rows).reshape(h, w, 3)
