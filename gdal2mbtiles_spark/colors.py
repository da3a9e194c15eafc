"""Colorize compiler: {band_value: rgba} -> nested where() expressions
-> vectorized numpy kernels / Spark when() chains.

Re-implements the semantics of the reference's color classes
(vips.py:1138-1367: ColorExact / ColorPalette / ColorGradient) with
the *identical clause strings and ordering* — the expression text is
part of the golden contract (tests/test_vips.py:373-910), including:

- clause sort ascending by band value; nested where() evaluation means
  LATER clauses win (vips.py:1228-1238);
- ColorPalette/Gradient lstrip of leading background + dedup of
  adjacent equal colors (vips.py:1141-1159);
- nodata handled as an appended alpha clause when nodata >= the first
  stop (vips.py:1294-1298,1360-1363);
- the gradient line solve EXACTLY as the reference computes it:
  ``m = (prev_value - value) / (prev_color - color)`` — note this is
  dValue/dColor, the *inverse* of the geometric slope; a quirk of the
  reference that its own goldens pin (e.g. the
  ``-1.5039370078740157 * n + 223.251968503937`` clause at
  tests/test_vips.py:880-903), so we reproduce it bit-for-bit.

Instead of numexpr, clauses compile to (a) a structured form a numpy
kernel evaluates (np.where chain, same nesting) for the pandas-UDF
data plane, and (b) the same chain as Spark ``when().otherwise()``
Columns when pixels are SQL-visible.
"""

from __future__ import annotations

from itertools import groupby
from operator import itemgetter
from typing import List, Optional, Tuple, Union

import numpy as np

# minimal CSS color table (reference uses the webcolors package;
# only names used by tests/CLI defaults are needed)
_CSS_NAMES = {
    "black": (0, 0, 0), "white": (255, 255, 255), "red": (255, 0, 0),
    "green": (0, 128, 0), "lime": (0, 255, 0), "blue": (0, 0, 255),
    "yellow": (255, 255, 0), "cyan": (0, 255, 255),
    "magenta": (255, 0, 255), "gray": (128, 128, 128),
    "grey": (128, 128, 128), "orange": (255, 165, 0),
    "purple": (128, 0, 128), "brown": (165, 42, 42),
    "transparent": (0, 0, 0),
}


class rgba(tuple):
    """RGBA color value type (reference gd_types.py:40-54)."""

    def __new__(cls, r, g, b, a=255):
        return super().__new__(cls, (r, g, b, a))

    r = property(itemgetter(0))
    g = property(itemgetter(1))
    b = property(itemgetter(2))
    a = property(itemgetter(3))

    @classmethod
    def webcolor(cls, color: str) -> "rgba":
        if color.startswith("#"):
            h = color.lstrip("#")
            if len(h) == 3:
                h = "".join(c * 2 for c in h)
            return cls(int(h[0:2], 16), int(h[2:4], 16), int(h[4:6], 16))
        if color.lower() in _CSS_NAMES:
            return cls(*_CSS_NAMES[color.lower()])
        raise ValueError(f"unknown color {color!r}")


# clause: (expression string, true value) where true value is an int
# or the string 'm * n + b'; structured twin keeps (op, threshold,
# (m, b) | const) for kernel evaluation.
Clause = Tuple[str, Union[int, float, str]]


class ColorList(list):
    """(band_value, color) list with the reference's dedup/lstrip
    (vips.py:1141-1159)."""

    def deduplicate(self):
        self[:] = [next(g) for _, g in groupby(self, key=itemgetter(1))]

    def lstrip(self, value):
        for i, v in enumerate(self):
            if v[1] != value:
                self[:] = self[i:]
                return
        self[:] = []


class ColorBase(dict):
    BACKGROUND = rgba(0, 0, 0, 0)

    @classmethod
    def _background(cls, band: str) -> int:
        return getattr(cls.BACKGROUND, band)

    def _colors(self, band: str) -> ColorList:
        colors = ColorList((v, getattr(c, band))
                           for v, c in self.items())
        colors.sort()
        return colors

    def _clauses(self, band: str, nodata=None) -> List[Clause]:
        raise NotImplementedError()

    def _expression(self, band: str, nodata=None) -> Optional[str]:
        """Nested where() string — identical text to the reference's
        numexpr expression (vips.py:1228-1238)."""
        clauses = self._clauses(band=band, nodata=nodata)
        if not clauses:
            return None
        result = str(self._background(band))
        for expression, true_value in clauses:
            result = f"where({expression}, {true_value}, {result})"
        return result

    # --- kernel evaluation (replaces numexpr) ---------------------------

    @staticmethod
    def _parse_clause(clause: Clause):
        expression, true_value = clause
        op = "==" if "==" in expression else ">="
        threshold = float(expression.split(op)[1].strip())
        if isinstance(true_value, str):
            m_s, rest = true_value.split(" * n + ")
            true = (float(m_s), float(rest))
        else:
            true = (0.0, float(true_value))
        return op, threshold, true

    def band_kernel(self, band: str, nodata=None):
        """Returns f(n: ndarray) -> uint8 ndarray evaluating the
        where-chain with numpy (same nesting/ordering)."""
        clauses = self._clauses(band=band, nodata=nodata)
        background = self._background(band)
        parsed = [self._parse_clause(c) for c in clauses]

        def kernel(n: np.ndarray) -> np.ndarray:
            nd = n.astype(np.float64)
            out = np.full(n.shape, float(background), dtype=np.float64)
            for op, threshold, (m, b) in parsed:
                cond = (nd == threshold) if op == "==" else \
                    (nd >= threshold)
                out = np.where(cond, m * nd + b, out)
            return out.astype(np.uint8)

        return kernel

    def rgba_kernel(self, nodata=None):
        """f(n) -> (h, w, 4) uint8 over all four bands."""
        kernels = {band: self.band_kernel(band, nodata=nodata)
                   for band in "rgba"}

        def kernel(n: np.ndarray) -> np.ndarray:
            out = np.empty(n.shape + (4,), dtype=np.uint8)
            for i, band in enumerate("rgba"):
                out[..., i] = kernels[band](n)
            return out

        return kernel


class ColorExact(ColorBase):
    """Colors at exact band values; all else transparent
    (vips.py:1242-1266)."""

    def _clauses(self, band, nodata=None):
        colors = self._colors(band=band)
        background = self._background(band)
        return [(f"n == {v!r}", c) for v, c in colors
                if v != nodata and c != background]


class ColorPalette(ColorBase):
    """Solid blocks: color holds from its stop upward
    (vips.py:1269-1299)."""

    def _clauses(self, band, nodata=None):
        colors = self._colors(band=band)
        colors.lstrip(value=self._background(band))
        colors.deduplicate()
        result = [(f"n >= {v!r}", c) for v, c in colors]
        if (nodata is not None and band == "a" and colors
                and nodata >= colors[0][0]):
            result.append((f"n == {nodata!r}", self._background(band)))
        return result


class ColorGradient(ColorBase):
    """Linear gradient between stops (vips.py:1302-1367); the line
    solve reproduces the reference's inverse-slope computation (see
    module docstring)."""

    def _linear_gradient(self, colors):
        if not colors:
            return
        prev_value, prev_color = colors[0]
        m = b = None
        for value, color in colors[1:]:
            if prev_color == color:
                m, b = 0, prev_color
            else:
                m = (prev_value - value) / (prev_color - color)
                b = prev_color - m * prev_value
            yield (prev_value, m, b)
            prev_value, prev_color = value, color
        if m != 0 and prev_color != b:
            yield (prev_value, 0, prev_color)

    def _clauses(self, band, nodata=None):
        colors = self._colors(band=band)
        result = ColorList(
            (f"n >= {v!r}", b if m == 0 else f"{m!r} * n + {b!r}")
            for v, m, b in self._linear_gradient(colors))
        if (nodata is not None and band == "a" and colors
                and nodata >= colors[0][0]):
            result.append((f"n == {nodata!r}", self._background(band)))
        result.lstrip(value=self._background(band))
        result.deduplicate()
        return result


def colorize_tiles(tiles, colors: ColorBase, dtype: str,
                   nodata=None):
    """Single-band tiles (px = raw ``dtype`` buffer) -> RGBA tiles.
    The per-tile kernel is the compiled where-chain (P6 nodata clause
    included), Arrow-batched — the numexpr-threads analogue
    (vips.py:1194-1197) on the Spark data plane."""
    import pandas as pd

    kernel = colors.rgba_kernel(nodata=nodata)
    np_dtype = np.dtype(dtype)

    def run(batches):
        for pdf in batches:
            out = []
            for buf in pdf["px"]:
                n = np.frombuffer(bytes(buf), dtype=np_dtype)
                out.append(kernel(n).tobytes())
            pdf = pdf.copy()
            pdf["px"] = out
            yield pdf

    return tiles.mapInPandas(run,
                             schema="z int, x bigint, y bigint, px binary")
