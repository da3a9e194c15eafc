"""Round-6 kernel-optimization contracts.

The phase kernel's md5 now resumes from cached zero-prefix states and
the stitched PNG encoder groups lit rows in plain python; both must be
BIT-IDENTICAL to the naive forms (the A1 hash contract and the
sparse==buffered byte contract depend on it).
"""

import hashlib

import numpy as np
import pytest

from gdal2mbtiles_spark.operators.sparse import (_decode_contents,
                                                 _md5_sparse,
                                                 _tile_contents)
from gdal2mbtiles_spark.renderers import decode_png_rgba, encode_png_rgba


def _random_canvas(rng, max_lit_rows=60):
    arr = np.zeros((256, 256, 4), np.uint8)
    nlit = rng.randint(0, max_lit_rows)
    rows = rng.choice(256, size=nlit, replace=True)
    for r in rows:
        cols = rng.choice(256, size=rng.randint(1, 4), replace=True)
        arr[r, cols] = rng.randint(0, 256, size=(len(cols), 4),
                                   dtype=np.uint8)
    return arr, np.sort(rows.astype(np.uint8))


class TestMd5ZeroPrefix:
    def test_digest_identity_randomized(self):
        rng = np.random.RandomState(7)
        for _ in range(100):
            arr, rows = _random_canvas(rng)
            raw = arr.reshape(-1).data
            first = int(rows[0]) if len(rows) else 0
            assert (_md5_sparse(raw, first).hexdigest()
                    == hashlib.md5(raw).hexdigest())

    def test_boundary_rows(self):
        for first_content_row in (0, 1, 254, 255):
            arr = np.zeros((256, 256, 4), np.uint8)
            arr[first_content_row, 3] = (9, 8, 7, 6)
            raw = arr.reshape(-1).data
            assert (_md5_sparse(raw, first_content_row).hexdigest()
                    == hashlib.md5(raw).hexdigest())

    def test_all_zero_canvas(self):
        raw = np.zeros(256 * 256 * 4, np.uint8).data
        for first in (0, 128, 256):
            assert (_md5_sparse(raw, first).hexdigest()
                    == hashlib.md5(raw).hexdigest())


class TestStitchedHintedEncode:
    def test_hinted_equals_unhinted_with_duplicate_hints(self):
        """The kernel now passes the SORTED, possibly-duplicated lit
        pixel rows as lit_hint (it no longer np.unique's them); the
        emitted bytes must equal the unhinted encode."""
        rng = np.random.RandomState(21)
        for _ in range(60):
            arr, rows = _random_canvas(rng)
            raw = bytes(arr.reshape(-1))
            hinted = encode_png_rgba(raw, compression=1, lit_hint=rows)
            plain = encode_png_rgba(raw, compression=1)
            assert hinted == plain
            assert np.array_equal(decode_png_rgba(hinted), arr)

    def test_consecutive_and_gap_row_groups(self):
        """Exercise the rewritten group loop: runs of consecutive lit
        rows, gaps, and edge rows."""
        for lit in ([0], [255], [0, 1, 2], [10, 11, 30], [0, 255],
                    list(range(40)), [5, 5, 6, 9]):
            arr = np.zeros((256, 256, 4), np.uint8)
            for r in lit:
                arr[r, r] = (1, 2, 3, 4)
            raw = bytes(arr.reshape(-1))
            hint = np.asarray(sorted(lit), np.uint8)
            hinted = encode_png_rgba(raw, compression=1, lit_hint=hint)
            plain = encode_png_rgba(raw, compression=1)
            assert hinted == plain
            assert np.array_equal(decode_png_rgba(hinted), arr)


class TestDecodeContents:
    def test_round_trip_is_nonzero_pixels_plus_one_zero_per_tile(self):
        """_decode_contents inverts _tile_contents: it returns exactly
        the non-zero input pixels, plus one all-zero pixel at local
        (0, 0) of every tile, all-zero tiles included."""
        rng = np.random.RandomState(3)
        z = 4
        for _ in range(30):
            cells = rng.choice((256 << z) ** 2, size=rng.randint(1, 300),
                               replace=False).astype(np.int64)
            gx, gy = cells % (256 << z), cells // (256 << z)
            ch = [rng.choice([0, 0, 1, 7, 255], size=len(cells))
                  .astype(np.int64) for _ in range(4)]
            dx, dy, dch = _decode_contents(*_tile_contents(gx, gy, ch, z),
                                           z)
            lit = (ch[0] | ch[1] | ch[2] | ch[3]) != 0
            tiles = set(zip(gx >> 8, gy >> 8))
            want = sorted(
                list(zip(gx[lit], gy[lit], *(c[lit] for c in ch)))
                + [(tx << 8, ty << 8, 0, 0, 0, 0) for tx, ty in tiles])
            assert sorted(zip(dx, dy, *dch)) == want


class TestTileContents:
    def test_content_is_sorted_nonzero_pixels(self):
        """Content is lx‖ly‖r‖g‖b‖a over the tile's non-zero pixels in
        (ly, lx) order; all-zero pixels keep their tile but not a place
        in its content."""
        z = 3
        # tile (1, 0) y-down: two lit pixels (given out of order) and
        # one all-zero pixel; tile (0, 2) y-down: only an all-zero one
        gx = np.array([256 + 9, 256 + 4, 256 + 50, 17], np.int64)
        gy = np.array([30, 2, 1, 512 + 5], np.int64)
        ch = [np.array([1, 5, 0, 0], np.int64),
              np.array([2, 6, 0, 0], np.int64),
              np.array([3, 7, 0, 0], np.int64),
              np.array([4, 8, 0, 0], np.int64)]
        owner, content = _tile_contents(gx, gy, ch, z)
        tiles = {(int(o) >> 58, (int(o) >> 29) & (2 ** 29 - 1),
                  int(o) & (2 ** 29 - 1)): bytes(c)
                 for o, c in zip(owner, content)}
        assert tiles == {
            # TMS row = 2^z - 1 - y-down row
            (z, 1, 7): bytes([4, 9, 2, 30, 5, 1, 6, 2, 7, 3, 8, 4]),
            (z, 0, 5): b""}
