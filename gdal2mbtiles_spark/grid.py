"""Pure-Python tile-grid geodesy: the zoom-cut / extents / alignment math.

This module re-derives, from published Web-Mercator / TMS formulas, the
grid arithmetic whose *semantics* are defined by the reference
implementation (ecometrica/gdal2mbtiles):

- tile / pixel dimensions per resolution  (gdal.py:886-905)
- the native-resolution "zoom cut" with its halving error tolerance
  (gdal.py:483-521)
- outward tile alignment of extents       (gdal.py:582-644)
- TMS extents + alignment validation      (gdal.py:677-713)
- world extents / borders enumeration     (gdal.py:715-772)
- offset-point origin shifting            (gdal.py:872-884)
- resolution-range validation             (vips.py:1083-1134)

Everything here is driver-side scalar math (no Spark imports); vectorized
numpy twins for the per-row paths live in ``functions/tilemath.py``.

All numbers are validated against the reference's own test expectations
(tests/test_gdal.py) — see ``tests/test_grid.py``.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field
from typing import Iterator, NamedTuple, Optional, Tuple

from .exceptions import UnalignedInputError

# --- constants (constants.py:36,44-54 in the reference) -----------------
TILE_SIDE = 256  # pixels per tile edge
# the engine's native tile relation: one TMS tile per row, px the raw
# TILE_SIDE x TILE_SIDE RGBA buffer
TILE_SCHEMA = "z int, x bigint, y bigint, px binary"
WGS84_SEMI_MAJOR = 6378137.0
EPSG_WEB_MERCATOR = 3857
EPSG_WGS84 = 4326


class XY(NamedTuple):
    """2-D value type with component-wise arithmetic.

    Same algebra as the reference's XY value type (gd_types.py:84-119);
    written fresh as a NamedTuple with float-friendly ops.
    """

    x: float
    y: float

    def __add__(self, other):  # type: ignore[override]
        return XY(self.x + other[0], self.y + other[1])

    def __sub__(self, other):
        return XY(self.x - other[0], self.y - other[1])

    def __mul__(self, k):  # type: ignore[override]
        return XY(self.x * k, self.y * k)

    def __truediv__(self, k):
        return XY(self.x / k, self.y / k)

    def floor(self) -> "XY":
        return XY(int(self.x), int(self.y))

    def almost_equal(self, other, places: Optional[int] = None,
                     delta: Optional[float] = None) -> bool:
        if self.x == other[0] and self.y == other[1]:
            return True
        if delta is not None and places is not None:
            raise TypeError("specify delta or places, not both")
        if delta is not None:
            return (abs(self.x - other[0]) <= delta
                    and abs(self.y - other[1]) <= delta)
        if places is None:
            places = 7
        return (round(abs(other[0] - self.x), places) == 0
                and round(abs(other[1] - self.y), places) == 0)


class Extents(NamedTuple):
    """(lower_left, upper_right) box; lower-left inclusive, upper-right
    exclusive for containment (gd_types.py:57-78)."""

    lower_left: XY
    upper_right: XY

    def __contains__(self, pt) -> bool:  # type: ignore[override]
        return (self.lower_left.x <= pt[0] < self.upper_right.x
                and self.lower_left.y <= pt[1] < self.upper_right.y)

    @property
    def dimensions(self) -> XY:
        return self.upper_right - self.lower_left

    def almost_equal(self, other, places=None, delta=None) -> bool:
        return (self.lower_left.almost_equal(other.lower_left,
                                             places=places, delta=delta)
                and self.upper_right.almost_equal(other.upper_right,
                                                  places=places, delta=delta))


# --- spatial reference ---------------------------------------------------

@dataclass(frozen=True)
class GridSRS:
    """Minimal spatial reference: just enough to do the grid arithmetic.

    Only two SRSs matter to the tile contract: EPSG:3857 (projected
    Web-Mercator, metres) and EPSG:4326 (geographic WGS84, degrees).
    Semantics mirror the reference's SpatialReference (gdal.py:791-905):

    - geographic SRSs have a circumference of 360 "units" (degrees);
    - ``tile_dimensions`` truncates the circumference to int before
      dividing (gdal.py:890-898 does ``int(circumference) / 2**r``);
    - geographic resolution 0 covers only a longitudinal hemisphere, so
      tile dimensions are halved (gdal.py:895-898).
    """

    epsg: int = EPSG_WEB_MERCATOR

    @property
    def is_projected(self) -> bool:
        return self.epsg != EPSG_WGS84

    def major_circumference(self) -> float:
        if not self.is_projected:
            return 360.0  # 2*pi / radians-per-degree
        return WGS84_SEMI_MAJOR * 2.0 * math.pi

    def minor_circumference(self) -> float:
        # EPSG:3857 is projected from a sphere: minor == major
        # (gdal.py:853-861).  WGS84 geographic: 360 degrees.
        return self.major_circumference()

    def world_extents(self) -> Extents:
        major = self.major_circumference() / 2.0
        minor = self.minor_circumference() / 2.0
        if not self.is_projected:
            minor /= 2.0  # +-90 degrees of latitude
        return Extents(XY(-major, -minor), XY(major, minor))

    def offset_point(self, x: float, y: float, reverse: bool = False) -> XY:
        """Shift origin to the world's lower-left corner so modular tile
        arithmetic works (gdal.py:872-884).  Geographic SRSs offset the
        minor axis by a quarter circumference (90 deg), not half."""
        major_off = self.major_circumference() / 2.0
        minor_off = self.minor_circumference() / 2.0
        if not self.is_projected:
            minor_off = self.minor_circumference() / 4.0
        if reverse:
            major_off, minor_off = -major_off, -minor_off
        return XY(x + major_off, y + minor_off)

    def tile_dimensions(self, resolution: int) -> XY:
        """Map-unit size of one tile at ``resolution`` (gdal.py:886-898).

        NOTE: the reference truncates the circumference to int before
        dividing (``int(circ) / 2**r``), but its own test suite asserts
        the *un-truncated* value to 7 places
        (tests/test_gdal.py:1026-1041: tile_size.x ~ major_circumference),
        and the sub-ppm difference is invisible to every golden (the
        zoom-cut error tolerance is circ/32768).  We pin the test-suite
        semantics: no truncation.
        """
        width = self.major_circumference() / 2 ** resolution
        height = self.minor_circumference() / 2 ** resolution
        if not self.is_projected:
            width /= 2.0
            height /= 2.0
        return XY(width, height)

    def pixel_dimensions(self, resolution: int) -> XY:
        return self.tile_dimensions(resolution) / TILE_SIDE

    def tiles_count(self, extents: Extents, resolution: int) -> XY:
        width, height = extents.dimensions
        tdim = self.tile_dimensions(resolution)
        return XY(int(round(width / tdim.x)), int(round(height / tdim.y)))


SRS_MERCATOR = GridSRS(EPSG_WEB_MERCATOR)
SRS_WGS84 = GridSRS(EPSG_WGS84)


# --- coordinate transforms (closed form, no PROJ) ------------------------

def wgs84_to_mercator(lon: float, lat: float) -> Tuple[float, float]:
    """EPSG:4326 -> EPSG:3857 (standard spherical-Mercator forward)."""
    x = WGS84_SEMI_MAJOR * math.radians(lon)
    y = WGS84_SEMI_MAJOR * math.log(math.tan(math.pi / 4.0
                                             + math.radians(lat) / 2.0))
    return x, y


def mercator_to_wgs84(x: float, y: float) -> Tuple[float, float]:
    """EPSG:3857 -> EPSG:4326 (inverse spherical Mercator); used for the
    MBTiles `bounds` metadata (storages.py:260-271 semantics)."""
    lon = math.degrees(x / WGS84_SEMI_MAJOR)
    lat = math.degrees(2.0 * math.atan(math.exp(y / WGS84_SEMI_MAJOR))
                       - math.pi / 2.0)
    return lon, lat


@dataclass(frozen=True)
class CoordTransform:
    """Pair of GridSRSs with a TransformPoint, like the reference's
    CoordinateTransformation (gdal.py:398-406) but closed-form."""

    src_ref: GridSRS
    dst_ref: GridSRS

    def transform_point(self, x: float, y: float) -> Tuple[float, float]:
        if self.src_ref.epsg == self.dst_ref.epsg:
            return x, y
        if (self.src_ref.epsg, self.dst_ref.epsg) == (EPSG_WGS84,
                                                      EPSG_WEB_MERCATOR):
            return wgs84_to_mercator(x, y)
        if (self.src_ref.epsg, self.dst_ref.epsg) == (EPSG_WEB_MERCATOR,
                                                      EPSG_WGS84):
            return mercator_to_wgs84(x, y)
        raise ValueError(f"unsupported transform {self.src_ref.epsg} -> "
                         f"{self.dst_ref.epsg}")


# --- raster metadata ------------------------------------------------------

@dataclass
class RasterMeta:
    """Driver-side description of a (virtual) raster: the broadcastable
    metadata struct that replaces the reference's GDAL Dataset handle
    (SURVEY.md §1.1).  geotransform is the GDAL 6-tuple affine
    ``(x0, px_w, rot, y0, rot, px_h)``.
    """

    xsize: int
    ysize: int
    geotransform: Tuple[float, float, float, float, float, float]
    srs: GridSRS = field(default_factory=lambda: SRS_MERCATOR)
    bands: int = 4
    nodata: Optional[float] = None
    dtype: str = "uint8"

    # -- basic affine ------------------------------------------------------
    def pixel_dimensions(self) -> XY:
        gt = self.geotransform
        return XY(gt[1], gt[5])

    def pixel_coordinates(self, px: float, py: float,
                          transform: Optional[CoordTransform] = None) -> XY:
        """Pixel -> map coords via the geotransform (gdal.py:528-553)."""
        if not 0 <= px <= self.xsize:
            raise ValueError(f"x {px!r} is not between 0 and {self.xsize}")
        if not 0 <= py <= self.ysize:
            raise ValueError(f"y {py!r} is not between 0 and {self.ysize}")
        gt = self.geotransform
        pt = XY(gt[0] + gt[1] * px + gt[2] * py,
                gt[3] + gt[4] * px + gt[5] * py)
        if transform is None:
            return pt
        return XY(*transform.transform_point(pt.x, pt.y))

    def extents(self, transform: Optional[CoordTransform] = None) -> Extents:
        """(lower-left, upper-right) of the four projected corners
        (gdal.py:555-580)."""
        corners = [self.pixel_coordinates(px, py, transform=transform)
                   for px in (0, self.xsize) for py in (0, self.ysize)]
        xs = [c.x for c in corners]
        ys = [c.y for c in corners]
        return Extents(XY(min(xs), min(ys)), XY(max(xs), max(ys)))

    def _dst_ref(self, transform: Optional[CoordTransform]) -> GridSRS:
        return self.srs if transform is None else transform.dst_ref

    # -- the zoom cut --------------------------------------------------------
    def native_resolution(self, transform: Optional[CoordTransform] = None,
                          maximum: Optional[int] = None) -> int:
        """Smallest resolution whose pixels are at most ``error`` larger
        than the source pixels, with the tolerance halving per level
        (gdal.py:483-521).  Guarantees e.g. a 258-px world chooses z0
        (tests/test_vips.py:178-190)."""
        w, h = self.pixel_dimensions()
        src_pixel = min(abs(w), abs(h))
        if transform is None:
            dst_pixel = src_pixel
            dst_ref = self.srs
        else:
            dst_pixel = abs(transform.transform_point(src_pixel, 0.0)[0])
            dst_ref = transform.dst_ref

        error = max(dst_ref.pixel_dimensions(0)) / 128.0
        resolution = 0
        while True:
            if maximum is not None and resolution >= maximum:
                return resolution
            res_pixel = max(dst_ref.pixel_dimensions(resolution))
            if (res_pixel - dst_pixel) <= error:
                return resolution
            error /= 2.0
            resolution += 1

    def is_whole_world(self, resolution: Optional[int] = None) -> bool:
        """Extents within one pixel of the world extents (gdal.py:431-448)."""
        if resolution is None:
            resolution = self.native_resolution()
        world = self.srs.world_extents()
        ext = self.extents()
        ll = world.lower_left - ext.lower_left
        ur = world.upper_right - ext.upper_right
        psz = self.srs.pixel_dimensions(resolution)
        return (abs(ll.x) <= psz.x and abs(ll.y) <= psz.y
                and abs(ur.x) <= psz.x and abs(ur.y) <= psz.y)

    # -- alignment -------------------------------------------------------------
    def tiled_extents(self, transform: Optional[CoordTransform] = None,
                      resolution: Optional[int] = None) -> Extents:
        """Extents rounded *outward* to the tile grid, with a one-pixel
        slack rule: an edge within one pixel of the next tile boundary
        snaps outward to it (gdal.py:582-644)."""
        if resolution is None:
            resolution = self.native_resolution(transform=transform)
        srs = self._dst_ref(transform)
        tile_w, tile_h = srs.tile_dimensions(resolution)
        pix_w, pix_h = srs.pixel_dimensions(resolution)
        ext = self.extents(transform=transform)

        left, bottom = srs.offset_point(*ext.lower_left)
        right, top = srs.offset_point(*ext.upper_right)

        off = left % tile_w
        left = left - off if off <= (tile_w - pix_w) else left + (tile_w - off)
        off = (-right) % tile_w
        right = right + off if off <= (tile_w - pix_w) else right - (tile_w - off)
        off = bottom % tile_h
        bottom = (bottom - off if off <= (tile_h - pix_h)
                  else bottom + (tile_h - off))
        off = (-top) % tile_h
        top = top + off if off <= (tile_h - pix_h) else top - (tile_h - off)

        left, bottom = srs.offset_point(left, bottom, reverse=True)
        right, top = srs.offset_point(right, top, reverse=True)

        world = srs.world_extents()
        return Extents(
            XY(max(left, world.lower_left.x), max(bottom, world.lower_left.y)),
            XY(min(right, world.upper_right.x), min(top, world.upper_right.y)))

    def tms_extents(self, resolution: Optional[int] = None,
                    transform: Optional[CoordTransform] = None) -> Extents:
        """Integer TMS tile range: lower-left inclusive, upper-right
        exclusive.  Raises UnalignedInputError when the dataset is not
        tile-aligned within one pixel (gdal.py:677-713)."""
        if resolution is None:
            resolution = self.native_resolution(transform=transform)
        srs = self._dst_ref(transform)
        tile_w, tile_h = srs.tile_dimensions(resolution)
        # NB: tiled extents are taken at *native* resolution regardless of
        # the requested one (gdal.py:694-696 passes no resolution); the
        # division below then relies on py3 banker's rounding of
        # half-tiles (e.g. the aligned quadrant at z1 -> (0,0)-(1,1)).
        ext = self.tiled_extents(transform=transform)
        psz = srs.pixel_dimensions(resolution)
        if not ext.almost_equal(self.extents(transform=transform),
                                delta=min(psz)):
            raise UnalignedInputError("Dataset is not aligned to TMS grid")
        left, bottom = srs.offset_point(*ext.lower_left)
        right, top = srs.offset_point(*ext.upper_right)
        return Extents(XY(int(round(left / tile_w)),
                          int(round(bottom / tile_h))),
                       XY(int(round(right / tile_w)),
                          int(round(top / tile_h))))

    def world_tms_extents(self, resolution: Optional[int] = None,
                          transform: Optional[CoordTransform] = None
                          ) -> Extents:
        """Full-world tile range at ``resolution`` (gdal.py:745-759)."""
        if resolution is None:
            resolution = self.native_resolution()
        srs = self._dst_ref(transform)
        n = srs.tiles_count(srs.world_extents(), resolution)
        return Extents(XY(0, 0), n)

    def world_tms_borders(self, resolution: Optional[int] = None,
                          transform: Optional[CoordTransform] = None
                          ) -> Iterator[XY]:
        """Tiles inside the world grid but outside the dataset
        (gdal.py:761-772) — the anti-join the border fill consumes."""
        world = self.world_tms_extents(resolution=resolution,
                                       transform=transform)
        data = self.tms_extents(resolution=resolution, transform=transform)
        return (XY(x, y)
                for x in range(int(world.lower_left.x),
                               int(world.upper_right.x))
                for y in range(int(world.lower_left.y),
                               int(world.upper_right.y))
                if XY(x, y) not in data)

    # -- scaling -----------------------------------------------------------------
    def scaling_ratios(self, resolution: Optional[int] = None,
                       places: Optional[int] = None) -> XY:
        """src/dst pixel-size ratios for resampling to ``resolution``
        (gdal.py:646-675); py3 round (banker's) when places given."""
        if resolution is None:
            resolution = self.native_resolution()
        dstp = self.srs.pixel_dimensions(resolution)
        srcp = self.pixel_dimensions()
        xs, ys = abs(srcp.x / dstp.x), abs(srcp.y / dstp.y)
        if places is not None:
            xs, ys = round(xs, places), round(ys, places)
        return XY(xs, ys)

    def world_scaling_ratios(self, resolution: Optional[int] = None,
                             places: Optional[int] = None) -> XY:
        """Fit-to-whole-world variant; y is capped at x so the world
        stays square (gdal.py:715-743)."""
        if resolution is None:
            resolution = self.native_resolution()
        world = self.srs.world_extents().dimensions
        srcp = XY(world.x / self.xsize, world.y / self.ysize)
        dstp = self.srs.pixel_dimensions(resolution)
        xs = abs(srcp.x / dstp.x)
        ys = min(xs, abs(srcp.y / dstp.y))
        if places is not None:
            xs, ys = round(xs, places), round(ys, places)
        return XY(xs, ys)


def validate_resolutions(resolution: int,
                         min_resolution: Optional[int] = None,
                         max_resolution: Optional[int] = None,
                         strict: bool = True):
    """Range rules for (min, native, max) resolutions with the reference's
    exact error strings (vips.py:1083-1134; CLI tests
    tests/test_scripts.py:142-169)."""
    if min_resolution is not None:
        if not strict:
            if min_resolution < 0:
                raise ValueError(
                    f"min_resolution {min_resolution!r} must be greater "
                    f"than 0")
            if max_resolution is None and min_resolution > resolution:
                raise ValueError(
                    f"min_resolution {min_resolution!r} must be between "
                    f"0 and {resolution}")
            if max_resolution is not None and min_resolution > max_resolution:
                raise ValueError(
                    f"min_resolution {min_resolution!r} must be between "
                    f"0 and {max_resolution}")
        elif not 0 <= min_resolution < resolution:
            raise ValueError(
                f"min_resolution {min_resolution!r} must be between 0 and "
                f"{resolution}")

    if max_resolution is not None:
        if strict and max_resolution < resolution:
            raise ValueError(
                f"max_resolution {max_resolution!r} must be greater than "
                f"{resolution}")
        if (not strict and resolution > max_resolution
                and min_resolution is None):
            raise ValueError(
                f"max_resolution {max_resolution!r} must be greater than "
                f"{min_resolution}")

    return min_resolution, max_resolution


def whole_world_raster_meta(xsize: int, ysize: int,
                            srs: GridSRS = SRS_MERCATOR,
                            bands: int = 4) -> RasterMeta:
    """Convenience: a raster covering the full world extents."""
    world = srs.world_extents()
    dim = world.dimensions
    return RasterMeta(
        xsize=xsize, ysize=ysize,
        geotransform=(world.lower_left.x, dim.x / xsize, 0.0,
                      world.upper_right.y, 0.0, -dim.y / ysize),
        srs=srs, bands=bands)
