"""Hierarchical spatial indexes: the equal-angle lon/lat grid (the PIP
cover workhorse), geohash, XYZ tile/quadkey, Z-order, Hilbert, hex bins,
and an S2-STYLE cube-face spherical index (``s2_cell_*``, end of file).

Neither the ``h3`` nor ``s2`` bindings exist in this environment, so the
engine's COVER path uses a deterministic equal-angle grid — the same
filter-and-refine
role the reference fills with GEOS's ``IndexedPointInAreaLocator`` built once
per extract (reference ``cut.hpp:111``), re-cast for a distributed engine:

- every point maps to exactly one cell id at resolution ``res``
  (cell width = 180 / 2**res degrees; ~0.35km at res=16 near the equator);
- every extract polygon maps to a small *cover*: the set of cells its
  boundary could touch, each flagged ``fully_inside`` (accept without the
  exact test) or boundary (refine with exact PIP);
- the cover is broadcast and the node×extract spatial join becomes a
  cell equi-join instead of a cross join — the classic filter-and-refine
  split, with Catalyst free to hash-partition on the cell key.

Cell ids are plain int64 ``ix * 2**32 + iy`` so the encode is expressible in
*pure Catalyst arithmetic* (no UDF on the hot path) and in ANSI SQL for the
DuckDB oracle.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

from .geometry import close_ring, points_in_rings

__all__ = [
    "fdiv",
    "cell_width",
    "cell_id_expr",
    "cell_ids_np",
    "cover_rings",
    "cover_bbox",
    "compact_cover",
    "uncompact_cells",
    "neighbor_ring",
    "geohash_expr",
    "geohash_sql",
    "geohash_np",
    "tile_xy_expr",
    "tile_xy_sql",
    "quadkey_expr",
    "quadkey_sql",
    "hilbert_expr",
    "hilbert_np",
    "hilbert_d2xy_np",
    "hilbert_sql_query",
    "hexbin_expr",
    "hexbin_sql",
    "hexbin_py",
    "s2_face_uv_np",
    "s2_cell_np",
    "s2_cell_to_lonlat_np",
    "s2_parent_np",
    "s2_cell_expr",
]

def fdiv(col: Column, d: Column | int) -> Column:
    """Exact integer floor division for NON-NEGATIVE columns — THE
    grid-cell-key primitive shared by every integer ε-join/extent cover
    in ``operators/`` (neighbors, extents, segjoin, ptseg).

    ``(col - col % d) / d`` subtracts the remainder first, so the float
    division's numerator is an exact multiple of ``d`` and the result is
    IEEE-exact at ANY magnitude — a bare ``col / d`` cast is one ulp
    from flooring the wrong way once values outgrow the 2^52
    exact-integer range of doubles.
    """
    d = F.lit(d) if isinstance(d, int) else d
    return ((col - col % d) / d).cast("long")


CELL_SHIFT = 2**32


def cell_width(res: int) -> float:
    """Degrees per cell at resolution ``res``; powers of two keep the width
    binary-exact so Spark and any SQL oracle compute identical cell ids."""
    return 180.0 / (1 << res)


def cell_id_expr(lon: Column, lat: Column, res: int) -> Column:
    """Catalyst-only cell encode: floor-quantized lon/lat packed into int64.

    Stays inside whole-stage codegen — no Python on the hot path (the
    ``input_hint`` forbids per-row Python).
    """
    w = cell_width(res)
    ix = F.floor((lon + F.lit(180.0)) / F.lit(w)).cast("long")
    iy = F.floor((lat + F.lit(90.0)) / F.lit(w)).cast("long")
    return (ix * F.lit(CELL_SHIFT) + iy).cast("long")


def cell_id_sql(lon_sql: str, lat_sql: str, res: int) -> str:
    """The identical encode as an ANSI-SQL fragment (DuckDB oracle)."""
    w = cell_width(res)
    return (
        f"(CAST(floor(({lon_sql} + 180.0) / {w!r}) AS BIGINT) * {CELL_SHIFT} "
        f"+ CAST(floor(({lat_sql} + 90.0) / {w!r}) AS BIGINT))"
    )


#: (shift, mask) ladder spreading a 32-bit int so its bits occupy even
#: positions — the classic Morton magic numbers; ONE table drives the
#: Catalyst expression, the SQL twin, and the numpy reference, so the
#: three can't drift
_MORTON_SPREAD = (
    (16, 0x0000FFFF0000FFFF),
    (8, 0x00FF00FF00FF00FF),
    (4, 0x0F0F0F0F0F0F0F0F),
    (2, 0x3333333333333333),
    (1, 0x5555555555555555),
)


def _check_zorder_res(res: int) -> None:
    """Shared guard for ALL three zorder twins (expr / SQL / numpy): the
    spread ladder interleaves 16-bit coords; lon spans 2^(res+1) cells, so
    res 15 (≈ 5.5 km cells) is the max exact resolution. Without the
    guard the twins would silently alias high bits — and drift."""
    if res > 15:
        raise ValueError(f"zorder supports res <= 15, got {res}")


def _spread_expr(col: Column) -> Column:
    for shift, mask in _MORTON_SPREAD:
        col = (col.bitwiseOR(F.shiftleft(col, shift))).bitwiseAND(F.lit(mask))
    return col


def _spread_sql(sql: str) -> str:
    for shift, mask in _MORTON_SPREAD:
        sql = f"(({sql} | ({sql} << {shift})) & {mask})"
    return sql


def zorder_expr(lon: Column, lat: Column, res: int) -> Column:
    """Z-order (Morton) key: bit-interleave of the cell coordinates at
    ``res`` — points close on the curve are close in geography, so sorting
    or range-partitioning a write by this key clusters each extract's /
    bbox's rows into few files and min/max file stats prune scans (the
    layout optimization table formats call OPTIMIZE ZORDER). Pure Catalyst
    bit arithmetic, whole-stage-codegen friendly.

    Usage at write time::

        df.repartitionByRange(n, z).sortWithinPartitions(z).write...
    """
    _check_zorder_res(res)
    w = cell_width(res)
    # clamp the exact domain edge (lon=180, lat=90 land one cell past the
    # last index and would alias into the Morton high-word block)
    mx, my = (1 << (res + 1)) - 1, (1 << res) - 1
    ix = F.least(
        F.floor((lon + F.lit(180.0)) / F.lit(w)).cast("long"), F.lit(mx)
    )
    iy = F.least(
        F.floor((lat + F.lit(90.0)) / F.lit(w)).cast("long"), F.lit(my)
    )
    return (
        _spread_expr(ix).bitwiseOR(F.shiftleft(_spread_expr(iy), 1))
    ).cast("long")


def zorder_sql(lon_sql: str, lat_sql: str, res: int) -> str:
    """The identical Z-order key as a SQL fragment (DuckDB oracle)."""
    _check_zorder_res(res)
    w = cell_width(res)
    mx, my = (1 << (res + 1)) - 1, (1 << res) - 1
    ix = f"least(CAST(floor(({lon_sql} + 180.0) / {w!r}) AS BIGINT), {mx})"
    iy = f"least(CAST(floor(({lat_sql} + 90.0) / {w!r}) AS BIGINT), {my})"
    return f"({_spread_sql(ix)} | ({_spread_sql(iy)} << 1))"


# --- slippy-map XYZ tiles + quadkey ------------------------------------------

#: Web-Mercator latitude clamp (the standard atan(sinh(pi)) bound) and pi,
#: written as numeric literals so the Spark and SQL twins share the exact
#: same doubles
_MERC_MAX_LAT = 85.05112877980659
_PI = 3.141592653589793
_RAD = 0.017453292519943295  # pi / 180


def tile_xy_expr(lon: Column, lat: Column, z: int) -> tuple[Column, Column]:
    """Slippy-map (OSM/TMS XYZ) tile coordinates at zoom ``z`` — the public
    tile scheme every web map serves. x is pure float-deterministic
    arithmetic; y goes through the Web-Mercator ``ln(tan φ + 1/cos φ)``,
    written with the identical literals/shape as the SQL twin so both
    engines evaluate the same IEEE expression (libm tails differ by <1 ulp,
    ~4e-15 tiles at z=8 — certified empirically over the full synthetic
    coordinate lattice by the oracle twin at sf0.1)."""
    n = float(1 << z)
    mx = (1 << z) - 1
    x = F.least(
        F.greatest(
            F.floor((lon + F.lit(180.0)) / F.lit(360.0) * F.lit(n)).cast("long"),
            F.lit(0),
        ),
        F.lit(mx),
    )
    latc = F.least(F.greatest(lat, F.lit(-_MERC_MAX_LAT)), F.lit(_MERC_MAX_LAT))
    phi = latc * F.lit(_RAD)
    merc = F.log(F.tan(phi) + F.lit(1.0) / F.cos(phi))
    y = F.least(
        F.greatest(
            F.floor(
                (F.lit(1.0) - merc / F.lit(_PI)) / F.lit(2.0) * F.lit(n)
            ).cast("long"),
            F.lit(0),
        ),
        F.lit(mx),
    )
    return x, y


def tile_xy_sql(lon_sql: str, lat_sql: str, z: int) -> tuple[str, str]:
    """The identical XYZ encode as SQL fragments (DuckDB oracle)."""
    n = float(1 << z)
    mx = (1 << z) - 1
    x = (
        f"least(greatest(CAST(floor(({lon_sql} + 180.0) / 360.0 * {n!r}) "
        f"AS BIGINT), 0), {mx})"
    )
    latc = f"least(greatest({lat_sql}, {-_MERC_MAX_LAT!r}), {_MERC_MAX_LAT!r})"
    phi = f"({latc} * {_RAD!r})"
    merc = f"ln(tan({phi}) + 1.0 / cos({phi}))"
    y = (
        f"least(greatest(CAST(floor((1.0 - {merc} / {_PI!r}) / 2.0 * {n!r}) "
        f"AS BIGINT), 0), {mx})"
    )
    return x, y


def quadkey_expr(lon: Column, lat: Column, z: int) -> Column:
    """Bing-style quadkey: the z-digit base-4 string whose digit i packs
    (y_bit, x_bit) at level i — prefix containment IS tile ancestry, which
    makes quadkeys the string-prefix-filterable tile key. Reuses the Morton
    spread ladder; pure Catalyst."""
    if not 1 <= z <= 16:
        raise ValueError(f"quadkey supports z in [1, 16], got {z}")
    x, y = tile_xy_expr(lon, lat, z)
    code = _spread_expr(x).bitwiseOR(F.shiftleft(_spread_expr(y), 1))
    chars = [
        F.substr(
            F.lit("0123"),
            (F.shiftrightunsigned(code, 2 * (z - 1 - i)).bitwiseAND(F.lit(3)))
            + F.lit(1),
            F.lit(1),
        )
        for i in range(z)
    ]
    return F.concat(*chars)


def quadkey_sql(lon_sql: str, lat_sql: str, z: int) -> str:
    if not 1 <= z <= 16:
        raise ValueError(f"quadkey supports z in [1, 16], got {z}")
    x, y = tile_xy_sql(lon_sql, lat_sql, z)
    code = f"({_spread_sql(x)} | ({_spread_sql(y)} << 1))"
    chars = " || ".join(
        f"substr('0123', CAST((({code} >> {2 * (z - 1 - i)}) & 3) AS BIGINT) + 1, 1)"
        for i in range(z)
    )
    return f"({chars})"


# --- geohash (the third public cell index next to the H3-style grid and the
# --- Morton key; same spread ladder, so the encode stays pure Catalyst) ------

#: standard geohash base32 (no a/i/l/o) — public alphabet from the original
#: geohash.org encoding
GEOHASH_ALPHABET = "0123456789bcdefghjkmnpqrstuvwxyz"


def _check_geohash_precision(precision: int) -> None:
    """Even precisions only: an even char count means lon and lat carry the
    same number of bits (5p/2 each), which makes the interleave EXACTLY the
    Morton spread — one shared ladder for expr/SQL/numpy, no odd-bit special
    case to drift. p <= 12 keeps the packed code inside int64."""
    if precision % 2 or not 2 <= precision <= 12:
        raise ValueError(
            f"geohash precision must be even and in [2, 12], got {precision}"
        )


def _geohash_cell_width(span: float, nbits: int) -> float:
    """Cell width ``span / 2**nbits`` — span is 360 or 180, so the width is
    45 * 2**k: exactly representable, which the exact quantizer relies on."""
    return span / float(1 << nbits)


def _geohash_quant_expr(coord: Column, span: float, nbits: int) -> Column:
    """EXACT bisection-equivalent quantizer (matches the classic geohash
    interval-splitting procedure bit for bit, property-tested in
    ``tests/test_geohash.py``).

    ``floor((coord + span/2) / w)`` alone is off by one near cell boundaries
    whenever the ``+ span/2`` addition rounds away a sub-ulp epsilon (e.g.
    ``lon = -1e-313`` lands in the upper half). The correction compares
    ``coord`` against the candidate cell's EXACT boundary: ``(k0 - half) * w``
    is an integer <= 45 * 2**nbits times a power of two — exactly
    representable — so the two comparisons are exact and fix the ±1."""
    w = _geohash_cell_width(span, nbits)
    half = 1 << (nbits - 1)
    mx = (1 << nbits) - 1
    k0 = F.floor((coord + F.lit(span / 2.0)) / F.lit(w)).cast("long")
    b0 = (k0 - F.lit(half)).cast("double") * F.lit(w)
    k = (
        k0
        - F.when(coord < b0, F.lit(1)).otherwise(F.lit(0))
        + F.when(coord >= b0 + F.lit(w), F.lit(1)).otherwise(F.lit(0))
    )
    return F.least(F.greatest(k, F.lit(0)), F.lit(mx))


def _geohash_quant_sql(coord_sql: str, span: float, nbits: int) -> str:
    """The identical exact quantizer as a SQL fragment (DuckDB oracle)."""
    w = _geohash_cell_width(span, nbits)
    half = 1 << (nbits - 1)
    mx = (1 << nbits) - 1
    k0 = f"CAST(floor(({coord_sql} + {span / 2.0!r}) / {w!r}) AS BIGINT)"
    b0 = f"(CAST(({k0} - {half}) AS DOUBLE) * {w!r})"
    k = (
        f"({k0} - CASE WHEN {coord_sql} < {b0} THEN 1 ELSE 0 END"
        f" + CASE WHEN {coord_sql} >= {b0} + {w!r} THEN 1 ELSE 0 END)"
    )
    return f"least(greatest({k}, 0), {mx})"


def geohash_expr(lon: Column, lat: Column, precision: int) -> Column:
    """Standard geohash encode (geohash.org base32) as pure Catalyst
    arithmetic — quantize each coordinate to 5p/2 bits, bit-interleave with
    longitude first (the geohash rule), emit p base32 chars.

    The interleave IS the Morton spread: geohash's LSB is a latitude bit, so
    ``code = spread(lat) | spread(lon) << 1`` — identical ladder to
    :func:`zorder_expr`, whole-stage-codegen friendly, no UDF. Domain edges
    (lon=180, lat=90) clamp to the last cell like the reference encoders do.
    """
    _check_geohash_precision(precision)
    nbits = 5 * precision // 2
    lon_q = _geohash_quant_expr(lon, 360.0, nbits)
    lat_q = _geohash_quant_expr(lat, 180.0, nbits)
    code = _spread_expr(lat_q).bitwiseOR(F.shiftleft(_spread_expr(lon_q), 1))
    chars = [
        F.substr(
            F.lit(GEOHASH_ALPHABET),
            (F.shiftrightunsigned(code, 5 * (precision - 1 - i)).bitwiseAND(F.lit(31)))
            + F.lit(1),
            F.lit(1),
        )
        for i in range(precision)
    ]
    return F.concat(*chars)


def geohash_sql(lon_sql: str, lat_sql: str, precision: int) -> str:
    """The identical geohash encode as an ANSI-SQL fragment (DuckDB oracle)."""
    _check_geohash_precision(precision)
    nbits = 5 * precision // 2
    lon_q = _geohash_quant_sql(lon_sql, 360.0, nbits)
    lat_q = _geohash_quant_sql(lat_sql, 180.0, nbits)
    code = f"({_spread_sql(lat_q)} | ({_spread_sql(lon_q)} << 1))"
    chars = " || ".join(
        f"substr('{GEOHASH_ALPHABET}', "
        f"CAST((({code} >> {5 * (precision - 1 - i)}) & 31) AS BIGINT) + 1, 1)"
        for i in range(precision)
    )
    return f"({chars})"


def _geohash_quant_np(coord: np.ndarray, span: float, nbits: int) -> np.ndarray:
    """numpy twin of the exact quantizer."""
    w = _geohash_cell_width(span, nbits)
    half = 1 << (nbits - 1)
    mx = (1 << nbits) - 1
    c = np.asarray(coord, np.float64)
    k0 = np.floor((c + span / 2.0) / w).astype(np.int64)
    b0 = (k0 - half).astype(np.float64) * w
    k = k0 - (c < b0).astype(np.int64) + (c >= b0 + w).astype(np.int64)
    return np.clip(k, 0, mx)


def geohash_np(lon: np.ndarray, lat: np.ndarray, precision: int) -> list[str]:
    """numpy/python reference (tests + driver-side tooling)."""
    _check_geohash_precision(precision)
    nbits = 5 * precision // 2
    lon_q = _geohash_quant_np(lon, 360.0, nbits)
    lat_q = _geohash_quant_np(lat, 180.0, nbits)

    def spread(v):
        for shift, mask in _MORTON_SPREAD:
            v = (v | (v << shift)) & mask
        return v

    code = spread(lat_q) | (spread(lon_q) << 1)
    return [
        "".join(
            GEOHASH_ALPHABET[(int(c) >> (5 * (precision - 1 - i))) & 31]
            for i in range(precision)
        )
        for c in code
    ]


def zorder_np(lon: np.ndarray, lat: np.ndarray, res: int) -> np.ndarray:
    """numpy reference (tests + driver-side tooling)."""
    _check_zorder_res(res)
    w = cell_width(res)
    ix = np.minimum(
        np.floor((lon + 180.0) / w).astype(np.int64), (1 << (res + 1)) - 1
    )
    iy = np.minimum(
        np.floor((lat + 90.0) / w).astype(np.int64), (1 << res) - 1
    )

    def spread(v):
        for shift, mask in _MORTON_SPREAD:
            v = (v | (v << shift)) & mask
        return v

    return spread(ix) | (spread(iy) << 1)


def cell_ids_np(lon: np.ndarray, lat: np.ndarray, res: int) -> np.ndarray:
    w = cell_width(res)
    ix = np.floor((np.asarray(lon, np.float64) + 180.0) / w).astype(np.int64)
    iy = np.floor((np.asarray(lat, np.float64) + 90.0) / w).astype(np.int64)
    return ix * CELL_SHIFT + iy


def _cells_for_span(
    minlon: float, minlat: float, maxlon: float, maxlat: float, res: int
) -> tuple[np.ndarray, np.ndarray]:
    """Index ranges of cells overlapping a bbox."""
    w = cell_width(res)
    ix0 = int(np.floor((minlon + 180.0) / w))
    ix1 = int(np.floor((maxlon + 180.0) / w))
    iy0 = int(np.floor((minlat + 90.0) / w))
    iy1 = int(np.floor((maxlat + 90.0) / w))
    return np.arange(ix0, ix1 + 1), np.arange(iy0, iy1 + 1)


def pick_res(minlon, minlat, maxlon, maxlat, max_cells: int = 4096) -> int:
    """Finest resolution whose cover of the bbox stays under ``max_cells``.

    Bounds the broadcast cover size per extract regardless of extract area —
    planet-sized extracts get coarse cells, city extracts get fine ones.
    """
    for res in range(20, -1, -1):
        xs, ys = _cells_for_span(minlon, minlat, maxlon, maxlat, res)
        if len(xs) * len(ys) <= max_cells:
            return res
    return 0


def cover_rings(
    rings: list[np.ndarray], res: int, holes: list[bool] | None = None
) -> tuple[np.ndarray, np.ndarray]:
    """Cell cover of a multipolygon at resolution ``res``.

    Returns ``(cells, fully_inside)``. Classification is conservative: any
    cell whose rectangle overlaps the bbox of *any* ring edge is marked
    boundary (exact PIP will refine it); remaining covered cells contain no
    boundary, so their center's parity decides the whole cell. Conservative
    boundary marking can only add exact-PIP work, never wrong answers.
    """
    rings = [close_ring(r) for r in rings]
    from .geometry import ring_winds_globe, ring_wraps_antimeridian, rings_bbox

    minlon, minlat, maxlon, maxlat = rings_bbox(rings)
    # a ring crossing the antimeridian makes the naive bbox meaningless
    # (span covers the wrong side): widen to the full longitude range, and
    # for a globe-winding (polar-cap) ring extend latitude to the enclosed
    # pole — conservative (extra cells only refine), never wrong.
    for r in rings:
        if ring_wraps_antimeridian(r):
            minlon, maxlon = -180.0, 180.0
            wind = ring_winds_globe(r)
            if abs(wind) > 180.0:
                # same interior-on-the-left rule as the winding PIP
                # (geometry.py): eastward rim → north pole enclosed
                if wind > 0.0:
                    maxlat = 90.0
                else:
                    minlat = -90.0
    w = cell_width(res)
    xs, ys = _cells_for_span(minlon, minlat, maxlon, maxlat, res)
    nx, ny = len(xs), len(ys)
    # 0 = untouched, 1 = boundary
    touched = np.zeros((nx, ny), dtype=bool)
    x_off, y_off = xs[0], ys[0]
    def _touch_span(lon_lo, lon_hi, lat_lo, lat_hi):
        gx0 = max(int(np.floor((lon_lo + 180.0) / w)) - x_off, 0)
        gx1 = min(int(np.floor((lon_hi + 180.0) / w)) - x_off, nx - 1)
        gy0 = max(int(np.floor((lat_lo + 90.0) / w)) - y_off, 0)
        gy1 = min(int(np.floor((lat_hi + 90.0) / w)) - y_off, ny - 1)
        if gx0 <= gx1 and gy0 <= gy1:
            touched[gx0 : gx1 + 1, gy0 : gy1 + 1] = True

    for r in rings:
        for i in range(r.shape[0] - 1):
            a, b = r[i, 0], r[i, 1]
            c, d = r[i + 1, 0], r[i + 1, 1]
            lat_lo, lat_hi = min(b, d), max(b, d)
            if abs(c - a) > 180.0:
                # edge crosses the antimeridian: its true footprint is the
                # two spans touching ±180, NOT min(a,c)..max(a,c) (which is
                # the wrong, middle side of the globe)
                _touch_span(max(a, c), 180.0, lat_lo, lat_hi)
                _touch_span(-180.0, min(a, c), lat_lo, lat_hi)
            else:
                _touch_span(min(a, c), max(a, c), lat_lo, lat_hi)

    gx, gy = np.meshgrid(np.arange(nx), np.arange(ny), indexing="ij")
    gx, gy = gx.ravel(), gy.ravel()
    is_boundary = touched.ravel()
    # centers of untouched cells decide interior/exterior for the whole cell
    cx = (gx + x_off + 0.5) * w - 180.0
    cy = (gy + y_off + 0.5) * w - 90.0
    interior = np.zeros(gx.shape[0], dtype=bool)
    untouched = ~is_boundary
    if untouched.any():
        interior[untouched] = points_in_rings(
            cx[untouched], cy[untouched], rings, holes=holes
        )
    keep = is_boundary | interior
    cells = (gx[keep] + x_off).astype(np.int64) * CELL_SHIFT + (
        gy[keep] + y_off
    ).astype(np.int64)
    return cells, interior[keep]


def cover_bbox(
    minlon: float, minlat: float, maxlon: float, maxlat: float, res: int
) -> tuple[np.ndarray, np.ndarray]:
    """Cell cover of a bbox extract: interior cells strictly inside the open
    box are ``fully_inside`` (strict predicate, reference ``cut.hpp:36-40``);
    cells overlapping the boundary are refine-cells."""
    w = cell_width(res)
    xs, ys = _cells_for_span(minlon, minlat, maxlon, maxlat, res)
    gx, gy = np.meshgrid(xs, ys, indexing="ij")
    gx, gy = gx.ravel(), gy.ravel()
    lo_x = gx * w - 180.0
    hi_x = lo_x + w
    lo_y = gy * w - 90.0
    hi_y = lo_y + w
    fully = (lo_x > minlon) & (hi_x < maxlon) & (lo_y > minlat) & (hi_y < maxlat)
    cells = gx.astype(np.int64) * CELL_SHIFT + gy.astype(np.int64)
    return cells, fully


def compact_cover(
    cells: np.ndarray, fully: np.ndarray, res: int, levels: int = 3
) -> list[tuple[int, np.ndarray, np.ndarray]]:
    """H3-``compact`` analog: merge fully-inside 2x2 sibling cells into their
    parent, recursively, up to ``levels`` coarser resolutions.

    The cover of a large extract is dominated by its *interior* cells —
    O(area / w^2) rows — while only the O(perimeter / w) boundary cells do
    real refine work. Compaction rewrites the interior as a multi-resolution
    set covering exactly the same area (a parent cell at res r-1 is the
    exact union of its 4 children: both axis indices halve,
    :func:`parent-cell <osm_history_splitter_spark.operators.raster.parent_cell_expr>`
    semantics), shrinking the broadcast index toward O(perimeter) with zero
    semantic change: merged cells are fully-inside at every level, boundary
    cells are never merged and keep their exact-refine flag at the original
    resolution.

    ``levels`` bounds the number of distinct resolutions in the result
    (each extra level is one more ladder rung in the join — see
    ``assign_extracts``); 3 levels captures up to a 64x interior reduction.

    Returns ``[(res_level, cells, fully), ...]`` coarsest-first; levels with
    no cells are omitted. Area-equivalence is property-tested
    (``tests/test_compact_cover.py``).
    """
    if levels < 0:
        raise ValueError(f"levels must be >= 0, got {levels}")
    out: list[tuple[int, np.ndarray, np.ndarray]] = []
    boundary = cells[~fully]
    ix = cells[fully] // CELL_SHIFT
    iy = cells[fully] % CELL_SHIFT
    r = res
    for _ in range(levels):
        if r == 0 or ix.size < 4:
            break
        parent = (ix >> 1) * CELL_SHIFT + (iy >> 1)
        uniq, inverse, counts = np.unique(
            parent, return_inverse=True, return_counts=True
        )
        merged = counts == 4
        if not merged.any():
            break
        keep = ~merged[inverse]  # children whose parent is incomplete
        kept = ix[keep] * CELL_SHIFT + iy[keep]
        if kept.size:
            out.append((r, kept, np.ones(kept.size, dtype=bool)))
        promoted = uniq[merged]
        ix, iy = promoted // CELL_SHIFT, promoted % CELL_SHIFT
        r -= 1
    if ix.size:
        top = ix * CELL_SHIFT + iy
        out.append((r, top, np.ones(top.size, dtype=bool)))
    if boundary.size:
        out.append((res, boundary, np.zeros(boundary.size, dtype=bool)))
    # coalesce the two res-level entries (kept fine fully + boundary)
    by_res: dict[int, list[tuple[np.ndarray, np.ndarray]]] = {}
    for rr, cc, ff in out:
        by_res.setdefault(rr, []).append((cc, ff))
    return [
        (rr, np.concatenate([c for c, _ in parts]),
         np.concatenate([f for _, f in parts]))
        for rr, parts in sorted(by_res.items())
    ]


def uncompact_cells(cell: np.ndarray, res: int, to_res: int) -> np.ndarray:
    """Expand cells at ``res`` to their exact descendant set at the finer
    ``to_res`` (H3 ``uncompact`` analog; test/verification helper)."""
    if to_res < res:
        raise ValueError(f"to_res {to_res} must be >= res {res}")
    k = to_res - res
    cell = np.asarray(cell, np.int64)
    ix = (cell // CELL_SHIFT) << k
    iy = (cell % CELL_SHIFT) << k
    d = np.arange(1 << k, dtype=np.int64)
    n, K = cell.size, 1 << k
    gx = np.broadcast_to(ix[:, None, None] + d[None, :, None], (n, K, K))
    gy = np.broadcast_to(iy[:, None, None] + d[None, None, :], (n, K, K))
    return (gx * CELL_SHIFT + gy).ravel()


def neighbor_ring(cell: int, k: int) -> np.ndarray:
    """All cells within Chebyshev distance k (inclusive square ring) — the
    grid analog of H3's kRing, used by kNN candidate expansion."""
    ix, iy = divmod(int(cell), CELL_SHIFT)
    dx = np.arange(-k, k + 1)
    gx, gy = np.meshgrid(ix + dx, iy + dx, indexing="ij")
    return gx.ravel().astype(np.int64) * CELL_SHIFT + gy.ravel().astype(np.int64)


# --- Hilbert curve (the fourth public locality key, next to the H3-style
# --- cell id, the Morton key and geohash) ------------------------------------
#
# Morton interleave is pure bit-spreading (so it stays in Catalyst), but its
# locality has seams: consecutive keys jump across half the domain at block
# boundaries. The Hilbert curve has NO seams — consecutive keys are ALWAYS
# Chebyshev-adjacent cells — so range-partitioning a 100-TB write by this key
# strictly dominates Morton on file-stat pruning (each file's key range maps
# to one contiguous blob of cells, never two distant blocks). The price: the
# encode is a 15-round state machine, which unrolled in Catalyst collapses
# into an exponentially-duplicated expression tree (measured ~50µs/row — the
# optimizer re-inlines each projection), so THIS key is the one place the
# grid layer drops to the sanctioned slow path: quantization stays Catalyst,
# the bit rounds run as a vectorized Arrow pandas UDF over int64 arrays
# (~15 numpy passes per batch, no per-row Python). One numpy kernel drives
# the UDF, the reference twin and the tests; the DuckDB oracle unrolls the
# same rounds as chained CTEs (materialized per level — no tree blowup).

#: square index space: side 2^res; lon cells are 2x wider than lat cells
#: (360/2^res vs 180/2^res), the standard square-curve-over-globe layout.
def _check_hilbert_res(res: int) -> None:
    """res <= 15 keeps d = x*2^res + y inside int64 with the same headroom
    argument as the Morton ladder (tests pin the boundary)."""
    if not 1 <= res <= 15:
        raise ValueError(f"hilbert supports res in [1, 15], got {res}")


def hilbert_np(ix, iy, res: int):
    """Vectorized xy→d on the 2^res square (classic per-bit rotation walk,
    top bit down); int64 in, int64 out. THE kernel: the pandas UDF calls
    this, and the tests differential it against the SQL twin."""
    x = np.asarray(ix, dtype=np.int64).copy()
    y = np.asarray(iy, dtype=np.int64).copy()
    d = np.zeros_like(x)
    s = np.int64(1) << (res - 1)
    while s > 0:
        rx = ((x & s) > 0).astype(np.int64)
        ry = ((y & s) > 0).astype(np.int64)
        d += s * s * ((3 * rx) ^ ry)
        flip = (ry == 0) & (rx == 1)
        x[flip] = s - 1 - x[flip]
        y[flip] = s - 1 - y[flip]
        swap = ry == 0
        tmp = x[swap].copy()
        x[swap] = y[swap]
        y[swap] = tmp
        s >>= 1
    return d


def hilbert_d2xy_np(d, res: int):
    """Inverse walk d→(x, y) (bottom bit up) — the roundtrip/adjacency
    certificate in the tests; not used on any hot path."""
    t = np.asarray(d, dtype=np.int64).copy()
    x = np.zeros_like(t)
    y = np.zeros_like(t)
    s = np.int64(1)
    while s < (np.int64(1) << res):
        rx = (t // 2) & 1
        ry = (t ^ rx) & 1
        flip = (ry == 0) & (rx == 1)
        x[flip] = s - 1 - x[flip]
        y[flip] = s - 1 - y[flip]
        swap = ry == 0
        tmp = x[swap].copy()
        x[swap] = y[swap]
        y[swap] = tmp
        x += s * rx
        y += s * ry
        t //= 4
        s <<= 1
    return x, y


def _hilbert_quant(lon: Column, lat: Column, res: int) -> tuple[Column, Column]:
    """Catalyst quantization onto the 2^res square (domain-edge clamped like
    zorder_expr — lon=180 / lat=90 land one cell past the last index)."""
    side = 1 << res
    wx, wy = 360.0 / side, 180.0 / side  # binary-exact: 180/2^res * {2,1}
    ix = F.least(
        F.floor((lon + F.lit(180.0)) / F.lit(wx)).cast("long"),
        F.lit(side - 1),
    )
    iy = F.least(
        F.floor((lat + F.lit(90.0)) / F.lit(wy)).cast("long"),
        F.lit(side - 1),
    )
    return ix, iy


def _hilbert_udf(res: int):
    def _k(ix: pd.Series, iy: pd.Series) -> pd.Series:
        return pd.Series(
            hilbert_np(ix.to_numpy(np.int64), iy.to_numpy(np.int64), res)
        )

    return F.pandas_udf(_k, "long")


def hilbert_expr(lon: Column, lat: Column, res: int) -> Column:
    """Hilbert clustering key at ``res``: quantize in Catalyst, walk the
    curve in one Arrow-batched numpy kernel. Same write-time usage as
    :func:`zorder_expr` (repartitionByRange + sortWithinPartitions)."""
    _check_hilbert_res(res)
    ix, iy = _hilbert_quant(lon, lat, res)
    return _hilbert_udf(res)(ix, iy)


def hilbert_sql_query(pts_sql: str, res: int, cols: str = "id") -> str:
    """Full DuckDB query: ``cols`` plus the Hilbert key ``h`` for every row
    of ``pts_sql`` (needs lon/lat columns). The per-bit rounds unroll as
    chained CTEs — each level is a materialized projection over named
    columns, so the SQL engine never sees the exponential expression tree
    that sank the Catalyst unroll."""
    _check_hilbert_res(res)
    side = 1 << res
    wx, wy = 360.0 / side, 180.0 / side
    steps = [
        f"""l{res} AS (
  SELECT {cols},
    least(CAST(floor((lon + 180.0) / {wx!r}) AS BIGINT), {side - 1}) AS x,
    least(CAST(floor((lat + 90.0) / {wy!r}) AS BIGINT), {side - 1}) AS y,
    CAST(0 AS BIGINT) AS d
  FROM pts)"""
    ]
    for lvl in range(res - 1, -1, -1):
        s = 1 << lvl
        steps.append(
            f"""l{lvl} AS (
  SELECT {cols},
    CASE WHEN ((y >> {lvl}) & 1) = 0
         THEN (CASE WHEN ((x >> {lvl}) & 1) = 1 THEN {s - 1} - y ELSE y END)
         ELSE x END AS x,
    CASE WHEN ((y >> {lvl}) & 1) = 0
         THEN (CASE WHEN ((x >> {lvl}) & 1) = 1 THEN {s - 1} - x ELSE x END)
         ELSE y END AS y,
    d + {s * s} * xor(3 * ((x >> {lvl}) & 1), (y >> {lvl}) & 1) AS d
  FROM l{lvl + 1})"""
        )
    return (
        f"WITH pts AS ({pts_sql}),\n"
        + ",\n".join(steps)
        + f"\nSELECT {cols}, d AS h FROM l0"
    )


# ---------------------------------------------------------------------------
# Hexagonal binning (axial coordinates, pointy-top) — the H3-flavored
# aggregation lattice analysts reach for when square cells bias corner
# distances. One literal constant table drives the Catalyst expression,
# the SQL twin and the Python reference, so the three cannot drift; all
# arithmetic is IEEE-double +,−,×,÷,floor,abs — deterministic and
# bit-identical across Spark, DuckDB and CPython (no transcendentals,
# the tile_xy lesson applied preemptively).

#: sqrt(3)/3, 1/3, 2/3 as the EXACT double literals shared by all twins
_HEX_C1 = 0.5773502691896258
_HEX_C2 = 0.3333333333333333
_HEX_C3 = 0.6666666666666666


def hexbin_expr(lon: Column, lat: Column, size: float) -> tuple[Column, Column]:
    """Axial hex-bin (q, r) of a lon/lat point for pointy-top hexagons of
    edge-ish ``size`` degrees: fractional axial coords then the classic
    cube-rounding fix-up (the component with the largest rounding error
    is recomputed from the other two so q + s + r = 0 holds exactly).
    Catalyst-only — stays inside whole-stage codegen.

    round(v) is spelled floor(v + 0.5) in every twin: half-up ties, one
    agreed convention instead of three engines' defaults.
    """
    x = lon + F.lit(180.0)
    y = lat + F.lit(90.0)
    q = (x * F.lit(_HEX_C1) - y * F.lit(_HEX_C2)) / F.lit(size)
    r = y * F.lit(_HEX_C3) / F.lit(size)
    s = -q - r
    rq = F.floor(q + F.lit(0.5))
    rr = F.floor(r + F.lit(0.5))
    rs = F.floor(s + F.lit(0.5))
    dq = F.abs(rq - q)
    dr = F.abs(rr - r)
    ds = F.abs(rs - s)
    fix_q = (dq > ds) & (dq > dr)
    fix_r = ~fix_q & (dr > ds)
    hq = F.when(fix_q, -rs - rr).otherwise(rq).cast("long")
    hr = F.when(fix_r, -rq - rs).otherwise(rr).cast("long")
    return hq, hr


def hexbin_sql(lon_sql: str, lat_sql: str, size: float) -> tuple[str, str]:
    """The identical hex encode as ANSI-SQL fragments (DuckDB oracle) —
    same literals, same operation order, same floor(v + 0.5) rounding."""
    q = f"((({lon_sql}) + 180.0) * {_HEX_C1!r} - (({lat_sql}) + 90.0) * {_HEX_C2!r}) / {size!r}"
    r = f"(({lat_sql}) + 90.0) * {_HEX_C3!r} / {size!r}"
    s = f"(-({q}) - ({r}))"
    rq = f"floor(({q}) + 0.5)"
    rr = f"floor(({r}) + 0.5)"
    rs = f"floor(({s}) + 0.5)"
    dq = f"abs(({rq}) - ({q}))"
    dr = f"abs(({rr}) - ({r}))"
    ds = f"abs(({rs}) - ({s}))"
    fix_q = f"(({dq}) > ({ds}) AND ({dq}) > ({dr}))"
    fix_r = f"(NOT {fix_q} AND ({dr}) > ({ds}))"
    hq = (
        f"CAST(CASE WHEN {fix_q} THEN -({rs}) - ({rr}) "
        f"ELSE ({rq}) END AS BIGINT)"
    )
    hr = (
        f"CAST(CASE WHEN {fix_r} THEN -({rq}) - ({rs}) "
        f"ELSE ({rr}) END AS BIGINT)"
    )
    return hq, hr


def hexbin_py(lon: float, lat: float, size: float) -> tuple[int, int]:
    """CPython reference — same literals, order, and rounding; CPython
    floats ARE IEEE doubles, so this is the independent third twin."""
    import math

    x = lon + 180.0
    y = lat + 90.0
    q = (x * _HEX_C1 - y * _HEX_C2) / size
    r = y * _HEX_C3 / size
    s = -q - r
    rq = math.floor(q + 0.5)
    rr = math.floor(r + 0.5)
    rs = math.floor(s + 0.5)
    dq = abs(rq - q)
    dr = abs(rr - r)
    ds = abs(rs - s)
    if dq > ds and dq > dr:
        return int(-rs - rr), int(rr)
    if dr > ds:
        return int(rq), int(-rq - rs)
    return int(rq), int(rr)


# ---------------------------------------------------------------------------
# S2-style cube-face spherical index — the TRUE spherical member of the
# grid family (north_rule: "H3/S2 index"). The equal-angle grid above is
# the filter-and-refine workhorse (pure Catalyst + ANSI-SQL oracle), but
# it inherits lon/lat's two seams: cells shrink toward the poles (a
# polar corpus lands one row per cell across 2^res cells of skew) and
# the antimeridian splits spatial neighbors across the key space. The
# cube-face construction dissolves both, exactly the way S2 does
# (public algorithm, s2geometry.io "S2 Cell Hierarchy"; re-derived here
# from the published math — NOT the canonical cell-id bit layout, and
# no compatibility with library-generated S2 ids is claimed):
#
# 1. lift lon/lat to the unit sphere and project onto the face of the
#    circumscribed cube whose axis dominates (6 gnomonic charts, no
#    singular point anywhere — the poles are ordinary face centers);
# 2. apply S2's QUADRATIC uv→st reparameterization, which equalizes
#    projected cell areas to within ~2.1× globally (raw gnomonic is 5.2×);
# 3. quantize st to a 2^res × 2^res face grid and walk the SAME Hilbert
#    kernel as `hilbert_np` (one numpy code path for every curve in the
#    engine), so consecutive keys are adjacent cells within a face;
# 4. pack `face * 4^res + position` into int64 — res <= 30 gives ~1 cm
#    cells with the same 3-bit face headroom as canonical S2.
#
# Twin discipline: the encode crosses trig (radians/cos/sin), which is
# the one operation family libms legitimately disagree on at 1 ulp — so
# like the geodesic join layer (operators/neighbors.py) this index is
# certified by PROPERTY tests against the published projection tables +
# an exact inverse roundtrip, not by a DuckDB hash oracle; the pandas
# UDF and the reference twin share one numpy kernel so they cannot
# drift. Role in the engine: global write-layout / clustering key
# (repartitionByRange + sortWithinPartitions, like zorder/hilbert) and
# a skew-free spherical bucketing key for polar/antimeridian corpora;
# the equal-angle grid keeps the PIP cover role (its covers are
# rectangle-exact and SQL-oracle-able — the documented trade).

#: res <= 30: face(3 bits) + 2*res curve bits <= 63 — same envelope as
#: canonical S2's 30 levels
_S2_MAX_RES = 30


def _check_s2_res(res: int) -> None:
    if not 1 <= res <= _S2_MAX_RES:
        raise ValueError(
            f"s2_style supports res in [1, {_S2_MAX_RES}], got {res}"
        )


def s2_face_uv_np(lon, lat):
    """(face, u, v) of each lon/lat degree point — the published S2
    XYZtoFaceUV chart table (face = dominant axis, +3 when negative;
    |u|, |v| <= 1 by construction since the dominant component divides).
    Ties on |component| break x-then-y-then-z, a measure-zero choice."""
    lonr = np.radians(np.asarray(lon, np.float64))
    latr = np.radians(np.asarray(lat, np.float64))
    x = np.cos(latr) * np.cos(lonr)
    y = np.cos(latr) * np.sin(lonr)
    z = np.sin(latr)
    ax, ay, az = np.abs(x), np.abs(y), np.abs(z)
    axis = np.where((ax >= ay) & (ax >= az), 0, np.where(ay >= az, 1, 2))
    major = np.where(axis == 0, x, np.where(axis == 1, y, z))
    face = np.where(major >= 0, axis, axis + 3).astype(np.int64)
    # ValidFaceXYZtoUV: one (u, v) ratio pair per chart
    with np.errstate(divide="ignore", invalid="ignore"):
        u = np.select(
            [face == 0, face == 1, face == 2, face == 3, face == 4],
            [y / x, -x / y, -x / z, z / x, z / y],
            default=-y / z,
        )
        v = np.select(
            [face == 0, face == 1, face == 2, face == 3, face == 4],
            [z / x, z / y, -y / z, y / x, -x / y],
            default=-x / z,
        )
    return face, u, v


def _uv_to_st_np(u):
    """S2 quadratic projection: s = 1/2·sqrt(1+3u) (mirrored for u<0) —
    sqrt is IEEE-correctly-rounded, so this stage is bit-deterministic."""
    u = np.asarray(u, np.float64)
    with np.errstate(invalid="ignore"):  # where() evaluates both branches
        return np.where(
            u >= 0.0,
            0.5 * np.sqrt(1.0 + 3.0 * u),
            1.0 - 0.5 * np.sqrt(1.0 - 3.0 * u),
        )


def _st_to_uv_np(s):
    """Exact inverse of :func:`_uv_to_st_np`: u = (4s² − 1)/3 mirrored."""
    s = np.asarray(s, np.float64)
    return np.where(
        s >= 0.5,
        (4.0 * s * s - 1.0) / 3.0,
        -(4.0 * (1.0 - s) * (1.0 - s) - 1.0) / 3.0,
    )


def s2_cell_np(lon, lat, res: int):
    """Vectorized S2-style key: ``face * 4^res + hilbert(i, j)`` with
    (i, j) the st-grid cell on the face. int64 in/out; boundary st = 1
    clamps into the last index (the zorder/hilbert edge convention)."""
    _check_s2_res(res)
    lon = np.asarray(lon, np.float64)
    lat = np.asarray(lat, np.float64)
    # non-finite coordinates must NOT fold into a plausible cell: NaN flows
    # to face 5 and floor(NaN).astype(int64) is undefined-but-clampable, so
    # a missing coordinate would silently land in a real bucket and corrupt
    # write layout. Mask them through the kernel on 0.0 and stamp the
    # sentinel key -1 (no valid key is negative: face*4^res + hilbert >= 0).
    finite = np.isfinite(lon) & np.isfinite(lat)
    face, u, v = s2_face_uv_np(
        np.where(finite, lon, 0.0), np.where(finite, lat, 0.0)
    )
    side = np.int64(1) << res
    i = np.minimum(
        np.floor(_uv_to_st_np(u) * side).astype(np.int64), side - 1
    )
    j = np.minimum(
        np.floor(_uv_to_st_np(v) * side).astype(np.int64), side - 1
    )
    i = np.maximum(i, 0)
    j = np.maximum(j, 0)
    key = face * (np.int64(1) << (2 * res)) + hilbert_np(i, j, res)
    return np.where(finite, key, np.int64(-1))


def s2_cell_to_lonlat_np(key, res: int):
    """Cell-CENTER inverse (lon, lat degrees) — the roundtrip certificate:
    re-encoding a center at the same res must return the same key. Uses
    the published FaceUVtoXYZ chart table. Negative keys (the ``-1``
    sentinel of a missing coordinate) decode to NaN, not to a point."""
    _check_s2_res(res)
    key = np.asarray(key, np.int64)
    valid = key >= 0
    key = np.where(valid, key, 0)
    quad = np.int64(1) << (2 * res)
    face, d = key // quad, key % quad
    i, j = hilbert_d2xy_np(d, res)
    side = float(1 << res)
    u = _st_to_uv_np((i.astype(np.float64) + 0.5) / side)
    v = _st_to_uv_np((j.astype(np.float64) + 0.5) / side)
    one = np.ones_like(u)
    x = np.select(
        [face == 0, face == 1, face == 2, face == 3, face == 4],
        [one, -u, -u, -one, v],
        default=v,
    )
    y = np.select(
        [face == 0, face == 1, face == 2, face == 3, face == 4],
        [u, one, -v, -v, -one],
        default=u,
    )
    z = np.select(
        [face == 0, face == 1, face == 2, face == 3, face == 4],
        [v, v, one, -u, -u],
        default=-one,
    )
    lon = np.where(valid, np.degrees(np.arctan2(y, x)), np.nan)
    lat = np.where(valid, np.degrees(np.arctan2(z, np.hypot(x, y))), np.nan)
    return lon, lat


def s2_parent_np(key, res: int, parent_res: int):
    """Containing cell at a coarser level — pure int math, no geometry:
    the Hilbert walk is self-similar (each round consumes one bit plane
    top-down and rotations depend only on higher bits), so truncating
    2·Δres low bits of the position IS the parent's position."""
    _check_s2_res(res)
    if not 1 <= parent_res <= res:
        raise ValueError(
            f"parent_res must be in [1, {res}], got {parent_res}"
        )
    key = np.asarray(key, np.int64)
    quad = np.int64(1) << (2 * res)
    face, d = key // quad, key % quad
    dp = d >> (2 * (res - parent_res))
    return face * (np.int64(1) << (2 * parent_res)) + dp


def s2_cell_expr(lon: Column, lat: Column, res: int) -> Column:
    """Spark column: S2-style spherical key of (lon, lat) at ``res`` —
    ONE Arrow-batched pandas UDF over the shared numpy kernel (trig +
    Hilbert rounds per batch; the hilbert_expr precedent). Use exactly
    like zorder/hilbert keys: repartitionByRange + sortWithinPartitions
    at write time, groupBy for skew-free global spatial rollups.

    A NULL, NaN or infinite ``lon``/``lat`` gets the key ``-1`` (no valid
    key is negative), so such rows group together instead of landing in a
    real cell; :func:`s2_cell_to_lonlat_np` decodes ``-1`` back to NaN."""
    _check_s2_res(res)

    def _k(lo: pd.Series, la: pd.Series) -> pd.Series:
        return pd.Series(
            s2_cell_np(
                lo.to_numpy(np.float64), la.to_numpy(np.float64), res
            )
        )

    return F.pandas_udf(_k, "long")(lon, lat)
