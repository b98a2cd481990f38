"""S2-style cube-face spherical index (functions/grid.py s2_* family).

Certification follows the geodesic-layer discipline (trig crosses libm,
so no DuckDB hash oracle): property tests against the published S2
projection charts, an exact inverse roundtrip, hierarchy self-similarity,
and Spark-expr == numpy-kernel identity on random batches — plus the two
claims the index exists to make true: no polar key-space blowup and no
antimeridian seam.
"""

from __future__ import annotations

import numpy as np
import pytest

from osm_history_splitter_spark.functions import grid

RNG = np.random.default_rng(20260819)


def _random_lonlat(n: int):
    # uniform on the sphere (not on the lon/lat rectangle) so poles get
    # their fair share of probes
    lon = RNG.uniform(-180.0, 180.0, n)
    lat = np.degrees(np.arcsin(RNG.uniform(-1.0, 1.0, n)))
    return lon, lat


def test_face_chart_table():
    # one probe per published chart: +x +y +z -x -y -z
    lon = np.array([0.0, 90.0, 10.0, 180.0, -90.0, 20.0])
    lat = np.array([0.0, 0.0, 80.0, 0.0, 0.0, -80.0])
    f, u, v = grid.s2_face_uv_np(lon, lat)
    assert f.tolist() == [0, 1, 2, 3, 4, 5]
    # face centers project to the chart origin
    assert np.allclose(u[[0, 1, 3, 4]], 0.0, atol=1e-12)
    assert np.allclose(v[[0, 1, 3, 4]], 0.0, atol=1e-12)


def test_uv_bounded_and_st_inverse():
    lon, lat = _random_lonlat(5000)
    _, u, v = grid.s2_face_uv_np(lon, lat)
    assert float(np.abs(u).max()) <= 1.0 + 1e-12
    assert float(np.abs(v).max()) <= 1.0 + 1e-12
    s = grid._uv_to_st_np(u)
    assert float(s.min()) >= -1e-12 and float(s.max()) <= 1.0 + 1e-12
    assert np.allclose(grid._st_to_uv_np(s), u, atol=1e-12)


@pytest.mark.parametrize("res", [1, 4, 12, 30])
def test_center_roundtrip(res):
    lon, lat = _random_lonlat(2000)
    k = grid.s2_cell_np(lon, lat, res)
    assert int(k.min()) >= 0 and int(k.max()) < 6 * (1 << (2 * res))
    lo, la = grid.s2_cell_to_lonlat_np(k, res)
    assert np.array_equal(grid.s2_cell_np(lo, la, res), k)


def test_parent_is_prefix():
    lon, lat = _random_lonlat(2000)
    k = grid.s2_cell_np(lon, lat, 14)
    for pres in (1, 7, 13, 14):
        assert np.array_equal(
            grid.s2_parent_np(k, 14, pres), grid.s2_cell_np(lon, lat, pres)
        )


def test_no_polar_blowup_vs_equal_angle():
    # a 0.2°-radius ring around the north pole: the equal-angle grid
    # spreads it over ~one cell per lon column; the cube-face grid keeps
    # it in a handful of face-2 cells
    res = 8
    lon = np.linspace(-179.5, 179.5, 720)
    lat = np.full_like(lon, 89.8)
    eq_cells = len(set(grid.cell_ids_np(lon, lat, res).tolist()))
    s2_cells = len(set(grid.s2_cell_np(lon, lat, res).tolist()))
    assert eq_cells > 100
    assert s2_cells < 40
    # and every ring point sits on the +z face — no singular chart
    f, _, _ = grid.s2_face_uv_np(lon, lat)
    assert (f == 2).all()


def test_no_antimeridian_seam():
    # the ±180 meridian is an ordinary CELL EDGE on the -x face chart
    # (v = 0), not a key-space seam: 0.01°-apart neighbors straddling it
    # sit on ONE chart in spatially ADJACENT cells — their centers are
    # within a couple of cell widths on the sphere. On the equal-angle
    # grid the same two points land at OPPOSITE ENDS of the x index
    # space (the seam is structural at any res).
    res = 8
    lon = np.array([179.995, -179.995])
    lat = np.array([12.0, 12.0])
    f, _, _ = grid.s2_face_uv_np(lon, lat)
    assert (f == 3).all()  # one chart covers both sides
    k = grid.s2_cell_np(lon, lat, res)
    clon, clat = grid.s2_cell_to_lonlat_np(k, res)
    # angular separation of the two cell centers, degrees (at lat 12 a
    # face cell spans ~90/2^res degrees ≈ 0.35°)
    dlon = abs(((clon[0] - clon[1]) + 180.0) % 360.0 - 180.0)
    dlat = abs(clat[0] - clat[1])
    cell_deg = 90.0 / (1 << res)
    assert dlon <= 2.5 * cell_deg and dlat <= 2.5 * cell_deg
    eq = grid.cell_ids_np(lon, lat, res)
    ix = eq // grid.CELL_SHIFT
    assert abs(int(ix[0]) - int(ix[1])) >= (1 << (res + 1)) - 2


def test_res_bounds():
    with pytest.raises(ValueError):
        grid.s2_cell_np([0.0], [0.0], 0)
    with pytest.raises(ValueError):
        grid.s2_cell_np([0.0], [0.0], 31)
    with pytest.raises(ValueError):
        grid.s2_parent_np([0], 12, 0)


def test_face_boundary_clamps():
    # lat=45 on the x/z face edge: |u| or |v| hits 1 exactly; the st=1
    # boundary clamps into the last index and the key stays in range
    lon = np.array([0.0, 0.0, 45.0, 135.0])
    lat = np.array([45.0, -45.0, 0.0, 0.0])
    for res in (1, 8, 30):
        k = grid.s2_cell_np(lon, lat, res)
        assert int(k.min()) >= 0 and int(k.max()) < 6 * (1 << (2 * res))


def test_quadratic_area_equalization():
    # the quadratic st transform's point: per-cell solid angles at a
    # coarse res stay within ~2.2x of each other (raw gnomonic is 5.2x);
    # measure via a dense uniform sphere sample
    res = 3
    lon, lat = _random_lonlat(400_000)
    k = grid.s2_cell_np(lon, lat, res)
    _, counts = np.unique(k, return_counts=True)
    assert len(counts) == 6 * 4**res  # every cell hit at this density
    ratio = counts.max() / counts.min()
    assert ratio < 2.6  # 2.1 theoretical + sampling noise headroom


def test_spark_expr_matches_kernel(spark):
    lon, lat = _random_lonlat(3000)
    df = spark.createDataFrame(
        [(i, float(lo), float(la)) for i, (lo, la) in enumerate(zip(lon, lat))],
        "id long, lon double, lat double",
    )
    from pyspark.sql import functions as F

    got = {
        r["id"]: r["k"]
        for r in df.select(
            "id", grid.s2_cell_expr(F.col("lon"), F.col("lat"), 12).alias("k")
        ).collect()
    }
    want = grid.s2_cell_np(lon, lat, 12)
    assert got == {i: int(w) for i, w in enumerate(want)}


def test_polar_file_pruning_beats_equal_angle():
    # the operational claim behind the index: range-partition a GLOBAL
    # corpus into "files" by each key and ask how many files a 2°-radius
    # polar query window touches. Equal-angle keys order primarily by
    # the lon column index, so a polar disc (which spans all lons)
    # smears across many files; s2-style keys keep the pole's
    # neighborhood on one face chart in a few curve ranges (not ONE:
    # the pole is the face center, where the curve's four quadrants
    # meet — still a constant, vs O(files) for the lon smear).
    res, files = 10, 64
    rng = np.random.default_rng(7)  # local: module RNG state is order-dependent
    lon = rng.uniform(-180.0, 180.0, 60_000)
    lat = np.degrees(np.arcsin(rng.uniform(-1.0, 1.0, 60_000)))
    eq = grid.cell_ids_np(lon, lat, res)
    s2 = grid.s2_cell_np(lon, lat, res)
    polar = lat > 88.0

    def files_touched(key):
        order = np.argsort(key, kind="stable")
        touched = 0
        for chunk in np.array_split(order, files):
            touched += bool(polar[chunk].any())
        return touched

    t_eq, t_s2 = files_touched(eq), files_touched(s2)
    assert int(polar.sum()) >= 10  # the window is populated
    assert t_s2 <= 6
    assert t_eq >= 3 * t_s2


def test_nonfinite_coords_get_sentinel():
    # a missing coordinate must NOT fold into a plausible cell (it would
    # silently corrupt write layout): every non-finite lon/lat maps to the
    # sentinel key -1, finite neighbors in the same batch are unaffected
    lon = np.array([10.0, np.nan, 10.0, np.inf, -np.inf, 10.0])
    lat = np.array([20.0, 20.0, np.nan, 20.0, 20.0, -np.inf])
    k = grid.s2_cell_np(lon, lat, 12)
    assert list(k[1:]) == [-1, -1, -1, -1, -1]
    assert k[0] == grid.s2_cell_np([10.0], [20.0], 12)[0] >= 0


def test_sentinel_key_decodes_to_nan():
    # the inverse must not turn the -1 sentinel (a missing coordinate)
    # back into a real face-5 point; valid keys in the same batch decode
    # exactly as they do alone
    lon = np.array([10.0, np.nan, -75.5])
    lat = np.array([20.0, 20.0, -33.0])
    for res in (1, 12, 30):
        k = grid.s2_cell_np(lon, lat, res)
        lo, la = grid.s2_cell_to_lonlat_np(np.append(k, -7), res)
        assert np.isnan(lo[[1, 3]]).all() and np.isnan(la[[1, 3]]).all()
        lo1, la1 = grid.s2_cell_to_lonlat_np(k[[0, 2]], res)
        assert np.array_equal(lo[[0, 2]], lo1)
        assert np.array_equal(la[[0, 2]], la1)
        assert np.array_equal(grid.s2_cell_np(lo1, la1, res), k[[0, 2]])


def test_null_coords_get_sentinel_spark(spark):
    # Spark nulls reach the Arrow kernel as NaN -> same -1 sentinel
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(0, 10.0, 20.0), (1, None, 20.0), (2, 10.0, None)],
        "id long, lon double, lat double",
    )
    got = {
        r["id"]: r["k"]
        for r in df.select(
            "id", grid.s2_cell_expr(F.col("lon"), F.col("lat"), 12).alias("k")
        ).collect()
    }
    assert got[1] == -1 and got[2] == -1 and got[0] >= 0
