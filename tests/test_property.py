"""Property-based tests (hypothesis) for the deterministic pure-numpy
kernels — the invariants every Spark/DuckDB emission relies on. The
reference tests only hand-picked goldens (SURVEY.md §5.1); these close the
input-space gap for the engine's own keystone math."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from geografir_spark.geo import cells
from geografir_spark.geo.wkt import bounds, parse_wkt, to_wkt

LON = st.floats(min_value=-180.0, max_value=179.999999, allow_nan=False)
LAT = st.floats(min_value=-90.0, max_value=89.999999, allow_nan=False)
RESOLUTION = st.integers(min_value=0, max_value=cells.MAX_RES)


@given(st.integers(min_value=0, max_value=(1 << 31) - 1))
def test_spread_compact_roundtrip(v):
    a = np.asarray([v], dtype=np.int64)
    assert cells._compact_np(cells._spread_np(a))[0] == v


@given(LON, LAT, RESOLUTION)
def test_encode_decode_consistency(lon, lat, res):
    cell = int(cells.encode_np(np.asarray([lon]), np.asarray([lat]), res)[0])
    xi, yi, r = cells.decode_np(np.asarray([cell]))
    assert r[0] == res
    assert xi[0] == cells.axis_index_np(np.asarray([lon]), res, lat=False)[0]
    assert yi[0] == cells.axis_index_np(np.asarray([lat]), res, lat=True)[0]
    # the cell's bounds contain the encoded point (up to the float grid snap
    # that axis_index's floor performs; clip keeps edge points in-world)
    minx, miny, maxx, maxy = (v[0] for v in cells.cell_bounds_np(np.asarray([cell])))
    cw, ch = cells.cell_size(res)
    assert minx - cw * 1e-9 <= lon <= maxx + cw * 1e-9
    assert miny - ch * 1e-9 <= lat <= maxy + ch * 1e-9


@given(LON, LAT, RESOLUTION, st.data())
def test_parent_cell_contains_child(lon, lat, res, data):
    pres = data.draw(st.integers(min_value=0, max_value=res))
    cell = int(cells.encode_np(np.asarray([lon]), np.asarray([lat]), res)[0])
    xi, yi, _ = cells.decode_np(np.asarray([cell]))
    parent = int(
        cells.encode_idx_np(
            np.asarray([xi[0] >> (res - pres)]), np.asarray([yi[0] >> (res - pres)]), pres
        )[0]
    )
    pminx, pminy, pmaxx, pmaxy = (
        v[0] for v in cells.cell_bounds_np(np.asarray([parent]))
    )
    cminx, cminy, cmaxx, cmaxy = (v[0] for v in cells.cell_bounds_np(np.asarray([cell])))
    eps = 1e-9
    assert pminx - eps <= cminx and cmaxx <= pmaxx + eps
    assert pminy - eps <= cminy and cmaxy <= pmaxy + eps


@given(LON, LAT, st.integers(min_value=2, max_value=8),
       st.integers(min_value=0, max_value=3))
def test_ring_disk_invariants(lon, lat, res, k):
    cell = int(cells.encode_np(np.asarray([lon]), np.asarray([lat]), res)[0])
    disk = set(int(c) for c in cells.disk_np(cell, k))
    rings = [set(int(c) for c in cells.ring_np(cell, j)) for j in range(k + 1)]
    # rings partition the disk
    assert set().union(*rings) == disk
    assert sum(len(r) for r in rings) == len(disk)
    # every ring-j cell is at chebyshev distance exactly j
    xi0, yi0, _ = cells.decode_np(np.asarray([cell]))
    for j, ring in enumerate(rings):
        for c in ring:
            xi, yi, r = cells.decode_np(np.asarray([c]))
            assert r[0] == res
            assert max(abs(int(xi[0]) - int(xi0[0])), abs(int(yi[0]) - int(yi0[0]))) == j


COORD = st.floats(
    min_value=-1e6, max_value=1e6, allow_nan=False,
    allow_subnormal=False,
)
POINTS = st.lists(st.tuples(COORD, COORD), min_size=2, max_size=6)


@given(POINTS)
def test_wkt_linestring_roundtrip(pts):
    wkt = "LINESTRING (" + ", ".join(f"{x!r} {y!r}" for x, y in pts) + ")"
    g1 = parse_wkt(wkt)
    g2 = parse_wkt(to_wkt(g1))
    assert to_wkt(g1) == to_wkt(g2)
    minx, miny, maxx, maxy = bounds(g1)
    xs, ys = [p[0] for p in pts], [p[1] for p in pts]
    assert (minx, miny, maxx, maxy) == (min(xs), min(ys), max(xs), max(ys))


@given(COORD, COORD)
def test_wkt_point_roundtrip(x, y):
    g = parse_wkt(f"POINT ({x!r} {y!r})")
    assert to_wkt(parse_wkt(to_wkt(g))) == to_wkt(g)
    assert bounds(g) == (x, y, x, y)


_INT_DTYPES = ["uint8", "int16", "uint16", "int32", "uint32"]


@given(st.sampled_from(_INT_DTYPES), st.integers(min_value=-(2**40), max_value=2**40))
def test_nodata_lattice_int_dtypes(dtype, nodata):
    from geografir_spark.raster.model import ensure_valid_nodata

    info = np.iinfo(np.dtype(dtype))
    if info.min <= nodata <= info.max:
        assert ensure_valid_nodata(nodata, np.dtype(dtype)) == nodata
    else:
        with pytest.raises(ValueError):
            ensure_valid_nodata(nodata, np.dtype(dtype))


@given(st.sampled_from(_INT_DTYPES))
def test_nodata_lattice_rejects_nan_and_fractions(dtype):
    from geografir_spark.raster.model import ensure_valid_nodata

    with pytest.raises(ValueError):
        ensure_valid_nodata(float("nan"), np.dtype(dtype))
    with pytest.raises(ValueError):
        ensure_valid_nodata(0.5, np.dtype(dtype))


@settings(max_examples=25, deadline=None)
@given(
    st.sampled_from(["uint8", "int16", "int32", "float32", "float64"]),
    st.integers(min_value=1, max_value=3),
    st.integers(min_value=1, max_value=40),
    st.integers(min_value=1, max_value=40),
    st.integers(min_value=0, max_value=2**31),
)
def test_geotiff_roundtrip_random(dtype, count, h, w, seed):
    from geografir_spark.raster.geotiff import decode_geotiff, encode_geotiff

    rng = np.random.RandomState(seed % (2**31))
    a = rng.randint(0, 100, size=(count, h, w)).astype(dtype)
    data = encode_geotiff(
        a, crs="EPSG:4326", transform=(0.5, 0.0, -1.0, 0.0, -0.25, 9.0), nodata=0,
        tile=16,
    )
    out, meta = decode_geotiff(data)
    np.testing.assert_array_equal(out, a)
    assert (meta["count"], meta["height"], meta["width"]) == (count, h, w)


@settings(max_examples=15, deadline=None)
@given(
    st.sampled_from(["uint8", "int16", "float32"]),
    st.integers(min_value=1, max_value=2),
    st.integers(min_value=1, max_value=400),
    st.integers(min_value=1, max_value=400),
    st.integers(min_value=0, max_value=2**31),
)
def test_cog_pyramid_random(dtype, count, h, w, seed):
    """Every pyramid level of a random COG equals the stride-2^k decimation
    of the source; the chain stops once a level fits one tile."""
    from geografir_spark.raster.geotiff import cog_info, decode_geotiff, encode_cog

    rng = np.random.RandomState(seed % (2**31))
    a = rng.randint(0, 50, size=(count, h, w)).astype(dtype)
    data = encode_cog(
        a, crs="EPSG:4326", transform=(1.0, 0.0, 0.0, 0.0, -1.0, float(h)),
        nodata=0, tile=64,
    )
    info = cog_info(data)
    assert max(info[-1]["width"], info[-1]["height"]) <= 64 or len(info) == 1
    for k in range(len(info)):
        out, meta = decode_geotiff(data, overview=k)
        np.testing.assert_array_equal(out, a[:, :: 2**k, :: 2**k])
        assert meta["transform"][0] == pytest.approx(2.0**k)


COORD = st.floats(min_value=-50.0, max_value=50.0, allow_nan=False, width=64)


@given(COORD, COORD, COORD, COORD, COORD, COORD, st.floats(min_value=0.1, max_value=20.0))
@settings(max_examples=300, deadline=None)
def test_segment_rect_sat_vs_sampling(x0, y0, x1, y1, rx, ry, side):
    """One-sided completeness of the exact SAT segment-rect test: if ANY
    densely-sampled point of the segment lies in the closed rect, SAT must
    report an intersection (no false dismissals — the property that makes
    full-cell classification safe). Plus: disjoint bboxes ⟹ no hit."""
    from geografir_spark.geo.kernels import segments_intersect_rects

    rminx, rminy = rx, ry
    rmaxx, rmaxy = rx + side, ry + side
    got = segments_intersect_rects(
        np.array([x0]), np.array([y0]), np.array([x1]), np.array([y1]),
        np.array([rminx]), np.array([rminy]), np.array([rmaxx]), np.array([rmaxy]),
    )[0, 0]
    t = np.linspace(0.0, 1.0, 2001)
    # endpoint-exact lerp; and require a small interior margin so float
    # rounding of interior samples can't fabricate a touch the true segment
    # doesn't have (hypothesis found x1=6.6e-221 where x0+(x1-x0)*1.0
    # rounds to 0.0 and "hits" a rect the segment misses)
    px = (1.0 - t) * x0 + t * x1
    py = (1.0 - t) * y0 + t * y1
    eps = 1e-9 * max(abs(x0), abs(x1), abs(y0), abs(y1), side, 1.0)
    sampled_hit = bool(
        ((px >= rminx + eps) & (px <= rmaxx - eps)
         & (py >= rminy + eps) & (py <= rmaxy - eps)).any()
    )
    if sampled_hit:
        assert got, "sampled point inside rect but SAT said no intersection"
    bbox_disjoint = (
        max(x0, x1) < rminx or min(x0, x1) > rmaxx
        or max(y0, y1) < rminy or min(y0, y1) > rmaxy
    )
    if bbox_disjoint:
        assert not got


def test_segment_rect_sat_exact_cases():
    from geografir_spark.geo.kernels import segments_intersect_rects

    def one(seg, rect):
        return bool(segments_intersect_rects(
            *(np.array([v]) for v in seg), *(np.array([v]) for v in rect)
        )[0, 0])

    r = (0.0, 0.0, 1.0, 1.0)
    assert one((-1.0, 0.5, 2.0, 0.5), r)          # pass-through, endpoints out
    assert one((0.25, 0.25, 0.75, 0.75), r)       # fully inside
    assert one((-1.0, -1.0, 0.0, 0.0), r)         # touches corner
    assert one((-1.0, 1.0, 1.0, 1.0), r)          # collinear with top edge
    assert not one((-1.0, 1.5, 2.0, 1.5), r)      # parallel above
    assert not one((-2.0, 0.0, 0.0, 2.5), r)      # line passes NE of rect
    assert not one((1.2, -1.0, 1.2, 2.0), r)      # vertical to the right


@given(
    st.lists(
        st.tuples(LON, LAT), min_size=1, max_size=40, unique=True
    ),
    RESOLUTION,
)
@settings(max_examples=60, deadline=None)
def test_compact_uncompact_property(points, res):
    """compact∘uncompact is the identity on any base-res cell set, and the
    compacted set is never larger."""
    from geografir_spark.geo.cells import compact_np, encode_np, uncompact_np

    lons = np.array([p[0] for p in points])
    lats = np.array([p[1] for p in points])
    cells_set = np.unique(encode_np(lons, lats, res))
    compacted = compact_np(cells_set)
    assert len(compacted) <= len(cells_set)
    back = uncompact_np(compacted, res)
    np.testing.assert_array_equal(back, np.sort(cells_set))


# --- r5 surfaces: media codecs, datum transforms, fingerprint repr ----------


@given(
    st.integers(min_value=1, max_value=40),   # h
    st.integers(min_value=1, max_value=40),   # w
    st.sampled_from([1, 3]),                  # channels
    st.integers(min_value=0, max_value=2**32 - 1),
)
@settings(max_examples=40, deadline=None)
def test_netpbm_roundtrip_property(h, w, c, seed):
    from geografir_spark.operators.media_codecs import (
        decode_netpbm, encode_netpbm,
    )

    rng = np.random.RandomState(seed % (2**31))
    img = rng.randint(0, 256, size=(h, w, c)).astype(np.uint8)
    out = decode_netpbm(encode_netpbm(img if c == 3 else img[:, :, 0]))
    np.testing.assert_array_equal(out, img)


@given(
    st.integers(min_value=1, max_value=30),
    st.integers(min_value=1, max_value=30),
    st.integers(min_value=0, max_value=2**32 - 1),
)
@settings(max_examples=40, deadline=None)
def test_bmp_roundtrip_property(h, w, seed):
    from geografir_spark.operators.media_codecs import decode_bmp, encode_bmp

    rng = np.random.RandomState(seed % (2**31))
    img = rng.randint(0, 256, size=(h, w, 3)).astype(np.uint8)
    np.testing.assert_array_equal(decode_bmp(encode_bmp(img)), img)


@given(
    st.integers(min_value=1, max_value=2000),  # n samples
    st.sampled_from([1, 2, 4]),                # channels
    st.integers(min_value=0, max_value=2**32 - 1),
)
@settings(max_examples=40, deadline=None)
def test_wav_roundtrip_property(n, ch, seed):
    from geografir_spark.operators.media_codecs import decode_wav, encode_wav

    rng = np.random.RandomState(seed % (2**31))
    samples = rng.randint(-32768, 32768, size=(n, ch)).astype(np.int16)
    out = decode_wav(encode_wav(samples, sample_rate=16000))
    np.testing.assert_array_equal(out, samples)


@given(
    st.floats(min_value=-7.5, max_value=1.8, allow_nan=False),   # Britain lon
    st.floats(min_value=49.8, max_value=60.8, allow_nan=False),  # Britain lat
)
@settings(max_examples=60, deadline=None)
def test_bng_roundtrip_property(lon, lat):
    """EPSG:4326 → 27700 → 4326 over the BNG region of use: the full
    projection+datum pipeline must invert to <1e-6° (~10 cm)."""
    from geografir_spark.geo.crs import get_transform

    f = get_transform(4326, 27700)
    g = get_transform(27700, 4326)
    lon2, lat2 = g(*f(np.asarray([lon]), np.asarray([lat])))
    assert abs(float(lon2[0]) - lon) < 1e-6
    assert abs(float(lat2[0]) - lat) < 1e-6
