"""CRS normalization + vendored transform tests.

Golden reprojection pairs are the reference's own fixtures
(geometry/tests/test_geometry.py:95-138), checked with the reference's
tolerance (equals_exact 0.01, :153-155).
"""

from __future__ import annotations

import numpy as np
import pytest

from geografir_spark.geo import crs as crsmod


@pytest.mark.parametrize(
    "spec,expected",
    [
        (4326, "EPSG:4326"),
        ("EPSG:4326", "EPSG:4326"),
        ("epsg:4326", "EPSG:4326"),
        ("4326", "EPSG:4326"),
        (3857, "EPSG:3857"),
        (32633, "EPSG:32633"),
        (2154, "EPSG:2154"),
        ("urn:ogc:def:crs:EPSG::26910", "EPSG:26910"),
    ],
)
def test_ensure_crs(spec, expected):
    assert crsmod.ensure_crs(spec) == expected


def test_ensure_crs_invalid():
    with pytest.raises(crsmod.CRSError, match="Invalid target CRS specification"):
        crsmod.ensure_crs("invalid_crs")
    with pytest.raises(crsmod.CRSError):
        crsmod.ensure_crs(None)  # type: ignore[arg-type]


# golden: (src_crs, (x, y), dst_crs, (x2, y2)) — test_geometry.py:95-138
GOLDENS = [
    (4326, (-120.185, 39.3569), 26910, (742545.777, 4360163.483)),
    (26910, (742545.777, 4360163.483), 4326, (-120.185, 39.3569)),
    (4326, (-119.2265119, 47.1494626), 5070, (-1753062.53068809, 2899526.83714174)),
    (4326, (-76.8890466, 40.6633579), 5070, (1591497.34267417, 2121855.51950513)),
    (4326, (-98.5617967, 29.3224771), 5070, (-248908.09041749, 697602.45076673)),
    (5070, (-1753062.53068809, 2899526.83714174), 4326, (-119.2265119, 47.1494626)),
    (5070, (1591497.34267417, 2121855.51950513), 4326, (-76.8890466, 40.6633579)),
    (5070, (-248908.09041749, 697602.45076673), 4326, (-98.5617967, 29.3224771)),
]


@pytest.mark.parametrize("src,pt,dst,expected", GOLDENS)
def test_transform_goldens(src, pt, dst, expected):
    xform = crsmod.get_transform(src, dst)
    x, y = xform(np.asarray([pt[0]]), np.asarray([pt[1]]))
    # reference tolerance: shapely equals_exact(tolerance=0.01)
    assert abs(x[0] - expected[0]) <= 0.01, (x[0], expected[0])
    assert abs(y[0] - expected[1]) <= 0.01, (y[0], expected[1])


def test_transform_roundtrips():
    rng = np.random.default_rng(7)
    lon = rng.uniform(-125, -67, 200)
    lat = rng.uniform(25, 49, 200)
    for code in (5070, 3857, 26910, 32610):
        fwd = crsmod.get_transform(4326, code)
        inv = crsmod.get_transform(code, 4326)
        x, y = fwd(lon, lat)
        lon2, lat2 = inv(x, y)
        # ~1e-7 deg ≈ 1 cm, matching the reference's own golden tolerance
        np.testing.assert_allclose(lon2, lon, atol=1e-7)
        np.testing.assert_allclose(lat2, lat, atol=1e-7)


def test_transform_identity_and_errors():
    ident = crsmod.get_transform(4326, "epsg:4326")
    x, y = ident([1.0], [2.0])
    assert x[0] == 1.0 and y[0] == 2.0
    # 27700 (OSGB/Airy) is vendored as of r5 — see tests/test_datum.py
    assert crsmod.get_transform(4326, 27700) is not None
    with pytest.raises(crsmod.TransformError, match="Unable to create transformer"):
        crsmod.get_transform(4326, 3035)  # LAEA Europe not vendored


def test_lcc_2154_projection_origin_and_scale():
    """Lambert-93 (EPSG:2154): the natural origin (3°E, 46°30'N) maps to the
    false origin (700000, 6600000) BY DEFINITION of the projection params,
    and the conformal scale factor is exactly 1 on both standard parallels
    (44°N, 49°N) — which pins n, F, rho0 jointly."""
    import numpy as np

    from geografir_spark.geo.crs import _LCC_2154, get_transform, lcc_forward

    fwd = get_transform("EPSG:4326", "EPSG:2154")
    x, y = fwd(np.array([3.0]), np.array([46.5]))
    assert float(x[0]) == pytest.approx(700000.0, abs=1e-6)
    assert float(y[0]) == pytest.approx(6600000.0, abs=1e-6)

    a, e2 = _LCC_2154.ellps.a, _LCC_2154.ellps.e2
    for lat in (44.0, 49.0):
        dlon = 1e-4
        (x1, y1) = lcc_forward(np.array([3.0]), np.array([lat]), _LCC_2154)
        (x2, y2) = lcc_forward(np.array([3.0 + dlon]), np.array([lat]), _LCC_2154)
        proj_d = float(np.hypot(x2 - x1, y2 - y1)[0])
        s = np.sin(np.radians(lat))
        true_d = a * np.cos(np.radians(lat)) / np.sqrt(1 - e2 * s * s) * np.radians(dlon)
        assert proj_d == pytest.approx(true_d, rel=1e-7)


def test_lcc_2154_roundtrip():
    import numpy as np

    from geografir_spark.geo.crs import get_transform

    lons = np.array([-4.5, -1.0, 2.3522, 5.5, 8.2])
    lats = np.array([42.4, 44.0, 48.8566, 49.0, 51.0])
    fwd = get_transform("EPSG:4326", "EPSG:2154")
    inv = get_transform("EPSG:2154", "EPSG:4326")
    x, y = fwd(lons, lats)
    # Lambert-93 coordinates of metropolitan France sit in a known envelope
    assert (x > 0).all() and (x < 1.3e6).all()
    assert (y > 6.0e6).all() and (y < 7.2e6).all()
    lon2, lat2 = inv(x, y)
    np.testing.assert_allclose(lon2, lons, atol=1e-9)
    np.testing.assert_allclose(lat2, lats, atol=1e-9)


def test_lcc_2154_through_webmercator_chain():
    """2154 → 3857 chains through 4326 internally; verify against composing
    the two public transforms."""
    import numpy as np

    from geografir_spark.geo.crs import get_transform

    x = np.array([700000.0, 652469.0])
    y = np.array([6600000.0, 6862035.0])
    direct = get_transform("EPSG:2154", "EPSG:3857")
    via = lambda xx, yy: get_transform("EPSG:4326", "EPSG:3857")(
        *get_transform("EPSG:2154", "EPSG:4326")(xx, yy)
    )
    dx, dy = direct(x, y)
    vx, vy = via(x, y)
    np.testing.assert_allclose(dx, vx, rtol=0, atol=1e-9)
    np.testing.assert_allclose(dy, vy, rtol=0, atol=1e-9)


WKT1_4326 = (
    'GEOGCS["WGS 84",DATUM["WGS_1984",SPHEROID["WGS 84",6378137,298.257223563,'
    'AUTHORITY["EPSG","7030"]],AUTHORITY["EPSG","6326"]],'
    'PRIMEM["Greenwich",0,AUTHORITY["EPSG","8901"]],'
    'UNIT["degree",0.0174532925199433,AUTHORITY["EPSG","9122"]],'
    'AUTHORITY["EPSG","4326"]]'
)
WKT2_3857 = (
    'PROJCRS["WGS 84 / Pseudo-Mercator",BASEGEOGCRS["WGS 84",'
    'DATUM["World Geodetic System 1984",ELLIPSOID["WGS 84",6378137,298.257223563],'
    'ID["EPSG",6326]]],CONVERSION["Popular Visualisation Pseudo-Mercator",'
    'METHOD["Popular Visualisation Pseudo Mercator",ID["EPSG",1024]]],'
    'CS[Cartesian,2],ID["EPSG",3857]]'
)


@pytest.mark.parametrize(
    "spec,expected",
    [
        # reference input matrix: geometry/tests/test_crs.py:31-45,95-113
        ("+proj=longlat +datum=WGS84 +no_defs", "EPSG:4326"),
        ("+proj=utm +zone=33 +datum=WGS84 +units=m +no_defs", "EPSG:32633"),
        ("+proj=utm +zone=10 +south +datum=WGS84", "EPSG:32710"),
        ("+proj=merc +a=6378137 +b=6378137 +lat_ts=0 +lon_0=0 +x_0=0 +y_0=0 "
         "+k=1 +units=m +nadgrids=@null +wktext +no_defs", "EPSG:3857"),
        ("+proj=aea +lat_1=29.5 +lat_2=45.5 +lat_0=23 +lon_0=-96 +x_0=0 +y_0=0 "
         "+datum=NAD83 +units=m +no_defs", "EPSG:5070"),
        ("+proj=lcc +lat_1=49 +lat_2=44 +lat_0=46.5 +lon_0=3 +x_0=700000 "
         "+y_0=6600000 +ellps=GRS80 +units=m +no_defs", "EPSG:2154"),
        ("+init=EPSG:4326", "EPSG:4326"),
        (WKT1_4326, "EPSG:4326"),
        (WKT2_3857, "EPSG:3857"),
    ],
)
def test_ensure_crs_proj4_and_wkt(spec, expected):
    assert crsmod.ensure_crs(spec) == expected


def test_ensure_crs_proj4_and_wkt_invalid():
    # unknown projection family / WKT without an EPSG tag: same message as
    # every other rejection (reference crs.py:146)
    for bad in [
        "+proj=tmerc +lat_0=0 +lon_0=9",          # not in the vendored set
        "+proj=utm +zone=99 +datum=WGS84",        # zone out of range
        'GEOGCS["local",DATUM["local",SPHEROID["s",1,0]]]',  # no AUTHORITY
    ]:
        with pytest.raises(crsmod.CRSError, match="Invalid target CRS"):
            crsmod.ensure_crs(bad)
