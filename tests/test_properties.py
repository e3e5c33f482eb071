"""Property-based tests (hypothesis) for the tilegrid core — coverage
the reference suite lacks (SURVEY.md §5: 'no property-based testing').
Pure Python, no Spark session needed."""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from mapchete_spark.tilegrid import Bounds, TilePyramid, pack_tile_key, unpack_tile_key
from mapchete_spark.tilegrid.cover import points_to_tiles, tiles_from_geom
from mapchete_spark.geometry.core import Polygon

GEO = TilePyramid("geodetic")

lon_st = st.floats(min_value=-180.0, max_value=180.0, allow_nan=False)
lat_st = st.floats(min_value=-90.0, max_value=90.0, allow_nan=False)
zoom_st = st.integers(min_value=0, max_value=14)
metatiling_st = st.sampled_from([1, 2, 4, 8, 16])


@settings(max_examples=200, deadline=None)
@given(lon=lon_st, lat=lat_st, zoom=zoom_st)
def test_point_inside_its_tile(lon, lat, zoom):
    # containment up to 1 ulp of the grid arithmetic: a point within
    # ~2e-16 deg of a tile edge can land in the adjacent tile because
    # (lon+180)/ts rounds across the boundary — identical behavior in
    # the reference's tilematrix arithmetic (hypothesis found this)
    t = GEO.tile_from_xy(lon, lat, zoom)
    b = t.bounds(pixelbuffer=0)
    tol = 1e-12
    assert b.left - tol <= lon <= b.right + tol
    assert b.bottom - tol <= lat <= b.top + tol


@settings(max_examples=100, deadline=None)
@given(lon=lon_st, lat=lat_st, zoom=st.integers(min_value=1, max_value=14))
def test_parent_contains_child(lon, lat, zoom):
    t = GEO.tile_from_xy(lon, lat, zoom)
    p = t.get_parent()
    cb, pb = t.bounds(), p.bounds()
    assert pb.left <= cb.left and pb.right >= cb.right
    assert pb.bottom <= cb.bottom and pb.top >= cb.top


@settings(max_examples=100, deadline=None)
@given(lon=lon_st, lat=lat_st, zoom=st.integers(min_value=0, max_value=13))
def test_children_partition_parent(lon, lat, zoom):
    t = GEO.tile_from_xy(lon, lat, zoom)
    kids = t.get_children()
    assert len(kids) == 4
    area = sum(k.bounds().width * k.bounds().height for k in kids)
    tb = t.bounds()
    assert abs(area - tb.width * tb.height) < 1e-6 * max(area, 1e-12)


@settings(max_examples=100, deadline=None)
@given(
    zoom=st.integers(min_value=0, max_value=20),
    frac_r=st.floats(min_value=0, max_value=1, exclude_max=True),
    frac_c=st.floats(min_value=0, max_value=1, exclude_max=True),
)
def test_key_roundtrip(zoom, frac_r, frac_c):
    row = int(frac_r * GEO.matrix_height(zoom))
    col = int(frac_c * GEO.matrix_width(zoom))
    z, r, c = unpack_tile_key(pack_tile_key(zoom, row, col))
    assert (int(z), int(r), int(c)) == (zoom, row, col)


@settings(max_examples=60, deadline=None)
@given(
    lon=st.floats(min_value=-170.0, max_value=160.0, allow_nan=False),
    lat=st.floats(min_value=-75.0, max_value=70.0, allow_nan=False),
    w=st.floats(min_value=0.01, max_value=15.0),
    h=st.floats(min_value=0.01, max_value=15.0),
    zoom=st.integers(min_value=1, max_value=8),
    metatiling=metatiling_st,
)
def test_snap_bounds_contains_original(lon, lat, w, h, zoom, metatiling):
    tp = TilePyramid("geodetic", metatiling=metatiling)
    b = Bounds(lon, lat, min(lon + w, 180.0), min(lat + h, 90.0))
    snapped = tp.snap_bounds(b, zoom)
    tol = 1e-12  # 1-ulp boundary effect, same as point containment
    assert snapped.left <= b.left + tol and snapped.right >= b.right - tol
    assert snapped.bottom <= b.bottom + tol and snapped.top >= b.top - tol


@settings(max_examples=60, deadline=None)
@given(
    cx=st.floats(min_value=-150.0, max_value=150.0),
    cy=st.floats(min_value=-70.0, max_value=70.0),
    radius=st.floats(min_value=0.1, max_value=10.0),
    n=st.integers(min_value=3, max_value=12),
    zoom=st.integers(min_value=2, max_value=7),
)
def test_exact_cover_subset_of_bbox_cover(cx, cy, radius, n, zoom):
    poly = Polygon.regular(cx, cy, radius, n=n)
    exact = {t.id for t in tiles_from_geom(GEO, poly, zoom, exact=True)}
    loose = {t.id for t in tiles_from_geom(GEO, poly, zoom, exact=False)}
    assert exact <= loose
    assert exact  # a polygon with area always hits at least one tile
    # the tile containing the centroid is always in the exact cover
    ct = GEO.tile_from_xy(cx, cy, zoom)
    assert ct.id in exact


@settings(max_examples=50, deadline=None)
@given(
    lons=st.lists(lon_st, min_size=1, max_size=50),
    lats=st.lists(lat_st, min_size=1, max_size=50),
    zoom=zoom_st,
)
def test_vectorized_assignment_matches_scalar(lons, lats, zoom):
    k = min(len(lons), len(lats))
    lon = np.array(lons[:k])
    lat = np.array(lats[:k])
    rows, cols = points_to_tiles(GEO, lon, lat, zoom)
    for i in range(k):
        t = GEO.tile_from_xy(lon[i], lat[i], zoom)
        assert (rows[i], cols[i]) == (t.row, t.col)


@settings(max_examples=60, deadline=None)
@given(lon=lon_st, lat=lat_st, zoom=st.integers(min_value=1, max_value=10))
def test_neighbors_symmetric(lon, lat, zoom):
    t = GEO.tile_from_xy(lon, lat, zoom)
    for n in t.get_neighbors():
        back = {x.id for x in n.get_neighbors()}
        assert t.id in back


# ---- exact polygon overlay properties (geometry/overlay) --------------------

from mapchete_spark.geometry.core import ring_area
from mapchete_spark.geometry.overlay import union_area


def _rot_sq(cx, cy, r, th):
    c, s = np.cos(th), np.sin(th)
    pts = [(-r, -r), (r, -r), (r, r), (-r, r)]
    ring = np.array(
        [[cx + c * ox - s * oy, cy + s * ox + c * oy] for ox, oy in pts + pts[:1]]
    )
    return [ring]


sq_st = st.tuples(
    st.floats(min_value=-5.0, max_value=5.0, allow_nan=False),
    st.floats(min_value=-5.0, max_value=5.0, allow_nan=False),
    st.floats(min_value=0.1, max_value=2.0, allow_nan=False),
    st.floats(min_value=0.0, max_value=3.1, allow_nan=False),
)


@settings(max_examples=100, deadline=None)
@given(squares=st.lists(sq_st, min_size=1, max_size=6))
def test_union_area_bounds_and_axis_swap(squares):
    feats = [_rot_sq(*p) for p in squares]
    ua = union_area(feats)
    areas = [ring_area(f[0]) for f in feats]
    # inclusion-exclusion bounds
    assert max(areas) - 1e-9 <= ua <= sum(areas) + 1e-9
    # independent decomposition: swap x/y of every ring
    swapped = [[r[:, ::-1].copy() for r in f] for f in feats]
    assert abs(union_area(swapped) - ua) < 1e-9


@settings(max_examples=60, deadline=None)
@given(squares=st.lists(sq_st, min_size=1, max_size=5), extra=sq_st)
def test_union_area_monotone(squares, extra):
    feats = [_rot_sq(*p) for p in squares]
    assert union_area(feats + [_rot_sq(*extra)]) >= union_area(feats) - 1e-9


# ---- S2 key properties (pure numpy twin; hypothesis-driven) -----------------

@given(
    lon=st.floats(min_value=-180.0, max_value=180.0, allow_nan=False),
    lat=st.floats(min_value=-89.999, max_value=89.999, allow_nan=False),
    level=st.integers(min_value=1, max_value=20),
)
@settings(max_examples=200, deadline=None)
def test_s2_parent_property_everywhere(lon, lat, level):
    """parent(key_L) == key_{L-1} for arbitrary points incl. poles,
    antimeridian and cube-face boundaries."""
    import numpy as np

    from mapchete_spark.functions.s2 import s2_key_np

    kL = s2_key_np(np.array([lon]), np.array([lat]), level)[0]
    kP = s2_key_np(np.array([lon]), np.array([lat]), level - 1)[0]
    assert kL // 4 == kP
    assert 0 <= kL < 6 * 4**level


@given(
    lon=st.floats(min_value=-180.0, max_value=180.0, allow_nan=False),
    lat=st.floats(min_value=-89.999, max_value=89.999, allow_nan=False),
)
@settings(max_examples=100, deadline=None)
def test_s2_key_is_deterministic_and_finite(lon, lat):
    import numpy as np

    from mapchete_spark.functions.s2 import s2_key_np

    a = s2_key_np(np.array([lon]), np.array([lat]), 16)[0]
    b = s2_key_np(np.array([lon]), np.array([lat]), 16)[0]
    assert a == b


# ---- chunking invariant (python twin of the Arrow pass) ---------------------

@given(
    text=st.text(
        alphabet=st.characters(whitelist_categories=("Ll", "Lu", "Nd"), max_codepoint=0x7F),
        min_size=0,
        max_size=400,
    ).map(lambda t: " ".join(t[i : i + 7] for i in range(0, max(len(t), 1), 7)))
)
@settings(max_examples=150, deadline=None)
def test_chunking_tiles_the_span_sequence(text):
    """Python re-derivation of the chunk rule: chunk ids contiguous
    from 0, spans and costs conserved, and every chunk except the last
    ends exactly when the prefix sum crosses a budget multiple."""
    from mapchete_spark.functions.chunking import (
        CHUNK_BUDGET,
        MEDIA_TOKEN_COST,
    )
    from mapchete_spark.functions.spans import KIND_CYCLE

    toks = text.split(" ")
    costs, cids = [], []
    cum = 0
    for i, tok in enumerate(toks):
        kind = KIND_CYCLE[i % 7]
        cost = max(1, (len(tok) + 3) // 4) if kind == "text" else MEDIA_TOKEN_COST
        cids.append(cum // CHUNK_BUDGET)
        costs.append(cost)
        cum += cost
    # chunk ids are non-decreasing and start at 0
    assert cids[0] == 0
    assert all(b >= a for a, b in zip(cids, cids[1:]))
    # the span count and total cost are conserved by grouping
    from collections import Counter

    per_chunk = Counter(cids)
    assert sum(per_chunk.values()) == len(toks)
    # a new chunk starts exactly when cum-before crosses a multiple
    for i in range(1, len(cids)):
        if cids[i] != cids[i - 1]:
            before = sum(costs[:i])
            assert before // CHUNK_BUDGET == cids[i]


# ---- projection registry round-trip properties ------------------------------

_CRS_DOMAINS = {
    "EPSG:2154": (-5.0, 9.5, 41.0, 51.5),
    "EPSG:3812": (2.5, 6.5, 49.4, 51.6),
    "EPSG:5070": (-125.0, -67.0, 24.0, 50.0),
    "EPSG:27700": (-8.0, 2.0, 49.8, 60.9),
    "EPSG:21781": (5.9, 10.5, 45.8, 47.9),
    "EPSG:2056": (5.9, 10.5, 45.8, 47.9),
    "EPSG:5514": (12.0, 22.6, 48.5, 51.1),
    "EPSG:32632": (6.0, 12.0, -80.0, 84.0),
}


@given(
    crs=st.sampled_from(sorted(_CRS_DOMAINS)),
    u=st.floats(min_value=0.0, max_value=1.0, allow_nan=False),
    v=st.floats(min_value=0.0, max_value=1.0, allow_nan=False),
)
@settings(max_examples=250, deadline=None)
def test_registered_crs_roundtrip_in_domain(crs, u, v):
    """Every registered projected CRS round-trips points anywhere in
    its national validity domain to < 0.1 m through get_transform
    (Helmert-datum CRS close to ~cm; datum-free to sub-micrometer)."""
    import numpy as np

    from mapchete_spark.geometry.reproject import get_transform

    lo0, lo1, la0, la1 = _CRS_DOMAINS[crs]
    lon = np.array([lo0 + u * (lo1 - lo0)])
    lat = np.array([la0 + v * (la1 - la0)])
    fwd = get_transform("EPSG:4326", crs)
    inv = get_transform(crs, "EPSG:4326")
    lon2, lat2 = inv(*fwd(lon, lat))
    assert abs(lon2[0] - lon[0]) * 111320 < 0.1
    assert abs(lat2[0] - lat[0]) * 111320 < 0.1


# ---------------------------------------------------------------------------
# round-4 modules: proj4 front-end, GeoTIFF codec, rasterized counting
# ---------------------------------------------------------------------------


@settings(max_examples=60, deadline=None)
@given(
    lat0=st.one_of(st.floats(5.0, 60.0), st.floats(-60.0, -5.0)),
    lon0=st.floats(-170.0, 170.0),
    dlat=st.floats(5.0, 25.0),
    lon=st.floats(-25.0, 25.0),
    lat=st.floats(-25.0, 25.0),
)
def test_proj4_lcc_roundtrip_everywhere(lat0, lon0, dlat, lon, lat):
    # |lat0| >= 5: parallels symmetric about the equator are a
    # DEGENERATE cone (n=0) and the class refuses them (tested below)
    """ANY 2SP LCC built from proj4 parameters round-trips points in
    its area of use to sub-micro-degree (the front-end's generality,
    not just the registered EPSG codes)."""
    from mapchete_spark.geometry.projparams import projection_from_proj4

    p4 = (
        f"+proj=lcc +lat_0={lat0} +lon_0={lon0} +lat_1={lat0 - dlat / 2} "
        f"+lat_2={lat0 + dlat / 2} +x_0=500000 +y_0=300000 +ellps=GRS80"
    )
    proj = projection_from_proj4(p4)
    qlon, qlat = lon0 + lon, np.clip(lat0 + lat, -80.0, 80.0)
    x, y = proj.forward(qlon, qlat)
    lo, la = proj.inverse(x, y)
    assert abs(lo - qlon) < 1e-7 and abs(la - qlat) < 1e-7


def test_lcc_symmetric_parallels_raise():
    from mapchete_spark.geometry.projparams import projection_from_proj4

    import pytest as _pytest

    with _pytest.raises(ValueError, match="symmetric"):
        projection_from_proj4(
            "+proj=lcc +lat_0=0 +lon_0=0 +lat_1=-2.5 +lat_2=2.5 +ellps=GRS80"
        )


@settings(max_examples=60, deadline=None)
@given(
    lat0=st.floats(-55.0, 55.0),
    lon0=st.floats(-170.0, 170.0),
    lon=st.floats(-30.0, 30.0),
    lat=st.floats(-30.0, 30.0),
)
def test_proj4_laea_roundtrip_everywhere(lat0, lon0, lon, lat):
    from mapchete_spark.geometry.projparams import projection_from_proj4

    proj = projection_from_proj4(
        f"+proj=laea +lat_0={lat0} +lon_0={lon0} +x_0=0 +y_0=0 +ellps=GRS80"
    )
    qlon, qlat = lon0 + lon, np.clip(lat0 + lat, -80.0, 80.0)
    x, y = proj.forward(qlon, qlat)
    lo, la = proj.inverse(x, y)
    # wrap-safe longitude compare
    dlo = (lo - qlon + 180.0) % 360.0 - 180.0
    assert abs(dlo) < 1e-7 and abs(la - qlat) < 1e-7


@settings(max_examples=50, deadline=None)
@given(
    south=st.booleans(),
    lat_ts=st.one_of(st.just(90.0), st.floats(60.0, 85.0)),
    lon0=st.floats(-170.0, 170.0),
    k0=st.floats(0.97, 1.0),
    lon=st.floats(-180.0, 180.0),
    lat=st.floats(55.0, 89.9),
)
def test_proj4_stere_roundtrip_everywhere(south, lat_ts, lon0, k0, lon, lat):
    """ANY polar stereographic built from proj4 parameters (variant A
    pole-scale or variant B standard-parallel, either aspect)
    round-trips points in its area of use to sub-nano-degree."""
    from mapchete_spark.geometry.projparams import projection_from_proj4

    sgn = -1.0 if south else 1.0
    p4 = (
        f"+proj=stere +lat_0={sgn * 90.0} +lat_ts={sgn * lat_ts} "
        f"+lon_0={lon0} +k={k0} +x_0=300000 +y_0=700000 +ellps=WGS84"
    )
    proj = projection_from_proj4(p4)
    qlon, qlat = lon, sgn * lat
    x, y = proj.forward(qlon, qlat)
    lo, la = proj.inverse(x, y)
    dlo = (lo - qlon + 180.0) % 360.0 - 180.0
    assert abs(dlo) < 1e-9 and abs(la - qlat) < 1e-9


def test_sphere_laea_inverse_epsg2163():
    """EPSG:2163 (authalic-sphere US National Atlas LAEA) must
    round-trip: the authalic inverse divides by 2e in the ellipsoidal
    series, so spheres need the exact arcsin(q/2) fast path (ADVICE
    round-4 — inverse used to raise ZeroDivisionError)."""
    from mapchete_spark.geometry.projparams import (
        EPSG_PROJ4,
        projection_from_proj4,
    )

    proj = projection_from_proj4(EPSG_PROJ4["EPSG:2163"])
    lo, la = proj.inverse(0.0, 0.0)
    assert abs(lo - (-100.0)) < 1e-9 and abs(la - 45.0) < 1e-9
    x, y = proj.forward(-87.65, 41.85)  # Chicago
    lo, la = proj.inverse(x, y)
    assert abs(lo - (-87.65)) < 1e-9 and abs(la - 41.85) < 1e-9


@settings(max_examples=40, deadline=None)
@given(
    family=st.sampled_from(["laea", "aea"]),
    lat0=st.one_of(st.floats(10.0, 55.0), st.floats(-55.0, -10.0)),
    lon0=st.floats(-170.0, 170.0),
    lon=st.floats(-25.0, 25.0),
    lat=st.floats(-25.0, 25.0),
)
def test_proj4_sphere_roundtrip(family, lat0, lon0, lon, lat):
    """Spherical (+ellps=sphere, f=0) LAEA and AEA round-trip — both
    equal-area inverses share the authalic fixed point, which must take
    the e==0 branch instead of dividing by 2e."""
    from mapchete_spark.geometry.projparams import projection_from_proj4

    extra = (
        f" +lat_1={lat0 - 5.0} +lat_2={lat0 + 5.0}" if family == "aea" else ""
    )
    proj = projection_from_proj4(
        f"+proj={family} +lat_0={lat0} +lon_0={lon0}{extra} "
        "+x_0=0 +y_0=0 +ellps=sphere"
    )
    qlon, qlat = lon0 + lon, np.clip(lat0 + lat, -80.0, 80.0)
    x, y = proj.forward(qlon, qlat)
    lo, la = proj.inverse(x, y)
    dlo = (lo - qlon + 180.0) % 360.0 - 180.0
    assert abs(dlo) < 1e-7 and abs(la - qlat) < 1e-7


@settings(max_examples=40, deadline=None)
@given(
    bands=st.integers(1, 4),
    h=st.integers(1, 40),
    w=st.integers(1, 40),
    dtype=st.sampled_from(["uint8", "uint16", "int16", "int32", "float32", "float64"]),
    seed=st.integers(0, 2**31 - 1),
)
def test_gtiff_roundtrip_fuzz(bands, h, w, dtype, seed):
    """Arbitrary shapes/dtypes survive the GeoTIFF codec bit-exactly
    with their georeferencing."""
    from mapchete_spark.sources.gtiff import decode_gtiff, encode_gtiff

    rng = np.random.RandomState(seed)
    if dtype.startswith("float"):
        arr = rng.randn(bands, h, w).astype(dtype)
    else:
        info = np.iinfo(dtype)
        arr = rng.randint(
            max(info.min, -10000), min(info.max, 10000), (bands, h, w)
        ).astype(dtype)
    b = Bounds(-10.0, 20.0, -10.0 + w * 0.01, 20.0 + h * 0.01)
    out, b2, epsg, _ = decode_gtiff(encode_gtiff(arr, b))
    np.testing.assert_array_equal(out, arr)
    assert epsg == 4326
    assert abs(b2.left - b.left) < 1e-9 and abs(b2.top - b.top) < 1e-9


@settings(max_examples=25, deadline=None)
@given(
    seed=st.integers(0, 2**31 - 1),
    n_parts=st.integers(1, 6),
    maxzoom=st.integers(3, 6),
)
def test_rasterized_count_equals_quadtree_random_aois(seed, n_parts, maxzoom):
    """Property: the scanline rasterize fallback equals the quadtree on
    random multi-part AOIs (axis-aligned + rotated n-gons, overlapping
    allowed) at every zoom range."""
    from mapchete_spark.geometry.core import MultiPolygon
    from mapchete_spark.tilegrid.cover import count_tiles, count_tiles_rasterized

    rng = np.random.RandomState(seed)
    parts = []
    for _ in range(n_parts):
        if rng.rand() < 0.5:
            l = rng.uniform(-170, 140)
            b_ = rng.uniform(-80, 50)
            parts.append(
                Polygon.from_bounds(
                    Bounds(l, b_, l + rng.uniform(1, 25), b_ + rng.uniform(1, 20))
                )
            )
        else:
            parts.append(
                Polygon.regular(
                    rng.uniform(-150, 150),
                    rng.uniform(-60, 60),
                    rng.uniform(1, 12),
                    n=rng.randint(3, 9),
                    phase=rng.uniform(0, 3),
                )
            )
    mp = MultiPolygon(tuple(parts))
    pyr = TilePyramid("geodetic")
    mn = max(0, maxzoom - 3)
    assert count_tiles_rasterized(mp, pyr, mn, maxzoom) == count_tiles(
        mp, pyr, mn, maxzoom
    )


@st.composite
def masked_arrays(draw):
    """(masked (bands, h, w) array, nodata): uint8, int16, float32 or
    float64, 1-3 bands, with or without masked pixels; unmasked pixels
    never equal nodata (the row format masks by equality)."""
    from hypothesis.extra import numpy as hnp

    dtype = np.dtype(draw(st.sampled_from(["uint8", "int16", "float32", "float64"])))
    shape = (draw(st.integers(1, 3)), draw(st.integers(1, 6)), draw(st.integers(1, 6)))
    if dtype.kind == "f":
        nodata = -9999.0
        elements = st.floats(-1e6, 1e6, width=dtype.itemsize * 8).filter(lambda v: v != nodata)
    else:
        nodata = float(np.iinfo(dtype).min)
        elements = st.integers(np.iinfo(dtype).min + 1, np.iinfo(dtype).max)
    data = draw(hnp.arrays(dtype, shape, elements=elements))
    mask = draw(st.one_of(st.just(np.zeros(shape, bool)), hnp.arrays(bool, shape)))
    return np.ma.MaskedArray(data, mask=mask), nodata


@settings(max_examples=150, deadline=None)
@given(case=masked_arrays(), row=st.integers(0, 15), col=st.integers(0, 31))
def test_raster_row_codec_roundtrip(case, row, col):
    """A raster row built by ``raster_row`` decodes, after the Arrow
    trip a UDF batch takes, to its tile, key, array, mask and nodata."""
    import pyarrow as pa

    from mapchete_spark.operators.rastertable import (
        decode_rows, encode_array, raster_row, row_to_array,
    )
    from mapchete_spark.tilegrid.keys import linear_tile_key

    arr, nodata = case
    tile = GEO.tile(4, row, col)
    encoded = raster_row(tile, arr, nodata)
    assert encoded["data"] == encode_array(arr, nodata)[0]
    (got_tile, key, got, got_nodata), = decode_rows(
        pa.Table.from_pylist([encoded]).to_pandas(), GEO
    )
    assert got_tile == tile and key == linear_tile_key(4, row, col)
    assert got_nodata == nodata and got.dtype == arr.dtype and got.shape == arr.shape
    for decoded in (got, row_to_array(encoded)):
        np.testing.assert_array_equal(np.ma.getmaskarray(decoded), np.ma.getmaskarray(arr))
        np.testing.assert_array_equal(decoded.filled(nodata), arr.filled(nodata))
