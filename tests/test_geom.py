"""Geometry kernel unit tests (no Spark needed)."""

from __future__ import annotations

import numpy as np
import pytest

from gdal_spark.geom import (
    GeomType,
    geom_to_wkb,
    hilbert_code_xy,
    parse_wkt,
    to_wkt,
    wkb_to_geom,
)
from gdal_spark.geom.predicates import (
    edges_intersect_any,
    filter_geometry_batch,
    line_to_edges,
    points_in_rings,
    rings_is_rectangle,
    rings_to_edges,
)
from gdal_spark.geom.proj import EPSG_26711, lonlat_to_webmercator, WEB_MERCATOR_EXTENT
from gdal_spark.geom.rtree import PackedRTree


class TestWkt:
    def test_roundtrip(self):
        wkts = [
            "POINT (1 2)",
            "LINESTRING (0 0,1 1,2 0)",
            "POLYGON ((0 0,0 10,10 10,10 0,0 0),(2 2,4 2,4 4,2 4,2 2))",
            "MULTIPOLYGON (((0 0,1 0,1 1,0 0)),((5 5,6 5,6 6,5 5)))",
            "MULTIPOINT ((1 1),(2 2))",
            "MULTILINESTRING ((0 0,1 1),(2 2,3 3))",
        ]
        assert to_wkt(parse_wkt(wkts)) == wkts

    def test_z_dropped_null_empty_error(self):
        batch, errs = parse_wkt(
            ["POINT Z (1 2 3)", None, "POLYGON EMPTY", "NOT_WKT", "POINT (1)"],
            return_errors=True,
        )
        assert to_wkt(batch)[0] == "POINT (1 2)"
        assert batch.is_null[1] and errs[1] is None
        assert batch.is_empty[2] and not batch.is_null[2]
        # invalid rows kept, errors recorded (FIXTURES.md F1)
        assert len(batch) == 5
        assert errs[3] is not None and errs[4] is not None
        assert batch.is_null[3] and batch.is_null[4]

    def test_multipoint_bare_form(self):
        a = parse_wkt(["MULTIPOINT (1 1, 2 2)"])
        b = parse_wkt(["MULTIPOINT ((1 1),(2 2))"])
        assert to_wkt(a) == to_wkt(b)

    def test_envelopes(self):
        batch = parse_wkt(["POLYGON ((0 0,0 10,10 10,10 0,0 0))", "POINT (3 4)", None])
        env = batch.envelopes()
        assert env[0].tolist() == [0, 0, 10, 10]
        assert env[1].tolist() == [3, 4, 3, 4]
        assert np.isnan(env[2]).all()


class TestWkb:
    def test_roundtrip(self):
        wkts = [
            "POINT (1.5 -2.25)",
            "LINESTRING (0 0,1 1)",
            "POLYGON ((0 0,0 1,1 1,0 0))",
            "MULTIPOLYGON (((0 0,1 0,1 1,0 0)))",
        ]
        blobs = geom_to_wkb(parse_wkt(wkts))
        assert to_wkt(wkb_to_geom(blobs)) == wkts

    def test_big_endian_read(self):
        import struct

        # XDR POINT(1 2)
        blob = b"\x00" + struct.pack(">I", 1) + struct.pack(">dd", 1.0, 2.0)
        assert to_wkt(wkb_to_geom([blob])) == ["POINT (1 2)"]

    def test_iso_z_type(self):
        import struct

        # ISO wkbPointZ = 1001, NDR
        blob = b"\x01" + struct.pack("<I", 1001) + struct.pack("<ddd", 1.0, 2.0, 9.0)
        assert to_wkt(wkb_to_geom([blob])) == ["POINT (1 2)"]


class TestPredicates:
    def test_point_in_polygon_with_hole(self):
        rings = parse_wkt(
            ["POLYGON ((0 0,0 10,10 10,10 0,0 0),(2 2,4 2,4 4,2 4,2 2))"]
        ).polygon_rings(0)
        got = points_in_rings(
            np.array([1.0, 3.0, 5.0, 11.0, -1.0]), np.array([1.0, 3.0, 5.0, 5.0, 5.0]), rings
        )
        assert got.tolist() == [True, False, True, False, False]

    def test_rings_is_rectangle(self):
        rect = parse_wkt(["POLYGON ((0 0,0 5,5 5,5 0,0 0))"]).polygon_rings(0)
        tri = parse_wkt(["POLYGON ((0 0,5 5,5 0,0 0))"]).polygon_rings(0)
        assert rings_is_rectangle(rect)
        assert not rings_is_rectangle(tri)

    def test_edges_intersect(self):
        a = line_to_edges(np.array([[0.0, 0.0], [10.0, 10.0]]))
        b = line_to_edges(np.array([[0.0, 10.0], [10.0, 0.0]]))
        c = line_to_edges(np.array([[20.0, 20.0], [30.0, 30.0]]))
        assert edges_intersect_any(a, b)
        assert not edges_intersect_any(a, c)
        # collinear touch
        d = line_to_edges(np.array([[5.0, 5.0], [15.0, 15.0]]))
        assert edges_intersect_any(a, d)

    def test_filter_cascade_exact_vs_envelope(self):
        """The test_ogr2ogr_3 discriminator (4 exact vs 5 envelope):
        an L-shape polygon whose envelope overlaps the rect filter but
        whose exact shape does not."""
        lshape = (
            "POLYGON ((0 0,0 10,2 10,2 2,10 2,10 0,0 0))"  # L avoiding upper-right
        )
        docs = parse_wkt(
            [
                "POINT (5 5)",  # inside rect, outside L
                lshape,  # envelope overlaps rect [4,4,9,9]; exact: no
                "POINT (1 5)",  # inside L arm, outside rect -> rejected by envelope
                "POLYGON ((4.5 4.5,4.5 5,5 5,5 4.5,4.5 4.5))",  # inside rect
            ]
        )
        rect = parse_wkt(["POLYGON ((4 4,4 9,9 9,9 4,4 4))"]).polygon_rings(0)
        exact = filter_geometry_batch(docs, rect, exact=True)
        env_only = filter_geometry_batch(docs, rect, exact=False)
        assert exact.tolist() == [True, False, False, True]
        assert env_only.tolist() == [True, True, False, True]
        assert env_only.sum() == exact.sum() + 1  # the 4-vs-5 split

    def test_filter_polygon_filter_contains_small_geom(self):
        # non-rectangular filter goes straight to exact stage
        tri = parse_wkt(["POLYGON ((0 0,10 0,0 10,0 0))"]).polygon_rings(0)
        docs = parse_wkt(["POINT (1 1)", "POINT (9 9)"])
        assert filter_geometry_batch(docs, tri, exact=True).tolist() == [True, False]


class TestHilbert:
    def test_matches_reference_scalar(self):
        """Oracle values computed from the reference's own
        alg/hilbert.cpp scalar code (g++-compiled this session)."""
        xs = [0, 1, 65534, 12345, 40000, 7, 65534, 255, 1024, 33333]
        ys = [0, 0, 65534, 54321, 2, 65000, 1, 254, 1023, 44444]
        expected = [
            0, 1, 2863311528, 1555040834, 3958378510,
            1431567487, 4294967293, 43691, 2097151, 2398610505,
        ]
        assert hilbert_code_xy(np.array(xs), np.array(ys)).tolist() == expected

    def test_locality(self):
        # consecutive codes along the curve are adjacent cells
        xs = np.arange(256, dtype=np.uint32)
        codes = hilbert_code_xy(xs, np.zeros_like(xs))
        assert len(np.unique(codes)) == 256


class TestRTree:
    def test_query(self):
        envs = np.array([[0, 0, 1, 1], [5, 5, 6, 6], [0.5, 0.5, 2, 2], [100, 100, 101, 101]], dtype=float)
        t = PackedRTree(envs, node_size=2)
        assert sorted(t.query_rect(0.9, 0.9, 1.5, 1.5)) == [0, 2]
        assert sorted(t.query_rect(-10, -10, 200, 200)) == [0, 1, 2, 3]
        assert t.query_rect(50, 50, 60, 60).size == 0
        # touching counts (strict-< reject semantics)
        assert 1 in t.query_rect(6, 6, 7, 7)

    def test_point_probe(self):
        rng = np.random.default_rng(42)
        envs = np.column_stack([rng.uniform(0, 90, 200), rng.uniform(0, 90, 200)])
        envs = np.column_stack([envs, envs + rng.uniform(1, 5, (200, 2))])
        t = PackedRTree(envs)
        px, py = rng.uniform(0, 100, 500), rng.uniform(0, 100, 500)
        # a point probes with its degenerate envelope
        pi, ii = t.query_rects(np.column_stack([px, py, px, py]))
        # oracle: brute force
        m = (
            (px[:, None] >= envs[None, :, 0])
            & (px[:, None] <= envs[None, :, 2])
            & (py[:, None] >= envs[None, :, 1])
            & (py[:, None] <= envs[None, :, 3])
        )
        opi, oii = np.nonzero(m)
        assert sorted(zip(pi.tolist(), ii.tolist())) == sorted(zip(opi.tolist(), oii.tolist()))


class TestProj:
    def test_utm_roundtrip(self):
        e = np.array([440720.0, 441920.0, 441000.0])
        n = np.array([3751320.0, 3750120.0, 3750700.0])
        lon, lat = EPSG_26711.inverse(e, n)
        e2, n2 = EPSG_26711.forward(lon, lat)
        assert np.abs(e2 - e).max() < 1e-4
        assert np.abs(n2 - n).max() < 1e-3

    def test_byte_tif_tile_key(self):
        """FIXTURES.md F3 / autotest tile oracle: byte.tif extent ->
        exactly WebMercatorQuad tile (11, 354, 818)."""
        lon, lat = EPSG_26711.inverse(
            np.array([440720.0, 441920.0]), np.array([3751320.0, 3750120.0])
        )
        x, y = lonlat_to_webmercator(lon, lat)
        res = 2 * WEB_MERCATOR_EXTENT / 256 / 2**11
        tx = np.floor((x - -WEB_MERCATOR_EXTENT) / (res * 256) + 1e-3).astype(int)
        ty = np.floor((WEB_MERCATOR_EXTENT - y) / (res * 256) + 1e-3).astype(int)
        assert set(tx.tolist()) == {354}
        assert set(ty.tolist()) == {818}


class TestConicProjections:
    """LCC / Albers (Snyder ch. 14-15): round-trip closure, unit scale
    on standard parallels (LCC), and exact area preservation (Albers)."""

    def _geodesic_dist(self, ell, lon0, lat0, lon1, lat1):
        # small-step ellipsoidal arc approx (sufficient for ~1km spans)
        import math

        latm = math.radians((lat0 + lat1) / 2)
        e2 = ell.e2
        M = ell.a * (1 - e2) / (1 - e2 * math.sin(latm) ** 2) ** 1.5
        N = ell.a / math.sqrt(1 - e2 * math.sin(latm) ** 2)
        dy = math.radians(lat1 - lat0) * M
        dx = math.radians(lon1 - lon0) * N * math.cos(latm)
        return math.hypot(dx, dy)

    def test_lcc_roundtrip(self):
        from gdal_spark.geom.proj import EPSG_2154

        rng = np.random.default_rng(7)
        lon = rng.uniform(-4, 9, 200)
        lat = rng.uniform(41, 51, 200)
        x, y = EPSG_2154.forward(lon, lat)
        lon2, lat2 = EPSG_2154.inverse(x, y)
        np.testing.assert_allclose(lon2, lon, atol=1e-9)
        np.testing.assert_allclose(lat2, lat, atol=1e-9)
        # Lambert-93 origin sanity: (3E, 46.5N) -> (700000, 6600000)
        x0, y0 = EPSG_2154.forward(3.0, 46.5)
        assert abs(float(x0) - 700000) < 1e-3 and abs(float(y0) - 6600000) < 1e-3

    def test_lcc_unit_scale_on_standard_parallels(self):
        from gdal_spark.geom.proj import EPSG_2154, GRS80

        for latp in (44.0, 49.0):
            lon0, lon1 = 2.0, 2.01
            x0, y0 = EPSG_2154.forward(lon0, latp)
            x1, y1 = EPSG_2154.forward(lon1, latp)
            proj_d = float(np.hypot(x1 - x0, y1 - y0))
            true_d = self._geodesic_dist(GRS80, lon0, latp, lon1, latp)
            assert abs(proj_d / true_d - 1) < 1e-7
        # off the standard parallels the scale departs from 1
        x0, y0 = EPSG_2154.forward(2.0, 46.5)
        x1, y1 = EPSG_2154.forward(2.01, 46.5)
        k = float(np.hypot(x1 - x0, y1 - y0)) / self._geodesic_dist(GRS80, 2.0, 46.5, 2.01, 46.5)
        assert k < 0.9995

    def test_albers_roundtrip(self):
        from gdal_spark.geom.proj import EPSG_5070

        rng = np.random.default_rng(9)
        lon = rng.uniform(-120, -75, 200)
        lat = rng.uniform(25, 48, 200)
        x, y = EPSG_5070.forward(lon, lat)
        lon2, lat2 = EPSG_5070.inverse(x, y)
        np.testing.assert_allclose(lon2, lon, atol=1e-9)
        np.testing.assert_allclose(lat2, lat, atol=1e-9)

    def test_albers_preserves_area(self):
        from gdal_spark.geom.proj import EPSG_5070, GRS80
        import math

        # 0.1x0.1 degree quad at mid-latitude: projected area must equal
        # the ellipsoidal area (authalic property) to high precision
        lon, lat, d = -100.0, 40.0, 0.1
        corners = [(lon, lat), (lon + d, lat), (lon + d, lat + d), (lon, lat + d)]
        xy = [EPSG_5070.forward(c[0], c[1]) for c in corners]
        px = [float(v[0]) for v in xy]
        py = [float(v[1]) for v in xy]
        proj_area = 0.5 * abs(
            sum(px[i] * py[(i + 1) % 4] - px[(i + 1) % 4] * py[i] for i in range(4))
        )
        # ellipsoidal quad area via authalic q (Snyder 3-12): area =
        # a^2 (1-e2)/2 * dlon_rad * (q(lat1)-q(lat0)) / (1-e2)... use
        # A = a^2/2 * dlon * (q(top)-q(bot)) with q from the projection
        q0 = EPSG_5070._q(math.radians(lat))
        q1 = EPSG_5070._q(math.radians(lat + d))
        true_area = GRS80.a ** 2 / 2 * math.radians(d) * (q1 - q0)
        assert abs(proj_area / true_area - 1) < 1e-4


class TestGeometryCollection:
    """GEOMETRYCOLLECTION + surface subtypes (reference:
    ogr/ogr_geometry.h OGRGeometryCollection/OGRTriangle/
    OGRPolyhedralSurface/OGRTriangulatedSurface; GC algebra follows
    GEOS: Intersects by member union, relate ops raise)."""

    GC = "GEOMETRYCOLLECTION (POINT (1 2),LINESTRING (0 0,1 1),POLYGON ((0 0,0 2,2 2,2 0,0 0)))"

    def test_parse_envelope_area(self):
        import pandas as pd

        from gdal_spark.geom.batch import GeomType
        from gdal_spark.geom.wkt import parse_wkt

        b = parse_wkt(pd.Series([self.GC, "GEOMETRYCOLLECTION EMPTY"]))
        assert list(b.types) == [7, 7]
        assert b.envelopes()[0].tolist() == [0.0, 0.0, 2.0, 2.0]
        # area counts SURFACE members only (OGRGeometryCollection::get_Area)
        assert b.areas()[0] == 4.0
        ms = b.collection_members(0)
        assert [mt for mt, _ in ms] == [GeomType.POINT, GeomType.LINESTRING, GeomType.POLYGON]

    def test_wkt_roundtrip_and_nested_flatten(self):
        import pandas as pd

        from gdal_spark.geom.wkt import parse_wkt, to_wkt

        rt = to_wkt(parse_wkt(pd.Series([self.GC])))[0]
        assert to_wkt(parse_wkt(pd.Series([rt])))[0] == rt
        nested = "GEOMETRYCOLLECTION (MULTIPOINT ((1 2),(3 4)),GEOMETRYCOLLECTION (POINT (9 9)))"
        assert to_wkt(parse_wkt(pd.Series([nested])))[0] == (
            "GEOMETRYCOLLECTION (POINT (1 2),POINT (3 4),POINT (9 9))"
        )

    def test_wkb_roundtrip(self):
        import pandas as pd

        from gdal_spark.geom.wkb import geom_to_wkb, wkb_to_geom
        from gdal_spark.geom.wkt import parse_wkt, to_wkt

        b = parse_wkt(pd.Series([self.GC]))
        b2 = wkb_to_geom(geom_to_wkb(b))
        assert to_wkt(b2)[0] == to_wkt(b)[0]
        assert b2.areas()[0] == 4.0

    def test_surface_subtypes(self):
        import pandas as pd

        from gdal_spark.geom.wkt import parse_wkt

        b = parse_wkt(
            pd.Series(
                [
                    "TRIANGLE ((0 0,0 9,9 0,0 0))",
                    "TIN (((0 0,0 1,1 0,0 0)),((1 1,1 2,2 1,1 1)))",
                    "POLYHEDRALSURFACE Z (((0 0 0,0 1 0,1 1 0,0 0 0)))",
                ]
            )
        )
        assert list(b.types) == [3, 6, 6]
        assert b.areas().tolist() == [40.5, 1.0, 0.5]

    def test_intersects_and_relate_guard(self):
        import pytest as _pytest

        from gdal_spark.geom.relate import Geometry, intersects, within

        gc = Geometry.from_wkt(self.GC)
        near = Geometry.from_wkt("POLYGON ((0.9 1.9,0.9 2.1,1.1 2.1,1.1 1.9,0.9 1.9))")
        far = Geometry.from_wkt("POLYGON ((50 50,50 51,51 51,51 50,50 50))")
        assert intersects(gc, near) and intersects(near, gc)
        assert not intersects(gc, far)
        with _pytest.raises(ValueError, match="GEOMETRYCOLLECTION"):
            within(gc, far)

    def test_spatial_filter_accepts_gc(self):
        import numpy as np
        import pandas as pd

        from gdal_spark.geom.predicates import filter_geometry_batch
        from gdal_spark.geom.wkt import parse_wkt

        b = parse_wkt(pd.Series([self.GC, "GEOMETRYCOLLECTION (POINT (50 50))"]))
        rect = [np.array([[0.5, 1.5], [0.5, 2.5], [1.5, 2.5], [1.5, 1.5], [0.5, 1.5]])]
        mask = filter_geometry_batch(b, rect)
        assert mask.tolist() == [True, False]
