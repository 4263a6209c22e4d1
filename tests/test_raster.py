"""Rasterize / checksum / warp / tile tests against reference oracles."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from gdal_spark.fixtures import BYTE20, BYTE20_CHECKSUM, BYTE20_SPEC, byte20_tiles
from gdal_spark.geom.proj import EPSG_26711, EPSG_32611, Pipeline
from gdal_spark.operators.raster import (
    RasterSpec,
    checksum_array,
    checksum_col,
    checksum_df,
    checksum_tile_partial,
    copy_word,
    materialize_full,
    rasterize,
    rasterize_local,
)
from gdal_spark.operators.tiles import WebMercatorQuad, raster_tile, warp_bilinear, warp_nearest

F4_SPEC = RasterSpec(100, 100, (1000, 1, 0, 1100, 0, -1), dtype="uint8", nbands=3, tile_size=32)
F4_WKTS = [
    "POLYGON((1020 1030,1020 1045,1050 1045,1050 1030,1020 1030))",
    "LINESTRING(1000 1000, 1100 1050)",
]
F4_BURNS = [[-1.0, 220.0, 256.0], [-1.0, 220.0, 256.0]]


class TestChecksum:
    def test_byte20_reference_value(self):
        assert checksum_array(BYTE20) == BYTE20_CHECKSUM  # 4672

    def test_tile_partials_distributive(self):
        full = checksum_array(BYTE20)
        p = (
            checksum_tile_partial(BYTE20[:7, :11], 0, 0, 20)
            + checksum_tile_partial(BYTE20[:7, 11:], 0, 11, 20)
            + checksum_tile_partial(BYTE20[7:, :5], 7, 0, 20)
            + checksum_tile_partial(BYTE20[7:, 5:], 7, 5, 20)
        ) % 65536
        assert p == full


class TestCopyWord:
    def test_clamp_and_round(self):
        assert copy_word(np.array([256.0, -1.0, 219.5, 219.4, -0.4]), "uint8").tolist() == [255, 0, 220, 219, 0]
        assert copy_word(np.array([2.5e9, -2.5e9]), "int32").tolist() == [2147483647, -2147483648]


class TestRasterizeLocal:
    def test_f4_fixture(self):
        """autotest/alg/rasterize.py:26-75 semantics. Reference CI value
        is 6452, produced through GDAL's GenImgProj transformer whose
        identity CRS hop nudges world x=1100 to pixel 99.999... (floor
        99), shifting the Bresenham phase. With an exact affine
        transform the identical scanline+Bresenham semantics give 6443
        (verified by simulating the reference C loop bit-exactly on
        both endpoint variants). band3 max / band1 min match exactly."""
        arr = rasterize_local(F4_WKTS, F4_BURNS, F4_SPEC)
        assert checksum_array(arr[1]) == 6443
        assert arr[2].max() == 255  # burn 256 clamped
        assert arr[0].min() == 0  # burn -1 clamped
        # polygon region burned exactly: rows 55..69, cols 20..49
        assert (arr[1][55:70, 20:50] == 220).all()
        assert arr[1][54, 20] == 0 and arr[1][70, 20] == 0 and arr[1][55, 19] == 0

    def test_pixel_center_rule(self):
        # polygon covering [0.4, 2.6] in x: pixel centers 0.5,1.5,2.5 in
        spec = RasterSpec(4, 4, (0, 1, 0, 4, 0, -1))
        arr = rasterize_local(["POLYGON((0.4 1,0.4 3,2.6 3,2.6 1,0.4 1))"], [[9.0]], spec)
        # y: world 1..3 -> pixel rows 1..3 -> centers 1.5,2.5 inside
        assert arr[0].tolist() == [
            [0, 0, 0, 0],
            [9, 9, 9, 0],
            [9, 9, 9, 0],
            [0, 0, 0, 0],
        ]

    def test_merge_add(self):
        spec = RasterSpec(10, 10, (0, 1, 0, 10, 0, -1), dtype="int32")
        arr = rasterize_local(
            ["POLYGON((0 0,0 10,10 10,10 0,0 0))", "POLYGON((2 2,2 8,8 8,8 2,2 2))"],
            [[5.0], [3.0]],
            spec,
            merge_alg="add",
        )
        assert arr[0][5, 5] == 8 and arr[0][0, 0] == 5

    def test_all_touched_line(self):
        spec = RasterSpec(4, 4, (0, 1, 0, 4, 0, -1), dtype="uint8")
        diag = rasterize_local(["LINESTRING(0.1 3.9, 3.9 0.1)"], [[1.0]], spec, all_touched=True)
        brese = rasterize_local(["LINESTRING(0.1 3.9, 3.9 0.1)"], [[1.0]], spec)
        assert diag[0].sum() >= brese[0].sum()  # supercover is a superset
        assert diag[0][0, 0] == 1 and diag[0][3, 3] == 1


@pytest.mark.usefixtures("spark")
class TestRasterizeDistributed:
    def test_matches_local_across_seams(self, spark):
        shapes = spark.createDataFrame(
            [(i, F4_WKTS[i], F4_BURNS[i]) for i in range(2)],
            "fid bigint, wkt string, burn_values array<double>",
        )
        tiles = rasterize(shapes, F4_SPEC).cache()
        local = rasterize_local(F4_WKTS, F4_BURNS, F4_SPEC)
        for b in (1, 2, 3):
            assert (materialize_full(tiles, F4_SPEC, band=b) == local[b - 1]).all()
        assert checksum_df(tiles, F4_SPEC, band=2) == 6443

    def test_checksum_counts_absent_tiles_as_init(self, spark):
        """A burn emits only the tiles it touches; the others of a
        300x300 raster are init-valued, as materialize_full writes them.
        An all-init 256x256 tile's partial is 0 mod 65536, a 100x100
        one's is not, so both tile sizes are checked."""
        shapes = spark.createDataFrame([(0, "POINT (1.5 299.5)", [7.0])], "fid bigint, wkt string, burn_values array<double>")
        for tile_size in (256, 100):
            spec = RasterSpec(300, 300, (0, 1, 0, 300, 0, -1), dtype="uint8", init=5, tile_size=tile_size)
            tiles = rasterize(shapes, spec).cache()
            assert tiles.count() == 1
            assert checksum_array(materialize_full(tiles, spec)) == 56786
            assert checksum_df(tiles, spec) == 56786
            assert checksum_col(tiles, spec).collect()[0].checksum == 56786

    def test_checksum_of_an_empty_band_is_all_init(self, spark):
        from gdal_spark.operators.raster import TILE_SCHEMA

        empty = spark.createDataFrame([], TILE_SCHEMA)
        for spec in (F4_SPEC, RasterSpec(300, 300, (0, 1, 0, 300, 0, -1), dtype="int16", init=-7.6),
                     RasterSpec(30, 20, (0, 1, 0, 20, 0, -1), dtype="float32", init=300.9)):
            assert checksum_df(empty, spec) == checksum_array(materialize_full(empty, spec))

    def test_env_cols_point_fast_path_bit_identical(self, spark):
        # ADD-mode env_cols path (map-side point partials from the
        # envelope columns, no parse) must match the envelope_udf path
        # (points parsed and burned per tile) bit for bit, with points
        # and a multi-tile polygon mixed in one input
        spec = RasterSpec(8, 8, (0, 1, 0, 8, 0, -1), tile_size=4)
        rows = []
        for i in range(20):
            x, y = (i * 7) % 8 + 0.5, (i * 3) % 8 + 0.5
            rows.append((i, f"POINT ({x} {y})", x, y, x, y, [1.0]))
        rows.append((99, "POLYGON((1 1,1 7,7 7,7 1,1 1))", 1.0, 1.0, 7.0, 7.0, [2.0]))
        shapes = spark.createDataFrame(
            rows,
            "fid bigint, wkt string, env_minx double, env_miny double, "
            "env_maxx double, env_maxy double, burn_values array<double>",
        )
        fast = materialize_full(
            rasterize(shapes, spec, merge_alg="add",
                      env_cols=("env_minx", "env_miny", "env_maxx", "env_maxy")),
            spec,
        )
        slow = materialize_full(rasterize(shapes, spec, merge_alg="add"), spec)
        assert (fast == slow).all() and fast.sum() > 0

    def test_replace_is_feature_order(self, spark):
        spec = RasterSpec(8, 8, (0, 1, 0, 8, 0, -1), tile_size=4)
        w = ["POLYGON((0 0,0 8,8 8,8 0,0 0))"] * 2
        shapes = spark.createDataFrame(
            [(0, w[0], [1.0]), (1, w[1], [2.0])], "fid bigint, wkt string, burn_values array<double>"
        )
        assert materialize_full(rasterize(shapes, spec), spec).max() == 2

    def test_replace_without_order_col_burns_in_input_order(self, spark):
        # no order_col: features must still burn in input order, even
        # when one partition crosses into Arrow as several batches, and
        # when the input is a persisted shuffle whose cached plan AQE
        # coalesced (the k-sorted rows burn k, so the last one is 11)
        spec = RasterSpec(8, 8, (0, 1, 0, 8, 0, -1), tile_size=4, dtype="int32")
        w = "POLYGON((0 0,0 8,8 8,8 0,0 0))"
        batched = spark.createDataFrame(
            [(w, [1.0]), (w, [1.0]), (w, [2.0])], "wkt string, burn_values array<double>"
        ).coalesce(1)
        ks = [5, 11, 0, 7, 2, 9, 1, 10, 3, 8, 4, 6]
        sorted_ = (
            spark.createDataFrame([(k, w, [float(k)]) for k in ks],
                                  "k int, wkt string, burn_values array<double>")
            .orderBy("k").persist()
        )
        key = "spark.sql.execution.arrow.maxRecordsPerBatch"
        prev = spark.conf.get(key)
        spark.conf.set(key, "2")
        try:
            assert sorted_.count() == 12
            assert sorted_.rdd.getNumPartitions() < int(spark.conf.get("spark.sql.shuffle.partitions"))
            for shapes, last in ((batched, 2), (sorted_, 11)):
                out = materialize_full(rasterize(shapes, spec, order_col=None), spec)
                assert (out == last).all()
        finally:
            spark.conf.set(key, prev)
            sorted_.unpersist()

    def test_persisted_burn_partitions_follow_tiles(self, spark):
        # a persisted 4-tile burn table is coalesced by AQE to at most
        # one partition per tile, not left at spark.sql.shuffle.partitions
        # (8 here), so every later stage over it runs that many tasks
        spec = RasterSpec(8, 8, (0, 1, 0, 8, 0, -1), tile_size=4)
        shapes = spark.createDataFrame(
            [(i, "POLYGON((0 0,0 8,8 8,8 0,0 0))", [1.0]) for i in range(3)],
            "fid bigint, wkt string, burn_values array<double>",
        )
        burn = rasterize(shapes, spec, merge_alg="add").persist()
        try:
            assert burn.count() == 4
            assert burn.rdd.getNumPartitions() <= 4
        finally:
            burn.unpersist()


class TestWarpKernels:
    def test_nearest_rule(self):
        src = np.arange(16, dtype=np.uint8).reshape(4, 4)
        # int(coord + 1e-10) truncation; right-edge clamp just below W
        sx = np.array([0.0, 0.9999, 1.0, 3.9999, 4.0 - 1e-10])
        sy = np.zeros(5)
        vals, valid = warp_nearest(src, sx, sy)
        assert valid.all()
        assert vals.tolist() == [0, 0, 1, 3, 3]
        # reject outside: x < 0, and x + 1e-10 > W (exactly W rejects,
        # gdalwarpkernel.cpp:5325)
        _, v2 = warp_nearest(src, np.array([-0.001, 4.0, 4.001]), np.zeros(3))
        assert v2.tolist() == [False, False, False]

    def test_bilinear_center_exact(self):
        src = np.array([[0, 10], [20, 30]], dtype=np.uint8)
        # sample exactly at pixel center (0.5, 0.5) -> value of that pixel
        v, ok = warp_bilinear(src, np.array([0.5, 1.5, 1.0]), np.array([0.5, 1.5, 1.0]))
        assert ok.all()
        assert v[0] == 0 and v[1] == 30
        assert v[2] == pytest.approx((0 + 10 + 20 + 30) / 4)

    def test_bilinear_border_degradation(self):
        src = np.array([[4, 8], [12, 16]], dtype=np.uint8)
        # iSrc == -1 -> weight collapses to the edge pixel row/col
        v, ok = warp_bilinear(src, np.array([0.2]), np.array([0.5]))
        assert ok[0] and v[0] == 4


@pytest.mark.usefixtures("spark")
class TestTiling:
    def test_byte20_tile_key_oracle(self, spark):
        """autotest/utilities/test_gdalalg_raster_tile.py:30-69 — the
        byte.tif raster tiles to EXACTLY z11/354/818 (xyz), parent
        z10/177/409. The key set and coverage shape over byte.tif's
        TRUE CRS (EPSG:26711); the reference's payload constant is
        pinned bit-exact in test_byte20_reference_checksum_oracle."""
        src = byte20_tiles(spark)
        pipe = Pipeline(src=EPSG_26711, dst="webmercator")
        tiles = raster_tile(src, BYTE20_SPEC, pipe, min_zoom=10, max_zoom=11, resampling="near").cache()
        keys = {(r.z, r.tx, r.ty) for r in tiles.select("z", "tx", "ty").distinct().collect()}
        assert keys == {(11, 354, 818), (10, 177, 409)}
        # alpha coverage: some pixels covered, most of the 256^2 not
        alpha = [r for r in tiles.collect() if r.band == 2 and r.z == 11][0]
        a = np.frombuffer(alpha.payload, dtype="uint8").reshape(256, 256)
        assert 200 < (a == 255).sum() < 1000
        band1 = [r for r in tiles.collect() if r.band == 1 and r.z == 11][0]
        t = np.frombuffer(band1.payload, dtype="uint8").reshape(256, 256)
        assert t.max() == 255 and (t[a == 0] == 0).all()

    def test_byte20_reference_checksum_oracle(self, spark):
        """The reference's OWN tile-payload constant, matched
        bit-exact: test_gdalalg_raster_tile.py:40-69 translates
        byte.tif to outputSRS=EPSG:32611 (no datum change is involved
        in the oracle) and tiles with the alg's DEFAULTS — resampling
        cubic (gdalalg_raster_tile.h:245) through the 0.125-px approx
        transformer (gdalalg_raster_tile.cpp:5165) — asserting band
        checksums [4160, 4415] on 11/354/818.png. Reproducing it
        needs the Kruger-exact transverse Mercator (geom/proj.py),
        the faithful GDALApproxTransform subdivision replica
        (operators/tiles.py), and the GWKCubic kernel."""
        src = byte20_tiles(spark)
        pipe = Pipeline(src=EPSG_32611, dst="webmercator")
        tiles = raster_tile(
            src, BYTE20_SPEC, pipe, min_zoom=11, max_zoom=11,
            resampling="cubic", approx_error=0.125,
        ).collect()
        sums = {
            r.band: checksum_array(
                np.frombuffer(r.payload, dtype="uint8").reshape(256, 256))
            for r in tiles
        }
        assert [sums[1], sums[2]] == [4160, 4415]

    def test_resume_anti_join(self, spark):
        src = byte20_tiles(spark)
        pipe = Pipeline(src=EPSG_26711, dst="webmercator")
        done = spark.createDataFrame([(11, 354, 818)], "z int, tx int, ty int")
        tiles = raster_tile(src, BYTE20_SPEC, pipe, min_zoom=11, max_zoom=11, done_keys=done)
        assert tiles.count() == 0  # everything already done

    def test_tms_convention(self):
        tms = WebMercatorQuad()
        assert tms.file_y(818, 11, "xyz") == 818
        assert tms.file_y(818, 11, "tms") == 2047 - 818


class TestWarpCubic:
    """GWKCubicResample4Sample semantics (gdalwarpkernel.cpp:3229+)."""

    def test_identity_at_centers(self):
        import numpy as np

        from gdal_spark.fixtures import BYTE20
        from gdal_spark.operators.tiles import warp_cubic

        jj, ii = np.meshgrid(np.arange(20), np.arange(20))
        vals, valid = warp_cubic(BYTE20, (jj + 0.5).ravel().astype(float), (ii + 0.5).ravel().astype(float))
        assert valid.all()
        # delta == 0 -> weights (0,1,0,0) -> exact passthrough
        np.testing.assert_array_equal(vals.reshape(20, 20), BYTE20.astype(float))

    def test_matches_direct_formula(self):
        import numpy as np

        from gdal_spark.fixtures import BYTE20
        from gdal_spark.operators.tiles import warp_cubic

        rng = np.random.default_rng(5)
        sx = rng.uniform(2.0, 18.0, 200)
        sy = rng.uniform(2.0, 18.0, 200)
        vals, valid = warp_cubic(BYTE20, sx, sy)
        assert valid.all()

        def weights(d):
            return (
                0.5 * d * (-1 + d * (2 - d)),
                1 + 0.5 * d * d * (-5 + 3 * d),
                0.5 * d * (1 + d * (4 - 3 * d)),
                0.5 * d * d * (-1 + d),
            )

        for k in range(200):
            ix, iy = int(sx[k] - 0.5), int(sy[k] - 0.5)
            wx = weights(sx[k] - 0.5 - ix)
            wy = weights(sy[k] - 0.5 - iy)
            want = sum(
                wy[r] * sum(wx[c] * float(BYTE20[iy + r - 1, ix + c - 1]) for c in range(4))
                for r in range(4)
            )
            assert abs(vals[k] - want) < 1e-9

    def test_border_falls_back_to_bilinear(self):
        import numpy as np

        from gdal_spark.fixtures import BYTE20
        from gdal_spark.operators.tiles import warp_bilinear, warp_cubic

        sx = np.array([0.7, 19.4])
        sy = np.array([0.6, 19.2])
        cv, cvalid = warp_cubic(BYTE20, sx, sy)
        bv, bvalid = warp_bilinear(BYTE20, sx, sy)
        np.testing.assert_array_equal(cv, bv)


class TestWarpAverage:
    """GRA_Average footprint window rule (gdalwarpkernel.cpp:6992+)."""

    def test_matches_brute_force(self):
        import numpy as np

        from gdal_spark.fixtures import BYTE20
        from gdal_spark.operators.tiles import warp_average

        rng = np.random.default_rng(8)
        sxa = rng.uniform(-1.0, 19.0, 150)
        sya = rng.uniform(-1.0, 19.0, 150)
        sxb = sxa + rng.uniform(0.3, 4.0, 150)
        syb = sya + rng.uniform(0.3, 4.0, 150)
        vals, ok = warp_average(BYTE20, sxa, sya, sxb, syb)
        EPS = 1e-10
        for k in range(150):
            # GDAL's intersect pre-check (gdalwarpkernel.cpp:6996):
            # a footprint outside [0, size] is invalid outright
            if not (
                max(sxa[k], sxb[k]) > -EPS and min(sxa[k], sxb[k]) < 20 + EPS
                and max(sya[k], syb[k]) > -EPS and min(sya[k], syb[k]) < 20 + EPS
            ):
                assert not ok[k]
                continue
            ix0 = max(int(np.floor(min(sxa[k], sxb[k]) + EPS)), 0)
            ix1 = min(int(np.ceil(max(sxa[k], sxb[k]) - EPS)), 20)
            if ix0 == ix1 and ix1 < 20:
                ix1 += 1
            iy0 = max(int(np.floor(min(sya[k], syb[k]) + EPS)), 0)
            iy1 = min(int(np.ceil(max(sya[k], syb[k]) - EPS)), 20)
            if iy0 == iy1 and iy1 < 20:
                iy1 += 1
            if ix1 > ix0 and iy1 > iy0:
                assert ok[k]
                want = BYTE20[iy0:iy1, ix0:ix1].astype(float).mean()
                assert abs(vals[k] - want) < 1e-9

    def test_exact_2x2_downsample(self):
        import numpy as np

        from gdal_spark.operators.tiles import warp_average

        src = np.arange(16, dtype=np.float64).reshape(4, 4)
        # dst pixel k covers src [2k, 2k+2) in both axes
        jj, ii = np.meshgrid(np.arange(2), np.arange(2))
        sxa, sya = (jj * 2.0).ravel(), (ii * 2.0).ravel()
        sxb, syb = (jj * 2.0 + 2.0).ravel(), (ii * 2.0 + 2.0).ravel()
        vals, ok = warp_average(src, sxa, sya, sxb, syb)
        want = np.array([[src[0:2, 0:2].mean(), src[0:2, 2:4].mean()],
                         [src[2:4, 0:2].mean(), src[2:4, 2:4].mean()]]).ravel()
        np.testing.assert_allclose(vals, want)
        assert ok.all()


class TestTileAverage:
    def test_average_tiling_end_to_end(self, spark):
        import numpy as np

        from gdal_spark.fixtures import BYTE20_SPEC, byte20_tiles
        from gdal_spark.geom.proj import EPSG_26711, Pipeline
        from gdal_spark.operators.tiles import raster_tile

        src = byte20_tiles(spark)
        pipe = Pipeline(src=EPSG_26711, dst="webmercator")
        tiles = raster_tile(src, BYTE20_SPEC, pipe, min_zoom=11, max_zoom=11, resampling="average").cache()
        rows = tiles.collect()
        assert {(r.z, r.tx, r.ty) for r in rows} == {(11, 354, 818)}
        band = [r for r in rows if r.band == 1][0]
        a = np.frombuffer(band.payload, dtype=band.dtype).reshape(256, 256)
        # averaged values stay within the source range and cover the
        # same footprint as nearest
        cov = a > 0
        assert 200 < cov.sum() < 1000
        assert a[cov].min() >= 74 and a[cov].max() <= 255


class TestTileNewResamplers:
    @pytest.mark.parametrize("alg", ["lanczos", "cubicspline", "mode", "min", "max", "med", "sum"])
    def test_resampler_dispatch_end_to_end(self, spark, alg):
        """Every round-2 resampler runs through raster_tile on the
        byte20 fixture and produces the canonical 11/354/818 tile with
        plausible values (kernel exactness is pinned by
        test_warp_resamplers; this guards the dispatch + window
        assembly)."""
        import numpy as np

        from gdal_spark.fixtures import BYTE20, BYTE20_SPEC, byte20_tiles
        from gdal_spark.geom.proj import EPSG_26711, Pipeline
        from gdal_spark.operators.tiles import raster_tile

        src = byte20_tiles(spark)
        pipe = Pipeline(src=EPSG_26711, dst="webmercator")
        tiles = raster_tile(src, BYTE20_SPEC, pipe, min_zoom=11, max_zoom=11, resampling=alg)
        rows = tiles.collect()
        assert {(r.z, r.tx, r.ty) for r in rows} == {(11, 354, 818)}
        band = [r for r in rows if r.band == 1][0]
        a = np.frombuffer(band.payload, dtype=band.dtype).reshape(256, 256)
        cov = a > 0
        assert cov.sum() > 100
        if alg != "sum":  # sum exceeds the source range by design
            assert a[cov].max() <= 255
            if alg in ("mode", "min", "max", "med"):
                # window statistics must come from actual source values
                assert set(np.unique(a[cov])) <= set(np.unique(BYTE20)) | {0}


class TestBurnValueFromZ:
    """BURN_VALUE_FROM=Z (gdal_rasterize -3d): burned value = burn +
    geometry Z (alg/gdalrasterize.cpp:70-90,417-510; variant plumbing
    llrasterize.cpp:179,233-248,297-380)."""

    SPEC = RasterSpec(width=12, height=12, gt=(0.0, 1.0, 0.0, 12.0, 0.0, -1.0), dtype="float64", init=0.0)

    def test_point_per_vertex_z(self):
        a = rasterize_local(
            ["POINT Z (2.5 9.5 7)", "MULTIPOINT Z ((4.5 9.5 1), (5.5 9.5 2))"],
            [[5.0], [10.0]], self.SPEC, merge_alg="add", burn_value_from_z=True,
        )
        assert a[0][2, 2] == 12.0  # 5 + 7
        assert a[0][2, 4] == 11.0  # 10 + 1
        assert a[0][2, 5] == 12.0  # 10 + 2

    def test_polygon_first_vertex_z_fills_whole(self):
        # GDALdllImageFilledPolygon burns dfVariant[0] for the whole
        # fill (llrasterize.cpp:179): fill value = burn + z of first
        # exterior-ring vertex, NOT interpolated
        a = rasterize_local(
            ["POLYGON Z ((1 1 3, 10 1 9, 10 10 9, 1 10 3, 1 1 3))"],
            [[1.0]], self.SPEC, burn_value_from_z=True,
        )
        vals = set(np.unique(a[0])) - {0.0}
        assert vals == {4.0}

    def test_line_interpolates_along_walk(self):
        a = rasterize_local(
            ["LINESTRING Z (0.5 5.5 0, 8.5 5.5 8)"],
            [[0.0]], self.SPEC, burn_value_from_z=True,
        )
        np.testing.assert_array_equal(a[0][6, :9], np.arange(9.0))

    def test_2d_geometry_burns_plus_zero(self):
        a = rasterize_local(
            ["POINT (2.5 9.5)"], [[5.0]], self.SPEC, merge_alg="add", burn_value_from_z=True,
        )
        assert a[0][2, 2] == 5.0

    @pytest.mark.parametrize("merge_alg", ["add", "replace"])
    def test_distributed_matches_local(self, spark, merge_alg):
        """Multi-tile shapes (tile_size=8 over 12x12) through the
        distributed explode/shuffle/burn == sequential ground truth."""
        spec = RasterSpec(width=12, height=12, gt=(0.0, 1.0, 0.0, 12.0, 0.0, -1.0),
                          dtype="float64", init=0.0, tile_size=8)
        wkts = [
            "POINT Z (2.5 9.5 7)",
            "LINESTRING Z (0.5 2.5 0, 11.5 2.5 11)",   # crosses tile seam
            "POLYGON Z ((1 1 3, 11 1 9, 11 7 9, 1 7 3, 1 1 3))",
            "MULTIPOINT Z ((4.5 9.5 1), (10.5 10.5 2))",
        ]
        burns = [[5.0], [2.0], [1.0], [10.0]]
        want = rasterize_local(wkts, burns, spec, merge_alg=merge_alg, burn_value_from_z=True)

        df = spark.createDataFrame(
            [(i, w, b) for i, (w, b) in enumerate(zip(wkts, burns))],
            "fid long, wkt string, burn_values array<double>",
        )
        tiles = rasterize(df, spec, merge_alg=merge_alg, burn_value_from_z=True)
        got = np.full((spec.height, spec.width), np.nan)
        for r in tiles.filter(F.col("band") == 1).collect():
            t = np.frombuffer(r.payload, dtype=r.dtype).reshape(r.h, r.w)
            got[r.ty * 8 : r.ty * 8 + r.h, r.tx * 8 : r.tx * 8 + r.w] = t
        np.testing.assert_array_equal(got, want[0])


class TestWarpSrcNodata:
    """gdalwarp -srcnodata / -dstnodata (UNIFIED_SRC_NODATA,
    GWKResample valid-sample reweighting)."""

    def _tiles(self, spark, arr):
        spec = RasterSpec(width=20, height=20, gt=BYTE20_SPEC.gt, dtype="float64", tile_size=16)
        rows = []
        for ty in range(spec.ntiles_y):
            for tx in range(spec.ntiles_x):
                h, w = spec.tile_shape(ty, tx)
                oy, ox = ty * 16, tx * 16
                rows.append((1, ty, tx, h, w, "float64", arr[oy:oy+h, ox:ox+w].tobytes()))
        df = spark.createDataFrame(rows, "band int, ty int, tx int, h int, w int, dtype string, payload binary")
        return df, spec

    def _tile_array(self, tiles):
        r = [x for x in tiles.collect() if x.band == 1][0]
        return np.frombuffer(r.payload, dtype=r.dtype).reshape(256, 256)

    def test_nearest_propagates_nodata(self, spark):
        arr = BYTE20.astype(np.float64).copy()
        arr[5:8, 5:8] = -99.0
        df, spec = self._tiles(spark, arr)
        pipe = Pipeline(src=EPSG_26711, dst="webmercator")
        with_nd = self._tile_array(raster_tile(df, spec, pipe, 11, 11, "near", src_nodata=-99.0, dst_nodata=7.0))
        without = self._tile_array(raster_tile(df, spec, pipe, 11, 11, "near"))
        # all dst pixels sampling the hole become dst_nodata
        hole = (without == -99.0)
        assert hole.any()
        assert (with_nd[hole] == 7.0).all()
        # pixels sampling valid data are untouched
        assert np.array_equal(with_nd[~hole & (without > 0)], without[~hole & (without > 0)])

    def test_bilinear_renormalizes(self, spark):
        # uniform field with a nodata hole: excluded-sample reweighting
        # must reproduce the constant exactly wherever any valid
        # sample weight remains (sum w*v / sum w with v constant)
        arr = np.full((20, 20), 50.0)
        arr[9:11, 9:11] = -1.0
        df, spec = self._tiles(spark, arr)
        pipe = Pipeline(src=EPSG_26711, dst="webmercator")
        out = self._tile_array(raster_tile(df, spec, pipe, 11, 11, "bilinear", src_nodata=-1.0))
        covered = out != 0.0
        assert covered.any()
        np.testing.assert_allclose(out[covered], 50.0)

    def test_average_excludes_nodata(self, spark):
        arr = np.full((20, 20), 80.0)
        arr[0:10, :] = -5.0  # top half nodata
        df, spec = self._tiles(spark, arr)
        pipe = Pipeline(src=EPSG_26711, dst="webmercator")
        out = self._tile_array(raster_tile(df, spec, pipe, 11, 11, "average", src_nodata=-5.0))
        vals = set(np.unique(out)) - {0.0}
        # every covered pixel averages only valid samples -> exactly 80
        assert vals == {80.0}

    @pytest.mark.parametrize("stat", ["mode", "min", "max", "med", "rms"])
    def test_stat_resampler_skips_nodata(self, spark, stat):
        # uniform field with a nodata hole: with per-sample validity
        # skip (GWKAverageOrMode, gdalwarpkernel.cpp:6864+) every dst
        # window that retains >=1 valid sample yields exactly the
        # constant; windows fully inside the hole become invalid
        arr = np.full((20, 20), 60.0)
        arr[4:16, 4:16] = -7.0
        df, spec = self._tiles(spark, arr)
        pipe = Pipeline(src=EPSG_26711, dst="webmercator")
        out = self._tile_array(raster_tile(df, spec, pipe, 11, 11, stat, src_nodata=-7.0))
        without = self._tile_array(raster_tile(df, spec, pipe, 11, 11, stat))
        vals = set(np.unique(out)) - {0.0}
        assert vals == {60.0}
        # the hole interior must have gone invalid (more dst-0 pixels
        # than the unmasked run), and windows mixing hole + valid now
        # read 60 instead of the unmasked statistic
        assert (out == 0.0).sum() > (without == 0.0).sum()
        if stat != "max":  # max of {60, -7} is already 60: mask is a no-op there
            assert ((out == 60.0) & (without != 60.0) & (without != 0.0)).any()

    def test_average_excluded_values(self, spark):
        # EXCLUDED_VALUES (gdalwarpkernel.cpp:7787-7931): a window
        # where the excluded value's share reaches the threshold takes
        # the excluded value itself; below the threshold the excluded
        # samples are simply left out of the mean
        arr = np.full((20, 20), 10.0)
        arr[0:10, :] = 200.0  # top half all-excluded
        df, spec = self._tiles(spark, arr)
        pipe = Pipeline(src=EPSG_26711, dst="webmercator")
        out = self._tile_array(
            raster_tile(df, spec, pipe, 11, 11, "average", excluded_values="200")
        )
        vals = set(np.unique(out)) - {0.0}
        # every covered dst window is either all-10 (mean 10), or
        # majority-200 (takes 200); mixed windows near the boundary
        # that stay under 50% exclude the 200s from the mean -> 10
        assert vals == {10.0, 200.0}
        without = self._tile_array(raster_tile(df, spec, pipe, 11, 11, "average"))
        mixed = (without != 10.0) & (without != 200.0) & (without != 0.0)
        assert mixed.any()
        assert set(np.unique(out[mixed])) <= {10.0, 200.0}

    def test_nodata_values_pct_threshold(self, spark):
        # NODATA_VALUES_PCT_THRESHOLD < 100: a dst window whose
        # invalid share reaches the threshold is dropped even though
        # valid samples remain
        arr = np.full((20, 20), 30.0)
        arr[0:10, :] = -1.0
        df, spec = self._tiles(spark, arr)
        pipe = Pipeline(src=EPSG_26711, dst="webmercator")
        strict = self._tile_array(
            raster_tile(df, spec, pipe, 11, 11, "average", src_nodata=-1.0,
                        nodata_values_pct_threshold=40.0)
        )
        lax = self._tile_array(
            raster_tile(df, spec, pipe, 11, 11, "average", src_nodata=-1.0)
        )
        # default (100%) keeps mixed windows; 40% drops the ones whose
        # nodata share is in [40%, 100%)
        assert ((lax == 30.0) & (strict == 0.0)).any()
        assert set(np.unique(strict)) <= {0.0, 30.0}


def test_bilinear_border_no_padding_bias(spark):
    """Regression: the tile-assembled source window used to pad past
    the raster's right/bottom edge, so bilinear sampled the zero
    padding with full weight (border pixels of a constant-50 field
    warped to ~27-49 instead of 50). The window crop keeps the array
    edge == raster edge, which is what triggers the kernel's border
    degradation (GWKBilinearResample4Sample)."""
    spec = RasterSpec(width=20, height=20, gt=BYTE20_SPEC.gt, dtype="float64", tile_size=16)
    arr = np.full((20, 20), 50.0)
    rows = []
    for ty in range(spec.ntiles_y):
        for tx in range(spec.ntiles_x):
            h, w = spec.tile_shape(ty, tx)
            rows.append((1, ty, tx, h, w, "float64", arr[ty*16:ty*16+h, tx*16:tx*16+w].tobytes()))
    df = spark.createDataFrame(rows, "band int, ty int, tx int, h int, w int, dtype string, payload binary")
    pipe = Pipeline(src=EPSG_26711, dst="webmercator")
    t = raster_tile(df, spec, pipe, 11, 11, "bilinear")
    r = [x for x in t.collect() if x.band == 1][0]
    out = np.frombuffer(r.payload, dtype=r.dtype).reshape(256, 256)
    cov = out != 0.0
    assert cov.any()
    np.testing.assert_allclose(out[cov], 50.0, rtol=1e-12)


class TestRasterizeCatalystExplode:
    """Every rasterize explodes JVM-side (no per-row Python before the
    shuffle): parity between envelope columns and envelope_udf on
    rotated grids, NaN envelopes and off-raster shapes; the plan
    carries one envelope pass and no Python explode."""

    def _shapes(self, spark):
        rows = []
        for i in range(30):
            x, y = (i * 7) % 12 - 2 + 0.5, (i * 5) % 12 - 2 + 0.5  # some outside
            rows.append((i, f"POINT ({x} {y})", x, y, x, y, [1.0]))
        rows.append((90, "POLYGON((1 1,1 7,7 7,7 1,1 1))", 1.0, 1.0, 7.0, 7.0, [2.0]))
        rows.append((91, "LINESTRING(0.2 0.2, 7.8 6.9)", 0.2, 0.2, 7.8, 6.9, [3.0]))
        nan = float("nan")
        rows.append((92, None, nan, nan, nan, nan, [5.0]))  # parse-error row
        return spark.createDataFrame(
            rows,
            "fid bigint, wkt string, env_minx double, env_miny double, "
            "env_maxx double, env_maxy double, burn_values array<double>",
        )

    def test_rotated_gt_parity(self, spark):
        spec = RasterSpec(8, 8, (0.0, 0.9, 0.2, 8.0, 0.1, -0.8), tile_size=4, dtype="int32")
        shapes = self._shapes(spark)
        env = ("env_minx", "env_miny", "env_maxx", "env_maxy")
        rows = shapes.orderBy("fid").collect()
        for merge_alg in ("add", "replace"):
            fast = materialize_full(rasterize(shapes, spec, merge_alg=merge_alg, env_cols=env), spec)
            slow = materialize_full(rasterize(shapes, spec, merge_alg=merge_alg), spec)
            local = rasterize_local(
                [r.wkt for r in rows], [r.burn_values for r in rows], spec, merge_alg=merge_alg
            )[0]
            assert (fast == slow).all() and (fast == local).all() and fast.sum() > 0, merge_alg

    def test_degenerate_polygon_is_not_a_point(self, spark):
        """A zero-area POLYGON has a degenerate envelope but burns
        NOTHING under the center rule — the point paths must not stamp
        a pixel for it (the map-side point partials key on the POINT
        prefix, the per-tile point burn on the parsed type, neither on
        the envelope alone). Regression for both, with and without
        envelope columns."""
        spec = RasterSpec(8, 8, (0, 1, 0, 8, 0, -1), tile_size=4, dtype="int32")
        rows = [
            (0, "POLYGON((2.5 2.5,2.5 2.5,2.5 2.5,2.5 2.5))",
             2.5, 2.5, 2.5, 2.5, [7.0]),
            (1, "POINT (5.5 5.5)", 5.5, 5.5, 5.5, 5.5, [3.0]),
        ]
        shapes = spark.createDataFrame(
            rows,
            "fid bigint, wkt string, env_minx double, env_miny double, "
            "env_maxx double, env_maxy double, burn_values array<double>",
        )
        env = ("env_minx", "env_miny", "env_maxx", "env_maxy")
        for kwargs in ({"env_cols": env}, {}):
            out = materialize_full(
                rasterize(shapes, spec, merge_alg="add", **kwargs), spec)
            assert out.sum() == 3  # only the POINT burned
            assert out[2, 5] == 3  # row 8-1-5.5 -> y=2; x=5

    def test_sql_double_literals_are_exact(self, spark):
        """The explode math is SQL text; its literals must read back as
        the very doubles of the geotransform."""
        import struct

        from gdal_spark.operators.raster import _sql_double

        vals = [0.0, -0.0, 0.1, -440720.0, 1200.0 / 512, 1e-300, 5e-324, 1.7976931348623157e308,
                -2.5e-7, float("inf"), float("-inf"), float("nan"), np.float64(3751320.0)]
        row = spark.sql("SELECT " + ", ".join(f"{_sql_double(v)} AS c{i}" for i, v in enumerate(vals))).first()
        bits = lambda v: struct.pack("<d", float(v))  # noqa: E731 — tells -0.0 from 0.0, compares NaN
        assert [bits(row[i]) for i in range(len(vals))] == [bits(v) for v in vals]

    def test_explode_plan_is_jvm_side(self, spark):
        spec = RasterSpec(8, 8, (0, 1, 0, 8, 0, -1), tile_size=4)
        shapes = self._shapes(spark)
        for merge_alg in ("add", "replace"):
            for env in (("env_minx", "env_miny", "env_maxx", "env_maxy"), None):
                tiles = rasterize(shapes, spec, merge_alg=merge_alg, env_cols=env)
                plan = tiles._jdf.queryExecution().executedPlan().toString()
                case = (merge_alg, env is not None)
                # the tile fan-out is a JVM Generate for every call
                assert "Generate explode" in plan, case
                # the only MapInPandas is the map-side point pre-combine
                # (ADD with envelope columns), which emits
                # per-(partition, tile) partials instead of
                # row-per-point; any other would betray a Python explode
                pt_partials = merge_alg == "add" and env is not None
                assert plan.count("MapInPandas") == int(pt_partials), case
                # without envelope columns ONE envelope_udf pass (not one
                # per projection reading its fields); with them none
                assert plan.count("ArrowEvalPython") == int(env is None), case
                # burn (+ merge for ADD's two phases) group stages
                assert plan.count("FlatMapGroupsInPandas") == (2 if merge_alg == "add" else 1), case
