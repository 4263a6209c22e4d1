"""overview_refresh (gdalalg_raster_overview_refresh.cpp
PartialRefreshFromBBOX :395-446 + PartialRefresh :68-112): refresh
equals a full recompute over the updated base, touches only the
affected parent rectangle, and the bbox->window snap matches the
reference's +-1e-8 rules."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from gdal_spark.operators.overview_refresh import (
    affected_parent_range,
    halve_window,
    overview_refresh,
    window_from_bbox,
)
from gdal_spark.operators.tiles import overview_level

TS = 8  # tile size
N = 64  # base raster 64x64 -> 8x8 tiles -> 4x4 parents


def _array(seed: int) -> np.ndarray:
    rng = np.random.RandomState(seed)
    return rng.randint(0, 255, size=(N, N)).astype(np.uint8)


def _tiles(spark, a: np.ndarray):
    rows = []
    for ty in range(N // TS):
        for tx in range(N // TS):
            rows.append(
                (2, ty, tx, 1, "uint8",
                 bytes(a[ty * TS : (ty + 1) * TS, tx * TS : (tx + 1) * TS].tobytes()))
            )
    return spark.createDataFrame(
        rows, "z int, ty int, tx int, band int, dtype string, payload binary"
    )


def _collect_map(df):
    return {
        (r["z"], r["ty"], r["tx"], r["band"]): bytes(r["payload"])
        for r in df.collect()
    }


class TestRefresh:
    @pytest.mark.parametrize("resampling", ["average", "near", "mode", "rms"])
    def test_refresh_equals_full_recompute(self, spark, resampling):
        old = _array(7)
        new = old.copy()
        # dirty a window crossing tile AND parent boundaries
        new[13:29, 21:43] = (new[13:29, 21:43] + 57) % 256
        stale = overview_level(_tiles(spark, old), resampling=resampling, tile_size=TS)
        got = overview_refresh(
            _tiles(spark, new), stale, (21, 13, 43 - 21, 29 - 13),
            resampling=resampling, tile_size=TS,
        )
        want = overview_level(_tiles(spark, new), resampling=resampling, tile_size=TS)
        assert _collect_map(got) == _collect_map(want)

    def test_untouched_parents_pass_through(self, spark):
        old = _array(3)
        new = old.copy()
        new[0:TS, 0:TS] = 0  # dirty only base tile (0,0) -> parent (0,0)
        stale = overview_level(_tiles(spark, old), tile_size=TS)
        got = overview_refresh(_tiles(spark, new), stale, (0, 0, TS, TS), tile_size=TS)
        gm, sm = _collect_map(got), _collect_map(stale)
        assert set(gm) == set(sm)
        changed = [k for k in gm if gm[k] != sm[k]]
        assert changed == [(1, 0, 0, 1)]

    def test_empty_window_returns_existing(self, spark):
        a = _array(1)
        stale = overview_level(_tiles(spark, a), tile_size=TS)
        got = overview_refresh(_tiles(spark, a), stale, (5, 5, 0, 0), tile_size=TS)
        assert got is stale

    def test_cascade_two_levels(self, spark):
        old = _array(11)
        new = old.copy()
        new[40:56, 8:24] ^= 0xFF
        w = (8, 40, 16, 16)
        stale1 = overview_level(_tiles(spark, old), tile_size=TS)
        stale0 = overview_level(stale1, tile_size=TS)
        fresh1 = overview_refresh(_tiles(spark, new), stale1, w, tile_size=TS)
        fresh0 = overview_refresh(fresh1, stale0, halve_window(w), tile_size=TS)
        want1 = overview_level(_tiles(spark, new), tile_size=TS)
        want0 = overview_level(want1, tile_size=TS)
        assert _collect_map(fresh0) == _collect_map(want0)


class TestWindowMath:
    def test_bbox_snap_rules(self):
        from gdal_spark.operators.raster import RasterSpec

        spec = RasterSpec(width=64, height=64, gt=(100.0, 2.0, 0.0, 300.0, 0.0, -2.0),
                          dtype="uint8", nbands=1, tile_size=TS)
        # bbox exactly on pixel edges: pixels [4,10) x [6,16)
        w = window_from_bbox(spec, (108.0, 268.0, 120.0, 288.0))
        assert w == (4, 6, 6, 10)
        # sub-pixel bbox expands outward via the ceil - EPS rule
        w2 = window_from_bbox(spec, (108.5, 268.0, 120.0, 288.0))
        assert w2 == (4, 6, 6, 10)
        # clamps to the raster
        w3 = window_from_bbox(spec, (0.0, 0.0, 1e6, 1e6))
        assert w3 == (0, 0, 64, 64)

    def test_parent_range(self):
        assert affected_parent_range((0, 0, TS, TS), TS) == (0, 0, 0, 0)
        assert affected_parent_range((21, 13, 22, 16), TS) == (1, 2, 0, 1)
        assert affected_parent_range((0, 0, 0, 0), TS) == (0, -1, 0, -1)

    def test_halve_window(self):
        assert halve_window((8, 40, 16, 16)) == (4, 20, 8, 8)
        # source pixels 13..15 -> parent pixels 6..7 (width 2)
        assert halve_window((13, 13, 3, 3)) == (6, 6, 2, 2)


class TestMultiWindow:
    def test_like_form_union_of_extents(self, spark):
        """--like form (PartialRefreshFromSourceExtent :279-390): two
        disjoint dirty extents + one overlapping pair, refreshed in
        one pass, equals a full recompute."""
        from gdal_spark.operators.overview_refresh import overview_refresh_windows

        old = _array(21)
        new = old.copy()
        wins = [(0, 0, 10, 10), (40, 48, 16, 12), (6, 4, 12, 12)]  # 1st & 3rd overlap
        for (x, y, w, h) in wins:
            new[y:y + h, x:x + w] = (new[y:y + h, x:x + w].astype(int) + 9) % 256
        stale = overview_level(_tiles(spark, old), tile_size=TS)
        got = overview_refresh_windows(_tiles(spark, new), stale, wins, tile_size=TS)
        want = overview_level(_tiles(spark, new), tile_size=TS)
        assert _collect_map(got) == _collect_map(want)
        # overlapping rects must not duplicate parents
        keys = [r for r in got.groupBy("z", "ty", "tx", "band").count().collect()]
        assert all(r["count"] == 1 for r in keys)


class TestScanPruning:
    def test_children_filter_pushes_to_parquet_scan(self, spark, tmp_path):
        """The 100 TB contract: over a parquet-backed tile table the
        children key-range filter must reach the scan as PushedFilters
        on ty/tx — the refresh reads only the affected tiles' row
        groups, never the whole pyramid level."""
        from gdal_spark.operators.overview_refresh import overview_refresh

        spark.conf.set("spark.sql.maxMetadataStringLength", "2000")
        p = str(tmp_path / "tiles")
        _tiles(spark, _array(5)).write.parquet(p)
        base = spark.read.parquet(p)
        stale = overview_level(_tiles(spark, _array(5)), tile_size=TS)
        out = overview_refresh(base, stale, (21, 13, 22, 16), tile_size=TS)
        plan = out._jdf.queryExecution().executedPlan().toString()
        scan = [l for l in plan.splitlines() if "PushedFilters" in l]
        assert scan, plan
        pushed = next(l for l in scan if "GreaterThanOrEqual(tx" in l or "tx" in l)
        for frag in ("GreaterThanOrEqual(tx,2)", "LessThanOrEqual(tx,5)",
                     "GreaterThanOrEqual(ty,0)", "LessThanOrEqual(ty,3)"):
            assert frag in pushed, (frag, pushed)


class TestOverviewAverage:
    def test_float_average_keeps_fractions(self, spark):
        # a float band of 0.5 must average to 0.5 (GDAL), not truncate
        # the top-left pixel of each 2x2 block to 0 (0.375)
        a = np.full((N, N), 0.5, dtype=np.float32)
        rows = [
            (2, ty, tx, 1, "float32", a[ty * TS : (ty + 1) * TS, tx * TS : (tx + 1) * TS].tobytes())
            for ty in range(N // TS) for tx in range(N // TS)
        ]
        tiles = spark.createDataFrame(rows, "z int, ty int, tx int, band int, dtype string, payload binary")
        got = _collect_map(overview_level(tiles, resampling="average", tile_size=TS))
        assert len(got) == (N // TS // 2) ** 2
        for payload in got.values():
            assert np.array_equal(np.frombuffer(payload, np.float32), np.full(TS * TS, 0.5, np.float32))

    def test_integer_average_rounds_half_up(self, spark):
        # (sum + 2) // 4 in integers: 1+1+1+2 = 5 -> 1, 1+2+2+2 = 7 -> 2
        a = np.ones((N, N), dtype=np.uint8)
        a[1::2, 1::2] = 2
        a[:, : N // 2][0::2, 1::2] = 2
        a[:, : N // 2][1::2, 0::2] = 2
        got = overview_level(_tiles(spark, a), resampling="average", tile_size=TS)
        full = np.zeros((N // 2, N // 2), dtype=np.uint8)
        for (_, ty, tx, _), p in _collect_map(got).items():
            full[ty * TS : (ty + 1) * TS, tx * TS : (tx + 1) * TS] = np.frombuffer(p, np.uint8).reshape(TS, TS)
        assert (full[:, : N // 4] == 2).all() and (full[:, N // 4 :] == 1).all()
