"""COG / GeoTIFF sink round-trip: the reader parses raw bytes
independently of the writer's layout helpers, so these are real
format checks (same style as test_mvt / test_pmtiles)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from gdal_spark.operators.geotiff import (
    cog_overview_dims,
    downsample_level,
    read_geotiff,
    read_geotiff_tiles,
    write_cog,
)
from gdal_spark.operators.raster import TILE_SCHEMA, RasterSpec


def _tile_df(spark, spec: RasterSpec, seed: int = 7):
    """Deterministic full tile table for spec (values vary per tile)."""
    rows = []
    for band in range(1, spec.nbands + 1):
        for ty in range(spec.ntiles_y):
            for tx in range(spec.ntiles_x):
                h, w = spec.tile_shape(ty, tx)
                rng = np.random.default_rng(seed + band * 1000 + ty * 37 + tx)
                if np.issubdtype(np.dtype(spec.dtype), np.integer):
                    t = rng.integers(0, 200, (h, w)).astype(spec.dtype)
                else:
                    t = rng.normal(50.0, 10.0, (h, w)).astype(spec.dtype)
                rows.append({"band": band, "ty": ty, "tx": tx, "h": h, "w": w,
                             "dtype": spec.dtype, "payload": t.tobytes()})
    return spark.createDataFrame(pd.DataFrame(rows), TILE_SCHEMA), rows


def _full(rows, spec: RasterSpec, band: int) -> np.ndarray:
    out = np.zeros((spec.height, spec.width), dtype=spec.dtype)
    for r in rows:
        if r["band"] != band:
            continue
        t = np.frombuffer(r["payload"], dtype=r["dtype"]).reshape(r["h"], r["w"])
        y, x = r["ty"] * spec.tile_size, r["tx"] * spec.tile_size
        out[y : y + r["h"], x : x + r["w"]] = t
    return out


class TestLayoutRules:
    def test_overview_dims_halve_with_ceil(self):
        assert cog_overview_dims(1000, 600, 256) == [(1000, 600), (500, 300), (250, 150)]
        assert cog_overview_dims(257, 257, 256) == [(257, 257), (129, 129)]
        assert cog_overview_dims(256, 256, 256) == [(256, 256)]

    def test_cog_invariants(self, spark, tmp_path):
        spec = RasterSpec(width=700, height=500, gt=(10.0, 0.5, 0.0, 60.0, 0.0, -0.5),
                          dtype="uint8", nbands=1, tile_size=256)
        df, _rows = _tile_df(spark, spec)
        p = str(tmp_path / "cog.tif")
        info = write_cog(df, spec, p, epsg=32611)
        rt = read_geotiff(p)
        assert len(rt["levels"]) == info["levels"] == 3
        # COG rule 1: every IFD precedes all tile data
        assert rt["max_ifd_end"] < rt["data_start"]
        # COG rule 2: within the file, smallest overview's tiles come
        # first and full resolution last; offsets ascend in data order
        lvl_offs = [min(lv["offsets"]) for lv in rt["levels"]]
        assert lvl_offs == sorted(lvl_offs, reverse=True)
        for lv in rt["levels"]:
            assert lv["offsets"] == sorted(lv["offsets"])
        # overviews are flagged reduced-resolution
        assert [lv["reduced"] for lv in rt["levels"]] == [False, True, True]


class TestRoundTrip:
    @pytest.mark.parametrize("compress", ["deflate", "none"])
    def test_payload_bit_exact(self, spark, tmp_path, compress):
        spec = RasterSpec(width=600, height=400, gt=(0.0, 1.0, 0.0, 0.0, 0.0, -1.0),
                          dtype="int32", nbands=1, tile_size=256)
        df, rows = _tile_df(spark, spec)
        p = str(tmp_path / f"rt_{compress}.tif")
        write_cog(df, spec, p, epsg=4326, model="geographic", compress=compress,
                  nodata=-9999.0)
        rt = read_geotiff(p)
        assert rt["gt"] == spec.gt
        assert rt["epsg"] == 4326 and rt["model"] == "geographic"
        assert rt["nodata"] == -9999.0
        src = _full(rows, spec, band=1)
        lv = rt["levels"][0]
        ts = lv["tile_size"]
        for (band, ty, tx), arr in lv["tiles"].items():
            h = min(ts, spec.height - ty * ts)
            w = min(ts, spec.width - tx * ts)
            exp = src[ty * ts : ty * ts + h, tx * ts : tx * ts + w]
            np.testing.assert_array_equal(arr[:h, :w], exp)
            # padding is zero
            assert not arr[h:, :].any() and not arr[:, w:].any()

    def test_tiles_df_roundtrip(self, spark, tmp_path):
        spec = RasterSpec(width=300, height=300, gt=(5.0, 2.0, 0.0, 9.0, 0.0, -2.0),
                          dtype="uint16", nbands=1, tile_size=256)
        df, rows = _tile_df(spark, spec)
        p = str(tmp_path / "rt2.tif")
        write_cog(df, spec, p, epsg=3857)
        back = {
            (r["band"], r["ty"], r["tx"]): r
            for r in read_geotiff_tiles(spark, p).collect()
        }
        for r in rows:
            b = back[(r["band"], r["ty"], r["tx"])]
            assert (b["h"], b["w"]) == (r["h"], r["w"])
            assert bytes(b["payload"]) == r["payload"]

    def test_multiband_planar(self, spark, tmp_path):
        spec = RasterSpec(width=256, height=256, gt=(0.0, 1.0, 0.0, 0.0, 0.0, -1.0),
                          dtype="float32", nbands=3, tile_size=256)
        df, rows = _tile_df(spark, spec)
        p = str(tmp_path / "mb.tif")
        write_cog(df, spec, p, overviews=False)
        rt = read_geotiff(p)
        lv = rt["levels"][0]
        assert lv["nbands"] == 3 and len(rt["levels"]) == 1
        for band in (1, 2, 3):
            np.testing.assert_array_equal(lv["tiles"][(band, 0, 0)], _full(rows, spec, band))

    def test_rotated_gt_model_transformation(self, spark, tmp_path):
        gt = (100.0, 2.0, 0.3, 500.0, -0.1, -2.0)
        spec = RasterSpec(width=256, height=256, gt=gt, dtype="uint8", tile_size=256)
        df, _ = _tile_df(spark, spec)
        p = str(tmp_path / "rot.tif")
        write_cog(df, spec, p, epsg=32633)
        assert read_geotiff(p)["gt"] == gt

    def test_forced_bigtiff(self, spark, tmp_path):
        spec = RasterSpec(width=300, height=260, gt=(0.0, 1.0, 0.0, 0.0, 0.0, -1.0),
                          dtype="uint8", tile_size=256)
        df, rows = _tile_df(spark, spec)
        p = str(tmp_path / "big.tif")
        info = write_cog(df, spec, p, bigtiff=True)
        assert info["bigtiff"]
        rt = read_geotiff(p)
        assert rt["bigtiff"]
        src = _full(rows, spec, band=1)
        ts = rt["levels"][0]["tile_size"]
        arr = rt["levels"][0]["tiles"][(1, 0, 0)]
        np.testing.assert_array_equal(arr[:256, :256], src[:256, :256])

    def test_sparse_tiles_share_fill_blob(self, spark, tmp_path):
        """Tiles absent from the table read back init-valued, and all
        missing tiles point at ONE shared fill blob (offset dedup)."""
        from pyspark.sql import functions as F

        spec = RasterSpec(width=1024, height=1024, gt=(0.0, 1.0, 0.0, 0.0, 0.0, -1.0),
                          dtype="uint8", tile_size=256)
        df, rows = _tile_df(spark, spec)
        sparse = df.filter((F.col("ty") + F.col("tx")) % 3 != 0)
        p = str(tmp_path / "sparse.tif")
        info = write_cog(sparse, spec, p, overviews=False)
        assert info["sparse"] == sum(1 for r in rows if (r["ty"] + r["tx"]) % 3 == 0)
        rt = read_geotiff(p)
        lv = rt["levels"][0]
        fill_offs = set()
        for r in rows:
            arr = lv["tiles"][(1, r["ty"], r["tx"])]
            i = r["ty"] * 4 + r["tx"]
            if (r["ty"] + r["tx"]) % 3 == 0:
                assert not arr.any()
                fill_offs.add(lv["offsets"][i])
            else:
                exp = np.frombuffer(r["payload"], dtype="uint8").reshape(r["h"], r["w"])
                np.testing.assert_array_equal(arr, exp)
        assert len(fill_offs) == 1  # deduplicated

    def test_sparse_nonzero_init_overviews(self, spark, tmp_path):
        """spec.init fills both the missing full-res tiles and the
        downsample's absent-child quadrants."""
        from pyspark.sql import functions as F

        spec = RasterSpec(width=512, height=512, gt=(0.0, 1.0, 0.0, 0.0, 0.0, -1.0),
                          dtype="uint8", init=7.0, tile_size=256)
        df, _ = _tile_df(spark, spec)
        sparse = df.filter((F.col("ty") == 0) & (F.col("tx") == 0))
        p = str(tmp_path / "sparse_init.tif")
        write_cog(sparse, spec, p)
        rt = read_geotiff(p)
        assert (rt["levels"][0]["tiles"][(1, 1, 1)] == 7).all()
        # overview: quadrant from the missing children averages to init
        ovr = rt["levels"][1]["tiles"][(1, 0, 0)]
        assert (ovr[128:, 128:] == 7).all()


class TestUnsortedStream:
    """Pass 2 writes each payload at its laid-out offset in whatever
    order the partitions deliver it, so the file must not depend on how
    the tile table is partitioned or ordered."""

    SPEC = RasterSpec(width=1000, height=900, gt=(0.0, 1.0, 0.0, 0.0, 0.0, -1.0),
                      dtype="uint8", nbands=2, tile_size=256)

    def _sparse(self, spark):
        from pyspark.sql import functions as F

        df, rows = _tile_df(spark, self.SPEC)
        sparse = df.filter((F.col("ty") * 3 + F.col("tx") + F.col("band")) % 4 != 0)
        return sparse, [r for r in rows if (r["ty"] * 3 + r["tx"] + r["band"]) % 4 != 0]

    def test_partitioning_does_not_change_bytes(self, spark, tmp_path):
        from pyspark.sql import functions as F

        sparse, rows = self._sparse(spark)
        layouts = {
            "one": sparse.coalesce(1),
            "hash7": sparse.repartition(7, "band", "ty", "tx"),
            "rand7": sparse.orderBy(F.rand(11)).repartition(7),
        }
        files = {}
        for name, df in layouts.items():
            assert df.rdd.getNumPartitions() == (1 if name == "one" else 7)
            p = str(tmp_path / f"{name}.tif")
            info = write_cog(df, self.SPEC, p, nodata=0.0)
            assert info["levels"] == 3 and info["sparse"] > 0
            with open(p, "rb") as f:
                files[name] = f.read()
        assert files["one"] == files["hash7"] == files["rand7"]
        lv = read_geotiff(str(tmp_path / "rand7.tif"))["levels"][0]
        have = {(r["band"], r["ty"], r["tx"]): r for r in rows}
        for (band, ty, tx), arr in lv["tiles"].items():
            r = have.get((band, ty, tx))
            if r is None:
                assert not arr.any()
                continue
            exp = np.frombuffer(r["payload"], dtype="uint8").reshape(r["h"], r["w"])
            np.testing.assert_array_equal(arr[: r["h"], : r["w"]], exp)
            assert not arr[r["h"]:, :].any() and not arr[:, r["w"]:].any()
        assert len(lv["tiles"]) == 2 * 4 * 4

    def test_duplicate_tile_key_raises(self, spark, tmp_path):
        from pyspark.sql import functions as F

        sparse, _ = self._sparse(spark)
        dup = sparse.unionByName(sparse.filter((F.col("band") == 1) & (F.col("ty") == 0)
                                               & (F.col("tx") == 0)))
        with pytest.raises(ValueError, match=r"\(0, 1, 0, 0\)"):
            write_cog(dup, self.SPEC, str(tmp_path / "dup.tif"), overviews=False)


class TestOverviewSemantics:
    def test_average_matches_scalar_replica(self, spark):
        """Edge-aware AVERAGE: dest pixel i averages src [2i, min(2i+2, n))
        per axis with (sum + n/2) // n rounding — checked against a
        straight numpy replica on an odd-sized raster."""
        spec = RasterSpec(width=515, height=301, gt=(0.0, 1.0, 0.0, 0.0, 0.0, -1.0),
                          dtype="uint8", tile_size=256)
        df, rows = _tile_df(spark, spec)
        out, dst = downsample_level(df, spec)
        got = {(r["ty"], r["tx"]): r for r in out.collect()}
        src = _full(rows, spec, band=1).astype(np.int64)
        oh, ow = (spec.height + 1) // 2, (spec.width + 1) // 2
        exp = np.zeros((oh, ow), dtype=np.uint8)
        for i in range(oh):
            for j in range(ow):
                blk = src[2 * i : 2 * i + 2, 2 * j : 2 * j + 2]
                exp[i, j] = (blk.sum() + blk.size // 2) // blk.size
        assert (dst.width, dst.height) == (ow, oh)
        for (ty, tx), r in got.items():
            t = np.frombuffer(r["payload"], dtype="uint8").reshape(r["h"], r["w"])
            y, x = ty * 256, tx * 256
            np.testing.assert_array_equal(t, exp[y : y + r["h"], x : x + r["w"]])

    def test_float_average(self, spark):
        spec = RasterSpec(width=256, height=256, gt=(0.0, 1.0, 0.0, 0.0, 0.0, -1.0),
                          dtype="float64", tile_size=256)
        df, rows = _tile_df(spark, spec)
        out, _ = downsample_level(df, spec)
        r = out.collect()[0]
        t = np.frombuffer(r["payload"], dtype="float64").reshape(128, 128)
        src = _full(rows, spec, band=1)
        exp = (src[0::2, 0::2] + src[1::2, 0::2] + src[0::2, 1::2] + src[1::2, 1::2]) / 4.0
        np.testing.assert_allclose(t, exp, rtol=1e-12)

    def test_overview_level_payload_in_file(self, spark, tmp_path):
        """Level-1 tiles in the written COG equal downsample_level's."""
        spec = RasterSpec(width=515, height=301, gt=(0.0, 1.0, 0.0, 0.0, 0.0, -1.0),
                          dtype="uint8", tile_size=256)
        df, _ = _tile_df(spark, spec)
        p = str(tmp_path / "ovr.tif")
        write_cog(df, spec, p)
        rt = read_geotiff(p)
        lv1 = rt["levels"][1]
        ds, dst = downsample_level(df, spec)
        for r in ds.collect():
            arr = lv1["tiles"][(1, r["ty"], r["tx"])]
            exp = np.frombuffer(r["payload"], dtype="uint8").reshape(r["h"], r["w"])
            np.testing.assert_array_equal(arr[: r["h"], : r["w"]], exp)
