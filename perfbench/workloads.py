"""Seeded inputs and the one op table of the benchmark.

Every operator call the benchmark times lives in ``OPS``: a workload is
an ordered list of op names, and an op is a function that builds a
fresh DataFrame chain from the engine's public operators and forces it
with a small ``collect``/``count`` (Spark 4 serves a repeated
``collect`` of the same DataFrame object from a result cache, so a
chain is never reused). An operator signature change touches one op.

Inputs come from ``--seed`` alone. The seed becomes an id offset for
``datagen.docs_table(ids=...)``; the geometry of a doc is a function of
its id (``datagen.geom_cols_sql``), so the polygon-heavy mix is a
different id mapping, not a different generator. Raster tiles are drawn
from ``numpy.random.default_rng`` keyed by (seed, tile).
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass, field
from typing import Callable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from gdal_spark.datagen import docs_table, zones_table
from gdal_spark.geom.proj import Pipeline, utm
from gdal_spark.metrics import write_snapshot
from gdal_spark.operators.cells import BYTE20_GRID, s2_cell_udf, s2_parent_col
from gdal_spark.operators.geotiff import cog_overview_dims, read_geotiff, write_cog
from gdal_spark.operators.nearblack import nearblack
from gdal_spark.operators.raster import TILE_SCHEMA, RasterSpec, checksum_col, materialize_full, rasterize
from gdal_spark.operators.spatial import extract_geom, spatial_join, spatial_join_cells
from gdal_spark.operators.tiles import overview_level, raster_tile

# -- input sizes ------------------------------------------------------------
# Each run starts a fresh JVM, so most of a run is cold-start cost that no
# input size avoids; the sizes keep one pass over a workload near 10 s on
# a 4-core host, where the per-op times still hold both the per-job Spark
# overhead a user pays on every call and enough rows that the layer each
# workload targets does a large share of the work.
N_DOCS = {"join_polygons": 12_000, "tile_raster": 10_000}
DOC_FILES = 8  # parquet files per docs table (= extract_geom scan tasks)

# Rasterize target: the byte20 world (1200 m square) at 1200/512 m
# pixels (exactly representable), 2x2 tiles of 256.
RASTER_W = 512
RASTER_SPEC = RasterSpec(
    width=RASTER_W, height=RASTER_W,
    gt=(440720.0, 1200.0 / RASTER_W, 0.0, 3751320.0, 0.0, -1200.0 / RASTER_W),
    dtype="int32", nbands=1, tile_size=256,
)
WARP_ZOOM = 16  # WebMercator pixels near the source's ground resolution
NEARBLACK_W = 1024  # 4x4 tiles of 256, uint8
NEARBLACK_SPEC = RasterSpec(
    width=NEARBLACK_W, height=NEARBLACK_W,
    gt=(0.0, 1.0, 0.0, float(NEARBLACK_W), 0.0, -1.0), dtype="uint8", nbands=1, tile_size=256,
)
ENV4 = ("env_minx", "env_miny", "env_maxx", "env_maxy")
NARROW = ["_id", "wkt", "env_minx", "env_miny", "env_maxx", "env_maxy", "geom_error"]


def id_offset(seed: int) -> int:
    """Doc-id offset of a seed. Ids stay below 3.4e9 so datagen's
    ``id * 2654435761`` media hash cannot overflow a long (Spark's ANSI
    mode would raise)."""
    return (seed % 300) * 10_000_000


def id_sql(mix: str, seed: int) -> str:
    """Doc id of row ``i`` as SQL valid in Spark and DuckDB.

    The "default" mix is datagen's own: ~80% points, 10% of all docs in
    one ~25 m hot blob, 10% squares, 0.1% invalid WKT. The "polygons"
    mix maps rows onto ids = 7 (mod 10), which datagen makes
    axis-parallel squares, except every tenth row (ids = 0 mod 10: the
    hot-blob points that keep the skew) and every thousandth row
    (ids = 999 mod 1000: invalid WKT)."""
    off = id_offset(seed)
    if mix == "polygons":
        return (f"({off} + 10 * i + CASE WHEN i % 10 = 0 THEN 0 "
                f"WHEN i % 1000 = 999 THEN 9 ELSE 7 END)")
    return f"({off} + i)"


@dataclass
class Ctx:
    """Everything one run shares: the session, its inputs, and the
    expected outputs (filled by the oracles before any timing)."""

    spark: SparkSession
    workload: str
    seed: int
    work: str
    n_docs: int
    docs_path: str = ""
    geom: DataFrame | None = None
    burn: DataFrame | None = None
    nb_src: DataFrame | None = None
    expect: dict = field(default_factory=dict)
    seen: dict = field(default_factory=dict)  # first-pass outputs that must repeat
    calls: int = 0

    def fresh_path(self, name: str) -> str:
        self.calls += 1
        return os.path.join(self.work, "out", f"{name}-{self.calls}")


# -- setup ------------------------------------------------------------------


def _nearblack_tiles(spark: SparkSession, seed: int) -> DataFrame:
    n = NEARBLACK_SPEC.ntiles_x
    lo, hi = max(1, n // 8), n - max(1, n // 8)  # a collar at least one tile wide

    def _mk(batches):
        for pdf in batches:
            rows = []
            for ty, tx in zip(pdf["ty"], pdf["tx"]):
                rng = np.random.default_rng((seed, int(ty), int(tx)))
                # content block in the middle, near-black collar
                if lo <= ty < hi and lo <= tx < hi:
                    t = rng.integers(40, 255, (256, 256), dtype=np.uint8)
                else:
                    t = rng.integers(0, 12, (256, 256), dtype=np.uint8)
                rows.append({"band": 1, "ty": int(ty), "tx": int(tx), "h": 256, "w": 256,
                             "dtype": "uint8", "payload": t.tobytes()})
            yield pd.DataFrame(rows, columns=TILE_SCHEMA.fieldNames())

    return (
        spark.range(0, n * n, 1, 8)
        .select((F.col("id") % n).cast("int").alias("tx"), (F.col("id") / n).cast("int").alias("ty"))
        .mapInPandas(_mk, TILE_SCHEMA)
    )


def _point_shapes(geom: DataFrame) -> DataFrame:
    return geom.filter(
        F.col("geom_error").isNull() & (F.col("env_minx") == F.col("env_maxx"))
    ).select(
        F.col("_id").alias("fid"), "wkt", *ENV4, F.array(F.lit(1.0)).alias("burn_values")
    )


def set_up(ctx: Ctx, rep: int) -> None:
    """One full set-up: generate the seeded docs and write them to
    parquet (so extract_geom times a real scan), persist the extracted
    geometry and, for tile_raster, the burn and the nearblack source.
    Repeating it replaces the previous rep's inputs."""
    spark = ctx.spark
    for df in (ctx.geom, ctx.burn, ctx.nb_src):
        if df is not None:
            df.unpersist(blocking=True)
    if ctx.docs_path:
        shutil.rmtree(ctx.docs_path, ignore_errors=True)
    ctx.docs_path = os.path.join(ctx.work, f"docs-{rep}")
    ids = spark.range(0, ctx.n_docs, 1, DOC_FILES).withColumnRenamed("id", "i").selectExpr(
        f"{id_sql(MIX[ctx.workload], ctx.seed)} AS id"
    )
    docs_table(spark, ids=ids).write.mode("overwrite").parquet(ctx.docs_path)
    ctx.geom = extract_geom(spark.read.parquet(ctx.docs_path)).select(*NARROW).persist()
    ctx.geom.count()
    if ctx.workload == "tile_raster":
        ctx.burn = rasterize(
            _point_shapes(ctx.geom), RASTER_SPEC, merge_alg="add", env_cols=ENV4
        ).persist()
        ctx.burn.count()
        ctx.nb_src = _nearblack_tiles(spark, ctx.seed).persist()
        ctx.nb_src.count()


def warm_workers(spark: SparkSession, cpus: int) -> None:
    """Start a Python worker on every core."""
    spark.range(0, cpus, 1, cpus).mapInPandas(lambda it: it, "id long").count()


def check_setup(ctx: Ctx) -> str | None:
    """The persisted burn holds one count per on-grid valid point doc."""
    if ctx.burn is None:
        return None
    total = int(materialize_full(ctx.burn, RASTER_SPEC).astype(np.int64).sum())
    want = ctx.expect["burned_total"]
    return None if total == want else f"burned total {total} != {want} on-grid point docs"


# -- ops --------------------------------------------------------------------
# Each op: (ctx, spans) -> output. ``spans`` records [start, end] epoch
# seconds of timed calls into a layer's public function, for the traced
# run's attribution; the checks that follow an op are never timed.


def _timed(spans: dict, name: str, fn: Callable):
    t0 = time.time()
    out = fn()
    spans[name] = (t0, time.time())
    return out


def _collect(spans: dict, df: DataFrame) -> list:
    """collect(), with Catalyst's analysis, optimization and physical
    planning timed as their own span: the action reuses the planned
    QueryExecution, so no work is added."""
    _timed(spans, "catalyst", lambda: df._jdf.queryExecution().executedPlan())
    return df.collect()


def _count(spans: dict, df: DataFrame) -> int:
    return int(_collect(spans, df.groupBy().count())[0][0])


def _zone_counts(spans: dict, df: DataFrame) -> dict[int, int]:
    return {int(r["zone_fid"]): int(r["count"]) for r in _collect(spans, df.groupBy("zone_fid").count())}


def op_extract_geom(ctx: Ctx, spans: dict):
    docs = _timed(spans, "scan", lambda: ctx.spark.read.parquet(ctx.docs_path))
    r = _collect(spans, extract_geom(docs).agg(
        F.count(F.lit(1)).alias("n"), F.count("geom_error").alias("errors")
    ))[0]
    return {"rows": int(r["n"]), "errors": int(r["errors"])}


def op_spatial_join(ctx: Ctx, spans: dict):
    j = _timed(spans, "plan", lambda: spatial_join(ctx.geom, zones_table(ctx.spark), project=["_id"]))
    return _zone_counts(spans, j)


def op_spatial_join_cells(ctx: Ctx, spans: dict):
    valid = ctx.geom.filter(F.col("geom_error").isNull())
    j = _timed(spans, "plan", lambda: spatial_join_cells(valid, zones_table(ctx.spark), BYTE20_GRID, salt=8))
    return _zone_counts(spans, j)


def op_join_snapshot(ctx: Ctx, spans: dict):
    path = ctx.fresh_path("snapshot")
    j = _timed(spans, "plan", lambda: spatial_join(ctx.geom, zones_table(ctx.spark)))
    rec = write_snapshot(j, path, job_id="perfbench")
    return {"row_count": int(rec["row_count"]), "path": path}


def op_s2_encode(ctx: Ctx, spans: dict):
    did = ctx.geom.select(F.xxhash64("_id").alias("did"))
    a = ((F.col("did") % 19 + 19) % 19 - 9).cast("double")
    b = ((F.col("did") % 17 + 17) % 17 - 8).cast("double")
    c = (((F.col("did") % 6 + 6) % 6) * 2 - 5).cast("double")
    n = F.sqrt(a * a + b * b + c * c)
    cells = did.select(s2_cell_udf(level=30)(a / n, b / n, c / n).alias("cell"))
    hist = _collect(spans, cells.groupBy(s2_parent_col(F.col("cell"), 8).alias("p8")).count())
    return {"bins": len(hist), "total": sum(int(r["count"]) for r in hist)}


def op_rasterize(ctx: Ctx, spans: dict):
    tiles = rasterize(_point_shapes(ctx.geom), RASTER_SPEC, merge_alg="add", env_cols=ENV4)
    return {"checksum": int(_collect(spans, checksum_col(tiles, RASTER_SPEC))[0]["checksum"])}


def op_pyramid(ctx: Ctx, spans: dict):
    return {"tiles": _count(spans, overview_level(ctx.burn.withColumn("z", F.lit(2)), resampling="average",
                                                  tile_size=RASTER_SPEC.tile_size))}


def op_warp(ctx: Ctx, spans: dict):
    pipe = Pipeline(src=utm(11), dst="webmercator")
    return {"tiles": _count(spans, raster_tile(ctx.burn, RASTER_SPEC, pipe, min_zoom=WARP_ZOOM,
                                               max_zoom=WARP_ZOOM, resampling="bilinear",
                                               approx_error=0.125))}


def op_cog_write(ctx: Ctx, spans: dict):
    path = ctx.fresh_path("cog") + ".tif"
    os.makedirs(os.path.dirname(path), exist_ok=True)
    write_cog(ctx.burn, RASTER_SPEC, path, epsg=26711)
    return {"path": path}


def op_nearblack(ctx: Ctx, spans: dict):
    return {"tiles": _count(spans, nearblack(ctx.nb_src, NEARBLACK_SPEC, near=15, max_non_black=2))}


OPS: dict[str, Callable] = {
    "extract_geom": op_extract_geom,
    "spatial_join": op_spatial_join,
    "spatial_join_cells": op_spatial_join_cells,
    "join_snapshot": op_join_snapshot,
    "s2_encode": op_s2_encode,
    "rasterize": op_rasterize,
    "pyramid": op_pyramid,
    "warp": op_warp,
    "cog_write": op_cog_write,
    "nearblack": op_nearblack,
}

# Why each workload exists is recorded in BENCHMARK.json.
MIX = {"join_polygons": "polygons", "tile_raster": "default"}
WORKLOADS: dict[str, list[str]] = {
    "join_polygons": ["extract_geom", "spatial_join", "spatial_join_cells", "join_snapshot"],
    "tile_raster": ["s2_encode", "rasterize", "pyramid", "warp", "cog_write", "nearblack"],
}


# -- output checks (never timed) ---------------------------------------------


def check(ctx: Ctx, op: str, out) -> str | None:
    """None when ``out`` is right, else what is wrong. Expected values
    come from the oracles (``oracle.expected``) or, for outputs with no
    independent oracle, from the first pass: they must then repeat."""
    e = ctx.expect
    if op == "extract_geom":
        want = {"rows": ctx.n_docs, "errors": e["invalid"]}
        return None if out == want else f"got {out}, want {want}"
    if op in ("spatial_join", "spatial_join_cells"):
        return None if out == e["zone_counts"] else f"zone counts {out} != {e['zone_counts']}"
    if op == "join_snapshot":
        shutil.rmtree(out["path"], ignore_errors=True)
        want = sum(e["zone_counts"].values())
        return None if out["row_count"] == want else f"_lineage.json row_count {out['row_count']} != {want}"
    if op == "s2_encode":
        return None if out["total"] == ctx.n_docs else f"histogram sums to {out['total']}, want {ctx.n_docs}"
    if op == "rasterize":
        return None if out["checksum"] == e["checksum"] else f"checksum {out['checksum']} != {e['checksum']}"
    if op == "pyramid":
        return None if out["tiles"] == e["parent_tiles"] else f"{out['tiles']} parent tiles, want {e['parent_tiles']}"
    if op == "cog_write":
        try:
            info = read_geotiff(out["path"])
            ctx.seen["cog_bytes"] = os.path.getsize(out["path"])
        finally:
            os.remove(out["path"])
        lv = info["levels"]
        want = len(cog_overview_dims(RASTER_SPEC.width, RASTER_SPEC.height, RASTER_SPEC.tile_size))
        if len(lv) != want or (lv[0]["width"], lv[0]["height"]) != (RASTER_SPEC.width, RASTER_SPEC.height):
            return f"COG reads back {len(lv)} levels of {lv[0]['width']}x{lv[0]['height']}, want {want}"
        return None
    if op == "nearblack":
        want = NEARBLACK_SPEC.ntiles_x * NEARBLACK_SPEC.ntiles_y
        return None if out["tiles"] == want else f"{out['tiles']} tiles, want {want}"
    # warp: no independent oracle; the tile count must repeat exactly
    first = ctx.seen.setdefault(op, out)
    return None if out == first else f"{out} differs from the first pass {first}"
