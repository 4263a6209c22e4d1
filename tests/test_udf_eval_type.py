"""Grouped-map functions carry no partial type hints. PySpark's
GroupedData.applyInPandas infers a function's eval type from its
annotations, and a function that annotates only some parameters makes
it warn "Cannot infer the eval type from type hints" at every plan
build."""

from __future__ import annotations

import ast
import pathlib
import warnings

import numpy as np
from pyspark.sql import functions as F

from gdal_spark.geom.proj import Pipeline, utm
from gdal_spark.operators import tilecodec
from gdal_spark.operators.nearblack import nearblack
from gdal_spark.operators.raster import TILE_SCHEMA, RasterSpec, rasterize
from gdal_spark.operators.tiles import overview_level, raster_tile

ENGINE = pathlib.Path(__file__).resolve().parent.parent / "gdal_spark"
ENV4 = ("env_minx", "env_miny", "env_maxx", "env_maxy")


def test_tile_raster_plans_build_without_eval_type_warnings(spark):
    spec = RasterSpec(width=40, height=40, gt=(440720.0, 2.0, 0.0, 3751320.0, 0.0, -2.0),
                      dtype="int32", nbands=1, tile_size=16)
    shapes = spark.createDataFrame(
        [(1, "POINT (440731 3751301)", 440731.0, 3751301.0, 440731.0, 3751301.0, [1.0])],
        "fid long, wkt string, env_minx double, env_miny double, env_maxx double, "
        "env_maxy double, burn_values array<double>",
    )
    nb_spec = RasterSpec(width=20, height=20, gt=(0.0, 1.0, 0.0, 20.0, 0.0, -1.0),
                         dtype="uint8", nbands=1, tile_size=8)
    nb_src = spark.createDataFrame(
        [tilecodec.tile_row(1, 0, 0, np.zeros((8, 8), dtype=np.uint8))], TILE_SCHEMA
    )
    with warnings.catch_warnings(record=True) as seen:
        warnings.simplefilter("always")
        tiles = rasterize(shapes, spec, merge_alg="add", env_cols=ENV4)
        overview_level(tiles.withColumn("z", F.lit(2)), resampling="average", tile_size=16)
        raster_tile(tiles, spec, Pipeline(src=utm(11), dst="webmercator"), min_zoom=16,
                    max_zoom=16, resampling="bilinear", approx_error=0.125)
        nearblack(nb_src, nb_spec, near=15, max_non_black=2)
    assert not [str(w.message) for w in seen if "infer the eval type" in str(w.message)]


def _partially_annotated(fn: ast.FunctionDef) -> bool:
    hints = [a.annotation is not None for a in fn.args.args] + [fn.returns is not None]
    return any(hints) and not all(hints)


def test_no_applyinpandas_function_is_partially_annotated():
    """Every function passed by name to applyInPandas is annotated in
    full or not at all."""
    bad = []
    for path in sorted(ENGINE.rglob("*.py")):
        tree = ast.parse(path.read_text())
        passed = {
            n.args[0].id for n in ast.walk(tree)
            if isinstance(n, ast.Call) and isinstance(n.func, ast.Attribute)
            and n.func.attr == "applyInPandas" and n.args and isinstance(n.args[0], ast.Name)
        }
        bad += [f"{path.relative_to(ENGINE.parent)}:{n.lineno} {n.name}" for n in ast.walk(tree)
                if isinstance(n, ast.FunctionDef) and n.name in passed and _partially_annotated(n)]
    assert not bad
