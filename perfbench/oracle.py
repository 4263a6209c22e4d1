"""Expected outputs, computed without Spark and outside every timer.

DuckDB re-derives each doc's geometry from its id with the same integer
SQL the generator uses (``datagen.geom_cols_sql``) and intersects it
with the zones through ``queries.zone_intersects_sql``, the exact
closed-set predicate the query oracles in ``queries.py`` use. The rasterize
expectation is a numpy bincount of the same points onto the grid.
"""

from __future__ import annotations

import duckdb
import numpy as np

from gdal_spark.datagen import geom_cols_sql, geom_wkt_sql
from gdal_spark.operators.raster import checksum_array
from gdal_spark.queries import zone_intersects_sql

from workloads import MIX, RASTER_SPEC, id_sql


def _docs_cte(mix: str, seed: int, n: int) -> str:
    c = geom_cols_sql("id")
    return (
        f"WITH d AS (SELECT {id_sql(mix, seed)} AS id FROM range({n}) t(i)), "
        f"g AS (SELECT id, {c['gx']} AS gx, {c['gy']} AS gy, {c['half']} AS half, "
        f"{c['valid']} AS valid, {c['is_poly']} AS is_poly FROM d) "
    )


def expected(workload: str, seed: int, n: int) -> dict:
    """Per-zone pair counts and invalid-doc count for the join
    workloads; the burned point total, band checksum and parent-tile
    count for tile_raster."""
    con = duckdb.connect()
    try:
        cte = _docs_cte(MIX[workload], seed, n)
        if workload != "tile_raster":
            zones = ", ".join(
                f"sum(CASE WHEN valid AND {zone_intersects_sql(f)} THEN 1 ELSE 0 END)" for f in range(10)
            )
            row = con.execute(f"{cte} SELECT sum(CASE WHEN valid THEN 0 ELSE 1 END), {zones} FROM g").fetchone()
            counts = {f: int(v) for f, v in enumerate(row[1:]) if v}
            return {"invalid": int(row[0]), "zone_counts": counts}
        gx, gy = con.execute(
            f"{cte} SELECT gx::DOUBLE, gy::DOUBLE FROM g WHERE valid AND NOT is_poly"
        ).fetchnumpy().values()
    finally:
        con.close()
    spec = RASTER_SPEC
    px, py = spec.world_to_pixel(gx, gy)
    px, py = np.floor(px).astype(np.int64), np.floor(py).astype(np.int64)
    on = (px >= 0) & (px < spec.width) & (py >= 0) & (py < spec.height)
    img = np.bincount(py[on] * spec.width + px[on], minlength=spec.width * spec.height)
    img = img.reshape(spec.height, spec.width)
    ts = spec.tile_size
    tiles = {(y // ts, x // ts) for y, x in zip(*np.nonzero(img))}
    return {
        "burned_total": int(on.sum()),
        "checksum": checksum_array(img.astype(spec.dtype)),
        "parent_tiles": len({(ty // 2, tx // 2) for ty, tx in tiles}),
    }


def wkt_sample(mix: str, seed: int, n: int, where: str = "TRUE") -> list[str]:
    """WKT of the first ``n`` docs of a mix's id stream matching
    ``where`` (over geom_cols_sql columns), for the kernel probes."""
    con = duckdb.connect()
    try:
        cte = _docs_cte(mix, seed, 20 * n)
        rows = con.execute(
            f"{cte} SELECT {geom_wkt_sql('id').replace('STRING', 'VARCHAR')} FROM g "
            f"WHERE {where} ORDER BY id LIMIT {n}"
        ).fetchall()
    finally:
        con.close()
    return [r[0] for r in rows]
