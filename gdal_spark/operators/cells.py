"""Cell indexing + layout contract: the engine's partitioning spine.

H3/S2-analog over a fixed grid, reference precedent = Hilbert spatial
sort (`gdal vector sort --by hilbert`, apps/gdalalg_vector_sort.cpp:40,
alg/hilbert.cpp) and the FlatGeobuf packed-Hilbert layout
(packedrtree.h:120): we key every geometry by the Hilbert code of its
grid cell and repartition-by-range on that key, so spatially-near rows
co-locate in partitions/files. At 100 TB this is what turns the
spatial join into a partition-pruned equi-join instead of an
all-to-all shuffle.

Two curve orders:
  'row'     — cy * nx + cx. Trivially SQL-expressible: used for
              oracle-checked query outputs.
  'hilbert' — reference-identical Hilbert code of (cx, cy): used for
              the physical layout (repartitionByRange + sortWithin).

Skew: `salted_key` appends pmod(xxhash64(doc_id), k) — the hot-cell
mitigation required by the north rule (no reference analog: GDAL is
single-node; SURVEY.md §4 last row).
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.types import LongType

from gdal_spark.geom.hilbert import hilbert_code_xy


@dataclass(frozen=True)
class Grid:
    """Fixed cell grid over a world extent."""

    minx: float
    miny: float
    maxx: float
    maxy: float
    nx: int = 16
    ny: int = 16

    @property
    def cell_w(self) -> float:
        return (self.maxx - self.minx) / self.nx

    @property
    def cell_h(self) -> float:
        return (self.maxy - self.miny) / self.ny

    def cell_xy(self, x: np.ndarray, y: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        cx = np.clip(np.floor((np.asarray(x) - self.minx) / self.cell_w), 0, self.nx - 1)
        cy = np.clip(np.floor((np.asarray(y) - self.miny) / self.cell_h), 0, self.ny - 1)
        return cx.astype(np.int64), cy.astype(np.int64)

    def cell_id(self, x, y, curve: str = "row") -> np.ndarray:
        cx, cy = self.cell_xy(x, y)
        if curve == "row":
            return cy * self.nx + cx
        if curve == "hilbert":
            # scale cell coords onto the 16-bit hilbert domain so ids
            # are stable if nx/ny change resolution
            sx = (cx * (65536 // self.nx)).astype(np.uint32)
            sy = (cy * (65536 // self.ny)).astype(np.uint32)
            return hilbert_code_xy(sx, sy).astype(np.int64)
        raise ValueError(curve)

    def cells_for_envelope(self, minx, miny, maxx, maxy, curve: str = "row"):
        """All covering cell ids of one envelope (polygon explode)."""
        cx0, cy0 = self.cell_xy(np.asarray([minx]), np.asarray([miny]))
        cx1, cy1 = self.cell_xy(np.asarray([maxx]), np.asarray([maxy]))
        cxs = np.arange(cx0[0], cx1[0] + 1)
        cys = np.arange(cy0[0], cy1[0] + 1)
        gx, gy = np.meshgrid(cxs, cys)
        if curve == "row":
            return (gy * self.nx + gx).ravel()
        sx = (gx.ravel() * (65536 // self.nx)).astype(np.uint32)
        sy = (gy.ravel() * (65536 // self.ny)).astype(np.uint32)
        return hilbert_code_xy(sx, sy).astype(np.int64)

    # -- Spark column builders (JVM-side, no UDF) --

    def cell_col_sql(self, x_expr: str, y_expr: str) -> str:
        """Row-order cell id as a plain SQL expression — valid in both
        Spark SQL and DuckDB (the oracle-parity path). Assumes coords
        inside the extent (generator guarantees it)."""
        cx = f"CAST(floor(({x_expr} - {self.minx}) / {self.cell_w}) AS BIGINT)"
        cy = f"CAST(floor(({y_expr} - {self.miny}) / {self.cell_h}) AS BIGINT)"
        cxc = f"LEAST(GREATEST({cx}, 0), {self.nx - 1})"
        cyc = f"LEAST(GREATEST({cy}, 0), {self.ny - 1})"
        return f"({cyc} * {self.nx} + {cxc})"

    def hilbert_cell_udf(self):
        """pandas UDF: (x, y) -> hilbert cell id (layout key)."""
        grid = self

        @F.pandas_udf(LongType())
        def _h(x: pd.Series, y: pd.Series) -> pd.Series:
            return pd.Series(grid.cell_id(x.to_numpy(np.float64), y.to_numpy(np.float64), "hilbert"))

        return _h


# the shared world grid of the fixtures (byte20 extent)
BYTE20_GRID = Grid(440720, 3750120, 441920, 3751320, nx=16, ny=16)


def salted_key(cell_col: Column, id_col: Column, k: int = 8) -> Column:
    """Skew salt: spreads one hot cell over k shuffle keys.
    Consumers must aggregate partials across salts afterwards."""
    return F.concat_ws("_", cell_col.cast("string"), F.pmod(F.xxhash64(id_col), F.lit(k)).cast("string"))


# ---------------------------------------------------------------------------
# True spherical S2 cells (geom/s2.py) — the north star's named
# "H3/S2 cell encoding ... repartitioning by cell prefix".


def s2_cell_udf(level: int = 30, from_lonlat: bool = False):
    """Vectorized encoder column: (x, y, z) unit-sphere components —
    or (lon, lat) degrees with from_lonlat=True — to the int64 S2
    cell id at `level`.  Arrow-batched numpy, no per-row Python."""
    from gdal_spark.geom import s2

    if from_lonlat:

        @F.pandas_udf(LongType())
        def _enc_ll(lon: pd.Series, lat: pd.Series) -> pd.Series:
            return pd.Series(s2.cell_from_lonlat(lon.to_numpy(np.float64), lat.to_numpy(np.float64), level))

        return _enc_ll

    @F.pandas_udf(LongType())
    def _enc(x: pd.Series, y: pd.Series, z: pd.Series) -> pd.Series:
        return pd.Series(
            s2.cell_from_xyz(x.to_numpy(np.float64), y.to_numpy(np.float64), z.to_numpy(np.float64), level)
        )

    return _enc


def s2_parent_col(cell: Column, level: int) -> Column:
    """Ancestor id at `level` — pure Catalyst bit arithmetic (the
    arithmetic shiftright + shiftleft pair clears the low bits with
    identical two's-complement semantics for the negative face-4/5
    ids), so prefix repartitioning never leaves the JVM."""
    from gdal_spark.geom import s2

    nbits = 2 * (s2.MAX_LEVEL - level)
    cleared = F.shiftleft(F.shiftright(cell, nbits), nbits)
    return cleared.bitwiseOR(F.lit(s2.lsb_for_level(level)))


def s2_range_cols(cell: Column) -> tuple[Column, Column]:
    """(range_min, range_max) of the cell's descendant-leaf interval:
    containment joins become a Catalyst-pushable BETWEEN."""
    lsb = cell.bitwiseAND(-cell)
    return cell - (lsb - F.lit(1)), cell + (lsb - F.lit(1))


def s2_token_col(cell: Column) -> Column:
    """Canonical S2 token: 16-digit lowercase two's-complement hex
    with trailing zeros stripped — pure Catalyst."""
    return F.regexp_replace(F.lpad(F.lower(F.hex(cell)), 16, "0"), "0+$", "")


def repartition_by_s2_prefix(df: DataFrame, cell_col: str, level: int, num_partitions: int | None = None) -> DataFrame:
    """North-rule "explicit repartitioning by cell prefix": hash the
    coarse ancestor id so all descendants of one level-`level` cell
    co-locate; sortWithinPartitions on the full id keeps Hilbert
    locality inside each partition (tight Parquet min/max stats)."""
    key = s2_parent_col(F.col(cell_col), level)
    df = df.repartition(num_partitions, key) if num_partitions else df.repartition(key)
    return df.sortWithinPartitions(F.col(cell_col))


def hex_cell_cols(x: Column, y: Column, size: float) -> tuple[Column, Column]:
    """Pointy-top hexagonal binning (axial coordinates) — the planar
    H3-analog companion to the spherical S2 index: pixel->axial
    transform + cube rounding, expressed ENTIRELY in Catalyst (floor/
    abs/when — zero Python, whole-stage-codegen friendly).

    Rounding uses floor(v + 0.5), not round(): numpy/JVM round() is
    banker's, SQL round() is half-away — floor(v + 0.5) is the one
    form every engine evaluates identically, which keeps the DuckDB
    oracle bit-exact.  Returns (hq, hr) bigint axial cell coords."""
    fx = x.cast("double")
    fy = y.cast("double")
    q = (F.sqrt(F.lit(3.0)) / F.lit(3.0) * fx - fy / F.lit(3.0)) / F.lit(float(size))
    r = (fy * F.lit(2.0) / F.lit(3.0)) / F.lit(float(size))
    s = -q - r
    rx = F.floor(q + F.lit(0.5)).cast("double")
    ry = F.floor(s + F.lit(0.5)).cast("double")
    rz = F.floor(r + F.lit(0.5)).cast("double")
    dx = F.abs(rx - q)
    dy = F.abs(ry - s)
    dz = F.abs(rz - r)
    x_largest = (dx > dy) & (dx > dz)
    hq = F.when(x_largest, -ry - rz).otherwise(rx)
    hr = F.when(~x_largest & ~(dy > dz), -rx - ry).otherwise(rz)
    return hq.cast("bigint"), hr.cast("bigint")


def hex_center_cols(hq: Column, hr: Column, size: float) -> tuple[Column, Column]:
    """Inverse: axial cell -> world-coordinate hex center."""
    fq = hq.cast("double")
    fr = hr.cast("double")
    cx = F.lit(float(size)) * (F.sqrt(F.lit(3.0)) * fq + F.sqrt(F.lit(3.0)) / F.lit(2.0) * fr)
    cy = F.lit(float(size)) * (F.lit(1.5) * fr)
    return cx, cy


def s2_cover_filter(cell_col: Column, ranges: list[tuple[int, int]]) -> Column:
    """Predicate for a region covering (geom/s2.py cover_cap ->
    cover_ranges): OR of BETWEENs over leaf-id intervals.  Plain
    comparisons on the cell column — Catalyst pushes the whole
    disjunction into the Parquet scan (row-group min/max skip), which
    is the point of the prefix layout: a region probe at 10^12 rows
    reads only the row groups whose cell ranges overlap the cover."""
    cond = F.lit(False)
    for lo, hi in ranges:
        cond = cond | cell_col.between(F.lit(int(lo)), F.lit(int(hi)))
    return cond
