"""Polygonize: connected components of equal pixel value -> polygons.

Reference: alg/polygonize.cpp:73 (GDALPolygonize, 4-conn default,
8-conn via 8CONNECTED=8 option :87), two-scanline arm tracing in
alg/polygonize_polygonizer.cpp. Semantics reproduced:
  - components of EQUAL value, mask excludes nodata cells;
  - one Polygon per component, holes as interior rings;
  - vertices at cell corners in world coords, collinear vertices
    merged; exterior ring starts at the component's top-left corner
    and walks down the left edge; holes start at their top-left
    corner and walk east (verified against the fixture's exact ring
    WKT, autotest/alg/polygonize.py:30-66);
  - emission order = (last scan row of the component, then leftmost
    column within that row) — matches the arm tracer's completion
    order on the reference fixture's 13-feature DN list.

Distributed (SURVEY.md §2.9): per-tile local polygonize; components
not touching a tile border are emitted directly; border-touching
components ship their cell RUNS (row, c0, c1) to a merge stage that
union-finds connectivity across tiles and re-traces merged
components — the classic 2-phase distributed connected-components.
Runs make the shuffled payload proportional to region area within
border-touching components only; worst case (one raster-spanning
component) degrades to a single merge task, noted for skew.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from gdal_spark.operators import tilecodec
from gdal_spark.operators.raster import RasterSpec


# ---------------------------------------------------------------------------
# labeling


def label_components(arr: np.ndarray, mask: np.ndarray, connect: int = 4) -> np.ndarray:
    """Two-pass union-find CC labeling of equal-valued, masked cells.
    Returns int labels (0 = masked)."""
    h, w = arr.shape
    labels = np.zeros((h, w), dtype=np.int64)
    parent: list[int] = [0]

    def find(a: int) -> int:
        while parent[a] != a:
            parent[a] = parent[parent[a]]
            a = parent[a]
        return a

    def union(a: int, b: int) -> None:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    nxt = 1
    for r in range(h):
        for c in range(w):
            if not mask[r, c]:
                continue
            v = arr[r, c]
            left = labels[r, c - 1] if c > 0 and mask[r, c - 1] and arr[r, c - 1] == v else 0
            up = labels[r - 1, c] if r > 0 and mask[r - 1, c] and arr[r - 1, c] == v else 0
            cands = [x for x in (left, up) if x]
            if connect == 8 and r > 0:
                if c > 0 and mask[r - 1, c - 1] and arr[r - 1, c - 1] == v:
                    cands.append(labels[r - 1, c - 1])
                if c + 1 < w and mask[r - 1, c + 1] and arr[r - 1, c + 1] == v:
                    cands.append(labels[r - 1, c + 1])
            if not cands:
                labels[r, c] = nxt
                parent.append(nxt)
                nxt += 1
            else:
                m = min(cands)
                labels[r, c] = m
                for x in cands:
                    union(m, x)
    # second pass: resolve
    flat = np.asarray([find(i) for i in range(nxt)], dtype=np.int64)
    labels = flat[labels]
    return labels


# ---------------------------------------------------------------------------
# ring tracing (region-on-left directed grid edges)


def trace_rings(cells: set[tuple[int, int]]) -> list[list[tuple[int, int]]]:
    """Boundary rings of a cell set, exterior first.

    Directed edges keep the region on the LEFT; each ring starts at
    its lexicographically-smallest (x, y) corner. Collinear vertices
    merged. For 4-connected regions, pinch corners (two region cells
    diagonal) are resolved by preferring the sharpest left turn,
    keeping rings simple."""
    edges: dict[tuple[int, int], list[tuple[int, int]]] = {}

    def add(a, b):
        edges.setdefault(a, []).append(b)

    for (r, c) in cells:
        if (r - 1, c) not in cells:
            add((c + 1, r), (c, r))  # top edge, westward (region below)
        if (r + 1, c) not in cells:
            add((c, r + 1), (c + 1, r + 1))  # bottom edge, eastward
        if (r, c - 1) not in cells:
            add((c, r), (c, r + 1))  # left edge, southward
        if (r, c + 1) not in cells:
            add((c + 1, r + 1), (c + 1, r))  # right edge, northward

    def turn_key(din, dout):
        # prefer sharpest left turn: cross(din, dout) in screen coords
        # (y down): left turn has negative cross; sort ascending
        return din[0] * dout[1] - din[1] * dout[0]

    rings: list[list[tuple[int, int]]] = []
    while edges:
        start = min(edges)
        ring = [start]
        cur = start
        din = None
        while True:
            outs = edges[cur]
            if len(outs) == 1 or din is None:
                nxt = outs.pop(0)
            else:
                outs.sort(key=lambda v: turn_key(din, (v[0] - cur[0], v[1] - cur[1])))
                nxt = outs.pop(0)
            if not outs:
                del edges[cur]
            din = (nxt[0] - cur[0], nxt[1] - cur[1])
            cur = nxt
            if cur == start:
                break
            ring.append(cur)
        ring.append(start)
        # merge collinear
        out = [ring[0]]
        for i in range(1, len(ring) - 1):
            ax, ay = out[-1]
            bx, by = ring[i]
            cx, cy = ring[i + 1]
            if (bx - ax) * (cy - ay) - (by - ay) * (cx - ax) != 0:
                out.append(ring[i])
        out.append(ring[-1])
        rings.append(out)
    rings.sort(key=lambda rr: min(rr))
    return rings


def _ring_to_world(ring, spec: RasterSpec) -> str:
    pts = ", ".join(
        f"{spec.gt[0] + x * spec.gt[1]:.10g} {spec.gt[3] + y * spec.gt[5]:.10g}" for x, y in ring
    )
    return f"({pts})"


def rings_to_wkt(rings, spec: RasterSpec) -> str:
    return "POLYGON (" + ",".join(_ring_to_world(r, spec) for r in rings) + ")"


# ---------------------------------------------------------------------------
# local polygonize


def polygonize_array(
    arr: np.ndarray,
    spec: RasterSpec,
    nodata: float | None = None,
    connect: int = 4,
    row_off: int = 0,
    col_off: int = 0,
):
    """-> list of dicts (dn, wkt, last_row, first_col) in emission
    order. Offsets place a tile into full-raster coordinates."""
    mask = np.ones(arr.shape, dtype=bool) if nodata is None else (arr != nodata)
    labels = label_components(arr, mask, connect)
    out = []
    for lab in np.unique(labels):
        if lab == 0:
            continue
        rs, cs = np.nonzero(labels == lab)
        cells = {(int(r) + row_off, int(c) + col_off) for r, c in zip(rs, cs)}
        last_row = int(rs.max()) + row_off
        first_col = int(cs[rs == rs.max()].min()) + col_off
        rings = trace_rings(cells)
        out.append(
            {
                "dn": float(arr[rs[0], cs[0]]),
                "wkt": rings_to_wkt(rings, spec),
                "last_row": last_row,
                "first_col": first_col,
            }
        )
    out.sort(key=lambda d: (d["last_row"], d["first_col"]))
    return out


# ---------------------------------------------------------------------------
# distributed polygonize

POLY_SCHEMA = StructType(
    [
        StructField("dn", DoubleType()),
        StructField("wkt", StringType()),
        StructField("last_row", LongType()),
        StructField("first_col", LongType()),
    ]
)

_RUN_SCHEMA = StructType(
    [
        StructField("dn", DoubleType()),
        StructField("final_wkt", StringType()),  # non-null = interior-complete
        StructField("r", LongType()),
        StructField("c0", LongType()),
        StructField("c1", LongType()),
        StructField("comp", StringType()),  # tile-local component id
        StructField("last_row", LongType()),
        StructField("first_col", LongType()),
    ]
)


def polygonize(
    tiles: DataFrame,
    spec: RasterSpec,
    nodata: float | None = None,
    connect: int = 4,
    band: int = 1,
) -> DataFrame:
    """Distributed polygonize over the tile table -> (dn, wkt,
    last_row, first_col) rows; global emission order reconstructible
    by ORDER BY (last_row, first_col)."""
    ts = spec.tile_size

    def _local(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for _, t in pdf[pdf["band"] == band].iterrows():
                arr = tilecodec.decode_row(t)
                roff, coff = int(t["ty"]) * ts, int(t["tx"]) * ts
                mask = np.ones(arr.shape, dtype=bool) if nodata is None else (arr != nodata)
                labels = label_components(arr, mask, connect)
                h, w = arr.shape
                on_border = set()
                for lab in np.unique(labels[0, :]):
                    on_border.add(lab)
                for lab in np.unique(labels[-1, :]):
                    on_border.add(lab)
                for lab in np.unique(labels[:, 0]):
                    on_border.add(lab)
                for lab in np.unique(labels[:, -1]):
                    on_border.add(lab)
                # border tiles of the full raster: edges at raster
                # boundary are NOT mergeable — drop them from border set
                is_global = {
                    "top": roff == 0,
                    "bottom": roff + h >= spec.height,
                    "left": coff == 0,
                    "right": coff + w >= spec.width,
                }
                truly_border = set()
                for lab in on_border:
                    if lab == 0:
                        continue
                    rs, cs = np.nonzero(labels == lab)
                    touch = (
                        (not is_global["top"] and (rs == 0).any())
                        or (not is_global["bottom"] and (rs == h - 1).any())
                        or (not is_global["left"] and (cs == 0).any())
                        or (not is_global["right"] and (cs == w - 1).any())
                    )
                    if touch:
                        truly_border.add(lab)
                for lab in np.unique(labels):
                    if lab == 0:
                        continue
                    rs, cs = np.nonzero(labels == lab)
                    dn = float(arr[rs[0], cs[0]])
                    if lab not in truly_border:
                        cells = {(int(r) + roff, int(c) + coff) for r, c in zip(rs, cs)}
                        rings = trace_rings(cells)
                        rows.append(
                            {
                                "dn": dn,
                                "final_wkt": rings_to_wkt(rings, spec),
                                "r": -1,
                                "c0": -1,
                                "c1": -1,
                                "comp": "",
                                "last_row": int(rs.max()) + roff,
                                "first_col": int(cs[rs == rs.max()].min()) + coff,
                            }
                        )
                    else:
                        # emit runs in full-raster coords
                        comp_id = f"{t['ty']}_{t['tx']}_{lab}"
                        for r in np.unique(rs):
                            row_cs = np.sort(cs[rs == r])
                            breaks = np.flatnonzero(np.diff(row_cs) > 1)
                            starts = np.concatenate([[0], breaks + 1])
                            ends = np.concatenate([breaks, [len(row_cs) - 1]])
                            for s, e in zip(starts, ends):
                                rows.append(
                                    {
                                        "dn": dn,
                                        "final_wkt": None,
                                        "r": int(r) + roff,
                                        "c0": int(row_cs[s]) + coff,
                                        "c1": int(row_cs[e]) + coff,
                                        "comp": comp_id,
                                        "last_row": -1,
                                        "first_col": -1,
                                    }
                                )
            yield pd.DataFrame(rows)

    pieces = tiles.mapInPandas(_local, _RUN_SCHEMA)
    finals = pieces.filter(F.col("final_wkt").isNotNull()).select(
        "dn", F.col("final_wkt").alias("wkt"), "last_row", "first_col"
    )

    def _merge(key, pdf):
        # union-find across tile-local pieces by run adjacency
        runs = pdf[["r", "c0", "c1", "comp"]].to_dict("records")
        comp_parent: dict[str, str] = {}

        def find(a: str) -> str:
            while comp_parent.setdefault(a, a) != a:
                comp_parent[a] = comp_parent[comp_parent[a]]
                a = comp_parent[a]
            return a

        def union(a: str, b: str) -> None:
            ra, rb = find(a), find(b)
            if ra != rb:
                comp_parent[rb] = ra

        by_row: dict[int, list[dict]] = {}
        for run in runs:
            by_row.setdefault(run["r"], []).append(run)
        for r, rr in by_row.items():
            for run in rr:
                # vertical adjacency (4-conn); 8-conn adds +-1 col slack
                slack = 1 if connect == 8 else 0
                for other in by_row.get(r + 1, []):
                    if other["c0"] <= run["c1"] + slack and run["c0"] - slack <= other["c1"]:
                        union(run["comp"], other["comp"])
                for other in rr:  # same-row (runs from adjacent tiles)
                    if other is not run and other["c0"] <= run["c1"] + 1 and run["c0"] <= other["c1"] + 1:
                        if other["c0"] == run["c1"] + 1 or run["c0"] == other["c1"] + 1 or (
                            other["c0"] <= run["c1"] and run["c0"] <= other["c1"]
                        ):
                            union(run["comp"], other["comp"])
        groups: dict[str, list[dict]] = {}
        for run in runs:
            groups.setdefault(find(run["comp"]), []).append(run)
        out = []
        dn = float(pdf["dn"].iloc[0])
        for g in groups.values():
            cells = set()
            for run in g:
                for c in range(run["c0"], run["c1"] + 1):
                    cells.add((run["r"], c))
            rings = trace_rings(cells)
            last_row = max(r for r, _ in cells)
            first_col = min(c for r, c in cells if r == last_row)
            out.append({"dn": dn, "wkt": rings_to_wkt(rings, spec), "last_row": last_row, "first_col": first_col})
        return pd.DataFrame(out)

    merged = (
        pieces.filter(F.col("final_wkt").isNull())
        .groupBy("dn")
        .applyInPandas(_merge, POLY_SCHEMA)
    )
    return finals.unionByName(merged)


def footprint(
    tiles: DataFrame,
    spec: RasterSpec,
    nodata: float = 0.0,
    connect: int = 4,
    band: int = 1,
) -> DataFrame:
    """gdal_footprint (apps/gdal_footprint_lib.cpp): polygon outline
    of the valid-data area = polygonize of the validity mask. Tiles
    are mapped to a uint8 mask (1 = valid) in one Arrow pass, then the
    standard 2-phase distributed polygonize runs with DN=1."""

    def _mask(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                if r.band != band:
                    continue
                rows.append(tilecodec.tile_row(1, r.ty, r.tx, tilecodec.decode_row(r) != nodata, "uint8"))
            yield pd.DataFrame(rows, columns=["band", "ty", "tx", "h", "w", "dtype", "payload"])

    from gdal_spark.operators.raster import TILE_SCHEMA

    mask_tiles = tiles.mapInPandas(_mask, TILE_SCHEMA)
    return polygonize(mask_tiles, spec, nodata=0.0, connect=connect, band=1)
