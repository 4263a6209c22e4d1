"""`gdal vector check-coverage`
(apps/gdalalg_vector_check_coverage.cpp → GEOSCoverageIsValid_r): a
polygonal coverage is valid when polygon interiors are disjoint and
shared boundaries match exactly; the checker returns, per feature,
the portion of its boundary that violates this (empty when valid).

Own-written distributed analog of the GEOS 3.12 CoverageValidator
core rule: a boundary segment of polygon A is INVALID if it lies in
the strict interior of a neighbor polygon B (exactly-matched shared
edges sit ON B's boundary and stay valid). Declared deviation: the
gap heuristic (maximum-gap-width flagging of slivers between almost
-touching boundaries) is not implemented — only the
interior-intersection rule, which is what detects overlaps.

Distributed shape (the north-star big x big pattern): both sides
explode to covering grid cells via the boundary/interior classifier
(outside cells pruned), candidate ordered pairs come from ONE
(cell)-keyed self-equi-join carrying ids only, geometry re-joins by
id after pair dedup, and the boundary-clip verify runs co-partitioned
by the neighbor id. No driver materialization anywhere; scales with
the candidate-pair count, not |zones|^2.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from gdal_spark.geom.batch import GeomBatchBuilder, GeomType
from gdal_spark.geom.overlay import clip_line
from gdal_spark.geom.predicates import rings_to_edges
from gdal_spark.geom.wkt import parse_wkt, to_wkt


def _strictly_inside(px: np.ndarray, py: np.ndarray, edges) -> np.ndarray:
    """Even-odd parity AND not exactly on any edge (open-set
    containment — the coverage validity rule)."""
    from gdal_spark.geom.predicates import points_in_edges

    x1, y1, x2, y2 = edges
    if len(x1) == 0:
        return np.zeros(len(np.atleast_1d(px)), dtype=bool)
    parity = points_in_edges(px, py, edges, boundary=False)
    pxc = np.asarray(px, dtype=np.float64).reshape(-1, 1)
    pyc = np.asarray(py, dtype=np.float64).reshape(-1, 1)
    on_edge = (
        ((x2 - x1) * (pyc - y1) - (y2 - y1) * (pxc - x1) == 0)
        & (np.minimum(x1, x2) <= pxc)
        & (pxc <= np.maximum(x1, x2))
        & (np.minimum(y1, y2) <= pyc)
        & (pyc <= np.maximum(y1, y2))
    ).any(axis=1)
    return parity & ~on_edge


def invalid_boundary_pieces(
    a_rings: list[np.ndarray], b_rings: list[np.ndarray]
) -> list[np.ndarray]:
    """Portions of A's boundary strictly inside B (polyline pieces)."""
    region = [b_rings]
    edges = rings_to_edges(b_rings)
    out = []
    for ring in a_rings:
        for piece in clip_line(ring, region, keep_inside=True):
            if len(piece) < 2:
                continue
            # clip_line keeps boundary-riding pieces (closed-set rule);
            # coverage validity needs the OPEN set: re-test midpoints
            mx = (piece[:-1, 0] + piece[1:, 0]) / 2
            my = (piece[:-1, 1] + piece[1:, 1]) / 2
            keep = _strictly_inside(mx, my, edges)
            # re-chain consecutive kept segments
            start = None
            for k in range(len(keep) + 1):
                if k < len(keep) and keep[k]:
                    if start is None:
                        start = k
                elif start is not None:
                    out.append(piece[start : k + 1])
                    start = None
    return out


CHECK_COVERAGE_SCHEMA = StructType(
    [
        StructField("fid", LongType()),
        StructField("invalid_wkt", StringType()),
        StructField("invalid_len", DoubleType()),
    ]
)


def check_coverage(
    zones: DataFrame,
    grid,
    fid_col: str = "fid",
    wkt_col: str = "wkt",
    include_valid: bool = False,
) -> DataFrame:
    """Returns (fid, invalid_wkt MULTILINESTRING|NULL, invalid_len).
    Only invalid features emit rows unless include_valid (the
    reference's --include-valid adds valid ones with empty geometry)."""
    from gdal_spark.operators.spatial import _zone_cell_classifier

    z = zones.select(F.col(fid_col).alias("_zfid"), F.col(wkt_col).alias("_zwkt"))
    cells = z.mapInPandas(
        _zone_cell_classifier(grid), "cell long, _zfid long, _boundary boolean"
    )
    # candidate ordered pairs (a != b) from the cell self-join —
    # ids only through the exchange; boundary portions can only sit
    # strictly inside a neighbor where A's BOUNDARY cells meet any of
    # B's cells, so the A side prunes to boundary cells
    a = cells.filter(F.col("_boundary")).select(F.col("cell"), F.col("_zfid").alias("_a"))
    b = cells.select(F.col("cell"), F.col("_zfid").alias("_b"))
    pairs = (
        a.join(b, "cell")
        .filter(F.col("_a") != F.col("_b"))
        .select("_a", "_b")
        .distinct()
    )
    aw = zones.select(F.col(fid_col).alias("_a"), F.col(wkt_col).alias("_awkt"))
    bw = zones.select(F.col(fid_col).alias("_b"), F.col(wkt_col).alias("_bwkt"))
    paired = pairs.join(aw, "_a").join(bw, "_b")

    piece_schema = StructType(
        [
            StructField("fid", LongType()),
            StructField("px", StringType()),  # packed piece coords
        ]
    )

    def _verify(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            pdf = pdf.reset_index(drop=True)
            ab = parse_wkt(pdf["_awkt"])
            bb = parse_wkt(pdf["_bwkt"])
            rows = []
            for i in range(len(pdf)):
                pieces = invalid_boundary_pieces(ab.polygon_rings(i), bb.polygon_rings(i))
                for p in pieces:
                    rows.append(
                        (int(pdf["_a"].iloc[i]), ",".join(f"{x!r} {y!r}" for x, y in p))
                    )
            yield pd.DataFrame(rows, columns=["fid", "px"])

    pieces = paired.mapInPandas(_verify, piece_schema)
    agg = pieces.groupBy("fid").agg(F.collect_list("px").alias("_pieces"))

    def _assemble(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for _, r in pdf.iterrows():
                parts = []
                total = 0.0
                for enc in r["_pieces"]:
                    arr = np.array(
                        [[float(v) for v in pt.split()] for pt in enc.split(",")]
                    )
                    d = np.diff(arr, axis=0)
                    total += float(np.hypot(d[:, 0], d[:, 1]).sum())
                    parts.append([arr])
                b = GeomBatchBuilder()
                if len(parts) == 1:
                    b.add(GeomType.LINESTRING, parts)
                else:
                    b.add(GeomType.MULTILINESTRING, parts)
                rows.append((int(r["fid"]), to_wkt(b.finish())[0], total))
            if rows:
                yield pd.DataFrame(rows, columns=["fid", "invalid_wkt", "invalid_len"])

    invalid = agg.mapInPandas(_assemble, CHECK_COVERAGE_SCHEMA)
    if not include_valid:
        return invalid
    base = zones.select(F.col(fid_col).cast("long").alias("fid"))
    return base.join(invalid, "fid", "left").fillna({"invalid_len": 0.0})


def simplify_coverage(
    zones: DataFrame,
    tolerance: float,
    preserve_boundary: bool = False,
    fid_col: str = "fid",
    wkt_col: str = "wkt",
    patch_col: str | None = None,
) -> DataFrame:
    """`gdal vector simplify-coverage`
    (apps/gdalalg_vector_simplify_coverage.cpp →
    GEOSCoverageSimplifyVW): topology-preserving simplification where
    every shared boundary chain is simplified ONCE and spliced back
    into both polygons (geom/coverage_simplify.py).

    Distribution contract: chain identity is a global property of the
    coverage, so the unit of work is a PATCH — pass patch_col to
    process each self-contained coverage patch (an admin level, a map
    sheet) as one task via applyInPandas; with no patch column the
    whole input is one patch (the reference's own shape: GEOS gets
    the entire collection in memory). Patches at 100 TB come from the
    data model, not from this operator."""
    from gdal_spark.geom.coverage_simplify import coverage_simplify

    cols = [F.col(fid_col).alias("_fid"), F.col(wkt_col).alias("_wkt")]
    key = patch_col if patch_col else "_patch"
    base = zones.select(*cols, *( [F.col(patch_col).alias("_key")] if patch_col else [F.lit(0).alias("_key")] ))

    out_schema = StructType(
        [StructField("fid", LongType()), StructField(wkt_col, StringType())]
    )

    def _run(kv, pdf):
        pdf = pdf.reset_index(drop=True)
        batch, errs = parse_wkt(pdf["_wkt"], return_errors=True)
        polys = []
        fids = []
        for i in range(len(pdf)):
            if errs[i] is not None or batch.is_null[i]:
                # a coverage REWRITE must not silently lose features —
                # the reference errors when GEOS gets non-polygonal
                # input (gdalalg_vector_simplify_coverage.cpp)
                raise ValueError(
                    f"simplify_coverage: feature {int(pdf['_fid'].iloc[i])} "
                    f"has {'NULL' if errs[i] is None else 'invalid'} geometry"
                    + (f": {errs[i]}" if errs[i] else "")
                )
            polys.append(batch.polygon_rings(i))
            fids.append(int(pdf["_fid"].iloc[i]))
        simplified = coverage_simplify(polys, tolerance, preserve_boundary)
        b = GeomBatchBuilder()
        for rings in simplified:
            b.add(GeomType.POLYGON, [rings])
        wkts = to_wkt(b.finish())
        return pd.DataFrame({"fid": fids, wkt_col: wkts})

    return base.groupBy("_key").applyInPandas(_run, out_schema)


def _piece_length(pieces: list[np.ndarray]) -> float:
    total = 0.0
    for p in pieces:
        d = np.diff(p, axis=0)
        total += float(np.hypot(d[:, 0], d[:, 1]).sum())
    return total


def clean_coverage_patch(
    fids: list[int], polys: list[list[np.ndarray]], merge_strategy: str = "longest-border"
) -> list[list[np.ndarray]]:
    """OVERLAP RESOLUTION of the GEOS 3.14 CoverageCleaner
    (GEOSCoverageClean, `gdal vector clean-coverage`,
    apps/gdalalg_vector_clean_coverage.cpp): every pairwise overlap
    region is merged into exactly one of its owners per the strategy —
      longest-border: the owner sharing the longer border with the
        overlap (for A∩B the border toward A's remainder is the part
        of ∂B inside A, and vice versa); ties -> lower index
      max-area / min-area: the larger / smaller polygon wins
      min-index: the earlier feature wins
    — and subtracted from the loser. Declared deviations: node
    snapping (snapping-distance) and gap closing (maximum-gap-width)
    are not implemented; inputs are assumed vertex-matched except for
    overlaps (the check_coverage rule detects exactly those)."""
    from gdal_spark.geom.overlay import overlay

    out = [list(rings) for rings in polys]

    def area_of(rings_list: list[list[np.ndarray]]) -> float:
        a = 0.0
        for rings in rings_list:
            for k, r in enumerate(rings):
                x, y = r[:-1, 0], r[:-1, 1]
                x2, y2 = r[1:, 0], r[1:, 1]
                a += abs(0.5 * float(np.sum(x * y2 - x2 * y))) * (1 if k == 0 else -1)
        return a

    def env(rings):
        xs = np.concatenate([r[:, 0] for r in rings])
        ys = np.concatenate([r[:, 1] for r in rings])
        return xs.min(), ys.min(), xs.max(), ys.max()

    envs = [env(r) for r in out]
    n = len(out)
    for i in range(n):
        for j in range(i + 1, n):
            e1, e2 = envs[i], envs[j]
            if e1[2] <= e2[0] or e2[2] <= e1[0] or e1[3] <= e2[1] or e2[3] <= e1[1]:
                continue
            inter = overlay([out[i]], [out[j]], "and")
            if not inter:
                continue
            inter_area = sum(
                abs(0.5 * float(np.sum(s[:-1, 0] * s[1:, 1] - s[1:, 0] * s[:-1, 1])))
                for s, _ in inter
            )
            if inter_area == 0.0:
                continue
            if merge_strategy == "longest-border":
                # border of the overlap toward i's remainder = ∂(j) inside i
                li = _piece_length(invalid_boundary_pieces(out[j], out[i]))
                lj = _piece_length(invalid_boundary_pieces(out[i], out[j]))
                win = i if li >= lj else j
            elif merge_strategy == "max-area":
                win = i if area_of([out[i]]) >= area_of([out[j]]) else j
            elif merge_strategy == "min-area":
                win = i if area_of([out[i]]) <= area_of([out[j]]) else j
            elif merge_strategy == "min-index":
                win = i if fids[i] <= fids[j] else j
            else:
                raise ValueError(f"unknown merge strategy {merge_strategy!r}")
            lose = j if win == i else i
            diff = overlay([out[lose]], [out[win]], "a_not_b")
            out[lose] = [r for shell, holes in diff for r in ([shell] + list(holes))]
            envs[lose] = env(out[lose]) if out[lose] else (0, 0, 0, 0)
    return out


def clean_coverage(
    zones: DataFrame,
    merge_strategy: str = "longest-border",
    fid_col: str = "fid",
    wkt_col: str = "wkt",
    patch_col: str | None = None,
) -> DataFrame:
    """`gdal vector clean-coverage` overlap resolution over Spark —
    same patch contract as simplify_coverage (chain/overlap identity
    is patch-local; the reference hands GEOS the whole collection)."""
    base = zones.select(
        F.col(fid_col).alias("_fid"),
        F.col(wkt_col).alias("_wkt"),
        *( [F.col(patch_col).alias("_key")] if patch_col else [F.lit(0).alias("_key")] ),
    )
    out_schema = StructType(
        [StructField("fid", LongType()), StructField(wkt_col, StringType())]
    )

    def _run(kv, pdf):
        pdf = pdf.reset_index(drop=True)
        batch, errs = parse_wkt(pdf["_wkt"], return_errors=True)
        polys, fids = [], []
        for i in range(len(pdf)):
            if errs[i] is not None or batch.is_null[i]:
                raise ValueError(
                    f"clean_coverage: feature {int(pdf['_fid'].iloc[i])} "
                    f"has {'NULL' if errs[i] is None else 'invalid'} geometry"
                    + (f": {errs[i]}" if errs[i] else "")
                )
            polys.append(batch.polygon_rings(i))
            fids.append(int(pdf["_fid"].iloc[i]))
        cleaned = clean_coverage_patch(fids, polys, merge_strategy)
        b = GeomBatchBuilder()
        for rings in cleaned:
            if rings:
                b.add(GeomType.POLYGON, [rings])
            else:
                b.add_null()
        wkts = to_wkt(b.finish())
        return pd.DataFrame({"fid": fids, wkt_col: wkts})

    return base.groupBy("_key").applyInPandas(_run, out_schema)
