"""Spatial extraction, filter, and broadcast R-tree join operators.

The engine's minimum end-to-end slice (SURVEY.md §7 phase 2):

  docs (doc_id, spans)                        [Iceberg/Parquet scan]
    -> extract_geom       : first kind='geom' span -> wkt + envelope
                            columns + parse-error column (JVM-side
                            span filtering; Arrow UDF only for parse)
    -> cell keys          : Grid.cell_col_sql / hilbert_cell_udf
    -> spatial_filter_*   : OGR FilterGeometry cascade
                            (ogrlayer.cpp:4004) — envelope stages as
                            Catalyst column predicates (pushed to the
                            parquet scan when envelopes are
                            materialized), exact stage in an Arrow UDF
    -> spatial_join       : docs x broadcast(zones) intersects join
                            via packed Hilbert R-tree probe + exact
                            ray-cast verify; optional OGR first-match
                            (ogr_gensql.cpp:1515-1546: lowest
                            secondary FID wins, 1:1 never 1:N)

Span-sequence invariant: none of these operators touch the spans
column — it rides through shuffles as an opaque array<struct>, whose
element order Spark preserves natively (SURVEY.md §1.3).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from gdal_spark.geom.batch import GeomBatch, GeomType, interleave, single_ring_batch
from gdal_spark.geom.predicates import (
    filter_geometry_batch,
    intersects_rings_grouped,
    points_in_edges,
    rings_to_edges,
)
from gdal_spark.geom.rtree import PackedRTree
from gdal_spark.geom.wkt import parse_wkt

ENVELOPE_SCHEMA = StructType(
    [
        StructField("minx", DoubleType()),
        StructField("miny", DoubleType()),
        StructField("maxx", DoubleType()),
        StructField("maxy", DoubleType()),
        StructField("geom_type", LongType()),
        StructField("error", StringType()),
    ]
)


@F.pandas_udf(ENVELOPE_SCHEMA)
def envelope_udf(wkt: pd.Series) -> pd.DataFrame:
    """WKT -> envelope struct; invalid WKT lands in .error (F1 rule)."""
    batch, errors = parse_wkt(wkt, return_errors=True)
    env = batch.envelopes()
    return pd.DataFrame(
        {
            "minx": env[:, 0],
            "miny": env[:, 1],
            "maxx": env[:, 2],
            "maxy": env[:, 3],
            "geom_type": batch.types.astype(np.int64),
            "error": pd.array(errors, dtype=object),
        }
    )


@F.pandas_udf(DoubleType())
def area_udf(wkt: pd.Series) -> pd.Series:
    """Exact planar geometry area (OGRGeometry::get_Area semantics:
    shoelace exterior minus holes, summed over parts —
    ogrsqlitesqlfunctions.cpp:636 ST_Area). 0 for points/lines."""
    return pd.Series(parse_wkt(wkt).areas())


def extract_geom(df: DataFrame, spans_col: str = "spans") -> DataFrame:
    """Pull the first kind='geom' span's WKT + envelope columns.

    Span filtering stays JVM-side (Catalyst higher-order functions);
    only WKT parsing crosses into Arrow. Matches the reference's
    geometry-column access pattern: geometry is one column of the
    feature, never a row explosion (ogr/ogrfeature.cpp).

    Measured and rejected (round 3): a Catalyst regexp/split+try_cast
    fast path for simple POINT rows that masks the UDF input to NULL.
    Interleaved A/B at 2M docs: plain UDF 3.96 s vs regexp 4.26 s vs
    split+cast 4.13 s — per-row JVM string work costs as much as the
    Arrow crossing it saves, on top of real semantic risk (cast vs
    parser literal grammar). The vectorized-numpy parser is the fast
    path."""
    geom_span = F.filter(F.col(spans_col), lambda s: s["kind"] == F.lit("geom"))
    # try_element_at: docs with NO geom span get wkt=NULL (not an error)
    df = df.withColumn("wkt", F.try_element_at(geom_span, F.lit(1))["text"])
    df = df.withColumn("_env", envelope_udf(F.col("wkt")))
    return df.select(
        "*",
        F.col("_env.minx").alias("env_minx"),
        F.col("_env.miny").alias("env_miny"),
        F.col("_env.maxx").alias("env_maxx"),
        F.col("_env.maxy").alias("env_maxy"),
        F.col("_env.error").alias("geom_error"),
    ).drop("_env")


def _filter_rings_from_wkt(filter_wkt: str) -> list[np.ndarray]:
    batch = parse_wkt([filter_wkt])
    return batch.polygon_rings(0)


def spatial_filter(
    df: DataFrame,
    filter_wkt: str,
    exact: bool = True,
    wkt_col: str = "wkt",
    use_envelope_cols: bool = True,
) -> DataFrame:
    """ogr2ogr -spat semantics (OGRLayer::FilterGeometry cascade).

    Stage 1 (envelope reject) runs as plain column predicates when
    extract_geom's envelope columns are present — Catalyst pushes them
    into the parquet scan (PushedFilters), the distributed analog of
    GeoParquet bbox row-group skipping (ogrparquetlayer.cpp:333-471).
    The exact stage evaluates the full cascade in an Arrow UDF on the
    survivors only. exact=False reproduces the reference's no-GEOS
    envelope-only behavior (test_ogr2ogr.py:77-94, 4-vs-5 split)."""
    rings = _filter_rings_from_wkt(filter_wkt)
    fminx = min(float(r[:, 0].min()) for r in rings)
    fminy = min(float(r[:, 1].min()) for r in rings)
    fmaxx = max(float(r[:, 0].max()) for r in rings)
    fmaxy = max(float(r[:, 1].max()) for r in rings)

    if use_envelope_cols and "env_minx" in df.columns:
        df = df.filter(
            (F.col("env_maxx") >= fminx)
            & (F.col("env_maxy") >= fminy)
            & (F.col("env_minx") <= fmaxx)
            & (F.col("env_miny") <= fmaxy)
        )

    @F.pandas_udf(BooleanType())
    def _cascade(wkt: pd.Series) -> pd.Series:
        batch = parse_wkt(wkt)
        return pd.Series(filter_geometry_batch(batch, rings, exact=exact))

    return df.filter(_cascade(F.col(wkt_col)))


class ZoneIndex:
    """Driver-built broadcastable polygon set: envelopes + rings +
    packed Hilbert R-tree (the FlatGeobuf-style static index,
    packedrtree.h:78). Pickles cleanly into a Spark broadcast."""

    def __init__(self, fids: np.ndarray, wkts: list[str]) -> None:
        self.fids = np.asarray(fids, dtype=np.int64)
        batch = parse_wkt(wkts)
        self.rings: list[list[np.ndarray]] = [batch.polygon_rings(i) for i in range(len(batch))]
        self.edges = [rings_to_edges(r) for r in self.rings]
        self.envs = batch.envelopes()
        self.tree = PackedRTree(np.nan_to_num(self.envs, nan=0.0))
        self.types = batch.types

    @classmethod
    def from_df(cls, zones: DataFrame, fid_col: str = "fid", wkt_col: str = "wkt") -> "ZoneIndex":
        pdf = zones.select(fid_col, wkt_col).toPandas()
        return cls(pdf[fid_col].to_numpy(), pdf[wkt_col].tolist())

    def probe_batch(self, batch: GeomBatch) -> tuple[np.ndarray, np.ndarray]:
        """Exact intersects of a geometry batch vs the zone set ->
        (row, zone_pos) pairs: every row's envelope probes the R-tree in
        one query_rects sweep (a point's envelope is degenerate, NULL
        and EMPTY rows have none), and verify_pairs decides the
        candidates with one grouped kernel call per zone — the same
        path for every geometry type."""
        rows, zpos = self.tree.query_rects(batch.envelopes())
        keep = verify_pairs(batch, rows, zpos, self.rings, self.edges)
        return rows[keep], zpos[keep]


def _by_zone(zpos: np.ndarray):
    """(zone, positions) for each distinct zone of a candidate-pair
    zone column — the grouping every per-zone verify loops over."""
    order = np.argsort(zpos, kind="stable")
    bounds = np.flatnonzero(np.diff(zpos[order])) + 1
    for idx in np.split(order, bounds) if order.size else []:
        yield int(zpos[idx[0]]), idx


def verify_pairs(batch: GeomBatch, rows: np.ndarray, zpos: np.ndarray, rings, edges) -> np.ndarray:
    """Keep mask of the candidate pairs (batch row rows[k], zone
    zpos[k]), given each zone position's rings and edge table: one
    intersects_rings_grouped call per zone. The one exact verify of
    both spatial joins; a POINT or MULTIPOINT row only runs its first
    stage, the ray cast of its coordinates."""
    keep = np.zeros(rows.size, dtype=bool)
    for z, idx in _by_zone(zpos):
        keep[idx] = intersects_rings_grouped(batch, rows[idx], rings[z], edges[z])
    return keep


def _doc_batch(n: int, pt_rows: np.ndarray, px, py, rest_rows: np.ndarray, wkts) -> GeomBatch:
    """One n-row doc batch: rows pt_rows are the points (px, py), built
    without a parse; rows rest_rows parse from wkts (one WKT per
    rest row); every other row is NULL."""
    pts = single_ring_batch(GeomType.POINT, np.column_stack([px, py]), np.ones(len(pt_rows), np.int64))
    return interleave(n, [(pt_rows, pts), (rest_rows, parse_wkt(wkts))])


def _point_rows(wkt_col: str) -> Column:
    """Column: the row is a POINT whose envelope columns hold its
    coordinates (degenerate envelope, POINT WKT). Both joins test such
    rows from the envelope alone, so neither needs their WKT."""
    return (
        (F.col("env_minx") == F.col("env_maxx"))
        & (F.col("env_miny") == F.col("env_maxy"))
        & F.col(wkt_col).startswith("POINT")
    )


def spatial_join(
    docs: DataFrame,
    zones: DataFrame,
    wkt_col: str = "wkt",
    fid_col: str = "fid",
    zone_wkt_col: str = "wkt",
    first_match: bool = False,
    how: str = "inner",
    project: list[str] | None = None,
) -> DataFrame:
    """Broadcast spatial join: docs rows x zones whose polygon
    intersects the doc geometry (exact, GEOS-equivalent).

    zones is the SMALL side by contract (ogr2ogr method-layer /
    OGR SQL secondary-table role). The polygon set is indexed once on
    the driver and shipped as one broadcast; each Arrow batch of docs
    probes it in numpy — no shuffle of the big side at all, which is
    the whole game at 10^12 docs.

    first_match=True reproduces OGR SQL JOIN semantics exactly: one
    output row per doc, matched to the LOWEST zone fid
    (ogr_gensql.cpp:1515-1546 takes the first feature in secondary FID
    order, 1:1 never 1:N). how='left' null-extends unmatched docs.

    project: optional output column list (mapInPandas is opaque to
    Catalyst, so downstream column pruning can't reach the probe —
    this is the manual pruning knob).

    When envelope columns are present, the JVM flags POINT rows
    (_point_rows) and the probe builds them from their envelope with
    no WKT read; every row then goes through the same probe_batch.
    When project also excludes the WKT column, that flag nulls the
    point rows' WKT before the Arrow crossing: at 10^12 docs the
    crossing then carries 4 doubles, a flag and ids per point, no
    strings.
    """
    spark = docs.sparkSession
    zidx = ZoneIndex.from_df(zones, fid_col=fid_col, wkt_col=zone_wkt_col)
    bc = spark.sparkContext.broadcast(zidx)

    env_cols = ["env_minx", "env_miny", "env_maxx", "env_maxy"]
    has_env = all(c in docs.columns for c in env_cols)
    if project is not None:
        missing = [c for c in project if c not in docs.columns]
        if missing:
            raise ValueError(f"project columns not in docs: {missing}")
    out_cols = list(docs.columns if project is None else project)
    need = list(dict.fromkeys(out_cols + (env_cols if has_env else [])))
    # the point flag, computed once JVM-side: _env_doc_batch builds
    # these rows from their envelope, so when the output drops the WKT
    # theirs crosses into Arrow as a near-free NULL
    pt = F.coalesce(_point_rows(wkt_col), F.lit(False))
    extra = [pt.alias("_pt")] if has_env else []
    if wkt_col not in need:
        extra.append((F.when(~pt, F.col(wkt_col)) if has_env else F.col(wkt_col)).alias(wkt_col))
    docs = docs.select(*need, *extra)

    out_schema = StructType([docs.schema[c] for c in out_cols] + [StructField("zone_fid", LongType())])

    def _probe(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        zi: ZoneIndex = bc.value
        for pdf in batches:
            batch = _env_doc_batch(pdf, wkt_col) if has_env else parse_wkt(pdf[wkt_col])
            di, zpos = zi.probe_batch(batch)
            if first_match and di.size:
                # lowest secondary fid per doc row
                fids = zi.fids[zpos]
                order = np.lexsort((fids, di))
                di, fids = di[order], fids[order]
                keep = np.concatenate([[True], di[1:] != di[:-1]])
                di, fids = di[keep], fids[keep]
            else:
                fids = zi.fids[zpos]
            matched = pdf.iloc[di][out_cols].copy()
            matched["zone_fid"] = pd.array(fids, dtype="Int64")
            if how == "left":
                unmatched_mask = np.ones(len(pdf), dtype=bool)
                unmatched_mask[np.unique(di)] = False
                un = pdf.iloc[unmatched_mask][out_cols].copy()
                un["zone_fid"] = pd.array([None] * len(un), dtype="Int64")
                matched = pd.concat([matched, un], ignore_index=True)
            yield matched

    return docs.mapInPandas(_probe, out_schema)


def _env_doc_batch(pdf: pd.DataFrame, wkt_col: str) -> GeomBatch:
    """spatial_join's doc batch when envelope columns are present: rows
    flagged _pt (JVM-side, _point_rows) are points built from
    (env_minx, env_miny) with no WKT read at all, the other rows with
    an envelope parse their WKT, and rows without one (NULL or invalid
    WKT) stay NULL."""
    pt = pdf["_pt"].to_numpy(bool)
    minx = pdf["env_minx"].to_numpy(np.float64)
    pt_rows = np.flatnonzero(pt)
    rest_rows = np.flatnonzero(~pt & ~np.isnan(minx))
    py = pdf["env_miny"].to_numpy(np.float64)[pt_rows]
    return _doc_batch(len(pdf), pt_rows, minx[pt_rows], py, rest_rows, pdf[wkt_col].iloc[rest_rows])


def attach_zone_attrs(joined: DataFrame, zones: DataFrame, fid_col: str = "fid", prefix: str = "zone_") -> DataFrame:
    """Attach zone attributes post-join via a Catalyst equi-join on
    fid; Spark (and AQE at runtime) broadcasts the zone side when it
    is small (the reference prefixes colliding names with
    input_/method_, ogrlayer.cpp:5200-5230 — we prefix zone attrs)."""
    z = zones
    for c in z.columns:
        if c != fid_col:
            z = z.withColumnRenamed(c, f"{prefix}{c}")
    return joined.join(z, joined["zone_fid"] == z[fid_col], "left").drop(fid_col)


# ---------------------------------------------------------------------------
# layer algebra: clip to rectangle (ogr2ogr -clipsrc / OGRLayer::Clip)


def _clip_ring_rect(ring: np.ndarray, minx: float, miny: float, maxx: float, maxy: float) -> np.ndarray:
    """Sutherland-Hodgman clip of one ring against an axis-parallel
    rectangle — for convex clip windows this equals GEOS
    Intersection's boundary (ogrlayer.cpp:7537 Clip uses GEOS; the
    rect case is exactly S-H)."""
    poly = ring
    for axis, bound, keep_ge in ((0, minx, True), (0, maxx, False), (1, miny, True), (1, maxy, False)):
        if len(poly) == 0:
            return poly
        out = []
        n = len(poly)
        for i in range(n):
            cur, nxt = poly[i], poly[(i + 1) % n]
            cin = (cur[axis] >= bound) if keep_ge else (cur[axis] <= bound)
            nin = (nxt[axis] >= bound) if keep_ge else (nxt[axis] <= bound)
            if cin:
                out.append(cur)
            if cin != nin:
                t = (bound - cur[axis]) / (nxt[axis] - cur[axis])
                p = cur + t * (nxt - cur)
                p[axis] = bound  # exact on the clip edge
                out.append(p)
        poly = np.asarray(out) if out else np.empty((0, 2))
    if len(poly):
        poly = np.vstack([poly, poly[:1]])  # close
    return poly


def clip_to_rect(
    df: DataFrame,
    rect: tuple[float, float, float, float],
    wkt_col: str = "wkt",
    out_col: str = "clip_wkt",
) -> DataFrame:
    """Clip every geometry to rect; rows whose intersection is empty
    are DROPPED (ogr2ogr -clipsrc drops features clipped away,
    apps/ogr2ogr_lib.cpp:6969-7010). Points pass through iff inside
    (closed). Polygons are S-H clipped; the envelope fast path skips
    the kernel for fully-inside geometries."""
    from gdal_spark.geom.wkt import to_wkt
    from gdal_spark.geom.batch import GeomBatchBuilder

    minx, miny, maxx, maxy = (float(v) for v in rect)

    # stage 1: envelope reject, JVM-side when env columns exist
    if "env_minx" in df.columns:
        df = df.filter(
            (F.col("env_maxx") >= minx)
            & (F.col("env_maxy") >= miny)
            & (F.col("env_minx") <= maxx)
            & (F.col("env_miny") <= maxy)
        )

    out_schema = StructType(df.schema.fields + [StructField(out_col, StringType())])

    def _clip(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            batch = parse_wkt(pdf[wkt_col])
            env = batch.envelopes()
            keep_idx: list[int] = []
            out_wkt: list[str] = []
            fully_inside = (
                (env[:, 0] >= minx) & (env[:, 1] >= miny) & (env[:, 2] <= maxx) & (env[:, 3] <= maxy)
            )
            for i in range(len(batch)):
                if batch.is_null[i] or np.isnan(env[i, 0]):
                    continue
                if env[i, 2] < minx or env[i, 0] > maxx or env[i, 3] < miny or env[i, 1] > maxy:
                    continue
                if fully_inside[i]:
                    keep_idx.append(i)
                    out_wkt.append(pdf[wkt_col].iloc[i])
                    continue
                gtype, parts = batch.geometry(i)
                if gtype in (GeomType.POINT, GeomType.MULTIPOINT):
                    pts = np.concatenate([rings[0] for rings in parts], axis=0)
                    inside = (pts[:, 0] >= minx) & (pts[:, 0] <= maxx) & (pts[:, 1] >= miny) & (pts[:, 1] <= maxy)
                    if not inside.any():
                        continue
                    b = GeomBatchBuilder()
                    kept = pts[inside]
                    if len(kept) == 1:
                        b.add(GeomType.POINT, [[kept[:1]]])
                    else:
                        b.add(GeomType.MULTIPOINT, [[kept[j : j + 1]] for j in range(len(kept))])
                    keep_idx.append(i)
                    out_wkt.append(to_wkt(b.finish())[0])
                elif gtype in (GeomType.POLYGON, GeomType.MULTIPOLYGON):
                    new_parts = []
                    for rings in parts:
                        new_rings = [
                            c for c in (_clip_ring_rect(r, minx, miny, maxx, maxy) for r in rings) if len(c) >= 4
                        ]
                        if new_rings:
                            new_parts.append(new_rings)
                    if not new_parts:
                        continue
                    b = GeomBatchBuilder()
                    if len(new_parts) == 1:
                        b.add(GeomType.POLYGON, new_parts)
                    else:
                        b.add(GeomType.MULTIPOLYGON, new_parts)
                    keep_idx.append(i)
                    out_wkt.append(to_wkt(b.finish())[0])
                elif gtype in (GeomType.LINESTRING, GeomType.MULTILINESTRING):
                    # ogr2ogr -clipsrc on line layers
                    # (ogr2ogr_lib.cpp:6969): split at the window
                    # boundary, keep inside pieces (boundary-riding
                    # parts count as inside — closed region)
                    from gdal_spark.geom.overlay import clip_line

                    rect_ring = np.array(
                        [[minx, miny], [maxx, miny], [maxx, maxy], [minx, maxy], [minx, miny]]
                    )
                    pieces: list[np.ndarray] = []
                    for rings in parts:
                        pieces.extend(clip_line(rings[0], [[rect_ring]], keep_inside=True))
                    if not pieces:
                        continue
                    b = GeomBatchBuilder()
                    if len(pieces) == 1:
                        b.add(GeomType.LINESTRING, [[pieces[0]]])
                    else:
                        b.add(GeomType.MULTILINESTRING, [[ln] for ln in pieces])
                    keep_idx.append(i)
                    out_wkt.append(to_wkt(b.finish())[0])
            res = pdf.iloc[keep_idx].copy()
            res[out_col] = out_wkt
            yield res

    return df.mapInPandas(_clip, out_schema)


# ---------------------------------------------------------------------------
# big x big spatial join (cell-partitioned, no broadcast)


def spatial_join_cells(
    docs: DataFrame,
    zones: DataFrame,
    grid,
    doc_id_col: str = "_id",
    zone_fid_col: str = "fid",
    zone_wkt_col: str = "wkt",
    wkt_col: str = "wkt",
    salt: int = 0,
) -> DataFrame:
    """Spatial join for zone sets too large to broadcast: both sides
    are exploded to covering grid cells, equi-joined on cell id, and
    exact-verified per pair; duplicate (doc, zone) pairs from
    multi-cell overlaps collapse in one groupBy.

    One plan, with no hints on the zone side and no hand salting:
      candidates = docs' cells JOIN zones' classified cells ON cell
      pairs      = candidates.repartition(_did).groupBy(_did, _zfid)
      paired     = pairs LEFT JOIN non-point doc WKTs ON _did
                         JOIN zone WKTs ON _zfid
      result     = paired.mapInPandas(_verify)
    Both zone joins are plain equi-joins, and AQE (on in session.py)
    picks their physical form at runtime from the measured sizes of
    the shuffled sides: a broadcast hash join when either side is
    small (every bench and test input), a sort-merge join otherwise. AQE's
    skew join splits a hot cell or hot zone partition of a sort-merge
    join across tasks. Both plans give the same pair set
    (tests/test_spatial_ops.py checks both).

    `salt` is ignored: AQE's skew join spreads hot cells, so no join
    key is salted. The keyword stays only so callers that still pass
    it (perfbench/workloads.py) keep working.

    Shuffle diet (same rule as lsh_pairs, dedup.py): the cell exchange
    and the pair dedup carry ONLY (cell, _did, _zfid), one boolean and
    the point coordinates — at 10^12 docs this is the heaviest
    exchange in the big x big path and WKT strings must not ride it (a
    zone's WKT would otherwise be duplicated once per candidate pair).
    Geometries re-join by id AFTER the dedup.

    The verify builds one doc batch per Arrow batch (points from the
    _px/_py that rode the exchange, the other rows parsed from their
    re-joined WKT), parses each distinct zone of the batch once and
    decides every pair with verify_pairs, the same verify as
    spatial_join. It groups by _zfid inside the batch, so it needs no
    co-partitioning by zone for correctness.

    Interior-cell fast accept (the prepared-geometry "containment
    shortcut" of the reference's R-tree joins, done at grid
    granularity): the zone side classifies each covering cell as
    BOUNDARY (a ring edge passes through it — the all-touched walk of
    llrasterize.cpp) or INTERIOR (no edge, center inside); cells
    outside the polygon are dropped entirely (fewer candidates than
    the envelope box). A candidate whose envelope lies inside an
    interior cell is an exact match by construction (env subset of
    cell subset of zone), so it is accepted JVM-side — its WKT never
    shuffles and it never reaches the Python verify. Only
    boundary-cell candidates (a perimeter fraction that shrinks as
    the grid refines) pay for geometry.

    Returns (doc_id, zone_fid) pairs."""
    # docs side: cell ids from envelope columns (JVM-side). The
    # exchange carries ids + the point's coordinates (2 doubles — a
    # POINT's coords ARE its envelope): the point majority then needs
    # NO doc-side geometry re-join at all before the verify, only the
    # non-point minority joins its WKT back. Shipping 16 extra bytes
    # per candidate row removes an entire shuffle of the full doc
    # table from the verify stage.
    d = docs.select(
        F.col(doc_id_col).alias("_did"),
        "env_minx", "env_miny", "env_maxx", "env_maxy",
    ).filter(F.col("env_minx").isNotNull())

    def cell_range(minx, miny, maxx, maxy):
        cx0 = F.least(F.greatest(F.floor((minx - grid.minx) / grid.cell_w), F.lit(0)), F.lit(grid.nx - 1))
        cx1 = F.least(F.greatest(F.floor((maxx - grid.minx) / grid.cell_w), F.lit(0)), F.lit(grid.nx - 1))
        cy0 = F.least(F.greatest(F.floor((miny - grid.miny) / grid.cell_h), F.lit(0)), F.lit(grid.ny - 1))
        cy1 = F.least(F.greatest(F.floor((maxy - grid.miny) / grid.cell_h), F.lit(0)), F.lit(grid.ny - 1))
        return cx0, cx1, cy0, cy1

    cx0, cx1, cy0, cy1 = cell_range(F.col("env_minx"), F.col("env_miny"), F.col("env_maxx"), F.col("env_maxy"))
    cell_x0 = F.lit(grid.minx) + F.col("_cx") * F.lit(grid.cell_w)
    cell_y0 = F.lit(grid.miny) + F.col("_cy") * F.lit(grid.cell_h)
    d = (
        d.withColumn("_cx", F.explode(F.sequence(cx0, cx1)))
        .withColumn("_cy", F.explode(F.sequence(cy0, cy1)))
        .withColumn("cell", (F.col("_cy") * grid.nx + F.col("_cx")).cast("long"))
        # envelope fits this very cell's box: eligible for the
        # interior-cell fast accept (pure Catalyst, no Python)
        .withColumn(
            "_cont",
            (F.col("env_minx") >= cell_x0)
            & (F.col("env_maxx") <= cell_x0 + F.lit(grid.cell_w))
            & (F.col("env_miny") >= cell_y0)
            & (F.col("env_maxy") <= cell_y0 + F.lit(grid.cell_h)),
        )
        .select(
            "_did", "cell", "_cont",
            F.col("env_minx").alias("_px"), F.col("env_miny").alias("_py"),
        )
    )

    # zones side: classify each covering cell boundary/interior,
    # drop outside cells (one Arrow batch per zone partition)
    z = zones.select(
        F.col(zone_fid_col).alias("_zfid"), F.col(zone_wkt_col).alias("_zwkt")
    ).mapInPandas(
        _zone_cell_classifier(grid), "cell long, _zfid long, _boundary boolean"
    )

    # pair dedup doubles as the accept/verify split: a pair is
    # accepted outright if ANY of its candidate cells is an interior
    # cell that contains the doc's envelope. The accepted pairs stay
    # IN the pipeline as an _acc flag instead of forking a second
    # DataFrame branch: a filter(_acc)/filter(~_acc) fork + union
    # recomputes the whole explode->classify->join->agg subtree twice
    # (Catalyst canonicalization did not reuse the exchanges —
    # measured ReusedExchange=0, ~2x the work and the single biggest
    # local[8]->[32] scaling killer of the r4 shape).
    # ONE explicit repartition by _did alone: hash(_did) is a valid
    # clustering for groupBy(_did, _zfid) (every pair of a doc lands
    # in one partition) AND for the doc-WKT left join's _did key, so
    # the aggregate and that join both run exchange-free on top of it
    # — one fat exchange where the r4 plan paid three
    pairs = (
        d.join(z, "cell")
        .select(
            "_did", "_zfid",
            (F.col("_cont") & ~F.col("_boundary")).alias("_acc"),
            "_px", "_py",
        )
        .repartition(F.col("_did"))
        .groupBy("_did", "_zfid")
        .agg(
            F.max("_acc").alias("_acc"),
            # constant per doc — first() just carries them through
            F.first("_px").alias("_px"),
            F.first("_py").alias("_py"),
        )
    )

    # geometry payloads re-join by id post-dedup, and cross the Arrow
    # boundary ONLY for the boundary-cell candidates: each surviving
    # doc/zone WKT crosses the wire once per unverified pair (not once
    # per covering cell, and not at all for interior accepts — the
    # post-join projection nulls their WKT JVM-side, so the join key
    # stays the plain id with no NULL-key hot partition while the
    # Arrow payload for accepted rows is two nulls). When AQE
    # broadcasts the zone WKTs, the verify stage keeps the hash(_did)
    # partitioning end to end; otherwise the sort-merge join on _zfid
    # relies on AQE's skew join to split hot zones.
    # Only the NON-POINT minority re-joins its WKT (a POINT's verify
    # coordinates already rode the candidate exchange as _px/_py, the
    # same rule as spatial_join's point flag). The left join
    # null-extends _dwkt for point pairs — the verify builds exactly
    # those rows from _px/_py.
    # SHUFFLE_HASH, not the default sort-merge: SMJ would sort the
    # ENTIRE pair stream by _did just to probe the non-point subset;
    # hash-building the bounded dwn slice per partition costs
    # O(|non-point|/nparts) memory and no sort of the fat side
    dwn = docs.filter(~_point_rows(wkt_col)).select(
        F.col(doc_id_col).alias("_did"), F.col(wkt_col).alias("_dwkt")
    ).hint("SHUFFLE_HASH")
    zw = zones.select(F.col(zone_fid_col).alias("_zfid"), F.col(zone_wkt_col).alias("_zwkt"))
    paired = pairs.join(dwn, "_did", "left").join(zw, "_zfid")
    # interior-accepted pairs need no geometry at all: null both WKTs
    # AFTER the joins (plain-id join keys — no NULL-key hot partition)
    # so the Arrow exchange ships them as (ids, flag, 2 nulls)
    paired = paired.withColumn(
        "_dwkt", F.when(~F.col("_acc"), F.col("_dwkt"))
    ).withColumn("_zwkt", F.when(~F.col("_acc"), F.col("_zwkt")))

    out_schema = StructType(
        [StructField("doc_id", LongType()), StructField("zone_fid", LongType())]
    )

    def _verify(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            acc = pdf["_acc"].to_numpy(bool)
            # Interior-accepted rows (both WKTs nulled JVM-side) keep
            # unconditionally and stay NULL in the doc batch. Of the
            # rest, a NULL _dwkt is a point built from _px/_py; only
            # the non-point minority parses.
            parsed = pdf["_dwkt"].notna().to_numpy()
            pt_rows = np.flatnonzero(~parsed & ~acc)
            rest_rows = np.flatnonzero(parsed)
            px = pdf["_px"].to_numpy(np.float64)[pt_rows]
            py = pdf["_py"].to_numpy(np.float64)[pt_rows]
            batch = _doc_batch(len(pdf), pt_rows, px, py, rest_rows, pdf["_dwkt"].iloc[rest_rows])
            # each distinct zone of the batch parses once
            rows = np.flatnonzero(~acc)
            zfid = pdf["_zfid"].to_numpy(np.int64)
            _, first, zpos = np.unique(zfid[rows], return_index=True, return_inverse=True)
            zbatch = parse_wkt(pdf["_zwkt"].iloc[rows[first]])
            rings = [zbatch.polygon_rings(i) for i in range(len(zbatch))]
            keep = acc.copy()
            keep[rows] = verify_pairs(batch, rows, zpos, rings, [rings_to_edges(r) for r in rings])
            yield pd.DataFrame({"doc_id": pdf["_did"].to_numpy(np.int64)[keep], "zone_fid": zfid[keep]})

    # the groupBy made pairs unique and every pair flows through the
    # one verify stage (accepted rows as a pass-through flag) — a
    # single linear plan, no union, nothing computed twice
    return paired.mapInPandas(_verify, out_schema)


def _zone_cell_classifier(grid, max_cells: int = 4_000_000):
    """Returns the mapInPandas fn: (_zfid, _zwkt) rows -> one row per
    covering grid cell with a boundary/interior classification.
    Boundary = a ring edge passes through the cell (the all-touched
    supercover walk of llrasterize.cpp GDALdllImageLineAllTouched);
    interior = no edge and cell center inside (even-odd, holes
    respected); outside cells are dropped. Zones whose covering-cell
    count exceeds `max_cells` (mask memory guard), or that fail to
    parse as polygons, fall back to every envelope cell as boundary —
    always-correct, never-accepting."""

    def _cells(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from gdal_spark.operators.raster import _all_touched_line_mask

        for pdf in batches:
            zb = parse_wkt(pdf["_zwkt"])
            env = zb.envelopes()
            out_cell: list[np.ndarray] = []
            out_zfid: list[np.ndarray] = []
            out_bnd: list[np.ndarray] = []
            for i in range(len(pdf)):
                zfid = int(pdf["_zfid"].iloc[i])
                minx, miny, maxx, maxy = env[i]
                if not np.isfinite(minx):
                    continue
                gx0 = int(np.clip(np.floor((minx - grid.minx) / grid.cell_w), 0, grid.nx - 1))
                gx1 = int(np.clip(np.floor((maxx - grid.minx) / grid.cell_w), 0, grid.nx - 1))
                gy0 = int(np.clip(np.floor((miny - grid.miny) / grid.cell_h), 0, grid.ny - 1))
                gy1 = int(np.clip(np.floor((maxy - grid.miny) / grid.cell_h), 0, grid.ny - 1))
                W, H = gx1 - gx0 + 1, gy1 - gy0 + 1
                try:
                    rings = zb.polygon_rings(i)
                except Exception:
                    rings = []
                if not rings or W * H > max_cells:
                    cys, cxs = np.mgrid[gy0 : gy1 + 1, gx0 : gx1 + 1]
                    cells = (cys.ravel() * grid.nx + cxs.ravel()).astype(np.int64)
                    out_cell.append(cells)
                    out_zfid.append(np.full(cells.size, zfid, dtype=np.int64))
                    out_bnd.append(np.ones(cells.size, dtype=bool))
                    continue
                bmask = np.zeros((H, W), dtype=bool)
                for ring in rings:
                    rc = np.column_stack((
                        (ring[:, 0] - grid.minx) / grid.cell_w,
                        (ring[:, 1] - grid.miny) / grid.cell_h,
                    ))
                    bmask |= _all_touched_line_mask(rc, H, W, oy=gy0, ox=gx0)
                keep_y, keep_x = np.nonzero(bmask)
                out_cell.append(((keep_y + gy0) * grid.nx + (keep_x + gx0)).astype(np.int64))
                out_zfid.append(np.full(keep_y.size, zfid, dtype=np.int64))
                out_bnd.append(np.ones(keep_y.size, dtype=bool))
                iy, ix = np.nonzero(~bmask)
                if iy.size:
                    edges = rings_to_edges(rings)
                    ctr_x = grid.minx + (ix + gx0 + 0.5) * grid.cell_w
                    ctr_y = grid.miny + (iy + gy0 + 0.5) * grid.cell_h
                    inside = points_in_edges(ctr_x, ctr_y, edges)
                    out_cell.append(((iy[inside] + gy0) * grid.nx + (ix[inside] + gx0)).astype(np.int64))
                    out_zfid.append(np.full(int(inside.sum()), zfid, dtype=np.int64))
                    out_bnd.append(np.zeros(int(inside.sum()), dtype=bool))
            if out_cell:
                yield pd.DataFrame({
                    "cell": np.concatenate(out_cell),
                    "_zfid": np.concatenate(out_zfid),
                    "_boundary": np.concatenate(out_bnd),
                })

    return _cells
