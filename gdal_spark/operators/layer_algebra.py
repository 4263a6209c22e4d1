"""Layer algebra: Intersection / Union / SymDifference / Identity /
Update / Clip / Erase over DataFrames.

Reference semantics (ogr/ogrsf_frmts/generic/ogrlayer.cpp):
  Intersection :5385  pieces x∩y per intersecting (input, method) pair,
                      attrs from both sides
  Union        :5803  pieces + input leftovers (x − ∪ matched y) +
                      method leftovers (y − ∪ matched x)
  SymDifference:6340  both-side leftovers only
  Identity     :6770  pieces + input leftovers
  Update       :7188  input leftovers + method features verbatim
  Clip         :7537  x ∩ (∪ method), attrs from input only
  Erase        :7846  x − (∪ method), attrs from input only
Field-name collisions get input_/method_ prefixes
(set_result_schema, ogrlayer.cpp:5200-5247); PROMOTE_TO_MULTI wraps
every piece as MULTIPOLYGON (promote_to_multi, :5292). Zero-area
pieces are dropped (= KEEP_LOWER_DIMENSION_GEOMETRIES=NO, :5408).

Spark shape: the method layer is the small side by contract (the
reference doc itself says "for best performance use the minimum
amount of features in the method layer"). It is indexed once on the
driver (packed Hilbert R-tree over envelopes) and broadcast; each
Arrow batch of the input probes it and runs the snap-rounded overlay
kernel per candidate pair — the big side never shuffles. Method
attributes never travel through the UDF: pieces carry method_fid and
a Catalyst broadcast equi-join attaches the attrs after. Method-side
leftovers (Union/SymDifference) need every input geometry that
touches each method feature, so that one path is a groupBy(fid) +
collect_list — bounded by overlap degree; for hot method features
use a pre-aggregation salt (see union_method_leftovers).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from gdal_spark.geom.batch import GeomBatchBuilder, GeomType
from gdal_spark.geom.overlay import clip_line, overlay
from gdal_spark.geom.wkt import parse_wkt, to_wkt
from gdal_spark.operators.spatial import ZoneIndex


def _polys_to_wkt(polys: list, promote: bool) -> str | None:
    """Overlay result [(shell, holes)] -> WKT (POLYGON or MULTIPOLYGON)."""
    if not polys:
        return None
    b = GeomBatchBuilder()
    parts = [[shell] + list(holes) for shell, holes in polys]
    if len(parts) == 1 and not promote:
        b.add(GeomType.POLYGON, parts)
    else:
        b.add(GeomType.MULTIPOLYGON, parts)
    return to_wkt(b.finish())[0]


def _geom_regions(batch, i: int) -> list[list[np.ndarray]]:
    """Geometry i as an overlay region: one flattened ring list (even-odd
    over all rings of all parts == the multipolygon region)."""
    return [batch.polygon_rings(i)]


def _lines_of(batch, i: int) -> list[np.ndarray]:
    gtype, parts = batch.geometry(i)
    return [rings[0] for rings in parts]


def _lines_to_wkt(lines: list[np.ndarray], promote: bool) -> str | None:
    if not lines:
        return None
    b = GeomBatchBuilder()
    if len(lines) == 1 and not promote:
        b.add(GeomType.LINESTRING, [[lines[0]]])
    else:
        b.add(GeomType.MULTILINESTRING, [[ln] for ln in lines])
    return to_wkt(b.finish())[0]


def _points_of(batch, i: int) -> np.ndarray:
    gtype, parts = batch.geometry(i)
    return np.concatenate([rings[0] for rings in parts], axis=0)


def _points_to_wkt(pts: np.ndarray, promote: bool) -> str | None:
    if len(pts) == 0:
        return None
    b = GeomBatchBuilder()
    if len(pts) == 1 and not promote:
        b.add(GeomType.POINT, [[pts[:1]]])
    else:
        b.add(GeomType.MULTIPOINT, [[pts[j : j + 1]] for j in range(len(pts))])
    return to_wkt(b.finish())[0]


def _piece_wkt(batch, i: int, method_regions: list, op: str, promote: bool) -> str | None:
    """One input geometry vs a set of method regions -> piece WKT.

    op 'and' intersects with the UNION of method regions; 'a_not_b'
    subtracts it — matching the reference's incremental
    x.Intersection / x.Difference loops. Points and lines get the
    dimension-true paths (union_4 keeps a point inside a polygon)."""
    gtype = GeomType(batch.types[i])
    if gtype in (GeomType.POINT, GeomType.MULTIPOINT):
        pts = _points_of(batch, i)
        from gdal_spark.geom.predicates import points_in_edges, rings_to_edges

        inside = np.zeros(len(pts), dtype=bool)
        for region in method_regions:
            inside |= points_in_edges(pts[:, 0], pts[:, 1], rings_to_edges(region))
        keep = pts[inside] if op == "and" else pts[~inside]
        return _points_to_wkt(keep, promote)
    if gtype in (GeomType.LINESTRING, GeomType.MULTILINESTRING):
        out: list[np.ndarray] = []
        for ln in _lines_of(batch, i):
            out.extend(clip_line(ln, method_regions, keep_inside=(op == "and")))
        return _lines_to_wkt(out, promote)
    if gtype in (GeomType.POLYGON, GeomType.MULTIPOLYGON):
        polys = overlay(_geom_regions(batch, i), method_regions, op)
        return _polys_to_wkt(polys, promote)
    return None


_DIM = {
    GeomType.POINT: 0, GeomType.MULTIPOINT: 0,
    GeomType.LINESTRING: 1, GeomType.MULTILINESTRING: 1,
    GeomType.POLYGON: 2, GeomType.MULTIPOLYGON: 2,
}


def _pair_piece(
    batch, i: int, zidx, z: int, promote: bool, keep_lower_dim: bool = False
) -> str | None:
    """x ∩ y for one (input, method) pair, dimension-true: the piece has
    dim = min(dim x, dim y) (GEOS Intersection; the KLDG skip only
    applies when dims were EQUAL and the result degraded,
    ogrlayer.cpp:5405-5411 — poly ∩ point legitimately yields the
    point, kept by Union, autotest test_algebra_union_4).
    keep_lower_dim=True (KLDG=YES, the reference default for untyped
    result layers) also emits the shared-boundary LINESTRING when two
    polygons touch without overlapping."""
    ty = GeomType(zidx.types[z])
    tx = GeomType(batch.types[i])
    dx, dy = _DIM.get(tx), _DIM.get(ty)
    if dx is None or dy is None:
        return None
    if dy < dx:
        # compute from the lower-dim method side vs the input region
        region = [batch.polygon_rings(i)]
        if dy == 0:
            pts = np.concatenate([r for r in zidx.rings[z]], axis=0)
            from gdal_spark.geom.predicates import points_in_edges, rings_to_edges

            inside = points_in_edges(pts[:, 0], pts[:, 1], rings_to_edges(region[0]))
            return _points_to_wkt(pts[inside], promote)
        out: list[np.ndarray] = []
        for ln in zidx.rings[z]:
            out.extend(clip_line(ln, region, keep_inside=True))
        return _lines_to_wkt(out, promote)
    if dx == 0 and dy == 0:
        a = {tuple(p) for p in _points_of(batch, i)}
        b = {tuple(p) for r in zidx.rings[z] for p in r}
        common = sorted(a & b)
        return _points_to_wkt(np.asarray(common, dtype=np.float64).reshape(-1, 2), promote)
    w = _piece_wkt(batch, i, [zidx.rings[z]], "and", promote)
    if w is None and keep_lower_dim and dx == 2 and dy == 2:
        from gdal_spark.geom.overlay import boundary_contact, point_contact

        contact = boundary_contact([batch.polygon_rings(i)], [zidx.rings[z]])
        pts = point_contact([batch.polygon_rings(i)], [zidx.rings[z]])
        lw = _lines_to_wkt(contact, promote)
        pw = _points_to_wkt(pts, promote)
        if lw and pw:
            # mixed-dimension touch (shared edge + isolated corner):
            # the GEOS Intersection shape is a GEOMETRYCOLLECTION
            return f"GEOMETRYCOLLECTION ({lw}, {pw})"
        return lw or pw
    return w


_EMPTY_MARK = "__EMPTY__"  # salted-leftover sentinel: partial difference is empty
_PAIRWISE = "pairwise"  # one piece per (x, y) pair (intersection-like)
_LEFTOVER = "leftover"  # x minus union of matched ys
_COMBINED = "combined"  # x clipped/erased against union of ALL matched ys


def _probe_pairs(zidx: ZoneIndex, pdf: pd.DataFrame, wkt_col: str):
    batch = parse_wkt(pdf[wkt_col])
    di, zpos = zidx.probe_batch(batch)
    return batch, di, zpos


def _input_side(
    df: DataFrame,
    zidx_bc,
    wkt_col: str,
    mode: str,
    op: str,
    promote: bool,
    emit_unmatched: bool,
    keep_lower_dim: bool = False,
) -> DataFrame:
    """mapInPandas over the input layer emitting (input cols...,
    method_fid, piece wkt)."""
    out_schema = StructType(
        [f for f in df.schema.fields if f.name != wkt_col]
        + [StructField("method_fid", LongType()), StructField("wkt", StringType())]
    )

    def _run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        zidx: ZoneIndex = zidx_bc.value
        for pdf in batches:
            pdf = pdf.reset_index(drop=True)
            batch, di, zpos = _probe_pairs(zidx, pdf, wkt_col)
            rows_idx: list[int] = []
            fids: list = []
            wkts: list = []
            matched = np.zeros(len(pdf), dtype=bool)
            if di.size:
                matched[di] = True
                order = np.lexsort((zidx.fids[zpos], di))
                di, zpos = di[order], zpos[order]
                bounds = np.flatnonzero(np.diff(di)) + 1
                starts = np.concatenate([[0], bounds])
                ends = np.concatenate([bounds, [di.size]])
                for s, e in zip(starts, ends):
                    i = int(di[s])
                    if mode == _PAIRWISE:
                        for k in range(s, e):
                            z = int(zpos[k])
                            w = _pair_piece(batch, i, zidx, z, promote, keep_lower_dim)
                            if w is not None:
                                rows_idx.append(i)
                                fids.append(int(zidx.fids[z]))
                                wkts.append(w)
                    else:  # _LEFTOVER / _COMBINED
                        regions = [zidx.rings[int(zpos[k])] for k in range(s, e)]
                        w = _piece_wkt(batch, i, regions, op, promote)
                        if w is not None:
                            rows_idx.append(i)
                            fids.append(None)
                            wkts.append(w)
            if emit_unmatched and op == "a_not_b":
                # nothing subtracted: the feature passes through verbatim
                # ('and' modes let unmatched rows vanish instead)
                for i in np.flatnonzero(~matched):
                    if batch.is_null[i] or batch.is_empty[i]:
                        continue
                    rows_idx.append(int(i))
                    fids.append(None)
                    wkts.append(pdf[wkt_col].iloc[int(i)])
            res = pdf.iloc[rows_idx].drop(columns=[wkt_col]).copy()
            res["method_fid"] = pd.array(fids, dtype="Int64")
            res["wkt"] = wkts
            yield res

    return df.mapInPandas(_run, out_schema)


def _prefix_collisions(
    input_df: DataFrame, method_df: DataFrame, wkt_cols=("wkt", "wkt"), fid_col: str = "fid"
):
    """input_/method_ prefixes on colliding field names
    (set_result_schema, ogrlayer.cpp:5200-5247). The method fid column
    is join bookkeeping, never renamed (it is dropped from output)."""
    in_attrs = [c for c in input_df.columns if c != wkt_cols[0]]
    m_attrs = [c for c in method_df.columns if c not in (wkt_cols[1], fid_col)]
    common = set(in_attrs) & set(m_attrs)
    in_renames = {c: (f"input_{c}" if c in common else c) for c in in_attrs}
    m_renames = {c: (f"method_{c}" if c in common else c) for c in m_attrs}
    return in_renames, m_renames


def union_method_leftovers(
    input_df: DataFrame,
    method_df: DataFrame,
    zidx_bc,
    wkt_col: str,
    method_wkt_col: str,
    method_fid_col: str,
    promote: bool,
    salt: int = 0,
) -> DataFrame:
    """Per method feature: y − union(all intersecting input x) — the
    second loop of OGRLayer::Union (ogrlayer.cpp:5803) / SymDifference.

    Distributed shape: probe pairs (method_fid, input_wkt) →
    groupBy(fid) collect the input geometries → one overlay per fid.
    salt>0 pre-reduces hot fids in two levels ((fid, salt) partial
    difference, then final) so a method feature matched by millions of
    inputs never lands in one task's collect_list."""
    pair_schema = StructType(
        [StructField("method_fid", LongType()), StructField("x_wkt", StringType())]
    )

    def _pairs(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        zidx: ZoneIndex = zidx_bc.value
        for pdf in batches:
            pdf = pdf.reset_index(drop=True)
            batch, di, zpos = _probe_pairs(zidx, pdf, wkt_col)
            yield pd.DataFrame(
                {
                    "method_fid": zidx.fids[zpos].astype(np.int64),
                    "x_wkt": pdf[wkt_col].iloc[di].to_numpy(),
                }
            )

    pairs = input_df.mapInPandas(_pairs, pair_schema)
    if salt > 1:
        # level 1: subtract each salt-bucket's inputs from y, emitting a
        # partial piece per (fid, salt); level 2 intersects the partials
        # (y − ∪A = ∩_buckets (y − ∪A_bucket)).
        pairs = pairs.withColumn("_salt", F.pmod(F.hash("x_wkt"), F.lit(salt)))
        grouped = pairs.groupBy("method_fid", "_salt").agg(F.collect_list("x_wkt").alias("xs"))
    else:
        grouped = pairs.groupBy("method_fid").agg(F.collect_list("x_wkt").alias("xs"))

    m = method_df.select(
        F.col(method_fid_col).alias("method_fid"), F.col(method_wkt_col).alias("y_wkt")
    )
    # grouped has <= one row per method fid (post-aggregation, small);
    # left-join from the method side keeps untouched features too
    g = m.join(grouped, "method_fid", "left")

    out_schema = StructType(
        [StructField("method_fid", LongType()), StructField("wkt", StringType())]
    )

    def _diff(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # salted mode MUST emit a marker for empty partials: the final
        # stage intersects partials (y − ∪A = ∩_b (y − ∪A_b)), and a
        # dropped empty factor would wrongly resurrect the leftover
        for pdf in batches:
            fids, wkts = [], []
            for r in pdf.itertuples(index=False):
                yb = parse_wkt([r.y_wkt])
                xs = list(r.xs) if r.xs is not None and len(r.xs) else []
                if not xs:
                    w = r.y_wkt  # untouched method feature
                else:
                    xb = parse_wkt(xs)
                    regions = [xb.polygon_rings(i) for i in range(len(xb))]
                    w = _piece_wkt(yb, 0, regions, "a_not_b", promote)
                if w is None and salt > 1:
                    w = _EMPTY_MARK
                if w is not None:
                    fids.append(r.method_fid)
                    wkts.append(w)
            yield pd.DataFrame({"method_fid": pd.array(fids, dtype="Int64"), "wkt": wkts})

    if salt > 1:
        partial = g.mapInPandas(_diff, out_schema)
        # final: intersect the partial pieces per fid
        fin = partial.groupBy("method_fid").agg(F.collect_list("wkt").alias("ps"))

        def _merge(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                fids, wkts = [], []
                for r in pdf.itertuples(index=False):
                    ps = list(r.ps)
                    if not ps or _EMPTY_MARK in ps:
                        continue  # any empty factor -> empty leftover
                    b = parse_wkt(ps)
                    acc = [b.polygon_rings(0)]
                    w = ps[0]
                    for i in range(1, len(b)):
                        polys = overlay(acc, [b.polygon_rings(i)], "and")
                        w = _polys_to_wkt(polys, promote)
                        if w is None:
                            break
                        nb = parse_wkt([w])
                        acc = [nb.polygon_rings(0)]
                    if w is not None:
                        fids.append(r.method_fid)
                        wkts.append(w)
                yield pd.DataFrame({"method_fid": pd.array(fids, dtype="Int64"), "wkt": wkts})

        return fin.mapInPandas(_merge, out_schema)
    return g.mapInPandas(_diff, out_schema)


def layer_algebra_cells(
    input_df: DataFrame,
    method_df: DataFrame,
    grid,
    op: str = "intersection",
    id_col: str = "_id",
    wkt_col: str = "wkt",
    method_fid_col: str = "fid",
    method_wkt_col: str = "wkt",
    promote_to_multi: bool = False,
) -> DataFrame:
    """Layer algebra for method layers too large to broadcast: the
    big x big scale path. Both sides explode to covering grid cells
    (JVM-side from envelope columns), equi-join on the cell id (the
    explicit repartition-by-cell contract — AQE-skew-safe),
    dedupe (input, method) pairs, then run the overlay kernel per
    pair. op: intersection (pieces, one row per intersecting pair) or
    erase (input minus the union of its matched method features).

    Returns (doc_id, method_fid [intersection only], wkt). Attribute
    attachment composes via ordinary joins on the ids afterward."""
    from gdal_spark.operators.spatial import spatial_join_cells

    if op not in ("intersection", "erase"):
        raise ValueError(f"layer_algebra_cells supports intersection|erase, got {op}")

    pairs = spatial_join_cells(
        input_df, method_df, grid,
        doc_id_col=id_col, zone_fid_col=method_fid_col,
        zone_wkt_col=method_wkt_col, wkt_col=wkt_col,
    )
    # re-attach both geometries by id (cheap equi-joins; geometries did
    # not ride through the dedupe shuffle)
    d = input_df.select(F.col(id_col).alias("doc_id"), F.col(wkt_col).alias("_dwkt"))
    m = method_df.select(
        F.col(method_fid_col).alias("method_fid"), F.col(method_wkt_col).alias("_mwkt")
    )
    # method side FIRST, doc side LAST: the final exchange keys the
    # downstream mapInPandas stages, and doc_id is the high-cardinality
    # key — ending on method_fid would cap parallelism at the distinct
    # method-feature count (the kernels here are row-wise/per-doc, so
    # key order alone avoids it). The erase groupBy(doc_id) below
    # also becomes exchange-free this way.
    joined = (
        pairs.withColumnRenamed("zone_fid", "method_fid")
        .join(m, "method_fid")
        .join(d, "doc_id")
    )

    if op == "intersection":
        out_schema = StructType(
            [
                StructField("doc_id", LongType()),
                StructField("method_fid", LongType()),
                StructField("wkt", StringType()),
            ]
        )

        def _pieces(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                if not len(pdf):
                    continue
                db = parse_wkt(pdf["_dwkt"])
                mb = parse_wkt(pdf["_mwkt"])
                rows = []
                for i in range(len(pdf)):
                    w = _piece_wkt(db, i, [mb.polygon_rings(i)], "and", promote_to_multi)
                    if w is not None:
                        rows.append(
                            {"doc_id": int(pdf["doc_id"].iloc[i]),
                             "method_fid": int(pdf["method_fid"].iloc[i]), "wkt": w}
                        )
                yield pd.DataFrame(rows, columns=["doc_id", "method_fid", "wkt"])

        return joined.mapInPandas(_pieces, out_schema)

    # erase: input minus the union of its matched method features —
    # group matched method geoms per doc (bounded by overlap degree),
    # then one overlay per doc; unmatched docs pass through verbatim.
    grouped = joined.groupBy("doc_id").agg(
        F.first("_dwkt").alias("_dwkt"), F.collect_list("_mwkt").alias("_ms")
    )
    out_schema = StructType(
        [StructField("doc_id", LongType()), StructField("wkt", StringType())]
    )

    def _erase(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            db = parse_wkt(pdf["_dwkt"])
            rows = []
            for i in range(len(pdf)):
                mb = parse_wkt(list(pdf["_ms"].iloc[i]))
                regions = [mb.polygon_rings(k) for k in range(len(mb))]
                w = _piece_wkt(db, i, regions, "a_not_b", promote_to_multi)
                if w is not None:
                    rows.append({"doc_id": int(pdf["doc_id"].iloc[i]), "wkt": w})
            yield pd.DataFrame(rows, columns=["doc_id", "wkt"])

    erased = grouped.mapInPandas(_erase, out_schema)
    untouched = (
        input_df.select(F.col(id_col).alias("doc_id"), F.col(wkt_col).alias("wkt"))
        .join(grouped.select("doc_id"), "doc_id", "left_anti")
    )
    return erased.unionByName(untouched)


def layer_algebra(
    input_df: DataFrame,
    method_df: DataFrame,
    op: str,
    wkt_col: str = "wkt",
    method_wkt_col: str = "wkt",
    method_fid_col: str = "fid",
    promote_to_multi: bool = False,
    method_leftover_salt: int = 0,
    keep_lower_dimension: bool = False,
) -> DataFrame:
    """OGRLayer algebra over DataFrames. op: intersection | union |
    sym_difference | identity | update | clip | erase.

    Result columns: input attrs + method attrs (collisions prefixed
    input_/method_; clip/erase/update carry input attrs only, matching
    ogrlayer.cpp:7537/:7846/:7188) + 'wkt'. Geometry-less rows are
    dropped; zero-area pieces are dropped (KLDG=NO).
    """
    spark = input_df.sparkSession
    zidx = ZoneIndex.from_df(method_df, fid_col=method_fid_col, wkt_col=method_wkt_col)
    bc = spark.sparkContext.broadcast(zidx)
    in_renames, m_renames = _prefix_collisions(
        input_df, method_df, (wkt_col, method_wkt_col), method_fid_col
    )

    def finish_input_side(df: DataFrame, with_method_attrs: bool) -> DataFrame:
        for old, new in in_renames.items():
            if old != new:
                df = df.withColumnRenamed(old, new)
        if with_method_attrs:
            m = method_df
            for old, new in m_renames.items():
                if old != new:
                    m = m.withColumnRenamed(old, new)
            m = m.drop(method_wkt_col) if method_wkt_col != method_fid_col else m
            df = df.join(
                F.broadcast(m), df["method_fid"] == m[method_fid_col], "left"
            ).drop(method_fid_col)
        cols = [c for c in df.columns if c not in ("method_fid", "wkt")] + ["wkt"]
        if with_method_attrs:
            cols = [c for c in df.columns if c != "wkt"] + ["wkt"]
            return df.select(*cols)
        return df.select(*cols)

    if op == "intersection":
        pieces = _input_side(
            input_df, bc, wkt_col, _PAIRWISE, "and", promote_to_multi, False,
            keep_lower_dim=keep_lower_dimension,
        )
        return finish_input_side(pieces, True).drop("method_fid")

    if op in ("clip",):
        # attrs from input only, unprefixed (ogrlayer.cpp:7537)
        out = _input_side(input_df, bc, wkt_col, _COMBINED, "and", promote_to_multi, False)
        return out.drop("method_fid")

    if op in ("erase",):
        out = _input_side(input_df, bc, wkt_col, _COMBINED, "a_not_b", promote_to_multi, True)
        return out.drop("method_fid")

    if op == "identity":
        pieces = _input_side(input_df, bc, wkt_col, _PAIRWISE, "and", promote_to_multi, False)
        pieces = finish_input_side(pieces, True).drop("method_fid")
        left = _input_side(input_df, bc, wkt_col, _LEFTOVER, "a_not_b", promote_to_multi, True)
        left = finish_input_side(left.drop("method_fid"), False)
        for c in pieces.columns:
            if c not in left.columns:
                left = left.withColumn(c, F.lit(None))
        return pieces.unionByName(left.select(*pieces.columns))

    if op == "update":
        left = _input_side(input_df, bc, wkt_col, _LEFTOVER, "a_not_b", promote_to_multi, True)
        left = left.drop("method_fid")
        # method features verbatim, fields mapped by same name
        m = method_df.withColumnRenamed(method_wkt_col, "wkt") if method_wkt_col != "wkt" else method_df
        keep = [c for c in m.columns if c in left.columns]
        m = m.select(*keep)
        for c in left.columns:
            if c not in m.columns:
                m = m.withColumn(c, F.lit(None))
        # Update keeps the INPUT schema verbatim (ogrlayer.cpp:7188)
        return left.unionByName(m.select(*left.columns))

    if op in ("union", "sym_difference"):
        parts = []
        if op == "union":
            pieces = _input_side(input_df, bc, wkt_col, _PAIRWISE, "and", promote_to_multi, False)
            parts.append(finish_input_side(pieces, True).drop("method_fid"))
        left = _input_side(input_df, bc, wkt_col, _LEFTOVER, "a_not_b", promote_to_multi, True)
        parts.append(finish_input_side(left.drop("method_fid"), False))
        mleft = union_method_leftovers(
            input_df, method_df, bc, wkt_col, method_wkt_col, method_fid_col,
            promote_to_multi, salt=method_leftover_salt,
        )
        m = method_df
        for old, new in m_renames.items():
            if old != new:
                m = m.withColumnRenamed(old, new)
        m = m.drop(method_wkt_col) if method_wkt_col not in (method_fid_col,) else m
        mleft = mleft.join(F.broadcast(m), mleft["method_fid"] == m[method_fid_col], "left").drop(
            method_fid_col, "method_fid"
        )
        parts.append(mleft)
        base = parts[0]
        all_cols = []
        for p in parts:
            for c in p.columns:
                if c not in all_cols:
                    all_cols.append(c)
        all_cols = [c for c in all_cols if c != "wkt"] + ["wkt"]
        padded = []
        for p in parts:
            for c in all_cols:
                if c not in p.columns:
                    p = p.withColumn(c, F.lit(None))
            padded.append(p.select(*all_cols))
        out = padded[0]
        for p in padded[1:]:
            out = out.unionByName(p)
        return out

    raise ValueError(f"unknown layer algebra op: {op}")
