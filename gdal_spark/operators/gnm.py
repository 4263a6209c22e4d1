"""GNM network construction (the reference's Geographic Network Model,
/root/reference/gnm/gnmgenericnetwork.cpp): ConnectPointsByLines
(:536) walks every line feature, takes its start and end vertex, and
snaps each to a point feature via a +-tolerance/2 rectangle filter
(FindNearestPoint :904 — which returns the FIRST feature the filtered
scan yields, i.e. the lowest FID in the rect, not the metrically
nearest); a line whose both endpoints snap becomes a graph connection
(src, tgt, connector-line, cost, inv_cost, direction)
(ConnectFeatures). MultiLineStrings connect per member line under the
same connector FID (ConnectPointsByMultiline :862).

Scale design: the reference's per-endpoint SetSpatialFilterRect scan
is O(lines x points) without an index. Here the snap is a banded
equi-join: points hash to one tolerance-sized grid cell, every
endpoint explodes to the <=4 cells its rect can touch (pure
Catalyst), the join key is the cell id, and the exact rect test +
min-FID pick run as a groupBy — no broadcast needed on either side,
both sides shuffle once on the cell key. Endpoint extraction is one
Arrow-batched WKT parse over the line layer.

The resulting connection rows feed the existing graph operators
(operators/graph.py: connected_components / shortest_paths /
k_shortest_paths == GNMGraph's Dijkstra/Yen/components) through
`network_edges`, which expands direction + inv_cost into the
(src, dst, weight) directed-edge contract — GNM_EDGE_DIR_BOTH becomes
a cost-weighted forward edge and an inv_cost-weighted reverse edge
(gnm/gnmgraph.cpp edge direction handling).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from gdal_spark.geom.batch import GeomType
from gdal_spark.geom.wkt import parse_wkt

DIR_BOTH = "both"  # GNM_EDGE_DIR_BOTH
DIR_SRC_TO_TGT = "srctotgt"  # GNM_EDGE_DIR_SRCTOTGT
DIR_TGT_TO_SRC = "tgttosrc"  # GNM_EDGE_DIR_TGTTOSRC


def line_endpoints(lines: DataFrame, fid_col: str = "fid", wkt_col: str = "wkt") -> DataFrame:
    """(connector, member, sx, sy, ex, ey): one row per LineString
    member (MultiLineString members share the connector fid, matching
    ConnectPointsByMultiline). Non-line geometries are skipped, as the
    reference skips them in the layer-walk type dispatch (:590-604)."""
    fid_b, wkt_b = fid_col, wkt_col

    def _ends(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            batch = parse_wkt(pdf[wkt_b])
            rows = []
            for i in range(len(pdf)):
                if batch.is_null[i] or batch.is_empty[i]:
                    continue
                gt, parts = batch.geometry(i)
                if gt not in (GeomType.LINESTRING, GeomType.MULTILINESTRING):
                    continue
                fid = int(pdf[fid_b].iloc[i])
                for m, rings in enumerate(parts):
                    ln = rings[0]
                    if len(ln) < 2:
                        continue
                    rows.append((fid, m, float(ln[0, 0]), float(ln[0, 1]),
                                 float(ln[-1, 0]), float(ln[-1, 1])))
            yield pd.DataFrame(
                rows, columns=["connector", "member", "sx", "sy", "ex", "ey"]
            ) if rows else pd.DataFrame(
                {"connector": pd.Series([], dtype="int64"),
                 "member": pd.Series([], dtype="int64"),
                 "sx": pd.Series([], dtype="float64"),
                 "sy": pd.Series([], dtype="float64"),
                 "ex": pd.Series([], dtype="float64"),
                 "ey": pd.Series([], dtype="float64")}
            )

    return lines.select(fid_col, wkt_col).mapInPandas(
        _ends, "connector long, member long, sx double, sy double, ex double, ey double"
    )


def point_coords(points: DataFrame, fid_col: str = "fid", wkt_col: str = "wkt") -> DataFrame:
    """(pfid, px, py) from a point layer (one Arrow-batched parse)."""
    fid_b, wkt_b = fid_col, wkt_col

    def _xy(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            batch = parse_wkt(pdf[wkt_b])
            env = batch.envelopes()
            is_pt = (batch.types == GeomType.POINT) & ~batch.is_empty & ~batch.is_null
            yield pd.DataFrame({
                "pfid": pdf[fid_b].to_numpy(np.int64)[is_pt],
                "px": env[is_pt, 0],
                "py": env[is_pt, 1],
            })

    return points.select(fid_col, wkt_col).mapInPandas(
        _xy, "pfid long, px double, py double"
    )


def _snap(endpoints: DataFrame, pts: DataFrame, x: str, y: str, half: float, out: str) -> DataFrame:
    """Snap (x, y) columns of `endpoints` to the lowest point fid
    within the +-half rectangle: cell equi-join at cell size 2*half
    (an endpoint's rect touches at most 4 cells), exact rect filter,
    min-fid pick (FindNearestPoint returns the first feature of the
    filtered FID-ordered scan)."""
    cw = 2.0 * half
    p = pts.withColumn(
        "_cx", F.floor(F.col("px") / cw).cast("long")
    ).withColumn("_cy", F.floor(F.col("py") / cw).cast("long"))
    e = (
        endpoints.withColumn(
            "_cx",
            F.explode(F.sequence(
                F.floor((F.col(x) - half) / cw).cast("long"),
                F.floor((F.col(x) + half) / cw).cast("long"),
            )),
        )
        .withColumn(
            "_cy",
            F.explode(F.sequence(
                F.floor((F.col(y) - half) / cw).cast("long"),
                F.floor((F.col(y) + half) / cw).cast("long"),
            )),
        )
    )
    hit = (
        e.join(p, ["_cx", "_cy"])
        .filter(
            (F.abs(F.col("px") - F.col(x)) <= half)
            & (F.abs(F.col("py") - F.col(y)) <= half)
        )
        .groupBy("connector", "member")
        .agg(F.min("pfid").alias(out))
    )
    return hit


def connect_points_by_lines(
    points: DataFrame,
    lines: DataFrame,
    tolerance: float,
    cost: float = 1.0,
    inv_cost: float = 1.0,
    direction: str = DIR_BOTH,
    point_fid_col: str = "fid",
    point_wkt_col: str = "wkt",
    line_fid_col: str = "fid",
    line_wkt_col: str = "wkt",
) -> DataFrame:
    """GNMGenericNetwork::ConnectPointsByLines as a distributed
    pipeline. Returns the network's connection rows
    (src, tgt, connector, cost, inv_cost, direction) — the graph
    layer's schema (GNM_SYSFIELD_SOURCE/TARGET/CONNECTOR). Lines with
    an unsnapped endpoint are dropped (:896)."""
    half = tolerance / 2.0
    ends = line_endpoints(lines, line_fid_col, line_wkt_col)
    pts = point_coords(points, point_fid_col, point_wkt_col)
    s = _snap(ends, pts, "sx", "sy", half, "src")
    t = _snap(ends, pts, "ex", "ey", half, "tgt")
    return (
        s.join(t, ["connector", "member"])
        .select(
            "src", "tgt", "connector",
            F.lit(float(cost)).alias("cost"),
            F.lit(float(inv_cost)).alias("inv_cost"),
            F.lit(direction).alias("direction"),
        )
    )


def network_edges(connections: DataFrame) -> DataFrame:
    """Connection rows -> the (src, dst, weight) directed-edge
    contract of operators/graph.py: GNM_EDGE_DIR_BOTH contributes a
    forward edge at `cost` and a reverse edge at `inv_cost`; the
    one-way directions contribute their single edge."""
    fwd = connections.filter(
        F.col("direction").isin(DIR_BOTH, DIR_SRC_TO_TGT)
    ).select(
        F.col("src"), F.col("tgt").alias("dst"), F.col("cost").alias("weight")
    )
    rev = connections.filter(
        F.col("direction").isin(DIR_BOTH, DIR_TGT_TO_SRC)
    ).select(
        F.col("tgt").alias("src"), F.col("src").alias("dst"),
        F.col("inv_cost").alias("weight"),
    )
    return fwd.unionByName(rev)
