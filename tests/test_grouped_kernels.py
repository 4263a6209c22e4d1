"""Differential tests of the batch geometry kernels against their
per-row oracles (pure numpy, fixed seeds):

  - intersects_rings_grouped vs per-pair batch_intersects_rings;
  - PackedRTree.query_rects vs per-row query_rect;
  - parse_wkt's class-at-a-time fast paths vs the per-string reader.
"""

from __future__ import annotations

import numpy as np
import pytest

from gdal_spark.geom import predicates
from gdal_spark.geom.batch import GeomBatchBuilder
from gdal_spark.geom.predicates import (
    batch_intersects_rings,
    filter_geometry_batch,
    intersects_rings_grouped,
    rings_to_edges,
)
from gdal_spark.geom.rtree import PackedRTree
from gdal_spark.geom.wkt import WktError, _parse_one, parse_wkt

ZONES = [
    "POLYGON ((0 0,0 4,4 4,4 0,0 0))",
    "POLYGON ((0 0,0 8,8 8,8 0,0 0),(2 2,2 6,6 6,6 2,2 2))",
    "POLYGON ((1 1,5 1,3 4,1 1))",
    "MULTIPOLYGON (((0 0,0 2,2 2,2 0,0 0)),((3 3,3 5,5 5,5 3,3 3)))",
    "POLYGON ((0 0,0 6,2 6,2 2,6 2,6 0,0 0))",
    "POLYGON ((0.5 0.5,0.5 1.5,1.5 1.5,1.5 0.5,0.5 0.5))",
    # an L-shaped hole: a doc can lie in it with one edge through the zone
    "POLYGON ((-10 -10,-10 20,20 20,20 -10,-10 -10),(0 0,0 6,2 6,2 2,6 2,6 0,0 0))",
]

# hand-picked degenerate contacts against the zones above
DOCS = [
    "POLYGON ((4 0,4 4,8 4,8 0,4 0))",  # shares an edge with zone 0
    "POLYGON ((4 4,4 6,6 6,6 4,4 4))",  # touches zone 0 at one vertex
    "LINESTRING (4 1,4 3)",  # collinear overlap with a zone-0 edge
    "LINESTRING (5 1,5 3)",
    "LINESTRING (-1 2,9 2)",  # crosses, no vertex inside
    "POLYGON ((-1 -1,-1 9,9 9,9 -1,-1 -1))",  # every zone inside the doc
    "POLYGON ((3 3,3 5,5 5,5 3,3 3))",  # inside zone 1's hole
    "POLYGON ((2.5 2.5,2.5 3,3 3,2.5 2.5))",  # triangle in zone 1's hole
    # doc with a hole that holds every zone: disjoint from all of them
    "POLYGON ((-5 -5,-5 10,10 10,10 -5,-5 -5),(-1 -1,-1 9,9 9,9 -1,-1 -1))",
    "MULTIPOLYGON (((10 10,10 11,11 11,10 10)),((-2 -2,-2 10,10 10,10 -2,-2 -2)))",
    "MULTILINESTRING ((10 10,11 11),(-1 3,9 3))",
    "MULTIPOINT ((10 10),(1 1))",
    "MULTIPOINT ((10 10),(11 11))",
    "POINT (4 4)",
    "POINT (3 3)",
    "GEOMETRYCOLLECTION (POINT (20 20),LINESTRING (4 1,4 3))",
    "GEOMETRYCOLLECTION (POINT (20 20),POLYGON ((-1 -1,-1 9,9 9,-1 -1)))",
    "POLYGON ((0.5 0.5,0.5 1,1 1))",  # unclosed rings: the implicit
    "POLYGON ((9 9,-1 9,-1 -1,9 -1))",  # closing edge is the only one
    "POLYGON ((5 -1,5 -2,-1 -2,-1 5))",  # the rays or zone edges cross
    "POLYGON ((1 5,1 1,5 1))",
    "LINESTRING (7 7)",  # single-vertex line
    "POLYGON EMPTY",
    "LINESTRING EMPTY",
    "POINT EMPTY",
    None,
]


def _random_docs(rng, n):
    out = []
    for _ in range(n):
        k = rng.integers(0, 5)
        x, y = rng.integers(-4, 20, 2) / 2.0
        w, h = rng.integers(1, 8, 2) / 2.0
        if k == 0:
            out.append(f"POLYGON (({x} {y},{x} {y + h},{x + w} {y + h},{x + w} {y},{x} {y}))")
        elif k == 1:
            out.append(f"POLYGON (({x} {y},{x + w} {y},{x} {y + h},{x} {y}))")
        elif k == 2:
            out.append(f"LINESTRING ({x} {y},{x + w} {y + h},{x + w} {y})")
        elif k == 3:
            out.append(
                f"MULTIPOLYGON ((({x} {y},{x} {y + h},{x + w} {y},{x} {y})),"
                f"(({y} {x},{y} {x + w},{y + h} {x},{y} {x})))"
            )
        else:
            out.append(f"MULTIPOINT (({x} {y}),({x + w} {y + h}))")
    return out


def _oracle(batch, rows, rings, edges):
    return np.array(
        [
            False if batch.is_empty[i] else batch_intersects_rings(batch, int(i), rings, edges)
            for i in rows
        ],
        dtype=bool,
    )


@pytest.mark.parametrize("chunk_cells", [None, 7])
def test_grouped_matches_per_pair(monkeypatch, chunk_cells):
    if chunk_cells is not None:
        monkeypatch.setattr(predicates, "_CHUNK_CELLS", chunk_cells)
    docs = DOCS + _random_docs(np.random.default_rng(7), 300)
    batch = parse_wkt(docs)
    rows = np.arange(len(batch))
    for z in ZONES:
        rings = parse_wkt([z]).polygon_rings(0)
        edges = rings_to_edges(rings)
        want = _oracle(batch, rows, rings, edges)
        got = intersects_rings_grouped(batch, rows, rings, edges)
        assert np.array_equal(got, want), (z, [docs[i] for i in np.flatnonzero(got != want)])
        # any subset, order or repetition of rows answers row by row
        sub = np.random.default_rng(1).choice(rows, 120)
        assert np.array_equal(intersects_rings_grouped(batch, sub, rings, edges), want[sub])


def test_grouped_degenerate_contacts():
    batch = parse_wkt(DOCS[:9])
    rows = np.arange(len(batch))
    square = parse_wkt([ZONES[0]]).polygon_rings(0)
    holed = parse_wkt([ZONES[1]]).polygon_rings(0)
    assert intersects_rings_grouped(batch, rows, square).tolist() == [
        True, True, True, False, True, True, True, True, False,
    ]
    # docs inside the hole are disjoint; the big docs contain the zone
    assert intersects_rings_grouped(batch, rows, holed)[[5, 6, 7, 8]].tolist() == [
        True, False, False, False,
    ]


def test_grouped_empty_inputs():
    batch = parse_wkt(["POLYGON ((0 0,0 1,1 1,0 0))", None])
    rings = parse_wkt([ZONES[0]]).polygon_rings(0)
    assert intersects_rings_grouped(batch, np.empty(0, np.int64), rings).size == 0
    assert intersects_rings_grouped(batch, [0, 1], rings).tolist() == [True, False]
    assert intersects_rings_grouped(batch, [0, 1], []).tolist() == [False, False]


def test_filter_cascade_matches_per_row_oracle():
    docs = DOCS + _random_docs(np.random.default_rng(11), 200)
    batch = parse_wkt(docs)
    for z in ("POLYGON ((1 1,1 5,5 5,5 1,1 1))", ZONES[4]):
        rings = parse_wkt([z]).polygon_rings(0)
        edges = rings_to_edges(rings)
        got = filter_geometry_batch(batch, rings)
        want = _oracle(batch, np.arange(len(batch)), rings, edges)
        assert np.array_equal(got, want)


def test_query_rects_matches_query_rect():
    rng = np.random.default_rng(3)
    lo = rng.integers(0, 40, (150, 2)).astype(float)
    items = np.column_stack([lo, lo + rng.integers(0, 6, (150, 2))])
    tree = PackedRTree(items, node_size=4)
    q_lo = rng.integers(-2, 44, (400, 2)).astype(float)
    qs = np.column_stack([q_lo, q_lo + rng.integers(0, 5, (400, 2))])
    qs[::37] = np.nan
    qs[5::41, 2] = np.nan  # one NaN bound is enough to match nothing
    # envelopes that only touch an item on an edge or a corner
    qs[1] = [items[0, 2], items[0, 3], items[0, 2] + 1, items[0, 3] + 1]
    qs[2] = [items[1, 0] - 1, items[1, 1], items[1, 0], items[1, 3]]
    ri, ii = tree.query_rects(qs)
    assert np.all(np.diff(ri) >= 0)
    for r in range(len(qs)):
        assert ii[ri == r].tolist() == tree.query_rect(*qs[r]).tolist()
    assert 0 in ii[ri == 1] and 1 in ii[ri == 2]
    assert not np.isin(ri, np.flatnonzero(np.isnan(qs).any(axis=1))).any()
    e = PackedRTree(np.empty((0, 4))).query_rects(qs)
    assert e[0].size == 0 and e[1].size == 0


def _reader_batch(rows):
    b = GeomBatchBuilder()
    errors = []
    for r in rows:
        if r is None:
            b.add_null()
            errors.append(None)
            continue
        try:
            _parse_one(r, b)
            errors.append(None)
        except WktError as exc:
            b.add_null()
            errors.append(str(exc))
    return b.finish(), errors


FIELDS = ("types", "geom_part_off", "part_ring_off", "ring_coord_off", "coords", "is_null", "part_types")


def _assert_same_parse(rows):
    got, got_err = parse_wkt(rows, return_errors=True)
    want, want_err = _reader_batch(rows)
    for f in FIELDS:
        a, b = getattr(got, f), getattr(want, f)
        assert a.dtype == b.dtype and a.shape == b.shape, f
        assert np.array_equal(a, b), f
    assert got_err == want_err


NEAR_CANONICAL = [
    "POLYGON ((0 0, 0 1,1 1,1 0,0 0))",  # ", " spacing
    "POLYGON((0 0,0 1,1 1,0 0))",
    "POLYGON Z ((0 0 1,0 1 1,1 1 1,0 0 1))",
    "POLYGON ((0 0 1,0 1 1,1 1 1,0 0 1))",
    "POLYGON ((0 0,0 9,9 9,0 0),(1 1,1 2,2 2,1 1))",  # hole
    "POLYGON EMPTY",
    "POLYGON ((1e3 0,0 1,1 1,1e3 0))",  # exponent
    "POLYGON ((0 0,0 1,1 1,1 0))",  # unclosed: kept as written either way
    "POLYGON ((1 2))",
    "polygon ((0 0,0 1,1 1,0 0))",
    "POLYGON ((0 0,0 1,1 1,0 0)",  # invalid
    "POINT (1 2 3)",
    "POINT (BROKEN",
    "MULTIPOLYGON (((0 0,0 1,1 1,0 0)))",
    "LINESTRING (0 0,1 1)",
]


def test_parse_fast_paths_match_reader():
    rng = np.random.default_rng(5)
    canonical = []
    for _ in range(200):
        k = int(rng.integers(3, 9))
        xy = np.round(rng.uniform(-1e6, 1e6, (k, 2)), int(rng.integers(0, 4)))
        xy = np.vstack([xy, xy[:1]])
        canonical.append("POLYGON ((" + ",".join(f"{x!r} {y!r}" for x, y in xy) + "))")
    canonical += ["POLYGON ((-0.5 -0.25,3 4,-0.5 -0.25))", "POLYGON ((440850.0 3750480.0,440850.0 3750580.0,440850.0 3750480.0))"]
    points = [f"POINT ({x!r} {y!r})" for x, y in rng.uniform(-10, 10, (50, 2))]
    pool = canonical + NEAR_CANONICAL + points + [None] * 20
    mixed = [pool[i] for i in rng.integers(0, len(pool), 600)]
    for rows in (canonical, NEAR_CANONICAL, mixed, mixed[::-1], [None, None], []):
        _assert_same_parse(rows)
    # every tenth row a point, the rest canonical polygons
    _assert_same_parse([points[i % 50] if i % 10 == 0 else canonical[i % 200] for i in range(1000)])
