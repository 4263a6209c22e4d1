"""Spark spatial operator tests (minimum slice, SURVEY.md §7 phase 2)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from gdal_spark.datagen import ZONE_WKTS, docs_table, zones_table
from gdal_spark.geom.batch import GeomType
from gdal_spark.geom.predicates import geometry_intersects_rings
from gdal_spark.geom.wkt import parse_wkt
from gdal_spark.operators.cells import BYTE20_GRID
from gdal_spark.operators.spatial import (
    attach_zone_attrs,
    extract_geom,
    spatial_filter,
    spatial_join,
)

N = 500

RECT = "POLYGON ((440800 3750300,440800 3750800,441300 3750800,441300 3750300,440800 3750300))"


@pytest.fixture(scope="module")
def docs(spark):
    df = extract_geom(docs_table(spark, n=N)).cache()
    df.count()
    return df


class TestExtract:
    def test_error_routing(self, docs):
        # id 999 % 1000 pattern: with N=500 no invalid rows; force some
        errs = docs.filter(F.col("geom_error").isNotNull()).count()
        assert errs == 0
        bad = extract_geom(
            docs.sparkSession.createDataFrame(
                [("d", [{"kind": "geom", "text": "POINT (BROKEN", "media_ref": "", "offset": 0}])],
                "doc_id string, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>",
            )
        )
        row = bad.collect()[0]
        assert row.geom_error is not None
        assert row.wkt == "POINT (BROKEN"  # row preserved, not dropped

    def test_span_sequence_invariant_through_shuffle(self, docs):
        violations = (
            docs.repartition(8)
            .select(F.expr("exists(transform(spans,(s,i)-> s.offset = i), b -> NOT b)").alias("bad"))
            .filter("bad")
            .count()
        )
        assert violations == 0

    def test_envelope_matches_kernel(self, docs):
        pdf = docs.select("wkt", "env_minx", "env_maxy").limit(50).toPandas()
        batch = parse_wkt(pdf["wkt"])
        env = batch.envelopes()
        assert np.allclose(pdf["env_minx"], env[:, 0])
        assert np.allclose(pdf["env_maxy"], env[:, 3])


class TestSpatialFilter:
    def test_exact_vs_envelope_monotone(self, docs):
        nf = spatial_filter(docs, RECT, exact=True).count()
        ne = spatial_filter(docs, RECT, exact=False).count()
        assert 0 < nf <= ne

    def test_matches_kernel_oracle(self, docs):
        from gdal_spark.geom.predicates import filter_geometry_batch

        pdf = docs.select("doc_id", "wkt").toPandas()
        batch = parse_wkt(pdf["wkt"])
        rings = parse_wkt([RECT]).polygon_rings(0)
        expected = set(pdf["doc_id"][filter_geometry_batch(batch, rings, exact=True)])
        got = {r.doc_id for r in spatial_filter(docs, RECT, exact=True).select("doc_id").collect()}
        assert got == expected


class TestSpatialJoin:
    def _oracle(self, pdf):
        batch = parse_wkt(pdf["wkt"])
        zrings = [parse_wkt([w]).polygon_rings(0) for w in ZONE_WKTS]
        pairs = set()
        for i in range(len(batch)):
            gt, parts = batch.geometry(i)
            for z in range(10):
                if geometry_intersects_rings(GeomType(gt), parts, zrings[z]):
                    pairs.add((pdf["doc_id"].iloc[i], z))
        return pairs

    def test_join_matches_bruteforce(self, docs, spark):
        zones = zones_table(spark)
        got = {(r.doc_id, r.zone_fid) for r in spatial_join(docs, zones).collect()}
        assert got == self._oracle(docs.select("doc_id", "wkt").toPandas())

    def test_first_match_lowest_fid(self, docs, spark):
        zones = zones_table(spark)
        fm = {r.doc_id: r.zone_fid for r in spatial_join(docs, zones, first_match=True).collect()}
        oracle = {}
        for d, z in sorted(self._oracle(docs.select("doc_id", "wkt").toPandas())):
            oracle.setdefault(d, z)
        assert fm == oracle

    def test_left_join_preserves_all_docs(self, docs, spark):
        zones = zones_table(spark)
        j = spatial_join(docs, zones, first_match=True, how="left")
        assert j.count() == docs.count()
        assert j.filter(F.col("zone_fid").isNull()).count() > 0

    def test_lshape_and_hole_zones(self, spark):
        """Envelope-hits-but-exact-misses (L-shape zone 8) and
        point-inside-hole (zone 9) must NOT join."""
        rows = [
            ("in_L_void", "POINT (441300 3751250)"),  # inside L env, in the void
            ("in_L_arm", "POINT (441100 3751200)"),  # inside left arm
            ("in_hole", "POINT (440950 3750530)"),  # inside zone 9's hole
            ("in_ring", "POINT (440870 3750490)"),  # inside zone 9's solid ring
        ]
        docs = spark.createDataFrame(rows, "doc_id string, wkt string")
        got = {(r.doc_id, r.zone_fid) for r in spatial_join(docs, zones_table(spark)).collect()}
        assert got == {("in_L_arm", 8), ("in_ring", 9)}

    def test_attach_attrs(self, docs, spark):
        zones = zones_table(spark)
        j = attach_zone_attrs(spatial_join(docs, zones, first_match=True), zones)
        row = j.filter(F.col("zone_fid") == 0).select("zone_eas_id").first()
        assert row.zone_eas_id == 168


class TestCells:
    def test_sql_cell_matches_numpy(self, docs):
        pdf = (
            docs.filter("geom_error is null")
            .withColumn("cell", F.expr(BYTE20_GRID.cell_col_sql("env_minx", "env_miny")))
            .select("env_minx", "env_miny", "cell")
            .toPandas()
        )
        expected = BYTE20_GRID.cell_id(pdf["env_minx"].to_numpy(), pdf["env_miny"].to_numpy(), "row")
        assert (pdf["cell"].to_numpy() == expected).all()

    def test_hilbert_udf(self, docs):
        pdf = (
            docs.filter("geom_error is null")
            .withColumn("h", BYTE20_GRID.hilbert_cell_udf()(F.col("env_minx"), F.col("env_miny")))
            .select("env_minx", "env_miny", "h")
            .toPandas()
        )
        expected = BYTE20_GRID.cell_id(pdf["env_minx"].to_numpy(), pdf["env_miny"].to_numpy(), "hilbert")
        assert (pdf["h"].to_numpy() == expected).all()


class TestClipToRect:
    """ogr2ogr -clipsrc semantics (apps/ogr2ogr_lib.cpp:6969):
    geometric intersection with a rect window, empty results dropped."""

    def test_polygon_clipped_exact_wkt(self, spark):
        from gdal_spark.operators.spatial import clip_to_rect

        df = spark.createDataFrame(
            [(1, "POLYGON ((0 0,0 10,10 10,10 0,0 0))")], "fid bigint, wkt string"
        )
        out = clip_to_rect(df, (5, 5, 20, 20)).collect()
        assert len(out) == 1
        from gdal_spark.geom.wkt import parse_wkt

        env = parse_wkt([out[0].clip_wkt]).envelopes()[0]
        assert tuple(env) == (5.0, 5.0, 10.0, 10.0)

    def test_point_inside_kept_outside_dropped(self, spark):
        from gdal_spark.operators.spatial import clip_to_rect

        df = spark.createDataFrame(
            [(1, "POINT (3 3)"), (2, "POINT (30 3)")], "fid bigint, wkt string"
        )
        out = clip_to_rect(df, (0, 0, 10, 10)).collect()
        assert [r.fid for r in out] == [1]
        assert out[0].clip_wkt == "POINT (3 3)"

    def test_fully_inside_passthrough(self, spark):
        from gdal_spark.operators.spatial import clip_to_rect

        wkt = "POLYGON ((1 1,1 2,2 2,2 1,1 1))"
        df = spark.createDataFrame([(1, wkt)], "fid bigint, wkt string")
        out = clip_to_rect(df, (0, 0, 10, 10)).collect()
        assert out[0].clip_wkt == wkt

    def test_disjoint_all_dropped(self, spark):
        from gdal_spark.operators.spatial import clip_to_rect

        df = spark.createDataFrame(
            [(1, "POLYGON ((0 0,0 1,1 1,1 0,0 0))")], "fid bigint, wkt string"
        )
        assert clip_to_rect(df, (5, 5, 6, 6)).count() == 0

    def test_line_clipped(self, spark):
        """Line layers are clipped too (round-1 dropped them;
        ogr2ogr_lib.cpp:6969 clips every geometry type)."""
        from gdal_spark.geom.wkt import parse_wkt
        from gdal_spark.operators.spatial import clip_to_rect

        df = spark.createDataFrame(
            [
                (1, "LINESTRING (-5 5,15 5)"),  # crosses the window
                (2, "LINESTRING (2 2,8 8)"),  # fully inside
                (3, "LINESTRING (20 20,30 30)"),  # outside
                (4, "LINESTRING (-5 5,15 5,15 20,-5 20)"),  # in-out-in? out after
            ],
            "fid bigint, wkt string",
        )
        out = {r.fid: r.clip_wkt for r in clip_to_rect(df, (0, 0, 10, 10)).collect()}
        assert set(out) == {1, 2, 4}
        e1 = parse_wkt([out[1]]).envelopes()[0]
        assert tuple(e1) == (0.0, 5.0, 10.0, 5.0)
        assert out[2] == "LINESTRING (2 2,8 8)"
        assert out[4].startswith("LINESTRING")  # only the first crossing kept


class TestCellPartitionedJoin:
    """Big x big spatial join: cell equi-join + exact verify must
    equal the broadcast R-tree join exactly."""

    def test_matches_broadcast_join(self, spark):
        from gdal_spark.datagen import docs_table, zones_table
        from gdal_spark.operators.cells import BYTE20_GRID
        from gdal_spark.operators.spatial import extract_geom, spatial_join, spatial_join_cells

        g = extract_geom(docs_table(spark, n=800)).select(
            "_id", "wkt", "env_minx", "env_miny", "env_maxx", "env_maxy", "geom_error"
        )
        zones = zones_table(spark)
        want = {
            (r._id, r.zone_fid)
            for r in spatial_join(g, zones).select("_id", "zone_fid").collect()
        }
        got = {
            (r.doc_id, r.zone_fid)
            for r in spatial_join_cells(g, zones, BYTE20_GRID).collect()
        }
        assert got == want and len(got) > 0


    def test_cell_exchange_carries_ids_only(self, spark):
        """Shuffle-diet plan assertion (same property as the LSH band
        join, test_lsh_candidates_prune_shingles): the cell
        equi-join and the pair dedup Aggregate must carry ONLY
        ids (cell, _did, _zfid) — no WKT string may ride the
        heaviest exchange of the big x big path. Geometry re-joins by
        id after the dedup."""
        from gdal_spark.datagen import docs_table, zones_table
        from gdal_spark.operators.cells import BYTE20_GRID
        from gdal_spark.operators.spatial import extract_geom, spatial_join_cells

        g = extract_geom(docs_table(spark, n=50)).select(
            "_id", "wkt", "env_minx", "env_miny", "env_maxx", "env_maxy", "geom_error"
        )
        out = spatial_join_cells(g, zones_table(spark), BYTE20_GRID)
        plan = out._jdf.queryExecution().optimizedPlan().toString()
        lines = plan.splitlines()
        # the pair dedup is the only Aggregate in the plan — ids only
        agg = [ln for ln in lines if "Aggregate" in ln]
        assert agg and all("wkt" not in ln.lower() for ln in agg)
        # every Project computing the cell id (both explode branches
        # feeding the cell join) must have pruned the WKT payload
        cell_projects = [ln for ln in lines if "Project" in ln and "AS cell#" in ln]
        assert cell_projects and all("wkt" not in ln.lower() for ln in cell_projects)


    def test_verify_point_coords_ride_candidates(self, spark):
        """POINT pairs verify without ANY doc-side geometry re-join:
        their coordinates (_px/_py) ride the candidate aggregation and
        only the non-point minority's WKT joins back (a Filter with
        NOT StartsWith(POINT) gates that source). A regression to an
        unconditional full-doc-table join re-adds a shuffle of every
        doc to the verify stage."""
        from gdal_spark.datagen import docs_table, zones_table
        from gdal_spark.operators.cells import BYTE20_GRID
        from gdal_spark.operators.spatial import extract_geom, spatial_join_cells

        g = extract_geom(docs_table(spark, n=50)).select(
            "_id", "wkt", "env_minx", "env_miny", "env_maxx", "env_maxy", "geom_error"
        )
        out = spatial_join_cells(g, zones_table(spark), BYTE20_GRID)
        plan = out._jdf.queryExecution().optimizedPlan().toString()
        lines = plan.splitlines()
        # the pair aggregate carries the point coords (and never wkt)
        aggs = [ln for ln in lines if "Aggregate [_did#" in ln]
        assert aggs and any("first(_px#" in ln and "first(_py#" in ln for ln in aggs)
        assert all("wkt" not in ln.lower() for ln in aggs)
        # the doc-WKT source for the verify join is non-points only
        assert any("NOT StartsWith(" in ln for ln in lines if "Filter" in ln)
        # the verify stage consumes the carried coords plus the
        # null-extended minority WKT
        verify = [ln for ln in lines if "MapInPandas _verify" in ln]
        assert verify and "_px#" in verify[0] and "_dwkt#" in verify[0]


class TestSpanIntegrity:
    """North-rule invariant: span sequence (kind, text, media_ref,
    order) survives every shuffle."""

    def test_survives_repartition_and_join(self, spark):
        from gdal_spark.datagen import docs_table, zones_table
        from gdal_spark.integrity import audit_span_integrity, offsets_are_sequential
        from gdal_spark.operators.spatial import extract_geom, spatial_join

        docs = docs_table(spark, n=400)
        # a shuffle-heavy pipeline that carries spans all the way through
        g = extract_geom(docs).repartition(16, "doc_id")
        joined = spatial_join(g, zones_table(spark), first_match=True, how="left")
        assert audit_span_integrity(docs, joined) == 0
        assert joined.filter(~offsets_are_sequential()).count() == 0

    def test_fingerprint_detects_reorder(self, spark):
        from pyspark.sql import functions as F

        from gdal_spark.datagen import docs_table
        from gdal_spark.integrity import audit_span_integrity

        docs = docs_table(spark, n=50)
        tampered = docs.withColumn("spans", F.reverse("spans"))
        assert audit_span_integrity(docs, tampered) == 50


class TestCellJoinPlans:
    def test_same_pairs_broadcast_and_sort_merge(self, spark):
        """spatial_join_cells has one logical plan; AQE picks broadcast
        or sort-merge joins at runtime. Both physical plans must return
        spatial_join's pair set."""
        import numpy as np
        from pyspark.sql import functions as F2

        from gdal_spark.operators.cells import Grid
        from gdal_spark.operators.spatial import extract_geom, spatial_join, spatial_join_cells

        rng = np.random.default_rng(8)
        rows = [(int(i), f"POINT ({rng.uniform(0,100):.3f} {rng.uniform(0,100):.3f})")
                for i in range(200)]
        # one row of every parsed class, so both joins verify each
        # through verify_pairs; zone 1 lies inside 1004's hole
        rows += [(1000, "POLYGON ((55 55,58 55,58 58,55 58,55 55))"),
                 (1001, "LINESTRING (5 5,95 95)"),
                 (1002, "MULTIPOINT ((3 3),(30 30))"),
                 (1003, "GEOMETRYCOLLECTION (POINT (97 97),LINESTRING (70 40,70 60))"),
                 (1004, "POLYGON ((45 45,99 45,99 99,45 99,45 45),(48 48,97 48,97 97,48 97,48 48))")]
        docs = spark.createDataFrame(rows, "_id bigint, wkt string")
        docs = extract_geom(
            docs.withColumn("spans", F2.array(F2.struct(
                F2.lit("geom").alias("kind"), F2.col("wkt").alias("text"),
                F2.lit("").alias("media_ref"), F2.lit(0).alias("offset"))))
        ).select("_id", "wkt", "env_minx", "env_miny", "env_maxx", "env_maxy")
        zones = spark.createDataFrame(
            [(0, "POLYGON ((10 10,60 10,60 60,10 60,10 10))"),
             (1, "POLYGON ((50 50,95 50,95 95,50 95,50 50))")],
            "fid bigint, wkt string",
        )
        grid = Grid(0, 0, 100, 100, nx=5, ny=5)
        want = {(r._id, r.zone_fid) for r in spatial_join(docs, zones).select("_id", "zone_fid").collect()}
        assert len(want) > 0 and {(1000, 1), (1001, 0), (1001, 1), (1002, 0), (1003, 1), (1004, 0)} <= want
        assert not {(1002, 1), (1003, 0), (1004, 1)} & want

        def run():
            out = spatial_join_cells(docs, zones, grid)
            got = {(r.doc_id, r.zone_fid) for r in out.collect()}
            plan = out._jdf.queryExecution().executedPlan().toString()
            return got, plan.split("== Initial Plan ==")[0]

        got, final = run()
        assert got == want
        assert "isFinalPlan=true" in final
        assert "BroadcastHashJoin [cell#" in final and "BroadcastHashJoin [_zfid#" in final

        keys = ("spark.sql.autoBroadcastJoinThreshold", "spark.sql.adaptive.autoBroadcastJoinThreshold")
        saved = {k: spark.conf.get(k, None) for k in keys}
        try:
            for k in keys:
                spark.conf.set(k, "-1")
            got, final = run()
        finally:
            for k, v in saved.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)
        assert got == want
        assert "SortMergeJoin [cell#" in final and "SortMergeJoin [_zfid#" in final
        assert "BroadcastHashJoin" not in final


class TestSpatialJoinProject:
    """spatial_join(project=...) — manual pruning through the opaque
    mapInPandas probe, with JVM-side WKT stripping for point rows."""

    def _inputs(self, spark):
        from pyspark.sql import Row

        from gdal_spark.operators.spatial import extract_geom

        span_schema = (
            "doc_id bigint, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>"
        )
        docs = spark.createDataFrame(
            [
                (1, [("geom", "POINT (2 2)", None, 0)]),
                (2, [("geom", "POINT (50 50)", None, 0)]),
                (3, [("geom", "POLYGON ((1 1,1 3,3 3,3 1,1 1))", None, 0)]),
                (4, [("text", "no geometry", None, 0)]),
            ],
            span_schema,
        )
        zones = spark.createDataFrame(
            [Row(fid=10, wkt="POLYGON ((0 0,0 4,4 4,4 0,0 0))")]
        )
        return extract_geom(docs), zones

    def test_project_matches_full(self, spark):
        from gdal_spark.operators.spatial import spatial_join

        geom, zones = self._inputs(spark)
        full = {(r.doc_id, r.zone_fid) for r in spatial_join(geom, zones).select("doc_id", "zone_fid").collect()}
        proj = spatial_join(geom, zones, project=["doc_id"])
        assert proj.columns == ["doc_id", "zone_fid"]
        got = {(r.doc_id, r.zone_fid) for r in proj.collect()}
        assert got == full == {(1, 10), (3, 10)}

    def test_project_left_and_first_match(self, spark):
        from gdal_spark.operators.spatial import spatial_join

        geom, zones = self._inputs(spark)
        left = spatial_join(geom, zones, how="left", project=["doc_id"], first_match=True)
        got = {(r.doc_id, r.zone_fid) for r in left.collect()}
        assert got == {(1, 10), (3, 10), (2, None), (4, None)}

    def test_point_envelope_semantics(self, spark):
        """Envelope extraction semantics across WKT forms (pins the
        behavior any future fast path must reproduce bit-identically)."""
        from pyspark.sql import Row

        from gdal_spark.operators.spatial import extract_geom

        wkts = [
            "POINT (440771 3750171)",
            "POINT (-1.5 2.25)",
            "POINT (1e3 2)",        # scientific -> UDF path
            "POINT(3 4)",           # no space -> UDF path
            "POINT EMPTY",          # -> UDF path
            "POLYGON ((0 0,0 1,1 1,1 0,0 0))",
            "POINT (BROKEN",        # parse error path
            None,
        ]
        rows = [
            (i, ([("geom", w, None, 0)] if w else []))
            for i, w in enumerate(wkts)
        ]
        out = extract_geom(
            spark.createDataFrame(
                rows,
                "doc_id bigint, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>",
            )
        ).select(
            "doc_id", "env_minx", "env_miny", "env_maxx", "env_maxy", "geom_error"
        ).collect()
        by_id = {r.doc_id: r for r in out}
        assert (by_id[0].env_minx, by_id[0].env_miny) == (440771.0, 3750171.0)
        assert (by_id[1].env_minx, by_id[1].env_maxy) == (-1.5, 2.25)
        assert (by_id[2].env_minx, by_id[2].env_miny) == (1000.0, 2.0)
        assert (by_id[3].env_minx, by_id[3].env_miny) == (3.0, 4.0)
        assert by_id[5].env_maxx == 1.0 and by_id[5].geom_error is None
        assert by_id[6].geom_error is not None
        # no-geom row: env null (pyarrow maps the parser's NaN to null),
        # not an error — same as before the fast path
        assert by_id[7].env_minx is None and by_id[7].geom_error is None


class TestFragilePoints:
    """spatial_join(project=...) end to end, where point rows cross into
    the probe with their WKT stripped, against the per-row predicate
    (geometry_intersects_rings, as TestSpatialJoin._oracle) on the
    points where the ray cast is most fragile: on edges, on vertices,
    inside holes, at non-integer coordinates (0.1 steps and
    17-significant-digit values)."""

    ZONES = [
        "POLYGON ((0.1 0.1,0.1 2.3,2.3 2.3,2.3 0.1,0.1 0.1),(0.7 0.7,0.7 1.3,1.3 1.3,1.3 0.7,0.7 0.7))",
        "POLYGON ((0.30000000000000004 0.2,2.9000000000000004 0.2,1.6 2.7000000000000002,"
        "0.30000000000000004 0.2))",
        "POLYGON ((1.1 -0.5,3.3 0.6,1.1 1.7,1.1 -0.5))",
        "POLYGON EMPTY",
    ]

    def test_project_join_matches_per_row_oracle(self, spark):
        from gdal_spark.operators.spatial import ZoneIndex, extract_geom, spatial_join

        fids = np.arange(len(self.ZONES)) + 100
        zidx = ZoneIndex(fids, self.ZONES)
        grid = np.round(np.arange(-0.2, 3.5, 0.1), 1)
        gx, gy = np.meshgrid(grid, grid)
        pts = [np.column_stack([gx.ravel(), gy.ravel()])]
        for x1, y1, x2, y2 in (e for e in zidx.edges if len(e[0])):
            pts.append(np.column_stack([x1, y1]))  # vertices
            for t in (0.5, 1 / 3, 0.1):  # on (or within an ulp of) the edge
                pts.append(np.column_stack([x1 + t * (x2 - x1), y1 + t * (y2 - y1)]))
        pts.append(np.array([[1.0, 1.0], [0.1 + 0.2, 0.1 + 0.2], [1 / 3, 2 / 3]]))
        xy = np.concatenate(pts)
        want = {
            (p, int(fid))
            for p in range(len(xy))
            for fid, rings in zip(fids, zidx.rings)
            if geometry_intersects_rings(GeomType.POINT, [[xy[p : p + 1]]], rings)
        }

        # repr round-trips every double, so the parsed envelope is xy
        docs = spark.createDataFrame(
            [(i, [("geom", f"POINT ({float(x)!r} {float(y)!r})", None, 0)])
             for i, (x, y) in enumerate(xy)],
            "i long, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>",
        )
        zones = spark.createDataFrame(
            [(int(f), w) for f, w in zip(fids, self.ZONES)], "fid long, wkt string"
        )
        geom = extract_geom(docs)
        got = {(r.i, r.zone_fid) for r in spatial_join(geom, zones, project=["i"]).collect()}
        assert got == want
        full = spatial_join(geom, zones).select("i", "zone_fid").collect()
        assert {(r.i, r.zone_fid) for r in full} == want
        # the probe must see every kind of contact
        hit = {f for _, f in want}
        assert {100, 101, 102} <= hit
        hole_center = int(np.flatnonzero((xy[:, 0] == 1.0) & (xy[:, 1] == 1.0))[0])
        assert (hole_center, 100) not in want
