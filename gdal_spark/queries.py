"""Driver-facing query battery: every entry pairs a Spark-side
operator pipeline with a DuckDB-runnable ANSI-SQL oracle over the
same /root/testdata parquet tables.

Design contract (see __spark_entry__.py):
  * QUERIES[name](spark, sf_dir) -> DataFrame, built from the ENGINE's
    operators (extract_geom / spatial_join / rasterize / knn / ...),
    never from the oracle arithmetic.
  * ORACLES[name] = SQL string that DuckDB evaluates on views named
    region nation customer supplier part orders lineitem events
    documents embeddings.
  * Column names and types must match pairwise; every aggregate or
    computed column is aliased identically on both sides. Doubles
    that are COMPUTED (sums/avgs) are converted to exact integer
    cents before aggregation so cross-engine fp summation order
    cannot flip the value hash; doubles that are PICKED (min/max of
    stored values) pass through unchanged.

The geospatial queries run over the interleaved-span docs table
(BASELINE.json input_hint) derived deterministically from
documents.doc_id via datagen.docs_table; the oracle re-derives the
geometry with the same integer arithmetic (datagen.geom_cols_sql) —
both sides compute on bit-identical integers, so the compare is
exact. Geometry semantics on the engine side go through the real WKT
parse -> envelope -> cascade/R-tree pipeline (SURVEY.md §2.2-2.3),
matching GEOS closed-set Intersects (ogrgeometry.cpp:575).
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from gdal_spark.datagen import ZONE_EAS, ZONE_WKTS, docs_table, geom_cols_sql, zones_table
from gdal_spark.fixtures import BYTE20_SPEC
from gdal_spark.operators import tilecodec
from gdal_spark.operators.knn import knn_broadcast
from gdal_spark.operators.raster import TILE_SCHEMA, as_features, checksum_col, rasterize
from gdal_spark.operators.spatial import extract_geom, spatial_filter, spatial_join
from gdal_spark.operators.tiles import tile_keys_for_envelopes

# ---------------------------------------------------------------------------
# shared fixtures

SPAT_RECT = (440800, 3750300, 441300, 3750800)  # FIXTURES.md F2 query rect
SPAT_RECT_WKT = (
    "POLYGON ((440800 3750300,440800 3750800,441300 3750800,441300 3750300,440800 3750300))"
)

# local tile matrix over the byte20 world: 8x8 tiles of 150 world units
TILE_TLX, TILE_TLY, TILE_W, TILE_N = 440720.0, 3751320.0, 150.0, 8


def _zone_env(fid: int) -> tuple[int, int, int, int]:
    body = ZONE_WKTS[fid].replace("POLYGON ((", "").replace("))", "").replace("),(", ",")
    nums = [int(float(t)) for t in body.replace(",", " ").split()]
    xs, ys = nums[0::2], nums[1::2]
    return min(xs), min(ys), max(xs), max(ys)


def _overlap(minx, miny, maxx, maxy) -> str:
    """Closed-set intersects of the doc square [gx±half]x[gy±half]
    (points: half=0) with an axis-parallel rectangle — exact for
    these shapes, equals GEOS Intersects."""
    return (
        f"(gx + half >= {minx} AND gx - half <= {maxx} "
        f"AND gy + half >= {miny} AND gy - half <= {maxy})"
    )


def zone_intersects_sql(fid: int) -> str:
    """Exact intersects(doc_geom, zone fid) as SQL over docs_g cols."""
    if fid < 8:
        return _overlap(*_zone_env(fid))
    if fid == 8:  # L-shape = union of two closed rects (exact cover)
        return f"({_overlap(441050, 3751050, 441150, 3751300)} OR {_overlap(441050, 3751050, 441450, 3751150)})"
    # fid 9: rect with hole — intersects outer unless the doc square is
    # strictly inside the hole's OPEN interior (touching the interior
    # ring still intersects: boundary belongs to the polygon).
    inside_hole = "(gx - half > 440900 AND gx + half < 441000 AND gy - half > 3750500 AND gy + half < 3750560)"
    return f"({_overlap(440850, 3750480, 441050, 3750580)} AND NOT {inside_hole})"


def docs_g_cte() -> str:
    """DuckDB CTE body: per-doc derived geometry columns (the same
    integer arithmetic datagen evaluates in Spark)."""
    c = geom_cols_sql("doc_id")
    return (
        f"SELECT doc_id, n_chars, {c['gx']} AS gx, {c['gy']} AS gy, "
        f"{c['half']} AS half, {c['valid']} AS valid, {c['is_poly']} AS is_poly "
        f"FROM documents"
    )


def _byte20_vals_sql() -> str:
    from gdal_spark.fixtures import BYTE20

    return ", ".join(f"({py},{px},{int(BYTE20[py, px])})" for py in range(20) for px in range(20))


def _zone_match_sql() -> str:
    """UNION ALL of exact doc-x-zone intersect pairs (all 10 zones)."""
    parts = [
        f"SELECT doc_id, {fid} AS zone_fid, {ZONE_EAS[fid]} AS eas_id FROM g "
        f"WHERE valid AND {zone_intersects_sql(fid)}"
        for fid in range(10)
    ]
    return " UNION ALL ".join(parts)


# ---------------------------------------------------------------------------
# inputs


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The interleaved-span docs table (input_hint shape) keyed off
    the driver's documents.doc_id, carrying n_chars for zonal stats."""
    ids = load(spark, sf_dir, "documents").select(F.col("doc_id").alias("id"), "n_chars")
    return docs_table(spark, ids=ids)


NARROW_COLS = ["_id", "wkt", "env_minx", "env_miny", "env_maxx", "env_maxy", "geom_error"]


def docs_geom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Narrow geometry projection: the heavy spans column is pruned
    BEFORE any mapInPandas operator (mapInPandas ships every input
    column through Arrow — carrying array<struct> spans through the
    probe would dominate the exchange)."""
    return extract_geom(docs(spark, sf_dir)).select(*NARROW_COLS, "n_chars")


# ---------------------------------------------------------------------------
# geospatial queries


def q_envelopes(spark, sf_dir):
    g = docs_geom(spark, sf_dir)
    return g.filter(F.col("geom_error").isNull() & F.col("wkt").isNotNull()).select(
        F.col("_id").alias("doc_id"),
        F.col("env_minx").cast("bigint").alias("minx"),
        F.col("env_miny").cast("bigint").alias("miny"),
        F.col("env_maxx").cast("bigint").alias("maxx"),
        F.col("env_maxy").cast("bigint").alias("maxy"),
    )


def q_spatial_filter_rect(spark, sf_dir):
    g = docs_geom(spark, sf_dir)
    return spatial_filter(g, SPAT_RECT_WKT).select(F.col("_id").alias("doc_id"))


def q_spatial_filter_lshape(spark, sf_dir):
    g = docs_geom(spark, sf_dir)
    return spatial_filter(g, ZONE_WKTS[8]).select(F.col("_id").alias("doc_id"))


def q_spatial_join(spark, sf_dir):
    g = docs_geom(spark, sf_dir)
    j = spatial_join(g, zones_table(spark))
    eas = F.element_at(F.array(*[F.lit(e) for e in ZONE_EAS]), F.col("zone_fid").cast("int") + 1)
    return j.select(
        F.col("_id").alias("doc_id"),
        F.col("zone_fid").cast("bigint").alias("zone_fid"),
        eas.cast("bigint").alias("eas_id"),
    )


def q_spatial_join_first(spark, sf_dir):
    g = docs_geom(spark, sf_dir)
    j = spatial_join(g, zones_table(spark), first_match=True, how="left")
    return j.select(F.col("_id").alias("doc_id"), F.col("zone_fid").cast("bigint").alias("zone_fid"))


def q_spatial_antijoin(spark, sf_dir):
    g = docs_geom(spark, sf_dir).filter(F.col("geom_error").isNull())
    j = spatial_join(g, zones_table(spark), first_match=True, how="left")
    return j.filter(F.col("zone_fid").isNull()).select(F.col("_id").alias("doc_id"))


def q_zonal_stats(spark, sf_dir):
    g = docs_geom(spark, sf_dir)
    j = spatial_join(g, zones_table(spark))
    return (
        j.groupBy(F.col("zone_fid").cast("bigint").alias("zone_fid"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
            F.min("_id").alias("min_doc"),
        )
    )


def q_knn_centers(spark, sf_dir):
    g = docs_geom(spark, sf_dir)
    pts = g.filter(
        F.col("geom_error").isNull() & (F.col("env_minx") == F.col("env_maxx"))
    ).select(
        F.col("_id").alias("id"),
        F.col("env_minx").alias("x"),
        F.col("env_miny").alias("y"),
    )
    centers = []
    for fid in range(10):
        minx, miny, maxx, maxy = _zone_env(fid)
        centers.append((fid, (minx + maxx) / 2.0, (miny + maxy) / 2.0))
    out = knn_broadcast(pts, centers, k=5)
    return out.select(
        F.col("qid").alias("fid"),
        F.col("nid").alias("doc_id"),
        F.col("d2").cast("bigint").alias("d2"),
    )


def q_tile_keys(spark, sf_dir):
    g = docs_geom(spark, sf_dir).filter(F.col("geom_error").isNull())
    t = tile_keys_for_envelopes(g, TILE_TLX, TILE_TLY, TILE_W, TILE_N)
    return t.select(
        F.col("_id").alias("doc_id"),
        F.col("tx").cast("bigint").alias("tx"),
        F.col("ty").cast("bigint").alias("ty"),
    )


def _point_burn_tiles(spark, sf_dir):
    g = docs_geom(spark, sf_dir)
    shapes = g.filter(
        F.col("geom_error").isNull() & (F.col("env_minx") == F.col("env_maxx"))
    ).select(
        F.col("_id").alias("fid"),
        "wkt",
        F.array(F.lit(1.0)).alias("burn_values"),
    )
    return rasterize(shapes, BYTE20_SPEC, merge_alg="add")


def q_rasterize_points(spark, sf_dir):
    pix = as_features(_point_burn_tiles(spark, sf_dir), BYTE20_SPEC, skip_value=0.0)
    return pix.filter(F.col("band") == 1).select(
        F.col("py").cast("bigint").alias("py"),
        F.col("px").cast("bigint").alias("px"),
        F.col("value").cast("bigint").alias("v"),
    )


def q_raster_checksum(spark, sf_dir):
    cs = checksum_col(_point_burn_tiles(spark, sf_dir), BYTE20_SPEC)
    return cs.select(F.col("band").cast("bigint").alias("band"), F.col("checksum").cast("bigint").alias("checksum"))


def q_media_refs(spark, sf_dir):
    d = docs(spark, sf_dir)
    media = F.filter(F.col("spans"), lambda s: s["kind"] == F.lit("media"))
    return d.filter(F.size(media) > 0).select(
        F.col("_id").alias("doc_id"),
        F.element_at(media, 1)["media_ref"].alias("media_ref"),
    )


def q_span_kinds(spark, sf_dir):
    d = docs(spark, sf_dir).repartition(32, "doc_id")  # force a shuffle
    return d.select(
        F.col("_id").alias("doc_id"),
        F.concat_ws(",", F.transform(F.col("spans"), lambda s: s["kind"])).alias("kinds"),
        F.size("spans").cast("bigint").alias("n_spans"),
    )


# ---------------------------------------------------------------------------
# relational / OGR SQL semantics


def q_summary_lineitem(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 10)
    return li.agg(
        F.count(F.lit(1)).alias("cnt"),
        F.countDistinct("l_returnflag").alias("n_flags"),
        F.min("l_quantity").alias("min_qty"),
        F.max("l_quantity").alias("max_qty"),
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("bigint")).alias("sum_price_cents"),
        F.max("l_shipdate").alias("max_ship"),
    )


def q_distinct_priorities(spark, sf_dir):
    return load(spark, sf_dir, "orders").select("o_orderpriority").distinct()


def q_like_ilike(spark, sf_dir):
    p = load(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.col("p_name").like("%red%").alias("like_red"),
        F.col("p_name").ilike("%RED%").alias("ilike_red"),
    )


def q_substr_tail(spark, sf_dir):
    s = load(spark, sf_dir, "supplier")
    # OGR SUBSTR negative start counts from the end
    # (doc/source/user/ogr_sql_dialect.rst:166-169); Spark substring
    # has the same negative-start convention natively.
    return s.select("s_suppkey", F.expr("substring(s_name, -6, 6)").alias("tail6"))


def q_first_match_sql_join(spark, sf_dir):
    """OGR SQL JOIN: exactly the FIRST matching secondary feature in
    FID order (ogr_gensql.cpp:1515-1546), 1:1 never 1:N."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderkey")
    first = o.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1)
    return c.join(first, c["c_custkey"] == first["o_custkey"], "left").select(
        "c_custkey", "o_orderkey"
    )


def q_order_limit_offset(spark, sf_dir):
    o = load(spark, sf_dir, "orders")
    return (
        o.orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .select("o_orderkey", "o_totalprice")
        .offset(5)
        .limit(10)
    )


def q_union_all(spark, sf_dir):
    n = load(spark, sf_dir, "nation").select(F.col("n_name").alias("name"))
    r = load(spark, sf_dir, "region").select(F.col("r_name").alias("name"))
    return n.unionAll(r)


def q_agg_events(spark, sf_dir):
    e = load(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("value_cents"),
    )


def q_window_topk_events(spark, sf_dir):
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("value"), F.asc("event_id"))
    return (
        e.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("user_id", "event_id", F.col("rk").cast("bigint").alias("rk"))
    )


# ---------------------------------------------------------------------------
# training-data ops: text + dedup + embeddings


def q_token_stats(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    toks = F.size(F.split(F.trim(F.col("text")), r"\s+"))
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(toks.cast("bigint")).alias("sum_tokens"),
        F.sum("n_chars").alias("sum_chars"),
    )


def q_dedup_exact(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    return d.groupBy(F.md5(F.col("text").cast("binary")).alias("text_md5")).agg(
        F.min("doc_id").alias("kept_doc_id"),
        F.count(F.lit(1)).alias("dup_n"),
    )


def q_text_quality(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    padded = F.concat(F.lit(" "), F.col("text"), F.lit(" "))
    n_the = (F.length(padded) - F.length(F.regexp_replace(padded, " the ", ""))) / 5
    toks = F.size(F.split(F.trim(F.col("text")), r"\s+"))
    return d.select(
        "doc_id",
        toks.cast("bigint").alias("n_tokens"),
        n_the.cast("bigint").alias("n_the"),
        (F.col("n_chars") - F.length("text")).cast("bigint").alias("chars_delta"),
    )


def q_embed_topk(spark, sf_dir):
    emb = load(spark, sf_dir, "embeddings")
    qvec = [float(v) for v in emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]]
    qn = math.sqrt(sum(v * v for v in qvec))
    qarr = F.array(*[F.lit(v) for v in qvec])
    dot = F.aggregate(
        F.zip_with(F.col("embedding"), qarr, lambda x, y: x.cast("double") * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    nrm = F.sqrt(
        F.aggregate(
            F.transform(F.col("embedding"), lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    scored = emb.select("vec_id", (dot / (nrm * F.lit(qn))).alias("cs"))
    # orderBy().limit = TakeOrderedAndProject (partial top-k per
    # partition), NOT a global row_number window (which would shuffle
    # every row to one partition); rank only the 10 survivors.
    top = scored.orderBy(F.desc("cs"), F.asc("vec_id")).limit(10)
    w = Window.orderBy(F.desc("cs"), F.asc("vec_id"))
    return top.withColumn("rank", F.row_number().over(w)).select(
        "vec_id", F.col("rank").cast("bigint").alias("rank")
    )


# ---------------------------------------------------------------------------
# registry


QUERIES = {
    "envelopes": q_envelopes,
    "spatial_filter_rect": q_spatial_filter_rect,
    "spatial_filter_lshape": q_spatial_filter_lshape,
    "spatial_join": q_spatial_join,
    "spatial_join_first": q_spatial_join_first,
    "spatial_antijoin": q_spatial_antijoin,
    "zonal_stats": q_zonal_stats,
    "knn_centers": q_knn_centers,
    "tile_keys": q_tile_keys,
    "rasterize_points": q_rasterize_points,
    "raster_checksum": q_raster_checksum,
    "media_refs": q_media_refs,
    "span_kinds": q_span_kinds,
    "summary_lineitem": q_summary_lineitem,
    "distinct_priorities": q_distinct_priorities,
    "like_ilike": q_like_ilike,
    "substr_tail": q_substr_tail,
    "first_match_sql_join": q_first_match_sql_join,
    "order_limit_offset": q_order_limit_offset,
    "union_all": q_union_all,
    "agg_events": q_agg_events,
    "window_topk_events": q_window_topk_events,
    "token_stats": q_token_stats,
    "dedup_exact": q_dedup_exact,
    "text_quality": q_text_quality,
    "embed_topk": q_embed_topk,
}


def _o_envelopes() -> str:
    return (
        f"WITH g AS ({docs_g_cte()}) SELECT doc_id, "
        "CAST(gx - half AS BIGINT) AS minx, CAST(gy - half AS BIGINT) AS miny, "
        "CAST(gx + half AS BIGINT) AS maxx, CAST(gy + half AS BIGINT) AS maxy "
        "FROM g WHERE valid"
    )


def _o_spatial_filter_rect() -> str:
    minx, miny, maxx, maxy = SPAT_RECT
    return (
        f"WITH g AS ({docs_g_cte()}) SELECT doc_id FROM g "
        f"WHERE valid AND {_overlap(minx, miny, maxx, maxy)}"
    )


def _o_spatial_filter_lshape() -> str:
    return (
        f"WITH g AS ({docs_g_cte()}) SELECT doc_id FROM g "
        f"WHERE valid AND {zone_intersects_sql(8)}"
    )


def _o_spatial_join() -> str:
    return f"WITH g AS ({docs_g_cte()}) SELECT * FROM ({_zone_match_sql()})"


def _o_spatial_join_first() -> str:
    return (
        f"WITH g AS ({docs_g_cte()}), m AS ({_zone_match_sql()}) "
        "SELECT g.doc_id, MIN(m.zone_fid) AS zone_fid "
        "FROM g LEFT JOIN m ON g.doc_id = m.doc_id GROUP BY g.doc_id"
    )


def _o_spatial_antijoin() -> str:
    conds = " OR ".join(zone_intersects_sql(fid) for fid in range(10))
    return (
        f"WITH g AS ({docs_g_cte()}) SELECT doc_id FROM g "
        f"WHERE valid AND NOT ({conds})"
    )


def _o_zonal_stats() -> str:
    return (
        f"WITH g AS ({docs_g_cte()}), m AS ({_zone_match_sql()}) "
        # CAST: DuckDB SUM(BIGINT) yields HUGEINT whose value-hash
        # canonicalization differs from Spark's long (round-1 driver
        # hash artifact) — cast back to BIGINT on the oracle side.
        "SELECT m.zone_fid, COUNT(*) AS n_docs, CAST(SUM(g.n_chars) AS BIGINT) AS sum_chars, "
        "MIN(g.doc_id) AS min_doc FROM m JOIN g ON m.doc_id = g.doc_id "
        "GROUP BY m.zone_fid"
    )


def _o_knn_centers() -> str:
    rows = []
    for fid in range(10):
        minx, miny, maxx, maxy = _zone_env(fid)
        rows.append(f"({fid}, {(minx + maxx) // 2}, {(miny + maxy) // 2})")
    centers = "(VALUES " + ", ".join(rows) + ") AS c(fid, cx, cy)"
    return (
        f"WITH g AS ({docs_g_cte()}), "
        f"d AS (SELECT c.fid, g.doc_id, (g.gx - c.cx) * (g.gx - c.cx) + (g.gy - c.cy) * (g.gy - c.cy) AS d2 "
        f"FROM {centers} CROSS JOIN g WHERE g.valid AND NOT g.is_poly), "
        "r AS (SELECT fid, doc_id, d2, row_number() OVER (PARTITION BY fid ORDER BY d2, doc_id) AS rn FROM d) "
        "SELECT CAST(fid AS BIGINT) AS fid, doc_id, CAST(d2 AS BIGINT) AS d2 FROM r WHERE rn <= 5"
    )


def _o_tile_keys() -> str:
    def clampi(expr: str) -> str:
        return f"LEAST(GREATEST(CAST(floor({expr}) AS BIGINT), 0), {TILE_N - 1})"

    tx0 = clampi(f"((gx - half) - {TILE_TLX}) / {TILE_W} + 0.001")
    tx1 = clampi(f"((gx + half) - {TILE_TLX}) / {TILE_W} + 0.001")
    ty0 = clampi(f"({TILE_TLY} - (gy + half)) / {TILE_W} + 0.001")
    ty1 = clampi(f"({TILE_TLY} - (gy - half)) / {TILE_W} + 0.001")
    return (
        f"WITH g AS ({docs_g_cte()}), "
        f"e AS (SELECT doc_id, {tx0} AS tx0, {tx1} AS tx1, {ty0} AS ty0, {ty1} AS ty1 FROM g WHERE valid), "
        "x AS (SELECT doc_id, ty0, ty1, unnest(generate_series(tx0, tx1)) AS tx FROM e) "
        "SELECT doc_id, tx, unnest(generate_series(ty0, ty1)) AS ty FROM x"
    )


def _pix_cte() -> str:
    """Point-burn pixel counts on the byte20 20x20 grid (uint8 clamp):
    pixel = floor of the inverse geotransform, bounds-checked, one
    count per point (gv_rasterize point path, GDALdllImagePoint)."""
    return (
        f"WITH g AS ({docs_g_cte()}), "
        "p AS (SELECT CAST(floor((gx - 440720) / 60.0) AS BIGINT) AS px, "
        "CAST(floor((3751320 - gy) / 60.0) AS BIGINT) AS py "
        "FROM g WHERE valid AND NOT is_poly), "
        "pix AS (SELECT py, px, LEAST(COUNT(*), 255) AS v FROM p "
        "WHERE px BETWEEN 0 AND 19 AND py BETWEEN 0 AND 19 GROUP BY py, px)"
    )


def _o_rasterize_points() -> str:
    return f"{_pix_cte()} SELECT py, px, v FROM pix"


def _o_raster_checksum() -> str:
    primes = "[7,11,13,17,19,23,29,31,37,41,43]"
    return (
        f"{_pix_cte()} SELECT CAST(1 AS BIGINT) AS band, "
        f"CAST(SUM(v % ({primes})[((py * 20 + px) % 11) + 1]) % 65536 AS BIGINT) AS checksum FROM pix"
    )


def _o_media_refs() -> str:
    return (
        "SELECT doc_id, 'fake://media/' || CAST((doc_id * 2654435761) % 100000 AS VARCHAR) || '.jpg' AS media_ref "
        "FROM documents WHERE doc_id % 3 = 0"
    )


def _o_span_kinds() -> str:
    return (
        "SELECT doc_id, "
        "'text' || CASE WHEN doc_id % 3 = 0 THEN ',media' ELSE '' END || ',geom' "
        "|| CASE WHEN doc_id % 2 = 0 THEN ',text' ELSE '' END AS kinds, "
        "CAST(2 + CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END + CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END AS BIGINT) AS n_spans "
        "FROM documents"
    )


ORACLES = {
    "envelopes": _o_envelopes(),
    "spatial_filter_rect": _o_spatial_filter_rect(),
    "spatial_filter_lshape": _o_spatial_filter_lshape(),
    "spatial_join": _o_spatial_join(),
    "spatial_join_first": _o_spatial_join_first(),
    "spatial_antijoin": _o_spatial_antijoin(),
    "zonal_stats": _o_zonal_stats(),
    "knn_centers": _o_knn_centers(),
    "tile_keys": _o_tile_keys(),
    "rasterize_points": _o_rasterize_points(),
    "raster_checksum": _o_raster_checksum(),
    "media_refs": _o_media_refs(),
    "span_kinds": _o_span_kinds(),
    "summary_lineitem": (
        "SELECT COUNT(*) AS cnt, COUNT(DISTINCT l_returnflag) AS n_flags, "
        "MIN(l_quantity) AS min_qty, MAX(l_quantity) AS max_qty, "
        "CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_price_cents, "
        "MAX(l_shipdate) AS max_ship FROM lineitem WHERE l_quantity > 10"
    ),
    "distinct_priorities": "SELECT DISTINCT o_orderpriority FROM orders",
    "like_ilike": (
        "SELECT p_partkey, (p_name LIKE '%red%') AS like_red, "
        "(p_name ILIKE '%RED%') AS ilike_red FROM part"
    ),
    "substr_tail": (
        "SELECT s_suppkey, substr(s_name, length(s_name) - 5, 6) AS tail6 FROM supplier"
    ),
    "first_match_sql_join": (
        "SELECT c.c_custkey, o.o_orderkey FROM customer c LEFT JOIN "
        "(SELECT o_custkey, MIN(o_orderkey) AS o_orderkey FROM orders GROUP BY o_custkey) o "
        "ON c.c_custkey = o.o_custkey"
    ),
    "order_limit_offset": (
        "SELECT o_orderkey, o_totalprice FROM orders "
        "ORDER BY o_totalprice DESC, o_orderkey LIMIT 10 OFFSET 5"
    ),
    "union_all": "SELECT n_name AS name FROM nation UNION ALL SELECT r_name AS name FROM region",
    "agg_events": (
        "SELECT event_type, COUNT(*) AS n, "
        "CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS value_cents FROM events GROUP BY event_type"
    ),
    "window_topk_events": (
        "SELECT user_id, event_id, CAST(rk AS BIGINT) AS rk FROM ("
        "SELECT user_id, event_id, row_number() OVER (PARTITION BY user_id ORDER BY value DESC, event_id) AS rk "
        "FROM events) WHERE rk <= 3"
    ),
    "token_stats": (
        "SELECT lang, COUNT(*) AS n_docs, "
        "CAST(SUM(CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT)) AS BIGINT) AS sum_tokens, "
        "CAST(SUM(n_chars) AS BIGINT) AS sum_chars FROM documents GROUP BY lang"
    ),
    "dedup_exact": (
        "SELECT md5(text) AS text_md5, MIN(doc_id) AS kept_doc_id, COUNT(*) AS dup_n "
        "FROM documents GROUP BY md5(text)"
    ),
    "text_quality": (
        "SELECT doc_id, "
        "CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tokens, "
        "CAST((length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' the ', ''))) / 5 AS BIGINT) AS n_the, "
        "CAST(n_chars - length(text) AS BIGINT) AS chars_delta "
        "FROM documents"
    ),
    "embed_topk": (
        "WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0), "
        "s AS (SELECT vec_id, list_cosine_similarity(embedding, (SELECT qe FROM q)) AS cs FROM embeddings) "
        "SELECT vec_id, CAST(row_number() OVER (ORDER BY cs DESC, vec_id) AS BIGINT) AS rank "
        "FROM s ORDER BY cs DESC, vec_id LIMIT 10"
    ),
}


# ---------------------------------------------------------------------------
# dedup / fingerprint / langid / ANN queries (training-data ops)


def _dup_base(spark, sf_dir):
    """documents UNION engineered near-duplicates: copy doc_id+100000
    with the last two tokens dropped — gives MinHash/SimHash real
    near-dup pairs to find at any sf."""
    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    toks = F.split(F.trim("text"), r"\s+")
    trunc = F.array_join(F.slice(toks, 1, F.greatest(F.size(toks) - 2, F.lit(1))), " ")
    dup = d.select((F.col("doc_id") + 100000).alias("doc_id"), trunc.alias("text"))
    return d.unionAll(dup)


_DUP_BASE_SQL = (
    "SELECT doc_id, text FROM documents UNION ALL "
    "SELECT doc_id + 100000 AS doc_id, "
    "array_to_string((string_split_regex(trim(text), '\\s+'))"
    "[1:GREATEST(len(string_split_regex(trim(text), '\\s+')) - 2, 1)], ' ') AS text "
    "FROM documents"
)


def q_minhash_pairs(spark, sf_dir):
    from gdal_spark.dedup import lsh_pairs, with_minhash

    base = _dup_base(spark, sf_dir)
    sigs = with_minhash(base, text_col="text")
    pairs = lsh_pairs(sigs, id_col="doc_id", threshold=0.5)
    return pairs.select(
        "a", "b", F.floor(F.col("jaccard") * 1000).cast("bigint").alias("jac_x1000")
    )


def q_jaccard_pairs(spark, sf_dir):
    """Exact n-gram Jaccard similarity join (prefix-filtered AllPairs,
    dedup.jaccard_pairs). The oracle is a brute-force inverted-index
    all-shared-shingle join in SQL — the Spark side matching it
    hash-for-hash proves the prefix + length filters are LOSSLESS,
    not just probably-recall-1 like MinHash banding."""
    from gdal_spark.dedup import jaccard_pairs

    base = _dup_base(spark, sf_dir)
    pairs = jaccard_pairs(base, id_col="doc_id", text_col="text", threshold=0.5)
    return pairs.select(
        "a", "b", F.floor(F.col("jaccard") * 1000).cast("bigint").alias("jac_x1000")
    )


def q_dedup_clusters(spark, sf_dir):
    """Fuzzy-dedup end-game: MinHash-LSH near-dup pairs -> connected
    components -> one canonical keeper (min doc_id) per cluster. The
    decision table a training pipeline actually applies: every doc maps
    to its kept_id (itself when unique). Pairs and components both run
    distributed (banding self-join + min-label propagation); the oracle
    replays the closure with a recursive CTE."""
    from gdal_spark.dedup import lsh_pairs, with_minhash
    from gdal_spark.operators.graph import connected_components

    base = _dup_base(spark, sf_dir)
    sigs = with_minhash(base, text_col="text")
    pairs = lsh_pairs(sigs, id_col="doc_id", threshold=0.5).select("a", "b")
    comp = connected_components(pairs, src="a", dst="b")
    out = base.select("doc_id").join(comp, base["doc_id"] == comp["node"], "left")
    kept = F.coalesce(F.col("component"), F.col("doc_id"))
    return out.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        kept.cast("bigint").alias("kept_id"),
        (F.col("doc_id") != kept).cast("int").alias("is_dup"),
    )


def _o_dedup_clusters() -> str:
    return (
        f"WITH RECURSIVE {_minhash_pairs_ctes()}, "
        "pr AS (SELECT a, b FROM veri WHERE jaccard >= 0.5), "
        "ed AS (SELECT a AS u, b AS v FROM pr UNION SELECT b, a FROM pr), "
        # transitive closure (clusters are near-dup groups: tiny)
        "rc(u, v) AS (SELECT u, v FROM ed UNION SELECT rc.u, ed.v FROM rc JOIN ed ON rc.v = ed.u), "
        "comp AS (SELECT u AS node, LEAST(u, MIN(v)) AS component FROM rc GROUP BY u) "
        "SELECT CAST(base.doc_id AS BIGINT) AS doc_id, "
        "CAST(COALESCE(comp.component, base.doc_id) AS BIGINT) AS kept_id, "
        "CAST(CASE WHEN COALESCE(comp.component, base.doc_id) <> base.doc_id THEN 1 ELSE 0 END AS INT) AS is_dup "
        "FROM base LEFT JOIN comp ON base.doc_id = comp.node"
    )


def q_decontaminate(spark, sf_dir):
    """Benchmark decontamination: count each corpus doc's 3-token
    n-grams that appear in a benchmark set (here: the shingles of
    doc_id < 5, standing in for an eval suite). The benchmark side is
    broadcast — the corpus never shuffles, which is the whole game at
    10^12 docs vs a few thousand eval documents."""
    from gdal_spark.dedup import shingles_col, tokens_col

    d = load(spark, sf_dir, "documents")
    sh = d.select("doc_id", F.explode(shingles_col(tokens_col(F.col("text")))).alias("s"))
    bench = sh.filter(F.col("doc_id") < 5).select("s").distinct()
    hits = (
        sh.filter(F.col("doc_id") >= 5)
        .join(F.broadcast(bench), "s")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    out = d.filter(F.col("doc_id") >= 5).select("doc_id").join(hits, "doc_id", "left")
    n = F.coalesce(F.col("n_hits"), F.lit(0))
    return out.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        n.cast("bigint").alias("contaminated_ngrams"),
        (n > 0).cast("int").alias("contaminated"),
    )


def _o_decontaminate() -> str:
    return (
        "WITH tok AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks FROM documents), "
        "sh AS (SELECT doc_id, list_distinct(CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')] "
        "ELSE list_transform(generate_series(1, len(toks) - 2), i -> array_to_string(toks[i:i+2], ' ')) END) AS shingles FROM tok), "
        "ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh), "
        "bench AS (SELECT DISTINCT s FROM ex WHERE doc_id < 5), "
        "hits AS (SELECT ex.doc_id, COUNT(*) AS n_hits FROM ex JOIN bench ON ex.s = bench.s "
        "WHERE ex.doc_id >= 5 GROUP BY ex.doc_id) "
        "SELECT CAST(d.doc_id AS BIGINT) AS doc_id, "
        "CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS contaminated_ngrams, "
        "CAST(CASE WHEN COALESCE(h.n_hits, 0) > 0 THEN 1 ELSE 0 END AS INT) AS contaminated "
        "FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id WHERE d.doc_id >= 5"
    )


def q_tfidf_topterms(spark, sf_dir):
    """Per-doc top-3 terms by tf/df (document-frequency-weighted term
    extraction). The idf surrogate is the RATIONAL tf/df rather than
    tf*ln(N/df): IEEE division is correctly rounded in both engines so
    the ordering (and the x1e6 quantized score) is bit-reproducible,
    where ln() may differ in the last ulp between libm and the JVM.
    Distributed shape: one groupBy(term) for df, one broadcast-able
    df table joined back, window top-k per doc — all Catalyst."""
    from pyspark.sql import Window

    from gdal_spark.dedup import tokens_col

    d = load(spark, sf_dir, "documents")
    tf = (
        d.select("doc_id", F.explode(tokens_col(F.col("text"))).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = tf.join(F.broadcast(df_), "term").withColumn(
        "score", F.col("tf").cast("double") / F.col("df")
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), F.col("term").asc())
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select(
            F.col("doc_id").cast("bigint").alias("doc_id"),
            F.col("rk").cast("bigint").alias("rk"),
            "term",
            F.col("tf").cast("bigint").alias("tf"),
            F.col("df").cast("bigint").alias("df"),
            F.floor(F.col("score") * 1000000).cast("bigint").alias("score_x1e6"),
        )
    )


def _o_tfidf_topterms() -> str:
    return (
        "WITH tok AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS term FROM documents), "
        "tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY doc_id, term), "
        "df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term), "
        "sc AS (SELECT tf.doc_id, tf.term, tf.tf, df.df, CAST(tf.tf AS DOUBLE) / df.df AS score "
        "FROM tf JOIN df ON tf.term = df.term), "
        "rk AS (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term ASC) AS rk FROM sc) "
        "SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(rk AS BIGINT) AS rk, term, "
        "CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df, "
        "CAST(floor(score * 1000000) AS BIGINT) AS score_x1e6 FROM rk WHERE rk <= 3"
    )


def q_sample_strata(spark, sf_dir):
    """Deterministic stratified sampling: per (lang, source) stratum
    keep a hash-gated fraction (md5(doc_id) % 100 < rate) — the
    reproducible mixture-weighting step of a training-data pipeline
    (no RNG state, no driver coordination; the gate is a pure column
    predicate that pushes into the scan). Rates: en 40%, others 15%.
    Output: per-stratum kept/total counts + the kept id-sum as a
    content witness."""
    from gdal_spark.dedup import hash64

    d = load(spark, sf_dir, "documents")
    rate = F.when(F.col("lang") == "en", F.lit(40)).otherwise(F.lit(15))
    gate = F.pmod(hash64(F.col("doc_id").cast("string"), "strat"), F.lit(100)) < rate
    return (
        d.groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("total"),
            F.sum(gate.cast("long")).alias("kept"),
            F.sum(F.when(gate, F.col("doc_id")).otherwise(F.lit(0))).alias("kept_id_sum"),
        )
        .select(
            "lang", "source",
            F.col("total").cast("bigint").alias("total"),
            F.col("kept").cast("bigint").alias("kept"),
            F.col("kept_id_sum").cast("bigint").alias("kept_id_sum"),
        )
    )


def _o_sample_strata() -> str:
    from gdal_spark.dedup import hash64_sql

    h = hash64_sql("CAST(doc_id AS VARCHAR)", "strat")
    gate = f"(({h}) % 100 + 100) % 100 < (CASE WHEN lang = 'en' THEN 40 ELSE 15 END)"
    return (
        "SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS total, "
        f"CAST(SUM(CASE WHEN {gate} THEN 1 ELSE 0 END) AS BIGINT) AS kept, "
        f"CAST(SUM(CASE WHEN {gate} THEN doc_id ELSE 0 END) AS BIGINT) AS kept_id_sum "
        "FROM documents GROUP BY lang, source"
    )


def q_simhash_sigs(spark, sf_dir):
    from gdal_spark.dedup import simhash, tokens_col

    d = load(spark, sf_dir, "documents")
    return d.select("doc_id", simhash(tokens_col(F.col("text"))).alias("simhash"))


def q_simhash_pairs(spark, sf_dir):
    from gdal_spark.dedup import hamming_pairs, simhash, tokens_col

    base = _dup_base(spark, sf_dir)
    sigs = base.select("doc_id", simhash(tokens_col(F.col("text"))).alias("simhash"))
    return hamming_pairs(sigs, id_col="doc_id", max_dist=3)


def q_winnow_fingerprints(spark, sf_dir):
    from gdal_spark.text import winnow_fingerprints

    d = load(spark, sf_dir, "documents")
    return winnow_fingerprints(d)


def q_lang_id(spark, sf_dir):
    from gdal_spark.text import lang_id

    d = load(spark, sf_dir, "documents")
    return d.select("doc_id", lang_id(F.col("text")).alias("pred_lang"))


def q_quality_signals(spark, sf_dir):
    from gdal_spark.text import quality_signals

    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    out = quality_signals(d)
    return out.select(
        "doc_id",
        "n_tokens",
        F.floor(F.length(F.regexp_replace("text", r"\s", "")) * 100 / F.col("n_tokens")).cast("bigint").alias("mean_token_len_x100"),
        "n_stopwords",
    )


def q_embed_ann_lsh(spark, sf_dir):
    """Multi-probe hyperplane LSH: 8 planes (256 buckets), query
    bucket + hamming-1 neighbors probed (9/256 of the corpus), exact
    cosine re-rank on candidates via TakeOrderedAndProject."""
    from gdal_spark.similarity import ann_topk

    emb = load(spark, sf_dir, "embeddings")
    qvec = [float(v) for v in emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]]
    return ann_topk(emb, qvec, k=5, dims=64, planes=8, probe_hamming=1)


def q_embed_ivf(spark, sf_dir):
    """IVF (inverted-file) ANN — the k-means-coarse-quantizer scale
    path the FAISS IndexIVFFlat shape: train 8 coarse centroids with
    2 deterministic Lloyd iterations (md5-ordered seeds, integer-
    quantized component sums), assign every vector to its nearest
    cell, probe only the 2 cells nearest the query, exact quantized-
    cosine re-rank on candidates. The oracle replays the ENTIRE
    pipeline — training included — bit-identically in SQL."""
    from gdal_spark.similarity import ivf_topk

    emb = load(spark, sf_dir, "embeddings")
    qvec = [float(v) for v in emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]]
    return ivf_topk(emb, qvec, k=10, dims=64, n_cells=8, iters=2, nprobe=2)


def _o_embed_ivf() -> str:
    from gdal_spark.similarity import ivf_topk_sql

    return ivf_topk_sql(64, k=10, n_cells=8, iters=2, nprobe=2)


def q_media_features(spark, sf_dir):
    """Full multimodal decode->feature pass, cross-engine verified:
    the stub decoder's pixels are an md5 counter chain (media.py), so
    the oracle replays the dimensions, the 0.299/0.587/0.114 mean
    luma, and the 8x8 average-phash bit for bit in SQL."""
    from gdal_spark.media import extract_media_table, image_features

    d = docs(spark, sf_dir)
    feats = image_features(extract_media_table(d))
    return feats.select(
        F.regexp_extract("doc_id", r"(\d+)", 1).cast("bigint").alias("doc_id"),
        F.col("media_ref"),
        F.col("width").cast("bigint").alias("width"),
        F.col("height").cast("bigint").alias("height"),
        F.col("channels").cast("bigint").alias("channels"),
        F.col("mean_luma_x1000"),
        F.col("phash"),
    )


def _o_media_features() -> str:
    def mod17(ndigits: int) -> str:
        return (
            "((((SELECT SUM((strpos('0123456789abcdef', substring(hx, i, 1)) - 1) * "
            f"(CASE WHEN ({ndigits} - i) % 2 = 0 THEN 1 ELSE -1 END)) "
            f"FROM generate_series(1, {ndigits}) AS t(i)) % 17) + 17) % 17)"
        )

    def byte_at(p: str) -> str:
        """Pixel byte at 0-based position p of the md5 chain."""
        return (
            f"CAST(concat('0x', substr(md5(concat(hx, ':', CAST(({p}) // 16 AS VARCHAR))), "
            f"CAST((({p}) % 16) * 2 + 1 AS INT), 2)) AS BIGINT)"
        )

    luma = (
        f"0.299 * {byte_at('3 * k')} + 0.587 * {byte_at('3 * k + 1')} "
        f"+ 0.114 * {byte_at('3 * k + 2')}"
    )
    return (
        "WITH m AS (SELECT doc_id, 'fake://media/' || CAST((doc_id * 2654435761) % 100000 AS VARCHAR) || '.jpg' AS ref "
        "FROM documents WHERE doc_id % 3 = 0), "
        "hx_t AS (SELECT doc_id, ref, md5(sha256(ref)) AS hx FROM m), "
        f"dims AS (SELECT doc_id, ref, hx, CAST(16 + {mod17(14)} AS BIGINT) AS w, "
        f"CAST(16 + {mod17(16)} AS BIGINT) AS h FROM hx_t), "
        "pix AS (SELECT doc_id, ref, hx, w, h, "
        "unnest(generate_series(0, CAST(w * h - 1 AS INT))) AS k FROM dims), "
        f"lum AS (SELECT doc_id, k, {luma} AS luma FROM pix), "
        "ml AS (SELECT doc_id, AVG(luma) AS mean_luma FROM lum GROUP BY doc_id), "
        "grid AS (SELECT d.doc_id, ij.i, ij.j, "
        "CAST(FLOOR(ij.i * (d.h / 8.0)) AS BIGINT) * d.w + CAST(FLOOR(ij.j * (d.w / 8.0)) AS BIGINT) AS k "
        "FROM dims d CROSS JOIN (SELECT a.i, b.j FROM "
        "(SELECT unnest(generate_series(0, 7)) AS i) a, "
        "(SELECT unnest(generate_series(0, 7)) AS j) b) ij), "
        "sm AS (SELECT g.doc_id, g.i, g.j, l.luma AS sl FROM grid g "
        "JOIN lum l ON l.doc_id = g.doc_id AND l.k = g.k), "
        "se AS (SELECT doc_id, AVG(sl) AS sv FROM sm GROUP BY doc_id), "
        "ph AS (SELECT s.doc_id, SUM(CASE WHEN s.sl >= e.sv THEN "
        "(CASE WHEN s.i * 8 + s.j = 63 THEN -9223372036854775808 "
        "ELSE (CAST(1 AS BIGINT) << CAST(s.i * 8 + s.j AS INT)) END) ELSE 0 END) AS phash "
        "FROM sm s JOIN se e ON e.doc_id = s.doc_id GROUP BY s.doc_id) "
        "SELECT CAST(d.doc_id AS BIGINT) AS doc_id, d.ref AS media_ref, d.w AS width, "
        "d.h AS height, CAST(3 AS BIGINT) AS channels, "
        "CAST(FLOOR(m2.mean_luma * 1000) AS BIGINT) AS mean_luma_x1000, "
        "CAST(p.phash AS BIGINT) AS phash "
        "FROM dims d JOIN ml m2 ON m2.doc_id = d.doc_id JOIN ph p ON p.doc_id = d.doc_id"
    )


def _minhash_pairs_ctes() -> str:
    """The shared WITH-body producing `veri(a, b, jaccard)` — the
    MinHash-LSH banding pipeline in DuckDB SQL (also the prefix of the
    dedup_clusters oracle)."""
    from gdal_spark.dedup import BANDS, N_HASHES, ROWS_PER_BAND, hash64_sql

    sig_items = ", ".join(
        f"list_min(list_transform(shingles, s -> {hash64_sql('s', k)}))" for k in range(N_HASHES)
    )
    band_selects = []
    for b in range(BANDS):
        idxs = [b * ROWS_PER_BAND + r + 1 for r in range(ROWS_PER_BAND)]
        cat = ", ',', ".join(f"CAST(sig[{i}] AS VARCHAR)" for i in idxs)
        band_selects.append(f"SELECT doc_id, shingles, {b} AS band, md5(concat({cat})) AS bh FROM sig")
    bands_sql = " UNION ALL ".join(band_selects)
    return (
        f"base AS ({_DUP_BASE_SQL}), "
        "tok AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks FROM base), "
        "sh AS (SELECT doc_id, list_distinct(CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')] "
        "ELSE list_transform(generate_series(1, len(toks) - 2), i -> array_to_string(toks[i:i+2], ' ')) END) AS shingles FROM tok), "
        f"sig AS (SELECT doc_id, shingles, [{sig_items}] AS sig FROM sh), "
        f"bands AS ({bands_sql}), "
        "cand AS (SELECT DISTINCT l.doc_id AS a, r.doc_id AS b FROM bands l JOIN bands r "
        "ON l.band = r.band AND l.bh = r.bh AND l.doc_id < r.doc_id), "
        "veri AS (SELECT a, b, "
        "CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE) / len(list_distinct(list_concat(sa.shingles, sb.shingles))) AS jaccard "
        "FROM cand JOIN sh sa ON cand.a = sa.doc_id JOIN sh sb ON cand.b = sb.doc_id)"
    )


def _o_minhash_pairs() -> str:
    return (
        f"WITH {_minhash_pairs_ctes()} "
        "SELECT a, b, CAST(floor(jaccard * 1000) AS BIGINT) AS jac_x1000 FROM veri WHERE jaccard >= 0.5"
    )


def _o_simhash_sigs() -> str:
    from gdal_spark.dedup import simhash_sql

    return f"SELECT doc_id, {simhash_sql('text')} AS simhash FROM documents"


def _o_simhash_pairs() -> str:
    from gdal_spark.dedup import simhash_sql

    return (
        f"WITH base AS ({_DUP_BASE_SQL}), "
        f"s AS (SELECT doc_id, {simhash_sql('text')} AS sh FROM base) "
        "SELECT l.doc_id AS a, r.doc_id AS b, CAST(bit_count(xor(l.sh, r.sh)) AS BIGINT) AS hamming "
        "FROM s l JOIN s r ON l.doc_id < r.doc_id WHERE bit_count(xor(l.sh, r.sh)) <= 3"
    )


def _o_lang_id() -> str:
    from gdal_spark.text import lang_id_sql

    return f"SELECT doc_id, {lang_id_sql('text')} AS pred_lang FROM documents"


def _o_quality_signals() -> str:
    occ = lambda w: (  # noqa: E731
        f"CAST((length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' {w} ', ''))) / {len(w) + 2} AS BIGINT)"
    )
    stop = " + ".join(occ(w) for w in ["the", "a", "of", "and"])
    toks = "len(string_split_regex(trim(text), '\\s+'))"
    return (
        f"SELECT doc_id, CAST({toks} AS BIGINT) AS n_tokens, "
        f"CAST(floor(length(regexp_replace(text, '\\s', '', 'g')) * 100 / {toks}) AS BIGINT) AS mean_token_len_x100, "
        f"({stop}) AS n_stopwords FROM documents"
    )


def _o_embed_ann_lsh() -> str:
    from gdal_spark.similarity import lsh_bucket_sql

    # multi-probe = hamming radius 1 on the 8-bit bucket:
    # bit_count(bucket XOR qbucket) <= 1 (the engine's IN-list of the
    # query bucket + 8 bit-flips is the same set)
    return (
        "WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0), "
        f"b AS (SELECT vec_id, embedding, {lsh_bucket_sql('embedding', 64, 8)} AS bucket FROM embeddings), "
        f"qb AS (SELECT {lsh_bucket_sql('qe', 64, 8)} AS qbucket FROM q), "
        "c AS (SELECT vec_id, list_cosine_similarity(embedding, (SELECT qe FROM q)) AS cs FROM b "
        "WHERE bit_count(xor(bucket, (SELECT qbucket FROM qb))) <= 1) "
        "SELECT vec_id, CAST(row_number() OVER (ORDER BY cs DESC, vec_id) AS BIGINT) AS rank "
        "FROM c ORDER BY cs DESC, vec_id LIMIT 5"
    )


def _o_jaccard_pairs() -> str:
    """Brute-force oracle: any pair with J >= t shares >= 1 shingle,
    so candidates = DISTINCT pairs from the exploded shingle self-join
    (a superset of the answer for any t > 0), then exact Jaccard."""
    return (
        f"WITH base AS ({_DUP_BASE_SQL}), "
        "tok AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks FROM base), "
        "sh AS (SELECT doc_id, list_distinct(CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')] "
        "ELSE list_transform(generate_series(1, len(toks) - 2), i -> array_to_string(toks[i:i+2], ' ')) END) AS shingles FROM tok), "
        "ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh), "
        "cand AS (SELECT DISTINCT l.doc_id AS a, r.doc_id AS b FROM ex l JOIN ex r "
        "ON l.s = r.s AND l.doc_id < r.doc_id), "
        "veri AS (SELECT a, b, "
        "CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE) / len(list_distinct(list_concat(sa.shingles, sb.shingles))) AS jaccard "
        "FROM cand JOIN sh sa ON cand.a = sa.doc_id JOIN sh sb ON cand.b = sb.doc_id) "
        "SELECT a, b, CAST(floor(jaccard * 1000) AS BIGINT) AS jac_x1000 FROM veri WHERE jaccard >= 0.5"
    )


def _o_winnow_fingerprints() -> str:
    from gdal_spark.text import winnow_fingerprints_sql

    return winnow_fingerprints_sql("doc_id", "text")


QUERIES.update(
    {
        "minhash_pairs": q_minhash_pairs,
        "jaccard_pairs": q_jaccard_pairs,
        "dedup_clusters": q_dedup_clusters,
        "decontaminate": q_decontaminate,
        "tfidf_topterms": q_tfidf_topterms,
        "sample_strata": q_sample_strata,
        "simhash_sigs": q_simhash_sigs,
        "simhash_pairs": q_simhash_pairs,
        "winnow_fingerprints": q_winnow_fingerprints,
        "lang_id": q_lang_id,
        "quality_signals": q_quality_signals,
        "embed_ann_lsh": q_embed_ann_lsh,
        "embed_ivf": q_embed_ivf,
        "media_features": q_media_features,
    }
)

ORACLES.update(
    {
        "minhash_pairs": _o_minhash_pairs(),
        "jaccard_pairs": _o_jaccard_pairs(),
        "dedup_clusters": _o_dedup_clusters(),
        "decontaminate": _o_decontaminate(),
        "tfidf_topterms": _o_tfidf_topterms(),
        "sample_strata": _o_sample_strata(),
        "simhash_sigs": _o_simhash_sigs(),
        "simhash_pairs": _o_simhash_pairs(),
        "winnow_fingerprints": _o_winnow_fingerprints(),
        "lang_id": _o_lang_id(),
        "quality_signals": _o_quality_signals(),
        "embed_ann_lsh": _o_embed_ann_lsh(),
        "embed_ivf": _o_embed_ivf(),
        # r3: md5-chain stub pixels made the full feature pass oracled
        "media_features": _o_media_features(),
    }
)


def q_media_dims(spark, sf_dir):
    """The deterministic media decode-stub dimensions, cross-engine
    verified: payload = utf8(sha256_hex(media_ref)), seed = first 8
    bytes of md5(payload), h = 16 + seed%17, w = 16 + (seed>>8)%17 —
    the oracle recomputes the md5 hex arithmetic in SQL (16 ≡ -1 mod
    17 → alternating hex-digit sums). Proves the decode plumbing is
    deterministic; luma/phash are fully oracled too (media_features)."""
    from gdal_spark.media import extract_media_table, image_features

    d = docs(spark, sf_dir)
    feats = image_features(extract_media_table(d))
    # media-table doc_id is the string form ("doc_%08d"); the oracle
    # keys on the numeric documents.doc_id
    return feats.select(
        F.regexp_extract("doc_id", r"(\d+)", 1).cast("bigint").alias("doc_id"),
        F.col("width").cast("bigint").alias("width"),
        F.col("height").cast("bigint").alias("height"),
        F.col("channels").cast("bigint").alias("channels"),
    )


def _o_media_dims() -> str:
    def mod17(ndigits: int) -> str:
        return (
            "((((SELECT SUM((strpos('0123456789abcdef', substring(hx, i, 1)) - 1) * "
            f"(CASE WHEN ({ndigits} - i) % 2 = 0 THEN 1 ELSE -1 END)) "
            f"FROM generate_series(1, {ndigits}) AS t(i)) % 17) + 17) % 17)"
        )

    return (
        "WITH m AS (SELECT doc_id, 'fake://media/' || CAST((doc_id * 2654435761) % 100000 AS VARCHAR) || '.jpg' AS ref "
        "FROM documents WHERE doc_id % 3 = 0), "
        "hx_t AS (SELECT doc_id, md5(sha256(ref)) AS hx FROM m) "
        f"SELECT doc_id, CAST(16 + {mod17(14)} AS BIGINT) AS width, "
        f"CAST(16 + {mod17(16)} AS BIGINT) AS height, CAST(3 AS BIGINT) AS channels FROM hx_t"
    )


QUERIES["media_dims"] = q_media_dims
ORACLES["media_dims"] = _o_media_dims()


def q_media_frames(spark, sf_dir):
    """Video-frame sampling over REAL decoded payloads
    (media.sample_frames): each PNG payload decodes once and frame i
    is the vertical strip [i*w div 16, (i+1)*w div 16). The query
    recomputes, per emitted frame, the pixel count and the EXACT
    integer luma sum (299R + 587G + 114B per pixel — no float mean
    whose summation order could differ across engines); the oracle
    replays both from the md5 pixel chain with the same integer strip
    bounds."""
    import numpy as np
    import pandas as pd

    from gdal_spark.media import extract_media_table, sample_frames

    d = docs(spark, sf_dir)
    frames = sample_frames(extract_media_table(d), every_n=4, n_frames=16)

    def _stats(batches):
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                arr = np.frombuffer(bytes(r.frame), dtype=np.uint8).reshape(-1, 3).astype(np.int64)
                rows.append({
                    "doc_id": r.doc_id,
                    "frame_idx": int(r.frame_idx),
                    "n_px": int(arr.shape[0]),
                    "luma_sum": int((299 * arr[:, 0] + 587 * arr[:, 1] + 114 * arr[:, 2]).sum()),
                })
            yield pd.DataFrame(rows, columns=["doc_id", "frame_idx", "n_px", "luma_sum"])

    out = frames.mapInPandas(
        _stats, "doc_id string, frame_idx long, n_px long, luma_sum long"
    )
    return out.select(
        F.regexp_extract("doc_id", r"(\d+)", 1).cast("bigint").alias("doc_id"),
        "frame_idx", "n_px", "luma_sum",
    )


def _o_media_frames() -> str:
    def mod17(ndigits: int) -> str:
        return (
            "((((SELECT SUM((strpos('0123456789abcdef', substring(hx, i, 1)) - 1) * "
            f"(CASE WHEN ({ndigits} - i) % 2 = 0 THEN 1 ELSE -1 END)) "
            f"FROM generate_series(1, {ndigits}) AS t(i)) % 17) + 17) % 17)"
        )

    def byte_at(p: str) -> str:
        return (
            f"CAST(concat('0x', substr(md5(concat(hx, ':', CAST(({p}) // 16 AS VARCHAR))), "
            f"CAST((({p}) % 16) * 2 + 1 AS INT), 2)) AS BIGINT)"
        )

    lsum = (
        f"299 * {byte_at('3 * k')} + 587 * {byte_at('3 * k + 1')} "
        f"+ 114 * {byte_at('3 * k + 2')}"
    )
    return (
        "WITH m AS (SELECT doc_id, 'fake://media/' || CAST((doc_id * 2654435761) % 100000 AS VARCHAR) || '.jpg' AS ref "
        "FROM documents WHERE doc_id % 3 = 0), "
        "hx_t AS (SELECT doc_id, md5(sha256(ref)) AS hx FROM m), "
        f"dims AS (SELECT doc_id, hx, CAST(16 + {mod17(14)} AS BIGINT) AS w, "
        f"CAST(16 + {mod17(16)} AS BIGINT) AS h FROM hx_t), "
        "fr AS (SELECT doc_id, hx, w, h, unnest([0, 4, 8, 12]) AS frame_idx FROM dims), "
        "bounds AS (SELECT doc_id, hx, w, h, frame_idx, "
        "(frame_idx * w) // 16 AS x0, ((frame_idx + 1) * w) // 16 AS x1 FROM fr), "
        "pix AS (SELECT doc_id, hx, w, frame_idx, x0, x1, "
        "unnest(generate_series(0, CAST(w * h - 1 AS INT))) AS k FROM bounds) "
        "SELECT doc_id, CAST(frame_idx AS BIGINT) AS frame_idx, "
        "CAST(COUNT(*) AS BIGINT) AS n_px, "
        f"CAST(SUM({lsum}) AS BIGINT) AS luma_sum "
        "FROM pix WHERE (k % w) >= x0 AND (k % w) < x1 "
        "GROUP BY doc_id, frame_idx"
    )


QUERIES["media_frames"] = q_media_frames
ORACLES["media_frames"] = _o_media_frames()


def q_viewshed(spark, sf_dir):
    """Single-observer viewshed over byte20 (per-cell exact LOS,
    alg/los.cpp semantics): observer at pixel (2,2) + 2 units. The
    oracle re-walks every Bresenham path in SQL using the closed-form
    recurrence y = yA + incy*floor((2*dy*i + dx)/(2*dx)) — the same
    formula the distributed operator compiles to Catalyst."""
    from gdal_spark.fixtures import BYTE20_SPEC, byte20_tiles
    from gdal_spark.operators.raster import as_features
    from gdal_spark.operators.viewshed import viewshed

    vs = viewshed(byte20_tiles(spark), BYTE20_SPEC, observer=(2, 2), observer_height=2.0)
    pix = as_features(vs, BYTE20_SPEC)
    return pix.select(
        F.col("py").cast("bigint").alias("py"),
        F.col("px").cast("bigint").alias("px"),
        F.col("value").cast("bigint").alias("visible"),
    )


def _o_viewshed() -> str:
    return (
        f"WITH pixels AS (SELECT * FROM (VALUES {_byte20_vals_sql()}) AS t(py, px, v)), "
        "obs AS (SELECT 2 AS xa, 2 AS ya, "
        "(SELECT CAST(v AS DOUBLE) FROM pixels WHERE py = 2 AND px = 2) + 2.0 AS za), "
        "tgt AS (SELECT px AS xb, py AS yb, CAST(v AS DOUBLE) AS zb, "
        "abs(px - 2) AS dx, abs(py - 2) AS dy, "
        "CASE WHEN px >= 2 THEN 1 ELSE -1 END AS incx, "
        "CASE WHEN py >= 2 THEN 1 ELSE -1 END AS incy FROM pixels), "
        "steps AS (SELECT tgt.*, unnest(generate_series(0, GREATEST(dx, dy))) AS i FROM tgt), "
        "pos AS (SELECT *, "
        "CASE WHEN i = 0 THEN 2 WHEN dx >= dy THEN 2 + incx * i "
        "ELSE 2 + incx * CAST(floor((2.0 * dx * i + dy) / (2 * dy)) AS BIGINT) END AS x, "
        "CASE WHEN i = 0 THEN 2 WHEN dx >= dy THEN 2 + incy * CAST(floor((2.0 * dy * i + dx) / (2 * dx)) AS BIGINT) "
        "ELSE 2 + incy * i END AS y FROM steps), "
        "chk AS (SELECT pos.xb, pos.yb, p.v, "
        "(SELECT za FROM obs) + (CASE WHEN pos.dx + pos.dy = 0 THEN 0.0 "
        "ELSE sqrt(CAST((pos.x - 2) * (pos.x - 2) + (pos.y - 2) * (pos.y - 2) AS DOUBLE) "
        "/ CAST((pos.xb - 2) * (pos.xb - 2) + (pos.yb - 2) * (pos.yb - 2) AS DOUBLE)) END) "
        "* (pos.zb - (SELECT za FROM obs)) AS zlos "
        "FROM pos JOIN pixels p ON p.px = pos.x AND p.py = pos.y) "
        "SELECT CAST(yb AS BIGINT) AS py, CAST(xb AS BIGINT) AS px, "
        "CAST(CASE WHEN MIN(zlos - v) >= 0 THEN 1 ELSE 0 END AS BIGINT) AS visible "
        "FROM chk GROUP BY yb, xb"
    )


QUERIES["viewshed"] = q_viewshed
ORACLES["viewshed"] = _o_viewshed()


def q_viewshed_cumulative(spark, sf_dir):
    """Cumulative viewshed (alg/viewshed/cumulative.cpp): observers on
    a 10-px grid over byte20 (4 observers), output = per-cell count of
    observers that see it. The oracle re-walks every (observer,
    target) Bresenham path in SQL and sums the per-observer masks."""
    from gdal_spark.fixtures import BYTE20_SPEC, byte20_tiles
    from gdal_spark.operators.raster import as_features
    from gdal_spark.operators.viewshed import cumulative_viewshed

    vs = cumulative_viewshed(
        byte20_tiles(spark), BYTE20_SPEC, observer_spacing=10, observer_height=2.0
    )
    pix = as_features(vs, BYTE20_SPEC)
    return pix.select(
        F.col("py").cast("bigint").alias("py"),
        F.col("px").cast("bigint").alias("px"),
        F.col("value").cast("bigint").alias("seen_by"),
    )


def _o_viewshed_cumulative() -> str:
    return (
        f"WITH pixels AS (SELECT * FROM (VALUES {_byte20_vals_sql()}) AS t(py, px, v)), "
        "obs AS (SELECT o.xa, o.ya, CAST(p.v AS DOUBLE) + 2.0 AS za "
        "FROM (VALUES (0, 0), (10, 0), (0, 10), (10, 10)) AS o(xa, ya) "
        "JOIN pixels p ON p.px = o.xa AND p.py = o.ya), "
        "tgt AS (SELECT o.xa, o.ya, o.za, px AS xb, py AS yb, CAST(v AS DOUBLE) AS zb, "
        "abs(px - o.xa) AS dx, abs(py - o.ya) AS dy, "
        "CASE WHEN px >= o.xa THEN 1 ELSE -1 END AS incx, "
        "CASE WHEN py >= o.ya THEN 1 ELSE -1 END AS incy FROM pixels CROSS JOIN obs o), "
        "steps AS (SELECT tgt.*, unnest(generate_series(0, GREATEST(dx, dy))) AS i FROM tgt), "
        "pos AS (SELECT *, "
        "CASE WHEN i = 0 THEN xa WHEN dx >= dy THEN xa + incx * i "
        "ELSE xa + incx * CAST(floor((2.0 * dx * i + dy) / (2 * dy)) AS BIGINT) END AS x, "
        "CASE WHEN i = 0 THEN ya WHEN dx >= dy THEN ya + incy * CAST(floor((2.0 * dy * i + dx) / (2 * dx)) AS BIGINT) "
        "ELSE ya + incy * i END AS y FROM steps), "
        "chk AS (SELECT pos.xa, pos.ya, pos.xb, pos.yb, p.v, "
        "pos.za + (CASE WHEN pos.dx + pos.dy = 0 THEN 0.0 "
        "ELSE sqrt(CAST((pos.x - pos.xa) * (pos.x - pos.xa) + (pos.y - pos.ya) * (pos.y - pos.ya) AS DOUBLE) "
        "/ CAST((pos.xb - pos.xa) * (pos.xb - pos.xa) + (pos.yb - pos.ya) * (pos.yb - pos.ya) AS DOUBLE)) END) "
        "* (pos.zb - pos.za) AS zlos "
        "FROM pos JOIN pixels p ON p.px = pos.x AND p.py = pos.y), "
        "per_obs AS (SELECT xa, ya, yb, xb, "
        "CASE WHEN MIN(zlos - v) >= 0 THEN 1 ELSE 0 END AS vis "
        "FROM chk GROUP BY xa, ya, yb, xb) "
        "SELECT CAST(yb AS BIGINT) AS py, CAST(xb AS BIGINT) AS px, "
        "CAST(SUM(vis) AS BIGINT) AS seen_by FROM per_obs GROUP BY yb, xb"
    )


QUERIES["viewshed_cumulative"] = q_viewshed_cumulative
ORACLES["viewshed_cumulative"] = _o_viewshed_cumulative()


_VSW = {"ox": 7, "oy": 5, "oh": 2.0, "th": 0.0, "cc": 0.85714, "semi": 4000.0}


def q_viewshed_sweep(spark, sf_dir):
    """Reference-planes viewshed (GDALViewshedGenerate,
    alg/viewshed/viewshed_executor.cpp — Wang et al. reference planes,
    Edge cell mode) with the earth-curvature height adjustment
    (calcHeightAdjFactor: curveCoeff / (2 * semimajor); curveCoeff
    0.85714 default). Distributed as a tile wavefront with edge-halo
    exchange — no DEM collect, no broadcast. The oracle replays the
    identical recurrence in SQL with a recursive CTE over Chebyshev
    rings (every plane dependency points at the previous ring)."""
    from gdal_spark.fixtures import BYTE20_SPEC, byte20_tiles
    from gdal_spark.operators.raster import as_features
    from gdal_spark.operators.viewshed_sweep import viewshed_sweep

    p = _VSW
    vs = viewshed_sweep(
        byte20_tiles(spark), BYTE20_SPEC, observer=(p["ox"], p["oy"]),
        observer_height=p["oh"], target_height=p["th"],
        curve_coeff=p["cc"], semimajor=p["semi"],
    )
    pix = as_features(vs, BYTE20_SPEC)
    return pix.select(
        F.col("py").cast("bigint").alias("py"),
        F.col("px").cast("bigint").alias("px"),
        F.col("value").cast("bigint").alias("visible"),
    )


def _o_viewshed_sweep() -> str:
    p = _VSW
    ox, oy, oh, th = p["ox"], p["oy"], p["oh"], p["th"]
    hadj = p["cc"] / (p["semi"] * 2.0)
    dfz = (
        "CASE "
        "WHEN t.r = 1 THEN t.h "
        "WHEN t.j = 0 THEN a.cur * t.i / (t.i - 1) "
        "WHEN t.i = 0 THEN a.cur * t.j / (t.j - 1) "
        "WHEN t.i = t.j THEN a.cur * t.j / (t.j - 1) "
        "WHEN t.i < t.j THEN (a.cur * t.i + b.cur * (t.j - t.i)) / (t.j - 1) "
        "ELSE (a.cur * t.j + b.cur * (t.i - t.j)) / (t.i - 1) END"
    )
    return (
        f"WITH RECURSIVE pixels AS (SELECT * FROM (VALUES {_byte20_vals_sql()}) AS t(py, px, v)), "
        "hh AS (SELECT py, px, CAST(v AS DOUBLE) "
        f"- {hadj!r} * ((60.0*(px-{ox}))*(60.0*(px-{ox})) + ((-60.0)*(py-{oy}))*((-60.0)*(py-{oy}))) "
        f"- (SELECT CAST(v AS DOUBLE) + {oh!r} FROM pixels WHERE px = {ox} AND py = {oy}) AS h, "
        f"abs(px - {ox}) AS i, abs(py - {oy}) AS j, "
        f"GREATEST(abs(px - {ox}), abs(py - {oy})) AS r, "
        f"CASE WHEN px >= {ox} THEN 1 ELSE -1 END AS sx, "
        f"CASE WHEN py >= {oy} THEN 1 ELSE -1 END AS sy FROM pixels), "
        "vs(px, py, cur, vis) AS ("
        f"SELECT {ox}, {oy}, (SELECT h FROM hh WHERE px = {ox} AND py = {oy}), 1 "
        "UNION ALL "
        f"SELECT t.px, t.py, GREATEST(t.h, {dfz}), "
        f"CASE WHEN t.r = 1 OR t.h + {th!r} >= ({dfz}) THEN 1 ELSE 0 END "
        "FROM hh t "
        "JOIN vs a ON a.px = t.px - (CASE WHEN t.i > 0 THEN t.sx ELSE 0 END) "
        "AND a.py = t.py - (CASE WHEN t.j > 0 THEN t.sy ELSE 0 END) "
        "LEFT JOIN vs b ON b.px = (CASE WHEN t.i < t.j THEN t.px ELSE t.px - t.sx END) "
        "AND b.py = (CASE WHEN t.i < t.j THEN t.py - t.sy ELSE t.py END) "
        "WHERE t.r > 0) "
        "SELECT CAST(py AS BIGINT) AS py, CAST(px AS BIGINT) AS px, "
        "CAST(vis AS BIGINT) AS visible FROM vs"
    )


QUERIES["viewshed_sweep"] = q_viewshed_sweep
ORACLES["viewshed_sweep"] = _o_viewshed_sweep()


_CUTLINE_PTS = [(3.3, 2.1), (16.7, 4.4), (14.2, 17.8), (9.5, 9.6), (4.1, 16.3)]


def q_warp_cutline(spark, sf_dir):
    """Warp cutline mask (alg/gdalcutline.cpp GDALWarpCutlineMaskerEx):
    the non-convex fractional-coordinate cutline polygon rasterized
    with the exact center rule (scanline at y+0.5, crossings rounded
    floor(x+0.5), even-odd fill — llrasterize.cpp:41-45,193) as a
    distributed tile table. The oracle replays the same rule in SQL
    via crossing-count parity. raster_tile applies this mask to warp
    output (tests/test_cutline.py pins the composition)."""
    from gdal_spark.fixtures import BYTE20_SPEC
    from gdal_spark.operators.cutline import cutline_mask_tiles
    from gdal_spark.operators.raster import as_features

    ring = ", ".join(f"{x} {y}" for x, y in _CUTLINE_PTS + [_CUTLINE_PTS[0]])
    m = cutline_mask_tiles(spark, BYTE20_SPEC, f"POLYGON(({ring}))")
    pix = as_features(m, BYTE20_SPEC)
    return pix.select(
        F.col("py").cast("bigint").alias("py"),
        F.col("px").cast("bigint").alias("px"),
        F.col("value").cast("bigint").alias("inside"),
    )


def _o_warp_cutline() -> str:
    pts = _CUTLINE_PTS
    edge_vals = ", ".join(
        f"({pts[i][0]}, {pts[i][1]}, {pts[(i + 1) % len(pts)][0]}, {pts[(i + 1) % len(pts)][1]})"
        for i in range(len(pts))
    )
    return (
        f"WITH e(x1, y1, x2, y2) AS (VALUES {edge_vals}), "
        "eo AS (SELECT CASE WHEN y1 <= y2 THEN x1 ELSE x2 END AS xa, "
        "CASE WHEN y1 <= y2 THEN y1 ELSE y2 END AS ya, "
        "CASE WHEN y1 <= y2 THEN x2 ELSE x1 END AS xb, "
        "CASE WHEN y1 <= y2 THEN y2 ELSE y1 END AS yb FROM e WHERE y1 <> y2), "
        "rows_ AS (SELECT unnest(generate_series(0, 19)) AS py), "
        "cols_ AS (SELECT unnest(generate_series(0, 19)) AS px), "
        "cr AS (SELECT py, CAST(floor((py + 0.5 - ya) * (xb - xa) / (yb - ya) + xa + 0.5) AS BIGINT) AS cx "
        "FROM rows_ JOIN eo ON ya <= py + 0.5 AND py + 0.5 < yb), "
        "cnt AS (SELECT r.py, c.px, "
        "(SELECT COUNT(*) FROM cr WHERE cr.py = r.py AND cr.cx <= c.px) AS n "
        "FROM rows_ r CROSS JOIN cols_ c) "
        "SELECT CAST(py AS BIGINT) AS py, CAST(px AS BIGINT) AS px, "
        "CAST(n % 2 AS BIGINT) AS inside FROM cnt"
    )


QUERIES["warp_cutline"] = q_warp_cutline
ORACLES["warp_cutline"] = _o_warp_cutline()


# (cid, p0, p1, p2) single-arc CIRCULARSTRING fixtures: CW and CCW
# arcs, an arbitrary oblique arc, a collinear degenerate, negatives
_CURVE_FIXTURE = [
    (1, (0.0, 0.0), (1.0, 1.0), (2.0, 0.0)),
    (2, (0.0, 0.0), (1.0, -1.0), (2.0, 0.0)),
    (3, (3.0, 1.0), (5.0, 4.0), (1.0, 6.0)),
    (4, (0.0, 0.0), (2.0, 2.0), (4.0, 4.0)),
    (5, (-5.0, 2.0), (-3.0, 1.0), (-1.0, 2.5)),
    (6, (10.0, 10.0), (10.5, 12.0), (9.0, 13.0)),
]


def q_curve_envelopes(spark, sf_dir):
    """Curve WKT linearization (ogrgeometryfactory.cpp
    curveToLineString:6071 / GetCurveParameters:5809 / StrokeArc:5906,
    4-degree default step): CIRCULARSTRINGs parse to stroked
    linestrings whose envelopes extend beyond the control points. The
    oracle replays the circumcenter + angular-stepping arithmetic in
    SQL and aggregates the same vertex set; envelopes rounded to 9
    decimals on both sides (libm ulp tolerance)."""
    rows = [
        (cid, f"CIRCULARSTRING ({p0[0]} {p0[1]},{p1[0]} {p1[1]},{p2[0]} {p2[1]})")
        for cid, p0, p1, p2 in _CURVE_FIXTURE
    ]
    df = spark.createDataFrame(rows, "cid int, wkt string")
    from gdal_spark.operators.spatial import envelope_udf

    env = df.withColumn("_env", envelope_udf(F.col("wkt")))
    return env.select(
        F.col("cid").cast("bigint").alias("cid"),
        F.round(F.col("_env.minx"), 9).alias("minx"),
        F.round(F.col("_env.miny"), 9).alias("miny"),
        F.round(F.col("_env.maxx"), 9).alias("maxx"),
        F.round(F.col("_env.maxy"), 9).alias("maxy"),
    )


def _o_curve_envelopes() -> str:
    vals = ", ".join(
        f"({cid}, {p0[0]}, {p0[1]}, {p1[0]}, {p1[1]}, {p2[0]}, {p2[1]})"
        for cid, p0, p1, p2 in _CURVE_FIXTURE
    )
    return (
        f"WITH c(cid, x0, y0, x1, y1, x2, y2) AS (VALUES {vals}), "
        "n AS (SELECT *, x1 - x0 AS dx01, y1 - y0 AS dy01, x2 - x1 AS dx12, y2 - y1 AS dy12 FROM c), "
        "s AS (SELECT *, GREATEST(abs(dx01), abs(dy01), abs(dx12), abs(dy12)) AS sc FROM n), "
        "d AS (SELECT *, (dx01 / sc) * (dy12 / sc) - (dx12 / sc) * (dy01 / sc) AS det FROM s), "
        "g AS (SELECT *, "
        "0.5 * sc * (((dx01 / sc) * ((x0 + x1) / sc) + (dy01 / sc) * ((y0 + y1) / sc)) * (dy12 / sc) "
        "- ((dx12 / sc) * ((x1 + x2) / sc) + (dy12 / sc) * ((y1 + y2) / sc)) * (dy01 / sc)) / det AS cx, "
        "0.5 * sc * (-((dx01 / sc) * ((x0 + x1) / sc) + (dy01 / sc) * ((y0 + y1) / sc)) * (dx12 / sc) "
        "+ ((dx12 / sc) * ((x1 + x2) / sc) + (dy12 / sc) * ((y1 + y2) / sc)) * (dx01 / sc)) / det AS cy "
        "FROM d WHERE abs(det) >= 1e-8), "
        "a AS (SELECT *, atan2((y0 - cy) / sc, (x0 - cx) / sc) AS a0r, "
        "atan2((y1 - cy) / sc, (x1 - cx) / sc) AS a1r, "
        "atan2((y2 - cy) / sc, (x2 - cx) / sc) AS a2r, "
        "sqrt((x0 - cx) * (x0 - cx) + (y0 - cy) * (y0 - cy)) AS r FROM g), "
        "aa AS (SELECT *, CASE WHEN det < 0 THEN (CASE WHEN a1r > a0r THEN a1r - 2 * pi() ELSE a1r END) "
        "ELSE (CASE WHEN a1r < a0r THEN a1r + 2 * pi() ELSE a1r END) END AS a1x FROM a), "
        "ab AS (SELECT *, CASE WHEN det < 0 THEN (CASE WHEN a2r > a1x THEN a2r - 2 * pi() ELSE a2r END) "
        "ELSE (CASE WHEN a2r < a1x THEN a2r + 2 * pi() ELSE a2r END) END AS a2x FROM aa), "
        "st AS (SELECT *, GREATEST(4, CAST(floor(abs((a2x - a0r) / (pi() * 4.0 / 180.0)) + 0.5) AS INT)) AS nsteps FROM ab), "
        "v AS (SELECT cid, cx + r * cos(a0r + i * (a2x - a0r) / nsteps) AS vx, "
        "cy + r * sin(a0r + i * (a2x - a0r) / nsteps) AS vy "
        "FROM st, (SELECT unnest(generate_series(1, 200)) AS i) iz WHERE i <= nsteps - 1), "
        "pts AS (SELECT cid, x0 AS vx, y0 AS vy FROM c "
        "UNION ALL SELECT cid, x2, y2 FROM c "
        "UNION ALL SELECT cid, x1, y1 FROM d WHERE abs(det) < 1e-8 "
        "UNION ALL SELECT cid, vx, vy FROM v) "
        "SELECT CAST(cid AS BIGINT) AS cid, ROUND(MIN(vx), 9) AS minx, ROUND(MIN(vy), 9) AS miny, "
        "ROUND(MAX(vx), 9) AS maxx, ROUND(MAX(vy), 9) AS maxy FROM pts GROUP BY cid"
    )


QUERIES["curve_envelopes"] = q_curve_envelopes
ORACLES["curve_envelopes"] = _o_curve_envelopes()


# (gid, kind, rings/lines as coordinate lists) — shared constants from
# which BOTH the Spark WKT input and the SQL oracle edge tables derive
_GEOD_FIXTURE = [
    (1, "line", [[(0.0, 0.0), (1.0, 0.0)]]),  # equator arc (closed form a*dlon)
    (2, "line", [[(7.0, 0.0), (7.0, 45.0)]]),  # meridian arc
    (3, "line", [[(10.0, 45.0), (11.0, 46.0), (12.0, 45.5)]]),
    (4, "poly", [[(0.0, 0.0), (1.0, 0.0), (1.0, 1.0), (0.0, 1.0), (0.0, 0.0)]]),
    (5, "poly", [
        [(12.0, 40.0), (14.0, 40.0), (14.0, 42.0), (12.0, 42.0), (12.0, 40.0)],
        [(12.5, 40.5), (13.0, 40.5), (13.0, 41.0), (12.5, 41.0), (12.5, 40.5)],
    ]),
    (6, "line", [[(-30.0, -10.0), (-28.0, -12.0)]]),
]


def _geod_wkt(kind, parts):
    if kind == "line":
        return "LINESTRING (" + ",".join(f"{x} {y}" for x, y in parts[0]) + ")"
    rings = ",".join("(" + ",".join(f"{x} {y}" for x, y in r) + ")" for r in parts)
    return f"POLYGON ({rings})"


def q_geodesic_metrics(spark, sf_dir):
    """ST_Length/ST_Area(use_ellipsoid=1)
    (ogrsqlitesqlfunctions.cpp:636,681): WGS84 geodesic length
    (Vincenty fixed-20-iteration inverse) and area (authalic-sphere
    per-edge excess), geom/geodesic.py. The oracle replays the full
    iteration chain and the authalic q-function in SQL; rounding (mm /
    1e-3 km^2) absorbs libm ulp differences."""
    from gdal_spark.operators.st_funcs import st_geodesic_area, st_geodesic_length

    rows = [(gid, _geod_wkt(kind, parts)) for gid, kind, parts in _GEOD_FIXTURE]
    df = spark.createDataFrame(rows, "gid int, wkt string")
    return df.select(
        F.col("gid").cast("bigint").alias("gid"),
        F.round(st_geodesic_length(F.col("wkt")), 3).alias("len_m"),
        F.round(st_geodesic_area(F.col("wkt")) / 1e6, 3).alias("area_km2"),
    )


def _o_geodesic_metrics() -> str:
    from gdal_spark.geom.geodesic import _QP, AUTHALIC_RADIUS, WGS84_A, WGS84_B, WGS84_F, _E, _E2

    f = repr(WGS84_F)
    b = repr(WGS84_B)
    up2 = repr((WGS84_A**2 - WGS84_B**2) / WGS84_B**2)
    e1 = repr(_E)
    e2 = repr(_E2)
    qp = repr(_QP)
    rq2 = repr(AUTHALIC_RADIUS**2)

    # all consecutive vertex pairs (rings arrive closed in the fixture)
    edges = []
    for gid, kind, parts in _GEOD_FIXTURE:
        for ridx, part in enumerate(parts):
            for (x1, y1), (x2, y2) in zip(part[:-1], part[1:]):
                edges.append(f"({gid}, {ridx}, {x1}, {y1}, {x2}, {y2})")
    edge_vals = ", ".join(edges)
    poly_ids = ", ".join(str(g) for g, k, _ in _GEOD_FIXTURE if k == "poly")

    # one Vincenty lambda-update: intermediates from the incoming lam,
    # then the update — numpy runs 20 compute rounds, the last reusing
    # lam after 19 updates, so the chain has 19 update steps
    def step(prev: str, name: str) -> str:
        return (
            f"{name} AS (SELECT gid, ring, eid, big_l, su1, cu1, su2, cu2, "
            f"big_l + (1 - cc) * {f} * sa * (sig + cc * ss * (c2m + cc * cs * (-1 + 2*c2m*c2m))) AS lam "
            f"FROM (SELECT *, {f}/16 * ca2 * (4 + {f} * (4 - 3*ca2)) AS cc "
            "FROM (SELECT *, CASE WHEN ca2 = 0 THEN 0 ELSE cs - 2*su1*su2/ca2 END AS c2m "
            "FROM (SELECT *, 1 - sa*sa AS ca2 "
            "FROM (SELECT *, CASE WHEN ss = 0 THEN 0 ELSE cu1*cu2*sin(lam)/ss END AS sa, atan2(ss, cs) AS sig "
            "FROM (SELECT *, sqrt((cu2*sin(lam))*(cu2*sin(lam)) + (cu1*su2 - su1*cu2*cos(lam))*(cu1*su2 - su1*cu2*cos(lam))) AS ss, "
            f"su1*su2 + cu1*cu2*cos(lam) AS cs FROM {prev}))))))"
        )

    chain = ["it0 AS (SELECT gid, ring, eid, big_l, su1, cu1, su2, cu2, big_l AS lam FROM seg)"]
    for k in range(1, 20):
        chain.append(step(f"it{k-1}", f"it{k}"))
    steps_sql = ", ".join(chain)

    # authalic latitude xi(lat): q(sin(radians(lat)))/qp clipped, asin
    def xi(col: str) -> str:
        s = f"sin(radians({col}))"
        q = (
            f"((1 - {e2}) * ({s}/(1 - {e2}*{s}*{s}) "
            f"+ (1/(2*{e1})) * ln((1 + {e1}*{s})/(1 - {e1}*{s}))))"
        )
        return f"asin(LEAST(1.0, GREATEST(-1.0, {q}/{qp})))"

    return (
        f"WITH e(gid, ring, x1, y1, x2, y2) AS (VALUES {edge_vals}), "
        "seg AS (SELECT gid, ring, ROW_NUMBER() OVER () AS eid, radians(x2 - x1) AS big_l, "
        f"sin(atan((1 - {f}) * tan(radians(y1)))) AS su1, cos(atan((1 - {f}) * tan(radians(y1)))) AS cu1, "
        f"sin(atan((1 - {f}) * tan(radians(y2)))) AS su2, cos(atan((1 - {f}) * tan(radians(y2)))) AS cu2 FROM e), "
        f"{steps_sql}, "
        "fin AS (SELECT gid, CASE WHEN ss = 0 THEN 0 ELSE "
        f"{b} * (1 + usq/16384 * (4096 + usq * (-768 + usq * (320 - 175*usq)))) * (sig - "
        f"(usq/1024 * (256 + usq * (-128 + usq * (74 - 47*usq)))) * ss * (c2m + (usq/1024 * (256 + usq * (-128 + usq * (74 - 47*usq))))/4 * "
        f"(cs * (-1 + 2*c2m*c2m) - (usq/1024 * (256 + usq * (-128 + usq * (74 - 47*usq))))/6 * c2m * (-3 + 4*ss*ss) * (-3 + 4*c2m*c2m)))) END AS s "
        f"FROM (SELECT *, ca2 * {up2} AS usq "
        "FROM (SELECT *, CASE WHEN ca2 = 0 THEN 0 ELSE cs - 2*su1*su2/ca2 END AS c2m "
        "FROM (SELECT *, 1 - sa*sa AS ca2 "
        "FROM (SELECT *, CASE WHEN ss = 0 THEN 0 ELSE cu1*cu2*sin(lam)/ss END AS sa, atan2(ss, cs) AS sig "
        "FROM (SELECT *, sqrt((cu2*sin(lam))*(cu2*sin(lam)) + (cu1*su2 - su1*cu2*cos(lam))*(cu1*su2 - su1*cu2*cos(lam))) AS ss, "
        "su1*su2 + cu1*cu2*cos(lam) AS cs FROM it19)))))), "
        "lens AS (SELECT gid, SUM(s) AS len_m FROM fin GROUP BY gid), "
        "ar AS (SELECT gid, ring, "
        f"-({rq2}) * SUM(2 * atan2(tan(dlam/2) * (t1 + t2), 1 + t1*t2)) AS ring_area "
        "FROM (SELECT gid, ring, atan2(sin(radians(x2 - x1)), cos(radians(x2 - x1))) AS dlam, "
        f"tan({xi('y1')}/2) AS t1, tan({xi('y2')}/2) AS t2 FROM e WHERE gid IN ({poly_ids})) "
        "GROUP BY gid, ring), "
        "areas AS (SELECT gid, SUM(CASE WHEN ring = 0 THEN abs(ring_area) ELSE -abs(ring_area) END) AS area FROM ar GROUP BY gid) "
        "SELECT CAST(l.gid AS BIGINT) AS gid, ROUND(l.len_m, 3) AS len_m, "
        "ROUND(COALESCE(a.area, 0.0)/1e6, 3) AS area_km2 "
        "FROM lens l LEFT JOIN areas a ON a.gid = l.gid"
    )


QUERIES["geodesic_metrics"] = q_geodesic_metrics
ORACLES["geodesic_metrics"] = _o_geodesic_metrics()


def _rgb20_tiles(spark):
    """3-band RGB derived from byte20: r = v, g = 255-v, b = 3v mod 256."""
    import pandas as pd

    from gdal_spark.fixtures import BYTE20, BYTE20_SPEC

    r = BYTE20.astype("uint8")
    g = (255 - BYTE20).astype("uint8")
    b = ((BYTE20.astype("int64") * 3) % 256).astype("uint8")
    ts = BYTE20_SPEC.tile_size
    rows = []
    for band, a in ((1, r), (2, g), (3, b)):
        rows += tilecodec.cut(a, ts, band)
    return spark.createDataFrame(pd.DataFrame(rows))


def q_mediancut_hist(spark, sf_dir):
    """Median-cut color histogram (alg/gdalmediancut.cpp:501-523): the
    5-bit-per-channel color counts of the derived RGB — the
    distributed half of GDALComputeMedianCutPCT, a pure Catalyst
    groupBy. Oracle: the same >>3 quantization + GROUP BY in SQL."""
    from gdal_spark.operators.dither import color_histogram

    h = color_histogram(_rgb20_tiles(spark), bits=5)
    return h.select(
        F.col("r").cast("bigint").alias("r"),
        F.col("g").cast("bigint").alias("g"),
        F.col("b").cast("bigint").alias("b"),
        F.col("cnt").cast("bigint").alias("cnt"),
    )


def _o_mediancut_hist() -> str:
    return (
        f"WITH pixels AS (SELECT * FROM (VALUES {_byte20_vals_sql()}) AS t(py, px, v)) "
        "SELECT CAST(v >> 3 AS BIGINT) AS r, CAST((255 - v) >> 3 AS BIGINT) AS g, "
        "CAST(((v * 3) % 256) >> 3 AS BIGINT) AS b, CAST(COUNT(*) AS BIGINT) AS cnt "
        "FROM pixels GROUP BY 1, 2, 3"
    )


QUERIES["mediancut_hist"] = q_mediancut_hist
ORACLES["mediancut_hist"] = _o_mediancut_hist()


def q_dither_indices(spark, sf_dir):
    """RGB->PCT end to end on the exact-colors path
    (gdalmediancut.cpp:547: <= nColors distinct colors at bits=8 ->
    the palette IS the distinct color set, sorted here) followed by
    GDALDitherRGB2PCT error diffusion (gdaldither.cpp) — with every
    color in the palette all errors are zero, so each pixel's index is
    the rank of its color among the sorted distinct triples, which the
    oracle reproduces with DENSE_RANK."""
    from gdal_spark.fixtures import BYTE20_SPEC
    from gdal_spark.operators.dither import compute_median_cut_pct, dither_tiles
    from gdal_spark.operators.raster import as_features

    tiles = _rgb20_tiles(spark)
    pal = compute_median_cut_pct(tiles, 256, bits=8)
    out = dither_tiles(tiles, BYTE20_SPEC, pal)
    pix = as_features(out, BYTE20_SPEC)
    return pix.select(
        F.col("py").cast("bigint").alias("py"),
        F.col("px").cast("bigint").alias("px"),
        F.col("value").cast("bigint").alias("idx"),
    )


def _o_dither_indices() -> str:
    return (
        f"WITH pixels AS (SELECT * FROM (VALUES {_byte20_vals_sql()}) AS t(py, px, v)), "
        "cols AS (SELECT py, px, v AS r, 255 - v AS g, (v * 3) % 256 AS b FROM pixels), "
        "pal AS (SELECT r, g, b, DENSE_RANK() OVER (ORDER BY r, g, b) - 1 AS idx "
        "FROM (SELECT DISTINCT r, g, b FROM cols)) "
        "SELECT CAST(c.py AS BIGINT) AS py, CAST(c.px AS BIGINT) AS px, "
        "CAST(p.idx AS BIGINT) AS idx FROM cols c JOIN pal p "
        "ON p.r = c.r AND p.g = c.g AND p.b = c.b"
    )


QUERIES["dither_indices"] = q_dither_indices
ORACLES["dither_indices"] = _o_dither_indices()


def q_pansharpen(spark, sf_dir):
    """Weighted-Brovey pansharpen end-to-end (gdalpansharpen.cpp:521):
    both spectral bands = the 2x-nearest-downsampled byte20, pan =
    byte20. pseudo_pan == the upsampled band, so factor*band == pan
    for every output band — the identity the oracle checks per pixel
    (proving the source-window join, nearest upsample at pan centers
    and the ratio arithmetic agree cross-engine)."""
    import dataclasses

    import pandas as _pd

    from gdal_spark.fixtures import BYTE20, BYTE20_SPEC, byte20_tiles
    from gdal_spark.operators.pansharpen import pansharpen
    from gdal_spark.operators.raster import RasterSpec, as_features

    ms_arr = BYTE20[::2, ::2]
    ms_spec = RasterSpec(
        width=10, height=10, gt=(440720.0, 120.0, 0.0, 3751320.0, 0.0, -120.0),
        dtype="uint8", tile_size=8,
    )
    rows = tilecodec.cut(ms_arr, 8, 1) + tilecodec.cut(ms_arr, 8, 2)
    ms = spark.createDataFrame(_pd.DataFrame(rows))
    out = pansharpen(
        byte20_tiles(spark), ms, BYTE20_SPEC, ms_spec, weights=[0.25, 0.75],
        bands=[1, 2], resample="near",
    )
    pix = as_features(out, BYTE20_SPEC)
    return pix.select(
        F.col("band").cast("bigint").alias("band"),
        F.col("py").cast("bigint").alias("py"),
        F.col("px").cast("bigint").alias("px"),
        F.col("value").cast("bigint").alias("v"),
    )


def _o_pansharpen() -> str:
    return (
        f"WITH pixels AS (SELECT * FROM (VALUES {_byte20_vals_sql()}) AS t(py, px, v)), "
        "b AS (SELECT unnest(generate_series(1, 2)) AS band) "
        "SELECT CAST(band AS BIGINT) AS band, CAST(py AS BIGINT) AS py, "
        "CAST(px AS BIGINT) AS px, CAST(v AS BIGINT) AS v FROM b CROSS JOIN pixels"
    )


QUERIES["pansharpen"] = q_pansharpen
ORACLES["pansharpen"] = _o_pansharpen()


def q_dem_slope(spark, sf_dir):
    """gdaldem slope (Horn) over byte20 through the distributed halo
    exchange; x1000 quantized — the oracle recomputes the 3x3 weighted
    central differences with clamped (edge-replicated) indices and the
    identical atan(sqrt(...)) IEEE chain in SQL."""
    from gdal_spark.fixtures import BYTE20_SPEC, byte20_tiles
    from gdal_spark.operators.focal import focal_apply, horn_slope_kernel
    from gdal_spark.operators.raster import as_features

    tiles = focal_apply(byte20_tiles(spark), BYTE20_SPEC, horn_slope_kernel(60.0, 60.0))
    pix = as_features(tiles, BYTE20_SPEC)
    return pix.select(
        F.col("py").cast("bigint").alias("py"),
        F.col("px").cast("bigint").alias("px"),
        F.floor(F.col("value") * 1000 + 0.5).cast("bigint").alias("slope1000"),
    )


def _o_dem_slope() -> str:
    def nb(dy: int, dx: int) -> str:
        return (
            "(SELECT CAST(q.v AS DOUBLE) FROM pixels q "
            f"WHERE q.py = LEAST(GREATEST(p.py + ({dy}), 0), 19) "
            f"AND q.px = LEAST(GREATEST(p.px + ({dx}), 0), 19))"
        )

    a, b, c = nb(-1, -1), nb(-1, 0), nb(-1, 1)
    d_, f = nb(0, -1), nb(0, 1)
    g, h, i = nb(1, -1), nb(1, 0), nb(1, 1)
    dzdx = f"((({c}) + 2 * ({f}) + ({i})) - (({a}) + 2 * ({d_}) + ({g}))) / 480.0"
    dzdy = f"((({g}) + 2 * ({h}) + ({i})) - (({a}) + 2 * ({b}) + ({c}))) / 480.0"
    return (
        f"WITH pixels AS (SELECT * FROM (VALUES {_byte20_vals_sql()}) AS t(py, px, v)) "
        "SELECT CAST(p.py AS BIGINT) AS py, CAST(p.px AS BIGINT) AS px, "
        f"CAST(floor(degrees(atan(sqrt(({dzdx}) * ({dzdx}) + ({dzdy}) * ({dzdy})))) * 1000 + 0.5) AS BIGINT) AS slope1000 "
        "FROM pixels p"
    )


QUERIES["dem_slope"] = q_dem_slope
ORACLES["dem_slope"] = _o_dem_slope()


def q_clip_rect(spark, sf_dir):
    """Layer-algebra Clip (ogr2ogr -clipsrc): geometric clip to the
    F2 rect; output = envelope of each clipped geometry."""
    from gdal_spark.operators.spatial import clip_to_rect, envelope_udf

    g = docs_geom(spark, sf_dir).filter(F.col("geom_error").isNull())
    clipped = clip_to_rect(g, SPAT_RECT)
    ce = envelope_udf(F.col("clip_wkt"))
    return clipped.withColumn("_ce", ce).select(
        F.col("_id").alias("doc_id"),
        F.col("_ce.minx").cast("bigint").alias("cminx"),
        F.col("_ce.miny").cast("bigint").alias("cminy"),
        F.col("_ce.maxx").cast("bigint").alias("cmaxx"),
        F.col("_ce.maxy").cast("bigint").alias("cmaxy"),
    )


def _o_clip_rect() -> str:
    minx, miny, maxx, maxy = SPAT_RECT
    return (
        f"WITH g AS ({docs_g_cte()}) SELECT doc_id, "
        f"CAST(GREATEST(gx - half, {minx}) AS BIGINT) AS cminx, "
        f"CAST(GREATEST(gy - half, {miny}) AS BIGINT) AS cminy, "
        f"CAST(LEAST(gx + half, {maxx}) AS BIGINT) AS cmaxx, "
        f"CAST(LEAST(gy + half, {maxy}) AS BIGINT) AS cmaxy "
        f"FROM g WHERE valid AND {_overlap(minx, miny, maxx, maxy)}"
    )


QUERIES["clip_rect"] = q_clip_rect
ORACLES["clip_rect"] = _o_clip_rect()


def q_zonal_raster(spark, sf_dir):
    """Raster zonal statistics (alg/zonal.cpp): byte20 pixel values
    grouped by the rasterized zone covering each pixel center."""
    from gdal_spark.fixtures import BYTE20_SPEC, byte20_tiles
    from gdal_spark.operators.zonal import rasterize_zones, zonal_stats_raster

    values = byte20_tiles(spark)
    ztiles = rasterize_zones(zones_table(spark), BYTE20_SPEC)
    out = zonal_stats_raster(values, ztiles)
    return out.select(
        F.col("zone").cast("bigint").alias("zone"),
        F.col("n_px").cast("bigint").alias("n_px"),
        F.col("sum_v").cast("bigint").alias("sum_v"),
        F.col("min_v").cast("bigint").alias("min_v"),
        F.col("max_v").cast("bigint").alias("max_v"),
    )


def _o_zonal_raster() -> str:
    from gdal_spark.fixtures import BYTE20

    vals = ", ".join(
        f"({py},{px},{int(BYTE20[py, px])})" for py in range(20) for px in range(20)
    )
    # zone fills decomposed to rects (positive covers; fid9's hole is
    # a negative cover), using the exact llrasterize interval rule:
    # px in [floor(x1+0.5), floor(x2+0.5)), scanline y+0.5 in [y1, y2)
    pos = [(fid, *_zone_env(fid)) for fid in range(8)]
    pos += [(8, 441050, 3751050, 441150, 3751300), (8, 441050, 3751050, 441450, 3751150)]
    pos += [(9, 440850, 3750480, 441050, 3750580)]
    neg = [(9, 440900, 3750500, 441000, 3750560)]

    def fill(rects):
        rows = ", ".join(f"({fid},{a},{b},{c},{d})" for fid, a, b, c, d in rects)
        return (
            f"SELECT fid, py, px FROM pixels p JOIN (VALUES {rows}) AS zr(fid, zminx, zminy, zmaxx, zmaxy) ON "
            "p.px >= CAST(floor((zr.zminx - 440720) / 60.0 + 0.5) AS INT) "
            "AND p.px < CAST(floor((zr.zmaxx - 440720) / 60.0 + 0.5) AS INT) "
            # crossing rows [y_top, y_bottom) PLUS the llrasterize
            # special case: a bottom horizontal edge exactly ON a
            # scanline (y+0.5) is filled (GDALdllImageFilledPolygon
            # dy1==dy2 right-to-left path)
            "AND ((p.py + 0.5) >= (3751320 - zr.zmaxy) / 60.0) "
            "AND ((p.py + 0.5) < (3751320 - zr.zminy) / 60.0 OR (p.py + 0.5) = (3751320 - zr.zminy) / 60.0)"
        )

    return (
        f"WITH pixels AS (SELECT * FROM (VALUES {vals}) AS t(py, px, v)), "
        f"zp AS ({fill(pos)} EXCEPT {fill(neg)}) "
        "SELECT CAST(zp.fid AS BIGINT) AS zone, COUNT(*) AS n_px, "
        "CAST(SUM(p.v) AS BIGINT) AS sum_v, CAST(MIN(p.v) AS BIGINT) AS min_v, "
        "CAST(MAX(p.v) AS BIGINT) AS max_v "
        "FROM zp JOIN pixels p ON zp.py = p.py AND zp.px = p.px GROUP BY zp.fid"
    )


QUERIES["zonal_raster"] = q_zonal_raster
ORACLES["zonal_raster"] = _o_zonal_raster()


def q_focal_sum(spark, sf_dir):
    """3x3 focal sum over byte20 via the distributed halo exchange
    (edge-replicated like gdaldem; pure-integer output)."""
    from gdal_spark.fixtures import BYTE20_SPEC, byte20_tiles
    from gdal_spark.operators.focal import focal_apply
    from gdal_spark.operators.raster import as_features

    def k(p):
        import numpy as _np

        return (
            p[:-2, :-2] + p[:-2, 1:-1] + p[:-2, 2:]
            + p[1:-1, :-2] + p[1:-1, 1:-1] + p[1:-1, 2:]
            + p[2:, :-2] + p[2:, 1:-1] + p[2:, 2:]
        )

    tiles = focal_apply(byte20_tiles(spark), BYTE20_SPEC, k)
    pix = as_features(tiles, BYTE20_SPEC)
    return pix.select(
        F.col("py").cast("bigint").alias("py"),
        F.col("px").cast("bigint").alias("px"),
        F.col("value").cast("bigint").alias("sum9"),
    )


def _o_focal_sum() -> str:
    from gdal_spark.fixtures import BYTE20

    vals = ", ".join(f"({py},{px},{int(BYTE20[py, px])})" for py in range(20) for px in range(20))
    # 9-term sum with CLAMPED indices == edge replication
    terms = []
    for dy in (-1, 0, 1):
        for dx in (-1, 0, 1):
            terms.append(
                "(SELECT v FROM pixels q WHERE q.py = LEAST(GREATEST(p.py + (" + str(dy) + "), 0), 19) "
                "AND q.px = LEAST(GREATEST(p.px + (" + str(dx) + "), 0), 19))"
            )
    return (
        f"WITH pixels AS (SELECT * FROM (VALUES {vals}) AS t(py, px, v)) "
        f"SELECT CAST(p.py AS BIGINT) AS py, CAST(p.px AS BIGINT) AS px, "
        f"CAST({' + '.join(terms)} AS BIGINT) AS sum9 FROM pixels p"
    )


QUERIES["focal_sum"] = q_focal_sum
ORACLES["focal_sum"] = _o_focal_sum()


def q_contour(spark, sf_dir):
    """Contour over byte20 (interval 50) reduced to the DISTINCT
    quantized vertex set per level — SQL-oracle-exact because every
    contour vertex is an edge crossing between adjacent pixel centers
    (t = (level-v0)/(v1-v0), identical IEEE arithmetic both engines)
    and the stitch phase never drops or adds vertices. Polyline
    topology exactness is covered by tests/test_contour.py."""
    from gdal_spark.fixtures import BYTE20_SPEC, byte20_tiles
    from gdal_spark.operators.contour import contour

    lines = contour(byte20_tiles(spark), BYTE20_SPEC, interval=50.0)
    pts = lines.select(
        "level",
        F.explode(
            F.split(F.regexp_replace("wkt", r"LINESTRING \(|\)", ""), ",")
        ).alias("pt"),
    )
    xy = F.split(F.col("pt"), " ")
    return pts.select(
        F.col("level").cast("bigint").alias("level"),
        F.floor(xy.getItem(0).cast("double") * 1000 + 0.5).cast("bigint").alias("qx"),
        F.floor(xy.getItem(1).cast("double") * 1000 + 0.5).cast("bigint").alias("qy"),
    ).distinct()


def _o_contour() -> str:
    lvl_series = (
        "SELECT 50.0 * k AS level FROM (SELECT unnest(generate_series("
        "CAST(ceil((SELECT MIN(v) FROM pixels) / 50.0) AS BIGINT), "
        "CAST(floor((SELECT MAX(v) FROM pixels) / 50.0) AS BIGINT))) AS k)"
    )
    return (
        f"WITH pixels AS (SELECT * FROM (VALUES {_byte20_vals_sql()}) AS t(py, px, v)), "
        f"lv AS ({lvl_series}), "
        "hc AS (SELECT level, p.px + 0.5 + (level - p.v) / (q.v - p.v) AS x, p.py + 0.5 AS y "
        "FROM pixels p JOIN pixels q ON q.py = p.py AND q.px = p.px + 1 CROSS JOIN lv "
        "WHERE (p.v >= level) != (q.v >= level)), "
        "vc AS (SELECT level, p.px + 0.5 AS x, p.py + 0.5 + (level - p.v) / (q.v - p.v) AS y "
        "FROM pixels p JOIN pixels q ON q.px = p.px AND q.py = p.py + 1 CROSS JOIN lv "
        "WHERE (p.v >= level) != (q.v >= level)) "
        "SELECT DISTINCT CAST(level AS BIGINT) AS level, "
        "CAST(floor(x * 1000 + 0.5) AS BIGINT) AS qx, "
        "CAST(floor(y * 1000 + 0.5) AS BIGINT) AS qy "
        "FROM (SELECT * FROM hc UNION ALL SELECT * FROM vc)"
    )


QUERIES["contour"] = q_contour
ORACLES["contour"] = _o_contour()


def q_translate_crop(spark, sf_dir):
    """gdal_translate -srcwin 3 2 10 12: pixel rows of the crop."""
    from gdal_spark.fixtures import BYTE20_SPEC, byte20_tiles
    from gdal_spark.operators.raster import as_features
    from gdal_spark.operators.translate import translate

    out, dspec = translate(byte20_tiles(spark), BYTE20_SPEC, srcwin=(3, 2, 10, 12))
    pix = as_features(out, dspec)
    return pix.select(
        F.col("py").cast("bigint").alias("py"),
        F.col("px").cast("bigint").alias("px"),
        F.col("value").cast("bigint").alias("v"),
    )


def _o_translate_crop() -> str:
    return (
        f"WITH pixels AS (SELECT * FROM (VALUES {_byte20_vals_sql()}) AS t(py, px, v)) "
        "SELECT CAST(py - 2 AS BIGINT) AS py, CAST(px - 3 AS BIGINT) AS px, CAST(v AS BIGINT) AS v "
        "FROM pixels WHERE px BETWEEN 3 AND 12 AND py BETWEEN 2 AND 13"
    )


def q_translate_half(spark, sf_dir):
    """gdal_translate -outsize 50% 50% nearest: src = int(0.5 + 2*i)
    (overview.cpp:126) == byte20[2i, 2j]."""
    from gdal_spark.fixtures import BYTE20_SPEC, byte20_tiles
    from gdal_spark.operators.raster import as_features
    from gdal_spark.operators.translate import translate

    out, dspec = translate(byte20_tiles(spark), BYTE20_SPEC, outsize=(10, 10))
    pix = as_features(out, dspec)
    return pix.select(
        F.col("py").cast("bigint").alias("py"),
        F.col("px").cast("bigint").alias("px"),
        F.col("value").cast("bigint").alias("v"),
    )


def _o_translate_half() -> str:
    return (
        f"WITH pixels AS (SELECT * FROM (VALUES {_byte20_vals_sql()}) AS t(py, px, v)) "
        "SELECT CAST(py / 2 AS BIGINT) AS py, CAST(px / 2 AS BIGINT) AS px, CAST(v AS BIGINT) AS v "
        "FROM pixels WHERE py % 2 = 0 AND px % 2 = 0"
    )


def q_polygonize_zones(spark, sf_dir):
    """Polygonize of the rasterized zone raster: one polygon per zone
    (zones are connected, disjoint); output = DN + world envelope of
    each polygon."""
    from gdal_spark.fixtures import BYTE20_SPEC
    from gdal_spark.operators.polygonize import polygonize
    from gdal_spark.operators.spatial import envelope_udf
    from gdal_spark.operators.zonal import rasterize_zones

    ztiles = rasterize_zones(zones_table(spark), BYTE20_SPEC)
    polys = polygonize(ztiles, BYTE20_SPEC, nodata=0.0)
    env = envelope_udf(F.col("wkt"))
    return polys.withColumn("_e", env).select(
        (F.col("dn").cast("bigint") - 1).alias("zone_fid"),
        F.col("_e.minx").cast("bigint").alias("minx"),
        F.col("_e.miny").cast("bigint").alias("miny"),
        F.col("_e.maxx").cast("bigint").alias("maxx"),
        F.col("_e.maxy").cast("bigint").alias("maxy"),
    )


def _o_polygonize_zones() -> str:
    # reuse the zonal fill CTE: per zone, pixel bbox -> world envelope
    zon = _o_zonal_raster()
    fill_part = zon[zon.index("WITH") : zon.index("SELECT CAST(zp.fid")]
    return (
        f"{fill_part} "
        "SELECT CAST(fid AS BIGINT) AS zone_fid, "
        "CAST(440720 + MIN(px) * 60 AS BIGINT) AS minx, "
        "CAST(3751320 - (MAX(py) + 1) * 60 AS BIGINT) AS miny, "
        "CAST(440720 + (MAX(px) + 1) * 60 AS BIGINT) AS maxx, "
        "CAST(3751320 - MIN(py) * 60 AS BIGINT) AS maxy "
        "FROM zp GROUP BY fid"
    )


QUERIES.update(
    {
        "translate_crop": q_translate_crop,
        "translate_half": q_translate_half,
        "polygonize_zones": q_polygonize_zones,
    }
)
ORACLES.update(
    {
        "translate_crop": _o_translate_crop(),
        "translate_half": _o_translate_half(),
        "polygonize_zones": _o_polygonize_zones(),
    }
)


def q_proximity(spark, sf_dir):
    """GDALComputeProximity over byte20: squared pixel distance to the
    nearest bright pixel (v >= 200) — exact separable EDT via two
    strip shuffles; squared output is pure-integer for the oracle."""
    from gdal_spark.fixtures import BYTE20_SPEC, byte20_tiles
    from gdal_spark.operators.proximity import proximity
    from gdal_spark.operators.raster import as_features

    src = byte20_tiles(spark)

    # target mask: v >= 200 (byte20 has a handful of bright pixels)
    def _mask(batches):
        import numpy as _np
        import pandas as _pd

        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                rows.append(tilecodec.tile_row(1, r.ty, r.tx, tilecodec.decode_row(r) >= 200, "uint8"))
            yield _pd.DataFrame(rows, columns=["band", "ty", "tx", "h", "w", "dtype", "payload"])

    from gdal_spark.operators.raster import TILE_SCHEMA

    mask = src.mapInPandas(_mask, TILE_SCHEMA)
    prox = proximity(mask, BYTE20_SPEC, squared=True, nodata=999999.0)
    pix = as_features(prox, BYTE20_SPEC)
    return pix.select(
        F.col("py").cast("bigint").alias("py"),
        F.col("px").cast("bigint").alias("px"),
        F.col("value").cast("bigint").alias("d2"),
    )


def _o_proximity() -> str:
    return (
        f"WITH pixels AS (SELECT * FROM (VALUES {_byte20_vals_sql()}) AS t(py, px, v)), "
        "targets AS (SELECT py AS qy, px AS qx FROM pixels WHERE v >= 200) "
        "SELECT CAST(p.py AS BIGINT) AS py, CAST(p.px AS BIGINT) AS px, "
        "CAST(MIN((p.py - t.qy) * (p.py - t.qy) + (p.px - t.qx) * (p.px - t.qx)) AS BIGINT) AS d2 "
        "FROM pixels p CROSS JOIN targets t GROUP BY p.py, p.px"
    )


QUERIES["proximity"] = q_proximity
ORACLES["proximity"] = _o_proximity()


def q_fill_nodata(spark, sf_dir):
    """GDALFillNodata (alg/rasterfill.cpp) on a striped byte20: rows
    py%5==0 keep their value, everything else is quadrant-IDW filled
    through the distributed halo kernel; x1000 for an integer oracle."""
    import numpy as _np
    import pandas as _pd

    from gdal_spark.fixtures import BYTE20_SPEC, byte20_tiles
    from gdal_spark.operators.fill import fill_nodata
    from gdal_spark.operators.raster import TILE_SCHEMA, as_features

    NOD = 999.0

    def _stripe(batches):
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                t = tilecodec.decode_row(r).astype(_np.float64)
                oy = r.ty * BYTE20_SPEC.tile_size
                for i in range(r.h):
                    if (oy + i) % 5 != 0:
                        t[i, :] = NOD
                rows.append(tilecodec.tile_row(1, r.ty, r.tx, t))
            yield _pd.DataFrame(rows, columns=["band", "ty", "tx", "h", "w", "dtype", "payload"])

    masked = byte20_tiles(spark).mapInPandas(_stripe, TILE_SCHEMA)
    out = fill_nodata(masked, BYTE20_SPEC, nodata=NOD, max_search_dist=6.0)
    pix = as_features(out, BYTE20_SPEC)
    return pix.select(
        F.col("py").cast("bigint").alias("py"),
        F.col("px").cast("bigint").alias("px"),
        F.floor(F.col("value") * 1000 + 0.5).cast("bigint").alias("v1000"),
    )


def _o_fill_nodata() -> str:
    """Stripe-fixture closed form: for a filled pixel the 4 quadrant
    nearest candidates are (ya,px) d=da, (yb,px) d=db, (ya,pxr)
    d=sqrt(dxr^2+da^2), (yb,pxr) d=sqrt(dxr^2+db^2) with pxr =
    min(px+1,19) (right-edge column clamp) — verified against the
    kernel; term order matches the TL,BL,TR,BR accumulation."""
    v = "(SELECT CAST(q.v AS DOUBLE) FROM pixels q WHERE q.py = {y} AND q.px = {x})"
    va0 = v.format(y="c.ya", x="c.px")
    vb0 = v.format(y="c.yb", x="c.px")
    va1 = v.format(y="c.ya", x="c.pxr")
    vb1 = v.format(y="c.yb", x="c.pxr")
    return (
        f"WITH pixels AS (SELECT * FROM (VALUES {_byte20_vals_sql()}) AS t(py, px, v)), "
        "c AS (SELECT py, px, v, CAST(floor(py/5.0) AS BIGINT)*5 AS ya, CAST(floor(py/5.0) AS BIGINT)*5 + 5 AS yb, "
        "py - CAST(floor(py/5.0) AS BIGINT)*5 AS da, CAST(floor(py/5.0) AS BIGINT)*5 + 5 - py AS db, "
        "LEAST(px + 1, 19) AS pxr, LEAST(px + 1, 19) - px AS dxr, "
        "(CAST(floor(py/5.0) AS BIGINT)*5 <= 10) AS has_b FROM pixels) "
        "SELECT CAST(py AS BIGINT) AS py, CAST(px AS BIGINT) AS px, "
        "CAST(CASE WHEN py % 5 = 0 THEN v * 1000 ELSE floor(1000 * ("
        f"  ({va0} / da "
        f"   + (CASE WHEN has_b THEN {vb0} / db ELSE 0 END) "
        f"   + {va1} / sqrt(dxr*dxr + da*da) "
        f"   + (CASE WHEN has_b THEN {vb1} / sqrt(dxr*dxr + db*db) ELSE 0 END)) "
        "  / (1.0/da + (CASE WHEN has_b THEN 1.0/db ELSE 0 END) "
        "     + 1.0/sqrt(dxr*dxr + da*da) "
        "     + (CASE WHEN has_b THEN 1.0/sqrt(dxr*dxr + db*db) ELSE 0 END))"
        ") + 0.5) END AS BIGINT) AS v1000 FROM c"
    )


QUERIES["fill_nodata"] = q_fill_nodata
ORACLES["fill_nodata"] = _o_fill_nodata()


def q_geom_ops(spark, sf_dir):
    """Geometry constructors end-to-end (ogrgeometry.cpp Centroid
    :6526, ConvexHull :4449, Distance :3818): per doc square, the
    centroid (== the generator point for squares), the convex hull
    area (== the square area) and the exact distance to the F2 rect,
    all through the real kernels — the oracle re-derives each from
    rect arithmetic."""
    from gdal_spark.operators.spatial import area_udf
    from gdal_spark.operators.st_funcs import st_centroid, st_convex_hull, st_distance

    g = docs_geom(spark, sf_dir).filter(
        F.col("geom_error").isNull() & F.col("wkt").startswith("POLYGON")
    )
    c = st_centroid(F.col("wkt"))
    return g.select(
        F.col("_id").alias("doc_id"),
        F.regexp_extract(c, r"POINT \(([-\d.e+]+) ", 1).cast("double").cast("bigint").alias("cx"),
        F.regexp_extract(c, r" ([-\d.e+]+)\)", 1).cast("double").cast("bigint").alias("cy"),
        F.round(area_udf(st_convex_hull(F.col("wkt")))).cast("bigint").alias("hull_area"),
        F.floor(st_distance(F.col("wkt"), F.lit(SPAT_RECT_WKT)) * 1000 + 0.5)
        .cast("bigint")
        .alias("dist1000"),
    )


def _o_geom_ops() -> str:
    rminx, rminy, rmaxx, rmaxy = SPAT_RECT
    dx = f"GREATEST(0, {rminx} - (gx + half), (gx - half) - {rmaxx})"
    dy = f"GREATEST(0, {rminy} - (gy + half), (gy - half) - {rmaxy})"
    return (
        f"WITH g AS ({docs_g_cte()}) SELECT doc_id, "
        "CAST(gx AS BIGINT) AS cx, CAST(gy AS BIGINT) AS cy, "
        "CAST(4 * half * half AS BIGINT) AS hull_area, "
        f"CAST(floor(sqrt(CAST({dx} AS DOUBLE) * {dx} + CAST({dy} AS DOUBLE) * {dy}) * 1000 + 0.5) AS BIGINT) AS dist1000 "
        "FROM g WHERE valid AND is_poly"
    )


QUERIES["geom_ops"] = q_geom_ops
ORACLES["geom_ops"] = _o_geom_ops()


def q_gc_metrics(spark, sf_dir):
    """GEOMETRYCOLLECTION end-to-end through the Arrow parse path
    (r3: ogr_geometry.h OGRGeometryCollection — parse, envelope
    union-of-members, get_Area = surface members only): per doc a
    synthesized GC of one POINT + one offset square; the oracle
    re-derives envelope/area from the integer generators."""
    from gdal_spark.operators.spatial import area_udf, envelope_udf

    d = load(spark, sf_dir, "documents").select("doc_id").filter(F.col("doc_id") < 300)
    gx = F.col("doc_id") % 50 + 100
    gy = F.col("doc_id") % 30 + 200
    h = F.col("doc_id") % 4 + 1
    cx, cy = gx + 20, gy + 5
    s = lambda v: v.cast("string")  # noqa: E731
    wkt = F.concat(
        F.lit("GEOMETRYCOLLECTION (POINT ("), s(gx), F.lit(" "), s(gy),
        F.lit("), POLYGON (("),
        s(cx - h), F.lit(" "), s(cy - h), F.lit(","),
        s(cx - h), F.lit(" "), s(cy + h), F.lit(","),
        s(cx + h), F.lit(" "), s(cy + h), F.lit(","),
        s(cx + h), F.lit(" "), s(cy - h), F.lit(","),
        s(cx - h), F.lit(" "), s(cy - h), F.lit(")))"),
    )
    g = d.withColumn("_w", wkt).withColumn("_env", envelope_udf(F.col("_w")))
    return g.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.col("_env.minx").cast("bigint").alias("minx"),
        F.col("_env.miny").cast("bigint").alias("miny"),
        F.col("_env.maxx").cast("bigint").alias("maxx"),
        F.col("_env.maxy").cast("bigint").alias("maxy"),
        area_udf(F.col("_w")).cast("bigint").alias("area"),
    )


def _o_gc_metrics() -> str:
    return (
        "WITH g AS (SELECT doc_id, doc_id % 50 + 100 AS gx, doc_id % 30 + 200 AS gy, "
        "doc_id % 4 + 1 AS h FROM documents WHERE doc_id < 300) "
        "SELECT CAST(doc_id AS BIGINT) AS doc_id, "
        "CAST(LEAST(gx, gx + 20 - h) AS BIGINT) AS minx, "
        "CAST(LEAST(gy, gy + 5 - h) AS BIGINT) AS miny, "
        "CAST(GREATEST(gx, gx + 20 + h) AS BIGINT) AS maxx, "
        "CAST(GREATEST(gy, gy + 5 + h) AS BIGINT) AS maxy, "
        "CAST(4 * h * h AS BIGINT) AS area FROM g"
    )


QUERIES["gc_metrics"] = q_gc_metrics
ORACLES["gc_metrics"] = _o_gc_metrics()


def q_grid_metrics(spark, sf_dir):
    """Grid modes beyond IDW (alg/gdalgrid.cpp GGA_MetricCount /
    GGA_MovingAverage / metrics): doc points gridded onto the byte20
    matrix with a 90-unit search radius; per non-empty cell the point
    count, moving average (x1000), min and max of n_chars."""
    import dataclasses

    from gdal_spark.fixtures import BYTE20_SPEC
    from gdal_spark.operators.grid import grid_points
    from gdal_spark.operators.raster import as_features

    fspec = dataclasses.replace(BYTE20_SPEC, dtype="float64")
    g = docs_geom(spark, sf_dir)
    pts = g.filter(
        F.col("geom_error").isNull() & (F.col("env_minx") == F.col("env_maxx"))
    ).select(
        F.col("env_minx").alias("x"), F.col("env_miny").alias("y"),
        F.col("n_chars").cast("double").alias("z"),
    )
    R = 90.0

    def pix(algo):
        t = grid_points(pts, fspec, algo=algo, radius=R, nodata=-1.0)
        p = as_features(t, fspec)
        return p.select("py", "px", F.col("value").alias(algo))

    out = (
        pix("count")
        .join(pix("average"), ["py", "px"])
        .join(pix("minimum"), ["py", "px"])
        .join(pix("maximum"), ["py", "px"])
        .filter(F.col("count") > 0)
    )
    return out.select(
        F.col("py").cast("bigint").alias("py"),
        F.col("px").cast("bigint").alias("px"),
        F.col("count").cast("bigint").alias("n"),
        F.floor(F.col("average") * 1000 + 0.5).cast("bigint").alias("avg1000"),
        F.col("minimum").cast("bigint").alias("min_z"),
        F.col("maximum").cast("bigint").alias("max_z"),
    )


def _o_grid_metrics() -> str:
    return (
        f"WITH g AS ({docs_g_cte()}), "
        "p AS (SELECT gx, gy, n_chars FROM g WHERE valid AND NOT is_poly), "
        "cells AS (SELECT py, px, 440720 + (px + 0.5) * 60 AS cx, 3751320 - (py + 0.5) * 60 AS cy "
        "FROM (SELECT unnest(generate_series(0, 19)) AS py) CROSS JOIN (SELECT unnest(generate_series(0, 19)) AS px)) "
        "SELECT CAST(py AS BIGINT) AS py, CAST(px AS BIGINT) AS px, COUNT(*) AS n, "
        "CAST(floor(1000.0 * SUM(p.n_chars) / COUNT(*) + 0.5) AS BIGINT) AS avg1000, "
        "CAST(MIN(p.n_chars) AS BIGINT) AS min_z, CAST(MAX(p.n_chars) AS BIGINT) AS max_z "
        "FROM cells JOIN p ON (cx - p.gx) * (cx - p.gx) + (cy - p.gy) * (cy - p.gy) <= 8100 "
        "GROUP BY py, px"
    )


QUERIES["grid_metrics"] = q_grid_metrics
ORACLES["grid_metrics"] = _o_grid_metrics()


_ELL_R1, _ELL_R2, _ELL_ANGLE = 120.0, 60.0, 30.0


def q_grid_ellipse(spark, sf_dir):
    """Rotated-search-ellipse gridding (gdalgrid.cpp:124-160
    poOptions->dfRadius1/dfRadius2/dfAngle): doc points gridded with a
    120x60-unit ellipse rotated 30 degrees CCW; per non-empty cell the
    in-ellipse count and moving average (x1000) of n_chars. The
    oracle replays the exact rotation arithmetic (same cos/sin
    doubles, same product order) in SQL."""
    import dataclasses

    from gdal_spark.fixtures import BYTE20_SPEC
    from gdal_spark.operators.grid import grid_points
    from gdal_spark.operators.raster import as_features

    fspec = dataclasses.replace(BYTE20_SPEC, dtype="float64")
    g = docs_geom(spark, sf_dir)
    pts = g.filter(
        F.col("geom_error").isNull() & (F.col("env_minx") == F.col("env_maxx"))
    ).select(
        F.col("env_minx").alias("x"), F.col("env_miny").alias("y"),
        F.col("n_chars").cast("double").alias("z"),
    )

    def pix(algo):
        t = grid_points(pts, fspec, algo=algo, radius=_ELL_R1, radius2=_ELL_R2,
                        angle=_ELL_ANGLE, nodata=-1.0)
        p = as_features(t, fspec)
        return p.select("py", "px", F.col("value").alias(algo))

    out = pix("count").join(pix("average"), ["py", "px"]).filter(F.col("count") > 0)
    return out.select(
        F.col("py").cast("bigint").alias("py"),
        F.col("px").cast("bigint").alias("px"),
        F.col("count").cast("bigint").alias("n"),
        F.floor(F.col("average") * 1000 + 0.5).cast("bigint").alias("avg1000"),
    )


def _o_grid_ellipse() -> str:
    import numpy as np

    ang = float(np.deg2rad(_ELL_ANGLE))
    cos_a, sin_a = float(np.cos(ang)), float(np.sin(ang))
    r1sq, r2sq = _ELL_R1 * _ELL_R1, _ELL_R2 * _ELL_R2
    r12sq = r1sq * r2sq
    d = lambda v: f"CAST({v!r} AS DOUBLE)"  # noqa: E731 — DuckDB reads long decimal literals as DECIMAL, not DOUBLE
    dx, dy = "(p.gx - cx)", "(p.gy - cy)"
    rx = f"({dx} * {d(cos_a)} + {dy} * {d(sin_a)})"
    ry = f"({dy} * {d(cos_a)} - {dx} * {d(sin_a)})"
    member = f"{d(r2sq)} * {rx} * {rx} + {d(r1sq)} * {ry} * {ry} <= {d(r12sq)}"
    return (
        f"WITH g AS ({docs_g_cte()}), "
        "p AS (SELECT gx, gy, n_chars FROM g WHERE valid AND NOT is_poly), "
        "cells AS (SELECT py, px, 440720 + (px + 0.5) * 60 AS cx, 3751320 - (py + 0.5) * 60 AS cy "
        "FROM (SELECT unnest(generate_series(0, 19)) AS py) CROSS JOIN (SELECT unnest(generate_series(0, 19)) AS px)) "
        "SELECT CAST(py AS BIGINT) AS py, CAST(px AS BIGINT) AS px, COUNT(*) AS n, "
        "CAST(floor(1000.0 * SUM(p.n_chars) / COUNT(*) + 0.5) AS BIGINT) AS avg1000 "
        f"FROM cells JOIN p ON {member} "
        "GROUP BY py, px"
    )


QUERIES["grid_ellipse"] = q_grid_ellipse
ORACLES["grid_ellipse"] = _o_grid_ellipse()


# datum grid-shift fixture: a 21x41 lattice over lat 30..40, lon
# -120..-100 sampling analytic arc-second fields (bilinear in lon/lat,
# so every node value is SQL-expressible); doc coords map affinely
# into the window
_GS_LATF = "0.8 + 0.01 * ({lon} + 120) + 0.02 * ({lat} - 30)"
_GS_LONF = "1.5 - 0.03 * ({lon} + 120) + 0.005 * ({lat} - 30)"


def _gs_grid():
    from gdal_spark.geom.gridshift import GridShift, synthetic_grid

    return GridShift([
        synthetic_grid(
            lat_min=30.0, lon_min=-120.0, dlat=0.5, dlon=0.5, nrows=21, ncols=41,
            lat_fn=lambda lon, lat: 0.8 + 0.01 * (lon + 120) + 0.02 * (lat - 30),
            lon_fn=lambda lon, lat: 1.5 - 0.03 * (lon + 120) + 0.005 * (lat - 30),
        )
    ])


def q_datum_shift(spark, sf_dir):
    """NTv2-semantics horizontal datum shift (geom/gridshift.py — the
    PROJ hgridshift role in ogrct.cpp pipelines): doc points mapped
    into the grid window, shifted via broadcast bilinear lattice
    lookup inside mapInPandas (the distributed reprojection shape).
    The oracle replays node synthesis, index/fraction math and the
    4-term bilinear combination with identical double arithmetic."""
    import pandas as pd

    g = docs_geom(spark, sf_dir)
    pts = g.filter(
        F.col("geom_error").isNull() & (F.col("env_minx") == F.col("env_maxx"))
    ).select(
        F.col("_id").alias("doc_id"),
        (F.lit(-120.0) + (F.col("env_minx") - F.lit(440720.0)) / F.lit(200.0)).alias("lon"),
        (F.lit(30.0) + (F.lit(3751320.0) - F.col("env_miny")) / F.lit(200.0)).alias("lat"),
    )
    bc = spark.sparkContext.broadcast(_gs_grid())

    def _shift(batches):
        for pdf in batches:
            lon2, lat2 = bc.value.forward(pdf["lon"].to_numpy(), pdf["lat"].to_numpy())
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "lon2": lon2, "lat2": lat2})

    out = pts.mapInPandas(_shift, "doc_id long, lon2 double, lat2 double")
    return out.select(
        "doc_id",
        F.floor(F.col("lon2") * 1e6).cast("bigint").alias("lon2_u"),
        F.floor(F.col("lat2") * 1e6).cast("bigint").alias("lat2_u"),
    )


def _o_datum_shift() -> str:
    # node value at integer lattice indices (i, j): the analytic field
    # evaluated exactly as synthetic_grid does (lon = lon_min + dlon*j
    # computed as double, then the field polynomial)
    nlon = "(-120.0 + 0.5 * ({j}))"
    nlat = "(30.0 + 0.5 * ({i}))"

    def node(f: str, i: str, j: str) -> str:
        return "(" + f.format(lon=nlon.format(j=j), lat=nlat.format(i=i)) + ")"

    def bil(f: str) -> str:
        # numpy: fi=(lat-30)/0.5; i0=clip(floor(fi),0,19); ti=fi-i0
        # (identical double ops here); 4-term combination in the same
        # order as ShiftGrid.interpolate
        return (
            f"({node(f, 'i0', 'j0')} * (1 - ti) * (1 - tj) "
            f"+ {node(f, 'i0', 'j0 + 1')} * (1 - ti) * tj "
            f"+ {node(f, 'i0 + 1', 'j0')} * ti * (1 - tj) "
            f"+ {node(f, 'i0 + 1', 'j0 + 1')} * ti * tj)"
        )

    return (
        f"WITH g AS ({docs_g_cte()}), "
        "p AS (SELECT doc_id, -120.0 + (gx - 440720.0) / 200.0 AS lon, "
        "30.0 + (3751320.0 - gy) / 200.0 AS lat FROM g WHERE valid AND NOT is_poly), "
        "fr AS (SELECT doc_id, lon, lat, (lat - 30.0) / 0.5 AS fi, (lon - -120.0) / 0.5 AS fj FROM p), "
        "ix AS (SELECT doc_id, lon, lat, fi, fj, "
        "LEAST(GREATEST(CAST(floor(fi) AS BIGINT), 0), 19) AS i0, "
        "LEAST(GREATEST(CAST(floor(fj) AS BIGINT), 0), 39) AS j0 FROM fr), "
        "tv AS (SELECT doc_id, lon, lat, i0, j0, fi - i0 AS ti, fj - j0 AS tj FROM ix), "
        f"sh AS (SELECT doc_id, lon - {bil(_GS_LONF)} / 3600.0 AS lon2, "
        f"lat + {bil(_GS_LATF)} / 3600.0 AS lat2 FROM tv) "
        "SELECT doc_id, CAST(floor(lon2 * 1000000.0) AS BIGINT) AS lon2_u, "
        "CAST(floor(lat2 * 1000000.0) AS BIGINT) AS lat2_u FROM sh"
    )


QUERIES["datum_shift"] = q_datum_shift
ORACLES["datum_shift"] = _o_datum_shift()


def q_graph_components(spark, sf_dir):
    """GNM ConnectedComponents (gnm/gnmgraph.cpp:427): nations chained
    within their region -> one component per region, id = min key."""
    from pyspark.sql import Window as _W

    from gdal_spark.operators.graph import connected_components

    n = load(spark, sf_dir, "nation")
    w = _W.partitionBy("n_regionkey").orderBy("n_nationkey")
    edges = (
        n.withColumn("_prev", F.lag("n_nationkey").over(w))
        .filter(F.col("_prev").isNotNull())
        .select(F.col("_prev").alias("src"), F.col("n_nationkey").alias("dst"))
    )
    out = connected_components(edges)
    return out.select(
        F.col("node").cast("bigint").alias("node"),
        F.col("component").cast("bigint").alias("component"),
    )


def _o_graph_components() -> str:
    return (
        "SELECT CAST(n_nationkey AS BIGINT) AS node, "
        "CAST(MIN(n_nationkey) OVER (PARTITION BY n_regionkey) AS BIGINT) AS component "
        "FROM nation"
    )


def q_graph_shortest_ring(spark, sf_dir):
    """GNM DijkstraShortestPath (gnm/gnmgraph.cpp:185) on a weighted
    undirected ring over the 25 nations (edge i->(i+1)%25, weight
    1 + i%7), source 0 — distributed Bellman-Ford; the oracle is the
    ring's closed-form min(clockwise, counterclockwise) prefix sums."""
    from gdal_spark.operators.graph import shortest_paths, symmetrize

    n = load(spark, sf_dir, "nation")
    edges = n.select(
        F.col("n_nationkey").alias("src"),
        ((F.col("n_nationkey") + 1) % 25).alias("dst"),
        (1 + F.col("n_nationkey") % 7).cast("double").alias("weight"),
    )
    out = shortest_paths(symmetrize(edges), 0)
    return out.select(
        F.col("node").cast("bigint").alias("node"),
        F.col("dist").cast("bigint").alias("dist"),
    )


def _o_graph_shortest_ring() -> str:
    return (
        "WITH w AS (SELECT n_nationkey AS k, 1 + (n_nationkey % 7) AS wt FROM nation), "
        "p AS (SELECT k, SUM(wt) OVER (ORDER BY k ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pre FROM w), "
        "t AS (SELECT SUM(wt) AS total FROM w) "
        "SELECT CAST(k AS BIGINT) AS node, "
        "CAST(LEAST(COALESCE(pre, 0), (SELECT total FROM t) - COALESCE(pre, 0)) AS BIGINT) AS dist FROM p"
    )


def q_embed_near_dup(spark, sf_dir):
    """Embedding-cosine near-duplicate pairs: engineered near-dups
    (vec_id+100000 with the last component zeroed) found via the
    LSH-bucketed self-join + exact quantized-cosine verify (never
    all-pairs)."""
    from gdal_spark.similarity import embedding_near_dup_pairs

    emb = load(spark, sf_dir, "embeddings")
    dup = emb.select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.expr(
            "transform(embedding, (x, i) -> CASE WHEN i = 63 THEN CAST(0.0 AS FLOAT) ELSE x END)"
        ).alias("embedding"),
    )
    base = emb.select("vec_id", "embedding").unionByName(dup)
    return embedding_near_dup_pairs(base, dims=64, threshold=0.9, planes=8)


def _o_embed_near_dup() -> str:
    from gdal_spark.similarity import lsh_bucket_sql, quant_cosine_sql

    qc = quant_cosine_sql("l.embedding", "r.embedding", 64)
    return (
        "WITH dup AS (SELECT vec_id + 100000 AS vec_id, "
        "list_transform(generate_series(1, 64), i -> CASE WHEN i = 64 THEN CAST(0 AS FLOAT) ELSE embedding[i] END) AS embedding "
        "FROM embeddings), "
        "base AS (SELECT vec_id, embedding FROM embeddings UNION ALL SELECT vec_id, embedding FROM dup), "
        f"b AS (SELECT vec_id, embedding, {lsh_bucket_sql('embedding', 64, 8)} AS bucket FROM base) "
        f"SELECT l.vec_id AS a, r.vec_id AS b, CAST(floor({qc} * 1000) AS BIGINT) AS cos1000 "
        "FROM b l JOIN b r ON l.bucket = r.bucket AND l.vec_id < r.vec_id "
        f"WHERE {qc} >= 0.9"
    )


def q_vector_translate(spark, sf_dir):
    """The ogr2ogr stage chain end-to-end (ogr2ogr_lib.cpp:6507):
    -where on an attribute, -clipsrc to the F2 rect, exact clipped
    area out — WHERE runs through the OGR SQL compiler, the clip
    through the overlay kernel, in the reference stage order."""
    from gdal_spark.operators.spatial import area_udf
    from gdal_spark.operators.vector_translate import vector_translate

    g = docs_geom(spark, sf_dir).filter(
        F.col("geom_error").isNull() & F.col("wkt").startswith("POLYGON")
    )
    out = vector_translate(
        g.select(F.col("_id").alias("doc_id"), "n_chars", "wkt"),
        where="n_chars > 200",
        clip_src=SPAT_RECT_WKT,
        select=["doc_id"],
    )
    return out.select(
        "doc_id", F.round(area_udf(F.col("wkt"))).cast("bigint").alias("clip_area")
    )


def _o_vector_translate() -> str:
    minx, miny, maxx, maxy = SPAT_RECT
    # (same arithmetic as _rect_piece_area, which is defined later in
    # the module than this oracle's build time)
    area = (
        f"(GREATEST(0, LEAST(gx + half, {maxx}) - GREATEST(gx - half, {minx})) * "
        f"GREATEST(0, LEAST(gy + half, {maxy}) - GREATEST(gy - half, {miny})))"
    )
    return (
        f"WITH g AS ({docs_g_cte()}) SELECT doc_id, CAST({area} AS BIGINT) AS clip_area "
        f"FROM g WHERE valid AND is_poly AND n_chars > 200 AND {area} > 0"
    )


QUERIES.update(
    {
        "graph_components": q_graph_components,
        "graph_shortest_ring": q_graph_shortest_ring,
        "embed_near_dup": q_embed_near_dup,
        "vector_translate": q_vector_translate,
    }
)
ORACLES.update(
    {
        "graph_components": _o_graph_components(),
        "graph_shortest_ring": _o_graph_shortest_ring(),
        "embed_near_dup": _o_embed_near_dup(),
        "vector_translate": _o_vector_translate(),
    }
)


def _rect_piece_area(minx, miny, maxx, maxy) -> str:
    """SQL: area of doc-square ∩ axis rect (0 when disjoint/touching)."""
    return (
        f"(GREATEST(0, LEAST(gx + half, {maxx}) - GREATEST(gx - half, {minx})) * "
        f"GREATEST(0, LEAST(gy + half, {maxy}) - GREATEST(gy - half, {miny})))"
    )


def _zone_piece_area_sql(fid: int) -> str:
    """Exact area of doc-square ∩ zone fid via rect arithmetic:
    plain rect for 0-7; inclusion-exclusion for the L-shape (8);
    outer-minus-hole for 9 (zones are pairwise disjoint)."""
    if fid < 8:
        return _rect_piece_area(*_zone_env(fid))
    if fid == 8:
        r1 = (441050, 3751050, 441150, 3751300)
        r2 = (441050, 3751050, 441450, 3751150)
        r12 = (441050, 3751050, 441150, 3751150)
        return f"({_rect_piece_area(*r1)} + {_rect_piece_area(*r2)} - {_rect_piece_area(*r12)})"
    outer = (440850, 3750480, 441050, 3750580)
    hole = (440900, 3750500, 441000, 3750560)
    return f"({_rect_piece_area(*outer)} - {_rect_piece_area(*hole)})"


def _docs_for_overlay(spark, sf_dir):
    g = docs_geom(spark, sf_dir).filter(
        F.col("geom_error").isNull() & F.col("wkt").isNotNull()
    )
    return g.select(F.col("_id").alias("doc_id"), "wkt")


def q_overlay_intersection(spark, sf_dir):
    """Layer algebra Intersection (ogrlayer.cpp:5385): one piece per
    intersecting (doc, zone) pair through the general snap-rounded
    overlay kernel; output = exact piece area (KLDG=NO: zero-area
    polygon-x-polygon contact is dropped; polygon-x-point pairs keep
    the point, area 0)."""
    from gdal_spark.operators.layer_algebra import layer_algebra
    from gdal_spark.operators.spatial import area_udf

    zones = zones_table(spark).withColumn("zfid", F.col("fid"))
    out = layer_algebra(_docs_for_overlay(spark, sf_dir), zones, "intersection")
    return out.select(
        "doc_id",
        F.col("zfid").cast("bigint").alias("zone_fid"),
        F.round(area_udf(F.col("wkt"))).cast("bigint").alias("piece_area"),
    )


def q_overlay_identity(spark, sf_dir):
    """Layer algebra Identity (ogrlayer.cpp:6770): intersection pieces
    + per-doc leftovers (doc − union of matched zones, zone_fid NULL)."""
    from gdal_spark.operators.layer_algebra import layer_algebra
    from gdal_spark.operators.spatial import area_udf

    zones = zones_table(spark).withColumn("zfid", F.col("fid"))
    out = layer_algebra(_docs_for_overlay(spark, sf_dir), zones, "identity")
    return out.select(
        "doc_id",
        F.col("zfid").cast("bigint").alias("zone_fid"),
        F.round(area_udf(F.col("wkt"))).cast("bigint").alias("piece_area"),
    )


def _o_overlay_intersection() -> str:
    parts = []
    for fid in range(10):
        area = _zone_piece_area_sql(fid)
        parts.append(
            f"SELECT doc_id, CAST({fid} AS BIGINT) AS zone_fid, "
            f"CAST({area} AS BIGINT) AS piece_area FROM g WHERE valid AND "
            f"((is_poly AND {area} > 0) OR ((NOT is_poly) AND {zone_intersects_sql(fid)}))"
        )
    return f"WITH g AS ({docs_g_cte()}) " + " UNION ALL ".join(parts)


def _o_overlay_identity() -> str:
    total = " + ".join(_zone_piece_area_sql(fid) for fid in range(10))
    any_hit = " OR ".join(zone_intersects_sql(fid) for fid in range(10))
    leftovers = (
        "SELECT doc_id, CAST(NULL AS BIGINT) AS zone_fid, "
        f"CAST((CASE WHEN is_poly THEN 4 * half * half ELSE 0 END) - ({total}) AS BIGINT) AS piece_area "
        "FROM g WHERE valid AND ("
        f"(is_poly AND (4 * half * half) - ({total}) > 0) "
        f"OR ((NOT is_poly) AND NOT ({any_hit})))"
    )
    return f"{_o_overlay_intersection()} UNION ALL {leftovers}"


def q_st_relations(spark, sf_dir):
    """Exact geometry predicates Within/Touches/Overlaps per
    intersecting (doc-square, zone) pair (ogrgeometry.cpp:6262,
    :6082, :6409), evaluated by the area-based DE-9IM kernel."""
    from gdal_spark.operators.st_funcs import st_overlaps, st_touches, st_within

    g = docs_geom(spark, sf_dir).filter(
        F.col("geom_error").isNull() & F.col("wkt").startswith("POLYGON")
    )
    j = spatial_join(g, zones_table(spark))
    z = zones_table(spark).select("fid", F.col("wkt").alias("zwkt"))
    j = j.join(F.broadcast(z), j["zone_fid"] == z["fid"])
    return j.select(
        F.col("_id").alias("doc_id"),
        F.col("zone_fid").cast("bigint").alias("zone_fid"),
        st_within(F.col("wkt"), F.col("zwkt")).alias("within_zone"),
        st_touches(F.col("wkt"), F.col("zwkt")).alias("touches_zone"),
        st_overlaps(F.col("wkt"), F.col("zwkt")).alias("overlaps_zone"),
    )


_ZONE_AREAS = {
    **{fid: (lambda e: (e[2] - e[0]) * (e[3] - e[1]))(_zone_env(fid)) for fid in range(8)},
    8: 100 * 250 + 400 * 100 - 100 * 100,
    9: 200 * 100 - 100 * 60,
}


def _o_st_relations() -> str:
    parts = []
    for fid in range(10):
        piece = _zone_piece_area_sql(fid)
        doc_area = "(4 * half * half)"
        parts.append(
            f"SELECT doc_id, CAST({fid} AS BIGINT) AS zone_fid, "
            f"({piece} = {doc_area}) AS within_zone, "
            f"({piece} = 0) AS touches_zone, "
            f"({piece} > 0 AND {piece} < {doc_area} AND {piece} < {_ZONE_AREAS[fid]}) AS overlaps_zone "
            f"FROM g WHERE valid AND is_poly AND {zone_intersects_sql(fid)}"
        )
    return f"WITH g AS ({docs_g_cte()}) " + " UNION ALL ".join(parts)


QUERIES.update(
    {
        "overlay_intersection": q_overlay_intersection,
        "overlay_identity": q_overlay_identity,
        "st_relations": q_st_relations,
    }
)
ORACLES.update(
    {
        "overlay_intersection": _o_overlay_intersection(),
        "overlay_identity": _o_overlay_identity(),
        "st_relations": _o_st_relations(),
    }
)


def _layers(spark, sf_dir):
    return {t: load(spark, sf_dir, t) for t in ("lineitem", "orders", "customer", "supplier")}


def q_ogrsql_summary(spark, sf_dir):
    """OGR SQL dialect end-to-end: summary record through the swq
    parser + OGR semantics (SWQM_SUMMARY_RECORD)."""
    from gdal_spark.ogr_sql import execute

    df = execute(
        spark,
        "SELECT COUNT(*) AS cnt, MIN(l_quantity) AS min_q, MAX(l_quantity) AS max_q, "
        "COUNT(DISTINCT l_returnflag) AS flags FROM lineitem WHERE l_quantity > 25",
        _layers(spark, sf_dir),
    )
    return df.select(
        F.col("cnt").cast("bigint"), "min_q", "max_q", F.col("flags").cast("bigint")
    )


def q_ogrsql_where_order(spark, sf_dir):
    """Dialect: WHERE w/ BETWEEN + LIKE, ORDER BY ... LIMIT/OFFSET."""
    from gdal_spark.ogr_sql import execute

    return execute(
        spark,
        "SELECT o_orderkey, o_totalprice FROM orders "
        "WHERE o_totalprice BETWEEN 1000 AND 50000 AND o_orderpriority LIKE '%HIGH' "
        "ORDER BY o_totalprice DESC, o_orderkey LIMIT 20 OFFSET 3",
        _layers(spark, sf_dir),
    )


def q_ogrsql_join(spark, sf_dir):
    """Dialect: first-match LEFT JOIN (ogr_gensql.cpp:1515 1:1)."""
    from gdal_spark.ogr_sql import execute

    df = execute(
        spark,
        "SELECT c_custkey, o_orderkey FROM customer LEFT JOIN orders ON customer.c_custkey = orders.o_custkey",
        _layers(spark, sf_dir),
    )
    return df


ORACLES.update(
    {
        "ogrsql_summary": (
            "SELECT COUNT(*) AS cnt, MIN(l_quantity) AS min_q, MAX(l_quantity) AS max_q, "
            "COUNT(DISTINCT l_returnflag) AS flags FROM lineitem WHERE l_quantity > 25"
        ),
        "ogrsql_where_order": (
            "SELECT o_orderkey, o_totalprice FROM orders "
            "WHERE o_totalprice BETWEEN 1000 AND 50000 AND o_orderpriority LIKE '%HIGH' "
            "ORDER BY o_totalprice DESC, o_orderkey LIMIT 20 OFFSET 3"
        ),
        "ogrsql_join": (
            "SELECT c_custkey, o.o_orderkey FROM customer c LEFT JOIN "
            "(SELECT o_custkey, MIN(o_orderkey) AS o_orderkey FROM orders GROUP BY o_custkey) o "
            "ON c.c_custkey = o.o_custkey"
        ),
    }
)
QUERIES.update(
    {
        "ogrsql_summary": q_ogrsql_summary,
        "ogrsql_where_order": q_ogrsql_where_order,
        "ogrsql_join": q_ogrsql_join,
    }
)


def q_dem_hillshade(spark, sf_dir):
    """gdaldem hillshade (Horn derivatives + lambertian shade, output
    1..255) x1000 quantized; oracle = the identical IEEE chain in SQL."""
    from gdal_spark.fixtures import BYTE20_SPEC, byte20_tiles
    from gdal_spark.operators.focal import focal_apply, hillshade_kernel
    from gdal_spark.operators.raster import as_features

    tiles = focal_apply(byte20_tiles(spark), BYTE20_SPEC, hillshade_kernel(60.0, 60.0))
    pix = as_features(tiles, BYTE20_SPEC)
    return pix.select(
        F.col("py").cast("bigint").alias("py"),
        F.col("px").cast("bigint").alias("px"),
        F.floor(F.col("value") * 1000 + 0.5).cast("bigint").alias("shade1000"),
    )


def _o_dem_hillshade() -> str:
    def nb(dy: int, dx: int) -> str:
        return (
            "(SELECT CAST(q.v AS DOUBLE) FROM pixels q "
            f"WHERE q.py = LEAST(GREATEST(p.py + ({dy}), 0), 19) "
            f"AND q.px = LEAST(GREATEST(p.px + ({dx}), 0), 19))"
        )

    a, b, c = nb(-1, -1), nb(-1, 0), nb(-1, 1)
    d_, f = nb(0, -1), nb(0, 1)
    g, h, i = nb(1, -1), nb(1, 0), nb(1, 1)
    dzdx = f"((({c}) + 2 * ({f}) + ({i})) - (({a}) + 2 * ({d_}) + ({g}))) / 480.0"
    dzdy = f"((({g}) + 2 * ({h}) + ({i})) - (({a}) + 2 * ({b}) + ({c}))) / 480.0"
    slope = f"atan(sqrt(({dzdx}) * ({dzdx}) + ({dzdy}) * ({dzdy})))"
    aspect = f"atan2(({dzdy}), -({dzdx}))"
    az = "radians(135.0)"  # radians(360 - 315 + 90)
    alt = "radians(45.0)"
    shade = (
        f"(sin({alt}) * cos({slope}) + cos({alt}) * sin({slope}) * cos({az} - ({aspect})))"
    )
    val = f"LEAST(GREATEST(1.0 + 254.0 * GREATEST({shade}, 0.0), 1.0), 255.0)"
    return (
        f"WITH pixels AS (SELECT * FROM (VALUES {_byte20_vals_sql()}) AS t(py, px, v)) "
        "SELECT CAST(p.py AS BIGINT) AS py, CAST(p.px AS BIGINT) AS px, "
        f"CAST(floor(({val}) * 1000 + 0.5) AS BIGINT) AS shade1000 FROM pixels p"
    )


QUERIES["dem_hillshade"] = q_dem_hillshade
ORACLES["dem_hillshade"] = _o_dem_hillshade()


def q_mosaic_lastwins(spark, sf_dir):
    """gdal raster mosaic (gdalalg_raster_mosaic.cpp): later sources
    overwrite where non-nodata. Source B covers rows py<10 with v+7
    mod 256 (0 elsewhere = nodata); the oracle is the per-pixel CASE."""
    import numpy as _np
    import pandas as _pd

    from gdal_spark.fixtures import BYTE20, BYTE20_SPEC, byte20_tiles
    from gdal_spark.operators.raster import as_features, mosaic

    ts = BYTE20_SPEC.tile_size
    rows = []
    for ty in range(BYTE20_SPEC.ntiles_y):
        for tx in range(BYTE20_SPEC.ntiles_x):
            h, w = BYTE20_SPEC.tile_shape(ty, tx)
            t = _np.zeros((h, w), dtype=_np.uint8)
            for yy in range(h):
                gy = ty * ts + yy
                if gy < 10:
                    seg = BYTE20[gy, tx * ts : tx * ts + w].astype(_np.int64)
                    t[yy, :] = ((seg + 7) % 256).astype(_np.uint8)
            rows.append(tilecodec.tile_row(1, ty, tx, t))
    b = spark.createDataFrame(_pd.DataFrame(rows))
    out = mosaic([byte20_tiles(spark), b], nodata=0.0, method="last")
    pix = as_features(out, BYTE20_SPEC)
    return pix.select(
        F.col("py").cast("bigint").alias("py"),
        F.col("px").cast("bigint").alias("px"),
        F.col("value").cast("bigint").alias("v"),
    )


def _o_mosaic_lastwins() -> str:
    return (
        f"WITH pixels AS (SELECT * FROM (VALUES {_byte20_vals_sql()}) AS t(py, px, v)) "
        "SELECT CAST(py AS BIGINT) AS py, CAST(px AS BIGINT) AS px, "
        "CAST(CASE WHEN py < 10 AND (v + 7) % 256 != 0 THEN (v + 7) % 256 ELSE v END AS BIGINT) AS v "
        "FROM pixels"
    )


QUERIES["mosaic_lastwins"] = q_mosaic_lastwins
ORACLES["mosaic_lastwins"] = _o_mosaic_lastwins()


def q_ogr_geometry_field(spark, sf_dir):
    """The OGR_GEOMETRY special field (ogrfeaturequery.cpp:37) through
    the OGR SQL dialect: filter by geometry type name."""
    from gdal_spark.ogr_sql import execute

    g = docs_geom(spark, sf_dir).filter(F.col("geom_error").isNull())
    out = execute(
        spark,
        "SELECT doc_id FROM docs WHERE OGR_GEOMETRY = 'POLYGON'",
        {"docs": g.withColumn("doc_id", F.col("_id"))},
    )
    return out.select(F.col("doc_id").cast("bigint").alias("doc_id"))


def _o_ogr_geometry_field() -> str:
    return f"WITH g AS ({docs_g_cte()}) SELECT doc_id FROM g WHERE valid AND is_poly"


QUERIES["ogr_geometry_field"] = q_ogr_geometry_field
ORACLES["ogr_geometry_field"] = _o_ogr_geometry_field()


def q_dem_derivatives(spark, sf_dir):
    """The remaining gdaldem derivatives in one oracled battery:
    aspect (azimuth convention + flat nodata), TPI, TRI (Wilson) and
    roughness over byte20, integer-quantized."""
    from gdal_spark.fixtures import BYTE20_SPEC, byte20_tiles
    from gdal_spark.operators.focal import (
        aspect_kernel,
        focal_apply,
        roughness_kernel,
        tpi_kernel,
        tri_kernel,
    )
    from gdal_spark.operators.raster import as_features

    src = byte20_tiles(spark)

    def pix(kernel, name):
        t = focal_apply(src, BYTE20_SPEC, kernel)
        p = as_features(t, BYTE20_SPEC)
        return p.select(
            "py", "px", F.floor(F.col("value") * 1000 + 0.5).cast("bigint").alias(name)
        )

    out = (
        pix(aspect_kernel(), "aspect1000")
        .join(pix(tpi_kernel(), "tpi1000"), ["py", "px"])
        .join(pix(tri_kernel("Wilson"), "tri1000"), ["py", "px"])
        .join(pix(roughness_kernel(), "rough1000"), ["py", "px"])
    )
    return out.select(
        F.col("py").cast("bigint").alias("py"),
        F.col("px").cast("bigint").alias("px"),
        "aspect1000", "tpi1000", "tri1000", "rough1000",
    )


def _o_dem_derivatives() -> str:
    def nb(dy: int, dx: int) -> str:
        return (
            "(SELECT CAST(q.v AS DOUBLE) FROM pixels q "
            f"WHERE q.py = LEAST(GREATEST(p.py + ({dy}), 0), 19) "
            f"AND q.px = LEAST(GREATEST(p.px + ({dx}), 0), 19))"
        )

    a, b, c = nb(-1, -1), nb(-1, 0), nb(-1, 1)
    d_, f = nb(0, -1), nb(0, 1)
    g, h, i = nb(1, -1), nb(1, 0), nb(1, 1)
    ctr = "CAST(p.v AS DOUBLE)"
    dx = f"((({c}) + ({f}) + ({f}) + ({i})) - (({a}) + ({d_}) + ({d_}) + ({g})))"
    dy = f"((({g}) + ({h}) + ({h}) + ({i})) - (({a}) + ({b}) + ({b}) + ({c})))"
    raw = f"degrees(atan2(({dy}), -({dx})))"
    azim = f"(CASE WHEN ({raw}) > 90.0 THEN 450.0 - ({raw}) ELSE 90.0 - ({raw}) END)"
    aspect = f"(CASE WHEN ({dx}) = 0 AND ({dy}) = 0 THEN -9999.0 ELSE {azim} END)"
    nbrs = [a, b, c, d_, f, g, h, i]
    s8 = " + ".join(f"({n})" for n in nbrs)
    tpi = f"({ctr} - ({s8}) * 0.125)"
    tri = "(" + " + ".join(f"abs(({n}) - {ctr})" for n in nbrs) + ") * 0.125"
    mx = f"GREATEST({', '.join(f'({n})' for n in nbrs)}, {ctr})"
    mn = f"LEAST({', '.join(f'({n})' for n in nbrs)}, {ctr})"
    rough = f"({mx} - {mn})"
    return (
        f"WITH pixels AS (SELECT * FROM (VALUES {_byte20_vals_sql()}) AS t(py, px, v)) "
        "SELECT CAST(p.py AS BIGINT) AS py, CAST(p.px AS BIGINT) AS px, "
        f"CAST(floor(({aspect}) * 1000 + 0.5) AS BIGINT) AS aspect1000, "
        f"CAST(floor(({tpi}) * 1000 + 0.5) AS BIGINT) AS tpi1000, "
        f"CAST(floor(({tri}) * 1000 + 0.5) AS BIGINT) AS tri1000, "
        f"CAST(floor(({rough}) * 1000 + 0.5) AS BIGINT) AS rough1000 "
        "FROM pixels p"
    )


QUERIES["dem_derivatives"] = q_dem_derivatives
ORACLES["dem_derivatives"] = _o_dem_derivatives()


def q_interp_points(spark, sf_dir):
    """GDALInterpolateAtPoint bilinear sampling at interior fractional
    world points (seam-adjacent points excluded per the documented
    deviation); oracle = the floor(p-0.5) 4-neighbor formula in SQL."""
    from pyspark.sql import Row as _Row

    from gdal_spark.fixtures import BYTE20_SPEC, byte20_tiles
    from gdal_spark.operators.grid import interpolate_at_points

    pts = []
    pid = 0
    for py in range(2, 14, 3):
        for px in range(2, 14, 3):
            # fractional offsets inside one tile's interior window
            pts.append(_Row(pid=pid, x=440720.0 + (px + 0.3) * 60.0, y=3751320.0 - (py + 0.7) * 60.0))
            pid += 1
    p = spark.createDataFrame(pts)
    out = interpolate_at_points(byte20_tiles(spark), BYTE20_SPEC, p, method="bilinear")
    return out.select(
        F.col("pid").cast("bigint").alias("pid"),
        F.floor(F.col("value") * 1000 + 0.5).cast("bigint").alias("v1000"),
    )


def _o_interp_points() -> str:
    # points at pixel coords (px+0.3, py+0.7): bilinear base
    # ix=floor(px+0.3-0.5), ratio rx=1.5-(px+0.3-ix); same for y
    rows = []
    pid = 0
    for py in range(2, 14, 3):
        for px in range(2, 14, 3):
            rows.append(f"({pid}, {px}, {py})")
            pid += 1
    vals = ", ".join(rows)

    def v(dy, dx):
        return (
            "(SELECT CAST(q.v AS DOUBLE) FROM pixels q "
            f"WHERE q.py = s.iy + ({dy}) AND q.px = s.ix + ({dx}))"
        )

    return (
        f"WITH pixels AS (SELECT * FROM (VALUES {_byte20_vals_sql()}) AS t(py, px, v)), "
        f"pts AS (SELECT * FROM (VALUES {vals}) AS t(pid, px, py)), "
        "s AS (SELECT pid, CAST(floor(px + 0.3 - 0.5) AS BIGINT) AS ix, "
        "CAST(floor(py + 0.7 - 0.5) AS BIGINT) AS iy, "
        "1.5 - (px + 0.3 - floor(px + 0.3 - 0.5)) AS rx, "
        "1.5 - (py + 0.7 - floor(py + 0.7 - 0.5)) AS ry FROM pts) "
        "SELECT CAST(pid AS BIGINT) AS pid, CAST(floor(("
        f"  {v(0,0)} * rx * ry + {v(0,1)} * (1 - rx) * ry "
        f"+ {v(1,0)} * rx * (1 - ry) + {v(1,1)} * (1 - rx) * (1 - ry)"
        ") * 1000 + 0.5) AS BIGINT) AS v1000 FROM s"
    )


QUERIES["interp_points"] = q_interp_points
ORACLES["interp_points"] = _o_interp_points()


# ---------------------------------------------------------------------------
# round-3: driver oracles for operators previously covered by pytest only


def q_cast_matrix(spark, sf_dir):
    """OGR SQL CAST surface (ogr/swq_parser.y CAST rules; C-style
    truncating float->integer per swq_expr_node::Evaluate): negative
    values truncate toward zero, timestamp->date->character formats
    ISO, integer->character(10)."""
    from gdal_spark.ogr_sql import execute

    orders = load(spark, sf_dir, "orders")
    df = execute(
        spark,
        "SELECT o_orderkey, "
        "CAST(o_totalprice - 150000 AS integer) AS price_int, "
        "CAST(CAST(o_orderdate AS date) AS character(10)) AS date_c, "
        "CAST(o_orderkey AS character(10)) AS key_c, "
        "CAST(o_orderkey AS float) AS key_f "
        "FROM orders",
        {"orders": orders},
    )
    return df.select(
        "o_orderkey",
        F.col("price_int").cast("bigint").alias("price_int"),
        "date_c",
        "key_c",
        F.col("key_f").cast("bigint").alias("key_fi"),
    )


def _o_cast_matrix() -> str:
    return (
        "SELECT o_orderkey, "
        "CAST(trunc(o_totalprice - 150000) AS BIGINT) AS price_int, "
        "CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS date_c, "
        "CAST(o_orderkey AS VARCHAR) AS key_c, "
        "CAST(CAST(o_orderkey AS DOUBLE) AS BIGINT) AS key_fi "
        "FROM orders"
    )


QUERIES["cast_matrix"] = q_cast_matrix
ORACLES["cast_matrix"] = _o_cast_matrix()


def q_hstore_extract(spark, sf_dir):
    """hstore_get_value (ogr/swq_op_general.cpp SWQ_HSTORE_GET_VALUE):
    'k=>v,...' lookup incl. the missing-key->NULL rule."""
    from gdal_spark.ogr_sql import execute

    nation = load(spark, sf_dir, "nation")
    layer = nation.select(
        "n_nationkey",
        F.concat(
            F.lit("name=>"), F.col("n_name"),
            F.lit(",region=>"), F.col("n_regionkey").cast("string"),
        ).alias("kv"),
    )
    df = execute(
        spark,
        "SELECT n_nationkey, "
        "hstore_get_value(kv, 'region') AS region_s, "
        "hstore_get_value(kv, 'name') AS name_s, "
        "hstore_get_value(kv, 'absent') AS absent_s "
        "FROM t",
        {"t": layer},
    )
    return df.select(
        F.col("n_nationkey").cast("bigint").alias("n_nationkey"),
        "region_s", "name_s", "absent_s",
    )


def _o_hstore_extract() -> str:
    return (
        "SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, "
        "CAST(n_regionkey AS VARCHAR) AS region_s, "
        "n_name AS name_s, CAST(NULL AS VARCHAR) AS absent_s FROM nation"
    )


QUERIES["hstore_extract"] = q_hstore_extract
ORACLES["hstore_extract"] = _o_hstore_extract()


def q_union_layers_schema(spark, sf_dir):
    """OGRUnionLayer field-list reconciliation
    (ogrsf_frmts/generic/ogrunionlayer.cpp FIELD_FROM_ALL_LAYERS):
    union of two layers with differing schemas; fields absent in one
    source come back NULL."""
    from gdal_spark.relational import union_layers

    c = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("fid"),
        F.col("c_name").alias("name"),
        F.col("c_acctbal").alias("acctbal"),
    )
    s = load(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("fid"),
        F.col("s_name").alias("name"),
        F.col("s_nationkey").cast("bigint").alias("nationkey"),
    )
    u = union_layers([c, s])
    return u.select(
        "fid", "name",
        F.floor(F.col("acctbal") * 100 + 0.5).cast("bigint").alias("acctbal_c"),
        F.col("nationkey").cast("bigint").alias("nationkey"),
    )


def _o_union_layers_schema() -> str:
    return (
        "SELECT c_custkey AS fid, c_name AS name, "
        "CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS acctbal_c, "
        "CAST(NULL AS BIGINT) AS nationkey FROM customer "
        "UNION ALL "
        "SELECT s_suppkey, s_name, CAST(NULL AS BIGINT), CAST(s_nationkey AS BIGINT) FROM supplier"
    )


QUERIES["union_layers_schema"] = q_union_layers_schema
ORACLES["union_layers_schema"] = _o_union_layers_schema()


def q_hilbert_cells(spark, sf_dir):
    """The layout spine made driver-checkable: Hilbert cell id of every
    valid doc geometry's representative point on a 256x256 grid over
    the fixture world (FlatGeobuf packedrtree.h:120 Hilbert curve,
    `gdal vector sort --by hilbert` alg/hilbert.cpp). The oracle
    replays the branch-free uint32 Hilbert chain (geom/hilbert.py)
    bit-identically in SQL."""
    from gdal_spark.operators.cells import Grid

    grid = Grid(440720, 3750120, 441920, 3751320, nx=256, ny=256)
    g = docs_geom(spark, sf_dir).filter(F.col("geom_error").isNull() & F.col("wkt").isNotNull())
    h = grid.hilbert_cell_udf()
    cxy = g.select(
        F.col("_id").alias("doc_id"),
        ((F.col("env_minx") + F.col("env_maxx")) / 2).alias("gx"),
        ((F.col("env_miny") + F.col("env_maxy")) / 2).alias("gy"),
    )
    return cxy.select(
        "doc_id", h(F.col("gx"), F.col("gy")).cast("bigint").alias("hcell")
    )


def hilbert_chain_ctes(t0: str, id_col: str = "doc_id", out_col: str = "hcell") -> str:
    """Reusable CTE fragment: bit-identical SQL replay of
    hilbert_code_xy (geom/hilbert.py:25 / alg/hilbert.cpp:19-78) —
    every step is &, |, xor, >>, << on values that stay within 32
    nonneg bits (no additions), so BIGINT arithmetic is exact. `t0`
    must select (id_col, x, y) with x/y BIGINT in [0, 65535]; the
    returned fragment ends with a `hcodes` CTE of (id_col, out_col)."""
    M = "65535"

    def X(a: str, b: str) -> str:
        return f"xor({a}, {b})"

    # seed stage: a=x^y  b=M^a  c=M^(x|y)  d=x&(y^M)
    s1 = (
        f"SELECT {id_col}, x, y, {X('x', 'y')} AS a, {X(M, X('x', 'y'))} AS b, "
        f"{X(M, '(x | y)')} AS c, (x & {X('y', M)}) AS d FROM t0"
    )
    # first doubling round (shift 1) has the seed-specific form:
    # A=a|(b>>1)  B=(a>>1)^a  C=((c>>1)^(b&(d>>1)))^c  D=((a&(c>>1))^(d>>1))^d
    s2 = (
        f"SELECT {id_col}, x, y, (a | (b >> 1)) AS a, "
        f"{X('(a >> 1)', 'a')} AS b, "
        f"{X(X('(c >> 1)', '(b & (d >> 1))'), 'c')} AS c, "
        f"{X(X('(a & (c >> 1))', '(d >> 1)'), 'd')} AS d FROM t1"
    )

    def full_round(sh: int) -> str:
        ab = X("a", "b")
        A = X(f"(a & (a >> {sh}))", f"(b & (b >> {sh}))")
        B = X(f"(a & (b >> {sh}))", f"(b & ({ab} >> {sh}))")
        C = X("c", X(f"(a & (c >> {sh}))", f"(b & (d >> {sh}))"))
        D = X("d", X(f"(b & (c >> {sh}))", f"({ab} & (d >> {sh}))"))
        return f"SELECT {id_col}, x, y, {A} AS a, {B} AS b, {C} AS c, {D} AS d"

    s3 = full_round(2) + " FROM t2"
    s4 = full_round(4) + " FROM t3"
    # final partial round (shift 8): only C, D update
    ab = X("a", "b")
    C8 = X("c", X("(a & (c >> 8))", "(b & (d >> 8))"))
    D8 = X("d", X("(b & (c >> 8))", f"({ab} & (d >> 8))"))
    s5 = f"SELECT {id_col}, x, y, {C8} AS c, {D8} AS d FROM t4"
    # gray-code extraction: a=c^(c>>1) b=d^(d>>1); i0=x^y; i1=b|(M^(i0|a))
    ga = X("c", "(c >> 1)")
    gb = X("d", "(d >> 1)")
    i0 = X("x", "y")
    s6 = (
        f"SELECT {id_col}, {i0} AS i0, "
        f"({gb} | {X(M, f'({i0} | {ga})')}) AS i1 FROM t5"
    )

    def il(v: str) -> str:
        e = f"((({v}) | (({v}) << 8)) & 16711935)"
        e = f"(({e} | ({e} << 4)) & 252645135)"
        e = f"(({e} | ({e} << 2)) & 858993459)"
        e = f"(({e} | ({e} << 1)) & 1431655765)"
        return e

    return (
        f"t0 AS ({t0}), "
        f"t1 AS ({s1}), t2 AS ({s2}), t3 AS ({s3}), t4 AS ({s4}), t5 AS ({s5}), t6 AS ({s6}), "
        f"hcodes AS (SELECT {id_col}, ((({il('i1')}) << 1) | ({il('i0')})) AS {out_col} FROM t6)"
    )


def _o_hilbert_cells() -> str:
    cw = "CAST(4.6875 AS DOUBLE)"  # 1200/256, exactly representable
    cx = f"LEAST(GREATEST(CAST(floor((gx - 440720) / {cw}) AS BIGINT), 0), 255)"
    cy = f"LEAST(GREATEST(CAST(floor((gy - 3750120) / {cw}) AS BIGINT), 0), 255)"
    t0 = f"SELECT doc_id, ({cx}) * 256 AS x, ({cy}) * 256 AS y FROM g WHERE valid"
    return (
        f"WITH g AS ({docs_g_cte()}), "
        + hilbert_chain_ctes(t0)
        + " SELECT doc_id, hcell FROM hcodes"
    )


QUERIES["hilbert_cells"] = q_hilbert_cells
ORACLES["hilbert_cells"] = _o_hilbert_cells()


def q_sieve_islands(spark, sf_dir):
    """GDALSieveFilter (alg/gdalsievefilter.cpp) driver-checked: burn
    doc points as 1s on a 64x64 binary grid, sieve threshold=2
    4-connected — exactly the size-1 islands flip. The oracle applies
    the same rule in SQL: a pixel with no 4-neighbour of equal value
    is a size-1 component and merges into its (uniform-value)
    surroundings."""
    from gdal_spark.operators.raster import RasterSpec, as_features, rasterize
    from gdal_spark.operators.sieve import sieve

    spec = RasterSpec(
        width=64, height=64,
        gt=(440720.0, 18.75, 0.0, 3751320.0, 0.0, -18.75),
        dtype="int32", nbands=1, tile_size=64,
    )
    g = docs_geom(spark, sf_dir).filter(
        F.col("geom_error").isNull() & F.col("wkt").startswith("POINT")
    )
    shapes = g.select(
        F.col("_id").alias("fid"),
        "wkt",
        F.array(F.lit(1.0)).alias("burn_values"),
    )
    tiles = rasterize(shapes, spec)
    sieved = sieve(tiles, spec, threshold=2, connect=4)
    pix = as_features(sieved, spec)
    return pix.select(
        F.col("py").cast("bigint").alias("py"),
        F.col("px").cast("bigint").alias("px"),
        F.col("value").cast("bigint").alias("v"),
    )


def _o_sieve_islands() -> str:
    psz = "CAST(18.75 AS DOUBLE)"
    return (
        f"WITH g AS ({docs_g_cte()}), "
        f"p AS (SELECT CAST(floor((gx - 440720) / {psz}) AS BIGINT) AS px, "
        f"CAST(floor((3751320 - gy) / {psz}) AS BIGINT) AS py "
        "FROM g WHERE valid AND NOT is_poly), "
        "grid AS (SELECT y.range AS py, x.range AS px FROM range(0, 64) y, range(0, 64) x), "
        "r AS (SELECT grid.py, grid.px, CASE WHEN EXISTS "
        "(SELECT 1 FROM p WHERE p.py = grid.py AND p.px = grid.px "
        "AND p.px BETWEEN 0 AND 63 AND p.py BETWEEN 0 AND 63) THEN 1 ELSE 0 END AS v FROM grid) "
        "SELECT a.py, a.px, CAST(CASE WHEN NOT EXISTS "
        "(SELECT 1 FROM r b WHERE abs(b.py - a.py) + abs(b.px - a.px) = 1 AND b.v = a.v) "
        "THEN 1 - a.v ELSE a.v END AS BIGINT) AS v FROM r a"
    )


QUERIES["sieve_islands"] = q_sieve_islands
ORACLES["sieve_islands"] = _o_sieve_islands()


def q_dissolve_groups(spark, sf_dir):
    """True geometric GROUP-BY dissolve (SQLite dialect ST_Union
    aggregate; ogr2ogr -dialect sqlite "SELECT ST_Union(geom) ...
    GROUP BY k"): per doc_id%7 group, the exact polygon union of the
    member squares through the two-level partial-union aggregate.
    Output = union area + member count + dissolved envelope; the
    oracle computes the rectilinear union area by coordinate
    compression (axis-aligned squares: exact)."""
    from gdal_spark.operators.dissolve import dissolve_union
    from gdal_spark.operators.spatial import area_udf, envelope_udf

    g = docs_geom(spark, sf_dir).filter(
        F.col("geom_error").isNull() & F.col("wkt").startswith("POLYGON")
    )
    keyed = g.withColumn("grp", (F.col("_id") % 7).cast("bigint"))
    u = dissolve_union(keyed, ["grp"])
    env = envelope_udf(F.col("union_wkt"))
    n = keyed.groupBy("grp").agg(F.count(F.lit(1)).alias("n_members"))
    return (
        u.join(n, "grp")
        .withColumn("_e", env)
        .select(
            "grp",
            F.floor(area_udf(F.col("union_wkt")) + 0.5).cast("bigint").alias("union_area"),
            F.col("n_members"),
            F.col("_e.minx").cast("bigint").alias("minx"),
            F.col("_e.miny").cast("bigint").alias("miny"),
            F.col("_e.maxx").cast("bigint").alias("maxx"),
            F.col("_e.maxy").cast("bigint").alias("maxy"),
        )
    )


def _o_dissolve_groups() -> str:
    return (
        f"WITH g AS ({docs_g_cte()}), "
        "r AS (SELECT doc_id % 7 AS grp, gx - half AS x1, gy - half AS y1, "
        "gx + half AS x2, gy + half AS y2 FROM g WHERE valid AND is_poly), "
        "xs AS (SELECT DISTINCT grp, x FROM (SELECT grp, x1 AS x FROM r UNION ALL SELECT grp, x2 FROM r)), "
        "ys AS (SELECT DISTINCT grp, y FROM (SELECT grp, y1 AS y FROM r UNION ALL SELECT grp, y2 FROM r)), "
        "xi AS (SELECT grp, x AS xa, lead(x) OVER (PARTITION BY grp ORDER BY x) AS xb FROM xs), "
        "yi AS (SELECT grp, y AS ya, lead(y) OVER (PARTITION BY grp ORDER BY y) AS yb FROM ys), "
        "cells AS (SELECT xi.grp, xa, xb, ya, yb FROM xi JOIN yi ON xi.grp = yi.grp "
        "WHERE xb IS NOT NULL AND yb IS NOT NULL), "
        "cov AS (SELECT c.grp, c.xa, c.ya, c.xb, c.yb FROM cells c "
        "WHERE EXISTS (SELECT 1 FROM r WHERE r.grp = c.grp AND r.x1 <= c.xa AND r.x2 >= c.xb "
        "AND r.y1 <= c.ya AND r.y2 >= c.yb)), "
        "area AS (SELECT grp, CAST(SUM((xb - xa) * (yb - ya)) AS BIGINT) AS union_area FROM cov GROUP BY grp), "
        "agg AS (SELECT grp, COUNT(*) AS n_members, CAST(MIN(x1) AS BIGINT) AS minx, "
        "CAST(MIN(y1) AS BIGINT) AS miny, CAST(MAX(x2) AS BIGINT) AS maxx, CAST(MAX(y2) AS BIGINT) AS maxy "
        "FROM r GROUP BY grp) "
        "SELECT CAST(a.grp AS BIGINT) AS grp, area.union_area, a.n_members, a.minx, a.miny, a.maxx, a.maxy "
        "FROM agg a JOIN area ON a.grp = area.grp"
    )


QUERIES["dissolve_groups"] = q_dissolve_groups
ORACLES["dissolve_groups"] = _o_dissolve_groups()


def q_warp_average_down(spark, sf_dir):
    """gdal_translate -outsize 50% -r average (overview/warp average
    footprint semantics): byte20 -> 10x10, each dst pixel the exact
    mean of its 2x2 source block; x1000 quantized."""
    from gdal_spark.fixtures import BYTE20_SPEC, byte20_tiles
    from gdal_spark.operators.raster import as_features
    from gdal_spark.operators.translate import translate

    out, dspec = translate(
        byte20_tiles(spark), BYTE20_SPEC, outsize=(10, 10),
        resampling="average", out_dtype="float64",
    )
    pix = as_features(out, dspec)
    return pix.select(
        F.col("py").cast("bigint").alias("py"),
        F.col("px").cast("bigint").alias("px"),
        F.floor(F.col("value") * 1000 + 0.5).cast("bigint").alias("v1000"),
    )


def _o_warp_average_down() -> str:
    return (
        f"WITH pixels AS (SELECT * FROM (VALUES {_byte20_vals_sql()}) AS t(py, px, v)) "
        "SELECT CAST(floor(py / 2) AS BIGINT) AS py, CAST(floor(px / 2) AS BIGINT) AS px, "
        "CAST(floor(AVG(CAST(v AS DOUBLE)) * 1000 + 0.5) AS BIGINT) AS v1000 "
        "FROM pixels GROUP BY floor(py / 2), floor(px / 2)"
    )


QUERIES["warp_average_down"] = q_warp_average_down
ORACLES["warp_average_down"] = _o_warp_average_down()


def q_warp_mode_nodata(spark, sf_dir):
    """gdalwarp -r mode -srcnodata 115 semantics on a 2x downsample
    (GWKAverageOrMode per-sample validity skip, gdalwarpkernel.cpp:
    6864+; FIRST tie strategy :8141): per 2x2 window, the mode of the
    non-nodata samples, winner = value whose count first reaches the
    final max in row-major scan order. 115 fills no aligned 2x2 block
    of byte20, so every dst pixel stays valid."""
    from gdal_spark.fixtures import BYTE20_SPEC, byte20_tiles
    from gdal_spark.operators.raster import as_features
    from gdal_spark.operators.translate import translate

    out, dspec = translate(
        byte20_tiles(spark), BYTE20_SPEC, outsize=(10, 10),
        resampling="mode", out_dtype="float64", src_nodata=115.0,
    )
    pix = as_features(out, dspec)
    return pix.select(
        F.col("py").cast("bigint").alias("py"),
        F.col("px").cast("bigint").alias("px"),
        F.col("value").cast("bigint").alias("mode_v"),
    )


def _o_warp_mode_nodata() -> str:
    return (
        f"WITH pixels AS (SELECT * FROM (VALUES {_byte20_vals_sql()}) AS t(py, px, v)), "
        "valid AS (SELECT CAST(floor(py / 2) AS BIGINT) AS wy, "
        "CAST(floor(px / 2) AS BIGINT) AS wx, v, (py % 2) * 2 + (px % 2) AS pos "
        "FROM pixels WHERE v <> 115), "
        "cnt AS (SELECT *, COUNT(*) OVER (PARTITION BY wy, wx, v) AS c, "
        "ROW_NUMBER() OVER (PARTITION BY wy, wx, v ORDER BY pos) AS k FROM valid), "
        "mx AS (SELECT *, MAX(c) OVER (PARTITION BY wy, wx) AS maxc FROM cnt), "
        "reach AS (SELECT wy, wx, v, pos FROM mx WHERE c = maxc AND k = maxc), "
        "win AS (SELECT wy, wx, v, "
        "ROW_NUMBER() OVER (PARTITION BY wy, wx ORDER BY pos) AS rn FROM reach) "
        "SELECT wy AS py, wx AS px, CAST(v AS BIGINT) AS mode_v FROM win WHERE rn = 1"
    )


QUERIES["warp_mode_nodata"] = q_warp_mode_nodata
ORACLES["warp_mode_nodata"] = _o_warp_mode_nodata()


def q_warp_excluded_avg(spark, sf_dir):
    """EXCLUDED_VALUES=123 average downsample (gdalwarper.cpp:
    1243-1254 option; gdalwarpkernel.cpp:7787-7931): 123-valued source
    samples stay valid but drop out of the mean; a 2x2 window where
    they reach the 50% default threshold takes 123 itself. x1000
    quantized."""
    from gdal_spark.fixtures import BYTE20_SPEC, byte20_tiles
    from gdal_spark.operators.raster import as_features
    from gdal_spark.operators.translate import translate

    out, dspec = translate(
        byte20_tiles(spark), BYTE20_SPEC, outsize=(10, 10),
        resampling="average", out_dtype="float64", excluded_values="123",
    )
    pix = as_features(out, dspec)
    return pix.select(
        F.col("py").cast("bigint").alias("py"),
        F.col("px").cast("bigint").alias("px"),
        F.floor(F.col("value") * 1000 + 0.5).cast("bigint").alias("v1000"),
    )


def _o_warp_excluded_avg() -> str:
    return (
        f"WITH pixels AS (SELECT * FROM (VALUES {_byte20_vals_sql()}) AS t(py, px, v)), "
        "agg AS (SELECT CAST(floor(py / 2) AS BIGINT) AS wy, "
        "CAST(floor(px / 2) AS BIGINT) AS wx, "
        "SUM(CASE WHEN v = 123 THEN 1 ELSE 0 END) AS e, "
        "SUM(CASE WHEN v <> 123 THEN CAST(v AS DOUBLE) ELSE 0 END) AS s, "
        "SUM(CASE WHEN v <> 123 THEN 1 ELSE 0 END) AS r, "
        "COUNT(*) AS wtot FROM pixels GROUP BY 1, 2) "
        "SELECT wy AS py, wx AS px, "
        "CAST(floor((CASE WHEN e > 0 AND e >= 0.5 * wtot THEN 123.0 ELSE s / r END) "
        "* 1000 + 0.5) AS BIGINT) AS v1000 FROM agg"
    )


QUERIES["warp_excluded_avg"] = q_warp_excluded_avg
ORACLES["warp_excluded_avg"] = _o_warp_excluded_avg()


def q_pmtiles_tileid(spark, sf_dir):
    """PMTiles v3 tile addressing (pmtiles.hpp:440-458 zxy_to_tileid):
    the 8x8 doc tile keys (z=3) mapped to their Hilbert tile ids — the
    ordering the PMTiles sink range-shuffles by (operators/pmtiles.py
    write_pmtiles). The oracle unrolls the 3 rotate steps of the
    Hilbert loop in plain SQL."""
    from gdal_spark.operators.pmtiles import zxy_to_tileid

    def _tid(tx: pd.Series, ty: pd.Series) -> pd.Series:
        return pd.Series([zxy_to_tileid(3, int(a), int(b)) for a, b in zip(tx, ty)])

    tid = F.pandas_udf(_tid, "long")
    g = docs_geom(spark, sf_dir).filter(F.col("geom_error").isNull())
    t = tile_keys_for_envelopes(g, TILE_TLX, TILE_TLY, TILE_W, TILE_N)
    agg = t.groupBy("tx", "ty").agg(F.count(F.lit(1)).alias("n_docs"))
    return agg.select(
        F.col("tx").cast("bigint").alias("tx"),
        F.col("ty").cast("bigint").alias("ty"),
        tid(F.col("tx"), F.col("ty")).alias("tile_id"),
        F.col("n_docs"),
    )


def _o_pmtiles_tileid() -> str:
    def step(prev: str, s: int) -> str:
        rx = f"(CASE WHEN (x & {s}) > 0 THEN 1 ELSE 0 END)"
        ry = f"(CASE WHEN (y & {s}) > 0 THEN 1 ELSE 0 END)"
        return (
            f"SELECT tx, ty, n_docs, "
            f"CASE WHEN (y & {s}) > 0 THEN x "
            f"WHEN (x & {s}) > 0 THEN {s} - 1 - y ELSE y END AS x, "
            f"CASE WHEN (y & {s}) > 0 THEN y "
            f"WHEN (x & {s}) > 0 THEN {s} - 1 - x ELSE x END AS y, "
            f"d + {s * s} * xor(3 * {rx}, {ry}) AS d FROM {prev}"
        )

    base = _o_tile_keys()
    return (
        f"WITH tk AS ({base}), "
        "agg AS (SELECT tx, ty, COUNT(*) AS n_docs FROM tk GROUP BY tx, ty), "
        "h0 AS (SELECT tx, ty, n_docs, tx AS x, ty AS y, CAST(0 AS BIGINT) AS d FROM agg), "
        f"h1 AS ({step('h0', 4)}), h2 AS ({step('h1', 2)}), h3 AS ({step('h2', 1)}) "
        "SELECT tx, ty, CAST(21 + d AS BIGINT) AS tile_id, n_docs FROM h3"
    )


QUERIES["pmtiles_tileid"] = q_pmtiles_tileid
ORACLES["pmtiles_tileid"] = _o_pmtiles_tileid()


def q_multidim_stats(spark, sf_dir):
    """Multidim GetView + ComputeStatistics
    (gcore/mdarray GetView/ComputeStatistics): a chunked 8x16x16
    array, range-sliced to [2:6, 4:12, :] with chunk pruning, stats
    via the distributive per-chunk partials. The oracle replays the
    generator formula over the same index ranges."""
    import numpy as np

    from gdal_spark.operators.multidim import MDArraySpec, from_numpy, mdim_statistics, slice_array

    spec = MDArraySpec(
        name="t", dims=(("z", 8), ("y", 16), ("x", 16)), chunks=(4, 8, 8), dtype="float64"
    )
    arr = np.fromfunction(
        lambda i, j, k: (i * 257 + j * 31 + k * 7) % 101, (8, 16, 16), dtype=np.int64
    ).astype(np.float64)
    df = from_numpy(spark, arr, spec)
    view, vspec = slice_array(df, spec, [(2, 6), (4, 12), (0, 16)])
    st = mdim_statistics(view, vspec)
    row = [(
        512,
        int(st["min"]), int(st["max"]),
        int(np.floor(st["mean"] * 1000 + 0.5)),
        int(np.floor(st["std"] * 1000 + 0.5)),
    )]
    return spark.createDataFrame(row, "n bigint, mn bigint, mx bigint, mean1000 bigint, std1000 bigint")


def _o_multidim_stats() -> str:
    return (
        "WITH v AS (SELECT CAST((i.range * 257 + j.range * 31 + k.range * 7) % 101 AS DOUBLE) AS v "
        "FROM range(2, 6) i, range(4, 12) j, range(0, 16) k) "
        "SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(MIN(v) AS BIGINT) AS mn, CAST(MAX(v) AS BIGINT) AS mx, "
        "CAST(floor(SUM(v) / COUNT(*) * 1000 + 0.5) AS BIGINT) AS mean1000, "
        "CAST(floor(sqrt(GREATEST(SUM(v * v) / COUNT(*) - (SUM(v) / COUNT(*)) * (SUM(v) / COUNT(*)), 0)) * 1000 + 0.5) AS BIGINT) AS std1000 "
        "FROM v"
    )


QUERIES["multidim_stats"] = q_multidim_stats
ORACLES["multidim_stats"] = _o_multidim_stats()


def q_yen_paths(spark, sf_dir):
    """GNM K-shortest paths (gnm/gnmgraph.cpp:247 KShortestPaths, Yen):
    top-4 loopless paths on a fixed weighted digraph with distinct
    path costs; the oracle enumerates all simple paths by recursive
    CTE and ranks by cost."""
    from gdal_spark.operators.graph import k_shortest_paths

    edges = spark.createDataFrame(
        [
            (0, 1, 3.5), (0, 2, 2.0), (1, 3, 4.0), (2, 1, 1.25), (2, 3, 2.0),
            (2, 4, 3.0), (3, 4, 2.0), (3, 5, 1.0), (4, 5, 2.0),
        ],
        "src int, dst int, weight double",
    ).coalesce(1)
    paths = k_shortest_paths(edges, 0, 5, 4)
    rows = [
        (i + 1, int(c * 1000 + 0.5), "-".join(str(int(n)) for n in p))
        for i, (c, p) in enumerate(paths)
    ]
    return spark.createDataFrame(rows, "rk bigint, cost1000 bigint, path string")


def _o_yen_paths() -> str:
    edges = (
        "(VALUES (0, 1, 3.5), (0, 2, 2.0), (1, 3, 4.0), (2, 1, 1.25), (2, 3, 2.0), "
        "(2, 4, 3.0), (3, 4, 2.0), (3, 5, 1.0), (4, 5, 2.0)) e(src, dst, w)"
    )
    return (
        "WITH RECURSIVE paths(node, cost, path) AS ("
        "SELECT 0, CAST(0 AS DOUBLE), [0] "
        "UNION ALL "
        f"SELECT e.dst, p.cost + e.w, list_append(p.path, e.dst) FROM paths p JOIN {edges} "
        "ON e.src = p.node WHERE NOT list_contains(p.path, e.dst)) "
        "SELECT CAST(row_number() OVER (ORDER BY cost) AS BIGINT) AS rk, "
        "CAST(floor(cost * 1000 + 0.5) AS BIGINT) AS cost1000, "
        "array_to_string(path, '-') AS path "
        "FROM paths WHERE node = 5 ORDER BY cost LIMIT 4"
    )


QUERIES["yen_paths"] = q_yen_paths
ORACLES["yen_paths"] = _o_yen_paths()


def q_gcp_transform(spark, sf_dir):
    """GDALCreateGCPTransformer / GDALGCPTransform order-1
    (alg/gdal_crs.cpp): fit pixel/line -> geo on 3 GCPs at plan time
    (the reference's CreateGCPTransformer step, driver-side by
    design), then evaluate forward over every point doc's rebased
    coordinates as a vectorized Arrow batch. GCP geo values are
    chosen so the exact interpolant has power-of-2 coefficients
    (X = 10 + px/2 + py/4, Y = -20 + px/8 - 3*py/4): all true values
    are k/8, so quantizing at x1024 absorbs the lstsq fit's fp noise.
    The oracle re-solves the same 3x3 system by Cramer's rule in SQL
    (exact: det = 64) and applies it row-wise."""
    import pandas as pd

    from gdal_spark.geom.gcp import GCPTransformer

    gcps = [(0.0, 0.0, 10.0, -20.0), (8.0, 0.0, 14.0, -19.0), (0.0, 8.0, 12.0, -26.0)]
    t = GCPTransformer(gcps, order=1)
    g = (
        docs_geom(spark, sf_dir)
        .filter(F.col("geom_error").isNull() & F.col("wkt").startswith("POINT"))
        .select(
            F.col("_id").alias("doc_id"),
            (F.col("env_minx") - 440000).alias("px"),
            (F.col("env_miny") - 3750000).alias("py"),
        )
    )

    def _apply(batches):
        import numpy as np

        for pdf in batches:
            X, Y = t.forward(pdf["px"].to_numpy(np.float64), pdf["py"].to_numpy(np.float64))
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "x1024": np.floor(X * 1024 + 0.5).astype(np.int64),
                    "y1024": np.floor(Y * 1024 + 0.5).astype(np.int64),
                }
            )

    return g.mapInPandas(_apply, "doc_id bigint, x1024 bigint, y1024 bigint")


def _o_gcp_transform() -> str:
    gc = (
        "(VALUES (0.0, 0.0, 10.0, -20.0), (8.0, 0.0, 14.0, -19.0), "
        "(0.0, 8.0, 12.0, -26.0)) t(p, l, x, y)"
    )
    # Cramer's rule for the affine through 3 GCPs, per output axis
    fit = (
        f"WITH gc AS (SELECT * FROM {gc}), "
        "w AS (SELECT "
        " (SELECT p FROM gc OFFSET 0 LIMIT 1) AS p0, (SELECT l FROM gc OFFSET 0 LIMIT 1) AS l0, "
        " (SELECT x FROM gc OFFSET 0 LIMIT 1) AS x0, (SELECT y FROM gc OFFSET 0 LIMIT 1) AS y0, "
        " (SELECT p FROM gc OFFSET 1 LIMIT 1) AS p1, (SELECT l FROM gc OFFSET 1 LIMIT 1) AS l1, "
        " (SELECT x FROM gc OFFSET 1 LIMIT 1) AS x1, (SELECT y FROM gc OFFSET 1 LIMIT 1) AS y1, "
        " (SELECT p FROM gc OFFSET 2 LIMIT 1) AS p2, (SELECT l FROM gc OFFSET 2 LIMIT 1) AS l2, "
        " (SELECT x FROM gc OFFSET 2 LIMIT 1) AS x2, (SELECT y FROM gc OFFSET 2 LIMIT 1) AS y2), "
        "co AS (SELECT "
        " (p1 - p0) * (l2 - l0) - (p2 - p0) * (l1 - l0) AS det, "
        " ((x1 - x0) * (l2 - l0) - (x2 - x0) * (l1 - l0)) AS bxn, "
        " ((p1 - p0) * (x2 - x0) - (p2 - p0) * (x1 - x0)) AS cxn, "
        " ((y1 - y0) * (l2 - l0) - (y2 - y0) * (l1 - l0)) AS byn, "
        " ((p1 - p0) * (y2 - y0) - (p2 - p0) * (y1 - y0)) AS cyn, "
        " p0, l0, x0, y0 FROM w), "
        "cf AS (SELECT bxn / det AS bx, cxn / det AS cx, byn / det AS by, cyn / det AS cy, "
        " x0 - (bxn / det) * p0 - (cxn / det) * l0 AS ax, "
        " y0 - (byn / det) * p0 - (cyn / det) * l0 AS ay FROM co)"
    )
    return (
        f"{fit}, g AS ({docs_g_cte()}), "
        "pts AS (SELECT doc_id, gx - 440000 AS px, gy - 3750000 AS py FROM g "
        "WHERE valid AND NOT is_poly) "
        "SELECT doc_id, "
        "CAST(floor((ax + bx * px + cx * py) * 1024 + 0.5) AS BIGINT) AS x1024, "
        "CAST(floor((ay + by * px + cy * py) * 1024 + 0.5) AS BIGINT) AS y1024 "
        "FROM pts, cf"
    )


QUERIES["gcp_transform"] = q_gcp_transform
ORACLES["gcp_transform"] = _o_gcp_transform()


# RPC fixture shared by the Spark query and its SQL oracle: sparse
# cubic sensor model, height plane at 0 (the reference's no-DEM
# RPC_HEIGHT path). Term names follow RPCComputeTerms order
# (alg/gdal_rpc.cpp:290-330).
_RPC_FIX = {
    "LINE_OFF": 512.0, "SAMP_OFF": 512.0, "LAT_OFF": 0.0, "LONG_OFF": 0.0,
    "HEIGHT_OFF": 0.0, "LINE_SCALE": 512.0, "SAMP_SCALE": 512.0,
    "LAT_SCALE": 6.0, "LONG_SCALE": 60.0, "HEIGHT_SCALE": 1.0,
    "SAMP_NUM_COEFF": [0.01, 0.9, 0.05, 0.0, 0.02, 0.0, 0.0, 0.003, 0.0, 0.0,
                       0.0, 0.0005, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0],
    "SAMP_DEN_COEFF": [1.0, 0.001, 0.002, 0.0] + [0.0] * 16,
    "LINE_NUM_COEFF": [0.02, -0.04, 0.95, 0.0, 0.01, 0.0, 0.0, 0.0, 0.004, 0.0,
                       0.0, 0.0, 0.0, 0.0, 0.0, 0.0008, 0.0, 0.0, 0.0, 0.0],
    "LINE_DEN_COEFF": [1.0, 0.0, 0.0015, 0.0] + [0.0] * 16,
}


def q_rpc_project(spark, sf_dir):
    """GDALCreateRPCTransformer forward (alg/gdal_rpc.cpp:290-330,
    :462-466): normalize (lon, lat, h) by OFF/SCALE, evaluate the
    20-term cubic numerator/denominator per axis, result * SCALE +
    OFF + 0.5 (pixel-center convention). Point-doc coords rebased to
    a +-60 x +-6 pseudo lon/lat window feed the fixed sensor model
    above; the oracle replays the exact polynomial ratio in SQL."""
    import pandas as pd

    from gdal_spark.geom.rpc import RPCTransformer

    t = RPCTransformer(_RPC_FIX, height=0.0)
    g = (
        docs_geom(spark, sf_dir)
        .filter(F.col("geom_error").isNull() & F.col("wkt").startswith("POINT"))
        .select(
            F.col("_id").alias("doc_id"),
            ((F.col("env_minx") - 441320) / 10.0).alias("lon"),
            ((F.col("env_miny") - 3750720) / 100.0).alias("lat"),
        )
    )

    def _apply(batches):
        import numpy as np

        for pdf in batches:
            px, ln = t.forward(pdf["lon"].to_numpy(np.float64), pdf["lat"].to_numpy(np.float64))
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "px1000": np.floor(px * 1000 + 0.5).astype(np.int64),
                    "ln1000": np.floor(ln * 1000 + 0.5).astype(np.int64),
                }
            )

    return g.mapInPandas(_apply, "doc_id bigint, px1000 bigint, ln1000 bigint")


def _rpc_poly_sql(coeffs: list[float]) -> str:
    """SQL for the 20-term cubic with H = 0 (RPCComputeTerms order;
    H-bearing terms drop out)."""
    terms = ["1", "L", "P", None, "L * P", None, None, "L * L", "P * P", None,
             None, "L * L * L", "L * P * P", None, "L * L * P",
             "P * P * P", None, None, None, None]
    parts = [
        f"({c!r}) * ({t})"
        for c, t in zip(coeffs, terms)
        if t is not None and c != 0.0
    ]
    return " + ".join(parts) if parts else "0.0"


def _o_rpc_project() -> str:
    r = _RPC_FIX
    return (
        f"WITH g AS ({docs_g_cte()}), "
        "pts AS (SELECT doc_id, (gx - 441320) / 10.0 AS lon, (gy - 3750720) / 100.0 AS lat "
        "FROM g WHERE valid AND NOT is_poly), "
        f"norm AS (SELECT doc_id, lon / {r['LONG_SCALE']!r} AS L, lat / {r['LAT_SCALE']!r} AS P FROM pts), "
        "ev AS (SELECT doc_id, "
        f"({_rpc_poly_sql(r['SAMP_NUM_COEFF'])}) / ({_rpc_poly_sql(r['SAMP_DEN_COEFF'])}) AS xr, "
        f"({_rpc_poly_sql(r['LINE_NUM_COEFF'])}) / ({_rpc_poly_sql(r['LINE_DEN_COEFF'])}) AS yr "
        "FROM norm) "
        "SELECT doc_id, "
        f"CAST(floor((xr * {r['SAMP_SCALE']!r} + {r['SAMP_OFF']!r} + 0.5) * 1000 + 0.5) AS BIGINT) AS px1000, "
        f"CAST(floor((yr * {r['LINE_SCALE']!r} + {r['LINE_OFF']!r} + 0.5) * 1000 + 0.5) AS BIGINT) AS ln1000 "
        "FROM ev"
    )


QUERIES["rpc_project"] = q_rpc_project
ORACLES["rpc_project"] = _o_rpc_project()


def q_geoloc_lookup(spark, sf_dir):
    """GDALCreateGeoLocTransformer forward (alg/gdalgeoloc.cpp
    PixelLineToXY :392-460): source pixel -> geoloc-grid coords via
    (px - PIXEL_OFFSET)/PIXEL_STEP, then bilinear interpolation of the
    X/Y geolocation arrays. The 80x80 lattice is generated from a
    closed form with a quadratic term (so interpolation != formula and
    the lattice logic is actually exercised); every constant is a
    binary fraction and doc coords are integers, so the whole
    interpolation is EXACT float64 arithmetic — the SQL replay of the
    same floor/fraction/corner arithmetic matches bit for bit at
    x4096 quantization."""
    import pandas as pd

    from gdal_spark.geom.geoloc import GeolocTransformer

    import numpy as np

    gx_arr = np.fromfunction(
        lambda i, j: 1000.0 + 8.0 * j + 2.0 * i + (j * j) / 8.0, (80, 80)
    )
    gy_arr = np.fromfunction(
        lambda i, j: 500.0 + 4.0 * i - j + (i * i) / 16.0, (80, 80)
    )
    t = GeolocTransformer(
        gx_arr, gy_arr,
        pixel_offset=440720.0, pixel_step=16.0,
        line_offset=3750120.0, line_step=16.0,
    )
    g = (
        docs_geom(spark, sf_dir)
        .filter(F.col("geom_error").isNull() & F.col("wkt").startswith("POINT"))
        .select(
            F.col("_id").alias("doc_id"),
            F.col("env_minx").alias("px"),
            F.col("env_miny").alias("py"),
        )
    )

    def _apply(batches):
        for pdf in batches:
            X, Y = t.forward(pdf["px"].to_numpy(np.float64), pdf["py"].to_numpy(np.float64))
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "x4096": np.floor(X * 4096 + 0.5).astype(np.int64),
                    "y4096": np.floor(Y * 4096 + 0.5).astype(np.int64),
                }
            )

    return g.mapInPandas(_apply, "doc_id bigint, x4096 bigint, y4096 bigint")


def _o_geoloc_lookup() -> str:
    ax = "(1000.0 + 8.0 * {j} + 2.0 * {i} + ({j} * {j}) / 8.0)"
    ay = "(500.0 + 4.0 * {i} - {j} + ({i} * {i}) / 16.0)"

    def bil(f: str) -> str:
        a00 = f.format(i="iy", j="ix")
        a01 = f.format(i="iy", j="ix1")
        a10 = f.format(i="iy1", j="ix")
        a11 = f.format(i="iy1", j="ix1")
        return (
            f"(1 - fy) * ({a00} + fx * ({a01} - {a00})) "
            f"+ fy * ({a10} + fx * ({a11} - {a10}))"
        )

    return (
        f"WITH g AS ({docs_g_cte()}), "
        "gp AS (SELECT doc_id, (gx - 440720) / 16.0 AS p, (gy - 3750120) / 16.0 AS l "
        "FROM g WHERE valid AND NOT is_poly), "
        "ij AS (SELECT doc_id, p, l, "
        "LEAST(GREATEST(CAST(floor(p) AS BIGINT), 0), 78) AS ix, "
        "LEAST(GREATEST(CAST(floor(l) AS BIGINT), 0), 78) AS iy FROM gp), "
        "fr AS (SELECT doc_id, p - ix AS fx, l - iy AS fy, ix, iy, "
        "LEAST(ix + 1, 79) AS ix1, LEAST(iy + 1, 79) AS iy1 FROM ij) "
        "SELECT doc_id, "
        f"CAST(floor(({bil(ax)}) * 4096 + 0.5) AS BIGINT) AS x4096, "
        f"CAST(floor(({bil(ay)}) * 4096 + 0.5) AS BIGINT) AS y4096 "
        "FROM fr"
    )


QUERIES["geoloc_lookup"] = q_geoloc_lookup
ORACLES["geoloc_lookup"] = _o_geoloc_lookup()


_STREAM_SEQ = [0]


def q_stream_dedup(spark, sf_dir):
    """Structured Streaming stateful cross-batch dedup run END TO END:
    the documents table is staged as three arrival files, consumed one
    file per micro-batch (maxFilesPerTrigger=1, availableNow), piped
    through the applyInPandasWithState exact-dedup operator
    (streaming/ingest.py stream_exact_dedup — the incremental
    CreateFeature / unique-constraint analog), and the memory sink is
    read back after termination. Output is the SET of surviving text
    keys — order-independent (the operator keeps exactly one row per
    distinct text whichever micro-batch wins), so the batch oracle is
    simply DISTINCT md5(text)."""
    import os
    import shutil
    import tempfile

    from gdal_spark.streaming.ingest import stream_docs_from_files, stream_exact_dedup

    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    tmp = tempfile.mkdtemp(prefix="gdal_spark_stream_dedup_")
    src = os.path.join(tmp, "src")
    try:
        for i in range(3):
            d.filter(F.col("doc_id") % 3 == i).coalesce(1).write.mode("append").parquet(src)
        stream = (
            spark.readStream.schema(d.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        ded = stream_exact_dedup(stream, text_col="text", id_col="doc_id")
        _STREAM_SEQ[0] += 1
        name = f"stream_dedup_sink_{_STREAM_SEQ[0]}"
        q = (
            ded.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option("checkpointLocation", os.path.join(tmp, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        kept = spark.table(name).select(
            F.md5(F.col("text").cast("binary")).alias("text_md5")
        ).distinct()
        # materialize before the staging dir disappears
        out = spark.createDataFrame(kept.collect(), "text_md5 string")
        return out
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


QUERIES["stream_dedup"] = q_stream_dedup
ORACLES["stream_dedup"] = "SELECT DISTINCT md5(text) AS text_md5 FROM documents"


def q_hillshade_variants(spark, sf_dir):
    """gdaldem hillshade -combined / -multidirectional / -igor
    (gdaldem_lib.cpp:1151-1181, 1256-1311, 946-1012) over the byte20
    DEM, x1000 quantized; the oracle replays each variant's exact
    float64 chain in SQL (signed nsres, z/8 factor, USGS OF 92-422
    weights, Igor angular-difference shadowness)."""
    from gdal_spark.fixtures import BYTE20_SPEC, byte20_tiles
    from gdal_spark.operators.focal import hillshade
    from gdal_spark.operators.raster import as_features

    tiles = byte20_tiles(spark)
    outs = []
    for variant in ("combined", "multidirectional", "igor"):
        t = hillshade(tiles, BYTE20_SPEC, variant=variant)
        pix = as_features(t, BYTE20_SPEC).select(
            "py", "px", F.col("value").alias(variant)
        )
        outs.append(pix)
    j = outs[0].join(outs[1], ["py", "px"]).join(outs[2], ["py", "px"])
    return j.select(
        F.col("py").cast("bigint").alias("py"),
        F.col("px").cast("bigint").alias("px"),
        F.floor(F.col("combined") * 1000 + 0.5).cast("bigint").alias("comb1000"),
        F.floor(F.col("multidirectional") * 1000 + 0.5).cast("bigint").alias("multi1000"),
        F.floor(F.col("igor") * 1000 + 0.5).cast("bigint").alias("igor1000"),
    )


def _o_hillshade_variants() -> str:
    # 3x3 neighborhood via 9 clamped equi-joins (one hash join each) —
    # the correlated-subquery formulation re-evaluated every neighbor
    # per reference (no CSE in DuckDB) and cost ~24 s for 400 rows
    names = {
        (-1, -1): "na", (-1, 0): "nb", (-1, 1): "nc",
        (0, -1): "nd", (0, 1): "nf",
        (1, -1): "ng", (1, 0): "nh", (1, 1): "ni",
    }
    joins = " ".join(
        f"JOIN pixels {al} ON {al}.py = LEAST(GREATEST(p.py + ({dy}), 0), 19) "
        f"AND {al}.px = LEAST(GREATEST(p.px + ({dx}), 0), 19)"
        for (dy, dx), al in names.items()
    )
    a, b, c = "CAST(na.v AS DOUBLE)", "CAST(nb.v AS DOUBLE)", "CAST(nc.v AS DOUBLE)"
    d_, f = "CAST(nd.v AS DOUBLE)", "CAST(nf.v AS DOUBLE)"
    g, h, i = "CAST(ng.v AS DOUBLE)", "CAST(nh.v AS DOUBLE)", "CAST(ni.v AS DOUBLE)"
    # signed Horn gradients (nsres = -60), z factor 1/8; dxa/dya are the
    # UNSCALED aspect sums (igor) from the same joined values — same
    # float64 chain as the kernels, no correlated re-evaluation
    x = f"(((({a}) + 2 * ({d_}) + ({g})) - (({c}) + 2 * ({f}) + ({i}))) / 60.0)"
    y = f"(((({g}) + 2 * ({h}) + ({i})) - (({a}) + 2 * ({b}) + ({c}))) / (-60.0))"
    dxa_s = f"((({c}) + 2 * ({f}) + ({i})) - (({a}) + 2 * ({d_}) + ({g})))"
    dya_s = f"((({g}) + 2 * ({h}) + ({i})) - (({a}) + 2 * ({b}) + ({c})))"
    base = (
        f"WITH pixels AS (SELECT * FROM (VALUES {_byte20_vals_sql()}) AS t(py, px, v)), "
        f"grad AS (SELECT p.py, p.px, {x} AS x, {y} AS y, "
        f"{dxa_s} AS dxa, {dya_s} AS dya FROM pixels p {joins}), "
        "gv AS (SELECT py, px, x, y, dxa, dya, x * x AS xx, y * y AS yy, x * x + y * y AS xxyy, "
        "(x * x + y * y) * 0.125 * 0.125 AS slope FROM grad)"
    )
    alt, az = "radians(45.0)", "radians(315.0)"
    sin_alt, cos_alt = f"sin({alt})", f"cos({alt})"
    # combined
    num = f"({sin_alt} - (y * cos({az}) * {cos_alt} * 0.125 - x * sin({az}) * {cos_alt} * 0.125))"
    shade = f"LEAST(GREATEST(({num}) / sqrt(1.0 + slope), -1.0), 1.0)"
    comb = f"(1.0 - acos({shade}) * atan(sqrt(slope)) * (4.0 / (pi() * pi())))"
    comb_out = f"(CASE WHEN ({comb}) <= 0.0 THEN 1.0 ELSE 1.0 + 254.0 * ({comb}) END)"
    # multidirectional (az 225/270/315/360, USGS weights)
    caz = "cos(radians(225.0))"
    v225 = f"GREATEST({sin_alt} + (x - y) * {caz} * {cos_alt} * 0.125, 0.0)"
    v270 = f"GREATEST({sin_alt} - x * {cos_alt} * 0.125, 0.0)"
    v315 = f"GREATEST({sin_alt} + (x + y) * {caz} * {cos_alt} * 0.125, 0.0)"
    v360 = f"GREATEST({sin_alt} - y * {cos_alt} * 0.125, 0.0)"
    w225 = "(0.5 * xxyy - x * y)"
    wsum = (
        f"({w225} * ({v225}) + xx * ({v270}) + (xxyy - {w225}) * ({v315}) + yy * ({v360}))"
    )
    multi = (
        f"(({wsum}) / (CASE WHEN xxyy = 0.0 THEN 1.0 ELSE 2.0 * xxyy END)) "
        "/ sqrt(1.0 + 0.125 * 0.125 * xxyy)"
    )
    multi_out = (
        f"(CASE WHEN xxyy = 0.0 THEN 1.0 + 254.0 * {sin_alt} "
        f"ELSE 1.0 + 254.0 * ({multi}) END)"
    )
    # igor (dxa/dya are gv columns — same float64 sums as the kernel)
    slope_deg = "degrees(atan(sqrt(xxyy) * 0.125))"
    aspect = "atan2(dya, -dxa)"
    tgt = f"(1.5 * pi() - {az})"
    m = "(({v}) - floor(({v}) / (2 * pi())) * (2 * pi()))"
    diff = f"abs({m.format(v=aspect)} - {m.format(v=tgt)})"
    diff2 = f"(CASE WHEN ({diff}) > pi() THEN 2 * pi() - ({diff}) ELSE ({diff}) END)"
    igor = f"(255.0 * (1.0 - (({slope_deg}) / 90.0) * (1.0 - ({diff2}) / pi())))"
    return (
        f"{base} "
        "SELECT CAST(gv.py AS BIGINT) AS py, CAST(gv.px AS BIGINT) AS px, "
        f"CAST(floor(({comb_out}) * 1000 + 0.5) AS BIGINT) AS comb1000, "
        f"CAST(floor(({multi_out}) * 1000 + 0.5) AS BIGINT) AS multi1000, "
        f"CAST(floor(({igor}) * 1000 + 0.5) AS BIGINT) AS igor1000 "
        "FROM gv"
    )


QUERIES["hillshade_variants"] = q_hillshade_variants
ORACLES["hillshade_variants"] = _o_hillshade_variants()


def q_rasterize_z(spark, sf_dir):
    """BURN_VALUE_FROM=Z (gdal_rasterize -3d, gdalrasterize.cpp:417-510):
    point docs burn burn(1.0) + Z into the byte20 grid with MERGE_ALG=ADD;
    Z = doc_id % 7 synthesized into POINT Z WKT. Oracle replays the
    pixel sum exactly: value = SUM(1 + doc_id%7) per pixel, uint8 clamp."""
    from gdal_spark.fixtures import BYTE20_SPEC
    from gdal_spark.operators.raster import as_features, rasterize

    g = docs_geom(spark, sf_dir)
    pts = g.filter(
        F.col("geom_error").isNull() & (F.col("env_minx") == F.col("env_maxx"))
    ).select(
        F.col("_id").alias("fid"),
        F.concat(
            F.lit("POINT Z ("),
            F.col("env_minx").cast("string"), F.lit(" "),
            F.col("env_miny").cast("string"), F.lit(" "),
            (F.col("_id") % 7).cast("double").cast("string"), F.lit(")"),
        ).alias("wkt"),
        F.array(F.lit(1.0)).alias("burn_values"),
    )
    tiles = rasterize(pts, BYTE20_SPEC, merge_alg="add", burn_value_from_z=True)
    pix = as_features(tiles, BYTE20_SPEC, skip_value=0.0)
    return pix.filter(F.col("band") == 1).select(
        F.col("py").cast("bigint").alias("py"),
        F.col("px").cast("bigint").alias("px"),
        F.col("value").cast("bigint").alias("v"),
    )


def _o_rasterize_z() -> str:
    return (
        f"WITH g AS ({docs_g_cte()}), "
        "p AS (SELECT CAST(floor((gx - 440720) / 60.0) AS BIGINT) AS px, "
        "CAST(floor((3751320 - gy) / 60.0) AS BIGINT) AS py, "
        "1.0 + (doc_id % 7) AS v "
        "FROM g WHERE valid AND NOT is_poly), "
        "pix AS (SELECT py, px, LEAST(CAST(SUM(v) AS BIGINT), 255) AS v FROM p "
        "WHERE px BETWEEN 0 AND 19 AND py BETWEEN 0 AND 19 GROUP BY py, px) "
        "SELECT py, px, v FROM pix"
    )


QUERIES["rasterize_z"] = q_rasterize_z
ORACLES["rasterize_z"] = _o_rasterize_z()


def q_reclassify(spark, sf_dir):
    """`gdal raster reclassify` over byte20 with the autotest-shaped
    mapping (vrtreclassifier.cpp semantics: closed-bound conversion
    via nextafter, PASS_THROUGH, DEFAULT). Oracle replays the interval
    cascade as a SQL CASE."""
    from gdal_spark.fixtures import BYTE20_SPEC, byte20_tiles
    from gdal_spark.operators.calc import reclassify
    from gdal_spark.operators.raster import as_features

    out = reclassify(
        byte20_tiles(spark), BYTE20_SPEC,
        "165 = 120; (-inf, 100] = 140; (100, 130] = PASS_THROUGH; DEFAULT = 160",
        out_dtype="uint8",
    )
    pix = as_features(out, BYTE20_SPEC)
    return pix.filter(F.col("band") == 1).select(
        F.col("py").cast("bigint").alias("py"),
        F.col("px").cast("bigint").alias("px"),
        F.col("value").cast("bigint").alias("v"),
    )


def _o_reclassify() -> str:
    return (
        f"WITH pixels AS (SELECT * FROM (VALUES {_byte20_vals_sql()}) AS t(py, px, v)) "
        "SELECT CAST(py AS BIGINT) AS py, CAST(px AS BIGINT) AS px, "
        "CAST(CASE WHEN v = 165 THEN 120 WHEN v <= 100 THEN 140 "
        "WHEN v <= 130 THEN v ELSE 160 END AS BIGINT) AS v FROM pixels"
    )


def q_raster_calc(spark, sf_dir):
    """`gdal raster calc -i A -i B --calc` (gdalalg_raster_calc.cpp):
    A=byte20, B=byte20 reclassified to a 0/1 mask, expr
    A * B + where(B > 0, 10, 0) — joined per tile, numpy-evaluated.
    Oracle replays the arithmetic per pixel."""
    from gdal_spark.fixtures import BYTE20_SPEC, byte20_tiles
    from gdal_spark.operators.calc import raster_calc, reclassify
    from gdal_spark.operators.raster import as_features

    a = byte20_tiles(spark)
    b = reclassify(byte20_tiles(spark), BYTE20_SPEC, "[0, 120] = 0; DEFAULT = 1", out_dtype="uint8")
    out = raster_calc({"A": a, "B": b}, BYTE20_SPEC, "A * B + where(B > 0, 10, 0)")
    pix = as_features(out, BYTE20_SPEC)
    return pix.filter(F.col("band") == 1).select(
        F.col("py").cast("bigint").alias("py"),
        F.col("px").cast("bigint").alias("px"),
        F.col("value").cast("bigint").alias("v"),
    )


def _o_raster_calc() -> str:
    return (
        f"WITH pixels AS (SELECT * FROM (VALUES {_byte20_vals_sql()}) AS t(py, px, v)) "
        "SELECT CAST(py AS BIGINT) AS py, CAST(px AS BIGINT) AS px, "
        "CAST(CASE WHEN v > 120 THEN v + 10 ELSE 0 END AS BIGINT) AS v FROM pixels"
    )


QUERIES["reclassify"] = q_reclassify
ORACLES["reclassify"] = _o_reclassify()
QUERIES["raster_calc"] = q_raster_calc
ORACLES["raster_calc"] = _o_raster_calc()


def q_wrapdateline(spark, sf_dir):
    """ogr2ogr -wrapdateline (ogrgeometryfactory.cpp
    CutGeometryOnDateLineAndAddToMulti): synthesized antimeridian-
    crossing rectangles split into an east and a west part; per-part
    planar area and hemisphere are integer-exact, so the oracle is
    pure arithmetic. Exercises detection (envelope branch), the
    two-rectangle overlay cut, the -360 shift, and explode."""
    from gdal_spark.operators.st_funcs import st_area, st_centroid
    from gdal_spark.operators.vector_translate import vector_translate

    d = docs(spark, sf_dir).filter(F.col("_id") % 10 == 0)
    x0 = (F.lit(175) + F.col("_id") % 5).cast("long")
    h = (F.lit(1) + F.col("_id") % 3).cast("long")
    src = d.select(
        F.col("_id").alias("doc_id"),
        F.concat(
            F.lit("POLYGON (("),
            x0, F.lit(" 0, "),
            x0 + 10, F.lit(" 0, "),
            x0 + 10, F.lit(" "), h, F.lit(", "),
            x0, F.lit(" "), h, F.lit(", "),
            x0, F.lit(" 0))"),
        ).alias("wkt"),
    )
    wrapped = vector_translate(src, wrapdateline=True)
    parts = vector_translate(wrapped, explode_collections=True)
    cx = F.regexp_extract(F.col("centroid"), r"POINT \((-?[0-9.]+)", 1).cast("double")
    return (
        parts.withColumn("area", st_area("wkt"))
        .withColumn("centroid", st_centroid("wkt"))
        .select(
            "doc_id",
            F.when(cx >= 0, F.lit("E")).otherwise(F.lit("W")).alias("side"),
            F.floor(F.col("area") * 1000 + 0.5).cast("bigint").alias("area1000"),
        )
    )


def _o_wrapdateline() -> str:
    return (
        "WITH d AS (SELECT doc_id, 175 + doc_id % 5 AS x0, 1 + doc_id % 3 AS h "
        "FROM documents WHERE doc_id % 10 = 0) "
        "SELECT doc_id, 'E' AS side, CAST((180 - x0) * h * 1000 AS BIGINT) AS area1000 FROM d "
        "UNION ALL "
        "SELECT doc_id, 'W' AS side, CAST((x0 + 10 - 180) * h * 1000 AS BIGINT) AS area1000 FROM d"
    )


QUERIES["wrapdateline"] = q_wrapdateline
ORACLES["wrapdateline"] = _o_wrapdateline()


def q_repetition_signals(spark, sf_dir):
    """Gopher-style repetition filters (Rae et al. 2021 Table A1):
    duplicate-word fraction, top-word count, and most-covering-2-gram
    character coverage per document — the pre-training quality gate
    that drops boilerplate/repetitive documents. Pure Catalyst; the
    oracle replays the identical fixed-point arithmetic in DuckDB."""
    from gdal_spark.text import repetition_signals

    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    return repetition_signals(d)


def _o_repetition_signals() -> str:
    from gdal_spark.text import repetition_signals_sql

    return repetition_signals_sql("doc_id", "text")


QUERIES["repetition_signals"] = q_repetition_signals
ORACLES["repetition_signals"] = _o_repetition_signals()


def q_substring_dup_spans(spark, sf_dir):
    """Exact substring dedup (Lee et al. 2022 ExactSubstr): maximal
    spans >= 40 chars occurring at 2+ (doc, offset) positions in the
    corpus, as (doc_id, span_start, span_end). Hash-only shuffle +
    gaps-and-islands merge — no driver involvement; the oracle replays
    the identical window hashing and islands arithmetic in DuckDB."""
    from gdal_spark.dedup import substring_dup_spans

    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    return substring_dup_spans(d, min_len=40)


def _o_substring_dup_spans() -> str:
    from gdal_spark.dedup import substring_dup_spans_sql

    return substring_dup_spans_sql("doc_id", "text", min_len=40)


QUERIES["substring_dup_spans"] = q_substring_dup_spans
ORACLES["substring_dup_spans"] = _o_substring_dup_spans()


def q_interp_points_seam(spark, sf_dir):
    """GDALInterpolateAtPoint with exact_seams=True: points whose 2x2
    bilinear window CROSSES the interior tile seams (px/py = 16 on the
    2x16-tile byte20 layout) — the round-2 documented deviation, now
    removed via the focal 1-px halo exchange + global-coordinate
    windowed gather. Oracle = the same floor(p-0.5) 4-neighbor formula
    over the whole pixel grid (seams invisible by construction)."""
    from pyspark.sql import Row as _Row

    from gdal_spark.fixtures import BYTE20_SPEC, byte20_tiles
    from gdal_spark.operators.grid import interpolate_at_points

    pts = []
    pid = 0
    for py in (14, 15, 16):
        for px in (14, 15, 16):
            pts.append(_Row(pid=pid, x=440720.0 + (px + 0.8) * 60.0, y=3751320.0 - (py + 0.6) * 60.0))
            pid += 1
    p = spark.createDataFrame(pts)
    out = interpolate_at_points(
        byte20_tiles(spark), BYTE20_SPEC, p, method="bilinear", exact_seams=True
    )
    return out.select(
        F.col("pid").cast("bigint").alias("pid"),
        F.floor(F.col("value") * 1000 + 0.5).cast("bigint").alias("v1000"),
    )


def _o_interp_points_seam() -> str:
    rows = []
    pid = 0
    for py in (14, 15, 16):
        for px in (14, 15, 16):
            rows.append(f"({pid}, {px}, {py})")
            pid += 1
    vals = ", ".join(rows)

    def v(dy, dx):
        return (
            "(SELECT CAST(q.v AS DOUBLE) FROM pixels q "
            f"WHERE q.py = s.iy + ({dy}) AND q.px = s.ix + ({dx}))"
        )

    return (
        f"WITH pixels AS (SELECT * FROM (VALUES {_byte20_vals_sql()}) AS t(py, px, v)), "
        f"pts AS (SELECT * FROM (VALUES {vals}) AS t(pid, px, py)), "
        "s AS (SELECT pid, CAST(floor(px + 0.8 - 0.5) AS BIGINT) AS ix, "
        "CAST(floor(py + 0.6 - 0.5) AS BIGINT) AS iy, "
        "1.5 - (px + 0.8 - floor(px + 0.8 - 0.5)) AS rx, "
        "1.5 - (py + 0.6 - floor(py + 0.6 - 0.5)) AS ry FROM pts) "
        "SELECT CAST(pid AS BIGINT) AS pid, CAST(floor(("
        f"  {v(0,0)} * rx * ry + {v(0,1)} * (1 - rx) * ry "
        f"+ {v(1,0)} * rx * (1 - ry) + {v(1,1)} * (1 - rx) * (1 - ry)"
        ") * 1000 + 0.5) AS BIGINT) AS v1000 FROM s"
    )


QUERIES["interp_points_seam"] = q_interp_points_seam
ORACLES["interp_points_seam"] = _o_interp_points_seam()


# ---------------------------------------------------------------------------
# true S2 cell encoding (geom/s2.py): the north star's named
# "vectorized H3/S2 cell encoding ... repartitioning by cell prefix"


def q_s2_cells(spark, sf_dir):
    """Level-30 S2 cell id + level-12 prefix + canonical token per
    document, over deterministic rational unit vectors (a, b, c)/n
    derived from doc_id — rational so the DuckDB twin reproduces the
    doubles bit-exactly (libm trig is not cross-engine reproducible;
    +-*/sqrt are correctly rounded IEEE and are the only ops used).

    The encode is the canonical S2 construction (cube face -> quadratic
    ST -> 30-level Hilbert automaton; public algorithm, s2geometry
    s2coords.h / s2cell_id.cc semantics) vectorized in numpy; parent
    and token are pure-Catalyst bit arithmetic (cells.s2_parent_col /
    s2_token_col), so the oracle also cross-checks signed
    two's-complement handling of the negative face-4/5 ids."""
    from gdal_spark.operators.cells import s2_cell_udf, s2_parent_col, s2_token_col

    docs = load(spark, sf_dir, "documents").select(F.col("doc_id").cast("long").alias("did"))
    a = ((F.col("did") * 2 + 1) % 19 - 9).cast("double")
    b = ((F.col("did") * 3 + 2) % 17 - 8).cast("double")
    c = ((F.col("did") * 5) % 6 * 2 - 5).cast("double")
    vec = docs.select("did", a.alias("a"), b.alias("b"), c.alias("c"))
    n = F.sqrt(F.col("a") * F.col("a") + F.col("b") * F.col("b") + F.col("c") * F.col("c"))
    xyz = vec.select(
        "did",
        (F.col("a") / n).alias("x"),
        (F.col("b") / n).alias("y"),
        (F.col("c") / n).alias("z"),
    )
    enc = s2_cell_udf(level=30)
    cells = xyz.select("did", enc(F.col("x"), F.col("y"), F.col("z")).alias("cell"))
    return cells.select(
        F.col("did").alias("doc_id"),
        F.col("cell"),
        s2_parent_col(F.col("cell"), 12).alias("cell_l12"),
        s2_token_col(F.col("cell")).alias("token"),
    )


QUERIES["s2_cells"] = q_s2_cells
ORACLES["s2_cells"] = """WITH RECURSIVE base AS (
  SELECT CAST(doc_id AS BIGINT) AS did FROM documents
), vec AS (
  SELECT did,
    CAST((did*2+1) % 19 - 9 AS DOUBLE) AS a,
    CAST((did*3+2) % 17 - 8 AS DOUBLE) AS b,
    CAST(2*((did*5) % 6) - 5 AS DOUBLE) AS c
  FROM base
), xyz AS (
  SELECT did, a/n AS x, b/n AS y, c/n AS z
  FROM (SELECT *, sqrt(a*a + b*b + c*c) AS n FROM vec)
), fuv AS (
  SELECT did, x, y, z,
    CASE WHEN abs(x) >= abs(y) AND abs(x) >= abs(z) THEN CASE WHEN x >= 0 THEN 0 ELSE 3 END
         WHEN abs(y) >= abs(z) THEN CASE WHEN y >= 0 THEN 1 ELSE 4 END
         ELSE CASE WHEN z >= 0 THEN 2 ELSE 5 END END AS face
  FROM xyz
), uv AS (
  SELECT did, face,
    CASE face WHEN 0 THEN y/x WHEN 1 THEN -(x/y) WHEN 2 THEN -(x/z)
              WHEN 3 THEN z/x WHEN 4 THEN z/y ELSE -(y/z) END AS u,
    CASE face WHEN 0 THEN z/x WHEN 1 THEN z/y WHEN 2 THEN -(y/z)
              WHEN 3 THEN y/x WHEN 4 THEN -(x/y) ELSE -(x/z) END AS v
  FROM fuv
), ij AS (
  SELECT did, face,
    CAST(LEAST(GREATEST(floor((CASE WHEN u >= 0 THEN 0.5*sqrt(1.0 + 3.0*u) ELSE 1.0 - 0.5*sqrt(1.0 - 3.0*u) END) * 1073741824.0), 0), 1073741823) AS BIGINT) AS i,
    CAST(LEAST(GREATEST(floor((CASE WHEN v >= 0 THEN 0.5*sqrt(1.0 + 3.0*v) ELSE 1.0 - 0.5*sqrt(1.0 - 3.0*v) END) * 1073741824.0), 0), 1073741823) AS BIGINT) AS j
  FROM uv
), hil AS (
  SELECT did, face, i, j, 30 AS rem, (face & 1) AS o, CAST(0 AS UBIGINT) AS pos FROM ij
  UNION ALL
  SELECT did, face, i, j, rem - 1,
         xor(o, CASE p WHEN 0 THEN 1 WHEN 3 THEN 3 ELSE 0 END),
         pos * 4 + CAST(p AS UBIGINT)
  FROM (
    SELECT *, CASE o*4 + (((i >> (rem-1)) & 1)*2 + ((j >> (rem-1)) & 1))
      WHEN 0 THEN 0 WHEN 1 THEN 1 WHEN 2 THEN 3 WHEN 3 THEN 2
      WHEN 4 THEN 0 WHEN 5 THEN 3 WHEN 6 THEN 1 WHEN 7 THEN 2
      WHEN 8 THEN 2 WHEN 9 THEN 3 WHEN 10 THEN 1 WHEN 11 THEN 0
      WHEN 12 THEN 2 WHEN 13 THEN 1 WHEN 14 THEN 3 ELSE 0 END AS p
    FROM hil WHERE rem > 0
  )
), ids AS (
  SELECT did,
    (CAST(face AS UBIGINT) * 2305843009213693952 + pos * 2 + 1) AS uid
  FROM hil WHERE rem = 0
), withp AS (
  SELECT did, uid,
    ((uid // 137438953472) * 137438953472 + 68719476736) AS p12u
  FROM ids
)
SELECT did AS doc_id,
  CASE WHEN uid > 9223372036854775807 THEN CAST(CAST(uid AS HUGEINT) - 18446744073709551616 AS BIGINT) ELSE CAST(uid AS BIGINT) END AS cell,
  CASE WHEN p12u > 9223372036854775807 THEN CAST(CAST(p12u AS HUGEINT) - 18446744073709551616 AS BIGINT) ELSE CAST(p12u AS BIGINT) END AS cell_l12,
  regexp_replace(lpad(lower(hex(uid)), 16, '0'), '0+$', '') AS token
FROM withp"""


def q_hexbin(spark, sf_dir):
    """Hexagonal-bin aggregation over document envelope centers — the
    planar H3-analog (axial coords + cube rounding), pure Catalyst
    end to end (cells.hex_cell_cols): scan -> project -> one groupBy
    shuffle on (hq, hr).  Envelope centers are exact doubles (integer
    world coords), so the DuckDB twin reproduces bin assignment
    bit-exactly; floor(v+0.5) rounding avoids the banker's-vs-half-away
    round() divergence between engines."""
    from gdal_spark.operators.cells import hex_cell_cols

    g = docs_geom(spark, sf_dir).filter(F.col("geom_error").isNull() & F.col("wkt").isNotNull())
    cx = (F.col("env_minx") + F.col("env_maxx")) * F.lit(0.5)
    cy = (F.col("env_miny") + F.col("env_maxy")) * F.lit(0.5)
    hq, hr = hex_cell_cols(cx, cy, 37.0)
    return (
        g.select(F.col("_id").alias("doc_id"), hq.alias("hq"), hr.alias("hr"), "n_chars")
        .groupBy("hq", "hr")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("n_chars").alias("sum_chars"))
    )


def _o_hexbin() -> str:
    hexpr = (
        "SELECT doc_id, n_chars, "
        "floor(q + 0.5) AS rx, floor((-q - r) + 0.5) AS ry, floor(r + 0.5) AS rz, "
        "q, r, (-q - r) AS s FROM ("
        "  SELECT doc_id, n_chars, "
        "  (sqrt(3.0)/3.0 * cx - cy/3.0)/37.0 AS q, (cy*2.0/3.0)/37.0 AS r FROM pts)"
    )
    return (
        f"WITH g AS ({docs_g_cte()}), "
        "pts AS (SELECT doc_id, n_chars, CAST(gx AS DOUBLE) AS cx, CAST(gy AS DOUBLE) AS cy "
        "FROM g WHERE valid), "
        f"ax AS ({hexpr}), "
        "cells AS (SELECT doc_id, n_chars, "
        "CAST(CASE WHEN abs(rx - q) > abs(ry - s) AND abs(rx - q) > abs(rz - r) "
        "THEN -ry - rz ELSE rx END AS BIGINT) AS hq, "
        "CAST(CASE WHEN NOT (abs(rx - q) > abs(ry - s) AND abs(rx - q) > abs(rz - r)) "
        "AND NOT (abs(ry - s) > abs(rz - r)) THEN -rx - ry ELSE rz END AS BIGINT) AS hr "
        "FROM ax) "
        "SELECT hq, hr, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS sum_chars "
        "FROM cells GROUP BY hq, hr"
    )


QUERIES["hexbin"] = q_hexbin
ORACLES["hexbin"] = _o_hexbin()


def q_cog_layout(spark, sf_dir):
    """Cloud-Optimized GeoTIFF data layout (operators/geotiff.py
    write_cog; rules per the reference COG driver
    frmts/cog/cogdriver.cpp): treat the 8x8 doc tile grid as the
    full-resolution tiling of a 2048^2 uint32 raster (tile 256), and
    for every overview level compute each occupied tile's global
    data-order rank — smallest overview first, full resolution last,
    row-major within a level — plus its uncompressed byte offset
    relative to the data start. Spark side derives the per-level bases
    from the writer's own layout helpers (cog_overview_dims /
    tiles_across, the code path write_cog lays files out with) and
    keeps the per-tile math in Catalyst; the oracle re-derives the
    bases in closed form (base(o) = sum of 4^k for k < 4-o ... i.e.
    21, 5, 1, 0) with plain SQL arithmetic."""
    from gdal_spark.operators.geotiff import cog_overview_dims, tiles_across

    dims = cog_overview_dims(2048, 2048, 256)
    ax = [tiles_across(w, 256) for w, _ in dims]
    bases = []
    for o in range(len(dims)):
        bases.append(sum(a * a for a in ax[o + 1 :]))
    tile_bytes = 256 * 256 * 4  # uint32 plane

    g = docs_geom(spark, sf_dir).filter(F.col("geom_error").isNull())
    t = tile_keys_for_envelopes(g, TILE_TLX, TILE_TLY, TILE_W, TILE_N)
    agg = t.groupBy("tx", "ty").agg(F.count(F.lit(1)).alias("n_docs"))
    # shiftright needs a literal bit count, so the per-level shift is
    # evaluated inside each struct (o is a Python int here); explode
    # then fans each tile out to its 4 pyramid levels, all in Catalyst.
    lv = F.explode(
        F.array(*[
            F.struct(
                F.lit(o).alias("ovr"),
                F.shiftright(F.col("ty"), o).alias("oty"),
                F.shiftright(F.col("tx"), o).alias("otx"),
                (
                    F.lit(bases[o])
                    + F.shiftright(F.col("ty"), o) * F.lit(ax[o])
                    + F.shiftright(F.col("tx"), o)
                ).alias("data_rank"),
            )
            for o in range(len(dims))
        ])
    ).alias("lv")
    per = agg.select("tx", "ty", "n_docs", lv).select(
        F.col("lv.ovr").alias("ovr"),
        F.col("lv.oty").alias("oty"),
        F.col("lv.otx").alias("otx"),
        F.col("lv.data_rank").alias("data_rank"),
        "n_docs",
    )
    return per.groupBy("ovr", "oty", "otx", "data_rank").agg(
        F.sum("n_docs").alias("n_docs")
    ).select(
        F.col("ovr").cast("bigint").alias("ovr"),
        F.col("oty").cast("bigint").alias("oty"),
        F.col("otx").cast("bigint").alias("otx"),
        F.col("data_rank").cast("bigint").alias("data_rank"),
        (F.col("data_rank") * F.lit(tile_bytes)).cast("bigint").alias("rel_offset"),
        F.col("n_docs").cast("bigint").alias("n_docs"),
    )


def _o_cog_layout() -> str:
    base = _o_tile_keys()
    return (
        f"WITH tk AS ({base}), "
        "agg AS (SELECT tx, ty, COUNT(*) AS n_docs FROM tk GROUP BY tx, ty), "
        # base(o): tiles of all smaller levels = sum of 4^k, k in [0, 3-o)
        "lv AS (SELECT * FROM (VALUES (0, 21, 8), (1, 5, 4), (2, 1, 2), (3, 0, 1)) "
        "       AS v(ovr, base, ax)), "
        "per AS (SELECT lv.ovr, (agg.ty >> lv.ovr) AS oty, (agg.tx >> lv.ovr) AS otx, "
        "lv.base + (agg.ty >> lv.ovr) * lv.ax + (agg.tx >> lv.ovr) AS data_rank, "
        "agg.n_docs FROM agg CROSS JOIN lv) "
        "SELECT CAST(ovr AS BIGINT) AS ovr, CAST(oty AS BIGINT) AS oty, "
        "CAST(otx AS BIGINT) AS otx, CAST(data_rank AS BIGINT) AS data_rank, "
        "CAST(data_rank * 262144 AS BIGINT) AS rel_offset, "
        "CAST(SUM(n_docs) AS BIGINT) AS n_docs "
        "FROM per GROUP BY ovr, oty, otx, data_rank"
    )


QUERIES["cog_layout"] = q_cog_layout
ORACLES["cog_layout"] = _o_cog_layout()


def q_geojson_roundtrip(spark, sf_dir):
    """GeoJSON vector IO (operators/geojson.py; reference driver
    ogr/ogrsf_frmts/geojson/): every doc geometry encoded as an RFC
    7946 Feature line and parsed back by the independent JSON->WKT
    path, then re-measured. The oracle is the plain envelopes
    derivation — so any drift anywhere in the WKT -> GeoJSON -> WKT
    round-trip (coordinate values, ring closure, type dispatch)
    surfaces as an envelope/equality mismatch. Equality compares the
    engine's canonical serialization (to_wkt of parse_wkt) on both
    sides so source-formatting differences (comma spacing) don't mask
    the check while real geometry drift still fails it."""
    import pandas as pd

    from gdal_spark.geom.wkt import parse_wkt, to_wkt
    from gdal_spark.operators.geojson import json_geometry_to_wkt, wkt_to_json_geometry

    g = docs_geom(spark, sf_dir).filter(
        F.col("geom_error").isNull() & F.col("wkt").isNotNull()
    ).select(F.col("_id").alias("doc_id"), "wkt")

    def _rt(batches):
        import json as _json

        for pdf in batches:
            wkts = pdf["wkt"].tolist()
            lines = [_json.dumps({"type": "Feature", "geometry": wkt_to_json_geometry(w),
                                  "properties": {}}) for w in wkts]
            back = [json_geometry_to_wkt(_json.loads(ln)["geometry"]) for ln in lines]
            parsed = parse_wkt(back)
            env = parsed.envelopes()
            canon_src = to_wkt(parse_wkt(wkts))
            canon_back = to_wkt(parsed)
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"],
                "minx": env[:, 0].astype("int64"),
                "miny": env[:, 1].astype("int64"),
                "maxx": env[:, 2].astype("int64"),
                "maxy": env[:, 3].astype("int64"),
                "wkt_eq": [a == b for a, b in zip(canon_src, canon_back)],
            })

    return g.mapInPandas(
        _rt, "doc_id long, minx long, miny long, maxx long, maxy long, wkt_eq boolean"
    )


def _o_geojson_roundtrip() -> str:
    return (
        f"WITH g AS ({docs_g_cte()}) SELECT doc_id, "
        "CAST(gx - half AS BIGINT) AS minx, CAST(gy - half AS BIGINT) AS miny, "
        "CAST(gx + half AS BIGINT) AS maxx, CAST(gy + half AS BIGINT) AS maxy, "
        "TRUE AS wkt_eq FROM g WHERE valid"
    )


QUERIES["geojson_roundtrip"] = q_geojson_roundtrip
ORACLES["geojson_roundtrip"] = _o_geojson_roundtrip()


def q_shapefile_records(spark, sf_dir):
    """Shapefile record codec (operators/shapefile.py; reference
    ogr/ogrsf_frmts/shape/ shape2ogr.cpp + shapelib/shpopen.c): every
    valid doc geometry encoded as a .shp record payload and decoded
    back by the independent reader path. The oracle pins the BINARY
    FRAMING in closed form — a point record is exactly 10 16-bit
    words, a 5-vertex square polygon exactly 64 (4 type + 32 bbox +
    8 counts + 4 part index + 80 coords bytes) — plus the decoded
    envelope and twice the unsigned shoelace area, so a single
    misplaced byte or flipped ring surfaces as a value mismatch."""
    import pandas as pd

    from gdal_spark.geom.batch import GeomBatchBuilder
    from gdal_spark.geom.wkt import parse_wkt
    from gdal_spark.operators.shapefile import (
        GT_OF_CODE_MAP,
        decode_shp_geometry,
        encode_shp_geometry,
    )

    g = docs_geom(spark, sf_dir).filter(
        F.col("geom_error").isNull() & F.col("wkt").isNotNull()
    ).select(F.col("_id").alias("doc_id"), "wkt")

    def _codec(batches):
        import numpy as np

        from gdal_spark.operators.shapefile import _encode_zm_record
        from gdal_spark.geom.batch import GeomType as GT

        for pdf in batches:
            batch = parse_wkt(pdf["wkt"])
            src_env = batch.envelopes()
            codes, words = [], []
            m_words, m_vals = [], []
            builder = GeomBatchBuilder()
            for i in range(len(pdf)):
                payload = encode_shp_geometry(*batch.geometry(i))
                code, parts, _, _ = decode_shp_geometry(payload)
                codes.append(code)
                words.append(len(payload) // 2)
                builder.add(GT_OF_CODE_MAP[code](parts), parts)
                # measured leg: a synthetic XYM (even ids) / XYZM (odd
                # ids) point at the doc centroid with m = doc_id % 1000
                # round-trips the M record framing (POINTM = 14 words,
                # POINTZ+M slot = 18) and the measure value itself
                did = int(pdf["doc_id"].iloc[i])
                cx = float((src_env[i, 0] + src_env[i, 2]) / 2)
                cy = float((src_env[i, 1] + src_env[i, 3]) / 2)
                mv = float(did % 1000)
                pt = [[np.array([[cx, cy]])]]
                ms = [[np.array([mv])]]
                zs = [[np.array([1.5])]] if did % 2 else None
                mp = _encode_zm_record(GT.POINT, pt, zs, ms)
                _, _, _, m_back = decode_shp_geometry(mp)
                m_words.append(len(mp) // 2)
                m_vals.append(int(m_back[0][0][0]))
            back = builder.finish()
            env = back.envelopes()
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"],
                "shape_type": pd.Series(codes, dtype="int64"),
                "n_words": pd.Series(words, dtype="int64"),
                "minx": env[:, 0].astype("int64"),
                "miny": env[:, 1].astype("int64"),
                "maxx": env[:, 2].astype("int64"),
                "maxy": env[:, 3].astype("int64"),
                "area2": (2.0 * np.abs(back.areas())).astype("int64"),
                "m_words": pd.Series(m_words, dtype="int64"),
                "m_val": pd.Series(m_vals, dtype="int64"),
            })

    return g.mapInPandas(
        _codec,
        "doc_id long, shape_type long, n_words long, "
        "minx long, miny long, maxx long, maxy long, area2 long, "
        "m_words long, m_val long",
    )


def _o_shapefile_records() -> str:
    return (
        f"WITH g AS ({docs_g_cte()}) SELECT doc_id, "
        "CAST(CASE WHEN is_poly THEN 5 ELSE 1 END AS BIGINT) AS shape_type, "
        "CAST(CASE WHEN is_poly THEN 64 ELSE 10 END AS BIGINT) AS n_words, "
        "CAST(gx - half AS BIGINT) AS minx, CAST(gy - half AS BIGINT) AS miny, "
        "CAST(gx + half AS BIGINT) AS maxx, CAST(gy + half AS BIGINT) AS maxy, "
        "CAST(8 * half * half AS BIGINT) AS area2, "
        # XYM point = 4+24 bytes = 14 words; XYZM = 4+32 = 18 words
        "CAST(CASE WHEN doc_id % 2 = 0 THEN 14 ELSE 18 END AS BIGINT) AS m_words, "
        "CAST(doc_id % 1000 AS BIGINT) AS m_val "
        "FROM g WHERE valid"
    )


QUERIES["shapefile_records"] = q_shapefile_records
ORACLES["shapefile_records"] = _o_shapefile_records()


def q_gpkg_blob(spark, sf_dir):
    """GeoPackage binary codec (operators/gpkg.py; reference
    ogr/ogrsf_frmts/gpkg/ogrgeopackageutility.cpp GPkgHeaderFromWKB /
    GPkgGeometryToOGR): every valid doc geometry encoded as a GPB blob
    and decoded back by the independent reader path. The oracle pins
    the BINARY FRAMING in closed form — a point blob is exactly
    8 (header) + 32 (XY envelope) + 21 (WKB point) = 61 bytes, a
    5-vertex square polygon 8 + 32 + 93 = 133 — plus the header flags
    byte (0x03 = little-endian, envelope indicator 1), srs_id, the
    decoded WKB geometry type code, and the decoded envelope, so a
    single misplaced byte surfaces as a value mismatch."""
    import pandas as pd

    from gdal_spark.geom.wkb import geom_to_wkb, wkb_to_geom
    from gdal_spark.geom.wkt import parse_wkt
    from gdal_spark.operators.gpkg import decode_gpb, encode_gpb

    g = docs_geom(spark, sf_dir).filter(
        F.col("geom_error").isNull() & F.col("wkt").isNotNull()
    ).select(F.col("_id").alias("doc_id"), "wkt")

    def _codec(batches):
        import struct

        for pdf in batches:
            batch = parse_wkt(pdf["wkt"])
            wkbs = geom_to_wkb(batch)
            env = batch.envelopes()
            nbytes, flags, srss, codes = [], [], [], []
            minxs, minys, maxxs, maxys = [], [], [], []
            back_wkbs = []
            for i in range(len(pdf)):
                e = (
                    float(env[i, 0]), float(env[i, 2]),
                    float(env[i, 1]), float(env[i, 3]),
                )
                blob = encode_gpb(wkbs[i], 4326, e)
                srs, denv, _, wkb = decode_gpb(blob)
                nbytes.append(len(blob))
                flags.append(blob[3])
                srss.append(srs)
                codes.append(struct.unpack_from("<I", wkb, 1)[0])
                minxs.append(denv[0]); maxxs.append(denv[1])
                minys.append(denv[2]); maxys.append(denv[3])
                back_wkbs.append(wkb)
            renv = wkb_to_geom(back_wkbs).envelopes()
            ok = (
                (renv[:, 0] == [m for m in minxs])
                & (renv[:, 1] == [m for m in minys])
                & (renv[:, 2] == [m for m in maxxs])
                & (renv[:, 3] == [m for m in maxys])
            )
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"],
                "n_bytes": pd.Series(nbytes, dtype="int64"),
                "flags": pd.Series(flags, dtype="int64"),
                "srs_id": pd.Series(srss, dtype="int64"),
                "wkb_type": pd.Series(codes, dtype="int64"),
                "minx": pd.Series(minxs).astype("int64"),
                "miny": pd.Series(minys).astype("int64"),
                "maxx": pd.Series(maxxs).astype("int64"),
                "maxy": pd.Series(maxys).astype("int64"),
                "env_match": pd.Series(ok, dtype="int64"),
            })

    return g.mapInPandas(
        _codec,
        "doc_id long, n_bytes long, flags long, srs_id long, wkb_type long, "
        "minx long, miny long, maxx long, maxy long, env_match long",
    )


def _o_gpkg_blob() -> str:
    return (
        f"WITH g AS ({docs_g_cte()}) SELECT doc_id, "
        "CAST(CASE WHEN is_poly THEN 133 ELSE 61 END AS BIGINT) AS n_bytes, "
        "CAST(3 AS BIGINT) AS flags, CAST(4326 AS BIGINT) AS srs_id, "
        "CAST(CASE WHEN is_poly THEN 3 ELSE 1 END AS BIGINT) AS wkb_type, "
        "CAST(gx - half AS BIGINT) AS minx, CAST(gy - half AS BIGINT) AS miny, "
        "CAST(gx + half AS BIGINT) AS maxx, CAST(gy + half AS BIGINT) AS maxy, "
        "CAST(1 AS BIGINT) AS env_match "
        "FROM g WHERE valid"
    )


QUERIES["gpkg_blob"] = q_gpkg_blob
ORACLES["gpkg_blob"] = _o_gpkg_blob()


def q_csv_fields(spark, sf_dir):
    """OGR CSV field codec (operators/csv_layer.py; reference
    ogr/ogrsf_frmts/csv/ogrcsvlayer.cpp writer quoting + record
    parse): every valid doc becomes one CSV record [doc_id, WKT,
    adversarial text with embedded quote/comma/newline], formatted by
    the writer's RFC 4180 escaping and parsed back by the independent
    record parser, then the WKT is re-parsed and re-measured. Oracle:
    constants + the plain envelope derivation — any quoting or
    field-split drift shows as an equality/envelope mismatch."""
    import pandas as pd

    from gdal_spark.geom.wkt import parse_wkt
    from gdal_spark.operators.csv_layer import format_csv_line, parse_csv_line

    g = docs_geom(spark, sf_dir).filter(
        F.col("geom_error").isNull() & F.col("wkt").isNotNull()
    ).select(F.col("_id").alias("doc_id"), "wkt")

    def _rt(batches):
        for pdf in batches:
            wkts = pdf["wkt"].tolist()
            ids = pdf["doc_id"].tolist()
            texts = [f'v,"{i}"\nrest' for i in ids]
            lines = [
                format_csv_line([i, w, t])
                for i, w, t in zip(ids, wkts, texts)
            ]
            backs = [parse_csv_line(ln) for ln in lines]
            wkt_back = [b[1] for b in backs]
            env = parse_wkt(wkt_back).envelopes()
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"],
                "n_fields": pd.Series([len(b) for b in backs], dtype="int64"),
                "wkt_eq": [b[1] == w for b, w in zip(backs, wkts)],
                "text_eq": [b[2] == t for b, t in zip(backs, texts)],
                "minx": env[:, 0].astype("int64"),
                "miny": env[:, 1].astype("int64"),
                "maxx": env[:, 2].astype("int64"),
                "maxy": env[:, 3].astype("int64"),
            })

    return g.mapInPandas(
        _rt,
        "doc_id long, n_fields long, wkt_eq boolean, text_eq boolean, "
        "minx long, miny long, maxx long, maxy long",
    )


def _o_csv_fields() -> str:
    return (
        f"WITH g AS ({docs_g_cte()}) SELECT doc_id, "
        "CAST(3 AS BIGINT) AS n_fields, TRUE AS wkt_eq, TRUE AS text_eq, "
        "CAST(gx - half AS BIGINT) AS minx, CAST(gy - half AS BIGINT) AS miny, "
        "CAST(gx + half AS BIGINT) AS maxx, CAST(gy + half AS BIGINT) AS maxy "
        "FROM g WHERE valid"
    )


QUERIES["csv_fields"] = q_csv_fields
ORACLES["csv_fields"] = _o_csv_fields()


def q_fgb_records(spark, sf_dir):
    """FlatGeobuf feature codec (operators/flatgeobuf.py; reference
    ogr/ogrsf_frmts/flatgeobuf/ geometrywriter.cpp +
    feature_generated.h): every valid doc geometry encoded as a
    size-prefixed Feature flatbuffer with a (doc_id:i64) property and
    decoded back by the independent Table reader. The oracle pins the
    FLATBUFFER FRAMING in closed form — a point feature is exactly 92
    bytes, a 5-vertex square polygon exactly 156 (vtable + geometry
    table + xy vector + properties byte-vector, deterministic builder
    layout) — plus the decoded envelope, twice the unsigned shoelace
    area, and the property round-trip, so a single misaligned vtable
    slot or mis-padded vector surfaces as a value mismatch."""
    import pandas as pd

    from gdal_spark.geom.batch import GeomBatchBuilder
    from gdal_spark.geom.wkt import parse_wkt
    from gdal_spark.operators.flatgeobuf import (
        COL_LONG,
        decode_feature,
        encode_feature,
    )

    g = docs_geom(spark, sf_dir).filter(
        F.col("geom_error").isNull() & F.col("wkt").isNotNull()
    ).select(F.col("_id").alias("doc_id"), "wkt")

    def _codec(batches):
        import numpy as np

        for pdf in batches:
            batch = parse_wkt(pdf["wkt"])
            ids = pdf["doc_id"].tolist()
            gtypes, nbytes, prop_eq = [], [], []
            builder = GeomBatchBuilder()
            for i in range(len(pdf)):
                gt, parts = batch.geometry(i)
                msg = encode_feature(gt, parts, [COL_LONG], [ids[i]])
                vals = decode_feature(msg[4:], [COL_LONG], builder)
                gtypes.append(int(gt))
                nbytes.append(len(msg))
                prop_eq.append(vals[0] == ids[i])
            back = builder.finish()
            env = back.envelopes()
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"],
                "gtype": pd.Series(gtypes, dtype="int64"),
                "n_bytes": pd.Series(nbytes, dtype="int64"),
                "prop_eq": prop_eq,
                "minx": env[:, 0].astype("int64"),
                "miny": env[:, 1].astype("int64"),
                "maxx": env[:, 2].astype("int64"),
                "maxy": env[:, 3].astype("int64"),
                "area2": (2.0 * np.abs(back.areas())).astype("int64"),
            })

    return g.mapInPandas(
        _codec,
        "doc_id long, gtype long, n_bytes long, prop_eq boolean, "
        "minx long, miny long, maxx long, maxy long, area2 long",
    )


def _o_fgb_records() -> str:
    return (
        f"WITH g AS ({docs_g_cte()}) SELECT doc_id, "
        "CAST(CASE WHEN is_poly THEN 3 ELSE 1 END AS BIGINT) AS gtype, "
        "CAST(CASE WHEN is_poly THEN 156 ELSE 92 END AS BIGINT) AS n_bytes, "
        "TRUE AS prop_eq, "
        "CAST(gx - half AS BIGINT) AS minx, CAST(gy - half AS BIGINT) AS miny, "
        "CAST(gx + half AS BIGINT) AS maxx, CAST(gy + half AS BIGINT) AS maxy, "
        "CAST(8 * half * half AS BIGINT) AS area2 "
        "FROM g WHERE valid"
    )


QUERIES["fgb_records"] = q_fgb_records
ORACLES["fgb_records"] = _o_fgb_records()


def q_raster_histogram(spark, sf_dir):
    """GDALRasterBand::GetHistogram / gdalinfo -hist
    (gcore/gdalrasterband.cpp:4224; default bounds :4972) over the
    point-burn ADD raster: Byte default histogram (-0.5, 255.5, 256
    buckets), where bucket index == pixel value exactly. Distributive:
    per-tile np.bincount partials + map-side-combinable groupBy — and
    the sparse-tile correction credits never-burned pixels to the
    init-value bucket, so the result matches a dense whole-raster
    histogram. Oracle re-derives per-pixel burn counts in SQL and adds
    the 400-minus-burned zero bucket in closed form."""
    from gdal_spark.operators.raster import band_histogram, default_histogram_range

    tiles = _point_burn_tiles(spark, sf_dir)
    dfmin, dfmax, buckets = default_histogram_range("uint8")
    h = band_histogram(tiles, BYTE20_SPEC, dfmin, dfmax, buckets, include_out_of_range=True)
    return h.select(
        F.col("band").cast("bigint").alias("band"),
        F.col("bucket").cast("bigint").alias("bucket"),
        F.col("count").cast("bigint").alias("n_pixels"),
    )


def _o_raster_histogram() -> str:
    return (
        f"{_pix_cte()} SELECT CAST(1 AS BIGINT) AS band, v AS bucket, "
        "CAST(COUNT(*) AS BIGINT) AS n_pixels FROM pix GROUP BY v "
        "UNION ALL SELECT CAST(1 AS BIGINT), CAST(0 AS BIGINT), "
        "CAST(400 - (SELECT COUNT(*) FROM pix) AS BIGINT) "
        "WHERE (SELECT COUNT(*) FROM pix) < 400"
    )


QUERIES["raster_histogram"] = q_raster_histogram
ORACLES["raster_histogram"] = _o_raster_histogram()


# L-shaped axis-parallel lineref path: both segments have length 600 and
# integer endpoints, so measures, snapped points and squared distances
# are all exact integers — the oracle reproduces GEOSProject's
# first-segment-wins tie-break in closed-form integer SQL.
LINEREF_PATH = [(440720.0, 3750720.0), (441320.0, 3750720.0), (441320.0, 3751320.0)]


def q_lineref_positions(spark, sf_dir):
    """ogrlineref GetPosition (apps/ogrlineref.cpp:990; primitives
    ogr/ogrlinestring.cpp Project :2184 / Value :2118): every valid
    doc's representative point located on the broadcast L-path — the
    measure along the path, the snapped point, and the squared snap
    distance. Zero shuffle: one mapInPandas pass with the path as a
    closure broadcast (the 100 TB shape — the corpus never moves).
    round_d2 pins GEOS's first-minimal-segment tie-break exactly on
    this integer grid, making the closed-form SQL oracle bit-exact."""
    from gdal_spark.operators.lineref import locate_points

    g = docs_geom(spark, sf_dir).filter(F.col("geom_error").isNull())
    pts = g.select(
        F.col("_id").alias("doc_id"),
        ((F.col("env_minx") + F.col("env_maxx")) / 2).alias("x"),
        ((F.col("env_miny") + F.col("env_maxy")) / 2).alias("y"),
    )
    loc = locate_points(pts, LINEREF_PATH, "x", "y", round_d2=True)
    return loc.select(
        "doc_id",
        F.round("measure").cast("bigint").alias("measure"),
        F.round("snap_x").cast("bigint").alias("snap_x"),
        F.round("snap_y").cast("bigint").alias("snap_y"),
        (
            (F.col("x") - F.round("snap_x")) * (F.col("x") - F.round("snap_x"))
            + (F.col("y") - F.round("snap_y")) * (F.col("y") - F.round("snap_y"))
        ).cast("bigint").alias("d2"),
    )


def _o_lineref_positions() -> str:
    return (
        f"WITH g AS ({docs_g_cte()}), "
        "p AS (SELECT doc_id, gx, gy, "
        "GREATEST(LEAST(gx - 440720, 600), 0) AS t1, "
        "GREATEST(LEAST(gy - 3750720, 600), 0) AS t2 FROM g WHERE valid), "
        "q AS (SELECT doc_id, gx, gy, t1, t2, "
        "(gx - 440720 - t1) * (gx - 440720 - t1) + (gy - 3750720) * (gy - 3750720) AS d21, "
        "(gx - 441320) * (gx - 441320) + (gy - 3750720 - t2) * (gy - 3750720 - t2) AS d22 FROM p) "
        "SELECT doc_id, "
        "CAST(CASE WHEN d21 <= d22 THEN t1 ELSE 600 + t2 END AS BIGINT) AS measure, "
        "CAST(CASE WHEN d21 <= d22 THEN 440720 + t1 ELSE 441320 END AS BIGINT) AS snap_x, "
        "CAST(CASE WHEN d21 <= d22 THEN 3750720 ELSE 3750720 + t2 END AS BIGINT) AS snap_y, "
        "CAST(LEAST(d21, d22) AS BIGINT) AS d2 FROM q"
    )


QUERIES["lineref_positions"] = q_lineref_positions
ORACLES["lineref_positions"] = _o_lineref_positions()


def q_tile_index(spark, sf_dir):
    """gdaltindex (apps/gdaltindex_lib.cpp): each valid poly doc poses
    as a raster (origin at its envelope top-left, pixel size
    s = 1 + doc_id % 3, 2*half x 2*half pixels); the index projects the
    geotransform corners, reference res = sqrt(area/pixels) == s
    exactly on this grid, -min_pixel_size 2 skips the s == 1 third, and
    docs with doc_id % 5 == 0 pre-seed the existing index to exercise
    the re-run skip anti-join. Pure Catalyst end to end."""
    from gdal_spark.operators.tindex import tile_index

    g = docs_geom(spark, sf_dir).filter(
        F.col("geom_error").isNull() & (F.col("env_maxx") > F.col("env_minx"))
    )
    s = (F.lit(1) + F.col("_id") % 3).cast("double")
    meta = g.select(
        F.concat(F.lit("mem://doc_"), F.col("_id").cast("string")).alias("location"),
        (F.col("env_maxx") - F.col("env_minx")).cast("int").alias("width"),
        (F.col("env_maxy") - F.col("env_miny")).cast("int").alias("height"),
        F.array(
            F.col("env_minx"), s, F.lit(0.0), F.col("env_maxy"), F.lit(0.0), -s
        ).alias("gt"),
        F.col("_id").alias("doc_id"),
    )
    existing = meta.filter(F.col("doc_id") % 5 == 0).select("location")
    idx = tile_index(meta, min_pixel_size=2.0, existing=existing)
    return idx.select(
        "location",
        F.col("minx").cast("bigint").alias("minx"),
        F.col("miny").cast("bigint").alias("miny"),
        F.col("maxx").cast("bigint").alias("maxx"),
        F.col("maxy").cast("bigint").alias("maxy"),
        F.col("res").cast("bigint").alias("res"),
    )


def _o_tile_index() -> str:
    return (
        f"WITH g AS ({docs_g_cte()}) "
        "SELECT 'mem://doc_' || CAST(doc_id AS VARCHAR) AS location, "
        "CAST(gx - half AS BIGINT) AS minx, "
        "CAST(gy + half - 2 * half * (1 + doc_id % 3) AS BIGINT) AS miny, "
        "CAST(gx - half + 2 * half * (1 + doc_id % 3) AS BIGINT) AS maxx, "
        "CAST(gy + half AS BIGINT) AS maxy, "
        "CAST(1 + doc_id % 3 AS BIGINT) AS res "
        "FROM g WHERE valid AND is_poly AND (1 + doc_id % 3) >= 2 "
        "AND doc_id % 5 <> 0"
    )


QUERIES["tile_index"] = q_tile_index
ORACLES["tile_index"] = _o_tile_index()


# TPS driver-oracle GCPs: affine-consistent (geo = (2x+10, -3y+50)), so
# the FULL thin-plate solve must return the affine exactly (kernel
# weights 0) — a closed-form check of the whole solve + eval pipeline.
TPS_GCPS = [
    (440720.0, 3750120.0, 2 * 440720.0 + 10, -3 * 3750120.0 + 50),
    (441920.0, 3750120.0, 2 * 441920.0 + 10, -3 * 3750120.0 + 50),
    (440720.0, 3751320.0, 2 * 440720.0 + 10, -3 * 3751320.0 + 50),
    (441920.0, 3751320.0, 2 * 441920.0 + 10, -3 * 3751320.0 + 50),
    (441320.0, 3750720.0, 2 * 441320.0 + 10, -3 * 3750720.0 + 50),
    (440900.0, 3751000.0, 2 * 440900.0 + 10, -3 * 3751000.0 + 50),
]


def q_tps_transform(spark, sf_dir):
    """GDALCreateTPSTransformer / GDALTPSTransform (alg/gdal_tps.cpp,
    alg/thinplatespline.cpp): every valid doc point pushed through a
    FULL thin-plate spline solved from 6 affine-consistent GCPs — the
    radial kernel weights must solve to zero, so the spline IS the
    affine and the oracle states it in closed form. The solve runs
    once on the driver (as the reference does in memory); evaluation
    is the vectorized chunked kernel inside one mapInPandas pass, the
    forward AND reverse splines both exercised via a roundtrip flag."""
    import pandas as pd

    from gdal_spark.geom.tps import TPSTransformer

    tr = TPSTransformer(TPS_GCPS)
    g = docs_geom(spark, sf_dir).filter(F.col("geom_error").isNull())
    pts = g.select(
        F.col("_id").alias("doc_id"),
        ((F.col("env_minx") + F.col("env_maxx")) / 2).alias("x"),
        ((F.col("env_miny") + F.col("env_maxy")) / 2).alias("y"),
    )

    def _tps(batches):
        import numpy as np

        for pdf in batches:
            x = pdf["x"].to_numpy(dtype=np.float64)
            y = pdf["y"].to_numpy(dtype=np.float64)
            fx, fy = tr.forward(x, y)
            bx, by = tr.inverse(fx, fy)
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"],
                "geo_x": np.rint(fx).astype("int64"),
                "geo_y": np.rint(fy).astype("int64"),
                "roundtrip": (np.abs(bx - x) < 1e-6) & (np.abs(by - y) < 1e-6),
            })

    return pts.mapInPandas(_tps, "doc_id long, geo_x long, geo_y long, roundtrip boolean")


def _o_tps_transform() -> str:
    return (
        f"WITH g AS ({docs_g_cte()}) SELECT doc_id, "
        "CAST(2 * gx + 10 AS BIGINT) AS geo_x, "
        "CAST(-3 * gy + 50 AS BIGINT) AS geo_y, "
        "TRUE AS roundtrip FROM g WHERE valid"
    )


QUERIES["tps_transform"] = q_tps_transform
ORACLES["tps_transform"] = _o_tps_transform()


def q_raster_compare(spark, sf_dir):
    """gdalcompare (osgeo_utils/gdalcompare.py compare_band :128 /
    compare_image_pixels :80): golden = the full point-burn raster,
    new = the same burn with every doc_id % 7 == 0 point withheld —
    the report is both GDALChecksumImage values, the count of pixels
    whose Float64 difference is nonzero, and the maximum absolute
    difference. Tiles join co-partitioned on (band, ty, tx); absent
    tiles compare against the init fill; the oracle re-derives both
    pixel sets and the closed-form diff in SQL."""
    from gdal_spark.operators.compare import raster_compare

    g = docs_geom(spark, sf_dir)
    pts = g.filter(
        F.col("geom_error").isNull() & (F.col("env_minx") == F.col("env_maxx"))
    ).select(F.col("_id").alias("fid"), "wkt", F.array(F.lit(1.0)).alias("burn_values"))
    golden = rasterize(pts, BYTE20_SPEC, merge_alg="add")
    new = rasterize(pts.filter(F.col("fid") % 7 != 0), BYTE20_SPEC, merge_alg="add")
    cmpdf = raster_compare(golden, new, BYTE20_SPEC)
    return cmpdf.select(
        F.col("band").cast("bigint").alias("band"),
        F.col("checksum_golden").cast("bigint").alias("checksum_golden"),
        F.col("checksum_new").cast("bigint").alias("checksum_new"),
        F.col("pixels_differing").cast("bigint").alias("pixels_differing"),
        F.col("max_diff").cast("bigint").alias("max_diff"),
    )


def _o_raster_compare() -> str:
    primes = "[7,11,13,17,19,23,29,31,37,41,43]"
    return (
        f"WITH g AS ({docs_g_cte()}), "
        "p AS (SELECT doc_id, CAST(floor((gx - 440720) / 60.0) AS BIGINT) AS px, "
        "CAST(floor((3751320 - gy) / 60.0) AS BIGINT) AS py "
        "FROM g WHERE valid AND NOT is_poly), "
        "pg AS (SELECT py, px, LEAST(COUNT(*), 255) AS v FROM p "
        "WHERE px BETWEEN 0 AND 19 AND py BETWEEN 0 AND 19 GROUP BY py, px), "
        "pn AS (SELECT py, px, LEAST(COUNT(*), 255) AS v FROM p "
        "WHERE px BETWEEN 0 AND 19 AND py BETWEEN 0 AND 19 AND doc_id % 7 <> 0 "
        "GROUP BY py, px), "
        "d AS (SELECT COALESCE(pg.v, 0) - COALESCE(pn.v, 0) AS diff "
        "FROM pg FULL OUTER JOIN pn ON pg.py = pn.py AND pg.px = pn.px) "
        "SELECT CAST(1 AS BIGINT) AS band, "
        f"(SELECT CAST(SUM(v % ({primes})[((py * 20 + px) % 11) + 1]) % 65536 AS BIGINT) FROM pg) AS checksum_golden, "
        f"(SELECT CAST(SUM(v % ({primes})[((py * 20 + px) % 11) + 1]) % 65536 AS BIGINT) FROM pn) AS checksum_new, "
        "CAST((SELECT COUNT(*) FROM d WHERE diff <> 0) AS BIGINT) AS pixels_differing, "
        "CAST((SELECT MAX(ABS(diff)) FROM d) AS BIGINT) AS max_diff"
    )


QUERIES["raster_compare"] = q_raster_compare
ORACLES["raster_compare"] = _o_raster_compare()


def q_retile_checksum(spark, sf_dir):
    """gdal_retile (osgeo_utils/gdal_retile.py tileImage): the
    point-burn raster re-gridded from 16-px to 8-px tiles — pieces
    slice in one Arrow pass, exchange on the new (band, ty, tx) key,
    assemble over init canvases. Retiling must be pixel-identical to
    slicing the dense mosaic, so GDALChecksumImage, the nonzero count
    and the value sum are all invariant; any misplaced piece breaks
    the checksum. Oracle = the same aggregates from the closed-form
    pixel CTE."""
    from gdal_spark.operators.retile import retile, retile_spec

    tiles8 = retile(_point_burn_tiles(spark, sf_dir), BYTE20_SPEC, 8)
    spec8 = retile_spec(BYTE20_SPEC, 8)
    cs = checksum_col(tiles8, spec8)
    pix = as_features(tiles8, spec8, skip_value=0.0).filter(F.col("band") == 1)
    agg = pix.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_nonzero"),
        F.sum(F.col("value").cast("bigint")).alias("sum_v"),
    )
    return cs.select(
        F.col("band").cast("bigint").alias("band"),
        F.col("checksum").cast("bigint").alias("checksum"),
    ).crossJoin(agg)


def _o_retile_checksum() -> str:
    primes = "[7,11,13,17,19,23,29,31,37,41,43]"
    return (
        f"{_pix_cte()} SELECT CAST(1 AS BIGINT) AS band, "
        f"CAST(SUM(v % ({primes})[((py * 20 + px) % 11) + 1]) % 65536 AS BIGINT) AS checksum, "
        "CAST(COUNT(*) AS BIGINT) AS n_nonzero, "
        "CAST(SUM(v) AS BIGINT) AS sum_v FROM pix"
    )


QUERIES["retile_checksum"] = q_retile_checksum
ORACLES["retile_checksum"] = _o_retile_checksum()


def q_tile_reference_checksum(spark, sf_dir):
    """The reference's OWN published tile-payload constant, reproduced
    bit-exact in the driver gate: byte.tif relabeled EPSG:32611 and
    tiled with `gdal raster tile`'s defaults — cubic resampling
    (gdalalg_raster_tile.h:245) through the 0.125-px approx
    transformer (gdalalg_raster_tile.cpp:5165) — yields 11/354/818.png
    with band checksums [4160, 4415]
    (autotest/utilities/test_gdalalg_raster_tile.py:40-69). Exercises
    the Kruger-exact transverse Mercator, the faithful
    GDALApproxTransform subdivision replica, the GWKCubic kernel and
    the alpha footprint end-to-end; the oracle is the reference's
    literal constant."""
    import numpy as np
    import pandas as pd

    from gdal_spark.fixtures import BYTE20_SPEC, byte20_tiles
    from gdal_spark.geom.proj import EPSG_32611, Pipeline
    from gdal_spark.operators.tiles import raster_tile

    tiles = raster_tile(
        byte20_tiles(spark), BYTE20_SPEC, Pipeline(src=EPSG_32611, dst="webmercator"),
        min_zoom=11, max_zoom=11, resampling="cubic", approx_error=0.125,
    )

    def _cs(batches):
        from gdal_spark.operators.raster import checksum_array

        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                t = tilecodec.decode_row(r, 256)
                rows.append({
                    "z": int(r.z), "tx": int(r.tx), "ty": int(r.ty),
                    "band": int(r.band), "checksum": int(checksum_array(t)),
                })
            yield pd.DataFrame(
                rows, columns=["z", "tx", "ty", "band", "checksum"])

    return tiles.mapInPandas(
        _cs, "z long, tx long, ty long, band long, checksum long"
    )


def _o_tile_reference_checksum() -> str:
    # the reference's literal expected values:
    # autotest/utilities/test_gdalalg_raster_tile.py:62-69
    return (
        "SELECT CAST(11 AS BIGINT) AS z, CAST(354 AS BIGINT) AS tx, "
        "CAST(818 AS BIGINT) AS ty, CAST(1 AS BIGINT) AS band, "
        "CAST(4160 AS BIGINT) AS checksum "
        "UNION ALL SELECT 11, 354, 818, 2, 4415"
    )


QUERIES["tile_reference_checksum"] = q_tile_reference_checksum
ORACLES["tile_reference_checksum"] = _o_tile_reference_checksum()


def q_spatial_join_cells(spark, sf_dir):
    """Big x big cell-partitioned spatial join (operators/spatial.py
    spatial_join_cells): the 100 TB-shaped path — both sides
    exploded to covering grid cells, ids-only cell equi-join (AQE
    picks broadcast or sort-merge), interior-cell fast accept
    (boundary/interior zone-cell classification, no WKT shuffle and
    no Python verify for accepted pairs), exact verify only for
    boundary-cell candidates. Must
    produce the identical pair set as the broadcast R-tree join, so
    it shares spatial_join's oracle."""
    from gdal_spark.operators.cells import BYTE20_GRID
    from gdal_spark.operators.spatial import spatial_join_cells

    g = docs_geom(spark, sf_dir).filter(F.col("geom_error").isNull())
    j = spatial_join_cells(g, zones_table(spark), BYTE20_GRID)
    eas = F.element_at(F.array(*[F.lit(e) for e in ZONE_EAS]), F.col("zone_fid").cast("int") + 1)
    return j.select(
        "doc_id",
        F.col("zone_fid").cast("bigint").alias("zone_fid"),
        eas.cast("bigint").alias("eas_id"),
    )


QUERIES["spatial_join_cells"] = q_spatial_join_cells
ORACLES["spatial_join_cells"] = _o_spatial_join()


def q_gnm_connect(spark, sf_dir):
    """GNM network construction (operators/gnm.py; reference
    gnm/gnmgenericnetwork.cpp ConnectPointsByLines:536 +
    FindNearestPoint:904): point layer = the valid point docs, line
    layer = a deterministic line per every 3rd point doc (start
    offset (+0.2, +0.1), end offset (+1.0, -0.25)), snapped with
    tolerance 2.4 (rect +-1.2, lowest-FID pick — the reference's
    first-of-scan semantics). The oracle recomputes the rect
    join + MIN(fid) in plain SQL, so any drift in endpoint
    extraction, cell banding, the rect test, or the min-fid
    tie-break surfaces as a mismatch. All offsets sit >=0.05 from
    the rect threshold so ULP noise cannot flip a comparison."""
    from gdal_spark.operators.gnm import connect_points_by_lines

    g = docs_geom(spark, sf_dir).filter(
        F.col("geom_error").isNull() & F.col("wkt").isNotNull()
    )
    is_pt = F.col("env_minx") == F.col("env_maxx")
    pts = g.filter(is_pt).select(F.col("_id").alias("fid"), "wkt")
    gx, gy = F.col("env_minx"), F.col("env_miny")
    lines = g.filter(is_pt & (F.col("_id") % 3 == 0)).select(
        F.col("_id").alias("fid"),
        F.concat(
            F.lit("LINESTRING ("),
            (gx + 0.2).cast("string"), F.lit(" "), (gy + 0.1).cast("string"),
            F.lit(", "),
            (gx + 1.0).cast("string"), F.lit(" "), (gy - 0.25).cast("string"),
            F.lit(")"),
        ).alias("wkt"),
    )
    conns = connect_points_by_lines(pts, lines, tolerance=2.6)
    return conns.select("connector", "src", "tgt")


def _o_gnm_connect() -> str:
    return (
        f"WITH g AS ({docs_g_cte()}), "
        "p AS (SELECT doc_id, gx, gy FROM g WHERE valid AND NOT is_poly), "
        "l AS (SELECT doc_id AS connector, gx+0.2 AS sx, gy+0.1 AS sy, "
        "gx+1.0 AS ex, gy-0.25 AS ey FROM g "
        "WHERE valid AND NOT is_poly AND doc_id % 3 = 0), "
        "s AS (SELECT connector, MIN(p.doc_id) AS src FROM l JOIN p "
        "ON abs(p.gx - l.sx) <= 1.3 AND abs(p.gy - l.sy) <= 1.3 "
        "GROUP BY connector), "
        "t AS (SELECT connector, MIN(p.doc_id) AS tgt FROM l JOIN p "
        "ON abs(p.gx - l.ex) <= 1.3 AND abs(p.gy - l.ey) <= 1.3 "
        "GROUP BY connector) "
        "SELECT s.connector, s.src, t.tgt FROM s JOIN t ON s.connector = t.connector"
    )


QUERIES["gnm_connect"] = q_gnm_connect
ORACLES["gnm_connect"] = _o_gnm_connect()


def _nearblack_input_tiles(spark, sf_dir):
    """Dense byte20-grid raster for nearblack: point-burn blobs as dark
    content (53..200) on a nearly-white background 250 + ((3x+7y) % 6)
    — every background pixel sits within near=5 of white, so trimming
    floods inward from all four edges until it hits burn content."""
    spec = BYTE20_SPEC
    ts = spec.tile_size
    sk = spark.range(spec.ntiles_y * spec.ntiles_x).selectExpr(
        f"cast(id div {spec.ntiles_x} as int) as ty",
        f"cast(id % {spec.ntiles_x} as int) as tx",
    )
    burn = _point_burn_tiles(spark, sf_dir).filter(F.col("band") == 1)
    j = sk.join(burn.select("ty", "tx", "dtype", "payload"), ["ty", "tx"], "left")

    def _mk(batches):
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                ty, tx = int(r.ty), int(r.tx)
                h = min(ts, spec.height - ty * ts)
                w = min(ts, spec.width - tx * ts)
                if r.payload is None:
                    c = np.zeros((h, w), dtype=np.int32)
                else:
                    c = tilecodec.decode(r.payload, r.dtype, (h, w), (ty, tx)).astype(np.int32)
                gx = tx * ts + np.arange(w, dtype=np.int64)[None, :]
                gy = ty * ts + np.arange(h, dtype=np.int64)[:, None]
                bg = 250 + ((gx * 3 + gy * 7) % 6)
                v = np.where(c > 0, np.minimum(40 + 13 * c, 200), bg).astype(np.uint8)
                rows.append(tilecodec.tile_row(1, ty, tx, v))
            yield pd.DataFrame(rows)

    return j.mapInPandas(_mk, TILE_SCHEMA)


def q_nearblack_white(spark, sf_dir):
    """nearblack -white -near 5 -nb 0 -setalpha (apps/nearblack_lib.cpp
    GDALNearblack two-pass algorithm) over the dense point-burn
    raster: four strip shuffles (top-down vertical, L->R + R->L
    horizontal, then bottom-up with horizontal max forced 0), column
    counts travelling as a band-0 sidecar. Returns per band (gray=1,
    alpha=2) the GDALChecksumImage checksum and the value sum — any
    mistrimmed pixel breaks both. Oracle: the nb=0 case in closed form
    — the scans collapse to window cumulatives ("last event wins":
    testing is off iff the most recent of {non-near pixel, zero-count
    column} in scan order is the non-near pixel), replayed in SQL."""
    from gdal_spark.operators.nearblack import nearblack

    out = nearblack(
        _nearblack_input_tiles(spark, sf_dir), BYTE20_SPEC,
        white=True, near=5, max_non_black=0, set_alpha=True,
    )
    cs = checksum_col(out, BYTE20_SPEC)
    pix = as_features(out, BYTE20_SPEC)
    sums = pix.groupBy("band").agg(F.sum(F.col("value").cast("bigint")).alias("sum_v"))
    return cs.join(sums, "band").select(
        F.col("band").cast("bigint").alias("band"),
        F.col("checksum").cast("bigint").alias("checksum"),
        F.col("sum_v").alias("sum_v"),
    )


def _o_nearblack_white() -> str:
    primes = "[7,11,13,17,19,23,29,31,37,41,43]"
    cksum = lambda col: (
        f"CAST(SUM({col} % ({primes})[((py * 20 + px) % 11) + 1]) % 65536 AS BIGINT)"
    )
    return (
        f"{_pix_cte()}, "
        "g2 AS (SELECT x.px, y.py FROM (SELECT unnest(generate_series(0,19)) AS px) x, "
        "(SELECT unnest(generate_series(0,19)) AS py) y), "
        "d AS (SELECT g2.px, g2.py, CASE WHEN p.v IS NOT NULL THEN LEAST(40 + 13*p.v, 200) "
        "ELSE 250 + ((g2.px*3 + g2.py*7) % 6) END AS v "
        "FROM g2 LEFT JOIN pix p ON p.px = g2.px AND p.py = g2.py), "
        # top-down vertical: replaced iff no non-near-white pixel at or
        # above (cumulative count still 0); cz = the column-count-zero
        # flag the horizontal scans read
        "s1 AS (SELECT px, py, v, MAX(CASE WHEN v < 250 THEN 1 ELSE 0 END) "
        "OVER (PARTITION BY px ORDER BY py ROWS UNBOUNDED PRECEDING) = 0 AS vr FROM d), "
        "s1b AS (SELECT px, py, v, vr, vr AS cz, CASE WHEN vr THEN 255 ELSE v END AS v1 FROM s1), "
        # L->R horizontal (last column excluded: i != iEnd)
        "s2 AS (SELECT *, MAX(CASE WHEN v1 < 250 THEN px END) OVER w AS lnb, "
        "MAX(CASE WHEN cz THEN px END) OVER w AS lz FROM s1b "
        "WINDOW w AS (PARTITION BY py ORDER BY px ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)), "
        "s2b AS (SELECT px, py, v, vr, cz, "
        "(px < 19 AND v1 >= 250 AND (lnb IS NULL OR COALESCE(lz, -1) > lnb)) AS h1, "
        "CASE WHEN (px < 19 AND v1 >= 250 AND (lnb IS NULL OR COALESCE(lz, -1) > lnb)) "
        "THEN 255 ELSE v1 END AS v2 FROM s2), "
        # R->L horizontal (column 0 excluded)
        "s3 AS (SELECT *, MIN(CASE WHEN v2 < 250 THEN px END) OVER w AS rnb, "
        "MIN(CASE WHEN cz THEN px END) OVER w AS rz FROM s2b "
        "WINDOW w AS (PARTITION BY py ORDER BY px DESC ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)), "
        "s3b AS (SELECT px, py, v, vr, cz, h1, "
        "(px > 0 AND v2 >= 250 AND (rnb IS NULL OR COALESCE(rz, 99) < rnb)) AS h2, "
        "CASE WHEN (px > 0 AND v2 >= 250 AND (rnb IS NULL OR COALESCE(rz, 99) < rnb)) "
        "THEN 255 ELSE v2 END AS v3 FROM s3), "
        # bottom-up vertical (fresh counts over the intermediate image)
        "s4 AS (SELECT *, MAX(CASE WHEN v3 < 250 THEN 1 ELSE 0 END) "
        "OVER (PARTITION BY px ORDER BY py DESC ROWS UNBOUNDED PRECEDING) = 0 AS vrb FROM s3b), "
        "s4b AS (SELECT px, py, v, vr, cz, h1, h2, vrb, vrb AS czb, "
        "CASE WHEN vrb THEN 255 ELSE v3 END AS v4 FROM s4), "
        # bottom-up L->R then R->L (horizontal max forced 0 == same form)
        "s5 AS (SELECT *, MAX(CASE WHEN v4 < 250 THEN px END) OVER w AS lnb2, "
        "MAX(CASE WHEN czb THEN px END) OVER w AS lz2 FROM s4b "
        "WINDOW w AS (PARTITION BY py ORDER BY px ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)), "
        "s5b AS (SELECT px, py, v, vr, cz, h1, h2, vrb, czb, "
        "(px < 19 AND v4 >= 250 AND (lnb2 IS NULL OR COALESCE(lz2, -1) > lnb2)) AS h3, "
        "CASE WHEN (px < 19 AND v4 >= 250 AND (lnb2 IS NULL OR COALESCE(lz2, -1) > lnb2)) "
        "THEN 255 ELSE v4 END AS v5 FROM s5), "
        "s6 AS (SELECT *, MIN(CASE WHEN v5 < 250 THEN px END) OVER w AS rnb2, "
        "MIN(CASE WHEN czb THEN px END) OVER w AS rz2 FROM s5b "
        "WINDOW w AS (PARTITION BY py ORDER BY px DESC ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)), "
        "s6b AS (SELECT px, py, vr, h1, h2, vrb, h3, "
        "(px > 0 AND v5 >= 250 AND (rnb2 IS NULL OR COALESCE(rz2, 99) < rnb2)) AS h4, "
        "CASE WHEN (px > 0 AND v5 >= 250 AND (rnb2 IS NULL OR COALESCE(rz2, 99) < rnb2)) "
        "THEN 255 ELSE v5 END AS v6 FROM s6), "
        "fin AS (SELECT px, py, v6, CASE WHEN vr OR h1 OR h2 OR vrb OR h3 OR h4 "
        "THEN 0 ELSE 255 END AS a FROM s6b) "
        f"SELECT CAST(1 AS BIGINT) AS band, {cksum('v6')} AS checksum, "
        "CAST(SUM(v6) AS BIGINT) AS sum_v FROM fin "
        f"UNION ALL SELECT CAST(2 AS BIGINT) AS band, {cksum('a')} AS checksum, "
        "CAST(SUM(a) AS BIGINT) AS sum_v FROM fin"
    )


QUERIES["nearblack_white"] = q_nearblack_white
ORACLES["nearblack_white"] = _o_nearblack_white()


def q_equalize(spark, sf_dir):
    """gdalenhance -equalize (apps/gdalenhance.cpp
    ComputeEqualizationLUTs + EnhancerCallback): histogram-equalize the
    dense point-burn byte raster. The histogram is the distributive
    band_histogram aggregate (256 rows cross the wire), the LUT build
    is integer driver arithmetic on it (extremes zeroed, cumulative
    with half-bucket offset), the apply one Arrow map pass. Per-pixel
    value-exact output; the oracle replays the same integer LUT in SQL
    over the closed-form pixel grid."""
    from gdal_spark.operators.enhance import equalize

    out = equalize(_nearblack_input_tiles(spark, sf_dir), BYTE20_SPEC)
    pix = as_features(out, BYTE20_SPEC)
    return pix.select(
        F.col("band").cast("bigint").alias("band"),
        F.col("py").cast("bigint").alias("py"),
        F.col("px").cast("bigint").alias("px"),
        F.col("value").cast("bigint").alias("v_out"),
    )


def _o_equalize() -> str:
    return (
        f"{_pix_cte()}, "
        "g2 AS (SELECT x.px, y.py FROM (SELECT unnest(generate_series(0,19)) AS px) x, "
        "(SELECT unnest(generate_series(0,19)) AS py) y), "
        "d AS (SELECT g2.px, g2.py, CASE WHEN p.v IS NOT NULL THEN LEAST(40 + 13*p.v, 200) "
        "ELSE 250 + ((g2.px*3 + g2.py*7) % 6) END AS v "
        "FROM g2 LEFT JOIN pix p ON p.px = g2.px AND p.py = g2.py), "
        # histogram with zeroed extremes (byte bin == value)
        "h AS (SELECT v AS bin, COUNT(*) AS c FROM d WHERE v > 0 AND v < 255 GROUP BY v), "
        "bins AS (SELECT unnest(generate_series(0, 255)) AS bin), "
        "hh AS (SELECT bins.bin, COALESCE(h.c, 0) AS c FROM bins LEFT JOIN h ON h.bin = bins.bin), "
        # cum[i] = total_before + hist[i]/2 (integer), LUT clamped
        "cm AS (SELECT bin, COALESCE(SUM(c) OVER (ORDER BY bin ROWS BETWEEN UNBOUNDED "
        "PRECEDING AND 1 PRECEDING), 0) + c // 2 AS ch, SUM(c) OVER () AS tot FROM hh), "
        "lut AS (SELECT bin, LEAST(255, GREATEST(0, (ch * 256) // GREATEST(tot, 1))) AS lv FROM cm) "
        "SELECT CAST(1 AS BIGINT) AS band, d.py, d.px, CAST(lut.lv AS BIGINT) AS v_out "
        "FROM d JOIN lut ON lut.bin = d.v"
    )


QUERIES["equalize"] = q_equalize
ORACLES["equalize"] = _o_equalize()


def q_buildvrt_plan(spark, sf_dir):
    """gdalbuildvrt planning (apps/gdalbuildvrt_lib.cpp VRTBuilder):
    a per-doc synthetic source catalog (grids snapped to 64, mixed
    32/64 we_res and 16/32/48 ns_res, varying sizes) -> average-
    resolution target grid (:1080-1091), union extent, int(0.5+..)
    sizing (:1903-1904), and GetSrcDstWin windows (:117-198) as a
    pure-Catalyst projection. One tiny aggregate + one shuffle-free
    projection; the oracle replays every float op in the same IEEE
    order."""
    from gdal_spark.operators.buildvrt import build_vrt_plan

    g = docs_geom(spark, sf_dir)
    src = (
        g.filter(
            F.col("geom_error").isNull()
            & (F.col("env_minx") == F.col("env_maxx"))
            & (F.col("_id") % 17 == 0)
        )
        .select(
            F.col("_id").alias("src_id"),
            (F.floor(F.col("env_minx") / 64) * 64).cast("double").alias("tlx"),
            (F.floor(F.col("env_miny") / 64) * 64 + 1024).cast("double").alias("tly"),
            (32 * (1 + F.col("_id") % 2)).cast("double").alias("we_res"),
            (-(16 * (1 + F.col("_id") % 3))).cast("double").alias("ns_res"),
            (8 + (F.col("_id") % 5) * 4).cast("int").alias("xsize"),
            (6 + (F.col("_id") % 3) * 8).cast("int").alias("ysize"),
        )
    )
    grid, plan = build_vrt_plan(src, resolution="average")
    return plan.select(
        F.col("src_id").cast("bigint").alias("src_id"),
        "src_xoff", "src_yoff", "src_xsize", "src_ysize",
        "dst_xoff", "dst_yoff", "dst_xsize", "dst_ysize",
        F.lit(grid.xsize).cast("bigint").alias("vrt_xsize"),
        F.lit(grid.ysize).cast("bigint").alias("vrt_ysize"),
        F.lit(grid.we_res).alias("vrt_we_res"),
        F.lit(grid.ns_res).alias("vrt_ns_res"),
    )


def _o_buildvrt_plan() -> str:
    return (
        f"WITH g AS ({docs_g_cte()}), "
        "s AS (SELECT doc_id AS src_id, "
        "CAST(floor(gx/64)*64 AS DOUBLE) AS tlx, "
        "CAST(floor(gy/64)*64 + 1024 AS DOUBLE) AS tly, "
        "CAST(32*(1 + doc_id%2) AS DOUBLE) AS we_res, "
        "CAST(-(16*(1 + doc_id%3)) AS DOUBLE) AS ns_res, "
        "CAST(8 + (doc_id%5)*4 AS DOUBLE) AS xsize, "
        "CAST(6 + (doc_id%3)*8 AS DOUBLE) AS ysize "
        "FROM g WHERE valid AND NOT is_poly AND doc_id % 17 = 0), "
        "m AS (SELECT SUM(we_res)/COUNT(*) AS rwe, SUM(ns_res)/COUNT(*) AS rns, "
        "MIN(tlx) AS minx, MAX(tlx + xsize*we_res) AS maxx, "
        "MIN(tly + ysize*ns_res) AS miny, MAX(tly) AS maxy FROM s), "
        "mm AS (SELECT *, CAST(floor(0.5 + (maxx-minx)/rwe) AS BIGINT) AS xs, "
        "CAST(floor(0.5 + (maxy-miny)/(-rns)) AS BIGINT) AS ys FROM m), "
        "w1 AS (SELECT s.*, mm.* FROM s, mm "
        "WHERE tlx + xsize*we_res > minx AND tlx < maxx "
        "AND tly + ysize*ns_res < maxy AND tly > miny), "
        "w2 AS (SELECT *, "
        "CASE WHEN tlx < minx THEN (minx - tlx)/we_res ELSE 0.0 END AS src_xoff, "
        "CASE WHEN tlx < minx THEN 0.0 ELSE (tlx - minx)/rwe END AS dst_xoff, "
        "CASE WHEN maxy < tly THEN (tly - maxy)/(-ns_res) ELSE 0.0 END AS src_yoff, "
        "CASE WHEN maxy < tly THEN 0.0 ELSE (maxy - tly)/(-rns) END AS dst_yoff "
        "FROM w1), "
        "w3 AS (SELECT *, "
        "CASE WHEN src_xoff > 0 THEN xsize - src_xoff ELSE xsize END AS sxs, "
        "CASE WHEN src_yoff > 0 THEN ysize - src_yoff ELSE ysize END AS sys, "
        "we_res/rwe AS fx, ns_res/rns AS fy FROM w2), "
        "w4 AS (SELECT *, sxs*fx AS dxs, sys*fy AS dys FROM w3), "
        "w5 AS (SELECT *, "
        "CASE WHEN dst_xoff + dxs > CAST(xs AS DOUBLE) THEN CAST(xs AS DOUBLE) - dst_xoff ELSE dxs END AS dxs2, "
        "CASE WHEN dst_yoff + dys > CAST(ys AS DOUBLE) THEN CAST(ys AS DOUBLE) - dst_yoff ELSE dys END AS dys2 "
        "FROM w4), "
        "w6 AS (SELECT *, "
        "CASE WHEN dst_xoff + dxs > CAST(xs AS DOUBLE) THEN dxs2/fx ELSE sxs END AS sxs2, "
        "CASE WHEN dst_yoff + dys > CAST(ys AS DOUBLE) THEN dys2/fy ELSE sys END AS sys2 "
        "FROM w5) "
        "SELECT CAST(src_id AS BIGINT) AS src_id, "
        "src_xoff, src_yoff, sxs2 AS src_xsize, sys2 AS src_ysize, "
        "dst_xoff, dst_yoff, dxs2 AS dst_xsize, dys2 AS dst_ysize, "
        "xs AS vrt_xsize, ys AS vrt_ysize, rwe AS vrt_we_res, rns AS vrt_ns_res "
        "FROM w6 WHERE sxs2 > 0 AND dxs2 > 0 AND sys2 > 0 AND dys2 > 0"
    )


QUERIES["buildvrt_plan"] = q_buildvrt_plan
ORACLES["buildvrt_plan"] = _o_buildvrt_plan()


def q_pct2rgb_roundtrip(spark, sf_dir):
    """rgb2pct -> pct2rgb round trip (osgeo_utils/rgb2pct.py +
    pct2rgb.py): median-cut palette on the exact-colors path
    (gdalmediancut.cpp:547), Floyd-Steinberg dither (zero error when
    the palette is exact), then color-table expansion back to RGB.
    The round trip must reproduce the source triples bit-for-bit, so
    the oracle is simply the source color CTE."""
    from gdal_spark.operators.dither import compute_median_cut_pct, dither_tiles, pct2rgb
    from gdal_spark.fixtures import BYTE20_SPEC

    tiles = _rgb20_tiles(spark)
    pal = compute_median_cut_pct(tiles, 256, bits=8)
    idx = dither_tiles(tiles, BYTE20_SPEC, pal)
    rgb = pct2rgb(idx, BYTE20_SPEC, pal, out_bands=3)
    pix = as_features(rgb, BYTE20_SPEC)
    wide = (
        pix.groupBy("py", "px")
        .pivot("band", [1, 2, 3])
        .agg(F.first("value"))
        .select(
            F.col("py").cast("bigint").alias("py"),
            F.col("px").cast("bigint").alias("px"),
            F.col("1").cast("bigint").alias("r"),
            F.col("2").cast("bigint").alias("g"),
            F.col("3").cast("bigint").alias("b"),
        )
    )
    return wide


def _o_pct2rgb_roundtrip() -> str:
    return (
        f"WITH pixels AS (SELECT * FROM (VALUES {_byte20_vals_sql()}) AS t(py, px, v)) "
        "SELECT CAST(py AS BIGINT) AS py, CAST(px AS BIGINT) AS px, "
        "CAST(v AS BIGINT) AS r, CAST(255 - v AS BIGINT) AS g, "
        "CAST((v * 3) % 256 AS BIGINT) AS b FROM pixels"
    )


QUERIES["pct2rgb_roundtrip"] = q_pct2rgb_roundtrip
ORACLES["pct2rgb_roundtrip"] = _o_pct2rgb_roundtrip()


def q_rasterize_invert(spark, sf_dir):
    """gdal_rasterize -i (apps/gdal_rasterize_lib.cpp InvertGeometries
    :737): burn 7 into every pixel whose center is NOT covered by any
    zone polygon on the byte20 grid — coverage burn + per-tile
    complement. Oracle: the complement of the zonal fill decomposition
    (the same llrasterize interval rule as zonal_raster)."""
    from gdal_spark.operators.raster import rasterize_invert

    out = rasterize_invert(zones_table(spark), BYTE20_SPEC, [7.0])
    pix = as_features(out, BYTE20_SPEC).filter(F.col("band") == 1)
    return pix.select(
        F.col("py").cast("bigint").alias("py"),
        F.col("px").cast("bigint").alias("px"),
        F.col("value").cast("bigint").alias("v"),
    )


def _o_rasterize_invert() -> str:
    pos = [(fid, *_zone_env(fid)) for fid in range(8)]
    pos += [(8, 441050, 3751050, 441150, 3751300), (8, 441050, 3751050, 441450, 3751150)]
    pos += [(9, 440850, 3750480, 441050, 3750580)]
    neg = [(9, 440900, 3750500, 441000, 3750560)]

    def fill(rects):
        rows = ", ".join(f"({fid},{a},{b},{c},{d})" for fid, a, b, c, d in rects)
        return (
            f"SELECT py, px FROM pixels p JOIN (VALUES {rows}) AS zr(fid, zminx, zminy, zmaxx, zmaxy) ON "
            "p.px >= CAST(floor((zr.zminx - 440720) / 60.0 + 0.5) AS INT) "
            "AND p.px < CAST(floor((zr.zmaxx - 440720) / 60.0 + 0.5) AS INT) "
            "AND ((p.py + 0.5) >= (3751320 - zr.zmaxy) / 60.0) "
            "AND ((p.py + 0.5) < (3751320 - zr.zminy) / 60.0 OR (p.py + 0.5) = (3751320 - zr.zminy) / 60.0)"
        )

    grid = "SELECT x.px, y.py FROM (SELECT unnest(generate_series(0,19)) AS px) x, (SELECT unnest(generate_series(0,19)) AS py) y"
    return (
        f"WITH pixels AS ({grid}), "
        f"zp AS ({fill(pos)} EXCEPT {fill(neg)}) "
        "SELECT CAST(p.py AS BIGINT) AS py, CAST(p.px AS BIGINT) AS px, "
        "CAST(CASE WHEN zp.py IS NULL THEN 7 ELSE 0 END AS BIGINT) AS v "
        "FROM pixels p LEFT JOIN zp ON zp.py = p.py AND zp.px = p.px"
    )


QUERIES["rasterize_invert"] = q_rasterize_invert
ORACLES["rasterize_invert"] = _o_rasterize_invert()


def q_gdal2xyz(spark, sf_dir):
    """gdal2xyz (osgeo_utils/gdal2xyz.py): the point-burn raster as
    center-coordinate XYZ rows with -srcwin 2 1 16 18, decimation
    -skip 2/3 and -srcnodata 0 skipping — a shuffle-free Arrow pass on
    the single-band path."""
    from gdal_spark.operators.raster import gdal2xyz

    out = gdal2xyz(
        _point_burn_tiles(spark, sf_dir), BYTE20_SPEC,
        srcwin=(2, 1, 16, 18), skip=(2, 3),
        src_nodata=[0.0], skip_nodata=True,
    )
    return out.select(
        "geo_x", "geo_y", F.col("b1").cast("bigint").alias("v"),
    )


def _o_gdal2xyz() -> str:
    return (
        f"{_pix_cte()} SELECT 440720 + (CAST(px AS DOUBLE) + 0.5) * 60 AS geo_x, "
        "3751320 - (CAST(py AS DOUBLE) + 0.5) * 60 AS geo_y, CAST(v AS BIGINT) AS v FROM pix "
        "WHERE px >= 2 AND px < 18 AND (px - 2) % 2 = 0 "
        "AND py >= 1 AND py < 19 AND (py - 1) % 3 = 0"
    )


QUERIES["gdal2xyz"] = q_gdal2xyz
ORACLES["gdal2xyz"] = _o_gdal2xyz()


def _vshift_grid_tiles(spark):
    """5x5 float64 shift grid over the byte20 extent (res 240), values
    16*((gx*5 + gy*3) % 8) — exact in binary at every bilinear weight."""
    from gdal_spark.operators.raster import RasterSpec

    gspec = RasterSpec(width=5, height=5, gt=(440720.0, 240.0, 0.0, 3751320.0, 0.0, -240.0),
                       dtype="float64", tile_size=5)
    gx, gy = np.meshgrid(np.arange(5), np.arange(5))
    grid = (16 * ((gx * 5 + gy * 3) % 8)).astype(np.float64)
    tiles = spark.createDataFrame(
        [(1, 0, 0, 5, 5, "float64", tilecodec.encode(grid))],
        "band int, ty int, tx int, h int, w int, dtype string, payload binary",
    )
    return tiles, gspec


def q_vertical_shift(spark, sf_dir):
    """GDALApplyVerticalShiftGrid (alg/gdalapplyverticalshiftgrid.cpp):
    the point-burn DEM plus a coarse 5x5 shift grid bilinearly sampled
    at every pixel center (GWKBilinearResample4Sample index math,
    border degrade + in-bounds renormalization). Broadcast-side grid,
    one shuffle-free Arrow pass. Oracle replays the exact corner
    weights in SQL."""
    from gdal_spark.operators.vshift import apply_vertical_shift_grid

    gt_tiles, gspec = _vshift_grid_tiles(spark)
    out = apply_vertical_shift_grid(
        _nearblack_input_tiles(spark, sf_dir), BYTE20_SPEC, gt_tiles, gspec
    )
    pix = as_features(out, BYTE20_SPEC).filter(F.col("band") == 1)
    return pix.select(
        F.col("py").cast("bigint").alias("py"),
        F.col("px").cast("bigint").alias("px"),
        F.col("value").alias("v_out"),
    )


def _o_vertical_shift() -> str:
    corners = []
    for dy, wy in ((0, "ry"), (1, "(1.0 - ry)")):
        for dx, wx in ((0, "rx"), (1, "(1.0 - rx)")):
            cx, cy = f"(ix + {dx})", f"(iy + {dy})"
            ok = f"({cx} >= 0 AND {cx} < 5 AND {cy} >= 0 AND {cy} < 5)"
            gval = f"CAST(16 * ((({cx})*5 + ({cy})*3) % 8) AS DOUBLE)"
            corners.append((ok, f"({wx} * {wy})", gval))
    acc = " + ".join(f"CASE WHEN {ok} THEN {w} * {g} ELSE 0.0 END" for ok, w, g in corners)
    div = " + ".join(f"CASE WHEN {ok} THEN {w} ELSE 0.0 END" for ok, w, _ in corners)
    return (
        f"{_pix_cte()}, "
        "g2 AS (SELECT x.px, y.py FROM (SELECT unnest(generate_series(0,19)) AS px) x, "
        "(SELECT unnest(generate_series(0,19)) AS py) y), "
        "d AS (SELECT g2.px, g2.py, CAST(CASE WHEN p.v IS NOT NULL THEN LEAST(40 + 13*p.v, 200) "
        "ELSE 250 + ((g2.px*3 + g2.py*7) % 6) END AS DOUBLE) AS v "
        "FROM g2 LEFT JOIN pix p ON p.px = g2.px AND p.py = g2.py), "
        # pixel-center grid coords: sx = (px+0.5)*60/240 = (px+0.5)*0.25
        "c AS (SELECT px, py, v, (px + 0.5) * 0.25 AS sx, (py + 0.5) * 0.25 AS sy FROM d), "
        "i AS (SELECT *, CAST(floor(sx - 0.5) AS BIGINT) AS ix0, "
        "CAST(floor(sy - 0.5) AS BIGINT) AS iy0 FROM c), "
        "j AS (SELECT px, py, v, "
        "CASE WHEN ix0 = -1 THEN 0 ELSE ix0 END AS ix, "
        "CASE WHEN iy0 = -1 THEN 0 ELSE iy0 END AS iy, "
        "CASE WHEN ix0 = -1 THEN 1.0 ELSE 1.5 - (sx - ix0) END AS rx, "
        "CASE WHEN iy0 = -1 THEN 1.0 ELSE 1.5 - (sy - iy0) END AS ry FROM i) "
        f"SELECT CAST(py AS BIGINT) AS py, CAST(px AS BIGINT) AS px, "
        f"v + ({acc}) / ({div}) AS v_out FROM j"
    )


QUERIES["vertical_shift"] = q_vertical_shift
ORACLES["vertical_shift"] = _o_vertical_shift()


def q_refine_gcps(spark, sf_dir):
    """gdal_translate -refine_gcps (alg/gdal_crs.cpp remove_outliers):
    doc points as GCPs under an exact integer affine geo = (2px + 3py
    + 10, -px + 4py + 100), with the lowest-doc_id GCP displaced by
    +1e6 — the gross outlier. The loop must remove exactly that GCP
    (its LS residual dominates every inlier's leverage residual), then
    the refit is the exact affine and no residual reaches tolerance.
    Output: kept GCPs with the refined forward transform, rounded to
    integers (the fit recovers the integer affine to ~1e-10)."""
    from gdal_spark.geom.gcp import refine_gcps

    g = docs_geom(spark, sf_dir)
    pts = (
        g.filter(
            F.col("geom_error").isNull()
            & (F.col("env_minx") == F.col("env_maxx"))
            & (F.col("_id") % 13 == 0)
        )
        .select(F.col("_id").alias("doc_id"), F.col("env_minx").alias("x"), F.col("env_miny").alias("y"))
        .collect()
    )
    pts = sorted((int(r["doc_id"]), float(r["x"]), float(r["y"])) for r in pts)
    outlier_id = pts[0][0]
    gcps = []
    ids = []
    for doc_id, x, y in pts:
        geo_x = 2 * x + 3 * y + 10
        geo_y = -x + 4 * y + 100
        if doc_id == outlier_id:
            geo_x += 1e6
        gcps.append((x, y, geo_x, geo_y))
        ids.append(doc_id)
    keep, tr = refine_gcps(gcps, order=1, tolerance=5.0)
    kept_ids = [ids[i] for i in keep]
    fx, fy = tr.forward([gcps[i][0] for i in keep], [gcps[i][1] for i in keep])
    rows = [
        (int(d), int(round(float(a))), int(round(float(b))))
        for d, a, b in zip(kept_ids, fx, fy)
    ]
    return spark.createDataFrame(rows, "doc_id long, fx long, fy long")


def _o_refine_gcps() -> str:
    return (
        f"WITH g AS ({docs_g_cte()}), "
        "p AS (SELECT doc_id, gx AS x, gy AS y FROM g "
        "WHERE valid AND NOT is_poly AND doc_id % 13 = 0), "
        "o AS (SELECT MIN(doc_id) AS oid FROM p) "
        "SELECT CAST(doc_id AS BIGINT) AS doc_id, "
        "CAST(2*x + 3*y + 10 AS BIGINT) AS fx, "
        "CAST(-x + 4*y + 100 AS BIGINT) AS fy "
        "FROM p, o WHERE doc_id <> o.oid"
    )


QUERIES["refine_gcps"] = q_refine_gcps
ORACLES["refine_gcps"] = _o_refine_gcps()


def q_gdalmove(spark, sf_dir):
    """gdalmove (osgeo_utils/gdalmove.py): re-georeference a rotated
    frame (origin derived from the valid-doc count) through a
    nonlinear quadratic warp — transform the 4 corners + center, fit
    the exact UL/UR/LL affine, report per-point adjusted geo, geo
    error and pixel error through GDALInvGeoTransform. The quadratic
    stands in for a projection so both engines evaluate identical
    add/mul chains (libm trig differs by 1 ulp between numpy and
    DuckDB, which the error subtraction would amplify; the trig
    projections themselves are oracled by gcp_transform /
    datum_shift / geodesic_metrics). The UL/UR/LL errors must come
    out exactly 0; the center/LR errors expose the nonlinearity,
    exactly as the reference's own comment predicts."""
    import numpy as np

    from gdal_spark.operators.gdalmove import move_geotransform

    def quad(xs, ys):
        x = np.asarray(xs, dtype=np.float64)
        y = np.asarray(ys, dtype=np.float64)
        return (
            x * 100.0 + 0.5 * x * x - 0.25 * x * y,
            y * 100.0 + 0.125 * y * y + 0.0625 * x * y,
        )

    g = docs_geom(spark, sf_dir)
    n = g.filter(
        F.col("geom_error").isNull() & (F.col("env_minx") == F.col("env_maxx"))
    ).count()
    lon0 = -120.0 + (n % 10) * 0.25
    lat0 = 35.0 + (n % 7) * 0.125
    gt = (lon0, 0.01, 0.0002, lat0, 0.0003, -0.01)
    _, report, updated = move_geotransform(20, 20, gt, quad)
    assert updated
    rows = [
        (r.corner_id, r.adj_x, r.adj_y, r.err_x, r.err_y, r.err_px, r.err_py)
        for r in report
    ]
    return spark.createDataFrame(
        rows,
        "corner_id long, adj_x double, adj_y double, err_x double, "
        "err_y double, err_px double, err_py double",
    )


def _o_gdalmove() -> str:
    # the quadratic warp, op-for-op as the Spark-side closure
    def wx(x):
        return f"{x} * 100.0 + 0.5 * {x} * {x} - 0.25 * {x} * sy"

    def wy(y):
        return f"{y} * 100.0 + 0.125 * {y} * {y} + 0.0625 * sx * {y}"

    return (
        f"WITH g AS ({docs_g_cte()}), "
        "nn AS (SELECT COUNT(*) AS n FROM g WHERE valid AND NOT is_poly), "
        "f AS (SELECT CAST(-120.0 + (n % 10) * 0.25 AS DOUBLE) AS g0, "
        "CAST(0.01 AS DOUBLE) AS g1, CAST(0.0002 AS DOUBLE) AS g2, "
        "CAST(35.0 + (n % 7) * 0.125 AS DOUBLE) AS g3, "
        "CAST(0.0003 AS DOUBLE) AS g4, CAST(-0.01 AS DOUBLE) AS g5 FROM nn), "
        "pts AS (SELECT * FROM (VALUES (0, 0.0, 0.0), (1, 0.0, 20.0), (2, 20.0, 0.0), "
        "(3, 20.0, 20.0), (4, 10.0, 10.0)) AS t(cid, px, py)), "
        # source-frame geo of each control point, then webmercator
        "sg AS (SELECT cid, px, py, g0 + px*g1 + py*g2 AS sx, g3 + px*g4 + py*g5 AS sy FROM pts, f), "
        f"tg AS (SELECT cid, px, py, {wx('sx')} AS tx, {wy('sy')} AS ty FROM sg), "
        # new GT through UL(0) / UR(2) / LL(1)
        "ngt AS (SELECT "
        "(SELECT tx FROM tg WHERE cid = 0) AS n0, "
        "((SELECT tx FROM tg WHERE cid = 2) - (SELECT tx FROM tg WHERE cid = 0)) / 20 AS n1, "
        "((SELECT tx FROM tg WHERE cid = 1) - (SELECT tx FROM tg WHERE cid = 0)) / 20 AS n2, "
        "(SELECT ty FROM tg WHERE cid = 0) AS n3, "
        "((SELECT ty FROM tg WHERE cid = 2) - (SELECT ty FROM tg WHERE cid = 0)) / 20 AS n4, "
        "((SELECT ty FROM tg WHERE cid = 1) - (SELECT ty FROM tg WHERE cid = 0)) / 20 AS n5), "
        # GDALInvGeoTransform general path (multiply by 1/det)
        "inv AS (SELECT *, 1.0 / (n1*n5 - n2*n4) AS invdet FROM ngt), "
        "inv2 AS (SELECT *, (n2*n3 - n0*n5) * invdet AS i0, n5 * invdet AS i1, "
        "-n2 * invdet AS i2, (-n1*n3 + n0*n4) * invdet AS i3, -n4 * invdet AS i4, "
        "n1 * invdet AS i5 FROM inv) "
        "SELECT CAST(cid AS BIGINT) AS corner_id, "
        "n0 + px*n1 + py*n2 AS adj_x, n3 + px*n4 + py*n5 AS adj_y, "
        "(n0 + px*n1 + py*n2) - tx AS err_x, (n3 + px*n4 + py*n5) - ty AS err_y, "
        "(i0 + tx*i1 + ty*i2) - px AS err_px, (i3 + tx*i4 + ty*i5) - py AS err_py "
        "FROM tg, inv2"
    )


QUERIES["gdalmove"] = q_gdalmove
ORACLES["gdalmove"] = _o_gdalmove()


def q_overview_mode_rms(spark, sf_dir):
    """gdaladdo -r mode / -r rms (gcore/overview.cpp
    GDALResampleChunk_Mode :2283+ first-to-reach-max tie rule;
    ComputeIntegerRMS_4values :315-331 byte path): the dense point-burn
    raster downsampled 2x with both resamplers, value-exact per parent
    pixel. The oracle replays the tie cascade and the integer-corrected
    float32 sqrt in SQL."""
    from gdal_spark.operators.retile import retile
    from gdal_spark.operators.tiles import overview_level

    t20 = (
        retile(_point_burn_tiles(spark, sf_dir), BYTE20_SPEC, 20)
        .withColumn("z", F.lit(1))
        .select("z", "tx", "ty", "band", "dtype", "payload")
    )

    def _explode(colname):
        def _f(batches):
            for pdf in batches:
                rows = []
                for r in pdf.itertuples(index=False):
                    t = tilecodec.decode_row(r, 20)
                    for py in range(10):
                        for px in range(10):
                            rows.append({"py": py, "px": px, colname: int(t[py, px])})
                yield pd.DataFrame(rows)

        return _f

    m = overview_level(t20, "mode", tile_size=20).mapInPandas(
        _explode("v_mode"), "py long, px long, v_mode long"
    )
    r = overview_level(t20, "rms", tile_size=20).mapInPandas(
        _explode("v_rms"), "py long, px long, v_rms long"
    )
    return m.join(r, ["py", "px"]).select("py", "px", "v_mode", "v_rms")


def _o_overview_mode_rms() -> str:
    return (
        f"{_pix_cte()}, "
        "g2 AS (SELECT x.px, y.py FROM (SELECT unnest(generate_series(0,19)) AS px) x, "
        "(SELECT unnest(generate_series(0,19)) AS py) y), "
        "d AS (SELECT g2.px, g2.py, COALESCE(p.v, 0) AS v "
        "FROM g2 LEFT JOIN pix p ON p.px = g2.px AND p.py = g2.py), "
        "blk AS (SELECT pp.px, pp.py, "
        "(SELECT v FROM d WHERE d.py = 2*pp.py AND d.px = 2*pp.px) AS a, "
        "(SELECT v FROM d WHERE d.py = 2*pp.py AND d.px = 2*pp.px + 1) AS b, "
        "(SELECT v FROM d WHERE d.py = 2*pp.py + 1 AND d.px = 2*pp.px) AS c, "
        "(SELECT v FROM d WHERE d.py = 2*pp.py + 1 AND d.px = 2*pp.px + 1) AS e "
        "FROM (SELECT x.px, y.py FROM (SELECT unnest(generate_series(0,9)) AS px) x, "
        "(SELECT unnest(generate_series(0,9)) AS py) y) pp), "
        "mo AS (SELECT px, py, "
        "CASE WHEN a = b THEN a WHEN a = c THEN a WHEN b = c THEN b "
        "WHEN a = e THEN a WHEN b = e THEN b WHEN c = e THEN c ELSE a END AS v_mode, "
        "(a*a + b*b + c*c + e*e + 1) // 4 AS s1 FROM blk), "
        "rm AS (SELECT px, py, v_mode, "
        "CAST(floor(sqrt(CAST(s1 AS DOUBLE))) AS BIGINT) AS r0, s1 FROM mo) "
        "SELECT CAST(py AS BIGINT) AS py, CAST(px AS BIGINT) AS px, "
        "CAST(v_mode AS BIGINT) AS v_mode, "
        "CAST(r0 + CASE WHEN r0 * (r0 + 1) < s1 THEN 1 ELSE 0 END AS BIGINT) AS v_rms "
        "FROM rm"
    )


QUERIES["overview_mode_rms"] = q_overview_mode_rms
ORACLES["overview_mode_rms"] = _o_overview_mode_rms()


def q_nearblack_flood(spark, sf_dir):
    """nearblack -alg floodfill -white (apps/
    nearblack_lib_floodfill.cpp): replace near-white pixels
    4-connected to the border of the dense point-burn raster —
    per-tile CC labeling + driver seam union-find (O(perimeters)
    state) + broadcast fill-set rewrite. Unlike the twopasses
    algorithm, enclosed near-white holes inside content survive. The
    oracle floods with a recursive CTE."""
    from gdal_spark.operators.nearblack import nearblack_floodfill

    out = nearblack_floodfill(
        _nearblack_input_tiles(spark, sf_dir), BYTE20_SPEC,
        white=True, near=5, set_alpha=True,
    )
    cs = checksum_col(out, BYTE20_SPEC)
    pix = as_features(out, BYTE20_SPEC)
    sums = pix.groupBy("band").agg(F.sum(F.col("value").cast("bigint")).alias("sum_v"))
    return cs.join(sums, "band").select(
        F.col("band").cast("bigint").alias("band"),
        F.col("checksum").cast("bigint").alias("checksum"),
        F.col("sum_v").alias("sum_v"),
    )


def _o_nearblack_flood() -> str:
    primes = "[7,11,13,17,19,23,29,31,37,41,43]"
    cksum = lambda col: (
        f"CAST(SUM({col} % ({primes})[((py * 20 + px) % 11) + 1]) % 65536 AS BIGINT)"
    )
    return (
        f"{_pix_cte()}, "
        "g2 AS (SELECT x.px, y.py FROM (SELECT unnest(generate_series(0,19)) AS px) x, "
        "(SELECT unnest(generate_series(0,19)) AS py) y), "
        "d AS (SELECT g2.px, g2.py, CASE WHEN p.v IS NOT NULL THEN LEAST(40 + 13*p.v, 200) "
        "ELSE 250 + ((g2.px*3 + g2.py*7) % 6) END AS v "
        "FROM g2 LEFT JOIN pix p ON p.px = g2.px AND p.py = g2.py), "
        # 4-connected flood of near-white (v >= 250) pixels from the border
        "fl AS (WITH RECURSIVE reach(px, py) AS ("
        "SELECT px, py FROM d WHERE v >= 250 AND (px = 0 OR px = 19 OR py = 0 OR py = 19) "
        "UNION "
        "SELECT n.px, n.py FROM d n JOIN reach r "
        "ON n.v >= 250 AND abs(n.px - r.px) + abs(n.py - r.py) = 1"
        ") SELECT * FROM reach), "
        "fin AS (SELECT d.px, d.py, "
        "CASE WHEN fl.px IS NOT NULL THEN 255 ELSE d.v END AS v6, "
        "CASE WHEN fl.px IS NOT NULL THEN 0 ELSE 255 END AS a "
        "FROM d LEFT JOIN fl ON fl.px = d.px AND fl.py = d.py) "
        f"SELECT CAST(1 AS BIGINT) AS band, {cksum('v6')} AS checksum, "
        "CAST(SUM(v6) AS BIGINT) AS sum_v FROM fin "
        f"UNION ALL SELECT CAST(2 AS BIGINT) AS band, {cksum('a')} AS checksum, "
        "CAST(SUM(a) AS BIGINT) AS sum_v FROM fin"
    )


QUERIES["nearblack_flood"] = q_nearblack_flood
ORACLES["nearblack_flood"] = _o_nearblack_flood()


def q_overview_gauss(spark, sf_dir):
    """gdaladdo -r gauss (gcore/overview.cpp GDALResampleChunk_Gauss):
    the dense point-burn raster, retiled to 5-px tiles so the 2x
    gauss runs over a 2x2 PARENT grid — interior parents consume the
    perimeter halo (top rows / left cols / corner pixels shipped to
    the neighbor parents inside the same groupBy). Per-pixel exact:
    [1,2,1]^2 kernel, edge-clipped weight renormalization, float64
    accumulate, GDALCopyWord to byte."""
    from gdal_spark.operators.retile import retile
    from gdal_spark.operators.tiles import overview_gauss

    t5 = (
        retile(_nearblack_burn_dense(spark, sf_dir), BYTE20_SPEC, 5)
        .withColumn("z", F.lit(1))
        .select("z", "tx", "ty", "band", "dtype", "payload")
    )
    out = overview_gauss(t5, tile_size=5)

    def _explode(batches):
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                t = tilecodec.decode_row(r, 5)
                for y in range(5):
                    for x in range(5):
                        rows.append({"py": int(r.ty) * 5 + y, "px": int(r.tx) * 5 + x,
                                     "v": int(t[y, x])})
            yield pd.DataFrame(rows)

    return out.mapInPandas(_explode, "py long, px long, v long")


def _nearblack_burn_dense(spark, sf_dir):
    """Dense burn-count byte raster (zero background) on the byte20
    grid — the retile source for the overview queries."""
    spec = BYTE20_SPEC
    ts = spec.tile_size
    sk = spark.range(spec.ntiles_y * spec.ntiles_x).selectExpr(
        f"cast(id div {spec.ntiles_x} as int) as ty",
        f"cast(id % {spec.ntiles_x} as int) as tx",
    )
    burn = _point_burn_tiles(spark, sf_dir).filter(F.col("band") == 1)
    j = sk.join(burn.select("ty", "tx", "dtype", "payload"), ["ty", "tx"], "left")

    def _mk(batches):
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                ty, tx = int(r.ty), int(r.tx)
                h = min(ts, spec.height - ty * ts)
                w = min(ts, spec.width - tx * ts)
                if r.payload is None:
                    c = np.zeros((h, w), dtype=np.uint8)
                else:
                    c = tilecodec.decode(r.payload, r.dtype, (h, w), (ty, tx)).astype(np.uint8)
                rows.append(tilecodec.tile_row(1, ty, tx, c))
            yield pd.DataFrame(rows)

    return j.mapInPandas(_mk, TILE_SCHEMA)


def _o_overview_gauss() -> str:
    terms = []
    cnts = []
    k = {(0, 0): 1, (0, 1): 2, (0, 2): 1, (1, 0): 2, (1, 1): 4, (1, 2): 2,
         (2, 0): 1, (2, 1): 2, (2, 2): 1}
    for (dy, dx), w in k.items():
        cond = f"(2*pp.py + {dy} < 20 AND 2*pp.px + {dx} < 20)"
        terms.append(f"CASE WHEN {cond} THEN {w} * (SELECT v FROM d WHERE d.py = 2*pp.py + {dy} AND d.px = 2*pp.px + {dx}) ELSE 0 END")
        cnts.append(f"CASE WHEN {cond} THEN {w} ELSE 0 END")
    tot = " + ".join(terms)
    cnt = " + ".join(cnts)
    return (
        f"{_pix_cte()}, "
        "g2 AS (SELECT x.px, y.py FROM (SELECT unnest(generate_series(0,19)) AS px) x, "
        "(SELECT unnest(generate_series(0,19)) AS py) y), "
        "d AS (SELECT g2.px, g2.py, COALESCE(p.v, 0) AS v "
        "FROM g2 LEFT JOIN pix p ON p.px = g2.px AND p.py = g2.py), "
        "pp AS (SELECT x.px, y.py FROM (SELECT unnest(generate_series(0,9)) AS px) x, "
        "(SELECT unnest(generate_series(0,9)) AS py) y) "
        "SELECT CAST(pp.py AS BIGINT) AS py, CAST(pp.px AS BIGINT) AS px, "
        f"CAST(floor(CAST(({tot}) AS DOUBLE) / ({cnt}) + 0.5) AS BIGINT) AS v "
        "FROM pp"
    )


QUERIES["overview_gauss"] = q_overview_gauss
ORACLES["overview_gauss"] = _o_overview_gauss()


def q_contour_exp(spark, sf_dir):
    """gdal_contour -e 1.5 (marching_squares/level_generator.h
    ExponentialLevelRangeIterator + the fudge rule): exponential
    levels 1.5^k spanning the byte20 range, contoured distributed
    (per-tile marching squares + cross-tile merge). Output: the
    distinct crossing vertices per level, quantized to 1e-3 — any
    wrong level set or crossing breaks it."""
    from gdal_spark.fixtures import BYTE20_SPEC, byte20_tiles
    from gdal_spark.operators.contour import contour

    out = contour(byte20_tiles(spark), BYTE20_SPEC, exp_base=1.5)

    def _verts(batches):
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                body = r.wkt.split("(", 1)[1].rsplit(")", 1)[0]
                for part in body.replace("(", "").replace(")", "").split(","):
                    xs, ys = part.strip().split(" ")
                    rows.append({
                        "level_q": int(math.floor(float(r.level) * 1000 + 0.5)),
                        "qx": int(math.floor(float(xs) * 1000 + 0.5)),
                        "qy": int(math.floor(float(ys) * 1000 + 0.5)),
                    })
            yield pd.DataFrame(rows)

    return (
        out.mapInPandas(_verts, "level_q long, qx long, qy long")
        .distinct()
        .select("level_q", "qx", "qy")
    )


def _o_contour_exp() -> str:
    lvl_series = (
        "SELECT power(1.5, k - 1) AS level FROM (SELECT unnest(generate_series("
        # index1(min): min >= 1 on byte20; fudge no-op (74 far from any 1.5^k)
        "CAST(ceil(ln((SELECT MIN(v) FROM pixels)) / ln(1.5)) + 1 AS BIGINT), "
        # range end exclusive: index2(max) - 1
        "CAST(floor(ln((SELECT MAX(v) FROM pixels)) / ln(1.5)) + 2 - 1 AS BIGINT))) AS k)"
    )
    return (
        f"WITH pixels AS (SELECT * FROM (VALUES {_byte20_vals_sql()}) AS t(py, px, v)), "
        f"lv AS ({lvl_series}), "
        "hc AS (SELECT level, p.px + 0.5 + (level - p.v) / (q.v - p.v) AS x, p.py + 0.5 AS y "
        "FROM pixels p JOIN pixels q ON q.py = p.py AND q.px = p.px + 1 CROSS JOIN lv "
        "WHERE (p.v >= level) != (q.v >= level)), "
        "vc AS (SELECT level, p.px + 0.5 AS x, p.py + 0.5 + (level - p.v) / (q.v - p.v) AS y "
        "FROM pixels p JOIN pixels q ON q.px = p.px AND q.py = p.py + 1 CROSS JOIN lv "
        "WHERE (p.v >= level) != (q.v >= level)) "
        "SELECT DISTINCT CAST(floor(level * 1000 + 0.5) AS BIGINT) AS level_q, "
        "CAST(floor(x * 1000 + 0.5) AS BIGINT) AS qx, "
        "CAST(floor(y * 1000 + 0.5) AS BIGINT) AS qy "
        "FROM (SELECT * FROM hc UNION ALL SELECT * FROM vc)"
    )


QUERIES["contour_exp"] = q_contour_exp
ORACLES["contour_exp"] = _o_contour_exp()


def q_geoparquet_write(spark, sf_dir):
    """GeoParquet 1.1 sink round trip (ogrparquetwriterlayer.cpp
    GetGeoMetadata + ograrrowwriterlayer.hpp castToFloatDown/Up): the
    valid doc points written as executor-local GeoParquet files (WKB
    geometry + float32 OUTWARD-rounded bbox covering struct + geo
    footer), then read back through Spark's parquet scan. Output:
    row/file counts and the global covering bbox actually written —
    the oracle replays the conditional float32 rounding per feature."""
    import tempfile

    from gdal_spark.operators.geoparquet import write_geoparquet

    g = docs_geom(spark, sf_dir)
    pts = g.filter(
        F.col("geom_error").isNull() & (F.col("env_minx") == F.col("env_maxx"))
    ).select(F.col("_id").alias("fid"), "wkt")
    path = tempfile.mkdtemp(prefix="gdal_spark_gpq_")
    man = write_geoparquet(pts, path, num_files=4).collect()
    n_files = sum(1 for r in man if r.rows)
    back = spark.read.parquet(path)
    return back.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.lit(n_files).cast("bigint").alias("n_files"),
        F.min(F.col("geometry_bbox.xmin")).cast("double").alias("xmin"),
        F.min(F.col("geometry_bbox.ymin")).cast("double").alias("ymin"),
        F.max(F.col("geometry_bbox.xmax")).cast("double").alias("xmax"),
        F.max(F.col("geometry_bbox.ymax")).cast("double").alias("ymax"),
    )


def _o_geoparquet_write() -> str:
    RT = "(1.0 - 1.0/8388608.0)"
    RA = "(1.0 + 1.0/8388608.0)"

    def down(c):
        return (
            f"CASE WHEN CAST({c} AS REAL) > {c} THEN "
            f"CAST({c} * CASE WHEN {c} < 0 THEN {RA} ELSE {RT} END AS REAL) "
            f"ELSE CAST({c} AS REAL) END"
        )

    def up(c):
        return (
            f"CASE WHEN CAST({c} AS REAL) < {c} THEN "
            f"CAST({c} * CASE WHEN {c} < 0 THEN {RT} ELSE {RA} END AS REAL) "
            f"ELSE CAST({c} AS REAL) END"
        )

    return (
        f"WITH g AS ({docs_g_cte()}), "
        "p AS (SELECT CAST(gx AS DOUBLE) AS x, CAST(gy AS DOUBLE) AS y FROM g "
        "WHERE valid AND NOT is_poly) "
        "SELECT CAST(COUNT(*) AS BIGINT) AS n_rows, CAST(4 AS BIGINT) AS n_files, "
        f"CAST(MIN({down('x')}) AS DOUBLE) AS xmin, "
        f"CAST(MIN({down('y')}) AS DOUBLE) AS ymin, "
        f"CAST(MAX({up('x')}) AS DOUBLE) AS xmax, "
        f"CAST(MAX({up('y')}) AS DOUBLE) AS ymax FROM p"
    )


QUERIES["geoparquet_write"] = q_geoparquet_write
ORACLES["geoparquet_write"] = _o_geoparquet_write()


def _surf_centers_sql() -> str:
    return (
        "SELECT (CAST(floor(gx) AS BIGINT) % 44) + 10 AS cx, "
        "(CAST(floor(gy) AS BIGINT) % 44) + 10 AS cy "
        "FROM g WHERE valid AND NOT is_poly AND doc_id % 29 = 0"
    )


def _surf_image_tiles(spark, sf_dir):
    """64x64 integer-valued double image: rational blobs at doc-derived
    centers (each term floored -> the pixel sum is order-free exact)
    plus a weak deterministic texture."""
    from gdal_spark.operators.raster import RasterSpec

    spec = RasterSpec(width=64, height=64, gt=(0.0, 1.0, 0.0, 64.0, 0.0, -1.0),
                      dtype="float64", tile_size=32)
    g = docs_geom(spark, sf_dir)
    cs = (
        g.filter(
            F.col("geom_error").isNull()
            & (F.col("env_minx") == F.col("env_maxx"))
            & (F.col("_id") % 29 == 0)
        )
        .select(
            (F.floor("env_minx").cast("long") % 44 + 10).alias("cx"),
            (F.floor("env_miny").cast("long") % 44 + 10).alias("cy"),
        )
        .collect()
    )
    centers = [(int(r.cx), int(r.cy)) for r in cs]

    def _mk(batches):
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                ty, tx = int(r.ty), int(r.tx)
                yy, xx = np.mgrid[0:32, 0:32]
                gy = yy + ty * 32
                gx = xx + tx * 32
                v = (((gx * 3 + gy * 5) % 7) * 3).astype(np.float64)
                for cx, cy in centers:
                    d2 = (gx - cx) ** 2 + (gy - cy) ** 2
                    v += np.floor(1800.0 / (9 + d2))
                rows.append(tilecodec.tile_row(1, ty, tx, v))
            yield pd.DataFrame(rows)

    sk = spark.range(4).selectExpr("cast(id div 2 as int) as ty", "cast(id % 2 as int) as tx")
    return sk.mapInPandas(_mk, TILE_SCHEMA), spec


def q_surf_keypoints(spark, sf_dir):
    """SimpleSURF keypoint detection (alg/gdal_octave.cpp ComputeLayer
    + PointIsExtremum; alg/gdal_simplesurf.cpp ExtractFeaturePoints):
    fast-Hessian extrema at octaves 1-2 over a 64x64 doc-derived blob
    image — distributed integral (two strip cumsums) + fat-halo tile
    detection. Integer-exact rows; the oracle replays the box filters,
    0.81-weighted determinant and strict 26-neighbor suppression in
    SQL over a window-cumsum integral image."""
    from gdal_spark.operators.surf import surf_keypoints

    tiles, spec = _surf_image_tiles(spark, sf_dir)
    kp = surf_keypoints(tiles, spec, octave_start=1, octave_end=2, threshold=0.001)
    return kp.select(
        F.col("octave").cast("bigint").alias("octave"),
        F.col("interval").cast("bigint").alias("interval"),
        F.col("y").cast("bigint").alias("y"),
        F.col("x").cast("bigint").alias("x"),
        F.col("scale").cast("bigint").alias("scale"),
        F.col("sign").cast("bigint").alias("sign"),
    )


def _o_surf_keypoints() -> str:
    H = W = 64

    def val(r, c):
        # O(1) dense-list lookup (the correlated-subquery form measured
        # 61 s in DuckDB; the list form is ~20x faster)
        return (
            f"CASE WHEN ({r}) >= 0 AND ({r}) < {H} AND ({c}) >= 0 AND ({c}) < {W} "
            f"THEN ia.a[({r}) * {W} + ({c}) + 1] ELSE 0.0 END"
        )

    def rect(r, c, w, h):
        # GetRectangleSum (gdal_octave.cpp:47-73)
        lt_r = f"(CASE WHEN ({r}) <= {H} THEN ({r}) - 1 ELSE -1 END)"
        lt_c = f"(CASE WHEN ({c}) <= {W} THEN ({c}) - 1 ELSE -1 END)"
        rb_r = f"(CASE WHEN ({r}) + {h - 1} < {H} THEN ({r}) + {h - 1} ELSE {H - 1} END)"
        rb_c = f"(CASE WHEN ({c}) + {w - 1} < {W} THEN ({c}) + {w - 1} ELSE {W - 1} END)"
        a = f"CASE WHEN {lt_r} >= 0 AND {lt_c} >= 0 THEN {val(lt_r, lt_c)} ELSE 0.0 END"
        b = f"CASE WHEN {lt_r} >= 0 AND {rb_c} >= 0 THEN {val(lt_r, rb_c)} ELSE 0.0 END"
        cc = f"CASE WHEN {rb_r} >= 0 AND {rb_c} >= 0 THEN {val(rb_r, rb_c)} ELSE 0.0 END"
        d = f"CASE WHEN {rb_r} >= 0 AND {lt_c} >= 0 THEN {val(rb_r, lt_c)} ELSE 0.0 END"
        return f"GREATEST(({a}) + ({cc}) - ({b}) - ({d}), 0.0)"

    layer_ctes = []
    for octv in (1, 2):
        for k in range(1, 5):
            fs = 3 * (2 ** octv) * k + 1
            radius = (fs - 1) // 2
            lobe = fs // 3
            lp = 2 * lobe - 1
            norm = fs * fs
            dxx = (
                f"(({rect('p.y - ' + str(lobe - 1), 'p.x - ' + str(radius), fs, lp)}) - "
                f"3 * ({rect('p.y - ' + str(lobe - 1), 'p.x - ' + str((lobe - 1) // 2), lobe, lp)})) / {norm}"
            )
            dyy = (
                f"(({rect('p.y - ' + str(radius), 'p.x - ' + str(lobe + 1), lp, fs)}) - "
                f"3 * ({rect('p.y - ' + str(lobe - 1), 'p.x - ' + str(lobe - 1), lp, lobe)})) / {norm}"
            )
            dxy = (
                f"(({rect('p.y - ' + str(lobe), 'p.x - ' + str(lobe), lobe, lobe)}) + "
                f"({rect('p.y + 1', 'p.x + 1', lobe, lobe)}) - "
                f"({rect('p.y - ' + str(lobe), 'p.x + 1', lobe, lobe)}) - "
                f"({rect('p.y + 1', 'p.x - ' + str(lobe), lobe, lobe)})) / {norm}"
            )
            layer_ctes.append(
                f"raw_{octv}_{k} AS (SELECT p.y, p.x, {dxx} AS dxx, {dyy} AS dyy, {dxy} AS dxy "
                f"FROM grid p, ia WHERE p.y BETWEEN {radius} AND {H - radius} "
                f"AND p.x BETWEEN {radius} AND {W - radius}), "
                f"det_{octv}_{k} AS (SELECT y, x, dxx * dyy - 0.9 * 0.9 * dxy * dxy AS det, "
                f"CASE WHEN dxx + dyy >= 0 THEN 1 ELSE -1 END AS sgn FROM raw_{octv}_{k})"
            )

    extrema = []
    for octv in (1, 2):
        scale = 2 ** octv
        for k in range(0, 2):
            bot, mid, top = (f"det_{octv}_{k + 1}", f"det_{octv}_{k + 2}", f"det_{octv}_{k + 3}")
            top_fs = 3 * (2 ** octv) * (k + 3) + 1
            top_radius = (top_fs - 1) // 2
            extrema.append(
                f"SELECT CAST({octv} AS BIGINT) AS octave, CAST({k + 2} AS BIGINT) AS interval, "
                f"CAST(m.y AS BIGINT) AS y, CAST(m.x AS BIGINT) AS x, "
                f"CAST({scale} AS BIGINT) AS scale, CAST(m.sgn AS BIGINT) AS sign "
                f"FROM {mid} m WHERE m.y > {top_radius} AND m.x > {top_radius} "
                f"AND m.y + {top_radius} < {H} AND m.x + {top_radius} < {W} "
                f"AND m.det >= 0.001 "
                f"AND NOT EXISTS (SELECT 1 FROM {top} t WHERE t.y BETWEEN m.y - 1 AND m.y + 1 "
                f"AND t.x BETWEEN m.x - 1 AND m.x + 1 AND t.det >= m.det) "
                f"AND NOT EXISTS (SELECT 1 FROM {bot} b WHERE b.y BETWEEN m.y - 1 AND m.y + 1 "
                f"AND b.x BETWEEN m.x - 1 AND m.x + 1 AND b.det >= m.det) "
                f"AND NOT EXISTS (SELECT 1 FROM {mid} q WHERE q.y BETWEEN m.y - 1 AND m.y + 1 "
                f"AND q.x BETWEEN m.x - 1 AND m.x + 1 AND (q.y != m.y OR q.x != m.x) "
                f"AND q.det >= m.det)"
            )

    return (
        f"WITH g AS ({docs_g_cte()}), "
        f"cs AS ({_surf_centers_sql()}), "
        "grid AS (SELECT x.x, y.y FROM (SELECT unnest(generate_series(0,63)) AS x) x, "
        "(SELECT unnest(generate_series(0,63)) AS y) y), "
        "img AS (SELECT grid.y, grid.x, "
        "CAST(((grid.x*3 + grid.y*5) % 7) * 3 AS DOUBLE) + COALESCE((SELECT "
        "SUM(floor(1800.0 / (9 + (grid.x - cs.cx)*(grid.x - cs.cx) + (grid.y - cs.cy)*(grid.y - cs.cy)))) "
        "FROM cs), 0.0) AS v FROM grid), "
        "rc AS (SELECT y, x, SUM(v) OVER (PARTITION BY y ORDER BY x ROWS UNBOUNDED PRECEDING) AS rv FROM img), "
        "ii AS (SELECT y, x, SUM(rv) OVER (PARTITION BY x ORDER BY y ROWS UNBOUNDED PRECEDING) AS ii FROM rc), "
        "ia AS (SELECT list(ii ORDER BY y * 64 + x) AS a FROM ii), "
        + ", ".join(layer_ctes)
        + " "
        + " UNION ALL ".join(extrema)
    )


QUERIES["surf_keypoints"] = q_surf_keypoints
ORACLES["surf_keypoints"] = _o_surf_keypoints()


def _surf_pair_tiles(spark, sf_dir):
    """The surf image and its x+7 circular shift (second image), both
    64x64 integer-valued; shift in closed form so SQL replays it."""
    from gdal_spark.operators.raster import RasterSpec

    spec = RasterSpec(width=64, height=64, gt=(0.0, 1.0, 0.0, 64.0, 0.0, -1.0),
                      dtype="float64", tile_size=32)
    g = docs_geom(spark, sf_dir)
    cs = (
        g.filter(
            F.col("geom_error").isNull()
            & (F.col("env_minx") == F.col("env_maxx"))
            & (F.col("_id") % 29 == 0)
        )
        .select(
            (F.floor("env_minx").cast("long") % 44 + 10).alias("cx"),
            (F.floor("env_miny").cast("long") % 44 + 10).alias("cy"),
        )
        .collect()
    )
    centers = [(int(r.cx), int(r.cy)) for r in cs]

    def _mk(shift):
        def _f(batches):
            for pdf in batches:
                rows = []
                for r in pdf.itertuples(index=False):
                    ty, tx = int(r.ty), int(r.tx)
                    yy, xx = np.mgrid[0:32, 0:32]
                    gy = yy + ty * 32
                    gx0 = xx + tx * 32
                    gx = (gx0 - shift) % 64
                    v = (((gx * 3 + gy * 5) % 7) * 3).astype(np.float64)
                    for cx, cy in centers:
                        d2 = (gx - cx) ** 2 + (gy - cy) ** 2
                        v += np.floor(1800.0 / (9 + d2))
                    rows.append(tilecodec.tile_row(1, ty, tx, v))
                yield pd.DataFrame(rows)

        return _f

    sk = spark.range(4).selectExpr("cast(id div 2 as int) as ty", "cast(id % 2 as int) as tx")
    t1 = sk.mapInPandas(_mk(0), TILE_SCHEMA)
    t2 = sk.mapInPandas(_mk(7), TILE_SCHEMA)
    return t1, t2, spec


def q_surf_match(spark, sf_dir):
    """GDALComputeMatchingPoints end to end (octave 1, where the blob
    scale actually fires — the CLI default octave 2 needs larger
    structures; the algorithm is octave-uniform): SURF keypoints +
    64-d Haar
    descriptors on the doc-derived blob image and its x+7 circular
    shift, matched with the same-sign ratio-test greedy matcher
    (smaller/second collection drives, exclusivity, the reference's
    best2 initialization quirk). Output = the matched coordinate
    pairs, integer-exact; the oracle replays descriptors in SQL and
    the sequential greedy as a recursive CTE whose best2 uses the
    closed form min{d_j : j first or d_j > prefix-min}."""
    from gdal_spark.operators.surf import gather_feature_points, match_feature_points

    t1, t2, spec = _surf_pair_tiles(spark, sf_dir)
    f1 = gather_feature_points(t1, spec, 1, 1, 0.001)
    f2 = gather_feature_points(t2, spec, 1, 1, 0.001)
    pairs = match_feature_points(f1, f2, matching_threshold=1.0)
    rows = [
        (int(a["x"]), int(a["y"]), int(b["x"]), int(b["y"])) for a, b in pairs
    ]
    if not rows:
        return spark.createDataFrame([], "x1 long, y1 long, x2 long, y2 long")
    return spark.createDataFrame(rows, "x1 long, y1 long, x2 long, y2 long")


QUERIES["surf_match"] = q_surf_match


def _o_surf_match() -> str:
    from gdal_spark.surf_oracle import surf_match_oracle

    return surf_match_oracle(docs_g_cte(), _surf_centers_sql())


ORACLES["surf_match"] = _o_surf_match()


def _homography_gcps():
    """5 GCPs sampled from the TRUE dyadic homography
    X = (10 + px/2 + py/4) / w, Y = (-20 + px/8 - 3*py/4) / w,
    w = 1 + px/512 + py/1024 at px,py multiples of 1024 — GCP pixel
    coords keep the normalization homographies dyadic-exact and the
    overdetermined (5 > 4) normal-equations path exercised."""
    from gdal_spark.geom.homography import apply_homography

    h_true = [10.0, 0.5, 0.25, -20.0, 0.125, -0.75, 1.0, 1.0 / 512, 1.0 / 1024]
    pts = [(0.0, 0.0), (2048.0, 0.0), (0.0, 2048.0), (2048.0, 2048.0), (1024.0, 1024.0)]
    import numpy as np

    px = np.array([p[0] for p in pts])
    py = np.array([p[1] for p in pts])
    gx, gy = apply_homography(h_true, px, py)
    return [(p, l, x, y) for (p, l), x, y in zip(pts, gx, gy)]


def q_homography(spark, sf_dir):
    """GDALCreateHomographyTransformerFromGCPs + GDALHomographyTransform
    (alg/gdal_homography.cpp:142-330,529-563): fit the projective
    transform from 5 GCPs at plan time (normalized DLT normal
    equations + convexity check — the reference's exact path), then
    evaluate forward AND the analytic inverse (GDALInvHomography)
    over every point doc as one vectorized Arrow batch. GCPs are
    sampled from a dyadic TRUE homography, so the fit recovers it to
    ~1e-12 and quantizing at x1024 absorbs the fit noise (the oracle
    applies the true coefficients: px,py are integers, numerator and
    w dyadic-exact in both engines). ipx/ipy prove forward->inverse
    returns the original integer pixel coordinates."""
    import pandas as pd

    from gdal_spark.geom.homography import HomographyTransformer

    t = HomographyTransformer(_homography_gcps())
    g = (
        docs_geom(spark, sf_dir)
        .filter(F.col("geom_error").isNull() & F.col("wkt").startswith("POINT"))
        .select(
            F.col("_id").alias("doc_id"),
            (F.col("env_minx") - 440000).alias("px"),
            (F.col("env_miny") - 3750000).alias("py"),
        )
    )

    def _apply(batches):
        import numpy as np

        for pdf in batches:
            px = pdf["px"].to_numpy(np.float64)
            py = pdf["py"].to_numpy(np.float64)
            X, Y = t.forward(px, py)
            ipx, ipy = t.inverse(X, Y)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "x1024": np.floor(X * 1024 + 0.5).astype(np.int64),
                    "y1024": np.floor(Y * 1024 + 0.5).astype(np.int64),
                    "ipx": np.floor(ipx + 0.5).astype(np.int64),
                    "ipy": np.floor(ipy + 0.5).astype(np.int64),
                }
            )

    return g.mapInPandas(_apply, "doc_id bigint, x1024 bigint, y1024 bigint, ipx bigint, ipy bigint")


def _o_homography() -> str:
    w = "(1.0 + px / 512.0 + py / 1024.0)"
    return (
        f"WITH g AS ({docs_g_cte()}), "
        "pts AS (SELECT doc_id, CAST(gx - 440000 AS DOUBLE) AS px, "
        "CAST(gy - 3750000 AS DOUBLE) AS py FROM g WHERE valid AND NOT is_poly) "
        "SELECT doc_id, "
        f"CAST(floor((10.0 + px / 2.0 + py / 4.0) / {w} * 1024 + 0.5) AS BIGINT) AS x1024, "
        f"CAST(floor((-20.0 + px / 8.0 - 3.0 * py / 4.0) / {w} * 1024 + 0.5) AS BIGINT) AS y1024, "
        "CAST(px AS BIGINT) AS ipx, CAST(py AS BIGINT) AS ipy "
        "FROM pts"
    )


QUERIES["homography"] = q_homography
ORACLES["homography"] = _o_homography()


def q_blend_multiply(spark, sf_dir):
    """gdal raster blend, multiply operator, RGBA x RGBA at opacity 60
    (apps/gdalalg_raster_blend.cpp:890-960 BlendMultiply_Generic +
    RunStep opacity scaling :2788-2791): every doc is one pixel with
    id-derived RGBA (color) and RGBA (overlay) byte values; pixels
    pack into 32x32 tiles, blend through the REAL tile path (one
    co-shuffle groupBy in blend_tiles), then unpack back to per-doc
    rows. The oracle replays the integer byte math (MulScale255 /
    DivScale255 / premultiply / final alpha) per row in SQL."""
    import pandas as pd

    from gdal_spark.operators.blend import blend_tiles
    from gdal_spark.operators.raster import TILE_SCHEMA

    ids = load(spark, sf_dir, "documents").select(F.col("doc_id").cast("long").alias("id"))
    pix = ids.select(
        "id",
        F.floor(F.col("id") / 1024).cast("int").alias("ty"),
        (F.col("id") % 1024).cast("int").alias("pi"),
    )

    def assemble(mults):
        def _f(key, pdf):
            import numpy as np

            ty = int(key[0])
            rows = []
            for b, (m, c) in enumerate(mults, start=1):
                arr = np.zeros(1024, dtype=np.uint8)
                vals = ((pdf["id"].to_numpy(np.int64) * m + c) % 256).astype(np.uint8)
                arr[pdf["pi"].to_numpy(np.int64)] = vals
                rows.append(tilecodec.tile_row(b, ty, 0, arr.reshape(32, 32)))
            return pd.DataFrame(rows)

        return _f

    color_m = [(7, 3), (11, 5), (13, 1), (17, 9)]
    overlay_m = [(19, 2), (23, 8), (29, 4), (31, 6)]
    color = pix.groupBy("ty").applyInPandas(assemble(color_m), TILE_SCHEMA)
    overlay = pix.groupBy("ty").applyInPandas(assemble(overlay_m), TILE_SCHEMA)
    blended = blend_tiles(color, overlay, "multiply", 60)

    def unpack(batches):
        import numpy as np

        for pdf in batches:
            out = {"ty": [], "pi": [], "band": [], "val": []}
            for row in pdf.itertuples(index=False):
                arr = tilecodec.decode_row(row).ravel()
                out["ty"].append(np.full(arr.size, row.ty, dtype=np.int64))
                out["pi"].append(np.arange(arr.size, dtype=np.int64))
                out["band"].append(np.full(arr.size, row.band, dtype=np.int64))
                out["val"].append(arr.astype(np.int64))
            if out["ty"]:
                yield pd.DataFrame({k: np.concatenate(v) for k, v in out.items()})

    flat = blended.mapInPandas(unpack, "ty bigint, pi bigint, band bigint, val bigint")
    return (
        pix.join(flat, ["ty", "pi"])
        .groupBy(F.col("id").alias("doc_id"))
        .agg(
            F.max(F.when(F.col("band") == 1, F.col("val"))).alias("r"),
            F.max(F.when(F.col("band") == 2, F.col("val"))).alias("g"),
            F.max(F.when(F.col("band") == 3, F.col("val"))).alias("b"),
            F.max(F.when(F.col("band") == 4, F.col("val"))).alias("a"),
        )
    )


def _o_blend_multiply() -> str:
    def mul255(a, b):
        return f"CAST(floor((({a}) * ({b}) + 255) / 256) AS BIGINT)"

    def div255(a, b):
        return (
            f"(CASE WHEN (({a}) % 256) = 0 THEN 0 WHEN ({b}) = 0 THEN 255 "
            f"ELSE CAST(floor((({a}) % 256) * 255 / ({b})) AS BIGINT) % 256 END)"
        )

    def prem(c, a):
        return f"(CASE WHEN ({a}) = 255 THEN ({c}) ELSE {mul255(c, a)} END)"

    def comp(pc, po):
        s = f"{mul255(pc, po)} + {mul255(pc, '255 - noa')} + {mul255(po, '255 - na')}"
        return div255(s, "fa")

    chans = ", ".join(
        f"{prem(f'c{ch}', 'na')} AS p{ch}, {prem(f'ov{ch}', 'noa')} AS q{ch}"
        for ch in "rgb"
    )
    return (
        "WITH px AS (SELECT doc_id, (doc_id * 7 + 3) % 256 AS cr, "
        "(doc_id * 11 + 5) % 256 AS cg, (doc_id * 13 + 1) % 256 AS cb, "
        "(doc_id * 17 + 9) % 256 AS na, (doc_id * 19 + 2) % 256 AS ovr, "
        "(doc_id * 23 + 8) % 256 AS ovg, (doc_id * 29 + 4) % 256 AS ovb, "
        "(doc_id * 31 + 6) % 256 AS oa FROM documents), "
        f"al AS (SELECT *, {mul255('oa', 153)} AS noa FROM px), "
        f"fal AS (SELECT *, noa + na - {mul255('noa', 'na')} AS fa FROM al), "
        f"pm AS (SELECT doc_id, na, noa, fa, {chans} FROM fal) "
        f"SELECT doc_id, {comp('pr', 'qr')} AS r, {comp('pg', 'qg')} AS g, "
        f"{comp('pb', 'qb')} AS b, fa AS a FROM pm"
    )


QUERIES["blend_multiply"] = q_blend_multiply
ORACLES["blend_multiply"] = _o_blend_multiply()


# ---------------------------------------------------------------------------
# corpus-level segment (line) dedup + Bloom-bitmap decontamination


def q_segment_dedup(spark, sf_dir):
    """CCNet/RefinedWeb-style corpus-wide line dedup over fixed
    4-token segments: every occurrence of a segment appearing in >=2
    distinct documents is dropped, the survivors reassemble in order.
    Scale shape (dedup.segment_dedup): the df count ships
    (seg_hash, doc_id) pairs only; text never crosses a shuffle."""
    from gdal_spark.dedup import segment_dedup

    d = load(spark, sf_dir, "documents")
    return segment_dedup(d, seg_tokens=4, min_df=2)


def _o_segment_dedup() -> str:
    from gdal_spark.dedup import segment_dedup_sql

    return segment_dedup_sql(seg_tokens=4, min_df=2)


def q_bloom_decontaminate(spark, sf_dir):
    """Decontamination via a BROADCAST Bloom bitmap instead of a
    broadcast join: the eval set's (doc_id < 5) 3-token shingles
    compress to a 64 Kbit bitmap carried as a literal long array, so
    the corpus-side probe is pure whole-stage-codegen bit arithmetic
    — zero shuffle, zero join, zero Python. False positives are a
    deterministic function of the bitmap (the oracle replays the
    position sets exactly); false negatives are impossible."""
    from gdal_spark.dedup import (
        bloom_build_words,
        bloom_member_col,
        shingles_col,
        tokens_col,
    )

    d = load(spark, sf_dir, "documents")
    sh = d.select("doc_id", F.explode(shingles_col(tokens_col(F.col("text")))).alias("s"))
    words = bloom_build_words(sh.filter(F.col("doc_id") < 5).select("s").distinct(), "s")
    probe = sh.filter(F.col("doc_id") >= 5).select(
        "doc_id", bloom_member_col(F.col("s"), words).alias("_hit")
    )
    hits = probe.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_shingles"),
        F.sum(F.col("_hit").cast("bigint")).alias("n_bloom_hits"),
    )
    return hits.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.col("n_shingles").cast("bigint").alias("n_shingles"),
        F.col("n_bloom_hits").cast("bigint").alias("n_bloom_hits"),
        (F.col("n_bloom_hits") > 0).cast("int").alias("flagged"),
    )


def _o_bloom_decontaminate() -> str:
    from gdal_spark.dedup import bloom_position_sql

    pos = [bloom_position_sql("s", i) for i in range(3)]
    member = " AND ".join(f"({p}) IN (SELECT p FROM ep)" for p in pos)
    return (
        "WITH tok AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks FROM documents), "
        "sh AS (SELECT doc_id, unnest(list_distinct(CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')] "
        "ELSE list_transform(generate_series(1, len(toks) - 2), i -> array_to_string(toks[i:i+2], ' ')) END)) AS s FROM tok), "
        "ev AS (SELECT DISTINCT s FROM sh WHERE doc_id < 5), "
        f"ep AS (SELECT DISTINCT unnest([{', '.join(pos)}]) AS p FROM ev), "
        f"probe AS (SELECT doc_id, CASE WHEN {member} THEN 1 ELSE 0 END AS hit "
        "FROM sh WHERE doc_id >= 5) "
        "SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(COUNT(*) AS BIGINT) AS n_shingles, "
        "CAST(SUM(hit) AS BIGINT) AS n_bloom_hits, "
        "CAST(CASE WHEN SUM(hit) > 0 THEN 1 ELSE 0 END AS INT) AS flagged "
        "FROM probe GROUP BY doc_id"
    )


QUERIES["segment_dedup"] = q_segment_dedup
ORACLES["segment_dedup"] = _o_segment_dedup()
QUERIES["bloom_decontaminate"] = q_bloom_decontaminate
ORACLES["bloom_decontaminate"] = _o_bloom_decontaminate()


# ---------------------------------------------------------------------------
# `gdal raster neighbors` (VRTKernelFilteredSource full method set)


def q_neighbors_stats(spark, sf_dir):
    """3x3 equal-kernel neighborhood median AND mode over byte20 via
    the full `gdal raster neighbors` replica (vrtfilters.cpp
    FilterData): per-pixel stats of the 9 coefficient-weighted window
    values with edge replication; mode uses the reference's
    first-to-reach-max-count tie rule in window scan order. Integer
    inputs with weight 1.0 make both outputs exact."""
    from gdal_spark.fixtures import BYTE20_SPEC, byte20_tiles
    from gdal_spark.operators.focal import neighbors
    from gdal_spark.operators.raster import as_features

    tiles = byte20_tiles(spark)
    med = as_features(neighbors(tiles, BYTE20_SPEC, kernel="equal", method="median", size=3), BYTE20_SPEC)
    mod = as_features(neighbors(tiles, BYTE20_SPEC, kernel="equal", method="mode", size=3), BYTE20_SPEC)
    return (
        med.select("py", "px", F.col("value").alias("med"))
        .join(mod.select("py", "px", F.col("value").alias("mod")), ["py", "px"])
        .select(
            F.col("py").cast("bigint").alias("py"),
            F.col("px").cast("bigint").alias("px"),
            F.col("med").cast("bigint").alias("median9"),
            F.col("mod").cast("bigint").alias("mode9"),
        )
    )


def _o_neighbors_stats() -> str:
    from gdal_spark.fixtures import BYTE20

    vals = ", ".join(f"({py},{px},{int(BYTE20[py, px])})" for py in range(20) for px in range(20))
    # window values in the reference scan order, clamped indices ==
    # edge replication
    terms = []
    for dy in (-1, 0, 1):
        for dx in (-1, 0, 1):
            terms.append(
                f"(SELECT v FROM pixels q WHERE q.py = LEAST(GREATEST(p.py + ({dy}), 0), 19) "
                f"AND q.px = LEAST(GREATEST(p.px + ({dx}), 0), 19))"
            )
    wlist = "[" + ", ".join(terms) + "]"
    return (
        f"WITH pixels AS (SELECT * FROM (VALUES {vals}) AS t(py, px, v)), "
        f"win AS (SELECT py, px, {wlist} AS w FROM pixels p), "
        # cnt[i] = occurrences of w[i] among w[1..i] (the running count
        # at scan step i); mode = w at the FIRST index attaining the
        # final max count — exactly FilterData's `>` update rule
        "cn AS (SELECT py, px, w, list_transform(generate_series(1, 9), "
        "i -> len(list_filter(w[1:i], x -> x = w[i]))) AS cnt FROM win) "
        "SELECT CAST(py AS BIGINT) AS py, CAST(px AS BIGINT) AS px, "
        "CAST(list_sort(w)[5] AS BIGINT) AS median9, "
        "CAST(w[list_position(cnt, list_max(cnt))] AS BIGINT) AS mode9 FROM cn"
    )


QUERIES["neighbors_stats"] = q_neighbors_stats
ORACLES["neighbors_stats"] = _o_neighbors_stats()


def q_alpha_unscale(spark, sf_dir):
    """`gdal raster nodata-to-alpha` + `unscale` composition over
    byte20: alpha band (0 where value==107 else 255) appended by the
    per-dataset mask rule, data band unscaled v*2 - 10 into float32 —
    both exact integers here."""
    from gdal_spark.fixtures import BYTE20_SPEC, byte20_tiles
    from gdal_spark.operators.raster import as_features
    from gdal_spark.operators.translate import nodata_to_alpha, unscale

    tiles = byte20_tiles(spark)
    with_alpha = nodata_to_alpha(tiles, BYTE20_SPEC, nodata=107.0)
    alpha_pix = as_features(with_alpha.filter(F.col("band") == 2), BYTE20_SPEC)
    un, dspec = unscale(tiles, BYTE20_SPEC, band_scale=2.0, band_offset=-10.0)
    un_pix = as_features(un, dspec)
    return (
        alpha_pix.select("py", "px", F.col("value").alias("alpha"))
        .join(un_pix.select("py", "px", F.col("value").alias("unscaled")), ["py", "px"])
        .select(
            F.col("py").cast("bigint").alias("py"),
            F.col("px").cast("bigint").alias("px"),
            F.col("alpha").cast("bigint").alias("alpha"),
            F.col("unscaled").cast("bigint").alias("unscaled"),
        )
    )


def _o_alpha_unscale() -> str:
    from gdal_spark.fixtures import BYTE20

    vals = ", ".join(f"({py},{px},{int(BYTE20[py, px])})" for py in range(20) for px in range(20))
    return (
        f"WITH pixels AS (SELECT * FROM (VALUES {vals}) AS t(py, px, v)) "
        "SELECT CAST(py AS BIGINT) AS py, CAST(px AS BIGINT) AS px, "
        "CAST(CASE WHEN v = 107 THEN 0 ELSE 255 END AS BIGINT) AS alpha, "
        "CAST(v * 2 - 10 AS BIGINT) AS unscaled FROM pixels"
    )


QUERIES["alpha_unscale"] = q_alpha_unscale
ORACLES["alpha_unscale"] = _o_alpha_unscale()


def q_make_point_swap(spark, sf_dir):
    """`gdal vector make-point` (string coordinate fields) chained
    into `gdal vector swap-xy`: points built from doc_id-derived
    text fields, every vertex X/Y-exchanged through the WKT
    round-trip, envelope re-extracted. x ends in .5 to pin the
    non-integral WKT number formatting branch."""
    from gdal_spark.operators.spatial import envelope_udf
    from gdal_spark.operators.vector_translate import make_point, swap_xy

    d = load(spark, sf_dir, "documents").select("doc_id")
    d = d.withColumn("xs", ((F.col("doc_id") % 360) - 180 + 0.5).cast("string"))
    d = d.withColumn("ys", (((F.col("doc_id") * 7) % 180) - 90).cast("double").cast("string"))
    pts = swap_xy(make_point(d, "xs", "ys"))
    env = pts.withColumn("_env", envelope_udf(F.col("wkt")))
    return env.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.floor(F.col("_env.minx") * 2).cast("bigint").alias("sx2"),
        F.floor(F.col("_env.miny") * 2).cast("bigint").alias("sy2"),
    )


def _o_make_point_swap() -> str:
    return (
        "SELECT CAST(doc_id AS BIGINT) AS doc_id, "
        "CAST(((doc_id * 7) % 180 - 90) * 2 AS BIGINT) AS sx2, "
        "CAST((doc_id % 360 - 180) * 2 + 1 AS BIGINT) AS sy2 "
        "FROM documents"
    )


QUERIES["make_point_swap"] = q_make_point_swap
ORACLES["make_point_swap"] = _o_make_point_swap()


def q_check_geometry(spark, sf_dir):
    """`gdal vector check-geometry`: per-doc synthetic geometries —
    a third are bowtie polygons (proper ring crossing), a third valid
    rectangles (emit nothing), a third carry a hole outside the shell
    — run through the IsValidDetail analog; output the reference's
    error layer (reason + invalid location)."""
    from gdal_spark.operators.check_geometry import check_geometry

    d = load(spark, sf_dir, "documents").select("doc_id")
    w = (F.col("doc_id") % 7 + 2).cast("bigint").cast("string")
    h = (F.col("doc_id") % 5 + 2).cast("bigint").cast("string")
    k = (F.col("doc_id") % 4 + 10).cast("bigint").cast("string")
    bowtie = F.concat(
        F.lit("POLYGON ((0 0,"), w, F.lit(" "), h, F.lit(","), w,
        F.lit(" 0,0 "), h, F.lit(",0 0))"),
    )
    rect = F.concat(F.lit("POLYGON ((0 0,"), w, F.lit(" 0,"), w, F.lit(" "),
                    h, F.lit(",0 "), h, F.lit(",0 0))"))
    holed = F.concat(
        F.lit("POLYGON ((0 0,4 0,4 4,0 4,0 0),("), k, F.lit(" "), k,
        F.lit(","), k, F.lit(" 5,5 "), k, F.lit(","), k, F.lit(" "), k, F.lit("))"),
    )
    m = F.col("doc_id") % 3
    d = d.withColumn("wkt", F.when(m == 0, bowtie).when(m == 1, rect).otherwise(holed))
    out = check_geometry(d)
    return out.select(
        F.col("id").cast("bigint").alias("doc_id"),
        "error",
        F.floor(F.col("loc_x") * 2).cast("bigint").alias("lx2"),
        F.floor(F.col("loc_y") * 2).cast("bigint").alias("ly2"),
    )


def _o_check_geometry() -> str:
    return (
        "SELECT CAST(doc_id AS BIGINT) AS doc_id, "
        "CASE WHEN doc_id % 3 = 0 THEN 'Self-intersection' "
        "ELSE 'Hole lies outside shell' END AS error, "
        # bowtie crossing = (w/2, h/2); hole-outside location = the
        # hole's first vertex (k, k)
        "CASE WHEN doc_id % 3 = 0 THEN CAST(doc_id % 7 + 2 AS BIGINT) "
        "ELSE (doc_id % 4 + 10) * 2 END AS lx2, "
        "CASE WHEN doc_id % 3 = 0 THEN CAST(doc_id % 5 + 2 AS BIGINT) "
        "ELSE (doc_id % 4 + 10) * 2 END AS ly2 "
        "FROM documents WHERE doc_id % 3 <> 1"
    )


QUERIES["check_geometry"] = q_check_geometry
ORACLES["check_geometry"] = _o_check_geometry()


def q_concave_hull(spark, sf_dir):
    """`gdal vector concave-hull` at ratio=1 (the convex-hull
    degenerate of the JTS edge-length-ratio erosion): per-doc
    MULTIPOINT sets of rectangle corners + strictly-interior points;
    the hull must come back as exactly the w x h rectangle — area and
    vertex count are closed-form."""
    from gdal_spark.operators.spatial import area_udf, envelope_udf
    from gdal_spark.operators.vector_translate import concave_hull_geom

    d = load(spark, sf_dir, "documents").select("doc_id")
    w = (F.col("doc_id") % 7 + 2).cast("bigint")
    h = (F.col("doc_id") % 5 + 2).cast("bigint")
    ws, hs = w.cast("string"), h.cast("string")

    def interior(i):
        px = ((F.col("doc_id") * 7 + i * 13) % (w * 4 - 4) + 1).cast("double") / 4
        py = ((F.col("doc_id") * 11 + i * 17) % (h * 4 - 4) + 1).cast("double") / 4
        return F.concat(px.cast("string"), F.lit(" "), py.cast("string"))

    mp = F.concat(
        F.lit("MULTIPOINT (0 0,"), ws, F.lit(" 0,"), ws, F.lit(" "), hs,
        F.lit(",0 "), hs, F.lit(","),
        interior(1), F.lit(","), interior(2), F.lit(","), interior(3), F.lit(")"),
    )
    hull = concave_hull_geom(d.withColumn("wkt", mp), ratio=1.0)
    out = hull.withColumn("_a", area_udf(F.col("wkt"))).withColumn(
        "_env", envelope_udf(F.col("wkt"))
    )
    return out.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.col("_a").cast("bigint").alias("hull_area"),
        (F.col("_env.maxx") - F.col("_env.minx")).cast("bigint").alias("hull_w"),
        (F.col("_env.maxy") - F.col("_env.miny")).cast("bigint").alias("hull_h"),
    )


def _o_concave_hull() -> str:
    return (
        "SELECT CAST(doc_id AS BIGINT) AS doc_id, "
        "CAST((doc_id % 7 + 2) * (doc_id % 5 + 2) AS BIGINT) AS hull_area, "
        "CAST(doc_id % 7 + 2 AS BIGINT) AS hull_w, "
        "CAST(doc_id % 5 + 2 AS BIGINT) AS hull_h FROM documents"
    )


QUERIES["concave_hull"] = q_concave_hull
ORACLES["concave_hull"] = _o_concave_hull()


def q_vector_combine(spark, sf_dir):
    """`gdal vector combine`: per-source grouping of doc-derived
    POINTs into one MULTIPOINT per group (order pinned by doc_id),
    with add-extra-fields=sometimes-identical copying `lang` only for
    groups where it is uniform. Envelope of the combined geometry +
    member count replay closed-form in SQL."""
    from gdal_spark.operators.spatial import envelope_udf
    from gdal_spark.relational import combine

    d = load(spark, sf_dir, "documents").select("doc_id", "source", "lang")
    x = (F.col("doc_id") % 89).cast("string")
    y = ((F.col("doc_id") * 3) % 97).cast("string")
    d = d.withColumn("wkt", F.concat(F.lit("POINT ("), x, F.lit(" "), y, F.lit(")")))
    out = combine(
        d, ["source"], order_col="doc_id",
        add_extra_fields="sometimes-identical", extra_fields=["lang"],
    )
    env = out.withColumn("_env", envelope_udf(F.col("wkt")))
    return env.select(
        "source",
        "lang",
        F.col("_env.minx").cast("bigint").alias("minx"),
        F.col("_env.maxx").cast("bigint").alias("maxx"),
        F.col("_env.miny").cast("bigint").alias("miny"),
        F.col("_env.maxy").cast("bigint").alias("maxy"),
    )


def _o_vector_combine() -> str:
    return (
        "SELECT source, "
        "CASE WHEN MIN(lang) = MAX(lang) THEN MIN(lang) END AS lang, "
        "CAST(MIN(doc_id % 89) AS BIGINT) AS minx, "
        "CAST(MAX(doc_id % 89) AS BIGINT) AS maxx, "
        "CAST(MIN((doc_id * 3) % 97) AS BIGINT) AS miny, "
        "CAST(MAX((doc_id * 3) % 97) AS BIGINT) AS maxy "
        "FROM documents GROUP BY source"
    )


QUERIES["vector_combine"] = q_vector_combine
ORACLES["vector_combine"] = _o_vector_combine()


def q_check_coverage(spark, sf_dir):
    """`gdal vector check-coverage`: a strip of 10-unit squares tiling
    edge-to-edge (a valid coverage) except every 5th square is 12
    wide, overlapping its right neighbor by 2 — both members of each
    overlapping pair must be flagged with exactly the 10-unit boundary
    portion that sits strictly inside the neighbor; exactly-shared
    edges must stay silent. Candidate pairs come from the ids-only
    cell self-join (the big x big path)."""
    from gdal_spark.operators.cells import Grid
    from gdal_spark.operators.coverage import check_coverage

    d = load(spark, sf_dir, "documents").select("doc_id")
    x0 = (F.col("doc_id") * 10).cast("bigint")
    w = F.when(F.col("doc_id") % 5 == 0, F.lit(12)).otherwise(F.lit(10))
    x1 = (x0 + w).cast("string")
    x0s = x0.cast("string")
    wkt = F.concat(
        F.lit("POLYGON (("), x0s, F.lit(" 0,"), x1, F.lit(" 0,"), x1,
        F.lit(" 10,"), x0s, F.lit(" 10,"), x0s, F.lit(" 0))"),
    )
    zones = d.select(F.col("doc_id").alias("fid"), wkt.alias("wkt"))
    grid = Grid(minx=0.0, miny=0.0, maxx=120000.0, maxy=10.0, nx=4096, ny=1)
    out = check_coverage(zones, grid)
    return out.select(
        F.col("fid").cast("bigint").alias("doc_id"),
        F.col("invalid_len").cast("bigint").alias("invalid_len"),
    )


def _o_check_coverage() -> str:
    return (
        "WITH mx AS (SELECT MAX(doc_id) AS m FROM documents) "
        "SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(10 AS BIGINT) AS invalid_len "
        "FROM documents, mx "
        "WHERE (doc_id % 5 = 0 AND doc_id < mx.m) OR (doc_id >= 1 AND (doc_id - 1) % 5 = 0)"
    )


QUERIES["check_coverage"] = q_check_coverage
ORACLES["check_coverage"] = _o_check_coverage()


def q_simplify_coverage(spark, sf_dir):
    """`gdal vector simplify-coverage`: a strip coverage of 10x10
    squares whose shared vertical edges carry a redundant collinear
    midpoint — coverage simplification must remove every midpoint
    IDENTICALLY on both sides (chains simplified once, spliced back)
    while the corner nodes pin: every output ring is exactly the
    4-corner square, area preserved."""
    from gdal_spark.operators.coverage import simplify_coverage
    from gdal_spark.operators.spatial import area_udf

    d = load(spark, sf_dir, "documents").select("doc_id")
    x0 = (F.col("doc_id") * 10).cast("bigint").cast("string")
    x1 = ((F.col("doc_id") + 1) * 10).cast("bigint").cast("string")
    wkt = F.concat(
        F.lit("POLYGON (("), x0, F.lit(" 0,"), x1, F.lit(" 0,"), x1,
        F.lit(" 5,"), x1, F.lit(" 10,"), x0, F.lit(" 10,"), x0,
        F.lit(" 5,"), x0, F.lit(" 0))"),
    )
    zones = d.select(F.col("doc_id").alias("fid"), wkt.alias("wkt"))
    out = simplify_coverage(zones, tolerance=1.0)
    return out.select(
        F.col("fid").cast("bigint").alias("doc_id"),
        (F.size(F.split(F.col("wkt"), ",")) - 1).cast("bigint").alias("n_verts"),
        area_udf(F.col("wkt")).cast("bigint").alias("area"),
    )


def _o_simplify_coverage() -> str:
    return (
        "SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(4 AS BIGINT) AS n_verts, "
        "CAST(100 AS BIGINT) AS area FROM documents"
    )


QUERIES["simplify_coverage"] = q_simplify_coverage
ORACLES["simplify_coverage"] = _o_simplify_coverage()


def q_raster_update(spark, sf_dir):
    """`gdal raster update`: a 10x10 patterned source raster
    positioned over byte20's center is warped (identity CRS, aligned
    grids -> nearest is bit-exact) INTO the existing raster; pixels
    under the source take its values, everything else is untouched."""
    import numpy as np

    from gdal_spark.fixtures import BYTE20_SPEC, byte20_tiles
    from gdal_spark.geom.proj import Pipeline
    from gdal_spark.operators.raster import RasterSpec, as_features
    from gdal_spark.operators.update import raster_update

    gt = BYTE20_SPEC.gt
    sgt = (gt[0] + 5 * gt[1], gt[1], 0.0, gt[3] + 5 * gt[5], 0.0, gt[5])
    src_spec = RasterSpec(width=10, height=10, gt=sgt, dtype="uint8", nbands=1, tile_size=16)
    arr = (np.arange(100, dtype=np.uint8).reshape(10, 10) * 2 + 3) % 251
    src = spark.createDataFrame(
        [(1, 0, 0, 10, 10, "uint8", tilecodec.encode(arr))],
        "band int, ty int, tx int, h int, w int, dtype string, payload binary",
    )
    out = raster_update(byte20_tiles(spark), BYTE20_SPEC, src, src_spec, Pipeline())
    pix = as_features(out, BYTE20_SPEC)
    return pix.select(
        F.col("py").cast("bigint").alias("py"),
        F.col("px").cast("bigint").alias("px"),
        F.col("value").cast("bigint").alias("value"),
    )


def _o_raster_update() -> str:
    from gdal_spark.fixtures import BYTE20

    vals = ", ".join(f"({py},{px},{int(BYTE20[py, px])})" for py in range(20) for px in range(20))
    return (
        f"WITH pixels AS (SELECT * FROM (VALUES {vals}) AS t(py, px, v)) "
        "SELECT CAST(py AS BIGINT) AS py, CAST(px AS BIGINT) AS px, "
        "CAST(CASE WHEN py BETWEEN 5 AND 14 AND px BETWEEN 5 AND 14 "
        "THEN (((py - 5) * 10 + (px - 5)) * 2 + 3) % 251 ELSE v END AS BIGINT) AS value "
        "FROM pixels"
    )


QUERIES["raster_update"] = q_raster_update
ORACLES["raster_update"] = _o_raster_update()


def q_clean_coverage(spark, sf_dir):
    """`gdal vector clean-coverage` (overlap resolution): the same
    strip coverage as check_coverage (every 5th square 2 units too
    wide) — after cleaning with the longest-border strategy (tie ->
    lower fid keeps the overlap) the wide square keeps area 120, its
    right neighbor shrinks to 80, everyone else stays 100, and the
    total is preserved."""
    from gdal_spark.operators.coverage import clean_coverage
    from gdal_spark.operators.spatial import area_udf

    d = load(spark, sf_dir, "documents").select("doc_id")
    x0 = (F.col("doc_id") * 10).cast("bigint")
    w = F.when(F.col("doc_id") % 5 == 0, F.lit(12)).otherwise(F.lit(10))
    x1 = (x0 + w).cast("string")
    x0s = x0.cast("string")
    wkt = F.concat(
        F.lit("POLYGON (("), x0s, F.lit(" 0,"), x1, F.lit(" 0,"), x1,
        F.lit(" 10,"), x0s, F.lit(" 10,"), x0s, F.lit(" 0))"),
    )
    zones = d.select(F.col("doc_id").alias("fid"), wkt.alias("wkt"))
    out = clean_coverage(zones, merge_strategy="longest-border")
    return out.select(
        F.col("fid").cast("bigint").alias("doc_id"),
        area_udf(F.col("wkt")).cast("bigint").alias("area"),
    )


def _o_clean_coverage() -> str:
    return (
        "WITH mx AS (SELECT MAX(doc_id) AS m FROM documents) "
        "SELECT CAST(doc_id AS BIGINT) AS doc_id, "
        "CAST(CASE WHEN doc_id % 5 = 0 AND doc_id < mx.m THEN 120 "
        "WHEN doc_id >= 1 AND (doc_id - 1) % 5 = 0 THEN 80 "
        "WHEN doc_id % 5 = 0 THEN 120 "
        "ELSE 100 END AS BIGINT) AS area FROM documents, mx"
    )


QUERIES["clean_coverage"] = q_clean_coverage
ORACLES["clean_coverage"] = _o_clean_coverage()


def q_mdim_mosaic(spark, sf_dir):
    """`gdal mdim mosaic`: two 4x6 arrays whose indexing variables
    place the second at lattice offset (2, 4) — union extent 6x10,
    later source wins on the overlap, nodata -1 fills the uncovered
    corners. Every output cell replays closed-form."""
    import numpy as np

    from gdal_spark.operators.multidim import MDArraySpec, from_numpy, mdim_mosaic

    a = (np.arange(24, dtype=np.float64) * 3 + 1).reshape(4, 6)
    b = (np.arange(24, dtype=np.float64) * 7 + 2).reshape(4, 6)
    sa = MDArraySpec("a", (("y", 4), ("x", 6)), (2, 3))
    sb = MDArraySpec("b", (("y", 4), ("x", 6)), (2, 3))
    out_df, out_spec = mdim_mosaic(
        [(from_numpy(spark, a, sa), sa, (0.0, 0.0)),
         (from_numpy(spark, b, sb), sb, (2.0, 4.0))],
        (1.0, 1.0), nodata=-1.0,
    )
    cy, cx = out_spec.chunks

    def _cells(batches):
        import pandas as pd

        for pdf in batches:
            rows = {"y": [], "x": [], "value": []}
            for _, r in pdf.iterrows():
                ci = list(r["chunk"])
                h = min((ci[0] + 1) * cy, out_spec.dims[0][1]) - ci[0] * cy
                w = min((ci[1] + 1) * cx, out_spec.dims[1][1]) - ci[1] * cx
                block = tilecodec.decode(r["payload"], "float64", (h, w), ci)
                for yy in range(h):
                    for xx in range(w):
                        rows["y"].append(ci[0] * cy + yy)
                        rows["x"].append(ci[1] * cx + xx)
                        rows["value"].append(float(block[yy, xx]))
            import pandas as _pd

            yield _pd.DataFrame(rows)

    cells = out_df.mapInPandas(_cells, "y long, x long, value double")
    return cells.select(
        F.col("y").cast("bigint").alias("y"),
        F.col("x").cast("bigint").alias("x"),
        F.col("value").cast("bigint").alias("value"),
    )


def _o_mdim_mosaic() -> str:
    return (
        "WITH g AS (SELECT y, x FROM (SELECT unnest(generate_series(0, 5)) AS y), "
        "(SELECT unnest(generate_series(0, 9)) AS x)) "
        "SELECT CAST(y AS BIGINT) AS y, CAST(x AS BIGINT) AS x, CAST("
        "CASE WHEN y BETWEEN 2 AND 5 AND x BETWEEN 4 AND 9 "
        "THEN ((y - 2) * 6 + (x - 4)) * 7 + 2 "
        "WHEN y BETWEEN 0 AND 3 AND x BETWEEN 0 AND 5 THEN (y * 6 + x) * 3 + 1 "
        "ELSE -1 END AS BIGINT) AS value FROM g"
    )


QUERIES["mdim_mosaic"] = q_mdim_mosaic
ORACLES["mdim_mosaic"] = _o_mdim_mosaic()


def q_mdim_reproject(spark, sf_dir):
    """`gdal mdim reproject` (apps/gdalalg_mdim_reproject.cpp): the
    time=1 plane of a deterministic 2x12x10 array, nearest-downsampled
    2x onto a 6x5 grid via the distributed GridTMS warp driver — every
    output cell is the closed-form src pick arr[1, 2y+1, 2x+1]."""
    import numpy as np

    from gdal_spark.geom.proj import Pipeline
    from gdal_spark.operators.multidim import MDArraySpec, from_numpy, mdim_reproject
    from gdal_spark.operators.raster import RasterSpec

    t = np.arange(2, dtype=np.float64)[:, None, None] * 1000.0
    y = np.arange(12, dtype=np.float64)[None, :, None] * 31.0
    x = np.arange(10, dtype=np.float64)[None, None, :] * 7.0
    arr = t + y + x
    spec = MDArraySpec("temp", (("time", 2), ("y", 12), ("x", 10)), (1, 4, 4))
    dst = RasterSpec(width=5, height=6, gt=(0.0, 2.0, 0.0, 12.0, 0.0, -2.0),
                     dtype="float64", nbands=1, tile_size=4)
    out_df, out_spec = mdim_reproject(
        from_numpy(spark, arr, spec), spec, "y", "x",
        (0.0, 1.0, 0.0, 12.0, 0.0, -1.0), Pipeline(), dst,
        resampling="near", fixed={"time": 1},
    )
    cy, cx = out_spec.chunks

    def _cells(batches):
        import pandas as _pd

        for pdf in batches:
            rows = {"y": [], "x": [], "value": []}
            for _, r in pdf.iterrows():
                ci = list(r["chunk"])
                h = min((ci[0] + 1) * cy, out_spec.dims[0][1]) - ci[0] * cy
                w = min((ci[1] + 1) * cx, out_spec.dims[1][1]) - ci[1] * cx
                block = tilecodec.decode(r["payload"], "float64", (h, w), ci)
                for yy in range(h):
                    for xx in range(w):
                        rows["y"].append(ci[0] * cy + yy)
                        rows["x"].append(ci[1] * cx + xx)
                        rows["value"].append(float(block[yy, xx]))
            yield _pd.DataFrame(rows)

    cells = out_df.mapInPandas(_cells, "y long, x long, value double")
    return cells.select(
        F.col("y").cast("bigint").alias("y"),
        F.col("x").cast("bigint").alias("x"),
        F.col("value").cast("bigint").alias("value"),
    )


def _o_mdim_reproject() -> str:
    return (
        "WITH g AS (SELECT y, x FROM (SELECT unnest(generate_series(0, 5)) AS y), "
        "(SELECT unnest(generate_series(0, 4)) AS x)) "
        "SELECT CAST(y AS BIGINT) AS y, CAST(x AS BIGINT) AS x, "
        "CAST(1000 + (2 * y + 1) * 31 + (2 * x + 1) * 7 AS BIGINT) AS value FROM g"
    )


QUERIES["mdim_reproject"] = q_mdim_reproject
ORACLES["mdim_reproject"] = _o_mdim_reproject()


def q_mdim_transpose(spark, sf_dir):
    """GDALMDArray::Transpose (gdalmultidim_array_transposed.cpp):
    axes (2,0,1) on a deterministic 3x4x5 cube arr[t,y,x] =
    100t + 10y + x — map-only chunk permutation, every output cell
    replays closed-form as value[a,b,c] = 100b + 10c + a."""
    import numpy as np

    from gdal_spark.operators.multidim import MDArraySpec, from_numpy, mdim_transpose

    t = np.arange(3, dtype=np.float64)[:, None, None] * 100.0
    y = np.arange(4, dtype=np.float64)[None, :, None] * 10.0
    x = np.arange(5, dtype=np.float64)[None, None, :]
    spec = MDArraySpec("cube", (("time", 3), ("y", 4), ("x", 5)), (2, 2, 2))
    out_df, out_spec = mdim_transpose(from_numpy(spark, t + y + x, spec), spec, (2, 0, 1))
    ca, cb, cc = out_spec.chunks

    def _cells(batches):
        import pandas as _pd

        for pdf in batches:
            rows = {"a": [], "b": [], "c": [], "value": []}
            for _, r in pdf.iterrows():
                ci = list(r["chunk"])
                shape = out_spec.chunk_shape(ci)
                block = tilecodec.decode(r["payload"], "float64", tuple(shape), ci)
                for aa in range(shape[0]):
                    for bb in range(shape[1]):
                        for cc2 in range(shape[2]):
                            rows["a"].append(ci[0] * ca + aa)
                            rows["b"].append(ci[1] * cb + bb)
                            rows["c"].append(ci[2] * cc + cc2)
                            rows["value"].append(float(block[aa, bb, cc2]))
            yield _pd.DataFrame(rows)

    cells = out_df.mapInPandas(_cells, "a long, b long, c long, value double")
    return cells.select(
        F.col("a").cast("bigint").alias("a"),
        F.col("b").cast("bigint").alias("b"),
        F.col("c").cast("bigint").alias("c"),
        F.col("value").cast("bigint").alias("value"),
    )


def _o_mdim_transpose() -> str:
    return (
        "WITH g AS (SELECT a, b, c FROM (SELECT unnest(generate_series(0, 4)) AS a), "
        "(SELECT unnest(generate_series(0, 2)) AS b), "
        "(SELECT unnest(generate_series(0, 3)) AS c)) "
        "SELECT CAST(a AS BIGINT) AS a, CAST(b AS BIGINT) AS b, "
        "CAST(c AS BIGINT) AS c, CAST(100 * b + 10 * c + a AS BIGINT) AS value FROM g"
    )


QUERIES["mdim_transpose"] = q_mdim_transpose
ORACLES["mdim_transpose"] = _o_mdim_transpose()


def q_mdim_compare(spark, sf_dir):
    """`gdal mdim compare` (gdalalg_mdim_compare.cpp CompareArray):
    6x10 uint8 lattice vs a copy whose first 15 row-major cells are
    +2 — the distributive diff metrics come out integral by
    construction (sum d^2 = 60 over 60 px -> RMSD exactly 1)."""
    import numpy as np

    from gdal_spark.operators.multidim import MDArraySpec, from_numpy, mdim_compare

    spec = MDArraySpec("b", (("y", 6), ("x", 10)), (3, 4), dtype="uint8")
    a = (np.arange(60, dtype=np.uint8)).reshape(6, 10)
    other = a.copy().reshape(-1)
    other[:15] += 2
    other = other.reshape(6, 10)
    out = mdim_compare(
        from_numpy(spark, a, spec), spec, from_numpy(spark, other, spec), spec
    )
    return spark.createDataFrame(
        [(int(out["n_pixels"]), int(out["pixels_differing"]),
          int(out["max_diff"]), int(out["rmsd"]))],
        "n_pixels bigint, pixels_differing bigint, max_diff bigint, rmsd bigint",
    )


def _o_mdim_compare() -> str:
    return (
        "SELECT CAST(60 AS BIGINT) AS n_pixels, CAST(15 AS BIGINT) AS pixels_differing, "
        "CAST(2 AS BIGINT) AS max_diff, "
        "CAST(sqrt(15 * 4.0 / 60) AS BIGINT) AS rmsd"
    )


QUERIES["mdim_compare"] = q_mdim_compare
ORACLES["mdim_compare"] = _o_mdim_compare()


def q_pixel_info(spark, sf_dir):
    """`gdal raster pixel-info` (gdalalg_raster_pixel_info.cpp:716-948):
    12x10 raster value = 10*line + pixel, queried at (column, line) =
    (2p + 0.5, 3p + 0.5) for p = 0..4 — p <= 3 in-raster (nearest pick
    = 30p + 2p = 32p... computed closed-form), p = 4 off-raster ->
    NULL value with coordinates preserved."""
    import numpy as np

    from gdal_spark.operators.grid import pixel_info
    from gdal_spark.operators.raster import RasterSpec

    spec = RasterSpec(width=10, height=12, gt=(500.0, 2.0, 0.0, 800.0, 0.0, -2.0),
                      dtype="uint8", nbands=1, tile_size=8)
    arr = (np.arange(12, dtype=np.uint8)[:, None] * 10 + np.arange(10, dtype=np.uint8)[None, :])
    rows = []
    for ty in range(spec.ntiles_y):
        for tx in range(spec.ntiles_x):
            h, w = spec.tile_shape(ty, tx)
            oy, ox = ty * spec.tile_size, tx * spec.tile_size
            rows.append((1, ty, tx, h, w, "uint8",
                         tilecodec.encode(arr[oy:oy + h, ox:ox + w])))
    tiles = spark.createDataFrame(
        rows, "band int, ty int, tx int, h int, w int, dtype string, payload binary"
    )
    pts = spark.range(5).select(
        F.col("id").alias("pid"),
        (F.lit(500.0) + (F.col("id") * 2 + 0.5) * 2.0).alias("x"),
        (F.lit(800.0) - (F.col("id") * 3 + 0.5) * 2.0).alias("y"),
    )
    out = pixel_info(tiles, spec, pts, scales={1: 2.0}, offsets={1: 5.0})
    return out.select(
        F.col("pid").cast("bigint").alias("pid"),
        F.col("pixel").cast("bigint").alias("pixel"),
        F.col("line_cell").cast("bigint").alias("line_cell"),
        F.col("band").cast("bigint").alias("band"),
        F.col("raw_value").cast("bigint").alias("raw_value"),
        F.col("unscaled_value").cast("bigint").alias("unscaled_value"),
    )


def _o_pixel_info() -> str:
    return (
        "WITH p AS (SELECT unnest(generate_series(0, 4)) AS pid) "
        "SELECT CAST(pid AS BIGINT) AS pid, CAST(2 * pid AS BIGINT) AS pixel, "
        "CAST(3 * pid AS BIGINT) AS line_cell, CAST(1 AS BIGINT) AS band, "
        "CAST(CASE WHEN 3 * pid < 12 AND 2 * pid < 10 THEN 30 * pid + 2 * pid END AS BIGINT) AS raw_value, "
        "CAST(CASE WHEN 3 * pid < 12 AND 2 * pid < 10 THEN (30 * pid + 2 * pid) * 2 + 5 END AS BIGINT) AS unscaled_value "
        "FROM p"
    )


QUERIES["pixel_info"] = q_pixel_info
ORACLES["pixel_info"] = _o_pixel_info()


def q_vector_partition_flat(spark, sf_dir):
    """`gdal vector partition --scheme=flat`
    (apps/gdalalg_vector_partition.cpp:35 DEFAULT_PATTERN_FLAT,
    :461-469 FIELD_VALUE, :477-505 counter slot): orders split by
    o_orderpriority into ONE directory of pattern-named parquet parts,
    partitioned field KEPT in the data (the flat default). Repartition
    by the key first so each key lands in exactly one part file
    (deterministic counter = 1). FIELD_VALUE inherits Spark's hive
    partition escaping, which agrees with the reference's
    PercentEncode (:238-252, c<=32 and %=/:\\> escape as %XX) on the
    chars that occur in practice — '4-NOT SPECIFIED' ->
    '4-NOT%20SPECIFIED' in BOTH engines. Output: the flat file name
    Spark actually wrote + per-file row count/key-span read back
    through the parquet scan's _metadata.file_name."""
    import tempfile

    from gdal_spark.relational import partition_write

    df = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .select("o_orderkey", "o_orderpriority")
        .repartition(F.col("o_orderpriority"))
    )
    path = tempfile.mkdtemp(prefix="gdal_spark_vpart_")
    partition_write(df, path, ["o_orderpriority"], scheme="flat",
                    layer_name="orders")
    back = spark.read.parquet(path).select(
        F.col("_metadata.file_name").alias("file"),
        "o_orderkey", "o_orderpriority",
    )
    return (
        back.groupBy("file")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("o_orderpriority").alias("priority"),
            F.max("o_orderpriority").alias("priority_max"),
            F.sum("o_orderkey").alias("sum_keys"),
        )
        .orderBy("file")
    )


def _o_vector_partition_flat() -> str:
    return (
        "SELECT 'orders_' || replace(o_orderpriority, ' ', '%20') "
        "|| '_0000000001.parquet' AS file, "
        "CAST(COUNT(*) AS BIGINT) AS n_rows, "
        "o_orderpriority AS priority, o_orderpriority AS priority_max, "
        "CAST(SUM(o_orderkey) AS BIGINT) AS sum_keys "
        "FROM orders GROUP BY o_orderpriority ORDER BY file"
    )


QUERIES["vector_partition_flat"] = q_vector_partition_flat
ORACLES["vector_partition_flat"] = _o_vector_partition_flat()


def q_sozip_roundtrip(spark, sf_dir):
    """`gdal vsi sozip` sink (cpl_minizip_zip.cpp:2380-2600,
    cpl_vsil_gzip.cpp:2240-2300): one archive member per source, its
    content the newline-joined doc texts in doc_id order. Chunks
    deflate on EXECUTORS (fresh raw-deflate stream per 32 KiB chunk,
    SYNC+FULL flush markers), the driver streams the sorted chunk
    iterator into the zip and builds the hidden .sozip.idx members.
    The result is read back through stdlib zipfile — an INDEPENDENT
    reader that must see only the data members (the index members are
    excluded from the central directory) — and hashed. Output:
    (member, n_bytes, body_md5) per member."""
    import tempfile
    import zipfile

    from gdal_spark.operators.sozip import write_sozip

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    members = (
        docs.orderBy("doc_id")
        .groupBy("source")
        .agg(
            F.concat_ws(
                "\n", F.array_sort(F.collect_list(F.struct("doc_id", "text"))).getField("text")
            ).alias("body")
        )
        .select(
            F.concat(F.col("source"), F.lit(".txt")).alias("name"),
            F.encode("body", "UTF-8").alias("data"),
        )
    )
    path = tempfile.mktemp(suffix=".zip", prefix="gdal_spark_sozip_")
    write_sozip(members, path, min_file_size=0)
    out = []
    with zipfile.ZipFile(path) as zf:
        for name in zf.namelist():
            body = zf.read(name)
            import hashlib

            out.append((name, len(body), hashlib.md5(body).hexdigest()))
    return (
        spark.createDataFrame(out, "member string, n_bytes long, body_md5 string")
        .orderBy("member")
    )


def _o_sozip_roundtrip() -> str:
    return (
        "SELECT source || '.txt' AS member, "
        "CAST(octet_length(CAST(body AS BLOB)) AS BIGINT) AS n_bytes, md5(body) AS body_md5 "
        "FROM (SELECT source, string_agg(text, chr(10) ORDER BY doc_id) AS body "
        "FROM documents GROUP BY source) ORDER BY member"
    )


QUERIES["sozip_roundtrip"] = q_sozip_roundtrip
ORACLES["sozip_roundtrip"] = _o_sozip_roundtrip()


def q_raster_info(spark, sf_dir):
    """`gdal raster info -stats` (gcore/rasterband.cpp
    ComputeStatistics, exact path): per-band full-raster min/max/mean/
    population-stddev as distributive per-tile partials + a Catalyst
    fold of absent sparse tiles at spec.init. Fixed-point mean1000/
    std1000 follow the multidim_stats convention."""
    from gdal_spark.fixtures import BYTE20_SPEC, byte20_tiles
    from gdal_spark.operators.info import raster_info

    inf = raster_info(byte20_tiles(spark), BYTE20_SPEC)
    return inf.select(
        F.col("band").cast("bigint").alias("band"),
        F.col("width").cast("bigint").alias("width"),
        F.col("height").cast("bigint").alias("height"),
        F.col("n_px").cast("bigint").alias("n_px"),
        F.col("min").cast("bigint").alias("mn"),
        F.col("max").cast("bigint").alias("mx"),
        F.floor(F.col("mean") * 1000 + 0.5).cast("bigint").alias("mean1000"),
        F.floor(F.col("stddev") * 1000 + 0.5).cast("bigint").alias("std1000"),
    )


def _o_raster_info() -> str:
    return (
        f"WITH b AS (SELECT v FROM (VALUES {_byte20_vals_sql()}) AS t(py, px, v)) "
        "SELECT CAST(1 AS BIGINT) AS band, CAST(20 AS BIGINT) AS width, "
        "CAST(20 AS BIGINT) AS height, CAST(400 AS BIGINT) AS n_px, "
        "CAST(MIN(v) AS BIGINT) AS mn, CAST(MAX(v) AS BIGINT) AS mx, "
        "CAST(floor(SUM(CAST(v AS DOUBLE)) / 400 * 1000 + 0.5) AS BIGINT) AS mean1000, "
        "CAST(floor(sqrt(GREATEST(SUM(CAST(v AS DOUBLE) * v) / 400 - "
        "(SUM(CAST(v AS DOUBLE)) / 400) * (SUM(CAST(v AS DOUBLE)) / 400), 0)) * 1000 + 0.5) AS BIGINT) AS std1000 "
        "FROM b"
    )


QUERIES["raster_info"] = q_raster_info
ORACLES["raster_info"] = _o_raster_info()


def q_vector_info(spark, sf_dir):
    """`gdal vector info` summary (apps/ogrinfo_lib.cpp ReportOnLayer):
    feature count, geometry-type breakdown from the WKT tag, layer
    extent — here via the WKT-token parse path (no envelope columns),
    all pure Catalyst."""
    from gdal_spark.operators.info import vector_info

    g = docs_geom(spark, sf_dir).filter(
        F.col("geom_error").isNull() & F.col("wkt").isNotNull()
    )
    inf = vector_info(g, wkt_col="wkt")
    return inf.select(
        F.col("n_features").cast("bigint").alias("n_features"),
        F.col("n_points").cast("bigint").alias("n_points"),
        F.col("n_polygons").cast("bigint").alias("n_polygons"),
        F.col("minx").cast("bigint").alias("minx"),
        F.col("miny").cast("bigint").alias("miny"),
        F.col("maxx").cast("bigint").alias("maxx"),
        F.col("maxy").cast("bigint").alias("maxy"),
    )


def _o_vector_info() -> str:
    return (
        f"WITH g AS ({docs_g_cte()}) "
        "SELECT CAST(COUNT(*) AS BIGINT) AS n_features, "
        "CAST(SUM(CASE WHEN NOT is_poly THEN 1 ELSE 0 END) AS BIGINT) AS n_points, "
        "CAST(SUM(CASE WHEN is_poly THEN 1 ELSE 0 END) AS BIGINT) AS n_polygons, "
        "CAST(MIN(CASE WHEN is_poly THEN gx - half ELSE gx END) AS BIGINT) AS minx, "
        "CAST(MIN(CASE WHEN is_poly THEN gy - half ELSE gy END) AS BIGINT) AS miny, "
        "CAST(MAX(CASE WHEN is_poly THEN gx + half ELSE gx END) AS BIGINT) AS maxx, "
        "CAST(MAX(CASE WHEN is_poly THEN gy + half ELSE gy END) AS BIGINT) AS maxy "
        "FROM g WHERE valid"
    )


QUERIES["vector_info"] = q_vector_info
ORACLES["vector_info"] = _o_vector_info()


def q_overview_refresh(spark, sf_dir):
    """`gdal raster overview refresh --bbox`
    (gdalalg_raster_overview_refresh.cpp PartialRefresh :68-112):
    incremental pyramid maintenance — a closed-form 32x32 uint8 base
    is updated inside a dirty pixel window, the STALE overview (built
    from the pre-update base) is refreshed through overview_refresh
    (children-of-affected-parents key-range filter + anti-join
    pass-through of untouched parents), and the result must equal the
    updated base's true overview: the oracle replays base update +
    integer (sum+2)//4 downsample + per-overview-tile sums in SQL. A
    stale parent wrongly kept (or a fresh one wrongly dropped) shifts
    its tile sum."""
    import numpy as np

    from gdal_spark.operators.overview_refresh import overview_refresh
    from gdal_spark.operators.tiles import overview_level

    TS, N = 8, 32
    i = np.arange(N)
    old = ((i[:, None] * 31 + i[None, :] * 7) % 97).astype(np.uint8)
    new = old.copy()
    new[5:16, 9:23] = ((new[5:16, 9:23].astype(np.int64) + 50) % 97).astype(np.uint8)

    def tiles(a):
        rows = [
            (2, ty, tx, 1, "uint8",
             tilecodec.encode(a[ty * TS:(ty + 1) * TS, tx * TS:(tx + 1) * TS]))
            for ty in range(N // TS) for tx in range(N // TS)
        ]
        return spark.createDataFrame(
            rows, "z int, ty int, tx int, band int, dtype string, payload binary"
        )

    stale = overview_level(tiles(old), tile_size=TS)
    fresh = overview_refresh(tiles(new), stale, (9, 5, 14, 11), tile_size=TS)

    import pandas as pd

    def _sums(batches):
        for pdf in batches:
            out = []
            for r in pdf.itertuples(index=False):
                a = tilecodec.decode_row(r, TS)
                out.append({"ty": int(r.ty), "tx": int(r.tx), "sum_v": int(a.sum())})
            yield pd.DataFrame(out, columns=["ty", "tx", "sum_v"])

    return (
        fresh.mapInPandas(_sums, "ty long, tx long, sum_v long")
        .orderBy("ty", "tx")
    )


def _o_overview_refresh() -> str:
    return (
        "WITH b AS (SELECT i.range AS y, j.range AS x, "
        "CASE WHEN j.range BETWEEN 9 AND 22 AND i.range BETWEEN 5 AND 15 "
        "THEN ((i.range * 31 + j.range * 7) % 97 + 50) % 97 "
        "ELSE (i.range * 31 + j.range * 7) % 97 END AS v "
        "FROM range(0, 32) i, range(0, 32) j), "
        "o AS (SELECT y // 2 AS p, x // 2 AS q, (SUM(v) + 2) // 4 AS v "
        "FROM b GROUP BY y // 2, x // 2) "
        "SELECT CAST(p // 8 AS BIGINT) AS ty, CAST(q // 8 AS BIGINT) AS tx, "
        "CAST(SUM(v) AS BIGINT) AS sum_v FROM o GROUP BY p // 8, q // 8 "
        "ORDER BY ty, tx"
    )


QUERIES["overview_refresh"] = q_overview_refresh
ORACLES["overview_refresh"] = _o_overview_refresh()


def q_layer_algebra_cells(spark, sf_dir):
    """Big x big cell-partitioned layer algebra Intersection
    (operators/layer_algebra.py layer_algebra_cells — the no-broadcast
    scale path over spatial_join_cells' candidate machinery, geometry
    re-joined by id with the final exchange keyed on doc_id). Square
    doc polygons x the 8 RECTANGULAR zones: every intersection piece
    is an axis-parallel rectangle whose area the oracle computes in
    closed form — a wrong pair set, a dropped piece, or a wrong
    overlay result all shift (doc, zone, area) rows."""
    from gdal_spark.operators.cells import BYTE20_GRID
    from gdal_spark.operators.layer_algebra import layer_algebra_cells
    from gdal_spark.operators.spatial import area_udf

    g = docs_geom(spark, sf_dir).filter(
        F.col("geom_error").isNull() & (F.col("env_minx") < F.col("env_maxx"))
    )
    zones = zones_table(spark).filter(F.col("fid") <= 7)
    pieces = layer_algebra_cells(g, zones, BYTE20_GRID, op="intersection")
    return pieces.select(
        "doc_id",
        F.col("method_fid").cast("bigint").alias("method_fid"),
        F.floor(area_udf(F.col("wkt")) + 0.5).cast("bigint").alias("area"),
    )


def _o_layer_algebra_cells() -> str:
    rows = []
    for fid in range(8):
        minx, miny, maxx, maxy = _zone_env(fid)
        rows.append(f"({fid}, {minx}, {miny}, {maxx}, {maxy})")
    return (
        f"WITH g AS ({docs_g_cte()}), "
        "p AS (SELECT doc_id, gx, gy, half FROM g WHERE valid AND is_poly), "
        "z AS (SELECT * FROM (VALUES " + ", ".join(rows) + ") AS z(fid, minx, miny, maxx, maxy)) "
        "SELECT p.doc_id, CAST(z.fid AS BIGINT) AS method_fid, "
        "CAST((LEAST(gx + half, maxx) - GREATEST(gx - half, minx)) * "
        "(LEAST(gy + half, maxy) - GREATEST(gy - half, miny)) AS BIGINT) AS area "
        "FROM p, z "
        "WHERE LEAST(gx + half, maxx) > GREATEST(gx - half, minx) "
        "AND LEAST(gy + half, maxy) > GREATEST(gy - half, miny)"
    )


QUERIES["layer_algebra_cells"] = q_layer_algebra_cells
ORACLES["layer_algebra_cells"] = _o_layer_algebra_cells()


def q_vector_sort_hilbert(spark, sf_dir):
    """`gdal vector sort --method hilbert`
    (apps/gdalalg_vector_sort.cpp:302 GDALVectorHilbertSortLayer):
    every valid doc geometry's traversal position = ascending
    GDALHilbertCode of its envelope center scaled into the LAYER
    extent (alg/hilbert.cpp:81-91), ties by doc_id. The oracle
    recomputes the extent, the round()-quantization and the full bit
    chain (hilbert_chain_ctes) in SQL, then ranks — so a wrong extent
    merge, a floor-vs-round slip, or any drifted chain step shifts
    (doc_id, hcode, seq) rows."""
    from gdal_spark.operators.vector_sort import hilbert_sort

    g = docs_geom(spark, sf_dir).filter(
        F.col("geom_error").isNull() & F.col("wkt").isNotNull()
    ).select(F.col("_id").alias("doc_id"), "env_minx", "env_miny", "env_maxx", "env_maxy")
    out = hilbert_sort(g, id_col="doc_id")
    return out.select(
        "doc_id", F.col("hcode").cast("bigint").alias("hcode"),
        F.col("seq").cast("bigint").alias("seq"),
    )


def _o_vector_sort_hilbert() -> str:
    # extent over valid docs' envelopes (gx +- half, exact integers),
    # then the identical double expression 65534*(c-min)/extent both
    # sides -> bit-identical quantization
    q = "CAST(round(65534.0 * ({c} - ext.{m}) / ext.{w}) AS BIGINT)"
    t0 = (
        "SELECT doc_id, "
        + q.format(c="gx", m="x0", w="w") + " AS x, "
        + q.format(c="gy", m="y0", w="h") + " AS y "
        "FROM v, ext"
    )
    return (
        f"WITH g AS ({docs_g_cte()}), "
        "v AS (SELECT doc_id, CAST(gx AS DOUBLE) AS gx, CAST(gy AS DOUBLE) AS gy, "
        "gx - half AS x0e, gy - half AS y0e, gx + half AS x1e, gy + half AS y1e "
        "FROM g WHERE valid), "
        "ext AS (SELECT CAST(MIN(x0e) AS DOUBLE) AS x0, CAST(MIN(y0e) AS DOUBLE) AS y0, "
        "CAST(MAX(x1e) - MIN(x0e) AS DOUBLE) AS w, CAST(MAX(y1e) - MIN(y0e) AS DOUBLE) AS h FROM v), "
        + hilbert_chain_ctes(t0, out_col="hcode")
        + " SELECT doc_id, hcode, "
        "CAST(row_number() OVER (ORDER BY hcode, doc_id) - 1 AS BIGINT) AS seq FROM hcodes"
    )


QUERIES["vector_sort_hilbert"] = q_vector_sort_hilbert
ORACLES["vector_sort_hilbert"] = _o_vector_sort_hilbert()


def q_vector_sort_strtree(spark, sf_dir):
    """`gdal vector sort --method strtree`
    (apps/gdalalg_vector_sort.cpp:393 GDALVectorSTRTreeSortLayer,
    GEOSSTRtree capacity 10): leaf-traversal order of the STR
    bulk-load over the first 60 valid doc envelopes (fixed n so the
    tree depth — 6 leaves, one root — is known and the oracle can
    replay BOTH packing levels with window functions: x-rank ->
    3 slices of 20 -> per-slice y-rank -> capacity-10 leaves ->
    leaf-center y-order as root child order). A wrong slice count,
    slice capacity, y-ordering, envelope union, or traversal
    composition permutes (doc_id, seq)."""
    from gdal_spark.operators.vector_sort import strtree_sort

    g = (
        docs_geom(spark, sf_dir)
        .filter(F.col("geom_error").isNull() & F.col("wkt").isNotNull())
        .select(F.col("_id").alias("doc_id"), "env_minx", "env_miny", "env_maxx", "env_maxy")
        .orderBy("doc_id")
        .limit(60)
    )
    out = strtree_sort(g, id_col="doc_id")
    return out.select("doc_id", F.col("seq").cast("bigint").alias("seq"))


def _o_vector_sort_strtree() -> str:
    # n=60 cap=10: sliceCount=ceil(sqrt(ceil(60/10)))=3, sliceCapacity=
    # ceil(60/3)=20, leaves/slice=2 -> 6 leaves -> level 2: sliceCount=
    # ceil(sqrt(ceil(6/10)))=1 -> root children = leaves y-sorted.
    return (
        f"WITH g AS ({docs_g_cte()}), "
        "v AS (SELECT doc_id, CAST(gx AS DOUBLE) AS cx, CAST(gy AS DOUBLE) AS cy, "
        "gx - half AS x0, gy - half AS y0, gx + half AS x1, gy + half AS y1 "
        "FROM g WHERE valid ORDER BY doc_id LIMIT 60), "
        "xr AS (SELECT *, row_number() OVER (ORDER BY cx, doc_id) - 1 AS rx FROM v), "
        "sl AS (SELECT *, CAST(floor(rx / 20) AS BIGINT) AS slc FROM xr), "
        "yr AS (SELECT *, row_number() OVER (PARTITION BY slc ORDER BY cy, doc_id) - 1 AS ry FROM sl), "
        "lf AS (SELECT *, slc * 2 + CAST(floor(ry / 10) AS BIGINT) AS leaf, ry % 10 AS pos FROM yr), "
        "le AS (SELECT leaf, (MIN(y0) + MAX(y1)) / 2.0 AS lcy FROM lf GROUP BY leaf), "
        "lr AS (SELECT leaf, row_number() OVER (ORDER BY lcy, leaf) - 1 AS lrank FROM le) "
        "SELECT lf.doc_id, "
        "CAST(row_number() OVER (ORDER BY lr.lrank, lf.pos) - 1 AS BIGINT) AS seq "
        "FROM lf JOIN lr ON lf.leaf = lr.leaf"
    )


QUERIES["vector_sort_strtree"] = q_vector_sort_strtree
ORACLES["vector_sort_strtree"] = _o_vector_sort_strtree()


# ---------------------------------------------------------------------------
# invdistnn per-quadrant gridding + pairwise-distance metric


def q_grid_invdistnn(spark, sf_dir):
    """GDALGridInverseDistanceToAPowerNearestNeighbor with per-quadrant
    round-robin selection (alg/gdalgrid.cpp:242,351): doc points
    gridded with radius 90, smoothing 5, power 2, the nearest 8 points
    taken round-robin across quadrants (at most 3 per quadrant), cells
    with any empty quadrant or fewer than 2 selected points nodata.
    Value x1000 floor-rounded so the oracle's SUM association order
    cannot flip a bit."""
    import dataclasses

    from gdal_spark.fixtures import BYTE20_SPEC
    from gdal_spark.operators.grid import grid_points
    from gdal_spark.operators.raster import as_features

    fspec = dataclasses.replace(BYTE20_SPEC, dtype="float64")
    g = docs_geom(spark, sf_dir)
    pts = g.filter(
        F.col("geom_error").isNull() & (F.col("env_minx") == F.col("env_maxx"))
    ).select(
        F.col("env_minx").alias("x"), F.col("env_miny").alias("y"),
        F.col("n_chars").cast("double").alias("z"),
    )
    t = grid_points(pts, fspec, algo="invdistnn", radius=90.0, smoothing=5.0,
                    power=2.0, max_points=8, min_points=2, nodata=-1.0,
                    min_points_per_quadrant=1, max_points_per_quadrant=3)
    p = as_features(t, fspec)
    return (
        p.filter(F.col("value") != -1.0)
        .select(
            F.col("py").cast("bigint").alias("py"),
            F.col("px").cast("bigint").alias("px"),
            F.floor(F.col("value") * 1000 + 0.5).cast("bigint").alias("val1000"),
        )
    )


def _o_grid_invdistnn() -> str:
    # selection replay: rank per (cell, quadrant) by smoothed distance
    # (ties in kernel point order gx, gy, z), eligibility rank <= 3,
    # round-robin order (rank-1)*4 + quadrant, global cap 8; gates:
    # every quadrant occupied (min_ppq=1 -> COUNT(DISTINCT q) = 4) and
    # n >= 2. Weights replay 1/(d2+25) exactly (power 2).
    return (
        f"WITH g AS ({docs_g_cte()}), "
        "p AS (SELECT gx, gy, CAST(n_chars AS DOUBLE) AS z FROM g WHERE valid AND NOT is_poly), "
        "cells AS (SELECT py, px, 440720 + (px + 0.5) * 60 AS cx, 3751320 - (py + 0.5) * 60 AS cy "
        "FROM (SELECT unnest(generate_series(0, 19)) AS py) CROSS JOIN (SELECT unnest(generate_series(0, 19)) AS px)), "
        "cand AS (SELECT py, px, gx, gy, z, "
        "(p.gx - cx) * (p.gx - cx) + (p.gy - cy) * (p.gy - cy) AS d2, "
        "(CASE WHEN p.gx - cx >= 0 THEN 1 ELSE 0 END) + 2 * (CASE WHEN p.gy - cy >= 0 THEN 1 ELSE 0 END) AS q "
        "FROM cells JOIN p ON (p.gx - cx) * (p.gx - cx) + (p.gy - cy) * (p.gy - cy) <= 8100.0), "
        "ranked AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY py, px, q ORDER BY d2, gx, gy, z) AS rq FROM cand), "
        "elig AS (SELECT * FROM ranked WHERE rq <= 3), "
        "sel AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY py, px ORDER BY (rq - 1) * 4 + q) AS pos FROM elig), "
        "take AS (SELECT * FROM sel WHERE pos <= 8), "
        "agg AS (SELECT py, px, COUNT(*) AS n, COUNT(DISTINCT q) AS nq, "
        "SUM(z / (d2 + 25.0)) AS num, SUM(1.0 / (d2 + 25.0)) AS den FROM take GROUP BY py, px) "
        "SELECT CAST(py AS BIGINT) AS py, CAST(px AS BIGINT) AS px, "
        "CAST(floor(1000.0 * num / den + 0.5) AS BIGINT) AS val1000 "
        "FROM agg WHERE nq = 4 AND n >= 2"
    )


QUERIES["grid_invdistnn"] = q_grid_invdistnn
ORACLES["grid_invdistnn"] = _o_grid_invdistnn()


def q_grid_distance_pts(spark, sf_dir):
    """GDALGridDataMetricAverageDistancePts (strict i<j pairs — see
    grid_points docstring for the reference quadtree path's self-pair
    artifact we deliberately do not replicate): mean pairwise distance
    between the doc points inside each cell's 90-unit search circle,
    x1000 floor-rounded; cells with no pair omitted."""
    import dataclasses

    from gdal_spark.fixtures import BYTE20_SPEC
    from gdal_spark.operators.grid import grid_points
    from gdal_spark.operators.raster import as_features

    fspec = dataclasses.replace(BYTE20_SPEC, dtype="float64")
    g = docs_geom(spark, sf_dir)
    pts = g.filter(
        F.col("geom_error").isNull() & (F.col("env_minx") == F.col("env_maxx"))
    ).select(
        F.col("env_minx").alias("x"), F.col("env_miny").alias("y"),
        F.col("n_chars").cast("double").alias("z"),
    )
    t = grid_points(pts, fspec, algo="average_distance_pts", radius=90.0, nodata=-1.0)
    p = as_features(t, fspec)
    return (
        p.filter(F.col("value") != -1.0)
        .select(
            F.col("py").cast("bigint").alias("py"),
            F.col("px").cast("bigint").alias("px"),
            F.floor(F.col("value") * 1000 + 0.5).cast("bigint").alias("dist1000"),
        )
    )


def _o_grid_distance_pts() -> str:
    return (
        f"WITH g AS ({docs_g_cte()}), "
        "p AS (SELECT ROW_NUMBER() OVER (ORDER BY gx, gy, n_chars) AS pid, gx, gy "
        "FROM g WHERE valid AND NOT is_poly), "
        "cells AS (SELECT py, px, 440720 + (px + 0.5) * 60 AS cx, 3751320 - (py + 0.5) * 60 AS cy "
        "FROM (SELECT unnest(generate_series(0, 19)) AS py) CROSS JOIN (SELECT unnest(generate_series(0, 19)) AS px)), "
        "inside AS (SELECT py, px, pid, gx, gy FROM cells JOIN p "
        "ON (p.gx - cx) * (p.gx - cx) + (p.gy - cy) * (p.gy - cy) <= 8100.0), "
        "pairs AS (SELECT a.py, a.px, sqrt((a.gx - b.gx) * (a.gx - b.gx) + (a.gy - b.gy) * (a.gy - b.gy)) AS d "
        "FROM inside a JOIN inside b ON a.py = b.py AND a.px = b.px AND a.pid < b.pid) "
        "SELECT CAST(py AS BIGINT) AS py, CAST(px AS BIGINT) AS px, "
        "CAST(floor(1000.0 * SUM(d) / COUNT(*) + 0.5) AS BIGINT) AS dist1000 "
        "FROM pairs GROUP BY py, px"
    )


QUERIES["grid_distance_pts"] = q_grid_distance_pts
ORACLES["grid_distance_pts"] = _o_grid_distance_pts()


def q_as_features(spark, sf_dir):
    """`gdal raster as-features` full layer form
    (apps/gdalalg_raster_as_features.cpp): byte20 pixels as features
    with polygon geometry, CENTER_X/Y, ROW/COL and the BAND_1 field,
    skip-nodata dropping value 107 (the raster's most common byte).
    The oracle rebuilds the exact WKT strings (integer geotransform ->
    integer corners, BIGINT-cast string concat) and the center/row
    arithmetic from the pixel VALUES table."""
    from gdal_spark.fixtures import BYTE20_SPEC, byte20_tiles
    from gdal_spark.operators.raster import as_features_layer

    df = as_features_layer(
        byte20_tiles(spark), BYTE20_SPEC, geometry_type="polygon",
        include_xy=True, include_row_col=True, skip_nodata=True, nodata=107.0,
    )
    return df.select(
        "geom",
        F.col("CENTER_X").alias("center_x"),
        F.col("CENTER_Y").alias("center_y"),
        F.col("ROW").cast("bigint").alias("row_i"),
        F.col("COL").cast("bigint").alias("col_i"),
        F.col("BAND_1").alias("band_1"),
    )


def _o_as_features() -> str:
    x0 = "CAST(CAST(440720 + px * 60 AS BIGINT) AS VARCHAR)"
    x1 = "CAST(CAST(440720 + (px + 1) * 60 AS BIGINT) AS VARCHAR)"
    y0 = "CAST(CAST(3751320 - py * 60 AS BIGINT) AS VARCHAR)"
    y1 = "CAST(CAST(3751320 - (py + 1) * 60 AS BIGINT) AS VARCHAR)"
    return (
        f"WITH pixels AS (SELECT * FROM (VALUES {_byte20_vals_sql()}) AS t(py, px, v)) "
        "SELECT 'POLYGON((' || " + x0 + " || ' ' || " + y0 + " || ',' || "
        + x0 + " || ' ' || " + y1 + " || ',' || " + x1 + " || ' ' || " + y1 + " || ',' || "
        + x1 + " || ' ' || " + y0 + " || ',' || " + x0 + " || ' ' || " + y0 + " || '))' AS geom, "
        "CAST(440720 + (px + 0.5) * 60 AS DOUBLE) AS center_x, "
        "CAST(3751320 - (py + 0.5) * 60 AS DOUBLE) AS center_y, "
        "CAST(py AS BIGINT) AS row_i, CAST(px AS BIGINT) AS col_i, "
        "CAST(v AS DOUBLE) AS band_1 "
        "FROM pixels WHERE v <> 107"
    )


QUERIES["as_features"] = q_as_features
ORACLES["as_features"] = _o_as_features()


def q_vector_explode(spark, sf_dir):
    """`gdal vector explode` (apps/gdalalg_vector_explode.cpp): strict
    zip-explode of a 3-element list field together with a 3-part
    MULTIPOINT geometry, index field first — element i and geometry
    member i ride output feature i. A wrong zip pairing, index, part
    order, or a pad-instead-of-zip explode all shift rows."""
    from gdal_spark.operators.vector_translate import vector_explode

    g = docs_geom(spark, sf_dir)
    base = g.filter(
        F.col("geom_error").isNull() & (F.col("env_minx") == F.col("env_maxx"))
    ).select(
        F.col("_id").alias("doc_id"),
        F.col("env_minx").cast("bigint").alias("gx"),
        F.col("env_miny").cast("bigint").alias("gy"),
        F.col("n_chars"),
    )
    src = base.select(
        "doc_id",
        F.array(
            F.col("n_chars").cast("bigint"),
            (F.col("n_chars") + 10).cast("bigint"),
            (F.col("n_chars") * 2).cast("bigint"),
        ).alias("vals"),
        F.format_string(
            "MULTIPOINT(%d %d,%d %d,%d %d)",
            F.col("gx"), F.col("gy"),
            F.col("gx") + 1, F.col("gy"),
            F.col("gx"), F.col("gy") + 1,
        ).alias("geom"),
    )
    out = vector_explode(src, fields=["vals"], index_field="part_idx",
                         geometry=True, fid_col="doc_id")
    return out.select(
        F.col("part_idx").cast("bigint").alias("part_idx"),
        "doc_id",
        F.col("vals").alias("val"),
        "geom",
    )


def _o_vector_explode() -> str:
    return (
        f"WITH g AS ({docs_g_cte()}), "
        "p AS (SELECT doc_id, CAST(gx AS BIGINT) AS gx, CAST(gy AS BIGINT) AS gy, n_chars "
        "FROM g WHERE valid AND NOT is_poly), "
        "i AS (SELECT unnest(generate_series(0, 2)) AS part_idx) "
        "SELECT CAST(part_idx AS BIGINT) AS part_idx, doc_id, "
        "CAST(CASE part_idx WHEN 0 THEN n_chars WHEN 1 THEN n_chars + 10 ELSE n_chars * 2 END AS BIGINT) AS val, "
        "'POINT (' || CAST(gx + CASE WHEN part_idx = 1 THEN 1 ELSE 0 END AS VARCHAR) || ' ' || "
        "CAST(gy + CASE WHEN part_idx = 2 THEN 1 ELSE 0 END AS VARCHAR) || ')' AS geom "
        "FROM p CROSS JOIN i"
    )


QUERIES["vector_explode"] = q_vector_explode
ORACLES["vector_explode"] = _o_vector_explode()


def q_set_geom_type(spark, sf_dir):
    """`gdal vector set-geom-type --multi`
    (apps/gdalalg_vector_set_geom_type.cpp + forceTo,
    ogrgeometryfactory.cpp:5229): promote every valid doc geometry to
    its MULTI type — POINT wraps to MULTIPOINT, the doc squares to
    MULTIPOLYGON. The oracle rebuilds both WKT forms from the datagen
    integer arithmetic, so a wrong wrap, ring order, or formatting
    shifts rows."""
    from gdal_spark.operators.vector_translate import set_geom_type

    g = docs_geom(spark, sf_dir).filter(
        F.col("geom_error").isNull() & F.col("wkt").isNotNull()
    ).select(F.col("_id").alias("doc_id"), F.col("wkt").alias("geom"))
    out = set_geom_type(g, multi=True, wkt_col="geom")
    return out.select("doc_id", "geom")


def _o_set_geom_type() -> str:
    s = lambda v: f"CAST(CAST({v} AS BIGINT) AS VARCHAR)"  # noqa: E731
    x1, y1 = s("gx - half"), s("gy - half")
    x2, y2 = s("gx + half"), s("gy + half")
    ring = (f"{x1} || ' ' || {y1} || ',' || {x1} || ' ' || {y2} || ',' || "
            f"{x2} || ' ' || {y2} || ',' || {x2} || ' ' || {y1} || ',' || {x1} || ' ' || {y1}")
    return (
        f"WITH g AS ({docs_g_cte()}) "
        "SELECT doc_id, CASE WHEN is_poly "
        f"THEN 'MULTIPOLYGON (((' || {ring} || ')))' "
        f"ELSE 'MULTIPOINT ((' || {s('gx')} || ' ' || {s('gy')} || '))' END AS geom "
        "FROM g WHERE valid"
    )


QUERIES["set_geom_type"] = q_set_geom_type
ORACLES["set_geom_type"] = _o_set_geom_type()


def q_set_field_type(spark, sf_dir):
    """`gdal vector set-field-type`
    (apps/gdalalg_vector_set_field_type.cpp -> OGRFeature::SetFrom
    coercions, ogr/ogrfeature.cpp:3981,:4181): retype synthesized doc
    fields through the OGR rules — string prefix-parses to int
    (strtoll: 'Nx9' -> N), double truncates toward zero to int, and
    double formats to string with C %.16g. A Spark-cast shortcut (NULL
    on 'x9' suffix, or JVM %g formatting) shifts every row."""
    from gdal_spark.relational import set_field_type

    base = docs(spark, sf_dir).select(
        F.col("_id").alias("doc_id"),
        F.concat(F.col("_id").cast("string"), F.lit("x9")).alias("s_int"),
        (F.col("n_chars") / 7.0).alias("d_val"),
        (F.col("n_chars") / 7.0).alias("d_str"),
    )
    out = set_field_type(base, "s_int", "int")
    out = set_field_type(out, "d_val", "bigint")
    out = set_field_type(out, "d_str", "string")
    return out.select(
        "doc_id",
        F.col("s_int").cast("bigint").alias("s_int"),
        F.col("d_val").alias("d_val"),
        F.col("d_str"),
    )


def _o_set_field_type() -> str:
    return (
        "SELECT doc_id, CAST(doc_id AS BIGINT) AS s_int, "
        "CAST(trunc(n_chars / 7.0) AS BIGINT) AS d_val, "
        "printf('%.16g', n_chars / 7.0) AS d_str "
        "FROM documents"
    )


QUERIES["set_field_type"] = q_set_field_type
ORACLES["set_field_type"] = _o_set_field_type()


def q_global_shuffle(spark, sf_dir):
    """Deterministic seeded global shuffle (training-order
    randomization): rank 0..n-1 of documents under the minstd(id,seed)
    permutation key, computed WITHOUT a single-partition window
    (dense_seq range buckets). The oracle replays the LCG arithmetic
    and the (key, id) total order with one SQL window — any
    nondeterminism, bucket-offset error, or tie-order drift shifts
    ranks."""
    from gdal_spark.text import global_shuffle

    d = docs(spark, sf_dir).select(F.col("_id").alias("doc_id"))
    out = global_shuffle(d, id_col="doc_id", seed=20260819)
    return out.select("doc_id", F.col("shuffle_seq").cast("bigint").alias("shuffle_seq"))


def _o_global_shuffle() -> str:
    from gdal_spark.text import minstd_mix_sql

    h = minstd_mix_sql("doc_id", 20260819)
    return (
        f"SELECT doc_id, ROW_NUMBER() OVER (ORDER BY {h}, doc_id) - 1 AS shuffle_seq "
        "FROM documents"
    )


QUERIES["global_shuffle"] = q_global_shuffle
ORACLES["global_shuffle"] = _o_global_shuffle()


def q_weighted_interleave(spark, sf_dir):
    """Deterministic weighted corpus interleaving: documents split by
    id parity into two 'sources' mixed 0.7/0.3 — source 0's k-th
    shuffled doc at virtual position (k+1)/0.7, source 1's at
    (k+1)/0.3, dense global rank over (position, source, id). The
    oracle replays both per-source minstd shuffles and the mixture
    order with SQL windows; a wrong per-source permutation, weight
    division, or tie rule shifts ranks."""
    from gdal_spark.text import weighted_interleave

    d = docs(spark, sf_dir).select(F.col("_id").alias("doc_id"))
    a = d.filter(F.col("doc_id") % 2 == 0)
    b = d.filter(F.col("doc_id") % 2 == 1)
    out = weighted_interleave([a, b], [0.7, 0.3], id_col="doc_id", seed=7)
    return out.select(
        "doc_id",
        F.col("source_id").cast("bigint").alias("source_id"),
        F.col("interleave_seq").cast("bigint").alias("interleave_seq"),
    )


def _o_weighted_interleave() -> str:
    from gdal_spark.text import minstd_mix_sql

    h0 = minstd_mix_sql("doc_id", 7)
    h1 = minstd_mix_sql("doc_id", 8)
    return (
        "WITH a AS (SELECT doc_id, 0 AS source_id, "
        f"(ROW_NUMBER() OVER (ORDER BY {h0}, doc_id)) / CAST(0.7 AS DOUBLE) AS ikey "
        "FROM documents WHERE doc_id % 2 = 0), "
        "b AS (SELECT doc_id, 1 AS source_id, "
        f"(ROW_NUMBER() OVER (ORDER BY {h1}, doc_id)) / CAST(0.3 AS DOUBLE) AS ikey "
        "FROM documents WHERE doc_id % 2 = 1), "
        "u AS (SELECT * FROM a UNION ALL SELECT * FROM b) "
        "SELECT doc_id, CAST(source_id AS BIGINT) AS source_id, "
        "ROW_NUMBER() OVER (ORDER BY ikey, source_id, doc_id) - 1 AS interleave_seq "
        "FROM u"
    )


QUERIES["weighted_interleave"] = q_weighted_interleave
ORACLES["weighted_interleave"] = _o_weighted_interleave()


def q_stream_window(spark, sf_dir):
    """Structured Streaming watermarked event-time windowed aggregation
    run END TO END: the events table staged as three time-ordered
    arrival files (days [0,10) / [10,20) / [20,31)), consumed one file
    per micro-batch, watermarked 3 days (in-file disorder spans 10
    days of event time, so the watermark admits every late row while
    the state store still evicts closed windows batch over batch),
    1-day tumbling windows per event_type, complete-mode memory sink
    read back after termination. sum(value) x1000 floor-rounded so the
    oracle's SUM association order cannot flip a bit."""
    import os
    import shutil
    import tempfile

    ev = load(spark, sf_dir, "events").select("event_id", "ts", "event_type", "value")
    tmp = tempfile.mkdtemp(prefix="gdal_spark_stream_window_")
    src = os.path.join(tmp, "src")
    try:
        day = F.dayofmonth("ts")
        for lo, hi in ((1, 11), (11, 21), (21, 32)):
            ev.filter((day >= lo) & (day < hi)).coalesce(1).write.mode("append").parquet(src)
        # ONE file per micro-batch: without maxFilesPerTrigger,
        # availableNow would swallow all three arrival files in a
        # single batch and the cross-batch watermark/window state this
        # query exists to exercise would never form
        stream = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        # watermarks need TimestampType; the parquet ts is NTZ — session
        # tz is pinned UTC (session.py), so the reinterpretation is exact
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
        agg = (
            stream.withWatermark("ts", "3 days")
            .groupBy(F.window(F.col("ts"), "1 day").alias("w"), "event_type")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("sv"))
        )
        _STREAM_SEQ[0] += 1
        name = f"stream_window_sink_{_STREAM_SEQ[0]}"
        q = (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .option("checkpointLocation", os.path.join(tmp, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        res = spark.table(name).select(
            F.col("w.start").cast("timestamp_ntz").alias("w_start"),
            "event_type",
            F.col("n").cast("bigint").alias("n"),
            F.floor(F.col("sv") * 1000 + 0.5).cast("bigint").alias("sv1000"),
        )
        out = spark.createDataFrame(
            res.collect(), "w_start timestamp_ntz, event_type string, n bigint, sv1000 bigint"
        )
        return out
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _o_stream_window() -> str:
    return (
        "SELECT date_trunc('day', ts) AS w_start, event_type, "
        "COUNT(*) AS n, CAST(floor(SUM(value) * 1000 + 0.5) AS BIGINT) AS sv1000 "
        "FROM events GROUP BY 1, 2"
    )


QUERIES["stream_window"] = q_stream_window
ORACLES["stream_window"] = _o_stream_window()


def q_proximity_geo(spark, sf_dir):
    """GDALComputeProximity full option set
    (alg/gdalproximity.cpp:64-92): distances from byte20's 107-valued
    pixels in GEOREFERENCED units (DISTUNITS=GEO, 60 m pixels),
    MAXDIST=180 m (3 px), USE_INPUT_NODATA masking the raster's
    99-valued pixels; x1000 floor-rounded, nodata -1 -> -1000. The
    oracle recomputes every pixel's exact min target distance from the
    VALUES table (the separable EDT is exact, so a brute-force min
    join replays it bit-for-bit)."""
    from gdal_spark.fixtures import BYTE20_SPEC, byte20_tiles
    from gdal_spark.operators.proximity import proximity
    from gdal_spark.operators.raster import as_features

    out = proximity(
        byte20_tiles(spark), BYTE20_SPEC, target_values=[107],
        distunits="GEO", maxdist=180.0, nodata=-1.0,
        use_input_nodata=True, src_nodata=99.0,
    )
    pix = as_features(out, BYTE20_SPEC)
    return pix.select(
        F.col("py").cast("bigint").alias("py"),
        F.col("px").cast("bigint").alias("px"),
        F.floor(F.col("value") * 1000 + 0.5).cast("bigint").alias("dist1000"),
    )


def _o_proximity_geo() -> str:
    return (
        f"WITH pixels AS (SELECT * FROM (VALUES {_byte20_vals_sql()}) AS t(py, px, v)), "
        "tgt AS (SELECT py, px FROM pixels WHERE v = 107), "
        "d AS (SELECT p.py, p.px, p.v, "
        "MIN((p.px - t.px) * (p.px - t.px) + (p.py - t.py) * (p.py - t.py)) AS d2 "
        "FROM pixels p CROSS JOIN tgt t GROUP BY p.py, p.px, p.v) "
        "SELECT CAST(py AS BIGINT) AS py, CAST(px AS BIGINT) AS px, "
        "CASE WHEN v = 99 THEN -1000 "
        "WHEN sqrt(CAST(d2 AS DOUBLE)) > 3.0 THEN -1000 "
        "ELSE CAST(floor(sqrt(CAST(d2 AS DOUBLE)) * 60.0 * 1000 + 0.5) AS BIGINT) END AS dist1000 "
        "FROM d"
    )


QUERIES["proximity_geo"] = q_proximity_geo
ORACLES["proximity_geo"] = _o_proximity_geo()


def q_dem_zt(spark, sf_dir):
    """gdaldem -alg ZevenbergenThorne (gdaldem_lib.cpp:1390 slope,
    :1482 aspect, Gradient<ZT> :798 hillshade with the z/2 factor):
    the three ZT derivatives over byte20, x1000 quantized — a Horn/ZT
    mixup, a wrong z divisor, or a dropped flat-cell rule all shift
    values."""
    import dataclasses

    from gdal_spark.fixtures import BYTE20_SPEC, byte20_tiles
    from gdal_spark.operators.focal import aspect, hillshade, slope
    from gdal_spark.operators.raster import as_features

    fspec = dataclasses.replace(BYTE20_SPEC, dtype="float64")
    t = byte20_tiles(spark)

    def pix(df, name):
        return as_features(df, fspec).select(
            "py", "px", F.floor(F.col("value") * 1000 + 0.5).cast("bigint").alias(name))

    s = pix(slope(t, fspec, alg="zevenbergen_thorne"), "slope1000")
    a = pix(aspect(t, fspec, alg="zevenbergen_thorne"), "aspect1000")
    h = pix(hillshade(t, fspec, z=2.0, alg="zevenbergen_thorne"), "shade1000")
    out = s.join(a, ["py", "px"]).join(h, ["py", "px"])
    return out.select(
        F.col("py").cast("bigint").alias("py"),
        F.col("px").cast("bigint").alias("px"),
        "slope1000", "aspect1000", "shade1000",
    )


def _o_dem_zt() -> str:
    def nb(dy: int, dx: int) -> str:
        return (
            "(SELECT CAST(q.v AS DOUBLE) FROM pixels q "
            f"WHERE q.py = LEAST(GREATEST(p.py + ({dy}), 0), 19) "
            f"AND q.px = LEAST(GREATEST(p.px + ({dx}), 0), 19))"
        )

    b, d_, f, h = nb(-1, 0), nb(0, -1), nb(0, 1), nb(1, 0)
    # slope: dx=(W-E)/60, dy=(S-N)/-60; atan(sqrt(key)*0.5)
    sdx = f"((({d_}) - ({f})) / 60.0)"
    sdy = f"((({h}) - ({b})) / 60.0)"
    slope = f"degrees(atan(sqrt(({sdx}) * ({sdx}) + ({sdy}) * ({sdy})) * 0.5))"
    # aspect: dx=E-W, dy=S-N, atan2(dy,-dx), azimuth flip, flat -> -9999
    adx = f"(({f}) - ({d_}))"
    ady = f"(({h}) - ({b}))"
    araw = f"degrees(atan2({ady}, -({adx})))"
    asp = (f"CASE WHEN {adx} = 0 AND {ady} = 0 THEN -9999.0 "
           f"WHEN {araw} > 90.0 THEN (CASE WHEN 450.0 - {araw} = 360.0 THEN 0.0 ELSE 450.0 - {araw} END) "
           f"ELSE (CASE WHEN 90.0 - {araw} = 360.0 THEN 0.0 ELSE 90.0 - {araw} END) END")
    # hillshade regular: x=(W-E)/ewres, y=(S-N)/nsres (SIGNED: 60 / -60),
    # zf = z/2 = 1.0, az=315, alt=45
    hx = f"((({d_}) - ({f})) / 60.0)"
    hy = f"((({h}) - ({b})) / -60.0)"
    azr, altr = "radians(315.0)", "radians(45.0)"
    num = f"(sin({altr}) - (({hy}) * cos({azr}) * cos({altr}) * 1.0 - ({hx}) * sin({azr}) * cos({altr}) * 1.0))"
    cang = f"(254.0 * {num} / sqrt(1.0 + 1.0 * (({hx}) * ({hx}) + ({hy}) * ({hy}))))"
    shade = f"(CASE WHEN {cang} <= 0.0 THEN 1.0 ELSE 1.0 + {cang} END)"
    return (
        f"WITH pixels AS (SELECT * FROM (VALUES {_byte20_vals_sql()}) AS t(py, px, v)) "
        "SELECT CAST(p.py AS BIGINT) AS py, CAST(p.px AS BIGINT) AS px, "
        f"CAST(floor(({slope}) * 1000 + 0.5) AS BIGINT) AS slope1000, "
        f"CAST(floor(({asp}) * 1000 + 0.5) AS BIGINT) AS aspect1000, "
        f"CAST(floor(({shade}) * 1000 + 0.5) AS BIGINT) AS shade1000 "
        "FROM pixels p"
    )


QUERIES["dem_zt"] = q_dem_zt
ORACLES["dem_zt"] = _o_dem_zt()


def q_dem_slope_opts(spark, sf_dir):
    """gdaldem slope -p (percent, Horn and ZevenbergenThorne forms —
    gdaldem_lib.cpp:1386,1406) and aspect -zero_for_flat
    (gdaldem_lib.cpp:3290,3921: flat cells get 0.0 instead of the
    -9999 nodata) over byte20, x1000 quantized."""
    from gdal_spark.fixtures import BYTE20_SPEC, byte20_tiles
    from gdal_spark.operators.focal import aspect, slope
    from gdal_spark.operators.raster import as_features

    src = byte20_tiles(spark)

    def pix(df, name):
        p = as_features(df, BYTE20_SPEC)
        return p.select(
            "py", "px", F.floor(F.col("value") * 1000 + 0.5).cast("bigint").alias(name)
        )

    out = (
        pix(slope(src, BYTE20_SPEC, percent=True), "hpct1000")
        .join(pix(slope(src, BYTE20_SPEC, percent=True, alg="zevenbergen_thorne"),
                  "ztpct1000"), ["py", "px"])
        .join(pix(aspect(src, BYTE20_SPEC, alg="zevenbergen_thorne",
                         zero_for_flat=True), "ztasp1000"), ["py", "px"])
    )
    return out.select(
        F.col("py").cast("bigint").alias("py"),
        F.col("px").cast("bigint").alias("px"),
        "hpct1000", "ztpct1000", "ztasp1000",
    )


def _o_dem_slope_opts() -> str:
    def nb(dy: int, dx: int) -> str:
        return (
            "(SELECT CAST(q.v AS DOUBLE) FROM pixels q "
            f"WHERE q.py = LEAST(GREATEST(p.py + ({dy}), 0), 19) "
            f"AND q.px = LEAST(GREATEST(p.px + ({dx}), 0), 19))"
        )

    a, b, c = nb(-1, -1), nb(-1, 0), nb(-1, 1)
    d_, f = nb(0, -1), nb(0, 1)
    g, h, i = nb(1, -1), nb(1, 0), nb(1, 1)
    hdx = f"(((({c}) + 2 * ({f}) + ({i})) - (({a}) + 2 * ({d_}) + ({g}))) / 480.0)"
    hdy = f"(((({g}) + 2 * ({h}) + ({i})) - (({a}) + 2 * ({b}) + ({c}))) / 480.0)"
    hpct = f"(100.0 * sqrt(({hdx}) * ({hdx}) + ({hdy}) * ({hdy})))"
    zdx = f"(((({d_}) - ({f}))) / 60.0)"
    zdy = f"(((({h}) - ({b}))) / 60.0)"
    ztpct = f"(50.0 * sqrt(({zdx}) * ({zdx}) + ({zdy}) * ({zdy})))"
    adx = f"(({f}) - ({d_}))"
    ady = f"(({h}) - ({b}))"
    araw = f"degrees(atan2({ady}, -({adx})))"
    zasp = (f"CASE WHEN {adx} = 0 AND {ady} = 0 THEN 0.0 "
            f"WHEN {araw} > 90.0 THEN (CASE WHEN 450.0 - {araw} = 360.0 THEN 0.0 ELSE 450.0 - {araw} END) "
            f"ELSE (CASE WHEN 90.0 - {araw} = 360.0 THEN 0.0 ELSE 90.0 - {araw} END) END")
    return (
        f"WITH pixels AS (SELECT * FROM (VALUES {_byte20_vals_sql()}) AS t(py, px, v)) "
        "SELECT CAST(p.py AS BIGINT) AS py, CAST(p.px AS BIGINT) AS px, "
        f"CAST(floor(({hpct}) * 1000 + 0.5) AS BIGINT) AS hpct1000, "
        f"CAST(floor(({ztpct}) * 1000 + 0.5) AS BIGINT) AS ztpct1000, "
        f"CAST(floor(({zasp}) * 1000 + 0.5) AS BIGINT) AS ztasp1000 "
        "FROM pixels p"
    )


QUERIES["dem_slope_opts"] = q_dem_slope_opts
ORACLES["dem_slope_opts"] = _o_dem_slope_opts()


def q_dem_edges(spark, sf_dir):
    """gdaldem slope -compute_edges (gdaldem_lib.cpp:461-760): raster
    border pixels computed with INTERPOL (2a-b) extrapolated window
    cells — vertical for the top/bottom rows (side columns clamped),
    horizontal for interior-row left/right columns; x1000 quantized.
    The oracle replays the full position-dependent window rule in SQL."""
    from gdal_spark.fixtures import BYTE20_SPEC, byte20_tiles
    from gdal_spark.operators.focal import slope
    from gdal_spark.operators.raster import as_features

    out = slope(byte20_tiles(spark), BYTE20_SPEC, edges="interpol")
    pix = as_features(out, BYTE20_SPEC)
    return pix.select(
        F.col("py").cast("bigint").alias("py"),
        F.col("px").cast("bigint").alias("px"),
        F.floor(F.col("value") * 1000 + 0.5).cast("bigint").alias("slope1000"),
    )


def _o_dem_edges() -> str:
    def v(py: str, px: str) -> str:
        return ("(SELECT CAST(q.v AS DOUBLE) FROM pixels q "
                f"WHERE q.py = ({py}) AND q.px = ({px}))")

    def cell(dy: int, dx: int) -> str:
        # clamped column for the top/bottom-row branches
        cc = f"LEAST(GREATEST(p.px + ({dx}), 0), 19)"
        top_v = (f"(2.0 * ({v('0', cc)}) - ({v('1', cc)}))" if dy == -1
                 else v(str(dy), cc))
        bot_v = (f"(2.0 * ({v('19', cc)}) - ({v('18', cc)}))" if dy == 1
                 else v(f"19 + ({dy})", cc))
        row = f"p.py + ({dy})"
        if dx == 0:
            mid_v = v(row, "p.px")
        else:
            lef = f"(2.0 * ({v(row, '0')}) - ({v(row, '1')}))"
            rig = f"(2.0 * ({v(row, '19')}) - ({v(row, '18')}))"
            gen = v(row, f"p.px + ({dx})")
            if dx == -1:
                mid_v = f"(CASE WHEN p.px = 0 THEN {lef} ELSE {gen} END)"
            else:
                mid_v = f"(CASE WHEN p.px = 19 THEN {rig} ELSE {gen} END)"
        return (f"(CASE WHEN p.py = 0 THEN {top_v} "
                f"WHEN p.py = 19 THEN {bot_v} "
                f"ELSE {mid_v} END)")

    a, b, c = cell(-1, -1), cell(-1, 0), cell(-1, 1)
    d_, f = cell(0, -1), cell(0, 1)
    g, h, i = cell(1, -1), cell(1, 0), cell(1, 1)
    dzdx = f"((({c}) + 2 * ({f}) + ({i})) - (({a}) + 2 * ({d_}) + ({g}))) / 480.0"
    dzdy = f"((({g}) + 2 * ({h}) + ({i})) - (({a}) + 2 * ({b}) + ({c}))) / 480.0"
    return (
        f"WITH pixels AS (SELECT * FROM (VALUES {_byte20_vals_sql()}) AS t(py, px, v)) "
        "SELECT CAST(p.py AS BIGINT) AS py, CAST(p.px AS BIGINT) AS px, "
        f"CAST(floor(degrees(atan(sqrt(({dzdx}) * ({dzdx}) + ({dzdy}) * ({dzdy})))) * 1000 + 0.5) AS BIGINT) AS slope1000 "
        "FROM pixels p"
    )


QUERIES["dem_edges"] = q_dem_edges
ORACLES["dem_edges"] = _o_dem_edges()


def q_partition_write_roundtrip(spark, sf_dir):
    """`gdal vector partition` (hive scheme) END-TO-END through the
    driver gate: write orders partitioned by o_orderpriority to a
    deterministic temp dir, read the committed dataset back, and
    report per-partition row counts + revenue sums. A broken writer
    (dropped rows, wrong NULL marker, partition column loss) shifts
    the read-back aggregates; the oracle recomputes them straight
    from the source table."""
    import shutil
    import tempfile
    from pathlib import Path

    from gdal_spark.relational import partition_write

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    out = Path(tempfile.gettempdir()) / "gdal_spark_q_partition_write"
    shutil.rmtree(out, ignore_errors=True)
    partition_write(
        orders.select("o_orderkey", "o_totalprice", "o_orderpriority"),
        str(out), ["o_orderpriority"], job_id="q-partition-write",
    )
    back = spark.read.parquet(str(out))
    return (
        back.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.floor(F.sum("o_totalprice") * 100 + 0.5).alias("cents"),
        )
        .select(
            F.col("o_orderpriority").cast("string").alias("prio"),
            F.col("n").cast("bigint").alias("n"),
            F.col("cents").cast("bigint").alias("cents"),
        )
    )


def _o_partition_write_roundtrip() -> str:
    return (
        "SELECT CAST(o_orderpriority AS VARCHAR) AS prio, "
        "CAST(COUNT(*) AS BIGINT) AS n, "
        "CAST(floor(SUM(o_totalprice) * 100 + 0.5) AS BIGINT) AS cents "
        "FROM orders GROUP BY o_orderpriority"
    )


QUERIES["partition_write_roundtrip"] = q_partition_write_roundtrip
ORACLES["partition_write_roundtrip"] = _o_partition_write_roundtrip()


def q_vector_index(spark, sf_dir):
    """ogrtindex / gdal vector index (apps/gdalalg_vector_index.cpp):
    every valid doc is a feature of synthetic layer (dataset
    'mem://set_<doc_id%7>', layer doc_id%3); the index aggregates each
    layer's extent as ONE map-side-combinable groupBy and writes the
    reference's OGRPolygon(OGREnvelope) ring (minx miny, minx MAXY,
    maxx maxy, maxx MINY, close — ogr/ogrpolygon.cpp:40-48) with
    location '<ds>,<li>' (:509-512). Layer 2 of every dataset carries
    a different CRS and is skipped (the !accept-different-crs warning
    path :522-546); 'mem://set_3,0' pre-seeds the existing index to
    exercise the resume anti-join (:421). Envelope coords are exact
    integer-valued doubles, so the WKT strings compare bit-exactly."""
    from gdal_spark.operators.tindex import vector_index

    g = docs_geom(spark, sf_dir).filter(F.col("geom_error").isNull())
    feats = g.select(
        F.concat(F.lit("mem://set_"), (F.col("_id") % 7).cast("string")).alias("location"),
        (F.col("_id") % 3).cast("int").alias("layer_idx"),
        "env_minx", "env_miny", "env_maxx", "env_maxy",
    )
    meta = feats.select("location", "layer_idx").distinct().select(
        "location",
        "layer_idx",
        F.when(F.col("layer_idx") == 2, F.lit("EPSG:32611"))
        .otherwise(F.lit("EPSG:4326"))
        .alias("crs"),
        F.array(F.lit("v:Integer:0:0")).alias("schema"),
    )
    existing = spark.createDataFrame([("mem://set_3,0",)], "location string")
    idx = vector_index(feats, meta, source_crs_name="src_srs", existing=existing)
    return idx.select(
        "location",
        "src_srs",
        "wkt",
        F.col("minx").cast("bigint").alias("minx"),
        F.col("miny").cast("bigint").alias("miny"),
        F.col("maxx").cast("bigint").alias("maxx"),
        F.col("maxy").cast("bigint").alias("maxy"),
    )


def _o_vector_index() -> str:
    pt = lambda x, y: f"CAST({x} AS VARCHAR) || ' ' || CAST({y} AS VARCHAR)"  # noqa: E731
    return (
        f"WITH g AS ({docs_g_cte()}), "
        "f AS (SELECT 'mem://set_' || CAST(doc_id % 7 AS VARCHAR) AS ds, "
        "CAST(doc_id % 3 AS INTEGER) AS li, "
        "CAST(gx - half AS DOUBLE) AS mnx, CAST(gy - half AS DOUBLE) AS mny, "
        "CAST(gx + half AS DOUBLE) AS mxx, CAST(gy + half AS DOUBLE) AS mxy "
        "FROM g WHERE valid), "
        "e AS (SELECT ds, li, MIN(mnx) AS mnx, MIN(mny) AS mny, "
        "MAX(mxx) AS mxx, MAX(mxy) AS mxy FROM f GROUP BY ds, li) "
        "SELECT ds || ',' || CAST(li AS VARCHAR) AS location, "
        "'EPSG:4326' AS src_srs, "
        "'POLYGON ((' || " + pt("mnx", "mny") + " || ',' || "
        + pt("mnx", "mxy") + " || ',' || " + pt("mxx", "mxy") + " || ',' || "
        + pt("mxx", "mny") + " || ',' || " + pt("mnx", "mny") + " || '))' AS wkt, "
        "CAST(mnx AS BIGINT) AS minx, CAST(mny AS BIGINT) AS miny, "
        "CAST(mxx AS BIGINT) AS maxx, CAST(mxy AS BIGINT) AS maxy "
        "FROM e WHERE li <> 2 AND ds || ',' || CAST(li AS VARCHAR) <> 'mem://set_3,0'"
    )


QUERIES["vector_index"] = q_vector_index
ORACLES["vector_index"] = _o_vector_index()


def q_raster_create(spark, sf_dir):
    """gdal raster create (apps/gdalalg_raster_create.cpp): a 3-band
    37x23 canvas (tile_size 16 — remainder tiles on both axes), per-band
    burn values derived from the events table (count(event_type)%200
    + 0.5, exercising the GDALCopyWord round-half-away write), sized by
    bbox+resolution (ceil(extent/res - EPSILON), :476-491). The burn
    lattice synthesizes distributively; the query folds it back to one
    row per band (n_tiles, n_px, sum of pixel values) so a wrong tile
    shape, remainder clamp, band wiring or rounding all shift the
    aggregate. Oracle recomputes everything in closed form from events."""
    from gdal_spark.operators.create import raster_create

    ev = load(spark, sf_dir, "events")
    cnts = {
        r.event_type: r.n
        for r in ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    burn = [cnts.get(t, 0) % 200 + 0.5 for t in ("click", "error", "purchase")]
    spec, tiles = raster_create(
        bbox=(0.0, 0.0, 37.0, 23.0),
        resolution=(1.0, 1.0),
        band_count=3,
        burn=burn,
        tile_size=16,
        spark=spark,
    )
    assert (spec.width, spec.height) == (37, 23)

    def _fold(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            # the sum of the payload's raw bytes, whatever its dtype
            vals = [int(t.view(np.uint8).astype(np.int64).sum()) for t in tilecodec.decode_batch(pdf)]
            out = pdf[["band", "h", "w"]].copy()
            out["px_sum"] = np.asarray(vals, dtype=np.int64)
            yield out

    folded = tiles.mapInPandas(_fold, "band int, h int, w int, px_sum long")
    return (
        folded.groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n_tiles"),
            F.sum(F.col("h").cast("long") * F.col("w")).alias("n_px"),
            F.sum("px_sum").alias("val_sum"),
        )
        .select("band", "n_tiles", "n_px", "val_sum")
    )


def _o_raster_create() -> str:
    # copy_word(cnt%200 + 0.5) = cnt%200 + 1 (round half away, positive)
    return (
        "WITH c AS (SELECT event_type, COUNT(*) AS n FROM events "
        "WHERE event_type IN ('click','error','purchase') GROUP BY event_type), "
        "b AS (SELECT CASE event_type WHEN 'click' THEN 1 WHEN 'error' THEN 2 "
        "ELSE 3 END AS band, n % 200 + 1 AS v FROM c) "
        "SELECT CAST(band AS INTEGER) AS band, "
        "CAST(6 AS BIGINT) AS n_tiles, "  # 3 tx (16,16,5) x 2 ty (16,7)
        "CAST(37 * 23 AS BIGINT) AS n_px, "
        "CAST(37 * 23 * v AS BIGINT) AS val_sum FROM b"
    )


QUERIES["raster_create"] = q_raster_create
ORACLES["raster_create"] = _o_raster_create()


def q_vsi_sync(spark, sf_dir):
    """`gdal vsi sync` decision plane END-TO-END (VSISync,
    port/cpl_vsil.cpp:1084): one file per documents.lang whose content
    is the lang's doc count; after a first full sync, langs with an ODD
    count are rewritten one byte longer, so the second sync must decide
    copy (size differs) exactly for the odd langs and skip for the even
    ones (same size, target newer). The oracle recomputes names, sizes
    and decisions straight from the table."""
    import shutil
    import tempfile
    from pathlib import Path

    from gdal_spark.operators.fsops import vsi_sync

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    counts = {
        r["lang"]: r["n"]
        for r in docs.filter(F.col("lang").isNotNull())
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    base = Path(tempfile.gettempdir()) / "gdal_spark_q_vsi_sync"
    shutil.rmtree(base, ignore_errors=True)
    src, dst = base / "src", base / "dst"
    src.mkdir(parents=True)
    for lang, n in counts.items():
        (src / f"{lang}.txt").write_text(f"{n}\n")
    vsi_sync(spark, f"{src}/", str(dst))
    for lang, n in counts.items():
        if n % 2 == 1:
            (src / f"{lang}.txt").write_text(f"{n}\nx")
    out = vsi_sync(spark, f"{src}/", str(dst))
    return out.select(
        F.col("relpath").cast("string").alias("relpath"),
        F.col("src_size").cast("bigint").alias("src_size"),
        F.col("action").cast("string").alias("action"),
    )


def _o_vsi_sync() -> str:
    return (
        "SELECT lang || '.txt' AS relpath, "
        "CAST(LENGTH(CAST(COUNT(*) AS VARCHAR)) + 1 "
        "     + CASE WHEN COUNT(*) % 2 = 1 THEN 1 ELSE 0 END AS BIGINT) AS src_size, "
        "CASE WHEN COUNT(*) % 2 = 1 THEN 'copy' ELSE 'skip' END AS action "
        "FROM documents WHERE lang IS NOT NULL GROUP BY lang"
    )


QUERIES["vsi_sync"] = q_vsi_sync
ORACLES["vsi_sync"] = _o_vsi_sync()


def q_dataset_identify(spark, sf_dir):
    """`gdal dataset identify` END-TO-END: a temp tree holding one of
    each format this engine emits — a parquet snapshot dataset (with
    lineage sidecar, so the DIRECTORY identifies once and is not
    descended), a PMTiles v3 archive, a SOZip archive (tail-probe finds
    the hidden index member), a GeoJSON file, a CSV — plus an
    unidentifiable noise file that must be absent from the output.
    Executors sniff only header (+ bounded ZIP tail) bytes."""
    import shutil
    import tempfile
    from pathlib import Path

    from gdal_spark.metrics import write_snapshot
    from gdal_spark.operators.fsops import dataset_identify
    from gdal_spark.operators.pmtiles import write_pmtiles
    from gdal_spark.operators.sozip import write_sozip

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    base = Path(tempfile.gettempdir()) / "gdal_spark_q_dataset_identify"
    shutil.rmtree(base, ignore_errors=True)
    base.mkdir(parents=True)

    sample = docs.orderBy("doc_id").limit(20).select("doc_id", "n_chars")
    write_snapshot(sample.coalesce(1), str(base / "ds"), job_id="q-identify")

    tiles = spark.createDataFrame(
        [(0, 0, 0, b"\x1a\x05tile0"), (1, 0, 0, b"\x1a\x05tile1")],
        "z int, tx int, ty int, payload binary",
    )
    write_pmtiles(tiles, str(base / "t.pmtiles"))

    text = "\n".join(str(r["doc_id"]) for r in sample.collect()).encode()
    members = spark.createDataFrame([("docs.txt", text * 40)], "name string, data binary")
    write_sozip(members, str(base / "a.zip"), chunk_size=1024, min_file_size=0)

    (base / "t.geojson").write_text(
        '{"type": "FeatureCollection", "features": []}'
    )
    (base / "t.csv").write_text("doc_id,n\nx,1\n")
    (base / "noise.bin").write_bytes(b"\x00\x01\x02\x03")

    ident = dataset_identify(spark, str(base), recursive=True)
    return (
        ident.groupBy("driver")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("driver").cast("string"), F.col("n").cast("bigint"))
    )


def _o_dataset_identify() -> str:
    return (
        "SELECT * FROM (VALUES ('Parquet', CAST(1 AS BIGINT)), ('PMTiles', 1), "
        "('SOZip', 1), ('GeoJSON', 1), ('CSV', 1)) AS t(driver, n)"
    )


QUERIES["dataset_identify"] = q_dataset_identify
ORACLES["dataset_identify"] = _o_dataset_identify()


def q_pii_redact(spark, sf_dir):
    """PII scrubbing + BPE-ish pretokenizer END-TO-END: synthetic
    email/IP/phone strings derived from doc_id are appended to each
    document's real text, then the typed-token redaction chain
    (text.PII_PATTERNS, dialect-shared Java∩RE2 regexes), the per-kind
    match counts and the pretokenizer count run in pure Catalyst —
    zero shuffle, zero Python. The oracle rebuilds the same injected
    text and replays every regex in DuckDB's RE2; counts, redacted
    lengths and pretoken counts must agree bit-for-bit on real corpus
    text, not just the injected suffix."""
    from gdal_spark.text import bpe_token_count, pii_counts, pii_redact

    d = load(spark, sf_dir, "documents")
    did = F.col("doc_id")
    t2 = F.concat(
        F.coalesce(F.col("text"), F.lit("")),
        F.lit(" contact user"),
        did.cast("string"),
        F.lit("@example.com ip 10."),
        (did % 256).cast("string"),
        F.lit("."),
        ((did * 7) % 256).cast("string"),
        F.lit("."),
        ((did * 13) % 256).cast("string"),
        F.lit(" tel 555-"),
        F.lpad((did % 1000).cast("string"), 3, "0"),
        F.lit("-"),
        F.lpad((did % 10000).cast("string"), 4, "0"),
    )
    base = d.select(did.alias("doc_id"), t2.alias("t"), F.col("text"))
    c = pii_counts(F.col("t"))
    return base.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        c["email"].alias("n_email"),
        c["ip"].alias("n_ip"),
        c["phone"].alias("n_phone"),
        F.length(pii_redact(F.col("t"))).cast("bigint").alias("redacted_len"),
        bpe_token_count(F.col("text")).alias("n_pretokens"),
    )


def _o_pii_redact() -> str:
    from gdal_spark.text import bpe_token_count_sql, pii_counts_sql, pii_redact_sql

    c = pii_counts_sql("t")
    return (
        "WITH b AS (SELECT doc_id, COALESCE(text, '') || ' contact user' || "
        "CAST(doc_id AS VARCHAR) || '@example.com ip 10.' || "
        "CAST(doc_id % 256 AS VARCHAR) || '.' || "
        "CAST((doc_id * 7) % 256 AS VARCHAR) || '.' || "
        "CAST((doc_id * 13) % 256 AS VARCHAR) || ' tel 555-' || "
        "lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-' || "
        "lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS t, text "
        "FROM documents) "
        f"SELECT CAST(doc_id AS BIGINT) AS doc_id, {c['email']} AS n_email, "
        f"{c['ip']} AS n_ip, {c['phone']} AS n_phone, "
        f"CAST(LENGTH({pii_redact_sql('t')}) AS BIGINT) AS redacted_len, "
        f"{bpe_token_count_sql('text')} AS n_pretokens FROM b"
    )


QUERIES["pii_redact"] = q_pii_redact
ORACLES["pii_redact"] = _o_pii_redact()


def q_vector_update(spark, sf_dir):
    """`gdal vector update` keyed upsert
    (apps/gdalalg_vector_update.cpp:169-346, relational.vector_update):
    merge-mode update of a documents-derived dst layer from a src
    layer whose key derivation deliberately hits every match
    cardinality — unique hits (exactly-one dst match: SetFrom with the
    LAST src row, dst-only field nulled, FID kept), misses (ONE
    appended row per key carrying the last src row), ambiguous keys
    (>= 2 dst matches: EVERY src row appends), and NULL keys
    (skipped).  Appended FIDs are max(dst)+1.. in creation order.  The
    oracle replays the closed form of the reference's sequential
    replay in SQL windows — any drift in the cardinality split, the
    last-wins rule, the null-out, or the FID sequence shifts rows."""
    d = load(spark, sf_dir, "documents")
    dst = d.filter(F.col("doc_id") % 7 < 5).select(
        F.col("doc_id").alias("_id"),
        F.when(F.col("doc_id") % 10 < 6, F.col("doc_id"))
        .otherwise(F.lit(1000000000) + F.expr("(doc_id - doc_id % 40) div 4"))
        .alias("k"),
        F.col("lang").alias("name"),
        F.col("n_chars").alias("extra"),
    )
    src = d.filter(F.col("doc_id") % 11 < 4).select(
        (F.lit(2000000000) + F.col("doc_id")).alias("_id"),
        F.when(F.col("doc_id") % 13 == 0, F.lit(None).cast("long"))
        .when(F.col("doc_id") % 3 == 0, F.col("doc_id"))
        .when(
            F.col("doc_id") % 3 == 1,
            F.lit(1000000000) + F.expr("(doc_id - doc_id % 40) div 4"),
        )
        .otherwise(F.lit(3000000000) + F.col("doc_id") % 97)
        .alias("k"),
        F.upper(F.col("lang")).alias("name"),
        F.col("doc_id").alias("srconly"),
    )
    from gdal_spark.relational import vector_update

    return vector_update(dst, src, keys=["k"], mode="merge")


def _o_vector_update() -> str:
    dst = (
        "SELECT doc_id AS _id, CASE WHEN doc_id % 10 < 6 THEN doc_id "
        "ELSE 1000000000 + (doc_id - doc_id % 40) // 4 END AS k, "
        "lang AS name, n_chars AS extra FROM documents WHERE doc_id % 7 < 5"
    )
    src = (
        "SELECT 2000000000 + doc_id AS _id, CASE "
        "WHEN doc_id % 13 = 0 THEN CAST(NULL AS BIGINT) "
        "WHEN doc_id % 3 = 0 THEN doc_id "
        "WHEN doc_id % 3 = 1 THEN 1000000000 + (doc_id - doc_id % 40) // 4 "
        "ELSE 3000000000 + doc_id % 97 END AS k, "
        "upper(lang) AS name FROM documents WHERE doc_id % 11 < 4"
    )
    return (
        f"WITH dst AS ({dst}), src0 AS ({src}), "
        "src AS (SELECT * FROM src0 WHERE k IS NOT NULL), "
        "cnts AS (SELECT k, COUNT(*) AS cnt FROM dst GROUP BY k), "
        "ranked AS (SELECT *, "
        "ROW_NUMBER() OVER (PARTITION BY k ORDER BY _id) AS rn_a, "
        "ROW_NUMBER() OVER (PARTITION BY k ORDER BY _id DESC) AS rn_d "
        "FROM src), "
        "lastk AS (SELECT k, _id, name FROM ranked WHERE rn_d = 1), "
        "firstk AS (SELECT k, _id FROM ranked WHERE rn_a = 1), "
        "upd AS (SELECT l.k, l.name, 1 AS hit FROM lastk l "
        "JOIN cnts c USING(k) WHERE c.cnt = 1), "
        "updated AS (SELECT d._id, d.k, "
        "CASE WHEN u.hit IS NOT NULL THEN u.name ELSE d.name END AS name, "
        "CASE WHEN u.hit IS NOT NULL THEN CAST(NULL AS BIGINT) "
        "ELSE d.extra END AS extra "
        "FROM dst d LEFT JOIN upd u ON d.k = u.k), "
        "app0 AS (SELECT f._id AS ord, l.k, l.name FROM firstk f "
        "JOIN lastk l USING(k) LEFT JOIN cnts c USING(k) WHERE c.k IS NULL), "
        "appm AS (SELECT s._id AS ord, s.k, s.name FROM src s "
        "JOIN cnts c USING(k) WHERE c.cnt >= 2), "
        "apps AS (SELECT * FROM app0 UNION ALL SELECT * FROM appm), "
        "base AS (SELECT MAX(_id) + 1 AS b FROM dst), "
        "appf AS (SELECT (SELECT b FROM base) "
        "+ ROW_NUMBER() OVER (ORDER BY ord) - 1 AS _id, "
        "k, name, CAST(NULL AS BIGINT) AS extra FROM apps) "
        "SELECT _id, k, name, extra FROM updated "
        "UNION ALL SELECT _id, k, name, extra FROM appf"
    )


QUERIES["vector_update"] = q_vector_update
ORACLES["vector_update"] = _o_vector_update()


def q_dataset_check(spark, sf_dir):
    """`gdal dataset check` (apps/gdalalg_dataset_check.cpp:288-530,
    fsops.dataset_check) END-TO-END through the driver gate: three
    datasets written to a deterministic temp dir — a vector snapshot
    of filtered documents, a raster tile table sized from the
    corpus's distinct-lang count (2 bands x 32x32 per lang), and a
    copy of the vector snapshot whose _lineage.json records a phantom
    part file.  The distributed full-read check must report exact
    feature/pixel totals, the reference's pixels + 100*features
    content metric, ret code 0 for the intact datasets and 1 for the
    tampered one.  A checker that skips bytes, loses the sidecar
    cross-check, or misclassifies tile rows as features shifts the
    numbers."""
    import json
    import shutil
    import tempfile
    from pathlib import Path

    import numpy as np

    from gdal_spark.metrics import LINEAGE_FILE, write_snapshot
    from gdal_spark.operators.fsops import check_summary, dataset_check
    from gdal_spark.operators.raster import TILE_SCHEMA

    # per-run dir: a fixed shared name would let two concurrent runs
    # rmtree each other's datasets mid-check
    base = Path(tempfile.mkdtemp(prefix="gdal_spark_q_dataset_check_"))

    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") % 5 < 3)
    write_snapshot(
        docs.select("doc_id", "lang", "n_chars").repartition(4),
        str(base / "vec"), job_id="q-dataset-check",
    )

    langs = sorted(
        r.lang for r in docs.select("lang").distinct().collect() if r.lang is not None
    )
    rows = []
    for i, _lang in enumerate(langs):
        for band in (1, 2):
            pay = tilecodec.encode(np.full((32, 32), (i + band) % 256, dtype=np.uint8))
            rows.append((band, 0, i, 32, 32, "uint8", pay))
    write_snapshot(
        spark.createDataFrame(rows, TILE_SCHEMA), str(base / "ras"),
        job_id="q-dataset-check",
    )

    shutil.copytree(base / "vec", base / "bad")
    lin = base / "bad" / LINEAGE_FILE
    rec = json.loads(lin.read_text())
    rec["files"].append({"file": "part-phantom.parquet", "rows": 7})
    lin.write_text(json.dumps(rec))

    parts = []
    for name in ("vec", "ras", "bad"):
        parts.append(
            check_summary(dataset_check(spark, str(base / name))).select(
                F.lit(name).alias("ds"),
                F.col("n_features").cast("bigint").alias("n_features"),
                F.col("n_pixels").cast("bigint").alias("n_pixels"),
                F.col("total_content").cast("bigint").alias("total_content"),
                F.col("ret_code").cast("bigint").alias("ret_code"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _o_dataset_check() -> str:
    feats = "SELECT COUNT(*) AS n FROM documents WHERE doc_id % 5 < 3"
    nlang = (
        "SELECT COUNT(DISTINCT lang) AS nl FROM documents "
        "WHERE doc_id % 5 < 3 AND lang IS NOT NULL"
    )
    return (
        f"WITH f AS ({feats}), l AS ({nlang}) "
        "SELECT 'vec' AS ds, CAST(n AS BIGINT) AS n_features, "
        "CAST(0 AS BIGINT) AS n_pixels, CAST(n * 100 AS BIGINT) AS total_content, "
        "CAST(0 AS BIGINT) AS ret_code FROM f "
        "UNION ALL SELECT 'ras', 0, CAST(nl * 2 * 1024 AS BIGINT), "
        "CAST(nl * 2 * 1024 AS BIGINT), 0 FROM l "
        "UNION ALL SELECT 'bad', CAST(n AS BIGINT), 0, "
        "CAST(n * 100 AS BIGINT), 1 FROM f"
    )


QUERIES["dataset_check"] = q_dataset_check
ORACLES["dataset_check"] = _o_dataset_check()


def q_raster_edit(spark, sf_dir):
    """`gdal raster edit` (apps/gdalalg_raster_edit.cpp:322-871,
    edit.raster_edit): every edit argument derives from corpus
    aggregates — bbox corner from COUNT(*)%97 (the reference's
    bbox->geotransform division :404-410 lands on exact integers),
    nodata from COUNT(*)%251, per-band scale through the implicit
    positional grammar, offset through the bare-single broadcast rule,
    color interpretation through the all= escape, and a GCP whose
    pixel/line comes from the doc count.  The flattened (spec, aux)
    record is replayed in SQL — a drift in the grammar (wrong band
    assignment, wrong syntax-mix handling) or the bbox math shifts
    rows."""
    from gdal_spark.operators.edit import raster_edit
    from gdal_spark.operators.raster import RasterSpec

    cnt = load(spark, sf_dir, "documents").count()
    a = cnt % 97
    spec = RasterSpec(width=40, height=20, gt=(0, 1, 0, 20, 0, -1),
                      dtype="uint8", nbands=3)
    spec2, aux = raster_edit(
        spec,
        bbox=[float(a), 0.0, float(a + 80), 40.0],
        nodata=cnt % 251,
        scale=[str((cnt + 7) % 50), str((cnt + 14) % 50), str((cnt + 21) % 50)],
        offset=str(cnt % 31),
        color_interp=["all=gray"],
        metadata={"SOURCE": f"docs{cnt % 10}"},
    )
    _, aux = raster_edit(spec, aux=aux,
                         gcps=[f"{cnt % 5},{cnt % 3},{a},{a + 1}"],
                         crs="EPSG:4326")
    rows = [
        ("gt0", float(spec2.gt[0]), ""),
        ("gt1", float(spec2.gt[1]), ""),
        ("gt3", float(spec2.gt[3]), ""),
        ("gt5", float(spec2.gt[5]), ""),
        ("nodata", float(aux["nodata"]), ""),
        ("scale_1", float(aux["scale"]["1"]), ""),
        ("scale_2", float(aux["scale"]["2"]), ""),
        ("scale_3", float(aux["scale"]["3"]), ""),
        ("offset_2", float(aux["offset"]["2"]), ""),
        ("ci_2", 0.0, aux["color_interp"]["2"]),
        ("md", 0.0, aux["metadata"][""]["SOURCE"]),
        ("gcp_px", float(aux["gcps"][0]["pixel"]), ""),
        ("gcp_x", float(aux["gcps"][0]["x"]), ""),
        ("gcp_crs", 0.0, aux["gcp_crs"]),
    ]
    return spark.createDataFrame(rows, "k string, num double, txt string")


def _o_raster_edit() -> str:
    return (
        "WITH c AS (SELECT COUNT(*) AS n FROM documents) "
        "SELECT k, CAST(num AS DOUBLE) AS num, txt FROM ("
        "SELECT 'gt0' AS k, n % 97 AS num, '' AS txt FROM c "
        "UNION ALL SELECT 'gt1', 2, '' FROM c "
        "UNION ALL SELECT 'gt3', 40, '' FROM c "
        "UNION ALL SELECT 'gt5', -2, '' FROM c "
        "UNION ALL SELECT 'nodata', n % 251, '' FROM c "
        "UNION ALL SELECT 'scale_1', (n + 7) % 50, '' FROM c "
        "UNION ALL SELECT 'scale_2', (n + 14) % 50, '' FROM c "
        "UNION ALL SELECT 'scale_3', (n + 21) % 50, '' FROM c "
        "UNION ALL SELECT 'offset_2', n % 31, '' FROM c "
        "UNION ALL SELECT 'ci_2', 0, 'Gray' FROM c "
        "UNION ALL SELECT 'md', 0, 'docs' || CAST(n % 10 AS VARCHAR) FROM c "
        "UNION ALL SELECT 'gcp_px', n % 5, '' FROM c "
        "UNION ALL SELECT 'gcp_x', n % 97, '' FROM c "
        "UNION ALL SELECT 'gcp_crs', 0, 'EPSG:4326' FROM c)"
    )


QUERIES["raster_edit"] = q_raster_edit
ORACLES["raster_edit"] = _o_raster_edit()


def q_semantic_dedup(spark, sf_dir):
    """SemDeDup (Abbas et al. 2023, similarity.semantic_dedup):
    k-means clusters (the existing exact integer-quantized Lloyd loop,
    md5-ordered seeds) then the paper's upper-triangular max-cosine
    drop rule within each cluster — a doc drops iff some lower-id
    cluster member has quantized cosine > tau.  The oracle replays
    training AND the pair rule bit-identically in SQL; drift in the
    cluster assignment, the pair ordering, or the cosine arithmetic
    shifts the dropped set."""
    from gdal_spark.similarity import semantic_dedup

    emb = load(spark, sf_dir, "embeddings")
    out = semantic_dedup(emb, dims=64, n_cells=8, iters=2, tau=0.3)
    return out.select(
        F.col("vec_id").cast("bigint").alias("vec_id"),
        F.col("cell").cast("bigint").alias("cell"),
        "dropped",
    )


def _o_semantic_dedup() -> str:
    from gdal_spark.similarity import semantic_dedup_sql

    return semantic_dedup_sql(64, n_cells=8, iters=2, tau=0.3)


QUERIES["semantic_dedup"] = q_semantic_dedup
ORACLES["semantic_dedup"] = _o_semantic_dedup()


def q_vector_create(spark, sf_dir):
    """`gdal vector create` (apps/gdalalg_vector_create.cpp,
    create.vector_create): every field definition derives from corpus
    aggregates — one field per distinct documents.lang, its OGR type
    cycling by length(lang) %% 3, its width from the per-lang doc
    count — goes through the reference grammar parse
    (<NAME>:<TYPE>(<WIDTH>)), the empty-layer parquet write, and a
    schema read-back.  The flattened (field, ogr_type, width,
    spark_type) record is replayed in SQL; drift in the grammar, the
    OGR->Spark type map, or the width capture shifts rows."""
    import os
    import tempfile

    from gdal_spark.operators.create import vector_create

    langs = (
        load(spark, sf_dir, "documents")
        .filter(F.col("lang").isNotNull())
        .groupBy("lang").count().collect()
    )
    types = ["Integer", "Real", "String"]
    fields = [
        f"{r['lang']}:{types[len(r['lang']) % 3]}({int(r['count']) % 40 + 1})"
        for r in sorted(langs, key=lambda r: r["lang"])
    ]
    path = os.path.join(tempfile.mkdtemp(prefix="veccreate_"), "corpus.db")
    rec = vector_create(
        spark, path, layer_name="docs", fields=fields,
        geometry_type="POINT", crs="EPSG:4326",
    )
    back = spark.read.parquet(os.path.join(path, "docs"))
    spark_types = {f.name: f.dataType.simpleString() for f in back.schema.fields}
    meta = rec["layers"]["docs"]
    rows = [
        (f["name"], f["type"], f["width"], spark_types[f["name"]])
        for f in meta["fields"]
    ] + [
        (g["name"], g["type"], 0, spark_types[g["name"]])
        for g in meta["geometry_fields"]
    ]
    return spark.createDataFrame(
        rows, "field_name string, ogr_type string, width int, spark_type string"
    ).select(
        "field_name", "ogr_type", F.col("width").cast("bigint").alias("width"),
        "spark_type",
    )


def _o_vector_create() -> str:
    return (
        "WITH l AS (SELECT lang, COUNT(*) AS n FROM documents "
        "WHERE lang IS NOT NULL GROUP BY lang) "
        "SELECT lang AS field_name, "
        "CASE length(lang) % 3 WHEN 0 THEN 'Integer' WHEN 1 THEN 'Real' "
        "ELSE 'String' END AS ogr_type, "
        "CAST(n % 40 + 1 AS BIGINT) AS width, "
        "CASE length(lang) % 3 WHEN 0 THEN 'int' WHEN 1 THEN 'double' "
        "ELSE 'string' END AS spark_type FROM l "
        "UNION ALL SELECT 'geom', 'POINT', CAST(0 AS BIGINT), 'string'"
    )


QUERIES["vector_create"] = q_vector_create
ORACLES["vector_create"] = _o_vector_create()


def q_mdim_info(spark, sf_dir):
    """`gdal mdim info` (apps/gdalalg_mdim_info.cpp,
    multidim.mdim_info): array sized from the events count (time =
    n %% 5 + 2), filled with arange, described with --stats.  The
    flattened record (dims, block size, datatype, distributive
    statistics) is replayed in SQL with the closed forms for an
    arange array: mean = (N-1)/2, stddev = sqrt((N^2-1)/12)."""
    from gdal_spark.operators.multidim import MDArraySpec, from_numpy, mdim_info

    n = load(spark, sf_dir, "events").count()
    t = n % 5 + 2
    spec = MDArraySpec(
        name="a", dims=(("time", t), ("y", 6), ("x", 8)),
        chunks=(2, 3, 4), dtype="float64", attrs={"unit": "K"},
    )
    arr = np.arange(t * 6 * 8, dtype=np.float64).reshape(t, 6, 8)
    info = mdim_info({"a": (spec, from_numpy(spark, arr, spec))}, driver="MEM",
                     stats=True)
    a = info["arrays"]["a"]
    rows = [
        ("time_size", float(a["dimension_size"][0]), ""),
        ("y_size", float(a["dimension_size"][1]), ""),
        ("x_size", float(a["dimension_size"][2]), ""),
        ("block_0", float(a["block_size"][0]), ""),
        ("datatype", 0.0, a["datatype"]),
        ("unit", 0.0, a["unit"]),
        ("stat_min", float(a["statistics"]["min"]), ""),
        ("stat_max", float(a["statistics"]["max"]), ""),
        ("stat_mean", float(a["statistics"]["mean"]), ""),
        # variance of arange(N) is exactly (N^2-1)/12, so var*12 rounds
        # to the integer N^2-1 on both engines regardless of summation
        # order (a stddev*1e6 floor could flip on a last-ulp delta)
        ("stat_var12", float(round(a["statistics"]["stddev"] ** 2 * 12)), ""),
    ]
    return spark.createDataFrame(rows, "k string, num double, txt string")


def _o_mdim_info() -> str:
    return (
        "WITH c AS (SELECT COUNT(*) % 5 + 2 AS t, "
        "(COUNT(*) % 5 + 2) * 48 AS n FROM events) "
        "SELECT k, CAST(num AS DOUBLE) AS num, txt FROM ("
        "SELECT 'time_size' AS k, CAST(t AS DOUBLE) AS num, '' AS txt FROM c "
        "UNION ALL SELECT 'y_size', 6, '' FROM c "
        "UNION ALL SELECT 'x_size', 8, '' FROM c "
        "UNION ALL SELECT 'block_0', 2, '' FROM c "
        "UNION ALL SELECT 'datatype', 0, 'Float64' FROM c "
        "UNION ALL SELECT 'unit', 0, 'K' FROM c "
        "UNION ALL SELECT 'stat_min', 0, '' FROM c "
        "UNION ALL SELECT 'stat_max', n - 1, '' FROM c "
        "UNION ALL SELECT 'stat_mean', (n - 1) / 2.0, '' FROM c "
        "UNION ALL SELECT 'stat_var12', "
        "CAST(n AS DOUBLE) * n - 1, '' FROM c)"
    )


QUERIES["mdim_info"] = q_mdim_info
ORACLES["mdim_info"] = _o_mdim_info()


def q_pack_sequences(spark, sf_dir):
    """GPT-style sequence packing (text.pack_sequences): concatenate
    every document's whitespace tokens in doc_id order and cut the
    stream into 256-token training windows — one row per (window,
    doc-slice), every window except the last exactly full.  The oracle
    replays the prefix sum and the window fan-out as one SQL window +
    generate_series; drift in the cumsum bucketing, the integer-div
    window assignment, or the slice arithmetic shifts rows."""
    from gdal_spark.text import pack_sequences

    d = load(spark, sf_dir, "documents")
    return pack_sequences(d, 256).select(
        F.col("window_id").cast("bigint").alias("window_id"),
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.col("slice_start").cast("bigint").alias("slice_start"),
        F.col("slice_end").cast("bigint").alias("slice_end"),
        F.col("win_off").cast("bigint").alias("win_off"),
    )


def _o_pack_sequences() -> str:
    from gdal_spark.text import pack_sequences_sql

    return pack_sequences_sql(256)


QUERIES["pack_sequences"] = q_pack_sequences
ORACLES["pack_sequences"] = _o_pack_sequences()


def q_unigram_surprisal(spark, sf_dir):
    """CCNet-shaped corpus-trained unigram LM filter
    (text.unigram_surprisal): two-pass — corpus word counts, top-K
    vocabulary broadcast, per-doc integer-quantized surprisal
    (bitlen(N) - bitlen(c+1) per token; no float log so the value hash
    is engine-exact).  The oracle replays both passes in SQL; drift in
    the vocabulary cut (count desc, word asc), the OOV rule, or the
    bitlen quantization shifts values."""
    from gdal_spark.text import unigram_surprisal

    d = load(spark, sf_dir, "documents")
    return unigram_surprisal(d, vocab_size=40).select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        F.col("n_oov").cast("bigint").alias("n_oov"),
        F.col("surprisal_bits").cast("bigint").alias("surprisal_bits"),
    )


def _o_unigram_surprisal() -> str:
    from gdal_spark.text import unigram_surprisal_sql

    return unigram_surprisal_sql(vocab_size=40)


QUERIES["unigram_surprisal"] = q_unigram_surprisal
ORACLES["unigram_surprisal"] = _o_unigram_surprisal()


def q_line_quality(spark, sf_dir):
    """C4/FineWeb line-level quality signals
    (text.line_quality_signals): the single-line corpus docs are split
    into lines by replacing ' the ' separators with newlines (the same
    non-overlapping literal replace on both engines), then every line
    rule (terminal punctuation, bullets, ellipsis, short lines, lorem
    ipsum, code brace) is counted per doc.  Counts are integers, so
    the hash compare is exact."""
    from gdal_spark.text import line_quality_signals

    d = load(spark, sf_dir, "documents").withColumn(
        "text", F.regexp_replace(F.col("text"), " the ", "\n")
    )
    return line_quality_signals(d)


def _o_line_quality() -> str:
    from gdal_spark.text import line_quality_signals_sql

    return line_quality_signals_sql(
        table="(SELECT doc_id, replace(text, ' the ', chr(10)) AS text "
              "FROM documents) s"
    )


QUERIES["line_quality"] = q_line_quality
ORACLES["line_quality"] = _o_line_quality()


def q_dsir_weights(spark, sf_dir):
    """DSIR importance-resampling weights (text.dsir_importance_weights;
    Xie et al. 2023): hashed bag-of-words target-vs-raw log-ratio
    scores over the documents corpus with target = lang 'en'. Feature
    hash = md5-prefix mod 8192 (cross-engine exact), bucket score =
    bitlen-quantized count ratio, per-doc weight = integer sum —
    the oracle replays every stage bit for bit."""
    from gdal_spark.text import dsir_importance_weights

    d = load(spark, sf_dir, "documents")
    return dsir_importance_weights(d, F.col("lang") == "en").select(
        F.col("doc_id").cast("bigint").alias("doc_id"), "n_tokens", "weight"
    )


def _o_dsir_weights() -> str:
    from gdal_spark.text import dsir_importance_weights_sql

    return dsir_importance_weights_sql("lang = 'en'")


QUERIES["dsir_weights"] = q_dsir_weights
ORACLES["dsir_weights"] = _o_dsir_weights()


def q_chunk_documents(spark, sf_dir):
    """Sliding-window chunker (text.chunk_documents): 64-char windows
    advancing by 48 (16-char overlap) over the corpus text — one row
    per chunk with its offset, length and text.  The oracle replays
    the window lattice with generate_series + substr; drift in the
    step arithmetic, the final-chunk clamp, or the substring indexing
    shifts rows."""
    from gdal_spark.text import chunk_documents

    d = load(spark, sf_dir, "documents")
    return chunk_documents(d, 64, 16).select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        "chunk_id", "chunk_start", "chunk_len", "chunk_text",
    )


def _o_chunk_documents() -> str:
    from gdal_spark.text import chunk_documents_sql

    return chunk_documents_sql(64, 16)


QUERIES["chunk_documents"] = q_chunk_documents
ORACLES["chunk_documents"] = _o_chunk_documents()


def q_bpe_train(spark, sf_dir):
    """Distributed BPE vocabulary induction (gdal_spark/bpe.py;
    Sennrich et al. 2016): eight merges learned from the corpus
    word-frequency table — per iteration one map-side-combinable pair
    count, a deterministic argmax (count desc, pair asc), and the
    double-spaced literal-replace merge.  The oracle replays the FULL
    training loop as a generated CTE chain (the IVF-trainer oracle
    pattern); drift in the pair counting, the tie rule, or the greedy
    left-to-right merge shifts every subsequent row."""
    from gdal_spark.bpe import bpe_train

    d = load(spark, sf_dir, "documents")
    merges = bpe_train(d, 8)
    return spark.createDataFrame(
        [(i, l, r, c) for i, (l, r, c) in enumerate(merges)],
        "step long, left_sym string, right_sym string, pair_freq long",
    )


def _o_bpe_train() -> str:
    from gdal_spark.bpe import bpe_train_sql

    return bpe_train_sql(8)


QUERIES["bpe_train"] = q_bpe_train
ORACLES["bpe_train"] = _o_bpe_train()
