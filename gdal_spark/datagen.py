"""Deterministic synthetic inputs (FIXTURES.md F1/F2/F7).

The primary input table per BASELINE.json input_hint:
  doc_id:string, spans:array<struct<kind,text,media_ref,offset:int>>
with exactly one 'geom' span per doc carrying WKT, built with pure
JVM-side Spark functions from an id column — scales to any row count
with zero driver-side data movement (bench generates 1e6+ rows).

Coordinates are INTEGERS inside the byte20 raster extent
x∈[440720,441920], y∈[3750120,3751320] (EPSG:26711) so that the same
arithmetic in DuckDB oracle SQL produces bit-identical doubles — no
float round-trip ambiguity in the correctness gate.

Layout per doc (id = int64):
  span0: text   'title of doc <id>'
  span1: media  'fake://media/<hash>.jpg'     iff id % 3 == 0
  spanG: geom   WKT                           (always; exactly one)
  spanT: text   'body text <id%1000>'         iff id % 2 == 0
  offsets = 0..len-1  (the span-sequence invariant rides on these)

Geometry rules (id-driven, reproducible in SQL — see GEOM_SQL):
  id % 1000 == 999 -> INVALID WKT 'POINT (BROKEN'  (error-routing path)
  id % 10 == 0     -> hot-cell point (skew: 10% of docs in one ~25 m blob)
  id % 10 == 7     -> axis-parallel square polygon (exact == envelope
                      intersects, so SQL oracles stay expressible)
  else             -> uniform point
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

EXTENT = (440720, 3750120, 441920, 3751320)  # minx, miny, maxx, maxy (byte.tif world)

# -- shared integer arithmetic (valid Spark SQL AND DuckDB SQL) -------------

_PX = "(440720 + (({id} * 9973) % 1200))"
_PY = "(3750120 + (({id} * 7919) % 1200))"
_HOTX = "(440900 + (({id} / 10) % 25))"
_HOTY = "(3750300 + (({id} / 20) % 25))"
_CX = "(440770 + (({id} * 9973) % 1100))"
_CY = "(3750170 + (({id} * 7919) % 1100))"
_H = "(5 + ({id} % 40))"

IS_INVALID = "({id} % 1000 = 999)"
IS_HOT = "({id} % 10 = 0 AND NOT ({id} % 1000 = 999))"
IS_POLY = "({id} % 10 = 7 AND NOT ({id} % 1000 = 999))"
IS_POINT = "(NOT ({id} % 10 = 0) AND NOT ({id} % 10 = 7) AND NOT ({id} % 1000 = 999))"


def _fmt(template: str, id_expr: str) -> str:
    return template.replace("{id}", id_expr)


def geom_cols_sql(id_expr: str) -> dict[str, str]:
    """SQL expressions (Spark & DuckDB compatible) for the geometry of
    doc `id`: gx/gy = representative point (polygon center), half =
    polygon half-size (0 for points), valid flag.

    Integer division: Spark `div`, DuckDB `//`... both avoided — we use
    floor(a / b) which is identical in both engines for positive ints.
    """
    e = lambda t: _fmt(t, id_expr)  # noqa: E731
    hot = _fmt(IS_HOT, id_expr)
    poly = _fmt(IS_POLY, id_expr)
    invalid = _fmt(IS_INVALID, id_expr)
    hx = f"(440900 + (CAST(floor({id_expr} / 10) AS BIGINT) % 25))"
    hy = f"(3750300 + (CAST(floor({id_expr} / 20) AS BIGINT) % 25))"
    gx = f"(CASE WHEN {hot} THEN {hx} WHEN {poly} THEN {e(_CX)} ELSE {e(_PX)} END)"
    gy = f"(CASE WHEN {hot} THEN {hy} WHEN {poly} THEN {e(_CY)} ELSE {e(_PY)} END)"
    half = f"(CASE WHEN {poly} THEN {e(_H)} ELSE 0 END)"
    return {"gx": gx, "gy": gy, "half": half, "valid": f"(NOT {invalid})", "is_poly": poly}


def geom_wkt_sql(id_expr: str) -> str:
    """WKT text of the geom span (Spark & DuckDB compatible string ops)."""
    c = geom_cols_sql(id_expr)
    gx, gy, h = c["gx"], c["gy"], c["half"]
    x1, y1 = f"({gx} - {h})", f"({gy} - {h})"
    x2, y2 = f"({gx} + {h})", f"({gy} + {h})"
    s = lambda v: f"CAST({v} AS STRING)"  # noqa: E731
    point = f"CONCAT('POINT (', {s(gx)}, ' ', {s(gy)}, ')')"
    poly = (
        f"CONCAT('POLYGON ((', {s(x1)}, ' ', {s(y1)}, ',', {s(x1)}, ' ', {s(y2)}, ','"
        f", {s(x2)}, ' ', {s(y2)}, ',', {s(x2)}, ' ', {s(y1)}, ',', {s(x1)}, ' ', {s(y1)}, '))')"
    )
    return (
        f"(CASE WHEN {_fmt(IS_INVALID, id_expr)} THEN 'POINT (BROKEN' "
        f"WHEN {c['is_poly']} THEN {poly} ELSE {point} END)"
    )


def docs_table(
    spark: SparkSession,
    n: int | None = None,
    ids: DataFrame | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """The F1 interleaved docs table, from spark.range(n) or a
    caller-provided single-column `id` DataFrame. num_partitions
    fixes the task granularity (bench uses it so runs at different
    cluster sizes execute the identical plan)."""
    if ids is None:
        if n is None:
            raise ValueError("need n or ids")
        ids = spark.range(0, n, 1, num_partitions) if num_partitions else spark.range(n)
    wkt = geom_wkt_sql("id")
    spans = f"""
      filter(array(
        named_struct('kind', 'text', 'text', concat('title of doc ', cast(id as string)),
                     'media_ref', '', 'offset', 0),
        CASE WHEN id % 3 = 0 THEN
          named_struct('kind', 'media', 'text', '',
                       'media_ref', concat('fake://media/', cast((id * 2654435761) % 100000 as string), '.jpg'),
                       'offset', 0)
        ELSE null END,
        named_struct('kind', 'geom', 'text', {wkt}, 'media_ref', '', 'offset', 0),
        CASE WHEN id % 2 = 0 THEN
          named_struct('kind', 'text', 'text', concat('body text ', cast(id % 1000 as string)),
                       'media_ref', '', 'offset', 0)
        ELSE null END
      ), s -> s IS NOT NULL)
    """
    # re-number offsets 0..len-1 after the filter (span-sequence invariant)
    spans = f"""
      transform({spans}, (s, i) ->
        named_struct('kind', s.kind, 'text', s.text, 'media_ref', s.media_ref,
                     'offset', cast(i as int)))
    """
    extra = [F.col(c) for c in ids.columns if c != "id"]
    return ids.select(
        F.format_string("doc_%08d", F.col("id")).alias("doc_id"),
        F.expr(spans).alias("spans"),
        F.col("id").alias("_id"),  # kept for tests/bench joins; drop for pure F1 shape
        *extra,
    )


# -- F2: zones (poly.shp analog, broadcast side) ----------------------------

# 10 polygons in the byte20 extent. fids 0-9; eas_id values mirror the
# reference fixture list (autotest poly.shp DBF, SURVEY.md F2).
ZONE_EAS = [168, 179, 171, 173, 172, 169, 166, 158, 165, 170]

# 8 axis-parallel rectangles (SQL-oracle-friendly) + 1 L-shape (envelope
# trap) + 1 rectangle-with-hole (even-odd trap). Exact WKT fixed here.
ZONE_WKTS = [
    "POLYGON ((440750 3750150,440750 3750450,441050 3750450,441050 3750150,440750 3750150))",
    "POLYGON ((441100 3750200,441100 3750500,441400 3750500,441400 3750200,441100 3750200))",
    "POLYGON ((440800 3750600,440800 3750900,441100 3750900,441100 3750600,440800 3750600))",
    "POLYGON ((441200 3750700,441200 3751000,441500 3751000,441500 3750700,441200 3750700))",
    "POLYGON ((440750 3751000,440750 3751250,441000 3751250,441000 3751000,440750 3751000))",
    "POLYGON ((441550 3750150,441550 3750400,441800 3750400,441800 3750150,441550 3750150))",
    "POLYGON ((441550 3750500,441550 3750800,441850 3750800,441850 3750500,441550 3750500))",
    "POLYGON ((441550 3750900,441550 3751200,441850 3751200,441850 3750900,441550 3750900))",
    # L-shape: envelope [441050,3751050]x[441450,3751300] but only the
    # left arm and bottom bar are solid (upper-right void)
    "POLYGON ((441050 3751050,441050 3751300,441150 3751300,441150 3751150,441450 3751150,441450 3751050,441050 3751050))",
    # rectangle with a hole
    "POLYGON ((440850 3750480,440850 3750580,441050 3750580,441050 3750480,440850 3750480),"
    "(440900 3750500,441000 3750500,441000 3750560,440900 3750560,440900 3750500))",
]


def zones_table(spark: SparkSession) -> DataFrame:
    rows = [(fid, ZONE_EAS[fid], ZONE_WKTS[fid]) for fid in range(10)]
    return spark.createDataFrame(rows, "fid bigint, eas_id bigint, wkt string")
