"""Multidimensional arrays (the gcore/multidim model: Groups own
N-dimensional Arrays with named Dimensions and attributes —
gcore/multidim/gdalmultidim_array.cpp, gdalmultidim.cpp).

Spark mapping: an MDArray is a CHUNKED table — one row per chunk,
keyed by the per-dimension chunk index (the Zarr layout the reference
itself reads); the payload is the packed numpy block. Operations:

  slice_array   GDALMDArray::GetView range slicing ("[a:b, c:d, ...]")
                — chunk-level pruning (only intersecting chunks move)
                then an in-chunk crop; returns a new spec + table
  as_classic    GDALMDArray::AsClassicDataset — a 2D (y_dim, x_dim)
                slice with the other dims fixed becomes a classic
                raster tile table consumable by every raster operator
                in this engine
  mdim_statistics  GDALMDArray::ComputeStatistics — distributive
                min/max/mean/std via per-chunk partials

Attributes/group metadata ride as plain dict fields on MDArraySpec
(the reference stores them as typed attribute objects; our engine's
schema registry role)."""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    IntegerType,
    StructField,
    StructType,
)

from gdal_spark.operators import tilecodec

MDCHUNK_SCHEMA = StructType(
    [
        StructField("chunk", ArrayType(IntegerType())),  # per-dim chunk idx
        StructField("payload", BinaryType()),
    ]
)


@dataclass(frozen=True)
class MDArraySpec:
    """One array's registry entry (name, dims, chunking, attrs)."""

    name: str
    dims: tuple  # ((dim_name, size), ...)
    chunks: tuple  # per-dim chunk sizes
    dtype: str = "float64"
    attrs: dict = field(default_factory=dict)

    @property
    def ndim(self) -> int:
        return len(self.dims)

    def nchunks(self, d: int) -> int:
        return (self.dims[d][1] + self.chunks[d] - 1) // self.chunks[d]

    def chunk_shape(self, key) -> tuple:
        return tuple(
            min(self.chunks[d], self.dims[d][1] - key[d] * self.chunks[d])
            for d in range(self.ndim)
        )


def from_numpy(spark: SparkSession, arr: np.ndarray, spec: MDArraySpec) -> DataFrame:
    """Chunk a local array into the table layout (test/ingest helper)."""
    rows = []
    ranges = [range(spec.nchunks(d)) for d in range(spec.ndim)]
    import itertools

    for key in itertools.product(*ranges):
        sl = tuple(
            slice(key[d] * spec.chunks[d], key[d] * spec.chunks[d] + spec.chunk_shape(key)[d])
            for d in range(spec.ndim)
        )
        rows.append({"chunk": list(key), "payload": tilecodec.encode(arr[sl])})
    return spark.createDataFrame(pd.DataFrame(rows), MDCHUNK_SCHEMA)


def slice_array(
    df: DataFrame, spec: MDArraySpec, ranges: list[tuple[int, int]]
) -> tuple[DataFrame, MDArraySpec]:
    """GetView range slicing: ranges = [(start, stop), ...] half-open
    per dimension. Chunk pruning is a Catalyst filter on the chunk key
    (only intersecting chunks are read); the crop runs per chunk."""
    assert len(ranges) == spec.ndim
    cond = F.lit(True)
    for d, (a, b) in enumerate(ranges):
        c0, c1 = a // spec.chunks[d], (b - 1) // spec.chunks[d]
        cond = cond & (F.col("chunk")[d] >= c0) & (F.col("chunk")[d] <= c1)
    pruned = df.filter(cond)
    new_dims = tuple(
        (spec.dims[d][0], ranges[d][1] - ranges[d][0]) for d in range(spec.ndim)
    )
    new_spec = MDArraySpec(spec.name, new_dims, spec.chunks, spec.dtype, dict(spec.attrs))

    chunks = spec.chunks
    dtype = spec.dtype
    ndim = spec.ndim
    dims = spec.dims

    # cropped pieces do not align to the output chunk grid, so slicing
    # is a RE-CHUNK: emit each piece split at new-chunk boundaries
    # (keyed by the new chunk + local offset), then one groupBy(chunk)
    # assembles the output blocks — a single bounded shuffle, the
    # materializing read of the reference's lazy GetView
    import itertools

    PIECE = StructType(
        [
            StructField("chunk", ArrayType(IntegerType())),
            StructField("off", ArrayType(IntegerType())),  # offset in chunk
            StructField("shape", ArrayType(IntegerType())),
            StructField("payload", BinaryType()),
        ]
    )

    def _pieces(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                key = list(r.chunk)
                shape = tuple(
                    min(chunks[d], dims[d][1] - key[d] * chunks[d]) for d in range(ndim)
                )
                block = tilecodec.decode(r.payload, dtype, shape, key)
                crop_sl = []
                new_off = []  # global offset of the crop in slice coords
                ok = True
                for d in range(ndim):
                    g0 = key[d] * chunks[d]
                    a, b = ranges[d]
                    lo = max(a, g0) - g0
                    hi = min(b, g0 + shape[d]) - g0
                    if hi <= lo:
                        ok = False
                        break
                    crop_sl.append(slice(lo, hi))
                    new_off.append(g0 + lo - a)
                if not ok:
                    continue
                crop = block[tuple(crop_sl)]
                # split at output-chunk boundaries per dim
                cuts = []
                for d in range(ndim):
                    o = new_off[d]
                    e = o + crop.shape[d]
                    bnds = [o]
                    nb = (o // chunks[d] + 1) * chunks[d]
                    while nb < e:
                        bnds.append(nb)
                        nb += chunks[d]
                    bnds.append(e)
                    cuts.append(list(zip(bnds[:-1], bnds[1:])))
                for combo in itertools.product(*cuts):
                    sl = tuple(
                        slice(c[0] - new_off[d], c[1] - new_off[d]) for d, c in enumerate(combo)
                    )
                    sub = np.ascontiguousarray(crop[sl])
                    rows.append(
                        {
                            "chunk": [c[0] // chunks[d] for d, c in enumerate(combo)],
                            "off": [c[0] % chunks[d] for d, c in enumerate(combo)],
                            "shape": list(sub.shape),
                            "payload": tilecodec.encode(sub),
                        }
                    )
            yield pd.DataFrame(rows, columns=["chunk", "off", "shape", "payload"])

    pieces = pruned.mapInPandas(_pieces, PIECE)
    new_sizes = [r[1] - r[0] for r in ranges]

    def _assemble(key, pdf):
        ck = [int(v) for v in key[0]]
        shape = tuple(
            min(chunks[d], new_sizes[d] - ck[d] * chunks[d]) for d in range(ndim)
        )
        out = np.zeros(shape, dtype=dtype)
        for r in pdf.itertuples(index=False):
            sl = tuple(
                slice(int(o), int(o) + int(s)) for o, s in zip(r.off, r.shape)
            )
            out[sl] = tilecodec.decode(r.payload, dtype, tuple(int(s) for s in r.shape), ck)
        return pd.DataFrame([{"chunk": ck, "payload": tilecodec.encode(out)}])

    assembled = pieces.groupBy("chunk").applyInPandas(_assemble, MDCHUNK_SCHEMA)
    return assembled, new_spec


def as_classic(
    df: DataFrame,
    spec: MDArraySpec,
    y_dim: str,
    x_dim: str,
    fixed: dict[str, int] | None = None,
):
    """AsClassicDataset: the (y_dim, x_dim) plane with every other
    dimension fixed becomes a classic raster tile table (band=1,
    ty/tx = the plane's chunk indices) + RasterSpec — directly
    consumable by focal/translate/contour/etc."""
    from gdal_spark.operators.raster import RasterSpec, TILE_SCHEMA

    fixed = fixed or {}
    names = [d[0] for d in spec.dims]
    yi, xi = names.index(y_dim), names.index(x_dim)
    for d, (nm, sz) in enumerate(spec.dims):
        if d not in (yi, xi) and nm not in fixed:
            raise ValueError(f"dimension {nm} must be fixed")
    h, w = spec.dims[yi][1], spec.dims[xi][1]
    rspec = RasterSpec(
        width=w, height=h, gt=(0.0, 1.0, 0.0, float(h), 0.0, -1.0),
        dtype=spec.dtype, tile_size=max(spec.chunks[yi], spec.chunks[xi]),
    )
    # chunk pruning on the fixed dims
    cond = F.lit(True)
    for nm, idx in fixed.items():
        d = names.index(nm)
        cond = cond & (F.col("chunk")[d] == idx // spec.chunks[d])
    pruned = df.filter(cond)

    chunks = spec.chunks
    dims = spec.dims
    dtype = spec.dtype
    ndim = spec.ndim

    def _plane(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                key = list(r.chunk)
                shape = tuple(
                    min(chunks[d], dims[d][1] - key[d] * chunks[d]) for d in range(ndim)
                )
                block = tilecodec.decode(r.payload, dtype, shape, key)
                sl = []
                for d in range(ndim):
                    if d == yi or d == xi:
                        sl.append(slice(None))
                    else:
                        nm = dims[d][0]
                        local = fixed[nm] - key[d] * chunks[d]
                        if not (0 <= local < shape[d]):
                            sl = None
                            break
                        sl.append(local)
                if sl is None:
                    continue
                plane = block[tuple(sl)]
                if yi > xi:
                    plane = plane.T
                plane = np.ascontiguousarray(plane)
                rows.append(tilecodec.tile_row(1, int(key[yi]), int(key[xi]), plane))
            yield pd.DataFrame(rows, columns=["band", "ty", "tx", "h", "w", "dtype", "payload"])

    return pruned.mapInPandas(_plane, TILE_SCHEMA), rspec


def mdim_statistics(df: DataFrame, spec: MDArraySpec):
    """ComputeStatistics via distributive per-chunk partials
    (count, sum, sum-of-squares, min, max) -> (min, max, mean, std)."""
    dtype = spec.dtype

    @F.pandas_udf("n long, s double, s2 double, mn double, mx double")
    def _part(chunk: pd.Series, payload: pd.Series) -> pd.DataFrame:
        out = []
        for key, p in zip(chunk, payload):
            key = tuple(int(k) for k in key)
            a = tilecodec.decode(p, dtype, spec.chunk_shape(key), key).ravel().astype(np.float64)
            out.append(
                {"n": a.size, "s": a.sum(), "s2": float((a * a).sum()),
                 "mn": float(a.min()), "mx": float(a.max())}
            )
        return pd.DataFrame(out)

    agg = (
        df.select(_part("chunk", "payload").alias("p"))
        .agg(
            F.sum("p.n").alias("n"), F.sum("p.s").alias("s"), F.sum("p.s2").alias("s2"),
            F.min("p.mn").alias("mn"), F.max("p.mx").alias("mx"),
        )
        .collect()[0]
    )
    mean = agg["s"] / agg["n"]
    var = max(agg["s2"] / agg["n"] - mean * mean, 0.0)
    return {"min": agg["mn"], "max": agg["mx"], "mean": mean, "std": float(np.sqrt(var))}


def mdim_mosaic(
    sources: list,
    increments: tuple,
    nodata: float = 0.0,
    out_chunks: tuple | None = None,
    name: str = "mosaic",
):
    """`gdal mdim mosaic` (apps/gdalalg_mdim_mosaic.cpp): combine
    arrays whose indexed dimensions have regularly-spaced indexing
    variables sharing one increment per dimension — the output's
    extent per dim is the UNION of the inputs' coordinate ranges, and
    each input lands at the integer offset its start value implies.
    Sources are written in order: later inputs win on overlap (the
    VRT source order the reference emits); uncovered cells hold
    nodata.

    sources: [(chunk_df, MDArraySpec, starts)] — starts = per-dim
    first coordinate value of that input. All offsets must land on
    the shared lattice (the reference errors otherwise; so do we).

    Distributed shape (the N-D gdal_retile): each source chunk slices
    into the pieces that overlap output chunks, ONE exchange on the
    output chunk key moves every byte exactly once (plus a small rank
    int for write order), and assembly initializes the nodata canvas
    per output chunk. No driver data movement — the driver only does
    lattice arithmetic on dim metadata."""
    if not sources:
        raise ValueError("no sources")
    dtypes = {str(spec.dtype) for _, spec, _ in sources}
    if len(dtypes) > 1:
        # assembly reinterprets every piece's bytes as sources[0]'s
        # dtype — mixing would silently corrupt (same-itemsize) or
        # crash mid-job (different itemsize); the reference errors on
        # datatype mismatch up front
        raise ValueError(f"mdim_mosaic sources must share one dtype, got {sorted(dtypes)}")
    ndim = sources[0][1].ndim
    inc = [float(v) for v in increments]
    gstart = [min(float(s[d]) for _, _, s in sources) for d in range(ndim)]
    offs = []
    for _, spec, starts in sources:
        o = []
        for d in range(ndim):
            ratio = (float(starts[d]) - gstart[d]) / inc[d]
            k = round(ratio)
            if abs(ratio - k) > 1e-9:
                raise ValueError(
                    f"source start {starts[d]} of dim {d} is not on the shared lattice"
                )
            o.append(int(k))
        offs.append(o)
    out_size = [
        max(offs[i][d] + sources[i][1].dims[d][1] for i in range(len(sources)))
        for d in range(ndim)
    ]
    out_chunks = tuple(out_chunks or sources[0][1].chunks)
    dtype = sources[0][1].dtype
    out_spec = MDArraySpec(
        name=name,
        dims=tuple((sources[0][1].dims[d][0], out_size[d]) for d in range(ndim)),
        chunks=out_chunks,
        dtype=dtype,
    )

    piece_schema = StructType(
        [
            StructField("chunk", ArrayType(IntegerType())),
            StructField("rank", IntegerType()),
            StructField("pos", ArrayType(IntegerType())),  # offset in out chunk
            StructField("shape", ArrayType(IntegerType())),
            StructField("payload", BinaryType()),
        ]
    )

    spark = sources[0][0].sparkSession
    piece_dfs = []
    for rank, (df, spec, _starts) in enumerate(sources):
        src_chunks = tuple(spec.chunks)
        src_shape = tuple(s for _, s in spec.dims)
        off = offs[rank]

        def _slice(batches: Iterator[pd.DataFrame], _sc=src_chunks, _ss=src_shape, _off=off, _rank=rank, _dt=spec.dtype):
            oc = out_chunks
            for pdf in batches:
                rows = {"chunk": [], "rank": [], "pos": [], "shape": [], "payload": []}
                for _, r in pdf.iterrows():
                    ci = list(r["chunk"])
                    # this chunk's block extents in source coords
                    lo = [ci[d] * _sc[d] for d in range(ndim)]
                    hi = [min(lo[d] + _sc[d], _ss[d]) for d in range(ndim)]
                    block = tilecodec.decode(r["payload"], _dt, tuple(hi[d] - lo[d] for d in range(ndim)), ci)
                    # global (output) extents
                    glo = [lo[d] + _off[d] for d in range(ndim)]
                    ghi = [hi[d] + _off[d] for d in range(ndim)]
                    # overlapped output chunk ranges per dim
                    c0 = [glo[d] // oc[d] for d in range(ndim)]
                    c1 = [(ghi[d] - 1) // oc[d] for d in range(ndim)]
                    idx = [0] * ndim

                    def emit(dim: int):
                        if dim == ndim:
                            sel = []
                            pos = []
                            shp = []
                            out_ci = []
                            for d in range(ndim):
                                oc0 = idx[d] * oc[d]
                                a = max(glo[d], oc0)
                                b = min(ghi[d], oc0 + oc[d])
                                sel.append(slice(a - glo[d], b - glo[d]))
                                pos.append(a - oc0)
                                shp.append(b - a)
                                out_ci.append(idx[d])
                            piece = np.ascontiguousarray(block[tuple(sel)])
                            rows["chunk"].append(out_ci)
                            rows["rank"].append(_rank)
                            rows["pos"].append(pos)
                            rows["shape"].append(shp)
                            rows["payload"].append(tilecodec.encode(piece))
                            return
                        for v in range(c0[dim], c1[dim] + 1):
                            idx[dim] = v
                            emit(dim + 1)

                    emit(0)
                if rows["chunk"]:
                    yield pd.DataFrame(rows)

        piece_dfs.append(df.mapInPandas(_slice, piece_schema))

    pieces = piece_dfs[0]
    for p in piece_dfs[1:]:
        pieces = pieces.unionByName(p)

    # seed every output chunk key (JVM-side id decomposition) so
    # chunks NO source covers still materialize as nodata canvases
    n_chunks = [(out_size[d] + out_chunks[d] - 1) // out_chunks[d] for d in range(ndim)]
    total = 1
    for c in n_chunks:
        total *= c
    seed = spark.range(total).select(F.col("id"))
    idx_cols = []
    rem = F.col("id")
    for d in range(ndim - 1, -1, -1):
        idx_cols.insert(0, (rem % n_chunks[d]).cast("int"))
        rem = (rem / n_chunks[d]).cast("long")
    seeds = seed.select(
        F.array(*idx_cols).alias("chunk"),
        F.lit(-1).cast("int").alias("rank"),
        F.array(*[F.lit(0).cast("int")] * ndim).alias("pos"),
        F.array(*[F.lit(0).cast("int")] * ndim).alias("shape"),
        F.lit(b"").alias("payload"),
    )
    pieces = pieces.unionByName(seeds)

    def _assemble(key, pdf):
        ci = [int(v) for v in pdf["chunk"].iloc[0]]
        shape = [
            min((ci[d] + 1) * out_chunks[d], out_size[d]) - ci[d] * out_chunks[d]
            for d in range(ndim)
        ]
        canvas = np.full(shape, nodata, dtype=dtype)
        for _, r in pdf.sort_values("rank").iterrows():
            if int(r["rank"]) < 0:  # seed row: nodata canvas only
                continue
            pos = [int(v) for v in r["pos"]]
            shp = [int(v) for v in r["shape"]]
            piece = tilecodec.decode(r["payload"], dtype, tuple(shp), ci)
            canvas[tuple(slice(pos[d], pos[d] + shp[d]) for d in range(ndim))] = piece
        return pd.DataFrame([{"chunk": ci, "payload": tilecodec.encode(canvas)}])

    out_df = pieces.groupBy("chunk").applyInPandas(_assemble, MDCHUNK_SCHEMA)
    return out_df, out_spec


def mdim_reproject(
    df: DataFrame,
    spec: MDArraySpec,
    y_dim: str,
    x_dim: str,
    src_gt: tuple,
    pipeline,
    dst_raster_spec,
    resampling: str = "near",
    fixed: dict[str, int] | None = None,
):
    """`gdal mdim reproject` (apps/gdalalg_mdim_reproject.cpp): warp
    the (y_dim, x_dim) plane of an md array between CRSs — pure
    composition: AsClassicDataset with the dims' real geotransform,
    the existing distributed warp driver targeting the destination
    grid (GridTMS), and re-chunking of the result back into an
    MDArray table. Returns (chunk_df, 2D MDArraySpec)."""
    from gdal_spark.operators.raster import RasterSpec
    from gdal_spark.operators.tiles import raster_tile
    from gdal_spark.operators.update import GridTMS

    tiles, r0 = as_classic(df, spec, y_dim, x_dim, fixed)
    rspec = RasterSpec(
        width=r0.width, height=r0.height, gt=tuple(src_gt),
        dtype=r0.dtype, nbands=1, tile_size=r0.tile_size,
    )
    warped = raster_tile(
        tiles, rspec, pipeline, min_zoom=0, max_zoom=0,
        resampling=resampling, tms=GridTMS(dst_raster_spec),
    ).filter(F.col("band") == 1)
    out_spec = MDArraySpec(
        name=f"{spec.name}_reprojected",
        dims=((y_dim, dst_raster_spec.height), (x_dim, dst_raster_spec.width)),
        chunks=(dst_raster_spec.tile_size, dst_raster_spec.tile_size),
        dtype=spec.dtype,
    )
    ts = dst_raster_spec.tile_size
    H, W = dst_raster_spec.height, dst_raster_spec.width
    dtype = spec.dtype

    def _to_chunks(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                ty, tx = int(r.ty), int(r.tx)
                h = min(ts, H - ty * ts)
                w = min(ts, W - tx * ts)
                if h <= 0 or w <= 0:
                    continue
                block = tilecodec.decode_row(r, ts)
                rows.append({"chunk": [ty, tx], "payload": tilecodec.encode(block[:h, :w], dtype)})
            if rows:
                yield pd.DataFrame(rows)

    return warped.mapInPandas(_to_chunks, MDCHUNK_SCHEMA), out_spec


def mdim_transpose(
    df: DataFrame, spec: MDArraySpec, axes: tuple
) -> tuple[DataFrame, MDArraySpec]:
    """GDALMDArray::Transpose (gcore/multidim/
    gdalmultidim_array_transposed.cpp:195+ — the reference builds a
    lazy transposed view and re-orders on read): axis permutation of
    the chunk table. Spark shape: MAP-ONLY — the chunk key permutes
    and each block transposes inside one Arrow pass; no shuffle, the
    chunk lattice maps 1:1."""
    axes = tuple(int(a) for a in axes)
    if sorted(axes) != list(range(spec.ndim)):
        raise ValueError(f"axes must be a permutation of 0..{spec.ndim - 1}")
    out_spec = MDArraySpec(
        name=f"{spec.name}_transposed",
        dims=tuple(spec.dims[a] for a in axes),
        chunks=tuple(spec.chunks[a] for a in axes),
        dtype=spec.dtype,
        attrs=dict(spec.attrs),
    )
    src = spec

    def _t(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                key = list(r.chunk)
                shape = src.chunk_shape(key)
                block = tilecodec.decode(r.payload, src.dtype, shape, key)
                rows.append({"chunk": [key[a] for a in axes], "payload": tilecodec.encode(block.transpose(axes))})
            if rows:
                yield pd.DataFrame(rows)

    return df.mapInPandas(_t, MDCHUNK_SCHEMA), out_spec


def mdim_compare(
    ref_df: DataFrame,
    ref_spec: MDArraySpec,
    in_df: DataFrame,
    in_spec: MDArraySpec,
) -> dict:
    """`gdal mdim compare` (apps/gdalalg_mdim_compare.cpp:370-585
    CompareArray): shape/dtype report + the diff metrics — maximum
    pixel value difference, count of differing pixels, RMSD =
    sqrt(mean((ref-in)^2) over ALL pixels), PSNR (integer dtype:
    20*log10((2^bits-1)/RMSD); float: 20*log10((refmax-refmin)/RMSD),
    :537-574).

    Spark shape: ONE equi-join on the chunk key (both tables already
    live on the same lattice) + distributive per-chunk partials
    (n_diff, max|d|, sum d^2, ref min/max) folded by a single global
    aggregate — the same partial-aggregation pattern as
    mdim_statistics / gdalcompare. Returns the report dict."""
    report: list[str] = []
    nm = ref_spec.name
    if ref_spec.ndim != in_spec.ndim:
        report.append(
            f"Array {nm}: dimension count in reference is {ref_spec.ndim}, "
            f"whereas it is {in_spec.ndim} in input"
        )
        return {"report": report}
    rshape = [s for _, s in ref_spec.dims]
    ishape = [s for _, s in in_spec.dims]
    if rshape != ishape:
        report.append(
            f"Array {nm}: shape in reference is {rshape}, whereas it is "
            f"{ishape} in input"
        )
        return {"report": report}
    if ref_spec.dtype != in_spec.dtype:
        report.append(
            f"Array {nm}: data type in reference is {ref_spec.dtype}, "
            f"whereas it is {in_spec.dtype} in input"
        )
    if ref_spec.chunks != in_spec.chunks:
        # the reference reads both arrays through the lazy diff
        # array's own processing chunks; our table model's analog is
        # a shared lattice — rechunk one side first (mdim_mosaic of a
        # single source onto the other lattice)
        raise ValueError(
            "mdim_compare needs both arrays on the same chunk lattice; "
            "rechunk one side first"
        )

    src = ref_spec

    def _partials(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                key = list(r.chunk)
                shape = src.chunk_shape(key)
                a = tilecodec.decode(r.p1, src.dtype, shape, key).astype(np.float64)
                b = tilecodec.decode(r.p2, src.dtype, shape, key).astype(np.float64)
                d = a - b
                rows.append(
                    {
                        "n": int(d.size),
                        "n_diff": int(np.count_nonzero(d)),
                        "max_abs": float(np.max(np.abs(d))) if d.size else 0.0,
                        "sum_sq": float(np.sum(d * d)),
                        "rmin": float(np.min(a)) if a.size else 0.0,
                        "rmax": float(np.max(a)) if a.size else 0.0,
                    }
                )
            if rows:
                yield pd.DataFrame(rows)

    joined = ref_df.join(
        in_df.withColumnRenamed("payload", "p2"), "chunk"
    ).select("chunk", F.col("payload").alias("p1"), "p2")
    agg = (
        joined.mapInPandas(
            _partials,
            "n long, n_diff long, max_abs double, sum_sq double, "
            "rmin double, rmax double",
        )
        .agg(
            F.sum("n").alias("n"),
            F.sum("n_diff").alias("n_diff"),
            F.max("max_abs").alias("max_abs"),
            F.sum("sum_sq").alias("sum_sq"),
            F.min("rmin").alias("rmin"),
            F.max("rmax").alias("rmax"),
        )
        .collect()[0]
    )
    out = {
        "report": report,
        "n_pixels": int(agg["n"] or 0),
        "pixels_differing": int(agg["n_diff"] or 0),
        "max_diff": float(agg["max_abs"] or 0.0),
    }
    if out["pixels_differing"]:
        report.append(
            f"Array {nm}: maximum pixel value difference: {out['max_diff']:g}"
        )
        report.append(f"Array {nm}: pixels differing: {out['pixels_differing']}")
    rmsd = float(np.sqrt(agg["sum_sq"] / agg["n"])) if agg["n"] else 0.0
    out["rmsd"] = rmsd
    if rmsd > 0:
        report.append(f"Array {nm}: RMSD: {rmsd:g}")
        dt = np.dtype(src.dtype)
        if np.issubdtype(dt, np.integer):
            amp = float(2.0 ** (dt.itemsize * 8) - 1)
        else:
            amp = float(agg["rmax"]) - float(agg["rmin"])
        psnr = 20.0 * np.log10(amp / rmsd) if amp > 0 else float("nan")
        out["psnr"] = float(psnr)
        report.append(f"Array {nm}: PSNR (dB): {psnr:g}")
    return out


# ---------------------------------------------------------------------------
# gdal mdim info (apps/gdalalg_mdim_info.cpp -> gdalmdiminfo_lib.cpp)
# ---------------------------------------------------------------------------

# numpy dtype -> GDALExtendedDataType name (gcore/gdal.h GDT_* table)
_GDAL_TYPE_NAME = {
    "uint8": "Byte", "int8": "Int8", "uint16": "UInt16", "int16": "Int16",
    "uint32": "UInt32", "int32": "Int32", "uint64": "UInt64",
    "int64": "Int64", "float16": "Float16", "float32": "Float32",
    "float64": "Float64", "complex64": "CFloat32", "complex128": "CFloat64",
}


def mdim_info(
    arrays: dict,
    *,
    driver: str | None = None,
    group_name: str = "/",
    group_attrs: dict | None = None,
    array: str | None = None,
    summary: bool = False,
    detailed: bool = False,
    stats: bool = False,
) -> dict:
    """`gdal mdim info` (apps/gdalalg_mdim_info.cpp; JSON shape from
    gdalmdiminfo_lib.cpp DumpGroup :1086 / DumpArray :818): a
    JSON-shaped dict describing a group of MDArrays.

    `arrays` maps array name -> MDArraySpec or (MDArraySpec, chunk
    DataFrame). Pure metadata except --stats (delegates to the
    distributive mdim_statistics, :958-979's ComputeStatistics call)
    and --detailed values (gathers chunks driver-side — the reference
    also serializes every value into one report there, so a driver
    gather IS the reference cost shape; fine at info scale, not a data
    path).

    Key order and presence mirror the reference serializer: group =
    type/driver/name/attributes/dimensions/arrays; per-array =
    datatype/dimensions/dimension_size/block_size/attributes/unit/
    nodata_value/offset/scale; first dimension occurrence dumps the
    full record, repeats collapse to the "/name" reference string
    (DumpDimensions' alreadyDumpedDimensions set). --summary reports
    only the hierarchy (:856-857, :1121-1144); --array restricts to
    one array serialized standalone with type/name (:73 DumpArray
    bOutputObjType/bOutputName true)."""

    def _pair(v):
        return v if isinstance(v, tuple) else (v, None)

    if array is not None:
        if array not in arrays:
            raise ValueError(f"Cannot find array '{array}'.")
        spec, df = _pair(arrays[array])
        rec = {"type": "array", "name": array}
        if not summary:
            rec.update(_array_body(spec, df, set(), detailed, stats))
        return rec

    dumped_dims: set[str] = set()
    out: dict = {"type": "group"}
    if driver:
        out["driver"] = driver
    out["name"] = group_name
    if not summary:
        if group_attrs:
            out["attributes"] = dict(group_attrs)
        # group-level dimensions: union over member arrays, first-seen
        # order (GDALGroup::GetDimensions of the flat MEM group)
        dims = []
        for name in arrays:
            spec, _df = _pair(arrays[name])
            for dname, size in spec.dims:
                if "/" + dname not in dumped_dims:
                    dumped_dims.add("/" + dname)
                    dims.append({"name": dname, "full_name": "/" + dname,
                                 "size": int(size)})
        if dims:
            out["dimensions"] = dims
    arrs = {}
    for name in arrays:
        spec, df = _pair(arrays[name])
        rec = {"full_name": "/" + name}
        if not summary:
            rec.update(_array_body(spec, df, dumped_dims, detailed, stats))
        arrs[name] = rec
    if arrs:
        out["arrays"] = arrs
    return out


def _array_body(spec, df, dumped_dims: set, detailed: bool, stats: bool) -> dict:
    rec: dict = {"datatype": _GDAL_TYPE_NAME.get(spec.dtype, spec.dtype)}
    dims_out = []
    for dname, size in spec.dims:
        full = "/" + dname
        if full in dumped_dims:
            dims_out.append(full)
        else:
            dumped_dims.add(full)
            dims_out.append({"name": dname, "full_name": full, "size": int(size)})
    if dims_out:
        rec["dimensions"] = dims_out
        rec["dimension_size"] = [int(s) for _n, s in spec.dims]
    if any(spec.chunks):
        rec["block_size"] = [int(c) for c in spec.chunks]
    # reserved attribute keys surface as their dedicated JSON keys
    # (GetUnit/GetRawNoDataValue/GetOffset/GetScale); the rest stay
    # under "attributes"
    attrs = {k: v for k, v in spec.attrs.items()
             if k not in ("unit", "nodata", "offset", "scale")}
    if attrs:
        rec["attributes"] = attrs
    if "unit" in spec.attrs:
        rec["unit"] = spec.attrs["unit"]
    if "nodata" in spec.attrs:
        rec["nodata_value"] = spec.attrs["nodata"]
    if "offset" in spec.attrs:
        rec["offset"] = spec.attrs["offset"]
    if "scale" in spec.attrs:
        rec["scale"] = spec.attrs["scale"]
    if detailed and df is not None:
        full = np.zeros([s for _n, s in spec.dims], dtype=spec.dtype)
        for row in df.collect():
            key = tuple(row["chunk"])
            shape = spec.chunk_shape(key)
            sl = tuple(
                slice(key[d] * spec.chunks[d], key[d] * spec.chunks[d] + shape[d])
                for d in range(spec.ndim)
            )
            full[sl] = tilecodec.decode(row["payload"], spec.dtype, shape, key)
        rec["values"] = full.tolist()
    if stats and df is not None:
        s = mdim_statistics(df, spec)
        rec["statistics"] = {
            "min": float(s["min"]), "max": float(s["max"]),
            "mean": float(s["mean"]), "stddev": float(s["std"]),
        }
    return rec
