"""Tiled GeoTIFF / Cloud-Optimized GeoTIFF (COG) sink + independent reader
over the tile-table raster model.

Format per the public TIFF 6.0 and BigTIFF specs and the reference's
GeoTIFF writer semantics (/root/reference/frmts/gtiff/ — tag choices,
GDAL_NODATA ascii tag, ModelPixelScale vs ModelTransformation split) and
COG layout rules (/root/reference/frmts/cog/cogdriver.cpp — all IFDs
before any tile data; tile data ordered smallest overview first, full
resolution last; overviews halve with ceil() until the level fits a
single tile).

What the file contains:

  * classic TIFF ("II*\\0", 4-byte offsets) or BigTIFF ("II+\\0",
    8-byte offsets); auto-upgrades to BigTIFF when the laid-out file
    would cross 4 GiB.
  * one IFD per resolution level: full resolution first in directory
    order (COG rule), each overview tagged NewSubfileType=1
    (reduced-resolution, TIFF 6.0 p.36).
  * tiled layout (tags 322/323/324/325); edge tiles zero-padded to the
    tile size as the spec requires; PlanarConfiguration=2 (separate
    planes) for multi-band, tile offsets ordered plane-major.
  * per-tile DEFLATE (Compression=8, zlib streams) or none.
  * GeoTIFF 1.1 georeferencing on the full-resolution IFD:
    ModelPixelScale+ModelTiepoint for axis-aligned geotransforms,
    ModelTransformation (4x4) when the GT has rotation terms, and a
    GeoKeyDirectory carrying GTModelType/GTRasterType and the EPSG
    code (ProjectedCRSGeoKey 3072 / GeodeticCRSGeoKey 2048).
  * GDAL_NODATA (tag 42113, ascii) when a nodata value is given.

Distributed shape (the 100 TB contract): tile payloads, overview
reduction, padding and DEFLATE all run in executors (Arrow-batched
mapInPandas / applyInPandas — each overview level is one groupBy of
<=4 children per parent, the same shuffle shape as overview_level).
The archive itself is one sequential file, so the sink makes two
passes over the persisted compressed-tile table: (1) collect only
(level, band, ty, tx, nbytes) — a few dozen bytes per tile, the same
order of size as the TileOffsets arrays any TIFF writer must hold —
to lay out IFDs and offsets; (2) stream payloads via toLocalIterator
in whatever order the partitions hold them and seek each to the
offset the layout already gave it: no sort, so no range-sampling job
and no shuffle of the compressed payloads. Driver memory stays bounded
by one partition, never the raster.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from gdal_spark.operators import tilecodec
from gdal_spark.operators.raster import TILE_SCHEMA, RasterSpec, downsample2x

# TIFF tag ids (TIFF 6.0 / GeoTIFF 1.1 / GDAL)
TAG_NEW_SUBFILE_TYPE = 254
TAG_IMAGE_WIDTH = 256
TAG_IMAGE_LENGTH = 257
TAG_BITS_PER_SAMPLE = 258
TAG_COMPRESSION = 259
TAG_PHOTOMETRIC = 262
TAG_SAMPLES_PER_PIXEL = 277
TAG_PLANAR_CONFIG = 284
TAG_TILE_WIDTH = 322
TAG_TILE_LENGTH = 323
TAG_TILE_OFFSETS = 324
TAG_TILE_BYTE_COUNTS = 325
TAG_SAMPLE_FORMAT = 339
TAG_MODEL_PIXEL_SCALE = 33550
TAG_MODEL_TIEPOINT = 33922
TAG_MODEL_TRANSFORMATION = 34264
TAG_GEO_KEY_DIRECTORY = 34735
TAG_GDAL_NODATA = 42113

TYPE_SHORT = 3  # uint16
TYPE_LONG = 4  # uint32
TYPE_DOUBLE = 12
TYPE_ASCII = 2
TYPE_LONG8 = 16  # BigTIFF uint64

_TYPE_SIZE = {TYPE_SHORT: 2, TYPE_LONG: 4, TYPE_DOUBLE: 8, TYPE_ASCII: 1, TYPE_LONG8: 8}

COMPRESSION_NONE = 1
COMPRESSION_DEFLATE = 8  # "Adobe" deflate — zlib streams, what GDAL writes

# dtype -> (BitsPerSample, SampleFormat): 1 unsigned, 2 signed, 3 float
_DTYPE_TIFF = {
    "uint8": (8, 1), "int8": (8, 2),
    "uint16": (16, 1), "int16": (16, 2),
    "uint32": (32, 1), "int32": (32, 2),
    "uint64": (64, 1), "int64": (64, 2),
    "float32": (32, 3), "float64": (64, 3),
}
_TIFF_DTYPE = {v: k for k, v in _DTYPE_TIFF.items()}


# ---------------------------------------------------------------------------
# overview pyramid (COG rule: halve with ceil until the level fits one tile)


def cog_overview_dims(width: int, height: int, tile_size: int) -> list[tuple[int, int]]:
    """Per-level (width, height), index 0 = full resolution. Matches the
    reference COG driver's default: overviews until the smallest fits in
    a single tile (cogdriver.cpp overview count selection)."""
    dims = [(width, height)]
    w, h = width, height
    while w > tile_size or h > tile_size:
        w, h = (w + 1) // 2, (h + 1) // 2
        dims.append((w, h))
    return dims


def downsample_level(
    tiles: DataFrame, src_spec: RasterSpec, resampling: str = "average"
) -> tuple[DataFrame, RasterSpec]:
    """One overview level down (2x) of a (band, ty, tx, h, w, dtype,
    payload) tile table with edge-aware GDAL AVERAGE semantics:
    destination pixel i averages source [2i, min(2i+2, src)) in each
    axis, integer rounding (sum + n/2) / n — the reference's
    GDALDownsampleChunk32R_Average edge handling (overview.cpp). With an
    even tile size no 2x2 block straddles a tile boundary, so each
    parent tile is exactly a groupBy of <=4 children (one narrow
    shuffle per level, no halo)."""
    if src_spec.tile_size % 2:
        raise ValueError("tile_size must be even")
    ts = src_spec.tile_size
    g0, g1, g2, g3, g4, g5 = src_spec.gt
    dst = RasterSpec(
        width=(src_spec.width + 1) // 2, height=(src_spec.height + 1) // 2,
        gt=(g0, g1 * 2.0, g2 * 2.0, g3, g4 * 2.0, g5 * 2.0),
        dtype=src_spec.dtype, nbands=src_spec.nbands, tile_size=ts)
    src_w, src_h = src_spec.width, src_spec.height
    near = resampling == "near"

    child = tiles.select(
        "band", "dtype", "payload", "h", "w",
        (F.col("tx") / 2).cast("int").alias("ptx"),
        (F.col("ty") / 2).cast("int").alias("pty"),
        (F.col("tx") % 2).cast("int").alias("qx"),
        (F.col("ty") % 2).cast("int").alias("qy"),
    )

    fill = float(src_spec.init)

    def _merge(key, pdf):
        band, ptx, pty = int(key[0]), int(key[1]), int(key[2])
        dt = pdf["dtype"].iloc[0]
        # source region this parent covers, in source pixels; absent
        # child tiles are init-valued (sparse tile-table contract)
        rx0, ry0 = ptx * 2 * ts, pty * 2 * ts
        rw = min(2 * ts, src_w - rx0)
        rh = min(2 * ts, src_h - ry0)
        region = np.full((rh, rw), fill, dtype=dt)
        tilecodec.paste(region, pdf, pdf["qy"].to_numpy() * ts, pdf["qx"].to_numpy() * ts)
        return pd.DataFrame([tilecodec.tile_row(band, pty, ptx, downsample2x(region, near))])

    return child.groupBy("band", "ptx", "pty").applyInPandas(_merge, TILE_SCHEMA), dst


# ---------------------------------------------------------------------------
# layout arithmetic (shared by writer, reader tests and the driver query)


def tiles_across(dim: int, tile_size: int) -> int:
    return (dim + tile_size - 1) // tile_size


# ---------------------------------------------------------------------------
# writer


def _compress_tiles(tiles: DataFrame, spec: RasterSpec, ovr: int, compress: str) -> DataFrame:
    """Pad edge tiles to the tile grid (TIFF 6.0 p.67: tiles are always
    TileWidth x TileLength) and DEFLATE-compress, all executor-side."""
    ts = spec.tile_size
    do_zip = compress == "deflate"

    def _prep(batches):
        for pdf in batches:
            out = []
            for r, t in zip(pdf.itertuples(index=False), tilecodec.decode_batch(pdf)):
                if t.shape != (ts, ts):
                    full = np.zeros((ts, ts), dtype=t.dtype)
                    full[: t.shape[0], : t.shape[1]] = t
                    t = full
                raw = t.tobytes()
                blob = zlib.compress(raw, 6) if do_zip else raw
                out.append({"ovr": ovr, "band": int(r.band), "ty": int(r.ty),
                            "tx": int(r.tx), "nbytes": len(blob), "blob": blob})
            yield pd.DataFrame(out, columns=["ovr", "band", "ty", "tx", "nbytes", "blob"])

    return tiles.mapInPandas(
        _prep, "ovr int, band int, ty int, tx int, nbytes long, blob binary"
    )


class _IFDBuilder:
    """One IFD's entries; values larger than the inline slot go to a
    shared out-of-line area whose position is known before render."""

    def __init__(self, big: bool):
        self.big = big
        self.entries: list[tuple[int, int, int, bytes]] = []  # tag, type, count, payload

    def add(self, tag: int, typ: int, values) -> None:
        if typ == TYPE_ASCII:
            payload = values if isinstance(values, bytes) else values.encode()
            count = len(payload)
        else:
            fmt = {TYPE_SHORT: "H", TYPE_LONG: "I", TYPE_DOUBLE: "d", TYPE_LONG8: "Q"}[typ]
            vals = list(values) if hasattr(values, "__len__") else [values]
            payload = struct.pack("<" + fmt * len(vals), *vals)
            count = len(vals)
        self.entries.append((tag, typ, count, payload))

    def size(self) -> int:
        n = len(self.entries)
        return (8 + n * 20 + 8) if self.big else (2 + n * 12 + 4)

    def overflow(self) -> int:
        inline = 8 if self.big else 4
        return sum(len(p) + (len(p) & 1) for _, _, _, p in self.entries if len(p) > inline)

    def render(self, next_ifd: int, overflow_at: int) -> tuple[bytes, bytes]:
        inline = 8 if self.big else 4
        body = bytearray()
        over = bytearray()
        body += struct.pack("<Q" if self.big else "<H", len(self.entries))
        for tag, typ, count, payload in sorted(self.entries):
            body += struct.pack("<HH", tag, typ)
            body += struct.pack("<Q" if self.big else "<I", count)
            if len(payload) <= inline:
                body += payload + b"\0" * (inline - len(payload))
            else:
                body += struct.pack("<Q" if self.big else "<I", overflow_at + len(over))
                over += payload
                if len(over) & 1:
                    over += b"\0"
        body += struct.pack("<Q" if self.big else "<I", next_ifd)
        return bytes(body), bytes(over)


def _geokeys(epsg: int | None, model: str) -> list[int]:
    """GeoKeyDirectory shorts (GeoTIFF 1.1 §7.1): header + GTModelType,
    GTRasterType (PixelIsArea, the gcore corner convention RasterSpec
    documents), and the CRS code."""
    keys = [(1024, 0, 1, 2 if model == "geographic" else 1), (1025, 0, 1, 1)]
    if epsg is not None:
        keys.append((2048 if model == "geographic" else 3072, 0, 1, int(epsg)))
    out = [1, 1, 0, len(keys)]
    for k in keys:
        out.extend(k)
    return out


def write_cog(
    tiles: DataFrame,
    spec: RasterSpec,
    path: str,
    epsg: int | None = None,
    model: str = "projected",
    compress: str = "deflate",
    overviews: bool = True,
    resampling: str = "average",
    nodata: float | None = None,
    bigtiff: bool | str = "auto",
) -> dict:
    """Write a (band, ty, tx, h, w, dtype, payload) tile table as a
    Cloud-Optimized GeoTIFF. Sparse tables are fine: tiles absent from
    the DF are spec.init-valued (the rasterize contract) and share one
    deduplicated fill blob in the file. Returns {path, levels, tiles,
    sparse, bytes, bigtiff}. Overview reduction + padding + DEFLATE are
    distributed; the driver streams the payloads unsorted and writes
    each at its laid-out offset, so the file does not depend on the
    table's partitioning. Raises ValueError naming the tile key when a
    key occurs twice or a payload's length drifts from pass 1."""
    if compress not in ("deflate", "none"):
        raise ValueError(f"unsupported compress={compress!r}")
    if spec.dtype not in _DTYPE_TIFF:
        raise ValueError(f"unsupported dtype {spec.dtype}")
    ts = spec.tile_size
    dims = cog_overview_dims(spec.width, spec.height, ts) if overviews else [(spec.width, spec.height)]

    # build every level's compressed tiles as ONE DataFrame
    levels = [_compress_tiles(tiles, spec, 0, compress)]
    cur, cur_spec = tiles, spec
    for ovr in range(1, len(dims)):
        cur, cur_spec = downsample_level(cur, cur_spec, resampling=resampling)
        levels.append(_compress_tiles(cur, cur_spec, ovr, compress))
    allt = levels[0]
    for lv in levels[1:]:
        allt = allt.unionByName(lv)
    allt = allt.persist()

    # pass 1: sizes only (a TileOffsets-array worth of metadata)
    meta = {
        (int(r["ovr"]), int(r["band"]), int(r["ty"]), int(r["tx"])): int(r["nbytes"])
        for r in allt.select("ovr", "band", "ty", "tx", "nbytes").collect()
    }
    nbands = spec.nbands
    # sparse tile tables (rasterize emits only touched tiles) are legal:
    # every absent tile's offset points at ONE shared init-valued blob
    # written once at the start of the data area — the dedup trick the
    # TIFF offset model allows (and the PMTiles sink already uses)
    all_keys = set()
    for ovr, (w, h) in enumerate(dims):
        for band in range(1, nbands + 1):
            for ty in range(tiles_across(h, ts)):
                for tx in range(tiles_across(w, ts)):
                    all_keys.add((ovr, band, ty, tx))
    missing = all_keys - set(meta)
    extra = set(meta) - all_keys
    if extra:
        raise ValueError(f"tile table has {len(extra)} tiles outside the raster grid: {sorted(extra)[:3]}")
    fill_blob = b""
    if missing:
        ft = np.full((ts, ts), spec.init, dtype=spec.dtype)
        raw = ft.tobytes()
        fill_blob = zlib.compress(raw, 6) if compress == "deflate" else raw

    bits, sfmt = _DTYPE_TIFF[spec.dtype]

    def _layout(big: bool):
        # data order: smallest overview first, full res last
        order = []
        for ovr in range(len(dims) - 1, -1, -1):
            w, h = dims[ovr]
            for band in range(1, nbands + 1):
                for ty in range(tiles_across(h, ts)):
                    for tx in range(tiles_across(w, ts)):
                        order.append((ovr, band, ty, tx))
        ifds = []
        for ovr, (w, h) in enumerate(dims):
            b = _IFDBuilder(big)
            if ovr:
                b.add(TAG_NEW_SUBFILE_TYPE, TYPE_LONG, 1)
            b.add(TAG_IMAGE_WIDTH, TYPE_LONG, w)
            b.add(TAG_IMAGE_LENGTH, TYPE_LONG, h)
            b.add(TAG_BITS_PER_SAMPLE, TYPE_SHORT, [bits] * nbands)
            b.add(TAG_COMPRESSION, TYPE_SHORT,
                  COMPRESSION_DEFLATE if compress == "deflate" else COMPRESSION_NONE)
            b.add(TAG_PHOTOMETRIC, TYPE_SHORT, 1)
            b.add(TAG_SAMPLES_PER_PIXEL, TYPE_SHORT, nbands)
            b.add(TAG_PLANAR_CONFIG, TYPE_SHORT, 2 if nbands > 1 else 1)
            b.add(TAG_TILE_WIDTH, TYPE_SHORT, ts)
            b.add(TAG_TILE_LENGTH, TYPE_SHORT, ts)
            b.add(TAG_SAMPLE_FORMAT, TYPE_SHORT, [sfmt] * nbands)
            ntiles = tiles_across(w, ts) * tiles_across(h, ts) * nbands
            b.add(TAG_TILE_OFFSETS, TYPE_LONG8 if big else TYPE_LONG, [0] * ntiles)
            b.add(TAG_TILE_BYTE_COUNTS, TYPE_LONG, [0] * ntiles)
            if ovr == 0:
                g0, g1, g2, g3, g4, g5 = spec.gt
                if g2 == 0.0 and g4 == 0.0:
                    b.add(TAG_MODEL_PIXEL_SCALE, TYPE_DOUBLE, [g1, -g5, 0.0])
                    b.add(TAG_MODEL_TIEPOINT, TYPE_DOUBLE, [0.0, 0.0, 0.0, g0, g3, 0.0])
                else:
                    b.add(TAG_MODEL_TRANSFORMATION, TYPE_DOUBLE,
                          [g1, g2, 0.0, g0, g4, g5, 0.0, g3, 0, 0, 0, 0, 0, 0, 0, 1])
                b.add(TAG_GEO_KEY_DIRECTORY, TYPE_SHORT, _geokeys(epsg, model))
                if nodata is not None:
                    b.add(TAG_GDAL_NODATA, TYPE_ASCII, repr(float(nodata)).encode() + b"\0")
            ifds.append(b)
        header = 16 if big else 8
        pos = header
        starts = []
        for b in ifds:
            starts.append(pos)
            pos += b.size()
        over_at = []
        for b in ifds:
            over_at.append(pos)
            pos += b.overflow()
        data_start = pos + (pos & 1)
        # per-tile offsets in data order; the shared fill tile (if any)
        # sits first, every missing tile points at it
        offsets = {}
        p = data_start
        if missing:
            p += len(fill_blob) + (len(fill_blob) & 1)
        for key in order:
            if key in missing:
                offsets[key] = data_start
                continue
            offsets[key] = p
            n = meta[key]
            p += n + (n & 1)  # word-align tiles
        return ifds, starts, over_at, data_start, offsets, p

    big = bool(bigtiff) if bigtiff != "auto" else False
    ifds, starts, over_at, data_start, offsets, total = _layout(big)
    if bigtiff == "auto" and total >= 2**32 - 16:
        big = True
        ifds, starts, over_at, data_start, offsets, total = _layout(big)

    # patch real offsets/bytecounts into the IFDs
    for ovr, (w, h) in enumerate(dims):
        ax, ay = tiles_across(w, ts), tiles_across(h, ts)
        offs, cnts = [], []
        for band in range(1, nbands + 1):
            for ty in range(ay):
                for tx in range(ax):
                    offs.append(offsets[(ovr, band, ty, tx)])
                    cnts.append(meta.get((ovr, band, ty, tx), len(fill_blob)))
        b = ifds[ovr]
        b.entries = [e for e in b.entries if e[0] not in (TAG_TILE_OFFSETS, TAG_TILE_BYTE_COUNTS)]
        b.add(TAG_TILE_OFFSETS, TYPE_LONG8 if big else TYPE_LONG, offs)
        b.add(TAG_TILE_BYTE_COUNTS, TYPE_LONG, cnts)

    try:
        with open(path, "wb") as f:
            if big:
                f.write(struct.pack("<2sHHHQ", b"II", 43, 8, 0, starts[0]))
            else:
                f.write(struct.pack("<2sHI", b"II", 42, starts[0]))
            for i, b in enumerate(ifds):
                nxt = starts[i + 1] if i + 1 < len(ifds) else 0
                body, over = b.render(nxt, over_at[i])
                assert len(body) == b.size() and len(over) == b.overflow()
                f.seek(starts[i])
                f.write(body)
                f.seek(over_at[i])
                f.write(over)
            if missing:
                f.seek(data_start)
                f.write(fill_blob)
            # pass 2: every offset is laid out, so payloads arrive in any
            # order and land by seek; the gaps (word-align pads) read as 0
            written = set()
            for row in allt.select("ovr", "band", "ty", "tx", "blob").toLocalIterator():
                key = (row["ovr"], row["band"], row["ty"], row["tx"])
                blob = row["blob"]
                if key in written:
                    raise ValueError(f"tile {key} occurs more than once in the tile table")
                if len(blob) != meta.get(key):
                    raise ValueError(f"layout drift at {key}: {len(blob)} bytes, laid out {meta.get(key)}")
                written.add(key)
                f.seek(offsets[key])
                f.write(blob)
            if len(written) != len(meta):
                raise ValueError(f"tile {min(set(meta) - written)} was laid out but never streamed")
            # a trailing pad byte after the last tile still counts
            f.truncate(total)
    finally:
        allt.unpersist()
    return {"path": path, "levels": len(dims), "tiles": len(meta),
            "sparse": len(missing), "bytes": total, "bigtiff": big}


# ---------------------------------------------------------------------------
# independent reader (parses bytes only — never calls the writer's helpers
# beyond the tag constants — so round-trip tests are a real check)


def _read_ifd(buf: bytes, pos: int, big: bool, en: str):
    if big:
        n = struct.unpack_from(en + "Q", buf, pos)[0]
        entry_at, esz = pos + 8, 20
    else:
        n = struct.unpack_from(en + "H", buf, pos)[0]
        entry_at, esz = pos + 2, 12
    tags = {}
    for i in range(n):
        p = entry_at + i * esz
        tag, typ = struct.unpack_from(en + "HH", buf, p)
        count = struct.unpack_from(en + ("Q" if big else "I"), buf, p + 4)[0]
        inline = 8 if big else 4
        vsz = _TYPE_SIZE[typ] * count
        vat = p + (12 if big else 8)
        if vsz > inline:
            vat = struct.unpack_from(en + ("Q" if big else "I"), buf, vat)[0]
        if typ == TYPE_ASCII:
            tags[tag] = buf[vat : vat + count].rstrip(b"\0").decode()
        else:
            fmt = {TYPE_SHORT: "H", TYPE_LONG: "I", TYPE_DOUBLE: "d", TYPE_LONG8: "Q"}[typ]
            vals = list(struct.unpack_from(en + fmt * count, buf, vat))
            tags[tag] = vals if count > 1 else vals[0]
    nxt = struct.unpack_from(en + ("Q" if big else "I"), buf, entry_at + n * esz)[0]
    return tags, nxt


def read_geotiff(path: str) -> dict:
    """Parse a tiled (Geo)TIFF written by write_cog (or any tiled TIFF
    with the same tag subset). Returns {gt, epsg, model, nodata, bigtiff,
    levels: [{width, height, tile_size, nbands, dtype, tiles: {(band,
    ty, tx): np.ndarray}}], data_start, max_ifd_end}."""
    with open(path, "rb") as f:
        buf = f.read()
    bo = buf[:2]
    en = "<" if bo == b"II" else ">"
    magic = struct.unpack_from(en + "H", buf, 2)[0]
    if magic == 42:
        big, first = False, struct.unpack_from(en + "I", buf, 4)[0]
    elif magic == 43:
        big, first = True, struct.unpack_from(en + "Q", buf, 8)[0]
    else:
        raise ValueError("not a TIFF")
    out = {"bigtiff": big, "levels": [], "gt": None, "epsg": None,
           "model": None, "nodata": None, "data_start": None, "max_ifd_end": 0}
    pos = first
    min_data = None
    while pos:
        tags, pos_next = _read_ifd(buf, pos, big, en)
        w, h = tags[TAG_IMAGE_WIDTH], tags[TAG_IMAGE_LENGTH]
        ts = tags[TAG_TILE_WIDTH]
        if tags[TAG_TILE_LENGTH] != ts:
            raise ValueError("non-square tiles unsupported")
        spp = tags.get(TAG_SAMPLES_PER_PIXEL, 1)
        bps = tags[TAG_BITS_PER_SAMPLE]
        bits = bps[0] if isinstance(bps, list) else bps
        sf = tags.get(TAG_SAMPLE_FORMAT, 1)
        sfmt = sf[0] if isinstance(sf, list) else sf
        dtype = _TIFF_DTYPE[(bits, sfmt)]
        comp = tags[TAG_COMPRESSION]
        offs = tags[TAG_TILE_OFFSETS]
        cnts = tags[TAG_TILE_BYTE_COUNTS]
        offs = offs if isinstance(offs, list) else [offs]
        cnts = cnts if isinstance(cnts, list) else [cnts]
        ax, ay = tiles_across(w, ts), tiles_across(h, ts)
        tiles = {}
        for band in range(1, spp + 1):
            for ty in range(ay):
                for tx in range(ax):
                    i = (band - 1) * ax * ay + ty * ax + tx
                    blob = buf[offs[i] : offs[i] + cnts[i]]
                    raw = zlib.decompress(blob) if comp == COMPRESSION_DEFLATE else blob
                    tiles[(band, ty, tx)] = np.frombuffer(raw, dtype=dtype).reshape(ts, ts)
        if offs:
            m = min(offs)
            min_data = m if min_data is None else min(min_data, m)
        out["levels"].append({"width": w, "height": h, "tile_size": ts,
                              "nbands": spp, "dtype": dtype, "tiles": tiles,
                              "offsets": offs, "bytecounts": cnts,
                              "reduced": bool(tags.get(TAG_NEW_SUBFILE_TYPE, 0) & 1)})
        if out["gt"] is None:
            if TAG_MODEL_TRANSFORMATION in tags:
                m = tags[TAG_MODEL_TRANSFORMATION]
                out["gt"] = (m[3], m[0], m[1], m[7], m[4], m[5])
            elif TAG_MODEL_PIXEL_SCALE in tags:
                sx, sy = tags[TAG_MODEL_PIXEL_SCALE][:2]
                tp = tags[TAG_MODEL_TIEPOINT]
                out["gt"] = (tp[3] - tp[0] * sx, sx, 0.0, tp[4] + tp[1] * sy, 0.0, -sy)
            if TAG_GEO_KEY_DIRECTORY in tags:
                gk = tags[TAG_GEO_KEY_DIRECTORY]
                nk = gk[3]
                for i in range(nk):
                    kid, _loc, _cnt, val = gk[4 + 4 * i : 8 + 4 * i]
                    if kid == 1024:
                        out["model"] = "geographic" if val == 2 else "projected"
                    elif kid in (2048, 3072):
                        out["epsg"] = val
            if TAG_GDAL_NODATA in tags:
                out["nodata"] = float(tags[TAG_GDAL_NODATA])
        out["max_ifd_end"] = max(out["max_ifd_end"], pos if not pos_next else pos_next)
        pos = pos_next
    out["data_start"] = min_data
    return out


def read_geotiff_tiles(spark, path: str) -> DataFrame:
    """Full-resolution level of a GeoTIFF as a tile-table DataFrame
    (edge tiles re-cropped to the raster extent, matching TILE_SCHEMA
    semantics). The driver parses only the IFD; per-executor re-read
    would need a shared FS — at sandbox scale the payloads ride along."""
    info = read_geotiff(path)
    lv = info["levels"][0]
    ts, w, h = lv["tile_size"], lv["width"], lv["height"]
    rows = [tilecodec.tile_row(band, ty, tx, arr[: h - ty * ts, : w - tx * ts])
            for (band, ty, tx), arr in lv["tiles"].items()]
    return spark.createDataFrame(pd.DataFrame(rows), TILE_SCHEMA)
