"""nearblack — convert nearly-black (or nearly-white / near-color)
borders to the exact value, reference semantics bit-for-bit.

Reference: /root/reference/apps/nearblack_lib.cpp (GDALNearblack
"twopasses" algorithm):

  * top-down pass (:398-466): each scanline is read from the SOURCE,
    then ProcessLine L->R with vertical+horizontal checks, then
    ProcessLine R->L horizontal-only; the result is written out.
  * bottom-up pass (:471-535): re-reads the top-down OUTPUT from the
    bottom, fresh vertical counts, horizontal max-non-black forced 0
    (:646-647).
  * vertical check (:562-634): per-column CUMULATIVE non-black count
    (never reset, :620 commented-out reset); a column terminates once
    count > max_non_black; noise pixels with count still <= max are
    replaced too; a non-black pixel on the very first scanned row with
    max>0 terminates its column immediately (:651-657 analog at
    :611-617).
  * horizontal check (:639-741): scans iStart..iEnd EXCLUSIVE
    (`i != iEnd`, :653) — L->R never touches the last column, R->L
    never touches column 0; grey-area rule: a non-black pixel whose
    column count is <= max RESETS the run counter to that count
    (:695-698); when testing is off, a column whose count is 0
    re-enables it (:734-739) without replacing that pixel (it is
    already replaced by the vertical check).
  * a pixel is "near" iff ANY color matches within near_dist on ALL
    source bands (:578-601); the replacement value is 255 iff exactly
    one color is given and its first component is 255, else 0
    (:552-556); replacements zero the alpha band (:626-631, :727).

Distributed shape: the scans are separable per column (vertical state)
and per row (horizontal state), so the operator is FOUR strip
shuffles, the proximity.py pattern — groupBy(tx) column strips for the
top-down vertical, groupBy(ty) row strips for the top-down horizontal,
then the same two again for the bottom-up pass (which by construction
needs the materialized intermediate raster). The per-column count
state that the reference threads between its vertical and horizontal
checks travels as a band-0 uint8 sidecar tile (value capped at
max_non_black+1 — the horizontal check reads the count itself up to
max and only ">max" beyond it). Shuffle volume per stage == raster bytes (+1 band
of sidecar); strip memory = tile_size x max(W, H) x (nbands + 2)
bytes per task, plus 11 bytes a pixel of horizontal-scan state.
Inside a strip nothing loops per pixel or per row. The vertical check
is one cumulative sum down the strip: a column's count only grows
until it passes max_non_black, so the capped count is the capped
cumulative non-black count. The horizontal check steps every row's
state machine (testing with run counter 0..max, or dormant) one
column at a time through a precomputed transition table indexed by
state + pixel key: one add and one gather per column, O(cells) total. For rasters whose full line exceeds a strip task,
the per-row state takes max+2 values, so line segments compose
associatively via per-segment (state -> state) transition tables —
same future-work note as proximity.py's parabola-envelope merge.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gdal_spark.operators import tilecodec
from gdal_spark.operators.raster import TILE_SCHEMA, RasterSpec

_COUNT_BAND = 0  # sidecar band id carrying panLastLineCounts
_KEYS = 512  # horizontal-scan pixel keys: column count (< 256), + 256 if black


def _default_colors(white: bool, nbands: int) -> list[tuple[int, ...]]:
    v = 255 if white else 0
    return [tuple([v] * nbands)]


def _replace_value(colors) -> int:
    # nearblack_lib.cpp:552-556
    if len(colors) == 1 and len(colors[0]) >= 1 and colors[0][0] == 255:
        return 255
    return 0


def _nonblack(v: np.ndarray, colors, near: int) -> np.ndarray:
    """v: (nbands, n) uint8 slice -> (n,) bool, True where NO color
    matches within near on all bands (nearblack_lib.cpp:578-601)."""
    n = v.shape[1]
    nb = np.ones(n, dtype=bool)
    vi = v.astype(np.int32)
    for color in colors:
        off = np.zeros(n, dtype=bool)
        for b in range(v.shape[0]):
            off |= np.abs(vi[b] - int(color[b])) > near
        nb &= off
        if not nb.any():
            break
    return nb


def _vscan(
    arr: np.ndarray,
    alpha: np.ndarray | None,
    colors,
    near: int,
    max_nb: int,
    replace_value: int,
    bottom_up: bool,
) -> np.ndarray:
    """In-place vertical check over a (nbands, H, w) strip; returns the
    (H, w) uint8 count sidecar (state AFTER each row's update).

    A column's count grows by one per non-black pixel until it passes
    max_nb and then freezes at max_nb + 1, so after row r it is
    min(C[r], max_nb + 1), with C the cumulative non-black count in
    scan order. The first scanned row weighs max_nb + 1: a non-black
    pixel there terminates its column outright (nearblack_lib.cpp:
    611-617; at max_nb = 0 that is the plain weight 1). A pixel is
    replaced iff C[r] <= max_nb."""
    nb_, H, w = arr.shape
    step = -1 if bottom_up else 1
    nbm = _nonblack(arr.reshape(nb_, H * w), colors, near).reshape(H, w)
    c = nbm[::step].astype(np.int32)
    c[0] *= max_nb + 1
    c = np.cumsum(c, axis=0, out=c)[::step]
    repl = c <= max_nb
    np.copyto(arr, replace_value, where=repl)
    if alpha is not None:
        alpha[repl] = 0
    return np.minimum(c, max_nb + 1).astype(np.uint8)


def _hscan_table(max_nb: int) -> np.ndarray:
    """Flat transition table of the horizontal check's per-row state
    machine: the next state is ``table[state + key]``.

    A row's state is "testing with run counter nnb" (nnb = 0..max_nb)
    or dormant (max_nb + 1). A pixel's key is its column count cz
    (< 256, the sidecar is capped at max_nb + 1) plus 256 when it is
    black. States are stored times _KEYS, so one step is one add and
    one gather. While testing, a non-black pixel sets nnb to cz when
    cz <= max_nb (grey-area rule, nearblack_lib.cpp:695-698) and
    increments it otherwise, going dormant past max_nb; a black pixel
    keeps nnb. A dormant row wakes with nnb = 0 on any cz == 0
    (:734-739)."""
    dormant = max_nb + 1
    cz = np.arange(256)
    nnb = np.arange(dormant)[:, None]
    t = np.empty((dormant + 1, 2, 256), dtype=np.intp)
    t[:dormant, 0] = np.where(cz <= max_nb, cz, nnb + 1)
    t[:dormant, 1] = nnb
    t[dormant] = np.where(cz == 0, 0, dormant)
    return (t * _KEYS).ravel()


def _hscan(
    arr: np.ndarray,
    counts: np.ndarray,
    alpha: np.ndarray | None,
    colors,
    near: int,
    max_nb: int,
    replace_value: int,
    left_to_right: bool,
) -> None:
    """In-place horizontal check over a (nbands, h, W) strip, one state
    machine per row (``_hscan_table``) stepped one column at a time
    across all h rows. counts: (h, W) uint8 sidecar. The scan covers
    iStart..iEnd EXCLUSIVE (`i != iEnd`, nearblack_lib.cpp:653). A
    pixel is replaced iff its row is testing both before and after it."""
    nb_, h, W = arr.shape
    if W <= 1:
        return
    table = _hscan_table(max_nb)
    dormant = (max_nb + 1) * _KEYS  # a dormant row's stored state
    # columns ahead of the cursor are never modified by the scan, so
    # the non-black test and the keys vectorize over the whole strip
    nbm = _nonblack(arr.reshape(nb_, h * W), colors, near).reshape(h, W)
    key = np.left_shift(~nbm, 8, dtype=np.uint16)
    key |= counts
    # scanned columns in scan order, each one contiguous row of (W-1, h)
    scanned = np.s_[:, :-1] if left_to_right else np.s_[:, :0:-1]
    key = np.ascontiguousarray(key[scanned].T)
    state = np.empty(key.shape, dtype=np.intp)  # after each scanned column
    state[0] = table[key[0]]
    if max_nb > 0:
        # edge-column valid data stops the test (:708-713)
        state[0][nbm[:, 0 if left_to_right else W - 1]] = dormant
    step = np.empty(h, dtype=np.intp)
    for i in range(1, len(key)):
        np.add(state[i - 1], key[i], out=step)
        table.take(step, out=state[i])
    testing = state < dormant
    testing[1:] &= testing[:-1]
    mask = np.zeros((h, W), dtype=bool)
    mask[scanned] = testing.T
    np.copyto(arr, replace_value, where=mask)
    if alpha is not None:
        alpha[mask] = 0


def nearblack(
    tiles: DataFrame,
    spec: RasterSpec,
    white: bool = False,
    colors: list[tuple[int, ...]] | None = None,
    near: int = 15,
    max_non_black: int = 2,
    set_alpha: bool = False,
) -> DataFrame:
    """Distributed GDALNearblack over a uint8 tile table. Returns a
    dense tile table with bands 1..spec.nbands (borders replaced) plus,
    when set_alpha, band spec.nbands+1 = the alpha band (255 kept /
    0 trimmed). Defaults match the reference CLI (-near 15 -nb 2).

    Sparse inputs densify against spec.init first (absent tiles are
    init-valued, the repo-wide sparse-tile convention)."""
    if spec.dtype != "uint8":
        raise NotImplementedError("nearblack operates on Byte rasters (reference reads GDT_UInt8)")
    if not 0 <= max_non_black < 255:
        raise ValueError("max_non_black must be in [0, 255)")
    nbands = spec.nbands
    cols = colors if colors else _default_colors(white, nbands)
    if any(len(c) != nbands for c in cols):
        raise ValueError("each color must have one value per band")
    rep = _replace_value(cols)
    ts = spec.tile_size
    W, H = spec.width, spec.height
    ntx = spec.ntiles_x
    init = int(spec.init)
    alpha_band = nbands + 1

    spark = tiles.sparkSession
    # densify at zero cost: strip assembly init-fills missing tiles,
    # so sparseness only matters when an ENTIRE strip has no tiles —
    # one null-payload seed row per tile-column guarantees every
    # groupBy(tx) group exists (no skeleton join: that would shuffle
    # the whole raster an extra time)
    seeds = spark.range(ntx).selectExpr(
        "cast(-1 as int) as band", "cast(0 as int) as ty", "cast(id as int) as tx",
        "cast(0 as int) as h", "cast(0 as int) as w",
        "cast(null as string) as dtype", "cast(null as binary) as payload",
    )
    dense = tiles.select("band", "ty", "tx", "h", "w", "dtype", "payload").unionByName(seeds)

    def _strip(pdf: pd.DataFrame, by_col: bool, idx: int, want_alpha: bool, want_counts: bool):
        """(nbands, h, w) strip + optional alpha/counts planes of tile
        column (by_col) or tile row ``idx``; absent tiles stay init."""
        h, w = (H, min(ts, W - idx * ts)) if by_col else (min(ts, H - idx * ts), W)
        bands = list(range(1, nbands + 1)) + [alpha_band] * want_alpha + [_COUNT_BAND] * want_counts
        planes = np.empty((len(bands), h, w), dtype=np.uint8)
        planes[:nbands] = init
        if want_alpha:
            planes[nbands] = 255
        if want_counts:
            planes[-1] = 0
        # the band filter also drops the NULL-payload seed rows (band -1)
        sel = pdf[np.isin(pdf["band"].to_numpy(), bands)]
        off = sel["ty" if by_col else "tx"].to_numpy() * ts
        zero = np.zeros_like(off)
        layer = [bands.index(b) for b in sel["band"].tolist()]
        tilecodec.paste(planes, sel, off if by_col else zero, zero if by_col else off, layer=layer)
        return (planes[:nbands], planes[nbands] if want_alpha else None,
                planes[-1] if want_counts else None)

    def _emit(by_col: bool, idx: int, arr, alpha, cnt):
        """Cut the strip planes back into the tiles of tile column
        (by_col) or tile row ``idx``."""
        planes = [(b + 1, arr[b]) for b in range(nbands)]
        planes += [(alpha_band, alpha)] * (alpha is not None) + [(_COUNT_BAND, cnt)] * (cnt is not None)
        ty0, tx0 = (0, idx) if by_col else (idx, 0)
        return pd.DataFrame([r for b, p in planes for r in tilecodec.cut(p, ts, b, ty0, tx0)])

    # stage A: top-down vertical (column strips, source values)
    def _a(key, pdf):
        txx = int(key[0])
        arr, alpha, _ = _strip(pdf, True, txx, set_alpha, False)
        cnt = _vscan(arr, alpha, cols, near, max_non_black, rep, bottom_up=False)
        return _emit(True, txx, arr, alpha, cnt)

    # stage B: top-down horizontal L->R then R->L (row strips)
    def _b(key, pdf):
        tyy = int(key[0])
        arr, alpha, cnt = _strip(pdf, False, tyy, set_alpha, True)
        _hscan(arr, cnt, alpha, cols, near, max_non_black, rep, left_to_right=True)
        _hscan(arr, cnt, alpha, cols, near, max_non_black, rep, left_to_right=False)
        return _emit(False, tyy, arr, alpha, None)

    # stage C: bottom-up vertical on the intermediate raster
    def _c(key, pdf):
        txx = int(key[0])
        arr, alpha, _ = _strip(pdf, True, txx, set_alpha, False)
        cnt = _vscan(arr, alpha, cols, near, max_non_black, rep, bottom_up=True)
        return _emit(True, txx, arr, alpha, cnt)

    # stage D: bottom-up horizontal, max-non-black forced 0 (:646-647)
    def _d(key, pdf):
        tyy = int(key[0])
        arr, alpha, cnt = _strip(pdf, False, tyy, set_alpha, True)
        _hscan(arr, cnt, alpha, cols, near, 0, rep, left_to_right=True)
        _hscan(arr, cnt, alpha, cols, near, 0, rep, left_to_right=False)
        return _emit(False, tyy, arr, alpha, None)

    s1 = dense.groupBy("tx").applyInPandas(_a, TILE_SCHEMA)
    s2 = s1.groupBy("ty").applyInPandas(_b, TILE_SCHEMA)
    s3 = s2.groupBy("tx").applyInPandas(_c, TILE_SCHEMA)
    return s3.groupBy("ty").applyInPandas(_d, TILE_SCHEMA)


# ---------------------------------------------------------------------------
# scalar replica (literal translation of nearblack_lib.cpp, test oracle)


def nearblack_scalar(
    arr: np.ndarray,
    white: bool = False,
    colors: list[tuple[int, ...]] | None = None,
    near: int = 15,
    max_non_black: int = 2,
    set_alpha: bool = False,
) -> tuple[np.ndarray, np.ndarray | None]:
    """(nbands, H, W) uint8 -> (out, alpha). Per-pixel loops, literal
    ProcessLine translation — the parity oracle for the distributed op."""
    nbands, H, W = arr.shape
    cols = colors if colors else _default_colors(white, nbands)
    rep = _replace_value(cols)
    out = arr.astype(np.int32).copy()
    alpha = np.full((H, W), 255, dtype=np.int32) if set_alpha else None

    def is_nb(line, i):
        for color in cols:
            off = False
            for b in range(nbands):
                if abs(int(color[b]) - int(line[b, i])) > near:
                    off = True
                    break
            if not off:
                return False
        return True

    def process_line(line, counts, istart, iend, max_nb, do_vert, bottom_up, line_from_edge, aline):
        if do_vert:
            n = max(istart + 1, iend + 1)
            for i in range(n):
                if counts[i] > max_nb:
                    continue
                nb = is_nb(line, i)
                if nb:
                    counts[i] += 1
                    if counts[i] > max_nb:
                        continue
                    if line_from_edge == 0 and max_nb > 0:
                        counts[i] = max_nb + 1
                        continue
                for b in range(nbands):
                    line[b, i] = rep
                if aline is not None:
                    aline[i] = 0
        # horizontal
        h_max = 0 if bottom_up else max_nb
        nnb = 0
        idir = 1 if istart < iend else -1
        do_test = True
        i = istart
        while i != iend:
            if do_test:
                nb = is_nb(line, i)
                if nb:
                    if counts[i] <= h_max:
                        nnb = counts[i]
                    else:
                        nnb += 1
                if nnb > h_max:
                    do_test = False
                    i += idir
                    continue
                if nb and h_max > 0 and i == istart:
                    do_test = False
                    i += idir
                    continue
                for b in range(nbands):
                    line[b, i] = rep
                if aline is not None:
                    aline[i] = 0
            elif counts[i] == 0:
                do_test = True
                nnb = 0
            i += idir
        return

    # top-down
    counts = np.zeros(W, dtype=np.int64)
    for r in range(H):
        line = out[:, r, :]
        aline = alpha[r] if alpha is not None else None
        process_line(line, counts, 0, W - 1, max_non_black, True, False, r, aline)
        process_line(line, counts, W - 1, 0, max_non_black, False, False, r, aline)
    # bottom-up
    counts[:] = 0
    for r in range(H - 1, -1, -1):
        line = out[:, r, :]
        aline = alpha[r] if alpha is not None else None
        process_line(line, counts, 0, W - 1, max_non_black, True, True, H - 1 - r, aline)
        process_line(line, counts, W - 1, 0, max_non_black, False, True, H - 1 - r, aline)
    return out.astype(np.uint8), None if alpha is None else alpha.astype(np.uint8)


def nearblack_floodfill(
    tiles: DataFrame,
    spec: RasterSpec,
    white: bool = False,
    colors: list[tuple[int, ...]] | None = None,
    near: int = 15,
    set_alpha: bool = False,
) -> DataFrame:
    """nearblack -alg floodfill (apps/nearblack_lib_floodfill.cpp):
    replace every near-color pixel 4-connected to the image border
    through near-color pixels (Fill seeds = all border pixels,
    Process :423-438; MustSet = the same any-color-within-near test
    :60-95; -nb is not consulted by this algorithm). The reference
    runs a scanline flood with a backtrack window; connectivity is the
    semantics, so the distributed form is the polygonize/sieve
    2-phase: per-tile connected-component labeling, seam-strip rows
    exchanged by (seam, position) to pair adjacent tiles' local labels
    into a component-graph edge list, min-label propagation over that
    graph (operators/graph.py connected_components — O(diameter)
    rounds over labels, never pixels) with a virtual node 0 linked to
    every border-touching label, then a fill-set join and one rewrite
    pass. NOTHING collects to the driver at any raster size — the r4
    driver union-find (state O(total tile perimeter)) is gone.
    Deterministic local labeling makes the second pass recompute
    identical labels instead of shipping label rasters."""
    if spec.dtype != "uint8":
        raise NotImplementedError("nearblack operates on Byte rasters")
    from gdal_spark.operators.polygonize import label_components

    nbands = spec.nbands
    cols = colors if colors else _default_colors(white, nbands)
    if any(len(c) != nbands for c in cols):
        raise ValueError("each color must have one value per band")
    rep = _replace_value(cols)
    ts = spec.tile_size
    W, H = spec.width, spec.height
    nty, ntx = spec.ntiles_y, spec.ntiles_x
    init = int(spec.init)
    alpha_band = nbands + 1
    spark = tiles.sparkSession

    seeds = spark.range(nty * ntx).selectExpr(
        "cast(-1 as int) as band",
        f"cast(id div {ntx} as int) as ty", f"cast(id % {ntx} as int) as tx",
        "cast(0 as int) as h", "cast(0 as int) as w",
        "cast(null as string) as dtype", "cast(null as binary) as payload",
    )
    dense = tiles.select("band", "ty", "tx", "h", "w", "dtype", "payload").unionByName(seeds)

    def _assemble(key, pdf):
        ty, tx = int(key[0]), int(key[1])
        h = min(ts, H - ty * ts)
        w = min(ts, W - tx * ts)
        arr = np.full((nbands, h, w), init, dtype=np.uint8)
        # the band filter also drops the NULL-payload seed rows (band -1)
        sel = pdf[pdf["band"].between(1, nbands)]
        zero = np.zeros(len(sel), dtype=np.int64)
        tilecodec.paste(arr, sel, zero, zero, layer=sel["band"].to_numpy() - 1)
        return ty, tx, h, w, arr

    def _near_and_labels(arr):
        nbm = _nonblack(arr.reshape(arr.shape[0], -1), cols, near).reshape(arr.shape[1:])
        nearm = ~nbm
        labels = label_components(np.zeros_like(nearm, dtype=np.int64), nearm, connect=4)
        return nearm, labels

    # node id: (tile, local label) packed into one int64 — labels from
    # label_components are 1..(pixels in tile), so a ts*ts+1 stride
    # keeps ids distinct and >= 1; id 0 is the virtual BORDER node
    stride = ts * ts + 1

    # phase 1: per-tile seam strips + border labels as plain rows.
    # Each tile emits every boundary strip keyed by the SEAM it sits
    # on ((axis, sy, sx) = the seam between (sy,sx) and its right/down
    # neighbor) plus a side bit — adjacent tiles' strips meet in one
    # groupBy, no driver involvement
    def _strips(key, pdf):
        ty, tx, h, w, arr = _assemble(key, pdf)
        _, labels = _near_and_labels(arr)
        base = (ty * ntx + tx) * stride
        out = {"axis": [], "sy": [], "sx": [], "pos": [], "side": [], "nid": []}

        def emit(axis, sy, sx, side, strip):
            pos = np.flatnonzero(strip > 0)
            if not pos.size:
                return
            out["axis"].append(np.full(pos.size, axis, dtype=np.int32))
            out["sy"].append(np.full(pos.size, sy, dtype=np.int32))
            out["sx"].append(np.full(pos.size, sx, dtype=np.int32))
            out["pos"].append(pos.astype(np.int32))
            out["side"].append(np.full(pos.size, side, dtype=np.int32))
            out["nid"].append(base + strip[pos].astype(np.int64))

        t = labels[0, :].astype(np.int64)
        b = labels[h - 1, :].astype(np.int64)
        lft = labels[:, 0].astype(np.int64)
        r = labels[:, w - 1].astype(np.int64)
        # vertical seams (axis 0): between (ty, sx) and (ty, sx+1)
        if tx > 0:
            emit(0, ty, tx - 1, 1, lft)
        if tx < ntx - 1:
            emit(0, ty, tx, 0, r)
        # horizontal seams (axis 1): between (sy, tx) and (sy+1, tx)
        if ty > 0:
            emit(1, ty - 1, tx, 1, t)
        if ty < nty - 1:
            emit(1, ty, tx, 0, b)
        # raster-border labels: axis 2 rows pair with the virtual node
        border = np.zeros(0, dtype=np.int64)
        if ty == 0:
            border = np.concatenate([border, t])
        if ty == nty - 1:
            border = np.concatenate([border, b])
        if tx == 0:
            border = np.concatenate([border, lft])
        if tx == ntx - 1:
            border = np.concatenate([border, r])
        border = np.unique(border[border > 0])
        if border.size:
            out["axis"].append(np.full(border.size, 2, dtype=np.int32))
            out["sy"].append(np.full(border.size, ty, dtype=np.int32))
            out["sx"].append(np.full(border.size, tx, dtype=np.int32))
            out["pos"].append(np.arange(border.size, dtype=np.int32))
            out["side"].append(np.zeros(border.size, dtype=np.int32))
            out["nid"].append(base + border)
        if not out["nid"]:
            return pd.DataFrame(columns=["axis", "sy", "sx", "pos", "side", "nid"])
        return pd.DataFrame({k: np.concatenate(v) for k, v in out.items()})

    strips = dense.groupBy("ty", "tx").applyInPandas(
        _strips, "axis int, sy int, sx int, pos int, side int, nid long"
    )

    # seam pairing: both sides of a seam meet on (axis, sy, sx, pos);
    # a pair exists only where BOTH positions are near-color. Border
    # rows (axis 2) pair with the virtual node 0.
    from gdal_spark.operators.graph import connected_components

    seam = strips.filter(F.col("axis") < 2).groupBy("axis", "sy", "sx", "pos").agg(
        F.max(F.when(F.col("side") == 0, F.col("nid"))).alias("src"),
        F.max(F.when(F.col("side") == 1, F.col("nid"))).alias("dst"),
    ).filter(F.col("src").isNotNull() & F.col("dst").isNotNull()).select("src", "dst")
    border_edges = strips.filter(F.col("axis") == 2).select(
        F.lit(0).cast("long").alias("src"), F.col("nid").alias("dst")
    )
    edges = seam.unionByName(border_edges).distinct()

    # min-label propagation: the border component's min id IS 0, so
    # fill nodes are exactly component == 0 (minus the virtual node)
    comp = connected_components(edges)
    fills = (
        comp.filter((F.col("component") == 0) & (F.col("node") > 0))
        .select(
            # integer div/mod, not float division: node ids pass 2^53
            # on large rasters and a double quotient would mis-decode
            F.expr(f"node div {stride}").alias("_tid"),
            F.expr(f"node % {stride}").alias("lab"),
        )
        .select(
            F.expr(f"_tid div {ntx}").cast("int").alias("ty"),
            F.expr(f"_tid % {ntx}").cast("int").alias("tx"),
            "lab",
        )
    )

    # phase 2: rewrite (labels recomputed deterministically); the
    # fill set arrives per tile through the cogroup, not a broadcast
    def _rewrite(key, pdf, fpdf):
        ty, tx, h, w, arr = _assemble(key, pdf)
        _, labels = _near_and_labels(arr)
        fill_labs = np.unique(fpdf["lab"].to_numpy(np.int64)) if len(fpdf) else None
        m = (
            np.isin(labels, fill_labs)
            if fill_labs is not None and fill_labs.size
            else np.zeros((h, w), dtype=bool)
        )
        arr[:, m] = rep
        rows = [tilecodec.tile_row(b + 1, ty, tx, arr[b]) for b in range(nbands)]
        if set_alpha:
            rows.append(tilecodec.tile_row(alpha_band, ty, tx, np.where(m, 0, 255), "uint8"))
        return pd.DataFrame(rows)

    return (
        dense.groupBy("ty", "tx")
        .cogroup(fills.groupBy("ty", "tx"))
        .applyInPandas(_rewrite, TILE_SCHEMA)
    )
