"""SimpleSURF image matching — GDALComputeMatchingPoints: keypoint
detection (integral image + fast-Hessian octave pyramid + 3D
non-max-suppression), SURF descriptors (Haar wavelet sums), and the
ratio-test greedy matcher that produces tie-point GCP pairs.

Reference:
  * /root/reference/alg/gdal_octave.cpp — GDALIntegralImage (the
    summed-area table :11-90, GetRectangleSum's clamped corner lookup
    :47-73 with the max(res, 0) floor, HaarWavelet_X/Y :75-84),
    GDALOctaveLayer::ComputeLayer (:96-135: box-filter Dxx/Dyy/Dxy at
    filterSize = 3*2^octave*interval + 1, det = DxxDyy - 0.81 Dxy^2,
    laplacian sign), GDALOctaveMap::PointIsExtremum (:160-183: strict
    26-neighbor maximum across the (k, k+1, k+2) interval triple,
    top-layer radius guard, threshold).
  * /root/reference/alg/gdal_simplesurf.cpp — ExtractFeaturePoints
    scan order (octave, triple, row, col :182-213), SetDescriptor
    (:237-...: 4x4 quads x 5x5 Haar samples at haarScale 20 -> the
    64-vector (dx, dy, |dx|, |dy|) per quad), MatchFeaturePoints
    (:280-398: smaller collection drives, per-point best/second-best
    over SAME-SIGN unmatched candidates, 0.8 ratio test, exclusivity,
    max-normalized distances pruned at the matching threshold),
    ConvertRGBToLuminosity (:112-180, 0.21/0.72/0.07 over 255).
  * /root/reference/alg/gdalmatching.cpp — defaults OCTAVE_START=2,
    OCTAVE_END=2, SURF_THRESHOLD=0.001, MATCHING_THRESHOLD=0.015.

Distributed shape:
  * integral image = TWO strip cumsums (groupBy ty row-cumsum, then
    groupBy tx column-cumsum of the row sums) — the proximity.py
    separable-pass pattern; exact for integer-valued images under any
    summation order (the test/query path), last-ulp-order-documented
    for normalized luminosity.
  * keypoint detection = the focal fat-halo pattern: each integral
    tile gathers its neighbor ring(s) out to max(top radius)+2 px,
    computes the det-Hessian layers for its own pixels +1 ring, and
    runs the 26-neighbor suppression locally — per-tile work is pure
    vectorized rectangle-sum arithmetic, no cross-tile iteration.
  * descriptors = a second fat-halo exchange: keypoints group by
    their home integral tile, integral tiles halo-explode out to
    desc_pad(scale) = 12s+2, and a cogroup computes each home tile's
    64-vectors executor-side through the windowed (global-clamp)
    rect_sum — bit-identical to whole-image descriptors, no full
    raster on the driver at any size.
  * matching: the greedy exclusivity matcher — inherently sequential
    by construction (gdal_simplesurf.cpp:280-398 mutates `matched`
    as it scans) — runs on the driver over the collected DESCRIPTOR
    list only (feature points, not pixels), exactly like GCP
    refinement.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gdal_spark.operators import tilecodec
from gdal_spark.operators.raster import RasterSpec, TILE_SCHEMA

DESC_SIZE = 64
INTERVALS = 4
RATIO_THRESHOLD = 0.8


# ---------------------------------------------------------------------------
# integral image primitives (vectorized over coordinate arrays)


def rect_sum(I: np.ndarray, H: int, W: int, r, c, w, h, oy: int = 0, ox: int = 0):
    """GDALIntegralImage::GetRectangleSum (gdal_octave.cpp:47-73) over
    GLOBAL coordinates, vectorized. I is a local window whose [0,0] is
    global (oy, ox); all clamp logic runs in global space so windowed
    calls are bit-identical to whole-image calls wherever the window
    covers the touched entries."""
    r = np.asarray(r, dtype=np.int64)
    c = np.asarray(c, dtype=np.int64)
    lt_row = np.where(r <= H, r - 1, -1)
    lt_col = np.where(c <= W, c - 1, -1)
    rb_row = np.where(r + (h - 1) < H, r + (h - 1), H - 1)
    rb_col = np.where(c + (w - 1) < W, c + (w - 1), W - 1)

    def val(rr, cc):
        ok = (rr >= 0) & (rr < H) & (cc >= 0) & (cc < W)
        rr2 = np.clip(rr - oy, 0, I.shape[0] - 1)
        cc2 = np.clip(cc - ox, 0, I.shape[1] - 1)
        return np.where(ok, I[rr2, cc2], 0.0)

    a = np.where((lt_row >= 0) & (lt_col >= 0), val(lt_row, lt_col), 0.0)
    b = np.where((lt_row >= 0) & (rb_col >= 0), val(lt_row, rb_col), 0.0)
    cv = np.where((rb_row >= 0) & (rb_col >= 0), val(rb_row, rb_col), 0.0)
    d = np.where((rb_row >= 0) & (lt_col >= 0), val(rb_row, lt_col), 0.0)
    res = a + cv - b - d
    return np.where(res > 0, res, 0.0)


def haar_x(I, H, W, r, c, size, oy=0, ox=0):
    return rect_sum(I, H, W, r, c + size // 2, size // 2, size, oy, ox) - rect_sum(
        I, H, W, r, c, size // 2, size, oy, ox
    )


def haar_y(I, H, W, r, c, size, oy=0, ox=0):
    return rect_sum(I, H, W, r + size // 2, c, size, size // 2, oy, ox) - rect_sum(
        I, H, W, r, c, size, size // 2, oy, ox
    )


def layer_params(octave: int, interval: int) -> tuple[int, int, int]:
    """(filterSize, radius, scale) per GDALOctaveLayer ctor."""
    fs = 3 * (2 ** octave) * interval + 1
    return fs, (fs - 1) // 2, 2 ** octave


def det_sign_layer(
    I: np.ndarray, H: int, W: int, octave: int, interval: int,
    rows: np.ndarray, cols: np.ndarray, oy: int = 0, ox: int = 0,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """detHessian + sign at the (row, col) meshgrid (global coords),
    with the ComputeLayer in-bounds validity mask (pixels outside
    [radius, dim-radius] carry det 0 and valid False — the reference
    never reads them)."""
    fs, radius, _ = layer_params(octave, interval)
    lobe = fs // 3
    long_part = 2 * lobe - 1
    norm = fs * fs
    r = np.asarray(rows, dtype=np.int64)
    c = np.asarray(cols, dtype=np.int64)
    dxx = rect_sum(I, H, W, r - lobe + 1, c - radius, fs, long_part, oy, ox) - 3 * rect_sum(
        I, H, W, r - lobe + 1, c - (lobe - 1) // 2, lobe, long_part, oy, ox
    )
    dyy = rect_sum(I, H, W, r - radius, c - lobe - 1, long_part, fs, oy, ox) - 3 * rect_sum(
        I, H, W, r - lobe + 1, c - lobe + 1, long_part, lobe, oy, ox
    )
    dxy = (
        rect_sum(I, H, W, r - lobe, c - lobe, lobe, lobe, oy, ox)
        + rect_sum(I, H, W, r + 1, c + 1, lobe, lobe, oy, ox)
        - rect_sum(I, H, W, r - lobe, c + 1, lobe, lobe, oy, ox)
        - rect_sum(I, H, W, r + 1, c - lobe, lobe, lobe, oy, ox)
    )
    dxx = dxx / norm
    dyy = dyy / norm
    dxy = dxy / norm
    det = dxx * dyy - 0.9 * 0.9 * dxy * dxy
    sign = np.where(dxx + dyy >= 0, 1, -1)
    valid = (r >= radius) & (r <= H - radius) & (c >= radius) & (c <= W - radius)
    return np.where(valid, det, 0.0), sign, valid


# ---------------------------------------------------------------------------
# distributed integral image (two strip cumsums)


def integral_tiles(tiles: DataFrame, spec: RasterSpec, band: int = 1) -> DataFrame:
    """Summed-area table as a float64 tile table. Exact (order-free)
    for integer-valued images; for fractional luminosity the cumsum
    order matches numpy's, ulp-documented vs the reference's
    cell-recurrence order."""
    ts = spec.tile_size
    W, H = spec.width, spec.height

    def _rows(key, pdf):
        tyy = int(key[0])
        sh = min(ts, H - tyy * ts)
        strip = np.zeros((sh, W), dtype=np.float64)
        sel = pdf[(pdf["band"] == band) & pdf["payload"].notna()]
        tilecodec.paste(strip, sel, np.zeros(len(sel), dtype=np.int64), sel["tx"].to_numpy() * ts)
        return pd.DataFrame(tilecodec.cut(np.cumsum(strip, axis=1), ts, 1, tyy, 0))

    rowpass = tiles.groupBy("ty").applyInPandas(_rows, TILE_SCHEMA)

    def _cols(key, pdf):
        txx = int(key[0])
        sw = min(ts, W - txx * ts)
        strip = np.zeros((H, sw), dtype=np.float64)
        tilecodec.paste(strip, pdf, pdf["ty"].to_numpy() * ts, np.zeros(len(pdf), dtype=np.int64))
        return pd.DataFrame(tilecodec.cut(np.cumsum(strip, axis=0), ts, 1, 0, txx))

    return rowpass.groupBy("tx").applyInPandas(_cols, TILE_SCHEMA)


# ---------------------------------------------------------------------------
# distributed keypoint detection (fat-halo focal pattern)


def surf_keypoints(
    tiles: DataFrame,
    spec: RasterSpec,
    octave_start: int = 2,
    octave_end: int = 2,
    threshold: float = 0.001,
    band: int = 1,
    integral: DataFrame | None = None,
) -> DataFrame:
    """Feature points (octave, interval, y, x, scale, radius, sign) —
    ExtractFeaturePoints minus descriptors. Each tile task gathers the
    integral ring out to max(top radius)+2 and suppresses locally."""
    ts = spec.tile_size
    W, H = spec.width, spec.height
    I_df = integral if integral is not None else integral_tiles(tiles, spec, band)
    max_radius = layer_params(octave_end, INTERVALS)[1]
    halo = max_radius + 2
    rings = (halo + ts - 1) // ts

    # halo explode: every integral tile ships to each neighbor within
    # `rings` Chebyshev distance (perimeter-scaled copies, like focal)
    offs = [(dy, dx) for dy in range(-rings, rings + 1) for dx in range(-rings, rings + 1)]
    exploded = None
    for dy, dx in offs:
        part = I_df.select(
            (F.col("ty") + dy).alias("gty"), (F.col("tx") + dx).alias("gtx"),
            "ty", "tx", "h", "w", "dtype", "payload",
        ).filter(
            (F.col("gty") >= 0) & (F.col("gty") < spec.ntiles_y)
            & (F.col("gtx") >= 0) & (F.col("gtx") < spec.ntiles_x)
        )
        exploded = part if exploded is None else exploded.unionByName(part)

    oct_list = list(range(octave_start, octave_end + 1))
    out_schema = "octave int, interval int, y int, x int, scale int, radius int, sign int"

    def _detect(key, pdf):
        gty, gtx = int(key[0]), int(key[1])
        y0, x0 = gty * ts, gtx * ts
        th = min(ts, H - y0)
        tw = min(ts, W - x0)
        wy0, wx0 = max(0, y0 - halo), max(0, x0 - halo)
        wy1, wx1 = min(H, y0 + th + halo), min(W, x0 + tw + halo)
        win = np.zeros((wy1 - wy0, wx1 - wx0), dtype=np.float64)
        tilecodec.paste(win, pdf, pdf["ty"].to_numpy() * ts - wy0, pdf["tx"].to_numpy() * ts - wx0)
        # det layers over own pixels +1 ring (global coords)
        ry = np.arange(max(0, y0 - 1), min(H, y0 + th + 1))
        rx = np.arange(max(0, x0 - 1), min(W, x0 + tw + 1))
        RR, CC = np.meshgrid(ry, rx, indexing="ij")
        out = []
        for octv in oct_list:
            dets = {}
            signs = {}
            for k in range(1, INTERVALS + 1):
                d, s, _ = det_sign_layer(win, H, W, octv, k, RR, CC, oy=wy0, ox=wx0)
                dets[k] = d
                signs[k] = s
            for k in range(0, INTERVALS - 2):
                bot, mid, top = dets[k + 1], dets[k + 2], dets[k + 3]
                _, top_radius, _ = layer_params(octv, k + 3)
                _, mid_radius, scale = layer_params(octv, k + 2)
                # own pixel (i, j) sits at extended index
                # (y0 + i - ry[0], x0 + j - rx[0]); neighbor gathers use
                # CLIPPED index arrays — out-of-grid clips only touch
                # pixels the radius guard already excludes
                oy_i = y0 - ry[0]
                ox_i = x0 - rx[0]
                curm = mid[oy_i : oy_i + th, ox_i : ox_i + tw]
                gy = y0 + np.arange(th)[:, None]
                gx = x0 + np.arange(tw)[None, :]
                okb = (gy > top_radius) & (gx > top_radius) & (
                    gy + top_radius < H
                ) & (gx + top_radius < W)
                ok = okb & (curm >= threshold)
                if not ok.any():
                    continue
                strict = np.ones_like(ok)
                for di in (-1, 0, 1):
                    idx_r = np.clip(oy_i + di + np.arange(th), 0, mid.shape[0] - 1)
                    for dj in (-1, 0, 1):
                        idx_c = np.clip(ox_i + dj + np.arange(tw), 0, mid.shape[1] - 1)
                        ix = np.ix_(idx_r, idx_c)
                        strict &= top[ix] < curm
                        strict &= bot[ix] < curm
                        if di != 0 or dj != 0:
                            strict &= mid[ix] < curm
                hit = ok & strict
                ys, xs = np.nonzero(hit)
                for i in range(ys.size):
                    yy, xx = int(gy[ys[i], 0]), int(gx[0, xs[i]])
                    out.append({"octave": octv, "interval": k + 2, "y": yy, "x": xx,
                                "scale": scale, "radius": mid_radius,
                                "sign": int(signs[k + 2][oy_i + ys[i], ox_i + xs[i]])})
        return pd.DataFrame(out, columns=["octave", "interval", "y", "x", "scale", "radius", "sign"])

    return exploded.groupBy("gty", "gtx").applyInPandas(_detect, out_schema)


# ---------------------------------------------------------------------------
# descriptors + matching (reference in-memory contract)


def set_descriptor(
    I: np.ndarray, H: int, W: int, y: int, x: int, scale: int,
    oy: int = 0, ox: int = 0,
) -> np.ndarray:
    """SetDescriptor (gdal_simplesurf.cpp:237-...) literally. I may be
    a WINDOW of the integral image whose [0,0] sits at global (oy, ox)
    — rect_sum's clamp logic runs in global space, so windowed calls
    are bit-identical to whole-image calls wherever the window covers
    the touched entries (rows/cols within DESC_PAD(scale) of (y, x))."""
    haar_filter = 2 * scale
    desc_side = 20 * scale
    quad_step = desc_side // 4
    sub_step = quad_step // 5
    lt_row = y - desc_side // 2
    lt_col = x - desc_side // 2
    desc = np.zeros(DESC_SIZE)
    count = 0
    for r in range(lt_row, lt_row + desc_side, quad_step):
        for c in range(lt_col, lt_col + desc_side, quad_step):
            sr = np.arange(r, r + quad_step, sub_step)
            sc = np.arange(c, c + quad_step, sub_step)
            SR, SC = np.meshgrid(sr, sc, indexing="ij")
            cr = SR + sub_step // 2 - haar_filter // 2
            cc = SC + sub_step // 2 - haar_filter // 2
            dx = haar_x(I, H, W, cr, cc, haar_filter, oy, ox)
            dy = haar_y(I, H, W, cr, cc, haar_filter, oy, ox)
            desc[count] = dx.sum()
            desc[count + 1] = dy.sum()
            desc[count + 2] = np.abs(dx).sum()
            desc[count + 3] = np.abs(dy).sum()
            count += 4
    return desc


def desc_pad(scale: int) -> int:
    """Integral-image rows/cols set_descriptor touches around (y, x):
    sample centers span [y - 11s, y + 10s + s//2] (lt_row = y - 10s,
    Haar offset -s, corner lookups at center-1 and center+2s-1), so a
    12s+2 ring is a safe cover at any alignment."""
    return 12 * scale + 2


def surf_descriptors(
    tiles: DataFrame,
    spec: RasterSpec,
    octave_start: int = 2,
    octave_end: int = 2,
    threshold: float = 0.001,
    band: int = 1,
    integral: DataFrame | None = None,
    keypoints: DataFrame | None = None,
) -> DataFrame:
    """Distributed SetDescriptor over every keypoint — no driver-side
    image materialization at ANY raster size. Keypoints group by their
    home integral tile (gty, gtx); each integral tile halo-explodes to
    the neighbor ring out to desc_pad(max scale) (the same
    perimeter-scaled fat-halo exchange as detection); a cogroup joins
    each home tile's keypoints with its covering window, and the
    64-vectors compute executor-side via the windowed rect_sum (global
    clamp semantics -> bit-identical to whole-image descriptors).
    Returns (octave, interval, y, x, scale, radius, sign, desc)."""
    ts = spec.tile_size
    W, H = spec.width, spec.height
    I_df = integral if integral is not None else integral_tiles(tiles, spec, band)
    kp = (
        keypoints
        if keypoints is not None
        else surf_keypoints(
            tiles, spec, octave_start, octave_end, threshold, band, integral=I_df
        )
    )
    pad = desc_pad(2 ** octave_end)
    rings = (pad + ts - 1) // ts

    offs = [(dy, dx) for dy in range(-rings, rings + 1) for dx in range(-rings, rings + 1)]
    exploded = None
    for dy, dx in offs:
        part = I_df.select(
            (F.col("ty") + dy).alias("gty"), (F.col("tx") + dx).alias("gtx"),
            "ty", "tx", "h", "w", "dtype", "payload",
        ).filter(
            (F.col("gty") >= 0) & (F.col("gty") < spec.ntiles_y)
            & (F.col("gtx") >= 0) & (F.col("gtx") < spec.ntiles_x)
        )
        exploded = part if exploded is None else exploded.unionByName(part)

    kpg = kp.withColumn(
        "gty", F.floor(F.col("y") / F.lit(ts)).cast("int")
    ).withColumn("gtx", F.floor(F.col("x") / F.lit(ts)).cast("int"))

    out_schema = (
        "octave int, interval int, y int, x int, scale int, radius int, "
        "sign int, desc array<double>"
    )
    cols = ["octave", "interval", "y", "x", "scale", "radius", "sign", "desc"]

    def _desc(key, kpdf, tdf):
        if not len(kpdf):
            return pd.DataFrame(columns=cols)
        gty, gtx = int(key[0]), int(key[1])
        y0, x0 = gty * ts, gtx * ts
        th = min(ts, H - y0)
        tw = min(ts, W - x0)
        wy0, wx0 = max(0, y0 - pad), max(0, x0 - pad)
        wy1, wx1 = min(H, y0 + th + pad), min(W, x0 + tw + pad)
        win = np.zeros((wy1 - wy0, wx1 - wx0), dtype=np.float64)
        tilecodec.paste(win, tdf, tdf["ty"].to_numpy() * ts - wy0, tdf["tx"].to_numpy() * ts - wx0)
        rows = []
        for r in kpdf.itertuples(index=False):
            d = set_descriptor(
                win, H, W, int(r.y), int(r.x), int(r.scale), oy=wy0, ox=wx0
            )
            rows.append({
                "octave": int(r.octave), "interval": int(r.interval),
                "y": int(r.y), "x": int(r.x), "scale": int(r.scale),
                "radius": int(r.radius), "sign": int(r.sign),
                "desc": d.tolist(),
            })
        return pd.DataFrame(rows, columns=cols)

    return (
        kpg.groupBy("gty", "gtx")
        .cogroup(exploded.groupBy("gty", "gtx"))
        .applyInPandas(_desc, out_schema)
    )


def gather_feature_points(
    tiles: DataFrame,
    spec: RasterSpec,
    octave_start: int = 2,
    octave_end: int = 2,
    threshold: float = 0.001,
    band: int = 1,
) -> list[dict]:
    """GatherFeaturePoints: distributed detection AND distributed
    descriptors (surf_descriptors' fat-halo cogroup) — the only
    driver-side state is the keypoint/descriptor list itself (feature
    points, not pixels: bounded input to the inherently-sequential
    greedy matcher, like GCP refinement). No image-size guard: nothing
    materializes a full raster anywhere. Returns feature dicts in the
    reference's exact scan order (octave, triple, row, col)."""
    rows = surf_descriptors(
        tiles, spec, octave_start, octave_end, threshold, band
    ).collect()
    feats = []
    for r in sorted(rows, key=lambda r: (r.octave, r.interval, r.y, r.x)):
        feats.append({"x": int(r.x), "y": int(r.y), "scale": int(r.scale),
                      "radius": int(r.radius), "sign": int(r.sign),
                      "desc": np.asarray(r.desc, dtype=np.float64)})
    return feats


def match_feature_points(
    first: list[dict], second: list[dict], matching_threshold: float = 0.015
) -> list[tuple[dict, dict]]:
    """MatchFeaturePoints (gdal_simplesurf.cpp:280-398) literally:
    greedy over the smaller collection, same-sign best/second-best
    with exclusivity, 0.8 ratio test, max-normalized distance prune."""
    len1, len2 = len(first), len(second)
    if min(len1, len2) == len2:
        p1, p2, swapped = second, first, True
    else:
        p1, p2, swapped = first, second, False
    matched = [False] * len(p2)
    pairs: list[tuple[int, int, float]] = []
    for i, f in enumerate(p1):
        best = -1.0
        best_j = -1
        best2 = -1.0
        for j, g in enumerate(p2):
            if matched[j] or f["sign"] != g["sign"]:
                continue
            d = float(np.sqrt(np.sum((f["desc"] - g["desc"]) ** 2)))
            if best == -1.0:
                best, best_j = d, j
            elif d < best:
                best, best_j = d, j
            if best2 < 0:
                best2 = d
            elif d > best and d < best2:
                best2 = d
        if best2 > 0 and best >= 0 and best / best2 < RATIO_THRESHOLD:
            pairs.append((i, best_j, best))
            matched[best_j] = True
    mx = max((p[2] for p in pairs), default=0.0)
    out = []
    for i, j, d in pairs:
        nd = d / mx if mx != 0.0 else d
        if nd <= matching_threshold:
            out.append((p2[j], p1[i]) if swapped else (p1[i], p2[j]))
    return out
