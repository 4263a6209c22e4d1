"""Sieve filter (alg/gdalsievefilter.cpp GDALSieveFilter): raster
polygons (connected components of equal value) smaller than a size
threshold are merged into their largest neighbour; if that neighbour
is itself small, the chain of largest-neighbours is followed until a
polygon >= threshold is found (cycle-guarded; unresolvable small
polygons stay, gdalsievefilter.cpp:471-540).

* sieve_local — exact single-array replica incl. GDAL's
  scan-order-dependent tie-breaking in CompareNeighbour (validated
  against the reference autotest checksums).
* sieve (distributed) — 2-phase: per-tile labeling + summaries
  (sizes, adjacency, boundary strips), global graph merge, broadcast
  relabel map, per-tile rewrite. Components/sizes/adjacency are
  scan-order independent; the one order-dependent piece (which of
  several EQUAL-SIZE largest neighbours wins) is resolved by
  (size desc, global id asc) — deterministic, documented deviation
  from the reference's encounter order (affects results only when
  two distinct neighbours have exactly equal pixel counts).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from gdal_spark.operators import tilecodec
from gdal_spark.operators.polygonize import label_components
from gdal_spark.operators.raster import RasterSpec, TILE_SCHEMA


def _sizes(labels: np.ndarray) -> np.ndarray:
    return np.bincount(labels.ravel())


def _chain_merge(sizes, big_neighbour, threshold, values):
    """The reference's chain-following pass
    (gdalsievefilter.cpp:471-540): for each small polygon walk the
    largest-neighbour chain to the first >=threshold polygon."""
    n = len(sizes)
    final = np.arange(n)
    for p in range(n):
        if sizes[p] >= threshold:
            continue
        if big_neighbour[p] == -1:
            continue
        visited = {p}
        cur = p
        found = -1
        while True:
            cur = big_neighbour[cur]
            if cur < 0:
                break
            if sizes[cur] >= threshold:
                found = cur
                break
            if cur in visited:
                break
            visited.add(cur)
        if found >= 0:
            final[p] = found
    return final


def sieve_local(
    arr: np.ndarray, threshold: int, connect: int = 4, mask: np.ndarray | None = None
) -> np.ndarray:
    """Exact GDALSieveFilter on one array (GDAL scan-order ties)."""
    if mask is None:
        mask = np.ones(arr.shape, dtype=bool)
    labels = label_components(arr, mask, connect)
    sizes = _sizes(labels)
    h, w = arr.shape
    nbig = np.full(len(sizes), -1, dtype=np.int64)

    def compare(p1, p2):
        # CompareNeighbour (gdalsievefilter.cpp:94-127)
        if p1 == p2 or p1 < 0 or p2 < 0:
            return
        if nbig[p1] == -1 or sizes[nbig[p1]] < sizes[p2]:
            nbig[p1] = p2
        if nbig[p2] == -1 or sizes[nbig[p2]] < sizes[p1]:
            nbig[p2] = p1

    lab = np.where(mask, labels, -1)
    for y in range(h):
        for x in range(w):
            p = lab[y, x]
            if x > 0:
                compare(p, lab[y, x - 1])
            if y > 0:
                compare(p, lab[y - 1, x])
                if connect == 8:
                    if x > 0:
                        compare(p, lab[y - 1, x - 1])
                    if x < w - 1:
                        compare(p, lab[y - 1, x + 1])
    final = _chain_merge(sizes, nbig, threshold, None)
    # representative value per label
    first_idx = {}
    flat_lab = labels.ravel()
    flat_val = arr.ravel()
    rep = np.zeros(len(sizes), dtype=arr.dtype)
    seen = np.zeros(len(sizes), dtype=bool)
    for i in range(flat_lab.size):
        L = flat_lab[i]
        if not seen[L]:
            rep[L] = flat_val[i]
            seen[L] = True
    out = rep[final[labels]]
    return np.where(mask, out, arr)


# ---------------------------------------------------------------------------
# distributed


def sieve(
    tiles: DataFrame,
    spec: RasterSpec,
    threshold: int,
    connect: int = 4,
    nodata: float | None = None,
    band: int = 1,
) -> DataFrame:
    """Distributed sieve. Phase 1 ships per-tile summaries:
    (local label sizes, representative values, in-tile adjacency, and
    the 4 boundary strips of (label, value)); phase 2 merges the
    global component graph on the driver (union-find across seams on
    equal values), computes the relabel map with the (size, id) tie
    rule, and broadcasts it; phase 3 rewrites tiles.

    Driver-side state is O(components + tile perimeters), not pixels
    — the same budget as the polygonize merge phase."""
    ts = spec.tile_size

    # phase 1: per-tile summaries computed IN EXECUTORS (mapInPandas);
    # the driver collects only (sizes, reps, adjacency, boundary
    # strips) — O(components + tile perimeters), never pixels. (The
    # round-1 version collected full tiles and labeled them serially
    # on the driver, contradicting this contract.)
    import pickle

    from pyspark.sql.types import BinaryType, IntegerType, StructField, StructType

    SUM_SCHEMA = StructType(
        [
            StructField("ty", IntegerType()),
            StructField("tx", IntegerType()),
            StructField("blob", BinaryType()),
        ]
    )

    def _summarize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for r in pdf.itertuples(index=False):
                arr = tilecodec.decode_row(r)
                mask = np.ones(arr.shape, dtype=bool) if nodata is None else (arr != nodata)
                labels = label_components(arr, mask, connect)
                lab = np.where(mask, labels, -1)
                sizes = _sizes(labels)
                pairs = set()
                la, lb = lab[:, :-1], lab[:, 1:]
                m = (la != lb) & (la >= 0) & (lb >= 0)
                pairs.update(zip(la[m].tolist(), lb[m].tolist()))
                ua, ub = lab[:-1, :], lab[1:, :]
                m = (ua != ub) & (ua >= 0) & (ub >= 0)
                pairs.update(zip(ua[m].tolist(), ub[m].tolist()))
                if connect == 8:
                    da, db = lab[:-1, :-1], lab[1:, 1:]
                    m = (da != db) & (da >= 0) & (db >= 0)
                    pairs.update(zip(da[m].tolist(), db[m].tolist()))
                    ea, eb = lab[:-1, 1:], lab[1:, :-1]
                    m = (ea != eb) & (ea >= 0) & (eb >= 0)
                    pairs.update(zip(ea[m].tolist(), eb[m].tolist()))
                # representative value = first scan-order occurrence
                fl, fv = labels.ravel(), arr.ravel()
                uniq, first_idx = np.unique(fl, return_index=True)
                rep = np.zeros(len(sizes), dtype=arr.dtype)
                rep[uniq] = fv[first_idx]
                info = {
                    "sizes": sizes,
                    "rep": rep,
                    "pairs": pairs,
                    "top": (lab[0, :], arr[0, :]),
                    "bottom": (lab[-1, :], arr[-1, :]),
                    "left": (lab[:, 0], arr[:, 0]),
                    "right": (lab[:, -1], arr[:, -1]),
                }
                out.append({"ty": int(r.ty), "tx": int(r.tx), "blob": pickle.dumps(info)})
            yield pd.DataFrame(out, columns=["ty", "tx", "blob"])

    summary_rows = (
        tiles.filter(F.col("band") == band).mapInPandas(_summarize, SUM_SCHEMA).collect()
    )
    infos: dict[tuple[int, int], dict] = {
        (int(r.ty), int(r.tx)): pickle.loads(r.blob) for r in summary_rows
    }

    # phase 2: global graph (driver)
    gid = {}
    offset = 0
    for key in sorted(infos):
        infos[key]["off"] = offset
        offset += len(infos[key]["sizes"])
    total = offset

    parent = list(range(total))

    def find(a):
        while parent[a] != a:
            parent[a] = parent[parent[a]]
            a = parent[a]
        return a

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    cross_pairs: set[tuple[int, int]] = set()

    def seam(keyA, stripA, keyB, stripB, diag_shift=0):
        """Match boundary strips of adjacent tiles: same value ->
        union; different value -> adjacency pair."""
        la, va = stripA
        lb, vb = stripB
        n = min(len(la), len(lb))
        a_off, b_off = infos[keyA]["off"], infos[keyB]["off"]
        for i in range(n):
            j = i + diag_shift
            if j < 0 or j >= len(lb):
                continue
            if la[i] < 0 or lb[j] < 0:
                continue
            ga, gb = a_off + int(la[i]), b_off + int(lb[j])
            if va[i] == vb[j]:
                union(ga, gb)
            else:
                cross_pairs.add((ga, gb))

    for (ty, tx) in sorted(infos):
        below = (ty + 1, tx)
        if below in infos:
            seam((ty, tx), infos[(ty, tx)]["bottom"], below, infos[below]["top"])
            if connect == 8:
                seam((ty, tx), infos[(ty, tx)]["bottom"], below, infos[below]["top"], -1)
                seam((ty, tx), infos[(ty, tx)]["bottom"], below, infos[below]["top"], 1)
        right = (ty, tx + 1)
        if right in infos:
            seam((ty, tx), infos[(ty, tx)]["right"], right, infos[right]["left"])
            if connect == 8:
                seam((ty, tx), infos[(ty, tx)]["right"], right, infos[right]["left"], -1)
                seam((ty, tx), infos[(ty, tx)]["right"], right, infos[right]["left"], 1)
        if connect == 8:
            # corner-to-corner diagonals across the diagonal tiles
            dr = (ty + 1, tx + 1)
            if dr in infos:
                seam(
                    (ty, tx),
                    (infos[(ty, tx)]["bottom"][0][-1:], infos[(ty, tx)]["bottom"][1][-1:]),
                    dr,
                    (infos[dr]["top"][0][:1], infos[dr]["top"][1][:1]),
                )
            dl = (ty + 1, tx - 1)
            if dl in infos:
                seam(
                    (ty, tx),
                    (infos[(ty, tx)]["bottom"][0][:1], infos[(ty, tx)]["bottom"][1][:1]),
                    dl,
                    (infos[dl]["top"][0][-1:], infos[dl]["top"][1][-1:]),
                )

    roots = np.array([find(i) for i in range(total)], dtype=np.int64)
    gsizes: dict[int, int] = {}
    grep: dict[int, float] = {}
    for key in sorted(infos):
        off = infos[key]["off"]
        sz = infos[key]["sizes"]
        rp = infos[key]["rep"]
        for L in range(len(sz)):
            r_ = int(roots[off + L])
            gsizes[r_] = gsizes.get(r_, 0) + int(sz[L])
            grep.setdefault(r_, rp[L])
    adj: dict[int, set[int]] = {}
    for key in sorted(infos):
        off = infos[key]["off"]
        for a, b in infos[key]["pairs"]:
            ra, rb = int(roots[off + a]), int(roots[off + b])
            if ra != rb:
                adj.setdefault(ra, set()).add(rb)
                adj.setdefault(rb, set()).add(ra)
    for a, b in cross_pairs:
        ra, rb = int(roots[a]), int(roots[b])
        if ra != rb:
            adj.setdefault(ra, set()).add(rb)
            adj.setdefault(rb, set()).add(ra)

    # largest neighbour with the deterministic (size desc, id asc) rule
    nbig: dict[int, int] = {}
    for p, ns in adj.items():
        nbig[p] = sorted(ns, key=lambda q: (-gsizes[q], q))[0]
    final: dict[int, int] = {}
    for p in gsizes:
        final[p] = p
        if gsizes[p] >= threshold:
            continue
        cur, seen = p, {p}
        while True:
            cur = nbig.get(cur, -1)
            if cur < 0 or cur in seen:
                break
            if gsizes[cur] >= threshold:
                final[p] = cur
                break
            seen.add(cur)

    # per-tile relabel map: local label -> output value
    spark = tiles.sparkSession
    maps = {}
    for key in sorted(infos):
        off = infos[key]["off"]
        n = len(infos[key]["sizes"])
        out_vals = np.array(
            [grep[final[int(roots[off + L])]] for L in range(n)], dtype=np.float64
        )
        maps[key] = out_vals
    bc = spark.sparkContext.broadcast(maps)

    def _rewrite(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        mm = bc.value
        for pdf in batches:
            out = []
            for r in pdf.itertuples(index=False):
                arr = tilecodec.decode_row(r)
                if r.band != band:
                    out.append({"band": r.band, "ty": r.ty, "tx": r.tx, "h": r.h, "w": r.w,
                                "dtype": r.dtype, "payload": r.payload})
                    continue
                mask = np.ones(arr.shape, dtype=bool) if nodata is None else (arr != nodata)
                labels = label_components(arr, mask, connect)
                vals = mm[(int(r.ty), int(r.tx))][labels].astype(arr.dtype)
                new = np.where(mask, vals, arr)
                out.append(tilecodec.tile_row(r.band, r.ty, r.tx, new))
            yield pd.DataFrame(out, columns=["band", "ty", "tx", "h", "w", "dtype", "payload"])

    return tiles.mapInPandas(_rewrite, TILE_SCHEMA)
