"""Packed Hilbert R-tree over envelopes (numpy, read-only).

Design follows the reference's FlatGeobuf static packed R-tree
(/root/reference/ogr/ogrsf_frmts/flatgeobuf/packedrtree.h:78-120):
leaves sorted by Hilbert code of envelope centers over the global
extent, packed bottom-up with node_size fanout, queried top-down.
Built once per broadcast polygon set on the driver, shipped to
executors inside the broadcast variable, probed per Arrow batch.

Query is vectorized level-by-level: at each level the surviving node
set is intersected against the query rect with one numpy expression.
"""

from __future__ import annotations

import numpy as np

from gdal_spark.geom.hilbert import hilbert_code

DEFAULT_NODE_SIZE = 16


class PackedRTree:
    def __init__(self, envelopes: np.ndarray, node_size: int = DEFAULT_NODE_SIZE) -> None:
        """envelopes: (N,4) [minx,miny,maxx,maxy]."""
        env = np.asarray(envelopes, dtype=np.float64).reshape(-1, 4)
        self.num_items = len(env)
        self.node_size = node_size
        if self.num_items == 0:
            self.order = np.empty(0, dtype=np.int64)
            self.levels: list[np.ndarray] = []
            return
        gminx, gminy = env[:, 0].min(), env[:, 1].min()
        gmaxx, gmaxy = env[:, 2].max(), env[:, 3].max()
        cx = (env[:, 0] + env[:, 2]) * 0.5
        cy = (env[:, 1] + env[:, 3]) * 0.5
        codes = hilbert_code(cx, cy, gminx, gminy, gmaxx, gmaxy)
        self.order = np.argsort(codes, kind="stable").astype(np.int64)

        # levels[0] = leaf envelopes in hilbert order; levels[k] packs
        # node_size children of levels[k-1]
        self.levels = [env[self.order]]
        while len(self.levels[-1]) > node_size:
            child = self.levels[-1]
            n = len(child)
            nparent = (n + node_size - 1) // node_size
            pad = nparent * node_size - n
            if pad:
                filler = np.full((pad, 4), np.nan)
                child_p = np.vstack([child, filler])
            else:
                child_p = child
            grouped = child_p.reshape(nparent, node_size, 4)
            with np.errstate(invalid="ignore"):
                parent = np.column_stack(
                    [
                        np.nanmin(grouped[:, :, 0], axis=1),
                        np.nanmin(grouped[:, :, 1], axis=1),
                        np.nanmax(grouped[:, :, 2], axis=1),
                        np.nanmax(grouped[:, :, 3], axis=1),
                    ]
                )
            self.levels.append(parent)

    def query_rect(self, minx: float, miny: float, maxx: float, maxy: float) -> np.ndarray:
        """Original item indices whose envelopes intersect the rect
        (inclusive overlap — touching counts, matching the strict-<
        reject of FilterGeometry stage 1, ogrlayer.cpp:4031). A rect
        with a NaN bound matches nothing."""
        if self.num_items == 0 or np.isnan([minx, miny, maxx, maxy]).any():
            return np.empty(0, dtype=np.int64)
        ns = self.node_size
        # walk down from root
        live = np.arange(len(self.levels[-1]), dtype=np.int64)
        for level in range(len(self.levels) - 1, -1, -1):
            env = self.levels[level]
            e = env[live]
            hit = ~((e[:, 2] < minx) | (e[:, 3] < miny) | (maxx < e[:, 0]) | (maxy < e[:, 1]))
            # nan-padded fillers compare False
            hit &= ~np.isnan(e[:, 0])
            live = live[hit]
            if level > 0:
                live = (live[:, None] * ns + np.arange(ns)).ravel()
                live = live[live < len(self.levels[level - 1])]
            if live.size == 0:
                return np.empty(0, dtype=np.int64)
        return self.order[live]

    def query_rects(self, envs: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        """Batch rect probe -> (row_idx, item_idx) candidate pairs, the
        pairs query_rect returns row by row (same inclusive overlap, NaN
        rows and NaN leaves never match, items in leaf order within a
        row), from one chunked leaf sweep: a (N, leaves) mask per chunk,
        sized to stay about 64 MB. A point probes with its degenerate
        envelope (x, y, x, y)."""
        envs = np.asarray(envs, dtype=np.float64).reshape(-1, 4)
        if self.num_items == 0 or len(envs) == 0:
            return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.int64)
        leaves = self.levels[0]
        valid_leaf = ~np.isnan(leaves[:, 0])
        rows = np.flatnonzero(~np.isnan(envs).any(axis=1))
        out_r: list[np.ndarray] = [np.empty(0, dtype=np.int64)]
        out_i: list[np.ndarray] = [np.empty(0, dtype=np.int64)]
        chunk = max(1, int(64e6 / max(1, len(leaves))))
        for s in range(0, rows.size, chunk):
            e = envs[rows[s : s + chunk]]
            m = valid_leaf & ~(
                (leaves[None, :, 2] < e[:, 0, None])
                | (leaves[None, :, 3] < e[:, 1, None])
                | (e[:, 2, None] < leaves[None, :, 0])
                | (e[:, 3, None] < leaves[None, :, 1])
            )
            ri, li = np.nonzero(m)
            out_r.append(rows[s + ri])
            out_i.append(self.order[li])
        return np.concatenate(out_r), np.concatenate(out_i)
