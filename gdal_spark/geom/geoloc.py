"""Geolocation-array transformer.

Reference: GDALCreateGeoLocTransformer / GDALGeoLocTransform
(/root/reference/alg/gdalgeoloc.cpp):
  - the GEOLOCATION metadata maps source pixel/line to geoloc-grid
    coordinates via (px - PIXEL_OFFSET)/PIXEL_STEP (minus 0.5 for the
    PIXEL_CENTER convention, :605-629), then bilinearly interpolates
    the X/Y arrays (PixelLineToXY, :392-460) with linear extension
    beyond the array borders ("infinite extension ... based on closest
    grid square")
  - inverse (geo -> pixel/line): the reference rasterizes a backmap
    grid and refines; we seed from the nearest geoloc sample (chunked
    argmin — the quadtree's role) and run Newton iterations with a
    finite-difference Jacobian of the forward field until the geo
    error is below a threshold. Same fixed point, different search
    machinery (documented).

Dateline/pole handling (ShiftGeoX) and nodata holes are out of scope;
arrays are assumed finite and single-valued."""

from __future__ import annotations

import numpy as np


class GeolocTransformer:
    def __init__(
        self,
        geoloc_x: np.ndarray,
        geoloc_y: np.ndarray,
        pixel_offset: float = 0.0,
        pixel_step: float = 1.0,
        line_offset: float = 0.0,
        line_step: float = 1.0,
        origin_top_left: bool = True,
        max_iterations: int = 15,
        tolerance: float = 1e-9,
    ):
        self.gx = np.asarray(geoloc_x, dtype=np.float64)
        self.gy = np.asarray(geoloc_y, dtype=np.float64)
        if self.gx.shape != self.gy.shape or self.gx.ndim != 2:
            raise ValueError("geoloc X/Y arrays must be 2D and same shape")
        self.pixel_offset = float(pixel_offset)
        self.pixel_step = float(pixel_step)
        self.line_offset = float(line_offset)
        self.line_step = float(line_step)
        self.conv_off = 0.0 if origin_top_left else 0.5
        self.max_iterations = int(max_iterations)
        self.tolerance = float(tolerance)

    def _sample(self, gp: np.ndarray, gl: np.ndarray):
        """Bilinear sample of the geoloc arrays at grid coords, with
        linear extension beyond the borders (PixelLineToXY)."""
        h, w = self.gx.shape
        ix = np.clip(np.floor(gp), 0, max(w - 2, 0)).astype(np.int64)
        iy = np.clip(np.floor(gl), 0, max(h - 2, 0)).astype(np.int64)
        fx = gp - ix
        fy = gl - iy
        ix1 = np.minimum(ix + 1, w - 1)
        iy1 = np.minimum(iy + 1, h - 1)

        def bil(a):
            return (1 - fy) * (a[iy, ix] + fx * (a[iy, ix1] - a[iy, ix])) + fy * (
                a[iy1, ix] + fx * (a[iy1, ix1] - a[iy1, ix])
            )

        return bil(self.gx), bil(self.gy)

    def forward(self, px, py):
        """source pixel/line -> (geo_x, geo_y)."""
        px = np.asarray(px, dtype=np.float64)
        py = np.asarray(py, dtype=np.float64)
        gp = (px - self.pixel_offset) / self.pixel_step - self.conv_off
        gl = (py - self.line_offset) / self.line_step - self.conv_off
        return self._sample(gp, gl)

    def inverse(self, X, Y):
        """(geo_x, geo_y) -> source pixel/line."""
        X = np.asarray(X, dtype=np.float64).ravel()
        Y = np.asarray(Y, dtype=np.float64).ravel()
        h, w = self.gx.shape
        # seed: nearest geoloc sample (chunked to bound memory)
        gp = np.empty(len(X))
        gl = np.empty(len(X))
        flat_x = self.gx.ravel()
        flat_y = self.gy.ravel()
        CH = 4096
        for s in range(0, len(X), CH):
            d2 = (flat_x[None, :] - X[s : s + CH, None]) ** 2 + (
                flat_y[None, :] - Y[s : s + CH, None]
            ) ** 2
            k = np.argmin(d2, axis=1)
            gl[s : s + CH] = k // w
            gp[s : s + CH] = k % w
        # Newton with finite-difference Jacobian of the geoloc field
        eps = 1e-3
        for _ in range(self.max_iterations):
            fx, fy = self._sample(gp, gl)
            ex = fx - X
            ey = fy - Y
            if max(np.abs(ex).max(initial=0.0), np.abs(ey).max(initial=0.0)) < self.tolerance:
                break
            fxp, fyp = self._sample(gp + eps, gl)
            fxl, fyl = self._sample(gp, gl + eps)
            j11 = (fxp - fx) / eps  # dX/dgp
            j12 = (fxl - fx) / eps  # dX/dgl
            j21 = (fyp - fy) / eps
            j22 = (fyl - fy) / eps
            det = j11 * j22 - j12 * j21
            det = np.where(np.abs(det) < 1e-300, 1e-300, det)
            gp = gp - (j22 * ex - j12 * ey) / det
            gl = gl - (-j21 * ex + j11 * ey) / det
        px = (gp + self.conv_off) * self.pixel_step + self.pixel_offset
        py = (gl + self.conv_off) * self.line_step + self.line_offset
        return px, py

