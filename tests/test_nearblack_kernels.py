"""Differential tests of nearblack's strip kernels against their loop
oracles (pure numpy, fixed seeds, no Spark):

  - _vscan (cumulative-sum vertical count) vs a loop over rows;
  - _hscan (table-driven horizontal state machine) vs a loop over
    columns with one vector of run state per row;
  - both kernels chained as the operator's four stages vs the literal
    per-pixel nearblack_scalar.
"""

from __future__ import annotations

import numpy as np
import pytest

from gdal_spark.operators.nearblack import (
    _default_colors,
    _hscan,
    _nonblack,
    _replace_value,
    _vscan,
    nearblack_scalar,
)


def _vscan_loop(arr, alpha, colors, near, max_nb, replace_value, bottom_up):
    """Oracle: the vertical check one row at a time, a count vector
    across the strip's columns."""
    nb_, H, w = arr.shape
    counts = np.zeros(w, dtype=np.int32)
    out_counts = np.empty((H, w), dtype=np.uint8)
    rows = range(H - 1, -1, -1) if bottom_up else range(H)
    nbm = _nonblack(arr.reshape(nb_, H * w), colors, near).reshape(H, w)
    for edge_dist, r in enumerate(rows):
        act = counts <= max_nb
        nb = nbm[r]
        counts = counts + (act & nb)
        if max_nb > 0 and edge_dist == 0:
            counts[act & nb] = max_nb + 1  # nearblack_lib.cpp:611-617
        repl = act & (counts <= max_nb)
        if repl.any():
            arr[:, r, repl] = replace_value
            if alpha is not None:
                alpha[r, repl] = 0
        out_counts[r] = np.minimum(counts, max_nb + 1).astype(np.uint8)
    return out_counts


def _hscan_loop(arr, counts, alpha, colors, near, max_nb, replace_value, left_to_right):
    """Oracle: the horizontal check one column at a time, run counter
    and testing flag as vectors across the strip's rows."""
    nb_, h, W = arr.shape
    if W <= 1:
        return
    xs = range(0, W - 1) if left_to_right else range(W - 1, 0, -1)
    istart = 0 if left_to_right else W - 1
    do_test = np.ones(h, dtype=bool)
    nnb = np.zeros(h, dtype=np.int32)
    nbm = _nonblack(arr.reshape(nb_, h * W), colors, near).reshape(h, W)
    for x in xs:
        nb = nbm[:, x]
        cz = counts[:, x].astype(np.int32)
        nnb_new = np.where(nb, np.where(cz <= max_nb, cz, nnb + 1), nnb)  # :695-698
        stop = nnb_new > max_nb
        if max_nb > 0 and x == istart:
            stop = stop | nb  # :708-713
        repl = do_test & ~stop
        if repl.any():
            arr[:, repl, x] = replace_value
            if alpha is not None:
                alpha[repl, x] = 0
        re_enable = ~do_test & (cz == 0)  # :734-739
        nnb = np.where(do_test, nnb_new, np.where(re_enable, 0, nnb))
        do_test = np.asarray(np.where(do_test, ~stop, re_enable), dtype=bool)


MAX_NB = [0, 1, 2, 5, 254]
DIMS = [1, 2, 7, 13]  # 1, 2 and odd extents


def _colors(rng, mode, nbands):
    if mode == "colors":
        return [tuple(int(v) for v in rng.integers(0, 256, nbands)) for _ in range(int(rng.integers(2, 4)))]
    return _default_colors(mode == "white", nbands)


def _strip(rng, nbands, h, w, colors, near):
    """Pixels within or just past ``near`` of one of the colors, with
    some arbitrary ones mixed in."""
    picks = np.asarray(colors, dtype=np.int32)[rng.integers(0, len(colors), (h, w))]
    close = picks.transpose(2, 0, 1) + rng.integers(-near - 3, near + 4, (nbands, h, w))
    arr = np.clip(close, 0, 255).astype(np.uint8)
    wild = rng.random((h, w)) < 0.25
    arr[:, wild] = rng.integers(0, 256, (nbands, int(wild.sum())), dtype=np.uint8)
    return arr


def _sidecar(rng, h, w, max_nb):
    counts = rng.integers(0, max_nb + 2, (h, w)).astype(np.uint8)
    counts[rng.random((h, w)) < 0.3] = 0
    return counts


def _cases(seed, mode):
    rng = np.random.default_rng(seed)
    for nbands in (1, 2, 3):
        for h in DIMS:
            for w in DIMS:
                colors = _colors(rng, mode, nbands)
                near = int(rng.integers(0, 31))
                yield rng, _strip(rng, nbands, h, w, colors, near), colors, near


def _alpha(arr, on):
    return np.full(arr.shape[1:], 255, dtype=np.uint8) if on else None


@pytest.mark.parametrize("mode", ["black", "white", "colors"])
@pytest.mark.parametrize("max_nb", MAX_NB)
def test_vscan_matches_row_loop(max_nb, mode):
    for rng, arr, colors, near in _cases(max_nb * 7 + len(mode), mode):
        rep = _replace_value(colors)
        for bottom_up in (False, True):
            on = bool(rng.integers(0, 2))
            want, got = arr.copy(), arr.copy()
            want_a, got_a = _alpha(arr, on), _alpha(arr, on)
            want_c = _vscan_loop(want, want_a, colors, near, max_nb, rep, bottom_up)
            got_c = _vscan(got, got_a, colors, near, max_nb, rep, bottom_up)
            np.testing.assert_array_equal(got, want)
            np.testing.assert_array_equal(got_c, want_c)
            if on:
                np.testing.assert_array_equal(got_a, want_a)


@pytest.mark.parametrize("mode", ["black", "white", "colors"])
@pytest.mark.parametrize("max_nb", MAX_NB)
def test_hscan_matches_column_loop(max_nb, mode):
    for rng, arr, colors, near in _cases(max_nb * 11 + len(mode), mode):
        rep = _replace_value(colors)
        counts = _sidecar(rng, *arr.shape[1:], max_nb)
        for left_to_right in (True, False):
            on = bool(rng.integers(0, 2))
            want, got = arr.copy(), arr.copy()
            want_a, got_a = _alpha(arr, on), _alpha(arr, on)
            _hscan_loop(want, counts, want_a, colors, near, max_nb, rep, left_to_right)
            _hscan(got, counts, got_a, colors, near, max_nb, rep, left_to_right)
            np.testing.assert_array_equal(got, want)
            if on:
                np.testing.assert_array_equal(got_a, want_a)


def _stages(arr, alpha, scan_v, scan_h, colors, near, max_nb):
    """The operator's four stages over a whole raster: its column and
    row strips are independent, so one strip of full width or height
    computes every strip at once."""
    rep = _replace_value(colors)
    cnt = scan_v(arr, alpha, colors, near, max_nb, rep, False)
    scan_h(arr, cnt, alpha, colors, near, max_nb, rep, True)
    scan_h(arr, cnt, alpha, colors, near, max_nb, rep, False)
    cnt = scan_v(arr, alpha, colors, near, max_nb, rep, True)
    scan_h(arr, cnt, alpha, colors, near, 0, rep, True)
    scan_h(arr, cnt, alpha, colors, near, 0, rep, False)


def test_perfbench_shaped_raster():
    """4 x 4 tiles of 256 like perfbench's nearblack source: a content
    block inside a one-tile near-black collar, near 15, -nb 2."""
    rng = np.random.default_rng(11)
    arr = rng.integers(0, 12, (1, 1024, 1024), dtype=np.uint8)
    arr[:, 256:768, 256:768] = rng.integers(40, 255, (1, 512, 512), dtype=np.uint8)
    arr[:, rng.integers(0, 1024, 64), rng.integers(0, 1024, 64)] = 200  # collar noise
    colors = _default_colors(False, 1)
    want, got = arr.copy(), arr.copy()
    want_a, got_a = _alpha(arr, True), _alpha(arr, True)
    _stages(want, want_a, _vscan_loop, _hscan_loop, colors, 15, 2)
    _stages(got, got_a, _vscan, _hscan, colors, 15, 2)
    np.testing.assert_array_equal(got, want)
    np.testing.assert_array_equal(got_a, want_a)
    # -nb 2 trims up to two content pixels at each edge of the block
    inner = np.s_[0, 258:766, 258:766]
    assert (got[0, :256] == 0).mean() > 0.99 and (got[inner] == arr[inner]).all()


@pytest.mark.parametrize("max_nb", MAX_NB)
def test_chained_kernels_match_scalar_replica(max_nb):
    rng = np.random.default_rng(200 + max_nb)
    for mode in ("black", "white", "colors"):
        for h, w in ((1, 9), (9, 1), (2, 2), (11, 7), (16, 23)):
            nbands = int(rng.integers(1, 4))
            colors = _colors(rng, mode, nbands)
            near = int(rng.integers(0, 31))
            arr = _strip(rng, nbands, h, w, colors, near)
            want, want_a = nearblack_scalar(arr, colors=colors, near=near, max_non_black=max_nb, set_alpha=True)
            got, got_a = arr.copy(), _alpha(arr, True)
            _stages(got, got_a, _vscan, _hscan, colors, near, max_nb)
            np.testing.assert_array_equal(got, want)
            np.testing.assert_array_equal(got_a, want_a)
