"""The tile codec (operators/tilecodec.py): bit-exact round trips for
every dtype the engine writes, remainder edge tiles, the web-tile form,
paste / cut against numpy, TileError on malformed payloads (locally and
through a Spark plan), and a source check that keeps the payload format
inside the codec."""

from __future__ import annotations

import ast
import pathlib

import numpy as np
import pandas as pd
import pytest

from gdal_spark.operators import tilecodec
from gdal_spark.operators.tilecodec import TileError

ENGINE_DTYPES = ["uint8", "int16", "uint16", "int32", "float32", "float64"]


def _array(dtype: str, shape, seed: int = 0) -> np.ndarray:
    rng = np.random.default_rng(seed)
    if np.issubdtype(np.dtype(dtype), np.integer):
        info = np.iinfo(dtype)
        return rng.integers(info.min, info.max, size=shape, endpoint=True).astype(dtype)
    a = rng.standard_normal(shape).astype(dtype)
    a.flat[:3] = [np.nan, np.inf, -0.0]
    return a


class TestRoundTrip:
    @pytest.mark.parametrize("dtype", ENGINE_DTYPES)
    def test_grid_row_bit_exact(self, dtype):
        a = _array(dtype, (7, 5))
        row = tilecodec.tile_row(2, 3, 4, a)
        assert (row["band"], row["ty"], row["tx"], row["h"], row["w"], row["dtype"]) == (2, 3, 4, 7, 5, dtype)
        assert row["payload"] == a.tobytes()
        back = tilecodec.decode_row(row)
        assert back.dtype == np.dtype(dtype) and back.shape == (7, 5)
        assert back.tobytes() == a.tobytes()

    def test_decode_is_a_read_only_view(self):
        payload = _array("uint16", (4, 4)).tobytes()
        t = tilecodec.decode(payload, "uint16", (4, 4))
        assert not t.flags.writeable
        assert not t.flags.owndata  # a view over the payload bytes, no copy
        with pytest.raises(ValueError):
            t[0, 0] = 1
        # bytearray payloads (Spark Row.payload) decode read-only too
        assert not tilecodec.decode(bytearray(payload), "uint16", (4, 4)).flags.writeable

    def test_encode_casts(self):
        assert tilecodec.encode(np.array([1.7, 300.0]), "uint8") == np.array([1, 44], np.uint8).tobytes()
        row = tilecodec.tile_row(1, 0, 0, np.array([[True, False]]), "uint8")
        assert row["dtype"] == "uint8" and row["payload"] == b"\x01\x00"

    @pytest.mark.parametrize("dtype", ENGINE_DTYPES)
    def test_remainder_edge_tiles(self, dtype):
        # a 10 x 13 canvas on 4-px tiles: remainder rows of 2 and cols of 1
        canvas = _array(dtype, (10, 13), seed=1)
        rows = tilecodec.cut(canvas, 4, band=1)
        assert len(rows) == 3 * 4
        shapes = {(r["ty"], r["tx"]): (r["h"], r["w"]) for r in rows}
        assert shapes[(2, 3)] == (2, 1) and shapes[(0, 3)] == (4, 1) and shapes[(2, 0)] == (2, 4)
        for r in rows:
            t = tilecodec.decode_row(r)
            want = canvas[r["ty"] * 4 : r["ty"] * 4 + 4, r["tx"] * 4 : r["tx"] * 4 + 4]
            assert t.tobytes() == want.tobytes()

    @pytest.mark.parametrize("dtype", ENGINE_DTYPES)
    def test_web_tiles_without_h_w(self, dtype):
        a = _array(dtype, (8, 8), seed=2)
        row = tilecodec.web_row(5, 10, 11, 1, a)
        assert set(row) == {"z", "tx", "ty", "band", "dtype", "payload"}
        assert tilecodec.decode_row(row, 8).tobytes() == a.tobytes()
        pdf = pd.DataFrame([row, tilecodec.web_row(5, 11, 11, 1, a[::-1])])
        got = tilecodec.decode_batch(pdf, tile_size=8)
        assert got[0].tobytes() == a.tobytes() and got[1].tobytes() == a[::-1].tobytes()

    def test_row_kinds_decode_alike(self):
        a = _array("int32", (3, 2))
        row = tilecodec.tile_row(1, 0, 0, a)
        pdf = pd.DataFrame([row])
        tup = next(pdf.itertuples(index=False))
        for r in (row, pdf.iloc[0], tup):
            assert tilecodec.decode_row(r).tobytes() == a.tobytes()


class TestPasteCut:
    def test_paste_cut_match_numpy_reference(self):
        ref = _array("float32", (11, 9), seed=3)
        rows = tilecodec.cut(ref, 4, band=1)
        pdf = pd.DataFrame(rows).sample(frac=1.0, random_state=0)  # order-free
        canvas = np.zeros_like(ref)
        tilecodec.paste(canvas, pdf, pdf["ty"].to_numpy() * 4, pdf["tx"].to_numpy() * 4)
        assert canvas.tobytes() == ref.tobytes()

    def test_paste_clips_to_canvas(self):
        t = np.arange(16, dtype=np.int16).reshape(4, 4)
        pdf = pd.DataFrame([tilecodec.tile_row(1, 0, 0, t)] * 2)
        canvas = np.full((5, 5), -1, dtype=np.int16)
        # one tile hangs off the top-left, one off the bottom-right
        tilecodec.paste(canvas, pdf, [-2, 3], [-1, 3])
        want = np.full((5, 5), -1, dtype=np.int16)
        want[0:2, 0:3] = t[2:4, 1:4]
        want[3:5, 3:5] = t[0:2, 0:2]
        assert np.array_equal(canvas, want)

    def test_paste_into_layers(self):
        a, b = np.ones((2, 3), np.uint8), np.full((2, 3), 7, np.uint8)
        pdf = pd.DataFrame([tilecodec.tile_row(1, 0, 0, a), tilecodec.tile_row(2, 0, 1, b)])
        canvas = np.zeros((2, 2, 6), np.uint8)
        tilecodec.paste(canvas, pdf, [0, 0], [0, 3], layer=[1, 0])
        assert canvas[1, :, :3].tolist() == a.tolist() and canvas[0, :, 3:].tolist() == b.tolist()
        assert not canvas[0, :, :3].any() and not canvas[1, :, 3:].any()


class TestTileError:
    def _row(self, payload, dtype="float32"):
        return {"band": 3, "ty": 1, "tx": 2, "h": 4, "w": 4, "dtype": dtype, "payload": payload}

    def test_short_payload(self):
        with pytest.raises(TileError, match=r"\(band, ty, tx\)=\(3, 1, 2\).* 60 bytes.* needs 64"):
            tilecodec.decode_row(self._row(b"\0" * 60))

    def test_long_payload(self):
        with pytest.raises(TileError, match=r"\(band, ty, tx\)=\(3, 1, 2\).* 68 bytes.* needs 64"):
            tilecodec.decode_row(self._row(b"\0" * 68))

    @pytest.mark.parametrize("dtype", ["coo", "float33", "object", None])
    def test_unknown_dtype(self, dtype):
        with pytest.raises(TileError, match="unknown dtype"):
            tilecodec.decode_row(self._row(b"\0" * 64, dtype))

    def test_is_a_value_error_naming_the_batch_row(self):
        good = tilecodec.tile_row(1, 0, 0, np.zeros((2, 2), np.uint8))
        bad = dict(good, ty=5, tx=6, payload=b"\0" * 3)
        with pytest.raises(ValueError, match=r"\(band, ty, tx\)=\(1, 5, 6\)"):
            tilecodec.decode_batch(pd.DataFrame([good, bad]))

    def test_checksum_col_names_the_truncated_tile(self, spark):
        from pyspark.errors import PythonException

        from gdal_spark.fixtures import BYTE20_SPEC, byte20_tiles
        from gdal_spark.operators.raster import checksum_col

        tiles = byte20_tiles(spark)
        bad = tiles.filter("ty = 1 AND tx = 0").selectExpr(
            "band", "ty", "tx", "h", "w", "dtype", "substring(payload, 1, 10) AS payload"
        )
        table = tiles.filter("NOT (ty = 1 AND tx = 0)").unionByName(bad)
        with pytest.raises(PythonException) as exc:
            checksum_col(table, BYTE20_SPEC).collect()
        assert "TileError" in str(exc.value)
        assert "(band, ty, tx)=(1, 1, 0)" in str(exc.value)


# ---------------------------------------------------------------------------
# source check: only the codec knows the payload format

ROOT = pathlib.Path(__file__).resolve().parents[1] / "gdal_spark"

# (module, enclosing function): why it may hand-code a payload
ALLOWED = {
    ("operators/raster.py", "_partial_row"):
        "rasterize's private sparse 'coo' partial (int32 indices + float64 values)",
}


def _mentions_payload(node: ast.AST) -> bool:
    for n in ast.walk(node):
        if isinstance(n, ast.Name) and "payload" in n.id:
            return True
        if isinstance(n, ast.Attribute) and "payload" in n.attr:
            return True
        if isinstance(n, ast.Constant) and isinstance(n.value, str) and "payload" in n.value:
            return True
    return False


def _calls(node: ast.AST, attr: str) -> bool:
    return any(
        isinstance(n, ast.Call) and isinstance(n.func, ast.Attribute) and n.func.attr == attr
        for n in ast.walk(node)
    )


def _hand_coded(tree: ast.AST):
    """(function, line, kind) of each hand decode / encode of a payload."""
    def visit(node, fn):
        for child in ast.iter_child_nodes(node):
            name = child.name if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)) else fn
            if (isinstance(child, ast.Call) and isinstance(child.func, ast.Attribute)
                    and child.func.attr == "frombuffer" and child.args
                    and _mentions_payload(child.args[0])):
                yield name, child.lineno, "decode"
            if isinstance(child, ast.Dict):
                for k, v in zip(child.keys, child.values):
                    if isinstance(k, ast.Constant) and k.value == "payload" and _calls(v, "tobytes"):
                        yield name, child.lineno, "encode"
            if (isinstance(child, ast.Call) and isinstance(child.func, ast.Attribute)
                    and child.func.attr == "append" and _mentions_payload(child.func.value)
                    and any(_calls(a, "tobytes") for a in child.args)):
                yield name, child.lineno, "encode"
            yield from visit(child, name)

    yield from visit(tree, None)


def test_scanner_flags_hand_coding():
    src = '''
def f(r, rows, out):
    t = np.frombuffer(r.payload, dtype=r.dtype)
    rows.append({"payload": t.tobytes()})
    out["payload"].append(t.tobytes())
'''
    assert [k for _, _, k in _hand_coded(ast.parse(src))] == ["decode", "encode", "encode"]


def test_only_the_codec_hand_codes_payloads():
    found, used = [], set()
    for path in sorted(ROOT.rglob("*.py")):
        rel = path.relative_to(ROOT).as_posix()
        if rel == "operators/tilecodec.py":
            continue
        for fn, line, kind in _hand_coded(ast.parse(path.read_text())):
            if (rel, fn) in ALLOWED:
                used.add((rel, fn))
            else:
                found.append(f"{rel}:{line} {kind} in {fn}()")
    assert not found, "hand-coded tile payloads outside tilecodec:\n" + "\n".join(found)
    assert used == set(ALLOWED), f"stale allowlist entries: {set(ALLOWED) - used}"
