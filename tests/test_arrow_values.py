"""The mapInArrow level-0 build path: `_arrow_values` must produce
exactly the values the pandas-side kernels produce from the same data,
for every hash mode and Arrow physical layout quirk (sliced arrays with
non-zero offset, large_string offsets, null guard).
The end-to-end build is covered by the existing sketch_aggregate tests;
this pins the buffer plumbing itself.
"""

import numpy as np
import pandas as pd
import pyarrow as pa

from hll_spark.operators.agg import _arrow_values
from hll_spark.sketchlib.hashing import murmur3_x64_128_low64

STRS = ["", "hello", "x" * 15, "y" * 16, "z" * 17, "日本語テキスト", "a/b?c#d"] * 9


def test_murmur3_string_matches_series_kernel():
    arr = pa.array(STRS, type=pa.string())
    got = _arrow_values(arr, "murmur3")
    want = murmur3_x64_128_low64(pd.Series(STRS)).view(np.int64)
    assert (got == want).all()


def test_murmur3_large_string_and_binary():
    want = murmur3_x64_128_low64(pd.Series(STRS)).view(np.int64)
    for typ in (pa.large_string(), pa.binary(), pa.large_binary()):
        vals = [s.encode() for s in STRS] if "binary" in str(typ) else STRS
        got = _arrow_values(pa.array(vals, type=typ), "murmur3")
        assert (got == want).all(), typ


def test_murmur3_sliced_array_offset_is_honored():
    arr = pa.array(STRS, type=pa.string())
    sl = arr.slice(5, 20)
    got = _arrow_values(sl, "murmur3")
    want = murmur3_x64_128_low64(pd.Series(STRS[5:25])).view(np.int64)
    assert (got == want).all()


def test_null_guard_drops_nulls():
    arr = pa.array(["a", None, "b"], type=pa.string())
    got = _arrow_values(arr, "murmur3")
    want = murmur3_x64_128_low64(pd.Series(["a", "b"])).view(np.int64)
    assert (got == want).all()


def test_xxhash64_and_float_modes_match_pandas_path():
    ints = pa.array(np.arange(-50, 50, dtype=np.int64))
    got = _arrow_values(ints, "xxhash64")
    assert got.dtype == np.int64
    assert (got == np.arange(-50, 50, dtype=np.int64)).all()
    floats = pa.array(np.linspace(-3, 3, 40))
    gotf = _arrow_values(floats, None)
    assert gotf.dtype == np.float64
    assert (gotf == np.linspace(-3, 3, 40)).all()


def test_raw_mode_passes_values_through():
    arr = pa.array(["p", "q", "p"], type=pa.string())
    got = _arrow_values(arr, "raw")
    assert list(got) == ["p", "q", "p"]
