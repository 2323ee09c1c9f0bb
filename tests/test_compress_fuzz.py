"""Property-based fuzzing of the compression codecs (hypothesis).

The BASELINE per-row invariant — decompress(compress(x)) == x — must
hold for EVERY input, not just the synthetic fixtures: extreme values,
empty/singleton arrays, constant runs, alternating signs, NaN/inf bit
patterns for the float codec."""

from __future__ import annotations

import math

import numpy as np
from hypothesis import given, settings, strategies as st

from fforma_spark.functions.compress import (
    dod_decode,
    dod_encode,
    dod_encode_matrix,
    xor_decode,
    xor_decode_fast,
    xor_encode,
)

I32 = st.integers(min_value=-(2**31), max_value=2**31 - 1)


#: one splice into the generated rows: (row, column, int64 boundary
#: value), or no splice when the value is None
SPLICE = st.tuples(
    st.integers(min_value=0, max_value=7),
    st.integers(min_value=0, max_value=599),
    st.sampled_from(
        [None, -(2**63), -(2**63) + 1, -1, 0, 1, 2**63 - 2, 2**63 - 1]
    ),
)


def _int64_rows(seed: int, b: int, n: int) -> np.ndarray:
    """(b, n) int64 rows from a Philox stream: full-range draws, each
    row arithmetic-shifted by its own 0..63 bits, so the rows span every
    delta-of-delta bit width from the full int64 range down to {-1, 0}."""
    rng = np.random.Generator(np.random.Philox(seed))
    raw = rng.integers(
        -(2**63), 2**63 - 1, size=(b, n), dtype=np.int64, endpoint=True
    )
    return raw >> rng.integers(0, 64, size=(b, 1))


@settings(max_examples=200, deadline=None)
@given(
    st.integers(min_value=1, max_value=8),
    st.integers(min_value=3, max_value=600),
    st.integers(min_value=0, max_value=2**64 - 1),
    # a fixed-size tuple, not st.lists: lists make Hypothesis discard
    # some examples as invalid
    st.tuples(*[SPLICE] * 8),
)
def test_dod_matrix_parity_any_int64(b, n, seed, splices):
    # Hypothesis draws only the shape, the seed and the splices, so an
    # example stays a few dozen bytes at any (b, n)
    X = _int64_rows(seed, b, n)
    for i, j, v in splices:
        if v is not None:
            X[i % b, j % n] = v
    assert dod_encode_matrix(X) == [dod_encode(r) for r in X]


@settings(max_examples=300, deadline=None)
@given(st.lists(I32, min_size=0, max_size=400))
def test_dod_roundtrip_any_int32(vals):
    arr = np.asarray(vals, dtype=np.int64)
    out = dod_decode(dod_encode(arr))
    np.testing.assert_array_equal(out, arr)


@settings(max_examples=100, deadline=None)
@given(
    st.integers(min_value=0, max_value=2**31 - 1),
    st.integers(min_value=1, max_value=2000),
)
def test_dod_constant_runs_compress_well(v, n):
    arr = np.full(n, v, dtype=np.int64)
    blob = dod_encode(arr)
    np.testing.assert_array_equal(dod_decode(blob), arr)
    if n >= 64:
        # constant sequence: delta-of-delta is all zeros → tiny block
        assert len(blob) < n  # far below 8n raw bytes


FLOATS = st.floats(
    allow_nan=True, allow_infinity=True, width=64
)


@settings(max_examples=300, deadline=None)
@given(st.lists(FLOATS, min_size=0, max_size=300))
def test_xor_roundtrip_any_double_bits(vals):
    arr = np.asarray(vals, dtype=np.float64)
    for decode in (xor_decode, xor_decode_fast):
        out = decode(xor_encode(arr))
        assert out.shape == arr.shape
        # bit-exact: compare the raw uint64 views (NaN payloads too)
        np.testing.assert_array_equal(
            out.view(np.uint64), arr.view(np.uint64)
        )


@settings(max_examples=100, deadline=None)
@given(st.lists(I32, min_size=3, max_size=200), st.integers(1, 50))
def test_dod_linear_ramps_compress_to_near_nothing(vals, step):
    # arithmetic progressions have zero second difference
    n = len(vals)
    arr = np.arange(n, dtype=np.int64) * step + vals[0]
    blob = dod_encode(arr)
    np.testing.assert_array_equal(dod_decode(blob), arr)
    assert len(blob) <= 28 + 1 + (n // 256 + 1) * 2  # header + empty blocks


def test_xor_nan_inf_exact_bits():
    arr = np.array(
        [0.0, -0.0, math.inf, -math.inf, math.nan, 1e308, 5e-324],
        dtype=np.float64,
    )
    out = xor_decode_fast(xor_encode(arr))
    np.testing.assert_array_equal(out.view(np.uint64), arr.view(np.uint64))
