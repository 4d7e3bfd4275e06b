"""Round-trip property tests for the Gorilla / delta-of-delta codecs
(SURVEY §5 item 3: identity on random float series incl. NaN/±0/denormals;
delta-of-delta on irregular timestamps)."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st

from tsengine import codec

FLOAT_CODECS = list(codec.CODECS)
TS_CODECS = list(codec.TS_CODECS)


def _bits_equal(a: np.ndarray, b: np.ndarray) -> bool:
    return len(a) == len(b) and np.array_equal(
        a.view(np.uint64), b.view(np.uint64)
    )


@pytest.mark.parametrize("name", FLOAT_CODECS)
def test_float_edge_cases(name):
    enc, dec = codec.CODECS[name]
    cases = [
        np.array([], dtype=np.float64),
        np.array([0.0]),
        np.array([0.0, -0.0, np.nan, np.inf, -np.inf, 5e-324, -5e-324, 1.0]),
        np.repeat(np.pi, 500),
        np.array([1e308, -1e308, 1e-308]),
    ]
    for c in cases:
        assert _bits_equal(c, dec(enc(c)))


@pytest.mark.parametrize("name", FLOAT_CODECS)
@settings(max_examples=30, deadline=None)
@given(data=st.lists(st.floats(allow_nan=True, width=64), max_size=400))
def test_float_roundtrip_property(name, data):
    enc, dec = codec.CODECS[name]
    arr = np.array(data, dtype=np.float64)
    assert _bits_equal(arr, dec(enc(arr)))


@pytest.mark.parametrize("name", FLOAT_CODECS)
def test_float_random_walk_compresses(name):
    enc, _ = codec.CODECS[name]
    rng = np.random.default_rng(7)
    # sensor-like series: values hold for ~10 steps (typical rollup output)
    smooth = np.repeat(np.round(np.cumsum(rng.normal(size=1000)), 3), 10)
    blob = enc(smooth)
    assert len(blob) < smooth.nbytes / 2  # must actually compress

def test_regular_grid_ts_compression():
    # gap-filled 1-minute grid: dod ≡ 0 → extreme compression
    ts = (np.arange(10_000, dtype=np.int64) * 60 + 1735689600) * 10**9
    for name in TS_CODECS:
        enc, dec = codec.TS_CODECS[name]
        blob = enc(ts)
        assert np.array_equal(dec(blob), ts)
        assert len(blob) < ts.nbytes / 50, name


@pytest.mark.parametrize("name", TS_CODECS)
@settings(max_examples=30, deadline=None)
@given(data=st.lists(st.integers(min_value=-(2**63), max_value=2**63 - 1), max_size=300))
def test_ts_roundtrip_property(name, data):
    enc, dec = codec.TS_CODECS[name]
    arr = np.array(data, dtype=np.int64)
    assert np.array_equal(dec(enc(arr)), arr)


@pytest.mark.parametrize("name", TS_CODECS)
def test_ts_irregular(name):
    enc, dec = codec.TS_CODECS[name]
    rng = np.random.default_rng(11)
    deltas = np.maximum(1, rng.lognormal(3, 1.5, 5000)).astype(np.int64)
    ts = 1735689600 + np.cumsum(deltas)
    assert np.array_equal(dec(enc(ts)), ts)


# --------------------------------------------------------------------------
# batch (many-slice) encoders must be BIT-identical to the per-blob path
# --------------------------------------------------------------------------

def _rand_vals(rng, n, kind):
    if kind == 0:
        return rng.standard_normal(n)
    if kind == 1:
        return np.round(rng.exponential(50, n), 2)
    if kind == 2:
        return np.full(n, float(rng.standard_normal()))
    v = rng.standard_normal(n)
    v[rng.random(n) < 0.3] = np.nan
    v[rng.random(n) < 0.1] = np.inf
    v[rng.random(n) < 0.1] = -0.0
    v[rng.random(n) < 0.1] = 0.0
    return v


def _rand_ts(rng, n, kind):
    base = 1_700_000_000_000_000_000
    if kind == 0:
        return base + np.arange(n, dtype=np.int64) * 3_600_000_000_000
    if kind == 1:
        return base + np.sort(rng.integers(0, 10**15, n)).astype(np.int64)
    if kind == 2:
        return np.sort(rng.integers(-(2**62), 2**62, n)).astype(np.int64)
    return base + np.cumsum(rng.integers(0, 5, n)).astype(np.int64)


def test_encode_many_bit_identical():
    rng = np.random.default_rng(73)
    for trial in range(120):
        nblobs = int(rng.integers(1, 12))
        # includes n=1, n=2, and >BLOCK multi-block blobs
        lens = (rng.integers(1, 4, nblobs) if trial % 5 == 0
                else rng.integers(1, 300, nblobs))
        ends = np.cumsum(lens)
        starts = ends - lens
        vals = np.concatenate(
            [_rand_vals(rng, n, int(rng.integers(0, 4))) for n in lens])
        ts = np.concatenate(
            [_rand_ts(rng, n, int(rng.integers(0, 4))) for n in lens])
        many_v = codec.xorblk_encode_many(vals, starts, ends)
        many_t = codec.dodblk_encode_many(ts, starts, ends)
        for i, (s, e) in enumerate(zip(starts, ends)):
            assert many_v[i] == codec.xorblk_encode(vals[s:e]), (trial, i)
            assert many_t[i] == codec.dodblk_encode(ts[s:e]), (trial, i)


def test_encode_many_rejects_non_tiling():
    with pytest.raises(ValueError):
        codec.xorblk_encode_many(np.zeros(4), [0, 3], [2, 4])
    with pytest.raises(ValueError):
        codec.dodblk_encode_many(np.zeros(4, dtype=np.int64), [1], [4])


def test_encode_many_rejects_empty_slices():
    # contiguous and tiling, but the middle slice is empty (or reversed)
    for starts, ends in (([0, 2, 2], [2, 2, 4]), ([0, 3, 2], [3, 2, 4])):
        with pytest.raises(ValueError, match="non-empty"):
            codec.xorblk_encode_many(np.zeros(4), starts, ends)
        with pytest.raises(ValueError, match="non-empty"):
            codec.dodblk_encode_many(np.zeros(4, dtype=np.int64), starts, ends)


def test_decode_many_bit_identical():
    rng = np.random.default_rng(91)
    for trial in range(100):
        nblobs = int(rng.integers(1, 15))
        lens = (rng.integers(1, 4, nblobs) if trial % 5 == 0
                else rng.integers(1, 300, nblobs))
        vb, tb, v_ref, t_ref = [], [], [], []
        for n in lens:
            v = _rand_vals(rng, n, int(rng.integers(0, 4)))
            t = _rand_ts(rng, n, int(rng.integers(0, 4)))
            vb.append(codec.xorblk_encode(v))
            tb.append(codec.dodblk_encode(t))
            v_ref.append(v)
            t_ref.append(t)
        vd, vcnt = codec.xorblk_decode_many(vb)
        td, tcnt = codec.dodblk_decode_many(tb)
        assert np.array_equal(vcnt, lens) and np.array_equal(tcnt, lens)
        assert np.array_equal(
            vd.view(np.uint64), np.concatenate(v_ref).view(np.uint64)
        ), trial  # uint64 view: NaN-payload and ±0 bit-exactness
        assert np.array_equal(td, np.concatenate(t_ref)), trial
