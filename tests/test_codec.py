"""Round-trip property tests for the chunk blob codecs — XOR-coded
values (``xorblk``) and delta-of-delta timestamps (``dodblk``)
(SURVEY §5 item 3: identity on random float series incl. NaN/±0/denormals;
delta-of-delta on irregular timestamps). Every case decodes through the
batch decoders, which are the only ones the engine has."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st

from tsengine import codec


def _bits_equal(a: np.ndarray, b: np.ndarray) -> bool:
    return len(a) == len(b) and np.array_equal(
        a.view(np.uint64), b.view(np.uint64)
    )


def _one_blob(encode_many, encode_one, arr) -> bytes:
    # the batch encoders take non-empty slices only; an empty series is
    # one empty blob from the per-blob encoder
    if len(arr) == 0:
        return encode_one(arr)
    (blob,) = encode_many(arr, [0], [len(arr)])
    return blob


def _vals_roundtrip(arr: np.ndarray) -> tuple[np.ndarray, bytes]:
    blob = _one_blob(codec.xorblk_encode_many, codec.xorblk_encode, arr)
    out, counts = codec.xorblk_decode_many([blob])
    assert counts.tolist() == [len(arr)]
    return out, blob


def _ts_roundtrip(arr: np.ndarray) -> tuple[np.ndarray, bytes]:
    blob = _one_blob(codec.dodblk_encode_many, codec.dodblk_encode, arr)
    out, counts = codec.dodblk_decode_many([blob])
    assert counts.tolist() == [len(arr)]
    return out, blob


# the ids name the stored format tag (schema.CHUNKS val_codec / ts_codec)
@pytest.mark.parametrize("name", ["xorblk"])
def test_float_edge_cases(name):
    cases = [
        np.array([], dtype=np.float64),
        np.array([0.0]),
        np.array([0.0, -0.0, np.nan, np.inf, -np.inf, 5e-324, -5e-324, 1.0]),
        np.repeat(np.pi, 500),
        np.array([1e308, -1e308, 1e-308]),
        # NaN payloads and sign bits must survive, not just "is NaN"
        np.array([0x7FF8000000000001, 0xFFF0000000000ABC, 0x7FF4000000000000],
                 dtype=np.uint64).view(np.float64),
    ]
    for c in cases:
        assert _bits_equal(c, _vals_roundtrip(c)[0])


@pytest.mark.parametrize("name", ["xorblk"])
@settings(max_examples=30, deadline=None)
@given(data=st.lists(st.floats(allow_nan=True, width=64), max_size=400))
def test_float_roundtrip_property(name, data):
    arr = np.array(data, dtype=np.float64)
    assert _bits_equal(arr, _vals_roundtrip(arr)[0])


@pytest.mark.parametrize("name", ["xorblk"])
def test_float_random_walk_compresses(name):
    rng = np.random.default_rng(7)
    # sensor-like series: values hold for ~10 steps (typical rollup output)
    smooth = np.repeat(np.round(np.cumsum(rng.normal(size=1000)), 3), 10)
    out, blob = _vals_roundtrip(smooth)
    assert _bits_equal(smooth, out)
    assert len(blob) < smooth.nbytes / 2  # must actually compress


def test_regular_grid_ts_compression():
    # gap-filled 1-minute grid: dod ≡ 0 → extreme compression
    ts = (np.arange(10_000, dtype=np.int64) * 60 + 1735689600) * 10**9
    out, blob = _ts_roundtrip(ts)
    assert np.array_equal(out, ts)
    assert len(blob) < ts.nbytes / 50


@pytest.mark.parametrize("name", ["dodblk"])
@settings(max_examples=30, deadline=None)
@given(data=st.lists(st.integers(min_value=-(2**63), max_value=2**63 - 1), max_size=300))
def test_ts_roundtrip_property(name, data):
    arr = np.array(data, dtype=np.int64)
    assert np.array_equal(_ts_roundtrip(arr)[0], arr)


@pytest.mark.parametrize("name", ["dodblk"])
def test_ts_irregular(name):
    rng = np.random.default_rng(11)
    deltas = np.maximum(1, rng.lognormal(3, 1.5, 5000)).astype(np.int64)
    ts = 1735689600 + np.cumsum(deltas)
    assert np.array_equal(_ts_roundtrip(ts)[0], ts)


# --------------------------------------------------------------------------
# batch (many-slice) encoders must be BIT-identical to the per-blob
# reference encoders, and the batch decoders must invert both
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
        vd, vcnt = codec.xorblk_decode_many(many_v)
        td, tcnt = codec.dodblk_decode_many(many_t)
        assert np.array_equal(vcnt, lens) and np.array_equal(tcnt, lens)
        assert _bits_equal(vd, vals) and np.array_equal(td, ts), trial


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


def test_decode_many_rejects_bad_magic():
    vals = np.arange(5, dtype=np.float64)
    ts = np.arange(5, dtype=np.int64) * 60
    (vb,) = codec.xorblk_encode_many(vals, [0], [5])
    (tb,) = codec.dodblk_encode_many(ts, [0], [5])
    bad_v = b"XX" + vb[2:]
    bad_t = b"XX" + tb[2:]
    with pytest.raises(ValueError, match="not an xorblk blob"):
        codec.xorblk_decode_many([vb, bad_v])
    with pytest.raises(ValueError, match="not a dodblk blob"):
        codec.dodblk_decode_many([tb, bad_t])
    # a blob of the other codec is rejected the same way
    with pytest.raises(ValueError, match="not an xorblk blob"):
        codec.xorblk_decode_many([tb])
    with pytest.raises(ValueError, match="not a dodblk blob"):
        codec.dodblk_decode_many([vb])
