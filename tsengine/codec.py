"""Gorilla XOR float compression + delta-of-delta timestamp compression.

Implements the two codecs from the Facebook Gorilla paper (Pelkonen et al.,
VLDB 2015 — public literature; no reference-repo analog, rewemo stores raw
CSV, `ncep/timeseries_tools.py:392-404`):

1. ``gorilla`` / ``dod`` — the classic variable-length bitstreams, bit-exact
   per the paper. Encode/decode are inherently sequential (each value's
   control bits depend on the previous window state), so these run as tight
   Python-int bit loops — correct, used for parity tests and
   interoperability, NOT the hot path.

2. ``xorblk`` / ``dodblk`` — vectorization-friendly block variants, the
   production path. Same XOR-of-prior / delta-of-delta cores, but bit
   widths are fixed per 128-value block (per-block header: leading-zero
   count + meaningful width), which makes BOTH encode and decode pure numpy
   array ops (unpackbits/packbits bit-matrix shuffles) — no per-row Python,
   O(n) with small constants, and blocks are independently decodable
   (random access within a chunk). Compression is within a few % of classic
   Gorilla on smooth series and better on noisy ones.

All functions operate on numpy arrays; chunks.py wraps them in grouped-map
UDFs. Round-trip is bit-exact for every float64 including NaN/±0/denormals
(property-tested in tests/test_codec.py).
"""

from __future__ import annotations

import struct

import numpy as np

BLOCK = 128
_U64 = np.uint64


# --------------------------------------------------------------------------
# vectorized bit helpers
# --------------------------------------------------------------------------

def _pack_fixed(vals: np.ndarray, width: int) -> bytes:
    """Pack low ``width`` bits of each uint64 contiguously, MSB-first."""
    if width == 0 or len(vals) == 0:
        return b""
    n = len(vals)
    be = (vals.astype(_U64) << _U64(64 - width)).astype(">u8")
    bits = np.unpackbits(be.view(np.uint8).reshape(n, 8), axis=1)[:, :width]
    return np.packbits(bits.ravel()).tobytes()


def _unpack_fixed(buf: bytes, n: int, width: int) -> np.ndarray:
    """Inverse of _pack_fixed → uint64 array with values in low bits."""
    if width == 0 or n == 0:
        return np.zeros(n, dtype=_U64)
    bits = np.unpackbits(np.frombuffer(buf, dtype=np.uint8))[: n * width]
    full = np.zeros((n, 64), dtype=np.uint8)
    full[:, :width] = bits.reshape(n, width)
    be = np.packbits(full.ravel()).reshape(n, 8)
    return be.copy().view(">u8").ravel().astype(_U64) >> _U64(64 - width)


def _nbytes(n_values: int, width: int) -> int:
    return (n_values * width + 7) // 8


# --------------------------------------------------------------------------
# xorblk — vectorized block-adaptive XOR float codec (production path)
# --------------------------------------------------------------------------

_XORBLK_MAGIC = b"XB1\x00"


def xorblk_encode(values: np.ndarray, block: int = BLOCK) -> bytes:
    """float64 array → XOR-of-prior, per-block fixed-width bit packing."""
    v = np.ascontiguousarray(values, dtype=np.float64).view(_U64)
    n = len(v)
    out = [struct.pack("<4sIH", _XORBLK_MAGIC, n, block)]
    if n == 0:
        return b"".join(out)
    x = np.empty_like(v)
    x[0] = v[0]
    np.bitwise_xor(v[1:], v[:-1], out=x[1:])
    for lo in range(0, n, block):
        xb = x[lo : lo + block]
        nzmask = xb != 0
        nz = xb[nzmask]
        if len(nz) == 0:
            out.append(struct.pack("<BB", 0, 0))
            continue
        # min-of-clz == clz-of-OR (and likewise ctz): one reduce + O(1)
        # Python int ops instead of two vectorized bit-scan loops — cuts
        # per-call cost ~3x on the small blocks that dominate real chunk
        # tables (e.g. 24-row day-chunks of an hourly grid)
        m = int(np.bitwise_or.reduce(nz))
        lead = 64 - m.bit_length()
        trail = (m & -m).bit_length() - 1
        width = 64 - lead - trail
        # zero-bitmap (1 bit/value) + fixed-width payload over NONZERO xors
        # only — recovers classic Gorilla's '0'-control-bit advantage on
        # repeated values while staying fully vectorized.
        out.append(struct.pack("<BB", trail, width))
        out.append(np.packbits(nzmask).tobytes())
        out.append(_pack_fixed(nz >> _U64(trail), width))
    return b"".join(out)


def xorblk_decode(buf: bytes) -> np.ndarray:
    magic, n, block = struct.unpack_from("<4sIH", buf, 0)
    assert magic == _XORBLK_MAGIC, "bad xorblk blob"
    pos = 10
    x = np.empty(n, dtype=_U64)
    for lo in range(0, n, block):
        cnt = min(block, n - lo)
        trail, width = struct.unpack_from("<BB", buf, pos)
        pos += 2
        if width == 0:
            x[lo : lo + cnt] = 0
            continue
        bm_bytes = (cnt + 7) // 8
        nzmask = np.unpackbits(
            np.frombuffer(buf[pos : pos + bm_bytes], dtype=np.uint8)
        )[:cnt].astype(bool)
        pos += bm_bytes
        nnz = int(nzmask.sum())
        nb = _nbytes(nnz, width)
        blk = np.zeros(cnt, dtype=_U64)
        blk[nzmask] = _unpack_fixed(buf[pos : pos + nb], nnz, width) << _U64(trail)
        x[lo : lo + cnt] = blk
        pos += nb
    v = np.bitwise_xor.accumulate(x)
    return v.view(np.float64)


# --------------------------------------------------------------------------
# batch (many-slice) encoders — one vectorized pass over a whole Arrow
# batch of blobs instead of one numpy pipeline per blob. Bit-identical to
# the per-blob encoders (asserted in tests/test_codec.py): the per-blob
# path costs ~15 small-array numpy calls + 2 struct packs per blob, which
# dominates encode wall time when blobs are small (e.g. 24-row day chunks
# of an hourly grid — the common chunk-table shape). Here every reduction
# runs once per BATCH via ufunc.reduceat over block boundaries, and the
# variable-width bit packing happens as ONE global scatter + packbits;
# the only remaining per-blob work is byte-slice assembly.
# --------------------------------------------------------------------------


def _bitlen_u64(m: np.ndarray) -> np.ndarray:
    """Vectorized int.bit_length() for uint64 — exact: the 32-bit halves
    convert to float64 losslessly (< 2^53), so frexp's exponent IS the
    bit length of each half."""
    hi = (m >> _U64(32)).astype(np.float64)
    lo = (m & _U64(0xFFFFFFFF)).astype(np.float64)
    bl_hi = np.frexp(hi)[1]  # 0 for 0
    bl_lo = np.frexp(lo)[1]
    return np.where(hi > 0, bl_hi + 32, bl_lo).astype(np.int64)


def _blocks_of_slices(starts: np.ndarray, ends: np.ndarray, block: int):
    """Split contiguous slices [starts[i], ends[i]) into ≤``block``-sized
    sub-blocks. Returns (blob_of_block, bstart, bend) arrays."""
    lens = ends - starts
    nblk = (lens + block - 1) // block
    blob_of_block = np.repeat(np.arange(len(starts)), nblk)
    first = np.repeat(np.cumsum(nblk) - nblk, nblk)
    k = np.arange(len(blob_of_block)) - first
    bstart = starts[blob_of_block] + k * block
    bend = np.minimum(bstart + block, ends[blob_of_block])
    return blob_of_block, bstart, bend


def _check_tiling(arr_len: int, starts: np.ndarray, ends: np.ndarray) -> None:
    if len(starts) == 0:
        if arr_len:
            raise ValueError("slices must tile the array")
        return
    if starts[0] != 0 or ends[-1] != arr_len or (
        len(starts) > 1 and not np.array_equal(starts[1:], ends[:-1])
    ):
        raise ValueError("slices must be contiguous, ascending, and tile the array")
    # an empty slice would make reduceat-based readers (chunks) pick up the
    # next slice's first value instead of nothing
    if np.any(ends <= starts):
        raise ValueError("slices must be non-empty")


def _pack_varwidth_blocks(
    vals: np.ndarray,
    n_per_block: np.ndarray,
    width_per_block: np.ndarray,
) -> tuple[bytes, np.ndarray]:
    """Pack ``vals`` (uint64, concatenated per block, low ``width`` bits
    meaningful, MSB-first like ``_pack_fixed``) into one global byte
    string where block b occupies ``ceil(n_b * w_b / 8)`` bytes starting
    at the returned offsets. Blocks with n_b == 0 occupy 0 bytes.
    Equivalent to b"".join(_pack_fixed(block_vals, w) per block)."""
    nbytes = (n_per_block * width_per_block + 7) // 8
    offs = np.concatenate([[0], np.cumsum(nbytes)])
    total_bits = int(offs[-1]) * 8
    if total_bits == 0:
        return b"", offs
    w_v = np.repeat(width_per_block, n_per_block)
    # source bits: top w bits of (val << (64 - w)), MSB-first
    be = (vals << (_U64(64) - w_v.astype(_U64))).astype(">u8")
    bits = np.unpackbits(be.view(np.uint8).reshape(len(vals), 8), axis=1)
    sel = np.arange(64)[None, :] < w_v[:, None]
    # destination bit positions: block byte base * 8 + j * w + (0..w-1)
    base_v = np.repeat(offs[:-1] * 8, n_per_block)
    j_first = np.repeat(np.cumsum(n_per_block) - n_per_block, n_per_block)
    j_v = np.arange(len(vals)) - j_first
    start_v = base_v + j_v * w_v
    dest = start_v[:, None] + np.arange(64)[None, :]
    out_bits = np.zeros(total_bits, dtype=np.uint8)
    out_bits[dest[sel]] = bits[sel]
    return np.packbits(out_bits).tobytes(), offs


def _pack_mask_blocks(
    mask: np.ndarray,
    bstart: np.ndarray,
    bcnt: np.ndarray,
    emit: np.ndarray,
) -> tuple[bytes, np.ndarray]:
    """Pack per-block slices of a global boolean array into one byte
    string; block b (where ``emit``) occupies ceil(cnt_b/8) bytes at the
    returned offsets (non-emitted blocks occupy 0). Equivalent to
    np.packbits(mask[bstart:bstart+cnt]).tobytes() per emitted block."""
    cnt_e = np.where(emit, bcnt, 0)
    nbytes = (cnt_e + 7) // 8
    offs = np.concatenate([[0], np.cumsum(nbytes)])
    total_bits = int(offs[-1]) * 8
    if total_bits == 0:
        return b"", offs
    src_first = np.repeat(bstart, cnt_e)
    i_first = np.repeat(np.cumsum(cnt_e) - cnt_e, cnt_e)
    idx = np.arange(int(cnt_e.sum()))
    src = src_first + (idx - i_first)
    dest = np.repeat(offs[:-1] * 8, cnt_e) + (idx - i_first)
    out_bits = np.zeros(total_bits, dtype=np.uint8)
    out_bits[dest] = mask[src]
    return np.packbits(out_bits).tobytes(), offs


def xorblk_encode_many(
    values: np.ndarray, starts, ends, block: int = BLOCK
) -> list[bytes]:
    """Batch twin of ``xorblk_encode``: returns
    ``[xorblk_encode(values[s:e], block) for (s, e)]`` bit-identically,
    with every reduction vectorized across all slices. The slices must be
    non-empty, contiguous, ascending, and tile ``values``."""
    v = np.ascontiguousarray(values, dtype=np.float64).view(_U64)
    starts = np.asarray(starts, dtype=np.int64)
    ends = np.asarray(ends, dtype=np.int64)
    _check_tiling(len(v), starts, ends)
    if len(starts) == 0:
        return []
    x = np.empty_like(v)
    x[0] = v[0]
    np.bitwise_xor(v[1:], v[:-1], out=x[1:])
    x[starts] = v[starts]
    nz = x != 0
    blob_of_block, bstart, bend = _blocks_of_slices(starts, ends, block)
    bcnt = bend - bstart
    m = np.bitwise_or.reduceat(x, bstart)
    emit = m != 0
    lsb = m & (~m + _U64(1))
    trail = np.where(emit, _bitlen_u64(lsb) - 1, 0)
    width = np.where(emit, _bitlen_u64(m) - trail, 0)
    nnz = np.add.reduceat(nz.astype(np.int64), bstart) * emit
    # headers: per-blob 10-byte <4sIH>, per-block 2-byte <BB>
    lens = (ends - starts).astype("<u4")
    heads = np.zeros(len(starts), dtype=[("m", "S4"), ("n", "<u4"), ("b", "<u2")])
    heads["m"] = _XORBLK_MAGIC
    heads["n"] = lens
    heads["b"] = block
    head_b = heads.tobytes()
    bh = np.zeros(len(bstart), dtype=[("t", "u1"), ("w", "u1")])
    bh["t"] = np.where(emit, trail, 0)
    bh["w"] = np.where(emit, width, 0)
    bh_b = bh.tobytes()
    mask_b, moffs = _pack_mask_blocks(nz, bstart, bcnt, emit)
    vals_nz = x[nz] >> np.repeat(trail, bcnt)[nz].astype(_U64)
    pay_b, poffs = _pack_varwidth_blocks(vals_nz, nnz, width)
    # assembly
    hv, bhv, mv, pv = (
        memoryview(head_b), memoryview(bh_b), memoryview(mask_b), memoryview(pay_b)
    )
    out: list[bytes] = []
    bi = 0
    n_blocks = len(bstart)
    for i in range(len(starts)):
        parts = [hv[i * 10:(i + 1) * 10]]
        while bi < n_blocks and blob_of_block[bi] == i:
            parts.append(bhv[bi * 2:(bi + 1) * 2])
            if emit[bi]:
                parts.append(mv[moffs[bi]:moffs[bi + 1]])
                parts.append(pv[poffs[bi]:poffs[bi + 1]])
            bi += 1
        out.append(b"".join(parts))
    return out


def dodblk_encode_many(
    ts: np.ndarray, starts, ends, block: int = BLOCK
) -> list[bytes]:
    """Batch twin of ``dodblk_encode`` — same contract as
    ``xorblk_encode_many``."""
    t = np.ascontiguousarray(ts, dtype=np.int64)
    starts = np.asarray(starts, dtype=np.int64)
    ends = np.asarray(ends, dtype=np.int64)
    _check_tiling(len(t), starts, ends)
    if len(starts) == 0:
        return []
    lens = ends - starts
    # per-blob z sequence: zigzag(dod) over positions start+2 .. end-1
    m_lens = np.maximum(lens - 2, 0)
    zvalid = np.ones(len(t), dtype=bool)
    zvalid[starts] = False
    zvalid[np.minimum(starts + 1, len(t) - 1)] = False
    # wrapping arithmetic to match dodblk_encode's int64 np.diff twice
    dod = np.empty_like(t)
    if len(t) >= 3:
        with np.errstate(over="ignore"):
            dod[2:] = (t[2:] - t[1:-1]) - (t[1:-1] - t[:-2])
    zcat = _zigzag(dod[zvalid]) if int(m_lens.sum()) else np.empty(0, dtype=_U64)
    zstarts = np.cumsum(m_lens) - m_lens
    zends = zstarts + m_lens
    has_z = m_lens > 0
    blob_of_block, bstart, bend = _blocks_of_slices(
        zstarts[has_z], zends[has_z], block
    )
    blob_ids = np.flatnonzero(has_z)[blob_of_block] if len(bstart) else blob_of_block
    bcnt = bend - bstart
    if len(bstart):
        mx = np.maximum.reduceat(zcat, bstart)
        nzmask = zcat != 0
        emit = mx != 0
        width = np.where(emit, _bitlen_u64(mx), 0)
        nnz = np.add.reduceat(nzmask.astype(np.int64), bstart) * emit
        mask_b, moffs = _pack_mask_blocks(nzmask, bstart, bcnt, emit)
        pay_b, poffs = _pack_varwidth_blocks(zcat[nzmask], nnz, width)
        wh_b = width.astype("u1").tobytes()
    else:
        emit = np.zeros(0, dtype=bool)
        mask_b = pay_b = wh_b = b""
        moffs = poffs = np.zeros(1, dtype=np.int64)
    heads = np.zeros(len(starts), dtype=[("m", "S4"), ("n", "<u4"), ("b", "<u2")])
    heads["m"] = _DODBLK_MAGIC
    heads["n"] = lens.astype("<u4")
    heads["b"] = block
    head_b = heads.tobytes()
    # per-blob raw prefix: <q t0> for n==1, <qq t0 d0> for n>=2
    t0 = t[starts]
    d0 = np.zeros(len(starts), dtype=np.int64)
    multi = lens >= 2
    with np.errstate(over="ignore"):
        d0[multi] = t[starts[multi] + 1] - t[starts[multi]]
    hv, mv, pv, wv = (
        memoryview(head_b), memoryview(mask_b), memoryview(pay_b), memoryview(wh_b)
    )
    out: list[bytes] = []
    bi = 0
    n_blocks = len(bstart)
    for i in range(len(starts)):
        parts = [hv[i * 10:(i + 1) * 10]]
        n_i = lens[i]
        if n_i == 1:
            parts.append(struct.pack("<q", t0[i]))
        elif n_i >= 2:
            parts.append(struct.pack("<qq", t0[i], d0[i]))
        while bi < n_blocks and blob_ids[bi] == i:
            parts.append(wv[bi:bi + 1])
            if emit[bi]:
                parts.append(mv[moffs[bi]:moffs[bi + 1]])
                parts.append(pv[poffs[bi]:poffs[bi + 1]])
            bi += 1
        out.append(b"".join(parts))
    return out


def _gather_varwidth(
    pay_bits: np.ndarray,
    bit_base: np.ndarray,
    n_per_block: np.ndarray,
    width_per_block: np.ndarray,
) -> np.ndarray:
    """Inverse of ``_pack_varwidth_blocks``: read ``n_b`` values of
    ``w_b`` bits (MSB-first) starting at absolute bit offset
    ``bit_base[b]`` of the global unpacked bit array → uint64 values in
    order. Blocks with n_b == 0 contribute nothing."""
    n_vals = int(n_per_block.sum())
    if n_vals == 0:
        return np.zeros(0, dtype=_U64)
    w_v = np.repeat(width_per_block, n_per_block)
    base_v = np.repeat(bit_base, n_per_block)
    j_first = np.repeat(np.cumsum(n_per_block) - n_per_block, n_per_block)
    j_v = np.arange(n_vals) - j_first
    start_v = base_v + j_v * w_v
    sel = np.arange(64)[None, :] < w_v[:, None]
    src = start_v[:, None] + np.arange(64)[None, :]
    bits = np.zeros((n_vals, 64), dtype=np.uint8)
    bits[sel] = pay_bits[src[sel]]
    be = np.packbits(bits.ravel()).reshape(n_vals, 8)
    return (
        be.copy().view(">u8").ravel().astype(_U64)
        >> (_U64(64) - w_v.astype(_U64))
    )


def _segmented_starts(counts: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    ends = np.cumsum(counts)
    return ends - counts, ends


def xorblk_decode_many(blobs) -> tuple[np.ndarray, np.ndarray]:
    """Batch twin of ``xorblk_decode``: decodes a sequence of blobs into
    (concatenated float64 values, per-blob counts) —
    ``np.concatenate([xorblk_decode(b) for b in blobs])`` bit-identically
    with the per-value work vectorized across all blobs."""
    lens, blk_meta = [], []  # blk_meta: (trail, width, cnt, nnz, mask_off, pay_off)
    mask_parts, pay_parts = [], []
    mask_off = pay_off = 0
    for buf in blobs:
        magic, n, block = struct.unpack_from("<4sIH", buf, 0)
        assert magic == _XORBLK_MAGIC, "bad xorblk blob"
        lens.append(n)
        pos = 10
        for lo in range(0, n, block):
            cnt = min(block, n - lo)
            trail, width = struct.unpack_from("<BB", buf, pos)
            pos += 2
            if width == 0:
                blk_meta.append((0, 0, cnt, 0, mask_off, pay_off))
                continue
            bm = (cnt + 7) // 8
            mask = buf[pos:pos + bm]
            pos += bm
            nnz = int.from_bytes(mask, "big").bit_count()
            nb = _nbytes(nnz, width)
            blk_meta.append((trail, width, cnt, nnz, mask_off, pay_off))
            mask_parts.append(mask)
            pay_parts.append(buf[pos:pos + nb])
            mask_off += bm
            pay_off += nb
            pos += nb
    lens = np.array(lens, dtype=np.int64)
    total = int(lens.sum())
    x = np.zeros(total, dtype=_U64)
    if blk_meta:
        meta = np.array(blk_meta, dtype=np.int64)
        trail_b, width_b, cnt_b, nnz_b = meta[:, 0], meta[:, 1], meta[:, 2], meta[:, 3]
        moff_b, poff_b = meta[:, 4], meta[:, 5]
        row_start, _ = _segmented_starts(cnt_b)
        emit = width_b > 0
        if emit.any():
            mask_bits = np.unpackbits(
                np.frombuffer(b"".join(mask_parts), dtype=np.uint8)
            )
            # global nz flags: block b's cnt flags live at mask bit
            # offset moff*8 .. +cnt
            cnt_e = np.where(emit, cnt_b, 0)
            src = np.repeat(moff_b * 8, cnt_e) + (
                np.arange(int(cnt_e.sum()))
                - np.repeat(np.cumsum(cnt_e) - cnt_e, cnt_e)
            )
            dst = np.repeat(row_start, cnt_e) + (
                np.arange(int(cnt_e.sum()))
                - np.repeat(np.cumsum(cnt_e) - cnt_e, cnt_e)
            )
            nz = np.zeros(total, dtype=bool)
            nz[dst] = mask_bits[src].astype(bool)
            pay_bits = np.unpackbits(
                np.frombuffer(b"".join(pay_parts), dtype=np.uint8)
            )
            vals = _gather_varwidth(pay_bits, poff_b * 8, nnz_b, width_b)
            x[nz] = vals << np.repeat(trail_b, nnz_b).astype(_U64)
    if total == 0:
        return np.zeros(0, dtype=np.float64), lens
    acc = np.bitwise_xor.accumulate(x)
    starts, _ = _segmented_starts(lens)
    pref = np.where(
        starts > 0, acc[np.maximum(starts - 1, 0)], _U64(0)
    ).astype(_U64)
    out = acc ^ np.repeat(pref, lens)
    return out.view(np.float64), lens


def dodblk_decode_many(blobs) -> tuple[np.ndarray, np.ndarray]:
    """Batch twin of ``dodblk_decode`` — same contract as
    ``xorblk_decode_many`` but returns int64 timestamps."""
    lens, t0s, d0s = [], [], []
    blk_meta = []  # (width, cnt, nnz, mask_off, pay_off)
    mask_parts, pay_parts = [], []
    mask_off = pay_off = 0
    for buf in blobs:
        magic, n, block = struct.unpack_from("<4sIH", buf, 0)
        assert magic == _DODBLK_MAGIC, "bad dodblk blob"
        lens.append(n)
        pos = 10
        if n == 0:
            t0s.append(0)
            d0s.append(0)
            continue
        if n == 1:
            t0s.append(struct.unpack_from("<q", buf, pos)[0])
            d0s.append(0)
            continue
        t0, d0 = struct.unpack_from("<qq", buf, pos)
        t0s.append(t0)
        d0s.append(d0)
        pos += 16
        m = n - 2
        for lo in range(0, m, block):
            cnt = min(block, m - lo)
            (width,) = struct.unpack_from("<B", buf, pos)
            pos += 1
            if width == 0:
                blk_meta.append((0, cnt, 0, mask_off, pay_off))
                continue
            bm = (cnt + 7) // 8
            mask = buf[pos:pos + bm]
            pos += bm
            nnz = int.from_bytes(mask, "big").bit_count()
            nb = _nbytes(nnz, width)
            blk_meta.append((width, cnt, nnz, mask_off, pay_off))
            mask_parts.append(mask)
            pay_parts.append(buf[pos:pos + nb])
            mask_off += bm
            pay_off += nb
            pos += nb
    lens = np.array(lens, dtype=np.int64)
    m_lens = np.maximum(lens - 2, 0)
    total_z = int(m_lens.sum())
    z = np.zeros(total_z, dtype=_U64)
    if blk_meta:
        meta = np.array(blk_meta, dtype=np.int64)
        width_b, cnt_b, nnz_b = meta[:, 0], meta[:, 1], meta[:, 2]
        moff_b, poff_b = meta[:, 3], meta[:, 4]
        row_start, _ = _segmented_starts(cnt_b)
        emit = width_b > 0
        if emit.any():
            mask_bits = np.unpackbits(
                np.frombuffer(b"".join(mask_parts), dtype=np.uint8)
            )
            cnt_e = np.where(emit, cnt_b, 0)
            src = np.repeat(moff_b * 8, cnt_e) + (
                np.arange(int(cnt_e.sum()))
                - np.repeat(np.cumsum(cnt_e) - cnt_e, cnt_e)
            )
            dst = np.repeat(row_start, cnt_e) + (
                np.arange(int(cnt_e.sum()))
                - np.repeat(np.cumsum(cnt_e) - cnt_e, cnt_e)
            )
            nzf = np.zeros(total_z, dtype=bool)
            nzf[dst] = mask_bits[src].astype(bool)
            pay_bits = np.unpackbits(
                np.frombuffer(b"".join(pay_parts), dtype=np.uint8)
            )
            z[nzf] = _gather_varwidth(pay_bits, poff_b * 8, nnz_b, width_b)
    dod = _unzigzag(z)
    # per-blob: d = cumsum([d0, dod...]), t = cumsum([t0, d...]) — both
    # as segmented cumsums (global cumsum minus per-segment prefix;
    # int64 wrap-around matches the per-blob np.cumsum semantics)
    d_lens = np.maximum(lens - 1, 0)
    total_d = int(d_lens.sum())
    total_t = int(lens.sum())
    if total_t == 0:
        return np.zeros(0, dtype=np.int64), lens
    with np.errstate(over="ignore"):
        d_seq = np.zeros(0, dtype=np.int64)
        if total_d:
            g = np.zeros(total_d, dtype=np.int64)
            d_starts, _ = _segmented_starts(d_lens)
            has_d = d_lens > 0
            g[d_starts[has_d]] = np.array(d0s, dtype=np.int64)[has_d]
            # dod values fill the non-first positions of each segment
            dpos_mask = np.ones(total_d, dtype=bool)
            dpos_mask[d_starts[has_d]] = False
            g[dpos_mask] = dod
            gc = np.cumsum(g)
            dpref = np.where(d_starts > 0, gc[np.maximum(d_starts - 1, 0)], 0)
            d_seq = gc - np.repeat(dpref, d_lens)
        # timestamps
        h = np.zeros(total_t, dtype=np.int64)
        t_starts, _ = _segmented_starts(lens)
        has_t = lens > 0
        h[t_starts[has_t]] = np.array(t0s, dtype=np.int64)[has_t]
        tpos_mask = np.ones(total_t, dtype=bool)
        tpos_mask[t_starts[has_t]] = False
        h[tpos_mask] = d_seq
        hc = np.cumsum(h)
        tpref = np.where(t_starts > 0, hc[np.maximum(t_starts - 1, 0)], 0)
        out = hc - np.repeat(tpref, lens)
    return out, lens


CODECS_ENC_MANY = {"xorblk": xorblk_encode_many}
TS_CODECS_ENC_MANY = {"dodblk": dodblk_encode_many}
CODECS_DEC_MANY = {"xorblk": xorblk_decode_many}
TS_CODECS_DEC_MANY = {"dodblk": dodblk_decode_many}


# --------------------------------------------------------------------------
# dodblk — vectorized delta-of-delta int64 timestamp codec (production path)
# --------------------------------------------------------------------------

_DODBLK_MAGIC = b"DB1\x00"


def _zigzag(x: np.ndarray) -> np.ndarray:
    x = x.astype(np.int64, copy=False)
    return ((x << 1) ^ (x >> 63)).view(np.uint64)


def _unzigzag(u: np.ndarray) -> np.ndarray:
    u = u.astype(_U64, copy=False)
    return ((u >> _U64(1)).view(np.int64)) ^ -((u & _U64(1)).view(np.int64))


def dodblk_encode(ts: np.ndarray, block: int = BLOCK) -> bytes:
    """int64 array (epoch units) → first value + first delta raw, then
    zigzagged delta-of-deltas in per-block fixed width. On a gap-filled
    regular grid the dods are all zero → ~2 bytes/block."""
    t = np.ascontiguousarray(ts, dtype=np.int64)
    n = len(t)
    head = struct.pack("<4sIH", _DODBLK_MAGIC, n, block)
    if n == 0:
        return head
    if n == 1:
        return head + struct.pack("<q", t[0])
    d = np.diff(t)
    dod = np.diff(d)
    z = _zigzag(dod)
    out = [head, struct.pack("<qq", t[0], d[0])]
    for lo in range(0, len(z), block):
        zb = z[lo : lo + block]
        nzmask = zb != 0
        nz = zb[nzmask]
        if len(nz) == 0:
            out.append(struct.pack("<B", 0))
            continue
        width = int(nz.max()).bit_length()
        out.append(struct.pack("<B", width))
        out.append(np.packbits(nzmask).tobytes())
        out.append(_pack_fixed(nz, width))
    return b"".join(out)


def dodblk_decode(buf: bytes) -> np.ndarray:
    magic, n, block = struct.unpack_from("<4sIH", buf, 0)
    assert magic == _DODBLK_MAGIC, "bad dodblk blob"
    pos = 10
    if n == 0:
        return np.empty(0, dtype=np.int64)
    if n == 1:
        return np.array(struct.unpack_from("<q", buf, pos), dtype=np.int64)
    t0, d0 = struct.unpack_from("<qq", buf, pos)
    pos += 16
    m = n - 2
    z = np.empty(m, dtype=_U64)
    for lo in range(0, m, block):
        cnt = min(block, m - lo)
        (width,) = struct.unpack_from("<B", buf, pos)
        pos += 1
        if width == 0:
            z[lo : lo + cnt] = 0
            continue
        bm_bytes = (cnt + 7) // 8
        nzmask = np.unpackbits(
            np.frombuffer(buf[pos : pos + bm_bytes], dtype=np.uint8)
        )[:cnt].astype(bool)
        pos += bm_bytes
        nnz = int(nzmask.sum())
        nb = _nbytes(nnz, width)
        blk = np.zeros(cnt, dtype=_U64)
        blk[nzmask] = _unpack_fixed(buf[pos : pos + nb], nnz, width)
        z[lo : lo + cnt] = blk
        pos += nb
    dod = _unzigzag(z)
    d = np.concatenate([[d0], dod]).cumsum()
    return np.concatenate([[t0], d]).cumsum().astype(np.int64)


# --------------------------------------------------------------------------
# classic Gorilla bitstreams (paper-exact; sequential by nature)
# --------------------------------------------------------------------------


class _BitWriter:
    __slots__ = ("acc", "nbits")

    def __init__(self) -> None:
        self.acc = 0
        self.nbits = 0

    def write(self, value: int, bits: int) -> None:
        self.acc = (self.acc << bits) | (value & ((1 << bits) - 1))
        self.nbits += bits

    def getvalue(self) -> bytes:
        pad = (-self.nbits) % 8
        return ((self.acc << pad)).to_bytes((self.nbits + pad) // 8, "big")


class _BitReader:
    __slots__ = ("data", "total", "pos")

    def __init__(self, data: bytes) -> None:
        self.data = int.from_bytes(data, "big")
        self.total = len(data) * 8
        self.pos = 0

    def read(self, bits: int) -> int:
        shift = self.total - self.pos - bits
        self.pos += bits
        return (self.data >> shift) & ((1 << bits) - 1)


def gorilla_encode(values: np.ndarray) -> bytes:
    """Classic Gorilla float XOR (paper §4.1.2): '0' identical; '10' reuse
    previous (leading, meaningful) window; '11' + 5b leading + 6b
    (meaningful-1) + meaningful bits."""
    v = np.ascontiguousarray(values, dtype=np.float64).view(_U64)
    n = len(v)
    w = _BitWriter()
    if n:
        w.write(int(v[0]), 64)
        prev_lead, prev_mean = -1, -1
        ints = [int(b) for b in v]
        for i in range(1, n):
            x = ints[i] ^ ints[i - 1]
            if x == 0:
                w.write(0, 1)
                continue
            lead = min(64 - x.bit_length(), 31)
            trail = (x & -x).bit_length() - 1
            mean = 64 - lead - trail
            prev_trail = 64 - prev_lead - prev_mean
            if prev_lead >= 0 and lead >= prev_lead and trail >= prev_trail:
                # fits inside previous window → '10' + prev_mean bits
                w.write(0b10, 2)
                w.write(x >> prev_trail, prev_mean)
            else:
                w.write(0b11, 2)
                w.write(lead, 5)
                w.write(mean - 1, 6)
                w.write(x >> trail, mean)
                prev_lead, prev_mean = lead, mean
    return struct.pack("<I", n) + w.getvalue()


def gorilla_decode(buf: bytes) -> np.ndarray:
    (n,) = struct.unpack_from("<I", buf, 0)
    r = _BitReader(buf[4:])
    out = np.empty(n, dtype=_U64)
    if n == 0:
        return out.view(np.float64)
    prev = r.read(64)
    out[0] = prev
    lead = mean = 0
    for i in range(1, n):
        c = r.read(1)
        if c == 0:
            out[i] = prev
            continue
        c2 = r.read(1)
        if c2 == 1:
            lead = r.read(5)
            mean = r.read(6) + 1
        bits = r.read(mean)
        x = bits << (64 - lead - mean)
        prev ^= x
        out[i] = prev
    return out.view(np.float64)


def dod_encode(ts: np.ndarray) -> bytes:
    """Classic Gorilla timestamp delta-of-delta (paper §4.1.1 ranges,
    generalized to 64-bit escape): '0' dod=0; '10'+7b [-63,64];
    '110'+9b [-255,256]; '1110'+12b [-2047,2048]; '1111'+64b raw."""
    t = [int(x) for x in np.ascontiguousarray(ts, dtype=np.int64)]
    n = len(t)
    w = _BitWriter()
    if n:
        w.write(t[0] & ((1 << 64) - 1), 64)
    if n > 1:
        # two's-complement wrapping (mod 2^64) so pathological int64 inputs
        # whose deltas overflow still round-trip
        mask = (1 << 64) - 1

        def s64(u: int) -> int:
            u &= mask
            return u - (1 << 64) if u >= (1 << 63) else u

        d_prev = s64(t[1] - t[0])
        w.write(d_prev & mask, 64)
        for i in range(2, n):
            d = s64(t[i] - t[i - 1])
            dod = s64(d - d_prev)
            d_prev = d
            if dod == 0:
                w.write(0, 1)
            elif -63 <= dod <= 64:
                w.write(0b10, 2)
                w.write(dod + 63, 7)
            elif -255 <= dod <= 256:
                w.write(0b110, 3)
                w.write(dod + 255, 9)
            elif -2047 <= dod <= 2048:
                w.write(0b1110, 4)
                w.write(dod + 2047, 12)
            else:
                w.write(0b1111, 4)
                w.write(dod & ((1 << 64) - 1), 64)
    return struct.pack("<I", n) + w.getvalue()


def dod_decode(buf: bytes) -> np.ndarray:
    (n,) = struct.unpack_from("<I", buf, 0)
    r = _BitReader(buf[4:])
    out = np.empty(n, dtype=np.int64)
    if n == 0:
        return out

    def s64(u: int) -> int:
        u &= (1 << 64) - 1
        return u - (1 << 64) if u >= (1 << 63) else u

    out[0] = s64(r.read(64))
    if n == 1:
        return out
    d = s64(r.read(64))
    out[1] = s64(int(out[0]) + d)
    for i in range(2, n):
        if r.read(1) == 0:
            dod = 0
        elif r.read(1) == 0:
            dod = r.read(7) - 63
        elif r.read(1) == 0:
            dod = r.read(9) - 255
        elif r.read(1) == 0:
            dod = r.read(12) - 2047
        else:
            dod = s64(r.read(64))
        d = s64(d + dod)
        out[i] = s64(int(out[i - 1]) + d)
    return out


CODECS = {
    "xorblk": (xorblk_encode, xorblk_decode),
    "gorilla": (gorilla_encode, gorilla_decode),
}
TS_CODECS = {
    "dodblk": (dodblk_encode, dodblk_decode),
    "dod": (dod_encode, dod_decode),
}
