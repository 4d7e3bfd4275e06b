"""Chunk blob codecs: delta-of-delta timestamps and XOR-coded float values.

After the Facebook Gorilla paper (Pelkonen et al., VLDB 2015): a timestamp
is stored as the delta of its delta, a value as the XOR with its
predecessor. Bit widths are fixed per ``BLOCK`` values (block header:
trailing-zero count and meaningful width, then a one-bit-per-value zero
bitmap and the fixed-width payload of the nonzero entries), so both
directions are numpy array ops with no per-value Python, and every block
decodes on its own.

There is one codec pair, stored under the tags ``dodblk`` (timestamps) and
``xorblk`` (values):

- ``dodblk_encode_many`` / ``xorblk_encode_many`` encode every slice of a
  batch (one blob per slice) in one vectorized pass;
- ``dodblk_decode_many`` / ``xorblk_decode_many`` decode a batch of blobs
  into one concatenated array plus per-blob counts.

chunks.py calls them once per Arrow batch. ``dodblk_encode`` /
``xorblk_encode`` encode one blob; the engine does not call them, they are
the reference the batch encoders are tested against bit for bit.
Round-trip is bit-exact for every float64 including NaN payloads, ±0 and
denormals, and for every int64 (property-tested in tests/test_codec.py).
A blob with the wrong magic raises ``ValueError``.
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


def _nbytes(n_values: int, width: int) -> int:
    return (n_values * width + 7) // 8


# --------------------------------------------------------------------------
# per-blob reference encoders (the stored format, one blob at a time)
# --------------------------------------------------------------------------

_XORBLK_MAGIC = b"XB1\x00"


def xorblk_encode(values: np.ndarray) -> bytes:
    """float64 array → XOR-of-prior, per-block fixed-width bit packing."""
    v = np.ascontiguousarray(values, dtype=np.float64).view(_U64)
    n = len(v)
    out = [struct.pack("<4sIH", _XORBLK_MAGIC, n, BLOCK)]
    if n == 0:
        return b"".join(out)
    x = np.empty_like(v)
    x[0] = v[0]
    np.bitwise_xor(v[1:], v[:-1], out=x[1:])
    for lo in range(0, n, BLOCK):
        xb = x[lo : lo + BLOCK]
        nzmask = xb != 0
        nz = xb[nzmask]
        if len(nz) == 0:
            out.append(struct.pack("<BB", 0, 0))
            continue
        # min-of-clz == clz-of-OR (and likewise ctz)
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


_DODBLK_MAGIC = b"DB1\x00"


def _zigzag(x: np.ndarray) -> np.ndarray:
    x = x.astype(np.int64, copy=False)
    return ((x << 1) ^ (x >> 63)).view(np.uint64)


def _unzigzag(u: np.ndarray) -> np.ndarray:
    u = u.astype(_U64, copy=False)
    return ((u >> _U64(1)).view(np.int64)) ^ -((u & _U64(1)).view(np.int64))


def dodblk_encode(ts: np.ndarray) -> bytes:
    """int64 array (epoch units) → first value + first delta raw, then
    zigzagged delta-of-deltas in per-block fixed width. On a gap-filled
    regular grid the dods are all zero → ~2 bytes/block."""
    t = np.ascontiguousarray(ts, dtype=np.int64)
    n = len(t)
    head = struct.pack("<4sIH", _DODBLK_MAGIC, n, BLOCK)
    if n == 0:
        return head
    if n == 1:
        return head + struct.pack("<q", t[0])
    d = np.diff(t)
    dod = np.diff(d)
    z = _zigzag(dod)
    out = [head, struct.pack("<qq", t[0], d[0])]
    for lo in range(0, len(z), BLOCK):
        zb = z[lo : lo + BLOCK]
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


# --------------------------------------------------------------------------
# batch (many-slice) codecs — the engine's one path. One vectorized pass
# over a whole Arrow batch of blobs: every reduction runs once per BATCH
# via ufunc.reduceat over block boundaries, and the variable-width bit
# packing is ONE global scatter + packbits (one gather on decode). Blobs
# are small (e.g. 24-row day chunks of an hourly grid), so the only
# per-blob Python left is byte-slice assembly and the header walk.
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


def _blocks_of_slices(starts: np.ndarray, ends: np.ndarray):
    """Split contiguous slices [starts[i], ends[i]) into ≤``BLOCK``-sized
    sub-blocks. Returns (blob_of_block, bstart, bend) arrays."""
    lens = ends - starts
    nblk = (lens + BLOCK - 1) // BLOCK
    blob_of_block = np.repeat(np.arange(len(starts)), nblk)
    first = np.repeat(np.cumsum(nblk) - nblk, nblk)
    k = np.arange(len(blob_of_block)) - first
    bstart = starts[blob_of_block] + k * BLOCK
    bend = np.minimum(bstart + BLOCK, ends[blob_of_block])
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


def xorblk_encode_many(values: np.ndarray, starts, ends) -> list[bytes]:
    """Batch twin of ``xorblk_encode``: returns
    ``[xorblk_encode(values[s:e]) for (s, e)]`` bit-identically,
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
    blob_of_block, bstart, bend = _blocks_of_slices(starts, ends)
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
    heads["b"] = BLOCK
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


def dodblk_encode_many(ts: np.ndarray, starts, ends) -> list[bytes]:
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
    blob_of_block, bstart, bend = _blocks_of_slices(zstarts[has_z], zends[has_z])
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
    heads["b"] = BLOCK
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
    """Inverse of ``xorblk_encode_many``: decodes a sequence of blobs into
    (concatenated float64 values, per-blob counts), bit-exactly, with the
    per-value work vectorized across all blobs. The block size is read
    from each blob's header."""
    lens, blk_meta = [], []  # blk_meta: (trail, width, cnt, nnz, mask_off, pay_off)
    mask_parts, pay_parts = [], []
    mask_off = pay_off = 0
    for buf in blobs:
        magic, n, block = struct.unpack_from("<4sIH", buf, 0)
        if magic != _XORBLK_MAGIC:
            raise ValueError(f"not an xorblk blob: magic {magic!r}")
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
    """Inverse of ``dodblk_encode_many`` — same contract as
    ``xorblk_decode_many`` but returns int64 timestamps."""
    lens, t0s, d0s = [], [], []
    blk_meta = []  # (width, cnt, nnz, mask_off, pay_off)
    mask_parts, pay_parts = [], []
    mask_off = pay_off = 0
    for buf in blobs:
        magic, n, block = struct.unpack_from("<4sIH", buf, 0)
        if magic != _DODBLK_MAGIC:
            raise ValueError(f"not a dodblk blob: magic {magic!r}")
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
