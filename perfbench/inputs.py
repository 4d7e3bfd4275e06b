"""Seeded input generators for the benchmark workloads.

Built on numpy and pyarrow only, never on ``tsengine.synth``: a change to
the engine cannot change what the benchmark measures. Every table is a
pure function of ``seed``; the same seed gives byte-identical parquet.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# pipeline: heavy-tailed conversations plus one mega-conversation that spans
# several 8192-turn ``features.derive_features_chunked`` chunks
N_CONVS = 1500
MEGA_TURNS = 32_768
CONV_START_SPREAD_S = 7 * 86400
TOOL_SHARE = 0.15
TOOLS = ["search", "python", "browser", "calculator"]
TRANSCRIPT_EPOCH_S = 1_735_689_600  # 2025-01-01 00:00:00 UTC

# operators: short series plus one that spans several
# 65 536-row Arrow batches (``spark.sql.execution.arrow.maxRecordsPerBatch``)
N_SHORT_SERIES = 200
SHORT_SERIES_ROWS = (20, 200)
LONG_SERIES_ROWS = 140_000
SERIES_EPOCH_S = 1_704_067_200  # 2024-01-01 00:00:00 UTC

# operators: the shape of the sf0.01 ``events`` test table — the
# entries hard-code January 2024 cut-offs, so the timestamps must cover it
N_EVENTS = 10_000
N_USERS = 150
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
EVENTS_SPAN_S = 30 * 86400

ROW_GROUP = 32_768


def _segments(lengths: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(segment id per row, row index within its segment)."""
    seg = np.repeat(np.arange(len(lengths)), lengths)
    starts = np.cumsum(lengths) - lengths
    return seg, np.arange(int(lengths.sum())) - starts[seg]


def _segmented_cumsum(x: np.ndarray, lengths: np.ndarray) -> np.ndarray:
    c = np.cumsum(x)
    ends = np.cumsum(lengths)
    before = np.concatenate([[0], c[ends[:-1] - 1]])
    return c - np.repeat(before, lengths)


def _strings(rng, lengths: np.ndarray) -> pa.Array:
    """Random lower-case words of the given byte lengths, no Python loop."""
    offsets = np.concatenate([[0], np.cumsum(lengths)]).astype(np.int32)
    alphabet = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz      ", dtype=np.uint8)
    data = alphabet[rng.integers(0, len(alphabet), int(offsets[-1]))]
    return pa.StringArray.from_buffers(
        len(lengths), pa.py_buffer(offsets.tobytes()), pa.py_buffer(data.tobytes())
    )


def _keys(prefix: str, seg: np.ndarray, n: int) -> pa.Array:
    names = pa.array([f"{prefix}-{i:06d}" for i in range(n)])
    return pa.DictionaryArray.from_arrays(pa.array(seg, pa.int32()), names).cast(
        pa.string()
    )


def transcripts(seed: int) -> pa.Table:
    """Transcript table in the engine's ``schema.TRANSCRIPTS`` shape.

    Conversation lengths are Pareto-tailed (4 to 5000 turns, the same
    multiset for every seed) and conv 0 is
    a ``MEGA_TURNS``-turn conversation; inter-turn gaps are log-normal
    seconds with 2% of turns opening a 120x longer gap; about
    ``TOOL_SHARE`` of assistant turns call a tool; ``turn_idx`` is dense
    from 0 in every conversation."""
    rng = np.random.default_rng([seed, 1])
    # the Pareto(1.1) quantiles in seeded order: every seed gets the same
    # multiset of lengths, so the input size does not vary with the seed
    u = (np.arange(N_CONVS - 1) + 0.5) / (N_CONVS - 1)
    pareto = np.clip(4 + ((1.0 - u) ** (-1.0 / 1.1) - 1.0) * 12, 4, 5000)
    lengths = np.concatenate([[MEGA_TURNS], rng.permutation(pareto)]).astype(np.int64)
    seg, turn = _segments(lengths)
    n = len(seg)

    gaps = np.maximum(1, rng.lognormal(3.0, 1.0, n)).astype(np.int64)
    gaps[rng.random(n) < 0.02] *= 120
    gaps[turn == 0] = 0
    start = rng.integers(0, CONV_START_SPREAD_S, N_CONVS)
    start[0] = 0
    ts_s = TRANSCRIPT_EPOCH_S + start[seg] + _segmented_cumsum(gaps, lengths)

    system_first = rng.random(N_CONVS) < 0.3
    role = np.where(turn % 2 == 0, 0, 1)  # 0 user, 1 assistant, 2 system
    role[(turn == 0) & system_first[seg]] = 2
    calls = (role == 1) & (rng.random(n) < TOOL_SHARE)
    tool_idx = np.where(calls, rng.integers(0, len(TOOLS), n), -1)

    text_len = np.clip(rng.lognormal(4.0, 0.8, n), 1, 4000).astype(np.int64)
    roles = pa.array(["user", "assistant", "system"])
    tools = pa.array(TOOLS)
    return pa.table(
        {
            "conv_id": _keys("conv", seg, N_CONVS),
            "turn_idx": pa.array(turn, pa.int32()),
            "role": pa.DictionaryArray.from_arrays(
                pa.array(role, pa.int32()), roles
            ).cast(pa.string()),
            "text": _strings(rng, text_len),
            "tool": pa.DictionaryArray.from_arrays(
                pa.array(tool_idx, pa.int32(), mask=tool_idx < 0), tools
            ).cast(pa.string()),
            "ts": pa.array(ts_s * 1_000_000, pa.timestamp("us", tz="UTC")),
        }
    )


def series(seed: int) -> pa.Table:
    """Per-series operator input (conv_id, metric, ts, event_id, value).

    ``N_SHORT_SERIES`` series of ``SHORT_SERIES_ROWS`` rows (evenly spread,
    in seeded order) plus one ``LONG_SERIES_ROWS``
    series (key ``mega``/``signal``); values are a random walk with noise
    and a slow trend, so Kalman and Holt have a level and a velocity to
    track; timestamps are strictly increasing within a series."""
    rng = np.random.default_rng([seed, 2])
    short = np.linspace(SHORT_SERIES_ROWS[0], SHORT_SERIES_ROWS[1], N_SHORT_SERIES)
    lengths = np.concatenate([[LONG_SERIES_ROWS], rng.permutation(short)])
    lengths = lengths.astype(np.int64)
    seg, pos = _segments(lengths)
    n = len(seg)
    steps = rng.normal(0.0, 1.0, n)
    steps[pos == 0] = rng.normal(100.0, 30.0, len(lengths))
    walk = _segmented_cumsum(steps, lengths)
    value = np.round(walk + 0.01 * pos + rng.normal(0.0, 2.0, n), 2)
    gap_s = rng.integers(1, 120, n)
    gap_s[pos == 0] = 0
    ts_s = SERIES_EPOCH_S + rng.integers(0, 86400, len(lengths))[seg]
    ts_s = ts_s + _segmented_cumsum(gap_s, lengths)
    conv = _keys("series", seg, len(lengths))
    metric = np.where(seg % 2 == 0, 0, 1)
    metric[seg == 0] = 2
    conv = pc.if_else(pa.array(seg == 0), "mega", conv)
    return pa.table(
        {
            "conv_id": conv,
            "metric": pa.DictionaryArray.from_arrays(
                pa.array(metric, pa.int32()), pa.array(["tokens", "latency", "signal"])
            ).cast(pa.string()),
            "ts": pa.array(ts_s * 1_000_000, pa.timestamp("us", tz="UTC")),
            "event_id": pa.array(np.arange(n), pa.int64()),
            "value": pa.array(value, pa.float64()),
        }
    )


def events(seed: int) -> pa.Table:
    """``events`` table with the columns and shape of the sf test tables: event ids
    dense in time order over January 2024, users and event types uniform,
    cent-quantized exponential values."""
    rng = np.random.default_rng([seed, 3])
    ts_us = np.sort(rng.integers(0, EVENTS_SPAN_S * 1_000_000, N_EVENTS))
    value = np.round(rng.exponential(50.0, N_EVENTS), 2)
    props = pa.array([f'{{"k": {k}}}' for k in range(100)])
    return pa.table(
        {
            "event_id": pa.array(np.arange(N_EVENTS), pa.int64()),
            "ts": pa.array(SERIES_EPOCH_S * 1_000_000 + ts_us, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, N_USERS, N_EVENTS), pa.int64()),
            "event_type": pa.DictionaryArray.from_arrays(
                pa.array(rng.integers(0, len(EVENT_TYPES), N_EVENTS), pa.int32()),
                pa.array(EVENT_TYPES),
            ).cast(pa.string()),
            "value": pa.array(value, pa.float64()),
            "props": pa.DictionaryArray.from_arrays(
                pa.array(rng.integers(0, 100, N_EVENTS), pa.int32()), props
            ).cast(pa.string()),
        }
    )


GENERATORS = {"transcripts": transcripts, "series": series, "events": events}


def write(table: pa.Table, path: str, row_group_size: int = ROW_GROUP) -> None:
    pq.write_table(table, path, row_group_size=row_group_size)
