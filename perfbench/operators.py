"""``operators`` workload: the per-series Python operators and the tier-query
entries, the read and merge side that ``pipeline`` never runs.

One round, in one fresh session:
1. ``temporal.kalman_filter``, ``temporal.holt_linear``,
   ``rolling.lttb_downsample`` and ``chunked.kalman_filter_chunked`` (at its
   default ``chunk_rows``) over the series table;
2. one pass over the nine ``entry_queries.QUERIES`` entries below over the
   events table.
Each call is forced by writing its full result as parquet. Rounds repeat
until ``--seconds`` have passed; every round is whole.

Checks run after timing: plain-Python recurrences and DuckDB, never the
engine.
"""

from __future__ import annotations

import statistics
import time

import duckdb
import numpy as np
import pyarrow.parquet as pq

from tsengine import chunked, entry_queries, rolling, temporal

INPUTS = ["series", "events"]
# the sf test tables' events file is one parquet row group; entry_queries'
# input spreading depends on that, so keep it
ROW_GROUPS = {"events": 1 << 30}
HOLT = (0.5, 0.25)  # the gains the ts_holt entry uses: exact in binary
LTTB_N_OUT = 8  # rolling.lttb_downsample's default
ENTRIES = [
    "ts_tier_1d_cascade",
    "ts_tier_1h_quantiles",
    "ts_ohlc_1d_cascade",
    "ts_m4_downsample",
    "ts_tier_merge_late",
    "ts_hll_distinct",
    "ts_chunk_compact",
    "ts_chunk_range_read",
    "ts_gapfill_linear",
]
SERIES_OPS = {
    "temporal.kalman_filter": lambda s: temporal.kalman_filter(s),
    "temporal.holt_linear": lambda s: temporal.holt_linear(s, *HOLT),
    "rolling.lttb_downsample": lambda s: rolling.lttb_downsample(s),
    "chunked.kalman_filter_chunked": lambda s: chunked.kalman_filter_chunked(s),
}
N_SAMPLED_SERIES = 6
NUMERIC = {"DOUBLE", "FLOAT", "BIGINT", "INTEGER", "HUGEINT", "SMALLINT", "TINYINT"}


def run(b) -> dict:
    spark = b.spark
    data = str(b.data)
    series = spark.read.parquet(f"{data}/series.parquet")
    b.n_series_rows = pq.ParquetFile(f"{data}/series.parquet").metadata.num_rows
    b.outputs = []  # (op, kind, name, path)
    rounds = 0
    t_end = time.perf_counter() + b.seconds
    while not rounds or time.perf_counter() < t_end:
        for name, op_fn in SERIES_OPS.items():
            path = f"{data}/out/r{rounds}/{name}"
            op = b.ops.attempt(f"{name}:{rounds}")
            b.call(name, lambda: op_fn(series).write.parquet(path))
            b.outputs.append((op, "series", name, path))
        t_pass = time.perf_counter()
        for name in ENTRIES:
            path = f"{data}/out/r{rounds}/{name}"
            op = b.ops.attempt(f"{name}:{rounds}")
            b.call(f"entry_queries.{name}",
                   lambda: entry_queries.QUERIES[name](spark, data).write.parquet(path))
            b.outputs.append((op, "entry", name, path))
        b.times.setdefault("sweep", []).append(time.perf_counter() - t_pass)
        rounds += 1

    b.extra["entry_queries.sweep_s"] = statistics.median(b.times["sweep"])
    series_s = [sum(b.times[n][r] for n in SERIES_OPS) for r in range(rounds)]
    calls = [t for n in ENTRIES for t in b.times[f"entry_queries.{n}"]]
    return {
        "rows_per_s": (len(SERIES_OPS) * b.n_series_rows * rounds / sum(series_s),
                       "rows/s"),
        "call_p50_s": (statistics.median(calls), "s"),
        "round_s": (statistics.median(
            [s + w for s, w in zip(series_s, b.times["sweep"])]), "s"),
    }


# --------------------------------------------------------------- checks

def _kalman(y: np.ndarray, q: float = 0.25, r: float = 1.0):
    """Constant-velocity Kalman filter, textbook form: level/velocity state,
    F = [[1, 1], [0, 1]], Q = q[[1/4, 1/2], [1/2, 1]], H = [1, 0], P0 = I;
    the first observation initialises the level and emits nothing."""
    lvl, vel = float(y[0]), 0.0
    p = [[1.0, 0.0], [0.0, 1.0]]
    out = []
    for obs in y[1:]:
        lvl, vel = lvl + vel, vel
        a = p[0][0] + 2 * p[0][1] + p[1][1] + q / 4
        bb = p[0][1] + p[1][1] + q / 2
        d = p[1][1] + q
        k0, k1 = a / (a + r), bb / (a + r)
        innov = float(obs) - lvl
        lvl, vel = lvl + k0 * innov, vel + k1 * innov
        p = [[(1 - k0) * a, (1 - k0) * bb], [(1 - k0) * bb, d - k1 * bb]]
        out.append((lvl, vel, innov, k0))
    return np.array(out)


def _holt(y: np.ndarray, alpha: float, beta: float):
    lvl, trend = float(y[0]), 0.0
    out = [(lvl, trend)]
    for obs in y[1:]:
        prev = lvl
        lvl = alpha * float(obs) + (1 - alpha) * (lvl + trend)
        trend = beta * (lvl - prev) + (1 - beta) * trend
        out.append((lvl, trend))
    return np.array(out)


def check(b) -> None:
    con = duckdb.connect()
    data = str(b.data)
    con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{data}/events.parquet')")
    con.execute(f"CREATE VIEW series AS SELECT * FROM read_parquet('{data}/series.parquet')")
    # the long series and a seeded sample of short ones
    sampled = ["mega"] + [r[0] for r in con.execute(
        f"SELECT DISTINCT conv_id FROM series WHERE conv_id <> 'mega' "
        f"ORDER BY hash(conv_id) LIMIT {N_SAMPLED_SERIES - 1}").fetchall()]
    inputs = {
        c: con.execute("SELECT ts, value FROM series WHERE conv_id = ? ORDER BY ts",
                       [c]).fetchnumpy()["value"]
        for c in sampled
    }
    oracles = {}
    kalman_paths = {}
    for op, kind, name, path in b.outputs:
        if kind == "entry":
            if name not in oracles:
                oracles[name] = _profile(con, f"({entry_queries.ORACLES[name]})")
            got = _profile(con, f"read_parquet('{path}/*.parquet')")
            if not _profiles_match(oracles[name], got):
                b.ops.fail([op], f"{name} differs from its DuckDB oracle")
        elif name == "rolling.lttb_downsample":
            if not _lttb_ok(con, path):
                b.ops.fail([op], "lttb did not keep first, last and n_out points")
        else:
            if name.endswith("kalman_filter"):
                kalman_paths[path.rsplit("/", 2)[1]] = path
            if name != "chunked.kalman_filter_chunked" and not _recurrence_ok(
                    con, name, path, inputs):
                b.ops.fail([op], f"{name} differs from the plain recurrence")
    for op, kind, name, path in b.outputs:
        if name == "chunked.kalman_filter_chunked":
            ref = kalman_paths[path.rsplit("/", 2)[1]]
            diff = con.execute(f"""
                SELECT count(*) FROM read_parquet('{ref}/*.parquet') a
                FULL JOIN read_parquet('{path}/*.parquet') c USING (event_id)
                WHERE a.kf_level IS DISTINCT FROM c.kf_level
                   OR a.kf_velocity IS DISTINCT FROM c.kf_velocity
                   OR a.kf_innov IS DISTINCT FROM c.kf_innov
                   OR a.kf_gain IS DISTINCT FROM c.kf_gain""").fetchone()[0]
            if diff:
                b.ops.fail([op], f"chunked kalman differs from kalman on {diff} rows")
    con.close()


def _recurrence_ok(con, name: str, path: str, inputs) -> bool:
    cols = ("kf_level, kf_velocity, kf_innov, kf_gain"
            if name == "temporal.kalman_filter" else "holt_level, holt_trend")
    for conv, y in inputs.items():
        got = con.execute(
            f"SELECT {cols} FROM read_parquet('{path}/*.parquet') "
            f"WHERE conv_id = ? ORDER BY ts", [conv]).fetchall()
        want = _kalman(y) if name == "temporal.kalman_filter" else _holt(y, *HOLT)
        if len(got) != len(want) or not np.allclose(
                np.array(got, dtype=np.float64), want, rtol=1e-9, atol=1e-9):
            return False
    return True


def _lttb_ok(con, path: str) -> bool:
    bad = con.execute(f"""
        WITH s AS (SELECT conv_id, metric, count(*) AS n, min(ts) AS t0,
                          max(ts) AS t1 FROM series GROUP BY ALL),
             o AS (SELECT conv_id, metric, count(*) AS k,
                          count(DISTINCT sel_ord) AS k_ord,
                          max(CASE WHEN sel_ord = 0 THEN ts END) AS first_ts,
                          max(CASE WHEN sel_ord = {LTTB_N_OUT - 1} THEN ts END)
                              AS last_ts
                   FROM read_parquet('{path}/*.parquet') GROUP BY ALL)
        SELECT count(*) FROM s FULL JOIN o USING (conv_id, metric)
        WHERE o.k IS DISTINCT FROM least(s.n, {LTTB_N_OUT})
           OR o.k_ord IS DISTINCT FROM o.k
           OR o.first_ts IS DISTINCT FROM s.t0
           OR o.last_ts IS DISTINCT FROM s.t1""").fetchone()[0]
    return bad == 0


def _profile(con, rel: str) -> dict:
    """Row count plus, per column, non-null count, distinct count, min and
    max, and a sum for numeric columns: an order-insensitive summary that
    costs one scan."""
    cols = con.execute(f"DESCRIBE SELECT * FROM {rel}").fetchall()
    aggs, spans = ["count(*)"], {}
    for name, typ, *_ in cols:
        c = f'"{name}"'
        if typ == "DATE":  # DuckDB's date_trunc('day', ts) is a DATE
            c = f"epoch_us({c}::TIMESTAMP)"
        elif typ.startswith("TIMESTAMP"):
            c = f"epoch_us({c})"
        col = [f"count({c})", f"count(DISTINCT {c})", f"min({c})", f"max({c})"]
        if typ in NUMERIC or typ.startswith("DECIMAL"):
            col.append(f"sum({c}::DOUBLE)")
        spans[name] = (len(aggs), len(aggs) + len(col))
        aggs += col
    vals = con.execute(f"SELECT {', '.join(aggs)} FROM {rel}").fetchone()
    return {"rows": vals[0]} | {n: vals[a:z] for n, (a, z) in spans.items()}


def _profiles_match(want: dict, got: dict) -> bool:
    if want.keys() != got.keys():
        return False
    for k in want:
        w, g = (want[k], got[k]) if k != "rows" else ([want[k]], [got[k]])
        if len(w) != len(g):
            return False
        for a, c in zip(w, g):
            if isinstance(a, float) or isinstance(c, float):
                if a is None or c is None or not np.isclose(a, c, rtol=1e-9, atol=1e-9):
                    return False
            elif a != c:
                return False
    return True
