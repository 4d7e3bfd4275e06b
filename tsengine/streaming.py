"""Structured-Streaming ingest: continuous maintenance of the 1m tier.

The reference is batch-only over closed yearly files (SURVEY.md §2.5 note);
its incremental story is the skip-if-exists re-run guard
(`src/rewemo/era5.py:80-82`). This module is the streaming generalization:
new transcript turns arrive continuously and the finest tier is kept
current, while the 1h/1d tiers remain periodic batch cascades over the 1m
table (cheap by construction — reaggregable components).

Design:
- event-time tumbling windows (`F.window(ts, '1 minute')`) + watermark for
  late turns; Spark maintains per-window partial state and emits on
  watermark advance (append mode) — bounded state, no custom stateful op
  needed because tier stats are all algebraic aggregates.
- sink = foreachBatch parquet append partitioned by bucket date; on a real
  deployment this is an Iceberg MERGE (idempotent on restart via the
  streaming checkpoint + deterministic window keys).
- the same ``rollup`` synopsis specs (``rollup.stats``, ``rollup.m4``)
  drive batch and streaming — one definition of tier semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from tsengine import features, rollup
from tsengine.schema import TRANSCRIPTS


def read_transcript_stream(
    spark, input_path: str, max_files_per_trigger: int = 8
) -> DataFrame:
    """File-source stream of transcript parquet drops (the sandbox stand-in
    for a Kafka/Iceberg-CDC source — swap ``format``, keep the plan)."""
    return (
        spark.readStream.schema(TRANSCRIPTS)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_path)
    )


def streaming_tier_1m(
    stream: DataFrame,
    watermark: str = "10 minutes",
    metrics: list[str] | None = None,
) -> DataFrame:
    """transcripts stream → windowed 1m tier updates.

    Note: latency/turn-delta signals need the previous turn, which a pure
    streaming stage can't see without keyed state; the streaming path
    derives the stateless per-turn signals (chars, tool flags, role masks)
    and leaves order-dependent signals to the batch backfill — the standard
    lambda split, chosen because the batch tier is the source of truth."""
    stateless = [m for m in (metrics or ["n_chars", "tool_call", "is_user", "is_assistant"])]
    wide = (
        stream.withColumn("n_chars", F.length("text").cast("double"))
        .withColumn("tool_call", F.when(F.col("tool").isNotNull(), 1.0).otherwise(0.0))
        .withColumn("is_user", F.when(F.col("role") == "user", 1.0).otherwise(0.0))
        .withColumn("is_assistant", F.when(F.col("role") == "assistant", 1.0).otherwise(0.0))
    )
    long = features.to_long(wide.select("conv_id", "ts", *stateless), stateless)
    return streaming_tier_long(long, watermark)


def streaming_tier_long(long: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """(conv_id, ts, metric, value) stream → windowed 1m tier updates —
    the windowed-agg stage shared by every long-format source (transcript
    signals, event streams). Same ``rollup.stats`` spec as the batch tier
    (null values dropped, then its build aggregates), so a stream drained
    with ``trigger(availableNow=True)`` is row-identical to
    ``rollup.rollup`` on the same input (oracle-checked by the
    ``ts_streaming_tier`` entry)."""
    syn = rollup.stats()
    return (
        syn.rows(long)
        .withWatermark("ts", watermark)
        .groupBy("conv_id", F.window("ts", "1 minute").alias("w"), "metric")
        .agg(*syn.build("ts"))
        .select(
            "conv_id", F.col("w.start").alias("bucket_ts"), "metric", *rollup.STAT_COLS
        )
    )


def streaming_m4(
    long: DataFrame,
    watermark: str = "10 minutes",
    window: str = "1 minute",
    tiebreak: str | None = None,
) -> DataFrame:
    """(conv_id, ts, metric, value) stream → windowed M4 chart-tier
    updates. The M4 sketch is algebraic (count + four struct min/max),
    so it streams as a NATIVE windowed aggregation with bounded
    per-window state — no custom stateful operator, same emit-on-
    watermark semantics as ``streaming_tier_long``. A stream drained
    with ``trigger(availableNow=True)`` is row-identical to
    ``rolling.m4_downsample`` on the same input (parity-tested).

    ``tiebreak=None`` (default) is for streams whose timestamps are
    unique per series; pass a column name to pin tie order like the
    batch side does."""
    from tsengine import rolling

    syn = rollup.m4(tiebreak)
    agg = (
        syn.rows(long)
        .withWatermark("ts", watermark)
        .groupBy("conv_id", F.window("ts", window).alias("w"), "metric")
        .agg(*syn.build("ts"))
        .withColumn("bucket_ts", F.col("w.start"))
        .drop("w")
    )
    return rolling.m4_finalize(agg)


def streaming_sessions(
    long: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "10 minutes",
    value_col: str = "value",
) -> DataFrame:
    """Native session windows on a live stream: Spark's
    ``F.session_window`` merges events whose [t, t+gap) windows overlap
    OR touch into one growing session per key — the streaming twin of
    ``temporal.sessionize``, including the boundary rule (an event
    exactly ``gap`` after its predecessor merges; a new session opens
    only at delta > gap — pinned by test). State per key = the open
    session's envelope; the watermark bounds how long a session can stay
    open for late data. Output: one row per closed session with
    start/end (end = last event + gap) and algebraic aggregates."""
    return (
        long.withWatermark("ts", watermark)
        .groupBy("conv_id", F.session_window("ts", gap).alias("w"))
        .agg(
            F.count("*").alias("n_rows"),
            F.sum(value_col).alias("sum_v"),
        )
        .select(
            "conv_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_rows",
            "sum_v",
        )
    )


LATENCY_OUT = "conv_id string, turn_idx int, ts timestamp, latency_s double"
LATENCY_STATE = "last_ts double, last_idx int"


def streaming_latency(stream: DataFrame) -> DataFrame:
    """Order-dependent signals on a live stream via applyInPandasWithState:
    per-conversation turn latency (Δts vs the PREVIOUS turn, which a plain
    windowed agg cannot see across micro-batches).

    State per conv_id = (last turn's epoch seconds, last turn_idx) — two
    scalars, so state size is O(active conversations), independent of
    stream length. Within a batch the group sorts by turn_idx (the
    authoritative order key); rows at or below the state's last_idx are
    late duplicates/out-of-order stragglers and are DROPPED (the batch
    backfill is the source of truth for reordered history — the standard
    lambda split, same policy as streaming_tier_1m's docstring).

    Downstream, the emitted per-turn latency rows feed the 1m tier via the
    same foreachBatch sink; the batch cascade remains authoritative."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def fn(key, pdfs, state: GroupState):
        (conv_id,) = key
        rows = pd.concat(list(pdfs), ignore_index=True)
        if not len(rows):
            return
        rows = rows.sort_values("turn_idx", kind="mergesort")
        last_ts, last_idx = state.get if state.exists else (None, -1)
        rows = rows[rows["turn_idx"] > last_idx]
        if not len(rows):
            return
        t = rows["ts"].astype("int64").to_numpy() / 1e9
        lat = np.empty(len(t))
        lat[0] = t[0] - last_ts if last_ts is not None else np.nan
        lat[1:] = np.diff(t)
        state.update((float(t[-1]), int(rows["turn_idx"].iloc[-1])))
        yield pd.DataFrame(
            {
                "conv_id": conv_id,
                "turn_idx": rows["turn_idx"].to_numpy(),
                "ts": rows["ts"].to_numpy(),
                "latency_s": lat,
            }
        )

    return (
        stream.select("conv_id", "turn_idx", "ts")
        .groupBy("conv_id")
        .applyInPandasWithState(
            fn,
            outputStructType=LATENCY_OUT,
            stateStructType=LATENCY_STATE,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def start_tier_sink(
    tier_stream: DataFrame,
    out_path: str,
    checkpoint_path: str,
    trigger_seconds: int = 5,
) -> StreamingQuery:
    """Append-mode sink: rows emit once their window is below the watermark.

    Exactly-once via idempotent replay: each micro-batch writes to its own
    ``batch_id=N`` subdirectory with overwrite mode. foreachBatch alone is
    at-least-once (a batch that wrote before the checkpoint committed is
    re-run on restart), but the replay hits the SAME directory and
    overwrites it — readers of the root never see duplicate rows. On a real
    deployment this becomes an Iceberg MERGE on the deterministic
    (conv_id, bucket_ts, metric) key; the directory trick is the
    filesystem-only equivalent."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(f"{out_path}/batch_id={batch_id}")

    return (
        tier_stream.writeStream.outputMode("append")
        .foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_path)
        .trigger(processingTime=f"{trigger_seconds} seconds")
        .start()
    )


CUSUM_OUT = "conv_id string, metric string, event_id long, ts timestamp, cusum double"
CUSUM_STATE = "s double, last_ts_us long, last_eid long"


def streaming_cusum(stream: DataFrame, k: float) -> DataFrame:
    """Stateful streaming CUSUM per (conv_id, metric) — the live twin of
    `temporal.cusum` (same drift statistic, same restart-at-zero
    semantics), via applyInPandasWithState.

    State = (current S, last (ts, event_id) order key): three scalars, so
    state size is O(active series), independent of stream length. Within
    a batch the group sorts by (ts, event_id); rows at or below the
    state's last key are late stragglers and are DROPPED (batch backfill
    is authoritative for reordered history — the engine's standard
    lambda-split policy).

    Per batch the recursion runs as the SAME closed form the batch
    operator uses, generalized to a carry-in S0:

        S_t = Q_t − min(−S0, min_{0≤j≤t} Q_j),  Q = cumsum(x − k), Q_0=0

    (batch boundaries re-associate the prefix sums, so an availableNow
    drain matches the batch operator to fp-noise, not bit-exactly — the
    parity test bounds the drift at 1e-6)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    kf = float(k)

    def fn(key, pdfs, state: GroupState):
        conv_id, metric = key
        rows = pd.concat(list(pdfs), ignore_index=True)
        if not len(rows):
            return
        rows = rows.sort_values(["ts", "event_id"], kind="mergesort")
        s0, last_ts_us, last_eid = (
            state.get if state.exists else (0.0, -(1 << 62), -(1 << 62))
        )
        ts_us = rows["ts"].astype("int64").to_numpy()  # ns since epoch
        ts_us = ts_us // 1000
        eid = rows["event_id"].to_numpy()
        fresh = (ts_us > last_ts_us) | ((ts_us == last_ts_us) & (eid > last_eid))
        rows, ts_us, eid = rows[fresh], ts_us[fresh], eid[fresh]
        if not len(rows):
            return
        q = np.cumsum(rows["value"].to_numpy() - kf)
        runmin = np.minimum(np.minimum.accumulate(q), 0.0)
        s = q - np.minimum(runmin, -s0)
        state.update((float(s[-1]), int(ts_us[-1]), int(eid[-1])))
        yield pd.DataFrame(
            {
                "conv_id": conv_id,
                "metric": metric,
                "event_id": eid,
                "ts": rows["ts"].to_numpy(),
                "cusum": np.round(s, 6),
            }
        )

    return (
        stream.select("conv_id", "metric", "event_id", "ts", "value")
        .groupBy("conv_id", "metric")
        .applyInPandasWithState(
            fn,
            outputStructType=CUSUM_OUT,
            stateStructType=CUSUM_STATE,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def streaming_dedup(
    stream: DataFrame,
    keys: list[str],
    watermark: str = "10 minutes",
    ts_col: str = "ts",
) -> DataFrame:
    """Idempotent-ingest dedup: drop re-deliveries of the same logical
    event across micro-batches — the streaming guard every at-least-once
    source (Kafka replays, file re-drops, retried producers) needs in
    front of the tier pipeline, and the streaming counterpart of the
    lineage log's batch resume-without-recompute rule.

    ``dropDuplicatesWithinWatermark`` keeps the FIRST arrival of each
    key and suppresses later copies for as long as the key can still
    legally reappear; state is purged once the event-time watermark
    passes a key's horizon, so memory is bounded by (keys arriving per
    watermark window), NOT by stream history — the property that lets
    this run forever at 10^12-turn scale. Which physical row survives a
    duplicate race is arrival-order-dependent (as in any engine), so
    downstream comparisons should project the dedup keys or
    order-insensitive aggregates; exact-once semantics come from the
    checkpoint + idempotent sink pairing as usual.
    """
    return stream.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        list(keys)
    )


DECAY_OUT = "metric string, conv_id string, wt double, last_ts_us long"
DECAY_STATE = "s double, last_ts_us long, last_eid long"


def streaming_decayed_weights(
    stream: DataFrame, half_life_s: float = 86400.0
) -> DataFrame:
    """Stateful streaming forward-decay counter per (metric, conv_id) —
    the live twin of `temporal.decayed_topk`'s weight: every event adds
    1 and the whole counter halves each ``half_life_s`` of event time,
    so "trending now" rankings come from one snapshot scan of the
    emitted table (latest row per key, each weight renormalized to a
    common reference instant by the SAME 2^(−Δt/hl) factor — forward
    decay's shift property, Cormode ICDE'09).

    State = (current weight, last (ts, event_id) key): three scalars,
    O(active keys) regardless of stream length. Within a batch the
    group sorts by (ts, event_id); rows at or below the state's key are
    late stragglers and are DROPPED (batch backfill is authoritative —
    the engine's standard lambda-split policy). Per batch the update is
    the closed form

        S_end = S0·2^(−(t_end−t0)/hl) + Σ_i 2^(−(t_end−t_i)/hl)

    (each event decayed straight to the batch tail — ONE association
    per event, so a drain matches the batch aggregate to fp-noise; the
    parity test bounds it at 1e-6 after shared renormalization)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    hl_us = float(half_life_s) * 1e6

    def fn(key, pdfs, state: GroupState):
        metric, conv_id = key
        rows = pd.concat(list(pdfs), ignore_index=True)
        if not len(rows):
            return
        rows = rows.sort_values(["ts", "event_id"], kind="mergesort")
        s0, last_ts_us, last_eid = (
            state.get if state.exists else (0.0, -(1 << 62), -(1 << 62))
        )
        ts_us = rows["ts"].astype("int64").to_numpy() // 1000
        eid = rows["event_id"].to_numpy()
        fresh = (ts_us > last_ts_us) | (
            (ts_us == last_ts_us) & (eid > last_eid)
        )
        ts_us, eid = ts_us[fresh], eid[fresh]
        if not len(ts_us):
            return
        t_end = int(ts_us[-1])
        wt = float(np.sum(np.exp2(-(t_end - ts_us) / hl_us)))
        if state.exists and s0 > 0.0:
            wt += s0 * float(np.exp2(-(t_end - last_ts_us) / hl_us))
        state.update((wt, t_end, int(eid[-1])))
        yield pd.DataFrame(
            {
                "metric": [metric],
                "conv_id": [conv_id],
                "wt": [wt],
                "last_ts_us": [t_end],
            }
        )

    return (
        stream.select("metric", "conv_id", "event_id", "ts")
        .groupBy("metric", "conv_id")
        .applyInPandasWithState(
            fn,
            outputStructType=DECAY_OUT,
            stateStructType=DECAY_STATE,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


GAPFILL_OUT = (
    "conv_id string, metric string, bucket_ts timestamp, "
    "value double, filled boolean"
)
GAPFILL_STATE = "open_us long, open_sum double, open_cnt long"

_HOUR_US = 3_600_000_000


def streaming_gapfill_ffill(stream: DataFrame) -> DataFrame:
    """Stateful streaming forward-fill onto the hourly grid — the live
    twin of `gapfill.gapfill_sql(method='ffill')`, via
    applyInPandasWithState. A bucket CLOSES when any event for a later
    bucket arrives; closing emits the bucket's mean (filled=false)
    preceded by one forward-filled row per empty hour since the
    previously closed bucket (filled=true).

    Closing bucket O on arrival of bucket b emits O's mean, then one
    ffill row per empty hour in (O, b) carrying O's mean — so the filled
    grid stays complete up to the newest observation.

    Streaming-inherent contract differences from the batch operator,
    both deterministic under any micro-batch split:
    - each series' FINAL observed bucket never closes (nothing later
      arrives), so it is not emitted — the oracle excludes it;
    - events for already-closed buckets are DROPPED (batch backfill is
      authoritative for reordered history — the same lambda-split
      policy as streaming_cusum's straggler rule).

    State = 3 scalars per active series (the open-bucket aggregate),
    independent of stream length; gap emission is O(gap hours) rows,
    the same cost the batch grid explode pays.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def fn(key, pdfs, state: GroupState):
        conv_id, metric = key
        rows = pd.concat(list(pdfs), ignore_index=True)
        if not len(rows):
            return
        rows = rows.sort_values(["ts", "event_id"], kind="mergesort")
        ts_us = rows["ts"].astype("int64").to_numpy() // 1000
        bkt = (ts_us // _HOUR_US) * _HOUR_US
        vals = rows["value"].to_numpy()

        if state.exists:
            open_us, open_sum, open_cnt = state.get
        else:
            open_us, open_sum, open_cnt = -(1 << 62), 0.0, 0

        keep = bkt >= open_us
        bkt, vals = bkt[keep], vals[keep]
        if not len(bkt):
            return

        out_us, out_val, out_fill = [], [], []
        for b in np.unique(bkt):  # ascending
            sel = bkt == b
            if open_cnt > 0 and b > open_us:
                closed_val = open_sum / open_cnt
                out_us.append(open_us)
                out_val.append(closed_val)
                out_fill.append(False)
                # forward-fill every empty hour up to the new bucket
                for g in range(open_us + _HOUR_US, int(b), _HOUR_US):
                    out_us.append(g)
                    out_val.append(closed_val)
                    out_fill.append(True)
                open_us, open_sum, open_cnt = int(b), 0.0, 0
            elif open_cnt == 0:
                open_us = int(b)
            open_sum += float(vals[sel].sum())
            open_cnt += int(sel.sum())

        state.update((int(open_us), float(open_sum), int(open_cnt)))
        if out_us:
            yield pd.DataFrame(
                {
                    "conv_id": conv_id,
                    "metric": metric,
                    "bucket_ts": pd.to_datetime(
                        np.asarray(out_us, dtype="int64") * 1000
                    ),
                    "value": out_val,
                    "filled": out_fill,
                }
            )

    return (
        stream.select("conv_id", "metric", "ts", "event_id", "value")
        .groupBy("conv_id", "metric")
        .applyInPandasWithState(
            fn,
            outputStructType=GAPFILL_OUT,
            stateStructType=GAPFILL_STATE,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
