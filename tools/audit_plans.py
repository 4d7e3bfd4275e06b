"""Physical-plan audit: print .explain(formatted) for the engine's key
operators and grep for the properties the 100 TB path depends on:

- parquet scans show PushedFilters / pruned ReadSchema (no full-row reads)
- dimension joins are BroadcastHashJoin (no sort-merge on small dims)
- aggregations show partial_ (map-side combine before the exchange)
- Column-expr stages sit inside WholeStageCodegen spans
- exactly ONE exchange touches raw data in the tier pipeline

Usage: python tools/audit_plans.py [sf_dir]
"""

from __future__ import annotations

import io
import os
import sys
import tempfile
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tsengine.env_tuning import setdefault_simd  # noqa: E402

setdefault_simd()

from pyspark.sql import functions as F  # noqa: E402

from tsengine import entry_queries as eq  # noqa: E402
from tsengine import features, gapfill, rollup, textops, vecops  # noqa: E402
from tsengine.session import get_spark  # noqa: E402


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


CHECKS = {
    "partial_agg": lambda p: "partial_" in p,
    # formatted explain marks codegen'd nodes with "[codegen id : N]"; under
    # AQE (isFinalPlan=false) ids only materialize at execution, so a
    # whole-stage-eligible plan (HashAggregate/Project/Filter nodes, no
    # codegen-breaking ObjectHashAggregate/SortAggregate) also passes
    "codegen": lambda p: (
        "codegen id" in p
        or "WholeStageCodegen" in p
        or (
            "isFinalPlan=false" in p
            and "ObjectHashAggregate" not in p
            and "SortAggregate" not in p
        )
    ),
    "broadcast_join": lambda p: "BroadcastHashJoin" in p,
    "pushed_filters": lambda p: "PushedFilters: [" in p and "PushedFilters: []" not in p,
    # formatted explain prints every node twice (tree row + details
    # section) — count numbered node headers "(N) Exchange", not raw
    # substring hits, or a clean 1-exchange plan double-counts to 2
    "single_exchange": lambda p: len(
        __import__("re").findall(r"\(\d+\) Exchange", p)
    ) <= 1,
    # the hist sketch bins each row ONCE into a projected _bin column; its
    # per-bin sums compare that integer instead of re-running hist_bin
    "bin_once": lambda p: "AS _bin#" in p and "WHEN (size(filter(" not in p,
    # a plan that survives 100 TB never falls back to an all-pairs join
    "no_cartesian": lambda p: (
        "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    ),
}


def audit(name: str, df, expect: list[str]) -> None:
    p = plan_of(df)
    results = {c: CHECKS[c](p) for c in expect}
    flag = "OK " if all(results.values()) else "WARN"
    print(f"{flag} {name}: " + ", ".join(f"{k}={v}" for k, v in results.items()))
    if flag == "WARN":
        print(p[:4000])


def main() -> None:
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark(master="local[4]")
    ev = eq._events_long(spark, sf)

    st = rollup.stats()
    audit("tier_1m (rollup)", rollup.rollup(ev, "1m", st),
          ["partial_agg", "codegen"])
    audit("tier cascade 1h", rollup.cascade(rollup.rollup(ev, "1m", st), "1h", st),
          ["partial_agg", "codegen"])
    # the pipeline's actual cascade path: wide-stats 1m → wide 1h → long view
    _tr = spark.read.parquet(f"{sf}/events.parquet").select(
        F.col("event_id").cast("string").alias("conv_id"),
        F.col("ts"),
        F.col("value").alias("m_a"),
        (F.col("value") * 2).alias("m_b"),
    )
    _wst = rollup.stats(["m_a", "m_b"])
    _g1m = rollup.rollup(_tr, "1m", _wst, on=("conv_id",))
    audit("tier cascade wide 1h (pipeline path)",
          rollup.unpivot_stats(rollup.cascade(_g1m, "1h", _wst, on=("conv_id",)),
                               ["m_a", "m_b"]),
          ["partial_agg", "codegen", "no_cartesian"])
    audit("hist sketch 1m→1h quantiles", eq.QUERIES["ts_hist_quantiles"](spark, sf),
          ["partial_agg", "bin_once"])
    audit("filter pushdown (metric=view)",
          ev.where(F.col("metric") == "view").select("conv_id", "value"),
          ["pushed_filters", "codegen"])
    audit("gapfill_sql", gapfill.gapfill_sql(ev.where(F.col("metric") == "view"), "1h"),
          ["partial_agg", "codegen"])

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    audit("minhash sigs", textops.minhash_signature(docs, k=4, shingle_n=3),
          ["codegen"])
    audit("dedup exact", textops.exact_dedup_groups(docs), ["partial_agg", "codegen"])
    audit("simhash pairs (banded)",
          textops.hamming_neighbors(textops.simhash(docs, bits=16), max_dist=3, bits=16),
          ["no_cartesian"])
    audit("simhash pairs 64-bit (banded)",
          textops.hamming_neighbors(textops.simhash(docs, bits=64), max_dist=3, bits=64),
          ["no_cartesian"])
    audit("lsh candidate pairs",
          textops.lsh_candidate_pairs(
              textops.minhash_signature(docs, k=4, shingle_n=3), k=4, band_size=2),
          ["no_cartesian"])

    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    qv = [float(x) for x in emb.where(F.col("vec_id") == 0).head()["embedding"]]
    audit("knn brute", vecops.cosine_topk(emb, qv, 10), ["codegen"])

    # solar pack: pure Column-expr chains must stay inside codegen spans
    audit("solar geometry (F1-F4)",
          eq.QUERIES["ts_solar_geometry"](spark, sf), ["codegen"])
    audit("solar power chain (F7-F12)",
          eq.QUERIES["ts_solar_power"](spark, sf), ["codegen"])
    # tilted_daily's 24-row hour grid is an explicit broadcast (tiny literal
    # side) — the check here is partial agg on the daily rollup + codegen
    audit("solar tilted daily (F5/F6/F10 + renorm)",
          eq.QUERIES["ts_tilted_daily"](spark, sf), ["partial_agg", "codegen"])

    # temporal alignment ops: the as-of join must never degrade to an
    # inequality/cartesian join, and the window chains must ride ONE
    # key-partitioned exchange (the groupBys on (key, session_id) reuse
    # the conv_id hash partitioning — subset clustering)
    from tsengine import temporal

    hourly = (
        ev.where(F.col("metric") == "click")
        .groupBy("conv_id", F.date_trunc("hour", "ts").alias("ts"))
        .agg(F.round(F.avg("value"), 4).alias("ref_v"))
    )
    audit("asof join (union+carry)",
          temporal.asof_join(ev.select("conv_id", "event_id", "ts"), hourly),
          ["no_cartesian"])
    audit("sessionize + stats",
          temporal.session_stats(
              ev.select("conv_id", "ts", "event_id"), 1800, tiebreak="event_id"),
          ["single_exchange", "no_cartesian"])
    audit("counter rate",
          eq.QUERIES["ts_counter_rate"](spark, sf), ["single_exchange"])

    # k-means assignment is scan-speed: no shuffle, no join
    cents = vecops.ivf_centroids(emb, 4)
    audit("kmeans assign (scan-speed argmin)",
          vecops.ivf_assign(emb, cents, dist_round=6), ["single_exchange"])

    # broadcast check: config-dim join in the curve transform
    from tsengine import synth

    t = synth.generate_transcripts(spark, n_convs=20, mega_turns=0)
    cfg = synth.generate_conv_config(spark, 20)
    curve = synth.generate_signal_curve(spark)
    from tsengine import curves

    wide = features.derive_features_chunked(t)
    audit("curve transform (broadcast dim join)",
          curves.apply_curve_transform(wide, cfg, curve),
          ["broadcast_join"])

    # round-4 pack: candles are one map-side-combined shuffle; CUSUM and
    # rolling windows ride ONE key-partitioned sort; the bucketed interval
    # join must never degrade to BroadcastNestedLoop (the naive range-join
    # plan it exists to replace); CMS cells are a partial-agg groupBy
    from tsengine import rolling, sketches

    # min_by/max_by argmin buffers compile to SortAggregate in Spark 4 —
    # no hash-agg codegen exists for them (struct-min is identical), but
    # the partial (map-side) aggregate still reduces the exchange to one
    # row per group, which is the property that matters at 100 TB
    audit("ohlc candles", rollup.rollup(ev, "1h", rollup.candles()),
          ["partial_agg", "single_exchange"])
    audit("cusum (closed form)",
          temporal.cusum(ev, k=55.0, tiebreak="event_id"),
          ["single_exchange"])
    audit("rolling 1h range window", rolling.rolling_agg(ev, 3600),
          ["single_exchange"])
    iv = (
        ev.where(F.col("metric") == "error")
        .groupBy("conv_id", F.date_trunc("day", "ts").alias("day"))
        .agg(F.min("ts").alias("start_ts"), F.max("ts").alias("end_ts"))
    )
    audit("interval join (bucketed range join)",
          temporal.interval_join(
              ev.where(F.col("metric") == "click").select("conv_id", "event_id", "ts"),
              iv, keys=("conv_id",), bucket_s=21600),
          ["no_cartesian"])
    audit("cms cells",
          sketches.cms_build(
              ev.select(F.date_trunc("day", "ts").alias("day"),
                        F.col("conv_id").alias("uid")), "uid", ["day"]),
          ["partial_agg", "codegen"])

    # round-4 training-pipeline pack: the hash split is pure rowwise
    # (zero exchanges, codegen); packing rides ONE per-shard window sort;
    # decontamination broadcasts the benchmark shingle set (the raw
    # corpus volume must never shuffle or cross-join); ACF's moment
    # reduction map-side-combines before its exchange
    from tsengine import anomaly

    audit("train split (rowwise hash)",
          textops.train_split(docs.select("doc_id")),
          ["single_exchange", "codegen"])
    audit("pack sequences (per-shard window)",
          textops.pack_sequences(docs, budget=64, n_shards=4),
          ["single_exchange"])
    audit("contamination (broadcast benchmark)",
          textops.contamination(
              docs.where(F.col("doc_id") % 37 != 0),
              docs.where(F.col("doc_id") % 37 == 0)),
          ["broadcast_join", "no_cartesian"])
    audit("acf moments", anomaly.acf(ev), ["partial_agg", "no_cartesian"])
    audit("trend ols (window-min center + moment agg)",
          anomaly.trend_ols(ev),
          ["single_exchange", "partial_agg", "no_cartesian"])
    audit("burstiness (lag window + moment agg)",
          anomaly.burstiness(ev),
          ["single_exchange", "partial_agg", "no_cartesian"])
    audit("pii scrub (rowwise regex)",
          textops.pii_scrub(docs.select("doc_id", "text")),
          ["single_exchange", "codegen"])
    audit("corpus sample (rowwise hash threshold)",
          textops.corpus_sample(
              docs.select("doc_id", F.lit("web").alias("source")),
              {"web": 0.5}),
          ["single_exchange", "codegen"])
    audit("psi drift (binned partial agg)",
          anomaly.psi_drift(ev, "2024-01-16 00:00:00", lo=0.0, hi=330.0),
          ["partial_agg", "no_cartesian"])
    audit("seasonal decompose (bucket agg + hourly window)",
          anomaly.seasonal_decompose(ev),
          ["partial_agg", "no_cartesian"])

    # late round-4 pack: M4 is one map-side-combined struct-min/max
    # shuffle (same reaggregable shape as the tiers — struct min/max
    # compiles to SortAggregate like ohlc, so partial_agg is the check,
    # not codegen); SAX rides one window sort with prefix-keyed groupBys;
    # the backtest self-join must stay an equi-join; entropy's two
    # groupBys share a prefix key and map-side-combine
    audit("m4 downsample", rolling.m4_downsample(ev),
          ["partial_agg", "single_exchange"])
    audit("sax words (window + prefix groupBys)",
          anomaly.sax_words(ev),
          ["single_exchange", "no_cartesian"])
    hourly_m = rollup.rollup(ev, "1h", st).select(
        "conv_id", "metric", "bucket_ts",
        F.round(F.col("sum") / F.col("cnt"), 6).alias("mean_v"))
    audit("seasonal backtest (tier self equi-join)",
          temporal.seasonal_backtest(hourly_m),
          ["partial_agg", "no_cartesian"])
    from tsengine import indicators as ind

    audit("mix entropy (cascaded prefix groupBys)",
          ind.mix_entropy(ev),
          ["partial_agg", "codegen", "no_cartesian"])
    # theil-sen's pairwise stage must be a co-keyed EQUI-join of the tiny
    # hourly tier (the x2 > x1 predicate rides as a post-join filter, not
    # a join strategy); rank-norm is one window sort on the series key
    hourly_ts = rollup.rollup(ev, "1h", st).select(
        "conv_id", "metric",
        F.date_trunc("day", F.col("bucket_ts")).alias("day"),
        F.hour("bucket_ts").cast("long").alias("x"),
        F.round(F.col("sum") / F.col("cnt"), 6).alias("y"))
    audit("theil-sen (bounded pairwise equi-join)",
          anomaly.theil_sen(hourly_ts, keys=("conv_id", "metric", "day"),
                            x_col="x", y_col="y"),
          ["partial_agg", "no_cartesian"])
    audit("rank normalize (one window sort)",
          features.rank_normalize(ev),
          ["single_exchange", "no_cartesian"])
    audit("hampel (one window sort, array stats)",
          anomaly.hampel(ev),
          ["single_exchange", "no_cartesian"])

    # gauge/state/periodicity pack: TWA and state durations ride ONE
    # (key, ts) window sort whose partitioning their groupBys reuse
    # (subset clustering — no second raw exchange); spectral power is a
    # pure six-sum partial-agg groupBy, no window at all
    audit("time-weighted avg (one window sort + reused agg)",
          temporal.time_weighted_avg(ev),
          ["single_exchange", "partial_agg", "no_cartesian"])
    audit("state durations (one window sort + reused agg)",
          temporal.state_durations(ev),
          ["single_exchange", "partial_agg", "no_cartesian"])
    audit("spectral power (six-sum partial agg, no window)",
          anomaly.spectral_power(ev),
          ["single_exchange", "partial_agg", "codegen", "no_cartesian"])
    # changepoint: prefix sums + series totals + argmax pick are all
    # windows over the series key — re-sorts of ONE raw exchange
    audit("changepoint (CUSUM argmax, one raw exchange)",
          anomaly.changepoint(ev),
          ["single_exchange", "no_cartesian"])
    # compaction shuffles BLOB rows only (encode's exchange + the
    # compact-key regroup — both orders of magnitude below raw volume)
    from tsengine import chunks as chunks_mod

    audit("chunk compaction (blob-row regroup)",
          chunks_mod.compact_chunks(
              chunks_mod.encode_chunks(
                  gapfill.gapfill_sql(
                      ev.where(F.col("metric") == "view"), "1h", "ffill"),
                  ts_col="bucket_ts", chunk_span="1d"),
              to_span="7d"),
          ["no_cartesian"])
    # range read from a STORED chunk table: the chunk_start prune must
    # reach the parquet scan (row-group min/max stats skip whole blobs);
    # the table lives only as long as this audit
    with tempfile.TemporaryDirectory(prefix="tsengine_audit_") as tmp:
        chunk_store = os.path.join(tmp, "chunks")
        chunks_mod.encode_chunks(
            gapfill.gapfill_sql(ev.where(F.col("metric") == "view"), "1h", "ffill"),
            ts_col="bucket_ts", chunk_span="1d",
        ).write.parquet(chunk_store)
        audit("chunk range read (chunk_start pushdown)",
              chunks_mod.decode_range(
                  spark.read.parquet(chunk_store),
                  "2024-01-10 00:00:00", "2024-01-20 23:59:59", chunk_span="1d"),
              ["pushed_filters", "no_cartesian"])
    # continuous-aggregate refresh: the merge is a tier-row re-aggregation
    # with map-side combine — never a raw re-read
    cutoff = F.lit("2024-01-25 00:00:00").cast("timestamp")
    audit("tier merge (late-data refresh)",
          rollup.merge_tiers(
              rollup.rollup(ev.where(F.col("ts") < cutoff), "1m", st),
              rollup.rollup(ev.where(F.col("ts") >= cutoff), "1m", st)),
          ["partial_agg", "no_cartesian"])

    # continuation pack: ramps are two window passes + one island groupBy
    # on the series key's ONE exchange; Holt and LTTB are single
    # sorted_batch_apply passes (one keyed repartition, a sort within
    # partitions, mapInPandas — no second exchange); PQ top-k is
    # scan-speed encode + ADC lookups with a partial top-k — its one
    # exchange is the final k-row singlePartition merge, and the 16-code
    # "join" must compile to literal array exprs, never a real join
    audit("ramp events (islands on one exchange)",
          anomaly.ramp_events(ev, threshold=20.0),
          ["single_exchange", "partial_agg", "no_cartesian"])
    audit("holt linear (one sorted-batch pass, carry)",
          temporal.holt_linear(ev.where(F.col("value").isNotNull()),
                               alpha=0.5, beta=0.25, tiebreak="event_id"),
          ["single_exchange", "no_cartesian"])
    audit("holt winters (one sorted-batch pass, carry)",
          temporal.holt_winters(ev.where(F.col("value").isNotNull()),
                                alpha=0.5, beta=0.25, gamma=0.25, m=4,
                                tiebreak="event_id"),
          ["single_exchange", "no_cartesian"])
    audit("kalman (one sorted-batch pass, carry)",
          temporal.kalman_filter(ev.where(F.col("value").isNotNull()),
                                 q=0.25, r=1.0, tiebreak="event_id"),
          ["single_exchange", "no_cartesian"])
    audit("matrix profile (one sorted-batch pass)",
          anomaly.matrix_profile(ev.where(F.col("value").isNotNull()), w=4),
          ["single_exchange", "no_cartesian"])
    audit("peaks (one window pass, scan-speed filter)",
          anomaly.peaks(ev, delta=5.0),
          ["single_exchange", "no_cartesian"])
    audit("dtw profile (one partial-agg groupBy + scan UDF)",
          temporal.dtw_hour_profile(ev, ref_key="0", band=6),
          ["single_exchange", "partial_agg", "no_cartesian"])
    audit("lttb (one sorted-batch pass)",
          rolling.lttb_downsample(ev, n_out=8),
          ["single_exchange", "no_cartesian"])
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    base = emb.where(F.col("vec_id") != 0)
    qv = [float(x) for x in
          emb.where(F.col("vec_id") == 0).head()["embedding"]]
    audit("pq top-k (scan-speed ADC, no join)",
          vecops.pq_topk(base, qv, k=10, n_codes=16, m_sub=8),
          ["no_cartesian"])
    # ivf-pq: the probe filter must stay a pushable IN on the scan (at
    # scale that is partition pruning) and the whole residual encode +
    # ADC must compile to scalar exprs, never a join
    audit("ivf-pq top-k (probe prune + residual ADC, no join)",
          vecops.ivfpq_topk(base, qv, k=10, n_centroids=8, nprobe=2,
                            n_codes=16, m_sub=8),
          ["pushed_filters", "no_cartesian"])

    # round-5 pack: PELT and the sorted-batch DPs ride ONE series-key
    # shuffle; Page-Hinkley is four cumulative windows on one sort;
    # funnel chains its per-step conditional mins as unbounded-frame
    # windows over ONE exchange that the final agg reuses (no per-step
    # self-joins); URL dedup is scan-speed canonicalization + one
    # canon-keyed partial-agg groupBy; cohort retention scans raw once
    audit("pelt segments (one sorted-batch pass)",
          anomaly.pelt_segments(ev.where(F.col("value").isNotNull()),
                                penalty=5000.0),
          ["single_exchange", "no_cartesian"])
    audit("page-hinkley (four windows, one sort)",
          temporal.page_hinkley(ev, tiebreak="event_id"),
          ["single_exchange", "no_cartesian"])
    audit("funnel (chained windows, one exchange)",
          temporal.funnel(ev),
          ["single_exchange", "partial_agg", "no_cartesian"])
    audit("url dedup (scan-speed canon + partial agg)",
          textops.url_dedup_stats(
              docs.select("doc_id",
                          F.concat(F.lit("http://h"),
                                   (F.col("doc_id") % 7).cast("string"),
                                   F.lit(".com/p?a=1")).alias("url"))),
          ["single_exchange", "partial_agg", "codegen"])
    audit("cohort retention (one raw scan + dim join)",
          temporal.cohort_retention(ev),
          ["partial_agg", "no_cartesian"])
    # postings: no_cartesian is intentionally NOT asserted — the max_df
    # gate compares against a ONE-ROW corpus-count scalar, which Spark
    # executes as a 1-row IdentityBroadcast NLJ (the plan for any scalar
    # subquery; identical shape to bm25's corpus stats) — constant work,
    # not a pair blowup. The raw-volume joins are hash joins.
    audit("postings (df gate before rank window)",
          textops.build_postings(docs, top_p=3, min_df=2, max_df_frac=0.8),
          ["partial_agg"])
    # decayed topk: same 1-row max-ts scalar broadcast → no_cartesian
    # waived for the same reason as postings/bm25
    audit("decayed topk (raw partial agg + agg-table rank)",
          temporal.decayed_topk(ev),
          ["partial_agg"])
    audit("scd2 history (one key-sorted exchange)",
          temporal.scd2_intervals(ev, tiebreak="event_id"),
          ["single_exchange", "no_cartesian"])
    from tsengine import tables as tables_mod

    audit("compaction plan (one window over file stats)",
          tables_mod.compaction_plan(
              ev.select(F.col("metric").alias("bucket"),
                        F.col("event_id").alias("file_id"),
                        (F.col("event_id") % 997 * 1024).alias("bytes")),
              size_col="bytes", target_bytes=1 << 22),
          ["single_exchange", "no_cartesian"])
    audit("sigma clip (one sorted-batch pass)",
          anomaly.sigma_clip(ev.where(F.col("value").isNotNull()),
                             c=2.0, max_peel=3),
          ["single_exchange", "no_cartesian"])
    audit("zorder value (scan-speed integer interleave)",
          ev.select("event_id", tables_mod.zorder_value(
              F.col("event_id") % 1024, F.col("event_id") % 7, bits=10
          ).alias("z")),
          ["codegen", "no_cartesian"])

    # round-5 additions
    from tsengine import sketches

    ins = ev.select("metric", F.col("conv_id").alias("key")).distinct()
    bloom_bits = sketches.bloom_build(ins, "key", ["metric"])
    probes = ev.select("metric").distinct().crossJoin(
        spark.range(0, 450).select(F.col("id").cast("string").alias("probe"))
    )
    # (probes is a 5×450 constant grid — its crossJoin plans as the waived
    # tiny-dim NLJ, same as the 24-hour grids, so no_cartesian is not
    # asserted here; the data-volume paths are the build dedup + bit join)
    audit("bloom membership probe (broadcast bit join, partial dedup)",
          sketches.bloom_query(bloom_bits, probes, "probe", ["metric"]),
          ["partial_agg"])
    audit("kalman chunked (one sorted-batch pass, carry)",
          eq.QUERIES["ts_kalman_chunked"](spark, sf),
          ["single_exchange", "no_cartesian"])
    audit("png media decode (mapInPandas scan stages, zero exchange)",
          eq.QUERIES["mm_png_roundtrip"](spark, sf),
          ["single_exchange", "no_cartesian"])
    # SQ8 ANN: encode + ADC are pure scalar exprs — the query side must
    # plan with NO join of any kind and codegen end to end (the trained
    # min/max live as literals, not a codebook table)
    sq8 = eq.QUERIES["vec_sq8_topk"](spark, sf)
    p_sq8 = plan_of(sq8)
    flag = "OK " if ("Join" not in p_sq8 and CHECKS["codegen"](p_sq8)) else "WARN"
    print(f"{flag} sq8 ANN (scan-speed encode+ADC): joinless={'Join' not in p_sq8}, "
          f"codegen={CHECKS['codegen'](p_sq8)}")
    audit("moments (one sorted-partition pandas pass, ordered folds)",
          eq.QUERIES["ts_moments"](spark, sf),
          ["single_exchange", "no_cartesian"])
    audit("hurst R/S (explode + shared block exchange, shrinking reductions)",
          eq.QUERIES["ts_hurst"](spark, sf),
          ["partial_agg", "no_cartesian"])
    # hybrid RRF: the 1-row corpus-stats crossJoin plans as the waived
    # tiny-dim IdentityBroadcast NLJ, so no_cartesian is not asserted;
    # the volume paths are the two partial top-k scans + bounded fuse
    audit("hybrid RRF fuse (two independent top-k lists, bounded join)",
          eq.QUERIES["vec_hybrid_rrf"](spark, sf),
          ["partial_agg"])
    audit("transition matrix (one lag window + matrix-sized partial agg)",
          eq.QUERIES["ts_transitions"](spark, sf),
          ["partial_agg", "no_cartesian"])
    audit("permutation entropy (one lead window, <=6-row/series partial agg)",
          eq.QUERIES["ts_perm_entropy"](spark, sf),
          ["partial_agg", "no_cartesian"])
    # allan/haar cross-join a 3-row broadcast level table — the waived
    # tiny-dim NLJ; the volume path is the integer block-sum partial agg
    audit("allan variance (exact-cents block sums, map-side collapse)",
          eq.QUERIES["ts_allan_var"](spark, sf),
          ["partial_agg"])
    audit("benford digit audit (integer digit extract, 9-row/metric agg)",
          eq.QUERIES["ts_benford"](spark, sf),
          ["partial_agg", "no_cartesian", "codegen"])
    audit("runs test (median window + sign lag share one exchange)",
          eq.QUERIES["ts_runs_test"](spark, sf),
          ["partial_agg", "no_cartesian"])
    audit("haar energy (signed half-block integer sums, shrinking levels)",
          eq.QUERIES["ts_haar_energy"](spark, sf),
          ["partial_agg"])
    audit("heaps law (first-seen token rows, no quadratic distinct scan)",
          eq.QUERIES["text_heaps_law"](spark, sf),
          ["partial_agg", "no_cartesian"])
    audit("zipf slope (take-ordered top-k head, bounded rank window)",
          eq.QUERIES["text_zipf_slope"](spark, sf),
          ["partial_agg", "no_cartesian"])
    audit("sample entropy (per-series equi-join self-pairs, integer match)",
          eq.QUERIES["ts_sampen"](spark, sf),
          ["partial_agg", "no_cartesian"])
    audit("markov entropy rate (one lag window, matrix-sized windows)",
          eq.QUERIES["ts_markov_entropy"](spark, sf),
          ["partial_agg", "no_cartesian"])
    audit("variance ratio (one window pass for all lags, exact-int VR)",
          eq.QUERIES["ts_variance_ratio"](spark, sf),
          ["partial_agg", "no_cartesian"])
    audit("turning points (one lag/lead window, integer extrema counts)",
          eq.QUERIES["ts_turning_points"](spark, sf),
          ["partial_agg", "no_cartesian"])
    audit("pacf (three leads share one series exchange, integer autocovs)",
          eq.QUERIES["ts_pacf"](spark, sf),
          ["partial_agg", "no_cartesian"])
    # seasonal strength cascades two aggs (metric×hour, then metric) —
    # the second exchange moves 24 rows/metric, so single_exchange is
    # intentionally not asserted
    audit("seasonal strength (groupBy to metric-hour, 24-row reduce)",
          eq.QUERIES["ts_seasonal_strength"](spark, sf),
          ["partial_agg", "no_cartesian"])
    audit("volume gini (rank window over pre-aggregated conv counts)",
          eq.QUERIES["ts_volume_gini"](spark, sf),
          ["partial_agg", "no_cartesian"])
    audit("mean excess (percentile window shares exceedance exchange)",
          eq.QUERIES["ts_mean_excess"](spark, sf),
          ["partial_agg", "no_cartesian"])
    audit("ljung-box (three leads share one series exchange)",
          eq.QUERIES["ts_ljung_box"](spark, sf),
          ["partial_agg", "no_cartesian"])
    audit("metric correlation (conv-keyed self-join over totals)",
          eq.QUERIES["ts_metric_corr"](spark, sf),
          ["partial_agg", "no_cartesian"])
    audit("hill tail (one desc rank window, conditional top-k sums)",
          eq.QUERIES["ts_hill_tail"](spark, sf),
          ["partial_agg", "no_cartesian"])
    audit("pixel stats decode (mapInPandas scan stages, zero exchange)",
          eq.QUERIES["mm_pixel_stats"](spark, sf),
          ["single_exchange", "no_cartesian"])
    audit("forecast metrics (one recursion pass + lag window + groupBy)",
          eq.QUERIES["ts_forecast_metrics"](spark, sf),
          ["partial_agg", "no_cartesian"])
    audit("conformal interval (percentile window shares error exchange)",
          eq.QUERIES["ts_conformal_interval"](spark, sf),
          ["partial_agg", "no_cartesian"])
    # bigram xent crossJoins the 1-row |V| dim (waived tiny NLJ)
    audit("bigram cross-entropy (row-local pairs + (u,v)-keyed count join)",
          eq.QUERIES["text_bigram_xent"](spark, sf),
          ["partial_agg"])
    audit("mann-kendall (one sorted-partition pandas pass, numpy pairs)",
          eq.QUERIES["ts_mann_kendall"](spark, sf),
          ["single_exchange", "no_cartesian"])
    audit("kpss (running integer sums share one series exchange)",
          eq.QUERIES["ts_kpss"](spark, sf),
          ["partial_agg", "no_cartesian"])
    audit("dim stats (posexplode + dim-keyed exchange to d rows)",
          eq.QUERIES["vec_dim_stats"](spark, sf),
          ["partial_agg", "no_cartesian"])
    audit("excursion (running-max/peak/duration in one ordered pass)",
          eq.QUERIES["ts_excursion"](spark, sf),
          ["partial_agg", "no_cartesian"])
    audit("records test (prev-max window, integer record flags)",
          eq.QUERIES["ts_records"](spark, sf),
          ["partial_agg", "no_cartesian"])
    audit("source overlap (token-keyed self-join of deduped vocab)",
          eq.QUERIES["text_source_overlap"](spark, sf),
          ["partial_agg", "no_cartesian"])
    audit("ks halves (value-collapsed table, integer ECDF diffs)",
          eq.QUERIES["ts_ks_halves"](spark, sf),
          ["partial_agg", "no_cartesian"])
    # recall eval crossJoins the 1-row n_lsh aggregate (waived tiny-dim
    # NLJ, same as bloom/RRF/jsd) — no_cartesian is not asserted
    audit("ann recall eval (two take-ordered scans + k-row join)",
          eq.QUERIES["vec_recall_eval"](spark, sf),
          [])
    audit("cox-stuart (exact-offset self-join, integer sign counts)",
          eq.QUERIES["ts_cox_stuart"](spark, sf),
          ["partial_agg", "no_cartesian"])
    audit("robust stats (three percentiles share one series exchange)",
          eq.QUERIES["ts_robust_stats"](spark, sf),
          ["partial_agg", "no_cartesian"])
    # cusum-of-squares is a pure window pipeline (rank-filter instead of
    # groupBy), so there is no partial-agg node to assert
    audit("cusum of squares (running energy window, integer argmax)",
          eq.QUERIES["ts_cusum_squares"](spark, sf),
          ["no_cartesian"])
    # ts_streaming_gapfill is a streaming query — no single batch plan to
    # assert on; its gates are the oracle rows + the multi-batch tests
    audit("flow pagerank (edge build + single-row HOF power iteration)",
          eq.QUERIES["ts_flow_pagerank"](spark, sf),
          ["partial_agg", "no_cartesian"])
    # js-divergence crossJoins the 1-row corpus-total dim (waived tiny NLJ)
    audit("js divergence by source (present-terms only, broadcast total)",
          eq.QUERIES["text_js_divergence"](spark, sf),
          ["partial_agg"])
    # vec_mmr's distributed stages are the take-ordered candidate scan +
    # bounded pair self-join; the returned frame is a driver-built 5-row
    # result, so plan checks target the candidate scan instead
    from tsengine import vecops as vec_mod

    qv_mmr = eq._query_vec(spark, sf)
    audit("mmr candidate scan (constant-folded query, take-ordered)",
          vec_mod.cosine_topk(
              spark.read.parquet(f"{sf}/embeddings.parquet")
              .where(F.col("vec_id") != 0), qv_mmr, k=20),
          ["codegen", "no_cartesian"])


if __name__ == "__main__":
    main()
