"""Round-7-session operators: SQ8 scalar-quantization ANN and per-series
higher central moments — numpy twins + invariants."""

from __future__ import annotations

import numpy as np
import pytest

from tsengine import indicators, vecops

RNG = np.random.default_rng(11)
N, D = 40, 16
VECS = RNG.normal(size=(N, D)).astype(np.float32)


@pytest.fixture(scope="module")
def emb(spark):
    rows = [(i, [float(x) for x in VECS[i]]) for i in range(N)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def _np_sq8(base, q, k):
    """numpy twin of sq8_topk: same train/encode/reconstruct recipe."""
    X = base.astype(np.float64)
    mn, mx = X.min(axis=0), X.max(axis=0)
    rng = mx - mn
    step = np.where(rng == 0, 0.0, rng / 255.0)
    codes = np.where(
        rng == 0,
        0,
        np.clip(np.floor((X - mn) / np.where(rng == 0, 1, rng) * 255.0 + 0.5), 0, 255),
    ).astype(np.int64)
    recon = mn + codes * step
    d = ((np.asarray(q, dtype=np.float64) - recon) ** 2).sum(axis=1)
    order = sorted(range(len(d)), key=lambda i: (round(d[i], 6), i))
    return codes, d, order[:k]


def test_sq8_matches_numpy_twin(emb):
    from pyspark.sql import functions as F

    q = [float(x) for x in VECS[0]]
    base_ids = list(range(1, N))
    got = vecops.sq8_topk(
        emb.where(F.col("vec_id") != 0), q, k=10
    ).toPandas()
    codes, d, order = _np_sq8(VECS[1:], q, 10)
    # numpy row i is vec_id i+1
    assert list(got["vec_id"]) == [base_ids[i] for i in order]
    for _, row in got.iterrows():
        i = base_ids.index(row["vec_id"])
        assert row["sq_code"] == "-".join(str(c) for c in codes[i])
        assert abs(row["sq_dist"] - round(d[i] + 5e-10, 6)) < 2e-6


def test_sq8_recall_vs_exact(emb):
    # 8 bits/dim is near-lossless on gaussian data: the quantized top-10
    # must share >= 8 ids with the exact-L2 top-10 and agree on the NN
    from pyspark.sql import functions as F

    q = [float(x) for x in VECS[5]]
    got = vecops.sq8_topk(emb.where(F.col("vec_id") != 5), q, k=10).toPandas()
    X = np.delete(VECS.astype(np.float64), 5, axis=0)
    ids = [i for i in range(N) if i != 5]
    exact = ((np.asarray(q) - X) ** 2).sum(axis=1)
    top_exact = [ids[i] for i in np.argsort(exact)[:10]]
    assert len(set(got["vec_id"]) & set(top_exact)) >= 8
    assert got["vec_id"].iloc[0] == top_exact[0]


def test_sq8_degenerate_dimension(spark):
    # a constant dimension must encode as code 0 and contribute (q-mn)^2
    rows = [(i, [float(i), 7.0]) for i in range(1, 6)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = vecops.sq8_topk(df, [2.0, 9.0], k=5).toPandas()
    assert all(c.endswith("-0") for c in got["sq_code"])
    # nearest to 2.0 on the varying dim is vec 2; constant dim adds 4.0
    assert got["vec_id"].iloc[0] == 2
    assert abs(got["sq_dist"].iloc[0] - 4.0) < 1e-4


def _series_df(spark, vals):
    rows = [("c1", "m", float(v)) for v in vals]
    return spark.createDataFrame(rows, "conv_id string, metric string, value double")


def test_moments_match_numpy(spark):
    vals = list(RNG.gamma(2.0, 3.0, size=200))  # right-skewed
    got = indicators.moments(_series_df(spark, vals)).toPandas()
    assert len(got) == 1
    a = np.asarray(vals, dtype=np.float64)
    m = a.mean()
    m2 = ((a - m) ** 2).mean()
    m3 = ((a - m) ** 3).mean()
    m4 = ((a - m) ** 4).mean()
    r = got.iloc[0]
    assert r["n_obs"] == 200
    assert abs(r["mean"] - m) < 1e-5
    assert abs(r["var_pop"] - m2) < 1e-4
    assert abs(r["skew_pop"] - m3 / m2**1.5) < 1e-4
    assert abs(r["kurt_excess"] - (m4 / m2**2 - 3.0)) < 1e-4
    assert r["skew_pop"] > 0  # gamma(2) is right-skewed


def test_moments_drop_degenerate_series(spark):
    # constant series (zero variance) and too-short series both drop
    rows = [("flat", "m", 5.0)] * 10 + [("short", "m", 1.0), ("short", "m", 2.0)]
    df = spark.createDataFrame(rows, "conv_id string, metric string, value double")
    assert indicators.moments(df).count() == 0


def test_moments_skip_null_and_nan(spark):
    # a null or NaN value is skipped by the power sums AND by the count:
    # the series gives exactly the row it gives without that value
    base = [float(v) for v in RNG.gamma(2.0, 3.0, size=50)]
    rows = []
    for conv, extra in (("clean", []), ("null", [None]), ("nan", [float("nan")])):
        vals = base[:20] + extra + base[20:]
        rows += [(conv, "m", i, v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(
        rows, "conv_id string, metric string, ts long, value double"
    )
    got = indicators.moments(df).toPandas().set_index("conv_id")
    assert got.loc["clean", "n_obs"] == 50
    for conv in ("null", "nan"):
        assert got.loc[conv].tolist() == got.loc["clean"].tolist(), conv


def test_moments_shift_invariance(spark):
    # identical shape at a huge offset: the min-shift keeps skew/kurt
    # stable where raw power sums would cancel catastrophically
    base = list(RNG.normal(size=500))
    lo = indicators.moments(_series_df(spark, base)).toPandas().iloc[0]
    hi = indicators.moments(
        _series_df(spark, [v + 1e7 for v in base])
    ).toPandas().iloc[0]
    assert abs(lo["skew_pop"] - hi["skew_pop"]) < 1e-3
    assert abs(lo["kurt_excess"] - hi["kurt_excess"]) < 1e-3


def _np_hurst(vals, sizes):
    """numpy twin of anomaly.hurst_rs."""
    x = np.asarray(vals, dtype=np.float64)
    pts = []
    for n in sizes:
        nb = len(x) // n
        if nb == 0:
            continue
        ratios = []
        for b in range(nb):
            blk = x[b * n:(b + 1) * n]
            dev = blk - blk.mean()
            z = np.cumsum(dev)
            r = z.max() - z.min()
            s = np.sqrt((dev * dev).sum() / n)
            if s > 0:
                ratios.append(r / s)
        if ratios:
            pts.append((np.log(n), np.log(np.mean(ratios))))
    if len(pts) < 2:
        return None
    xs = np.array([p[0] for p in pts])
    ys = np.array([p[1] for p in pts])
    k = len(pts)
    return (k * (xs * ys).sum() - xs.sum() * ys.sum()) / (
        k * (xs * xs).sum() - xs.sum() ** 2
    )


def _ts_series_df(spark, vals):
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        ("c1", t0 + dt.timedelta(minutes=i), "m", float(v), i)
        for i, v in enumerate(vals)
    ]
    return spark.createDataFrame(
        rows,
        "conv_id string, ts timestamp, metric string, value double,"
        " event_id long",
    )


def test_hurst_matches_numpy(spark):
    from tsengine import anomaly

    rng = np.random.default_rng(3)
    vals = list(np.cumsum(rng.normal(size=256)))  # random walk
    got = anomaly.hurst_rs(
        _ts_series_df(spark, vals), sizes=(8, 16, 32)
    ).toPandas()
    assert len(got) == 1
    want = _np_hurst(vals, (8, 16, 32))
    assert abs(got["hurst"].iloc[0] - want) < 1e-4
    assert got["n_sizes"].iloc[0] == 3


def test_hurst_regimes(spark):
    from tsengine import anomaly

    rng = np.random.default_rng(4)
    # persistent: a strong trend keeps cumulative deviations growing
    trend = list(np.arange(256) * 1.0 + rng.normal(scale=0.1, size=256))
    h_tr = anomaly.hurst_rs(
        _ts_series_df(spark, trend), sizes=(8, 16, 32)
    ).toPandas()["hurst"].iloc[0]
    # anti-persistent: strict alternation self-corrects every step
    alt = [(1.0 if i % 2 == 0 else -1.0) for i in range(256)]
    h_alt = anomaly.hurst_rs(
        _ts_series_df(spark, alt), sizes=(8, 16, 32)
    ).toPandas()["hurst"].iloc[0]
    assert h_tr > 0.8
    assert h_alt < 0.2
    assert h_tr > h_alt


def test_hurst_short_or_constant_series_drop(spark):
    from tsengine import anomaly

    # 7 points: no full block at any size in (8, 16, 32) -> no row;
    # constant 64 points: every block has S = 0 -> no row
    short = _ts_series_df(spark, list(range(7)))
    const = _ts_series_df(spark, [5.0] * 64)
    assert anomaly.hurst_rs(short, sizes=(8, 16, 32)).count() == 0
    assert anomaly.hurst_rs(const, sizes=(8, 16, 32)).count() == 0


def _mk_corpus(spark):
    texts = {
        1: "spark window vector spark",
        2: "table scan row filter",
        3: "vector vector window join",
        4: "spark agg",
        5: "sort merge batch",
    }
    docs = spark.createDataFrame(
        [(i, t) for i, t in texts.items()], "doc_id long, text string"
    )
    # embeddings: vec 0 is the query; vec 5 nearest, then 2, then 3...
    vecs = {
        0: [1.0, 0.0, 0.0],
        1: [0.0, 1.0, 0.0],
        2: [0.9, 0.1, 0.0],
        3: [0.5, 0.5, 0.0],
        4: [0.0, 0.0, 1.0],
        5: [1.0, 0.05, 0.0],
    }
    emb = spark.createDataFrame(
        [(i, v) for i, v in vecs.items()],
        "vec_id long, embedding array<float>",
    )
    return emb, docs


def test_hybrid_rrf_fuses_both_lists(spark):
    emb, docs = _mk_corpus(spark)
    got = vecops.hybrid_rrf_topk(
        emb, docs, [1.0, 0.0, 0.0], ["spark", "vector"], k=5, k_each=3
    ).toPandas()
    by_id = got.set_index("doc_id")
    # doc 3 is in BOTH top-3 lists (cosine rank 3, has 2x vector) —
    # every returned doc must carry at least one rank, doc 3 both
    assert not (by_id["vec_rank"].isna() & by_id["text_rank"].isna()).any()
    r3 = by_id.loc[3]
    assert r3["vec_rank"] > 0 and r3["text_rank"] > 0
    # RRF score is exactly the sum of reciprocal ranks
    for doc_id, row in by_id.iterrows():
        want = 0.0
        if not np.isnan(row["vec_rank"]):
            want += 1.0 / (60.0 + row["vec_rank"])
        if not np.isnan(row["text_rank"]):
            want += 1.0 / (60.0 + row["text_rank"])
        assert abs(row["rrf_score"] - round(want + 0, 6)) < 1.1e-6
    # two-list doc 3 must outrank every one-list doc
    one_list = by_id[by_id["vec_rank"].isna() | by_id["text_rank"].isna()]
    if len(one_list):
        assert by_id.loc[3, "rrf_score"] > one_list["rrf_score"].max()


def test_hybrid_rrf_disjoint_lists_keep_both_sides(spark):
    emb, docs = _mk_corpus(spark)
    # query terms that only match docs 2/5 (no embedding overlap forced)
    got = vecops.hybrid_rrf_topk(
        emb, docs, [0.0, 0.0, 1.0], ["merge", "filter"], k=10, k_each=2
    ).toPandas()
    # full-outer fuse: docs from the lexical list appear even when they
    # missed the dense top-2, and vice versa
    assert set(got["doc_id"]) >= {2, 5}
    assert len(got) >= 3


def test_transition_matrix_hand_computed(spark):
    import datetime as dt

    from tsengine import temporal

    t0 = dt.datetime(2024, 1, 1)
    seq = {"c1": ["a", "b", "a", "b", "c"], "c2": ["a", "a", "b"]}
    rows = []
    for cid, states in seq.items():
        for i, s in enumerate(states):
            rows.append((cid, t0 + dt.timedelta(minutes=i), s, 1.0, i))
    df = spark.createDataFrame(
        rows,
        "conv_id string, ts timestamp, metric string, value double,"
        " event_id long",
    )
    got = {
        (r["from_state"], r["to_state"]): (r["n_trans"], r["prob"])
        for r in temporal.transition_matrix(df).collect()
    }
    # c1 pairs: a>b, b>a, a>b, b>c ; c2 pairs: a>a, a>b
    # from a: a>b x3, a>a x1 (total 4); from b: b>a x1, b>c x1 (total 2)
    assert got[("a", "b")] == (3, 0.75)
    assert got[("a", "a")] == (1, 0.25)
    assert got[("b", "a")] == (1, 0.5)
    assert got[("b", "c")] == (1, 0.5)
    assert ("c", "a") not in got  # 'c' is terminal, no outgoing row
    # rows per from-state sum to 1
    assert abs(sum(p for (f, _), (_, p) in got.items() if f == "a") - 1) < 1e-9


def test_transition_matrix_single_event_convs_emit_nothing(spark):
    import datetime as dt

    from tsengine import temporal

    t0 = dt.datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [("c1", t0, "a", 1.0, 0), ("c2", t0, "b", 1.0, 0)],
        "conv_id string, ts timestamp, metric string, value double,"
        " event_id long",
    )
    assert temporal.transition_matrix(df).count() == 0
