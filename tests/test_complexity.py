"""Complexity/randomness diagnostics (tsengine/complexity.py) + corpus
laws (textops.heaps_law / zipf_slope) — hand-computed and numpy twins."""

from __future__ import annotations

import datetime as dt
import math

import numpy as np
import pytest

from tsengine import complexity, textops

T0 = dt.datetime(2025, 1, 1)


def _series(spark, vals, conv="c1", metric="m"):
    rows = [
        (conv, T0 + dt.timedelta(minutes=i), metric, float(v), i)
        for i, v in enumerate(vals)
    ]
    return spark.createDataFrame(
        rows, "conv_id string, ts timestamp, metric string, value double, event_id int"
    )


# ---------------------------------------------------------------------------
# permutation entropy
# ---------------------------------------------------------------------------

def test_perm_entropy_monotone_is_zero(spark):
    # strictly increasing series → single ordinal pattern → H = 0
    got = complexity.permutation_entropy(
        _series(spark, range(10)), min_triples=1
    ).collect()
    assert len(got) == 1
    r = got[0]
    assert r.n_triples == 8 and r.n_patterns == 1
    assert r.perm_entropy == 0.0


def test_perm_entropy_matches_hand_computation(spark):
    vals = [3.0, 1.0, 2.0, 5.0, 4.0, 4.0, 6.0, 0.0]
    got = complexity.permutation_entropy(
        _series(spark, vals), min_triples=1
    ).collect()[0]
    # hand: classify each triple by (rank0, rank1, rank2), ties → earlier
    # index ranks lower
    pats = {}
    for i in range(len(vals) - 2):
        x = vals[i : i + 3]
        r0 = (x[1] < x[0]) + (x[2] < x[0])
        r1 = (x[0] <= x[1]) + (x[2] < x[1])
        r2 = (x[0] <= x[2]) + (x[1] <= x[2])
        code = r0 * 9 + r1 * 3 + r2
        pats[code] = pats.get(code, 0) + 1
    n = sum(pats.values())
    h = -sum(c / n * math.log(c / n) for c in pats.values()) / math.log(6)
    assert got.n_triples == n
    assert got.n_patterns == len(pats)
    assert got.perm_entropy == pytest.approx(round(h, 5), abs=2e-5)


def test_perm_entropy_min_triples_gate(spark):
    assert (
        complexity.permutation_entropy(
            _series(spark, [1, 2, 3, 4, 5]), min_triples=4
        ).count()
        == 0
    )  # only 3 triples


# ---------------------------------------------------------------------------
# Allan variance
# ---------------------------------------------------------------------------

def test_allan_variance_matches_numpy(spark):
    rng = np.random.default_rng(7)
    vals = np.round(rng.uniform(0, 100, 24), 2)
    got = {
        r["m"]: r
        for r in complexity.allan_variance(_series(spark, vals)).collect()
    }
    for m in (1, 2, 4):
        n = len(vals) - len(vals) % m
        yb = np.asarray(vals[:n], dtype=np.float64).reshape(-1, m).mean(axis=1)
        d = np.diff(yb)
        expect = (d * d).sum() / (2.0 * len(d))
        assert got[m].n_blocks == len(yb)
        assert got[m].avar == pytest.approx(expect, abs=2e-5)


def test_allan_white_noise_halves_with_m(spark):
    # AVAR(m) ≈ sigma^2/m for white noise: check monotone decrease
    rng = np.random.default_rng(1)
    vals = np.round(rng.normal(50, 10, 512), 2)
    rows = {r["m"]: r.avar for r in complexity.allan_variance(
        _series(spark, vals)).collect()}
    assert rows[1] > rows[2] > rows[4]
    assert rows[1] / rows[4] == pytest.approx(4.0, rel=0.4)


# ---------------------------------------------------------------------------
# Benford digits
# ---------------------------------------------------------------------------

def test_benford_digit_extraction_and_chi2(spark):
    # digits by exact integer math: 1.02→1, 19.99→1, 90.5→9, 100.0→1;
    # values < 1 dropped
    vals = [1.02, 19.99, 90.5, 100.0, 0.5, 2.25, 25.0]
    got = {r.digit: r for r in complexity.benford_digits(
        _series(spark, vals)).collect()}
    assert set(got) == {1, 2, 9}
    assert got[1].n_obs == 3 and got[2].n_obs == 2 and got[9].n_obs == 1
    n_tot = 6
    assert got[1].p_obs == pytest.approx(0.5, abs=1e-6)
    chi = sum(
        (obs - n_tot * math.log10(1 + 1 / d)) ** 2
        / (n_tot * math.log10(1 + 1 / d))
        for d, obs in [(1, 3), (2, 2), (9, 1)]
    ) + sum(
        n_tot * math.log10(1 + 1 / d) for d in (3, 4, 5, 6, 7, 8)
    ) * 0  # absent digits contribute nothing (observed-support chi2)
    assert got[1].chi2_metric == pytest.approx(round(chi, 4), abs=2e-4)
    assert got[1].chi2_metric == got[9].chi2_metric  # window-constant


def test_benford_conformant_sample_low_chi2(spark):
    # synthesize an exactly-Benford-ish multiset: counts ∝ log10(1+1/d)
    vals = []
    for d in range(1, 10):
        vals += [float(d)] * round(1000 * math.log10(1 + 1 / d))
    got = complexity.benford_digits(_series(spark, vals)).collect()
    assert max(r.chi2_metric for r in got) < 1.0


# ---------------------------------------------------------------------------
# runs test
# ---------------------------------------------------------------------------

def test_runs_test_alternating_series(spark):
    # perfect alternation around the median → max runs, z > 0
    vals = [1.0, 9.0] * 8
    got = complexity.runs_test(_series(spark, vals)).collect()[0]
    n1 = n2 = 8
    n = 16
    runs = 16
    mu = 1 + 2 * n1 * n2 / n
    var = 2 * n1 * n2 * (2 * n1 * n2 - n) / (n * n * (n - 1))
    assert got.n_runs == runs and got.n_above == 8 and got.n_below == 8
    assert got.runs_z == pytest.approx((runs - mu) / math.sqrt(var), abs=1e-4)


def test_runs_test_trending_series_negative_z(spark):
    # monotone trend → exactly 2 runs → strongly negative z
    got = complexity.runs_test(_series(spark, range(20))).collect()[0]
    assert got.n_runs == 2
    assert got.runs_z < -3.0


def test_runs_test_constant_series_dropped(spark):
    # all values equal the median → n_above = 0 → filtered out
    assert complexity.runs_test(_series(spark, [5.0] * 10)).count() == 0


# ---------------------------------------------------------------------------
# Haar energy
# ---------------------------------------------------------------------------

def _np_haar_energy(vals, levels=3):
    n = len(vals) - len(vals) % (2 ** levels)
    x = np.asarray(vals[:n], dtype=np.float64)
    out = {}
    for lev in range(1, levels + 1):
        b, h = 2 ** lev, 2 ** (lev - 1)
        blocks = x.reshape(-1, b)
        d = (blocks[:, :h].sum(axis=1) - blocks[:, h:].sum(axis=1)) / b
        out[lev] = (d * d).sum()
    return out


def test_haar_energy_matches_numpy(spark):
    rng = np.random.default_rng(3)
    vals = np.round(rng.uniform(0, 200, 24), 2)
    got = {r.level: r for r in complexity.haar_energy(
        _series(spark, vals)).collect()}
    expect = _np_haar_energy(vals)
    tot = sum(expect.values())
    for lev in (1, 2, 3):
        assert got[lev].n_coeffs == 24 // 2 ** lev
        assert got[lev].energy == pytest.approx(expect[lev], abs=2e-5)
        assert got[lev].energy_share == pytest.approx(
            expect[lev] / tot, abs=2e-5
        )


def test_haar_energy_level_isolation(spark):
    # period-2 alternation puts ALL detail energy at level 1
    vals = [10.0, 0.0] * 8
    got = {r.level: r for r in complexity.haar_energy(
        _series(spark, vals)).collect()}
    assert got[1].energy_share == pytest.approx(1.0, abs=1e-6)
    assert got[2].energy == 0.0 and got[3].energy == 0.0


def test_haar_energy_short_series_empty(spark):
    assert complexity.haar_energy(_series(spark, [1.0] * 7)).count() == 0


# ---------------------------------------------------------------------------
# corpus laws
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def docs(spark):
    rng = np.random.default_rng(5)
    # zipfian corpus: 200 docs, vocab drawn with p ∝ 1/rank
    vocab = [f"w{i}" for i in range(400)]
    p = 1.0 / np.arange(1, 401)
    p /= p.sum()
    rows = []
    for i in range(200):
        toks = rng.choice(vocab, size=40, p=p)
        rows.append((i, " ".join(toks)))
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_heaps_law_fit(docs):
    got = textops.heaps_law(docs).collect()[0]
    assert got.n_points == 200
    # sublinear vocab growth on zipfian text
    assert 0.2 < got.heaps_beta < 0.95
    assert got.heaps_k > 0


def test_heaps_law_matches_numpy(spark):
    rows = [(1, "a b c"), (2, "a b d"), (3, "e e e"), (4, "a")]
    got = textops.heaps_law(
        spark.createDataFrame(rows, "doc_id long, text string")
    ).collect()[0]
    cum_n = np.array([3, 6, 9, 10], dtype=float)
    cum_v = np.array([3, 4, 5, 5], dtype=float)
    slope, intercept = np.polyfit(np.log(cum_n), np.log(cum_v), 1)
    assert got.n_points == 4
    assert got.heaps_beta == pytest.approx(slope, abs=1e-4)
    assert got.heaps_k == pytest.approx(math.exp(intercept), abs=1e-3)


def test_zipf_slope_near_minus_one(docs):
    got = textops.zipf_slope(docs, min_freq=2).collect()[0]
    assert got.n_terms > 50
    assert -1.6 < got.zipf_slope < -0.5


def test_zipf_slope_matches_numpy(spark):
    # deterministic term counts: freqs 8,4,2 (min_freq=2 drops the hapax)
    text = " ".join(["x"] * 8 + ["y"] * 4 + ["z"] * 2 + ["q"])
    d = spark.createDataFrame([(1, text)], "doc_id long, text string")
    got = textops.zipf_slope(d, min_freq=2).collect()[0]
    slope, intercept = np.polyfit(
        np.log([1, 2, 3]), np.log([8, 4, 2]), 1
    )
    assert got.n_terms == 3
    assert got.zipf_slope == pytest.approx(slope, abs=1e-4)
    assert got.zipf_intercept == pytest.approx(intercept, abs=1e-4)


def test_zipf_top_k_cap(spark):
    # top_k=2 keeps only the two most frequent terms in the fit
    text = " ".join(["x"] * 8 + ["y"] * 4 + ["z"] * 2)
    d = spark.createDataFrame([(1, text)], "doc_id long, text string")
    got = textops.zipf_slope(d, min_freq=2, top_k=2).collect()[0]
    assert got.n_terms == 2
    slope, _ = np.polyfit(np.log([1, 2]), np.log([8, 4]), 1)
    assert got.zipf_slope == pytest.approx(slope, abs=1e-4)


# ---------------------------------------------------------------------------
# sample entropy
# ---------------------------------------------------------------------------

def _np_sampen(vals, r_frac=0.2):
    c = np.round(np.asarray(vals) * 100).astype(np.int64)
    n = len(c)
    var = (n * (c * c).sum() - c.sum() ** 2) / (n * n)
    r = int(np.floor(r_frac * np.sqrt(var)))
    # canonical index set: A and B over the same n-2 full-window templates
    tmpl = [(c[i], c[i + 1], c[i + 2]) for i in range(n - 2)]
    b_cnt = a_cnt = 0
    for i in range(len(tmpl)):
        for j in range(i + 1, len(tmpl)):
            a, b = tmpl[i], tmpl[j]
            if abs(a[0] - b[0]) <= r and abs(a[1] - b[1]) <= r:
                b_cnt += 1
                if abs(a[2] - b[2]) <= r:
                    a_cnt += 1
    return r, b_cnt, a_cnt


def test_sampen_matches_numpy(spark):
    rng = np.random.default_rng(9)
    vals = np.round(rng.uniform(0, 50, 20), 2)
    got = complexity.sample_entropy(_series(spark, vals)).collect()[0]
    r, b_cnt, a_cnt = _np_sampen(vals)
    assert got.r_cents == r
    assert got.b_count == b_cnt and got.a_count == a_cnt
    if a_cnt > 0:
        assert got.sampen == pytest.approx(-math.log(a_cnt / b_cnt), abs=1e-4)


def test_sampen_regular_lower_than_noise(spark):
    regular = [10.0, 20.0] * 12
    rng = np.random.default_rng(2)
    noise = np.round(rng.uniform(0, 40, 24), 2)
    df = _series(spark, regular, conv="reg").unionByName(
        _series(spark, noise, conv="noise"))
    got = {r.conv_id: r for r in complexity.sample_entropy(df).collect()}
    # perfect alternation: every template matches every same-parity
    # template → A/B high → sampen ~0; noise should be clearly higher
    assert got["reg"].sampen is not None
    if got.get("noise") is not None and got["noise"].sampen is not None:
        assert got["noise"].sampen > got["reg"].sampen


def test_sampen_constant_series(spark):
    # constant: r=0, all diffs 0 ≤ 0 → every pair matches → sampen = 0
    got = complexity.sample_entropy(_series(spark, [7.0] * 10)).collect()[0]
    assert got.sampen == 0.0


# ---------------------------------------------------------------------------
# markov entropy rate
# ---------------------------------------------------------------------------

def test_markov_entropy_rate_hand_computed(spark):
    from tsengine import temporal

    # stream over one conv: a b a b a c  → from a: {b:2, c:1}; from b: {a:2}
    seq = ["a", "b", "a", "b", "a", "c"]
    rows = [("c1", T0 + dt.timedelta(minutes=i), s, 1.0, i)
            for i, s in enumerate(seq)]
    df = spark.createDataFrame(
        rows,
        "conv_id string, ts timestamp, metric string, value double, event_id int",
    )
    got = {r.from_state: r for r in temporal.markov_entropy_rate(df).collect()}
    h_a = -(2 / 3 * math.log(2 / 3) + 1 / 3 * math.log(1 / 3))
    assert got["a"].n_from == 3 and got["b"].n_from == 2
    assert got["a"].h_cond == pytest.approx(h_a, abs=1e-4)
    assert got["b"].h_cond == 0.0  # deterministic successor
    rate = 3 / 5 * h_a + 2 / 5 * 0.0
    for r in got.values():
        assert r.entropy_rate == pytest.approx(rate, abs=1e-4)
        assert r.p_state == pytest.approx(r.n_from / 5, abs=1e-6)


def test_markov_entropy_deterministic_chain_is_zero(spark):
    from tsengine import temporal

    seq = ["x", "y", "x", "y", "x", "y"]
    rows = [("c1", T0 + dt.timedelta(minutes=i), s, 1.0, i)
            for i, s in enumerate(seq)]
    df = spark.createDataFrame(
        rows,
        "conv_id string, ts timestamp, metric string, value double, event_id int",
    )
    got = temporal.markov_entropy_rate(df).collect()
    assert all(r.entropy_rate == 0.0 for r in got)


# ---------------------------------------------------------------------------
# MMR re-rank (vecops) — numpy twin + diversity property
# ---------------------------------------------------------------------------

def _py_cos(a, b):
    # sequential-fold twin of vecops.dot/norm (NOT np.dot: same op order)
    dot = 0.0
    na = 0.0
    nb = 0.0
    for x, y in zip(a, b):
        dot = dot + x * y
    for x in a:
        na = na + x * x
    for y in b:
        nb = nb + y * y
    return dot / (math.sqrt(na) * math.sqrt(nb))


def test_mmr_matches_python_greedy(spark):
    from tsengine import vecops

    rng = np.random.default_rng(13)
    vecs = rng.normal(size=(30, 8)).astype(np.float64)
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(30)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    qv = [float(x) for x in vecs[0]]
    base = emb.where("vec_id != 0")
    got = vecops.mmr_rerank(base, qv, k=5, k_cand=10).collect()

    # python twin on the same rounded sims
    cand = sorted(
        ((i, _py_cos(vecs[i], qv)) for i in range(1, 30)),
        key=lambda t: (-t[1], t[0]),
    )[:10]
    simq = {i: round(s, 6) for i, s in cand}
    sim = {
        (i, j): round(_py_cos(vecs[i], vecs[j]), 6)
        for i in simq for j in simq if i != j
    }
    remaining = set(simq)
    first = max(remaining, key=lambda d: (simq[d], -d))
    sel = [(1, first, simq[first])]
    remaining.discard(first)
    while remaining and len(sel) < 5:
        best = None
        for d in remaining:
            score = 0.7 * simq[d] - 0.3 * max(sim[(d, s)] for _, s, _ in sel)
            if best is None or (score, -d) > (best[1], -best[0]):
                best = (d, score)
        sel.append((len(sel) + 1, best[0], best[1]))
        remaining.discard(best[0])

    assert [(r.sel_rank, r.vec_id) for r in got] == [
        (rk, v) for rk, v, _ in sel
    ]
    for r, (_, _, s) in zip(got, sel):
        assert r.mmr_score == pytest.approx(round(s + 1e-9, 5), abs=2e-5)


def test_mmr_diversifies_near_duplicates(spark):
    from tsengine import vecops

    # 3 near-identical highly-relevant vectors + spread-out others:
    # plain top-3 picks all three clones; MMR must skip at least one
    q = np.array([1.0, 0.0, 0.0, 0.0])
    clones = [q + np.array([0.0, eps, 0.0, 0.0]) for eps in (0.01, 0.02, 0.03)]
    others = [
        np.array([0.8, 0.6, 0.0, 0.0]),
        np.array([0.8, 0.0, 0.6, 0.0]),
        np.array([0.8, 0.0, 0.0, 0.6]),
    ]
    vecs = clones + others
    rows = [(i + 1, [float(x) for x in v]) for i, v in enumerate(vecs)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = vecops.mmr_rerank(
        emb, [float(x) for x in q], k=3, k_cand=6, lam=0.3, beta=0.7
    ).collect()
    picked = {r.vec_id for r in got}
    assert not {1, 2, 3}.issubset(picked)  # did not take all three clones
    assert got[0].vec_id == 1  # most relevant still first


# ---------------------------------------------------------------------------
# variance ratio
# ---------------------------------------------------------------------------

def _np_vr(vals, q):
    c = np.round(np.asarray(vals) * 100).astype(np.int64)
    d1 = np.diff(c, 1)
    dq = c[q:] - c[:-q]
    v1 = d1.var()  # population variance of 1-period increments
    vq = dq.var()
    return vq / (q * v1)


def test_variance_ratio_matches_numpy(spark):
    rng = np.random.default_rng(21)
    vals = np.round(rng.uniform(0, 100, 24), 2)
    got = {r["q"]: r for r in complexity.variance_ratio(
        _series(spark, vals)).collect()}
    for q in (2, 4):
        assert got[q].n_obs == 24
        assert got[q].vr == pytest.approx(_np_vr(vals, q), abs=2e-5)


def test_variance_ratio_random_walk_near_one(spark):
    rng = np.random.default_rng(4)
    walk = np.round(np.cumsum(rng.normal(0, 5, 800)) + 1000, 2)
    got = {r["q"]: r.vr for r in complexity.variance_ratio(
        _series(spark, walk)).collect()}
    assert got[2] == pytest.approx(1.0, abs=0.2)
    assert got[4] == pytest.approx(1.0, abs=0.3)


def test_variance_ratio_mean_reverting_below_one(spark):
    # strict alternation is maximal mean reversion: VR(2) ≈ 0
    vals = [10.0, 20.0] * 50
    got = {r["q"]: r.vr for r in complexity.variance_ratio(
        _series(spark, vals)).collect()}
    assert got[2] < 0.1


# ---------------------------------------------------------------------------
# turning points
# ---------------------------------------------------------------------------

def test_turning_points_hand_computed(spark):
    vals = [1.0, 3.0, 2.0, 4.0, 4.0, 5.0, 1.0]
    # interior: 3 (peak), 2 (trough), 4 (tie -> not strict), 4->5 rising
    # (no), 5 (peak): turns at idx1, idx2, idx5 = 3
    got = complexity.turning_points(_series(spark, vals)).collect()[0]
    assert got.n_obs == 7 and got.n_turns == 3
    mu = 2 * (7 - 2) / 3
    var = (16 * 7 - 29) / 90
    assert got.turns_z == pytest.approx((3 - mu) / math.sqrt(var), abs=1e-4)


def test_turning_points_monotone_zero_turns(spark):
    got = complexity.turning_points(_series(spark, range(12))).collect()[0]
    assert got.n_turns == 0
    assert got.turns_z < -2.5


# ---------------------------------------------------------------------------
# pacf
# ---------------------------------------------------------------------------

def _np_pacf(vals):
    c = np.round(np.asarray(vals) * 100).astype(np.int64)
    n = len(c)
    cc = n * c - c.sum()
    a0 = float((cc * cc).sum())
    r = [float((cc[:-k] * cc[k:]).sum()) / a0 for k in (1, 2, 3)]
    r1, r2, r3 = r
    phi22 = (r2 - r1 * r1) / (1 - r1 * r1)
    phi21 = r1 * (1 - phi22)
    phi33 = (r3 - phi21 * r2 - phi22 * r1) / (1 - phi21 * r1 - phi22 * r2)
    return r1, phi22, phi33


def test_pacf_matches_numpy(spark):
    rng = np.random.default_rng(17)
    vals = np.round(rng.uniform(0, 100, 24), 2)
    got = complexity.pacf_yule_walker(_series(spark, vals)).collect()[0]
    p1, p2, p3 = _np_pacf(vals)
    assert got.n_obs == 24
    assert got.pacf1 == pytest.approx(p1, abs=2e-5)
    assert got.pacf2 == pytest.approx(p2, abs=2e-5)
    assert got.pacf3 == pytest.approx(p3, abs=2e-5)


def test_pacf_ar1_cuts_off_after_lag1(spark):
    # AR(1) with phi=0.8: pacf1 ≈ 0.8, pacf2/pacf3 ≈ 0
    rng = np.random.default_rng(23)
    x = np.zeros(600)
    for i in range(1, 600):
        x[i] = 0.8 * x[i - 1] + rng.normal(0, 1)
    vals = np.round(x + 100, 2)
    got = complexity.pacf_yule_walker(_series(spark, vals)).collect()[0]
    assert got.pacf1 == pytest.approx(0.8, abs=0.12)
    assert abs(got.pacf2) < 0.15 and abs(got.pacf3) < 0.15


# ---------------------------------------------------------------------------
# JS divergence by source
# ---------------------------------------------------------------------------

def test_js_divergence_hand_computed(spark):
    rows = [
        (1, "a a b", "s1"),
        (2, "a b b c", "s2"),
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string, source string")
    got = {r.source: r for r in textops.js_divergence_by_source(d).collect()}
    # corpus: a:3 b:3 c:1 of 7
    corpus = {"a": 3 / 7, "b": 3 / 7, "c": 1 / 7}
    def jsd(p):
        t = 0.0
        for term, q in corpus.items():
            pp = p.get(term, 0.0)
            m = (pp + q) / 2
            if pp > 0:
                t += 0.5 * pp * math.log(pp / m)
            t += 0.5 * q * math.log(q / m)
        return t
    p1 = {"a": 2 / 3, "b": 1 / 3}
    p2 = {"a": 1 / 4, "b": 2 / 4, "c": 1 / 4}
    assert got["s1"].n_tokens == 3 and got["s2"].n_tokens == 4
    assert got["s1"].jsd == pytest.approx(jsd(p1), abs=2e-5)
    assert got["s2"].jsd == pytest.approx(jsd(p2), abs=2e-5)
    for r in got.values():
        assert 0 <= r.jsd_norm <= 1


def test_js_divergence_identical_source_is_zero(spark):
    rows = [(1, "x y z", "only")]
    d = spark.createDataFrame(rows, "doc_id long, text string, source string")
    got = textops.js_divergence_by_source(d).collect()[0]
    assert got.jsd == 0.0  # the single source IS the corpus


# ---------------------------------------------------------------------------
# seasonal strength / volume gini / mean excess
# ---------------------------------------------------------------------------

def _series_hourly(spark, vals, conv="c1", metric="m"):
    rows = [
        (conv, T0 + dt.timedelta(hours=i), metric, float(v), i)
        for i, v in enumerate(vals)
    ]
    return spark.createDataFrame(
        rows, "conv_id string, ts timestamp, metric string, value double, event_id int"
    )


def test_seasonal_strength_pure_hourly_signal(spark):
    # value is a pure function of hour-of-day → within-group SS = 0 →
    # strength = 1
    vals = [float(10 + (i % 24)) for i in range(96)]
    got = complexity.seasonal_strength(
        _series_hourly(spark, vals)).collect()[0]
    assert got.n_obs == 96 and got.n_hours == 24
    assert got.seasonal_strength == pytest.approx(1.0, abs=1e-6)


def test_seasonal_strength_matches_numpy(spark):
    rng = np.random.default_rng(31)
    vals = np.round(rng.uniform(0, 100, 96), 2)
    got = complexity.seasonal_strength(
        _series_hourly(spark, vals)).collect()[0]
    c = np.round(np.asarray(vals) * 100).astype(np.int64)
    hod = np.arange(96) % 24
    sst = c.var() * len(c)
    ssw = sum(c[hod == h].var() * (hod == h).sum() for h in range(24))
    assert got.seasonal_strength == pytest.approx(1 - ssw / sst, abs=2e-5)


def test_volume_gini_uniform_is_low_concentrated_high(spark):
    rows = []
    # metric "flat": 10 convs × 5 events; metric "skew": one conv has 91,
    # nine have 1
    for cv in range(10):
        for i in range(5):
            rows.append((f"c{cv}", T0, "flat", 1.0, cv * 100 + i))
        n = 91 if cv == 0 else 1
        for i in range(n):
            rows.append((f"c{cv}", T0, "skew", 1.0, cv * 1000 + i))
    df = spark.createDataFrame(
        rows, "conv_id string, ts timestamp, metric string, value double, event_id int")
    got = {r.metric: r for r in complexity.volume_gini(df).collect()}
    assert got["flat"].gini == pytest.approx(0.0, abs=1e-6)
    assert got["skew"].gini > 0.7
    # hand formula for the skew case
    x = sorted([1] * 9 + [91])
    n, xt = 10, 100
    rx = sum((i + 1) * v for i, v in enumerate(x))
    expect = 2 * rx / (n * xt) - (n + 1) / n
    assert got["skew"].gini == pytest.approx(expect, abs=1e-5)


def test_mean_excess_hand_computed(spark):
    vals = [float(i) for i in range(1, 21)]  # 1..20
    got = complexity.mean_excess(_series(spark, vals), p=0.9).collect()[0]
    u = np.quantile(np.array(vals), 0.9)  # linear interpolation, = 18.1
    exceed = [v for v in vals if v > u]
    assert got.threshold == pytest.approx(u, abs=1e-5)
    assert got.n_exceed == len(exceed)
    assert got.mean_excess == pytest.approx(
        sum(v - u for v in exceed) / len(exceed), abs=1e-4)


def test_mean_excess_min_n_gate(spark):
    assert complexity.mean_excess(_series(spark, [1.0] * 5), p=0.9).count() == 0


# ---------------------------------------------------------------------------
# ljung-box / metric correlation / hill tail
# ---------------------------------------------------------------------------

def test_ljung_box_matches_numpy(spark):
    rng = np.random.default_rng(41)
    vals = np.round(rng.uniform(0, 100, 24), 2)
    got = complexity.ljung_box(_series(spark, vals)).collect()[0]
    c = np.round(np.asarray(vals) * 100).astype(np.int64)
    n = len(c)
    cc = n * c - c.sum()
    a0 = float((cc * cc).sum())
    q = 0.0
    for k in (1, 2, 3):
        rk = float((cc[:-k] * cc[k:]).sum()) / a0
        q += rk * rk / (n - k)
    q *= n * (n + 2)
    assert got.n_obs == 24 and got.n_lags == 3
    assert got.lb_q == pytest.approx(q, abs=2e-4)


def test_ljung_box_ar1_large_q(spark):
    rng = np.random.default_rng(42)
    x = np.zeros(200)
    for i in range(1, 200):
        x[i] = 0.9 * x[i - 1] + rng.normal(0, 1)
    got = complexity.ljung_box(
        _series(spark, np.round(x + 50, 2))).collect()[0]
    # chi2(3) 99th percentile ≈ 11.3; strong AR(1) must blow far past it
    assert got.lb_q > 50


def test_metric_correlation_hand_computed(spark):
    rows = []
    # conv totals: metric u = [1,2,3], metric v = 2*u (perfect corr),
    # metric w anti-correlated
    for cv, (u, v, w) in enumerate([(1, 2, 30), (2, 4, 20), (3, 6, 10)]):
        for metric, tot in (("u", u), ("v", v), ("w", w)):
            rows.append((f"c{cv}", T0, metric, float(tot), cv * 10))
    df = spark.createDataFrame(
        rows, "conv_id string, ts timestamp, metric string, value double, event_id int")
    got = {(r.metric_a, r.metric_b): r.corr
           for r in complexity.metric_correlation(df).collect()}
    assert got[("u", "v")] == pytest.approx(1.0, abs=1e-6)
    assert got[("u", "w")] == pytest.approx(-1.0, abs=1e-6)
    assert got[("v", "w")] == pytest.approx(-1.0, abs=1e-6)


def test_hill_tail_matches_numpy(spark):
    rng = np.random.default_rng(43)
    vals = np.round(rng.pareto(2.0, 40) * 10 + 0.01, 2)
    got = complexity.hill_tail(_series(spark, vals)).collect()[0]
    c = np.sort(np.round(np.asarray(vals) * 100).astype(np.int64))[::-1]
    n = len(c)
    k = int(np.floor(0.25 * n))
    h = np.log(c[:k].astype(float)).mean() - math.log(float(c[k]))
    assert got.n_pos == n and got.k == k
    assert got.hill_h == pytest.approx(h, abs=2e-5)
    if h > 0:
        assert got.tail_alpha == pytest.approx(1 / h, abs=2e-4)


def test_hill_tail_pareto_recovers_alpha(spark):
    rng = np.random.default_rng(44)
    vals = np.round((1 + rng.pareto(1.5, 2000)) * 100, 2)
    got = complexity.hill_tail(_series(spark, vals)).collect()[0]
    # Hill on a Pareto(1.5) tail should land near 1.5
    assert got.tail_alpha == pytest.approx(1.5, rel=0.25)


# ---------------------------------------------------------------------------
# flow pagerank (temporal)
# ---------------------------------------------------------------------------

def _evstream(spark, seqs):
    rows = []
    eid = 0
    for conv, seq in seqs.items():
        for i, s in enumerate(seq):
            rows.append((conv, T0 + dt.timedelta(minutes=i), s, 1.0, eid))
            eid += 1
    return spark.createDataFrame(
        rows,
        "conv_id string, ts timestamp, metric string, value double, event_id int",
    )


def test_flow_pagerank_matches_numpy(spark):
    from tsengine import temporal

    seqs = {
        "c1": ["a", "b", "c", "a", "b"],
        "c2": ["b", "c", "c", "d"],
        "c3": ["a", "c", "d", "a"],
    }
    got = {r.state: r.pagerank
           for r in temporal.flow_pagerank(_evstream(spark, seqs)).collect()}

    # numpy twin
    from collections import Counter
    edges = Counter()
    for seq in seqs.values():
        for u, v in zip(seq, seq[1:]):
            edges[(u, v)] += 1
    states = sorted({s for seq in seqs.values() for s in seq})
    idx = {s: i for i, s in enumerate(states)}
    n = len(states)
    out_tot = Counter()
    for (u, _), c in edges.items():
        out_tot[u] += c
    P = np.zeros((n, n))
    for (u, v), c in edges.items():
        P[idx[u], idx[v]] = c / out_tot[u]
    r = np.full(n, 1 / n)
    dangling = [i for i, s in enumerate(states) if out_tot[s] == 0]
    for _ in range(10):
        mass = r[dangling].sum()
        r = 0.15 / n + 0.85 * (P.T @ r + mass / n)
    for s in states:
        assert got[s] == pytest.approx(r[idx[s]], abs=2e-6), s


def test_flow_pagerank_sums_to_one_and_ranks_sink(spark):
    from tsengine import temporal

    # every conversation funnels into "end": it must out-rank the sources
    seqs = {f"c{i}": ["a", "b", "end"] for i in range(5)}
    got = {r.state: r.pagerank
           for r in temporal.flow_pagerank(_evstream(spark, seqs)).collect()}
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-4)
    assert got["end"] > got["a"] and got["end"] > got["b"]


@pytest.mark.parametrize("n_iter", [0, -3])
def test_flow_pagerank_no_iterations_is_uniform(spark, n_iter):
    from tsengine import temporal

    # no power steps: every state keeps the uniform start rank 1/|states|
    seqs = {"c1": ["a", "b", "c"], "c2": ["a", "c", "c"]}
    rows = temporal.flow_pagerank(_evstream(spark, seqs), n_iter=n_iter).collect()
    assert {r.state: r.pagerank for r in rows} == pytest.approx(
        {s: round(1 / 3, 6) for s in "abc"})
    assert {r.n_iter for r in rows} == {n_iter}


# ---------------------------------------------------------------------------
# forecast metrics / conformal interval (temporal)
# ---------------------------------------------------------------------------

def _np_holt(vals, alpha=0.5, beta=0.25):
    l, b = float(vals[0]), 0.0
    fc = []
    for y in vals[1:]:
        fc.append(l + b)
        l_new = alpha * y + (1 - alpha) * (l + b)
        b = beta * (l_new - l) + (1 - beta) * b
        l = l_new
    fc.append(l + b)  # forecast of the unseen next step
    return fc


def test_forecast_metrics_matches_numpy(spark):
    from tsengine import temporal

    rng = np.random.default_rng(51)
    vals = np.round(rng.uniform(10, 90, 20), 2)
    got = temporal.forecast_metrics(_series(spark, vals)).collect()[0]
    fc = _np_holt(vals)[:-1]
    e = np.asarray(vals[1:]) - np.asarray(fc)
    assert got.n_eval == 19
    assert got.mae == pytest.approx(np.abs(e).mean(), abs=2e-5)
    assert got.rmse == pytest.approx(np.sqrt((e * e).mean()), abs=2e-5)
    assert got.bias == pytest.approx(e.mean(), abs=2e-5)
    assert got.mape == pytest.approx(
        (np.abs(e) / np.abs(vals[1:])).mean(), abs=2e-5)


def test_forecast_metrics_perfect_on_linear_series(spark):
    from tsengine import temporal

    # a perfectly linear series: Holt converges, errors shrink toward 0
    vals = [10.0 + 2.0 * i for i in range(40)]
    got = temporal.forecast_metrics(_series(spark, vals)).collect()[0]
    assert got.mae < 1.0  # converged well under the slope magnitude
    rng = np.random.default_rng(52)
    noisy = np.round(np.asarray(vals) + rng.normal(0, 5, 40), 2)
    got_n = temporal.forecast_metrics(_series(spark, noisy)).collect()[0]
    assert got_n.mae > got.mae  # noise must hurt


def test_conformal_interval_properties(spark):
    from tsengine import temporal

    rng = np.random.default_rng(53)
    vals = np.round(rng.uniform(10, 90, 30), 2)
    got = temporal.conformal_interval(_series(spark, vals)).collect()[0]
    fc = _np_holt(vals)
    e = np.abs(np.asarray(vals[1:]) - np.asarray(fc[:-1]))
    qhat = np.quantile(e, 0.9)
    assert got.n_eval == 29
    assert got.q_err == pytest.approx(qhat, abs=2e-4)
    assert got.pi_lo == pytest.approx(fc[-1] - qhat, abs=2e-4)
    assert got.pi_hi == pytest.approx(fc[-1] + qhat, abs=2e-4)
    # empirical coverage of an interpolated q90 over 29 points
    assert 0.85 <= got.coverage <= 0.97
    assert got.pi_lo < got.pi_hi


# ---------------------------------------------------------------------------
# bigram cross-entropy (textops)
# ---------------------------------------------------------------------------

def test_bigram_xent_hand_computed(spark):
    rows = [(1, "a b a b"), (2, "a b c")]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in textops.bigram_cross_entropy(d).collect()}
    # corpus bigrams: (a,b)x2? doc1: ab, ba, ab -> (a,b):2 (b,a):1
    # doc2: ab, bc -> (a,b):3 total, (b,c):1
    c2 = {("a", "b"): 3, ("b", "a"): 1, ("b", "c"): 1}
    c1 = {"a": 3, "b": 2}
    V = 3
    def lp(u, v):
        return math.log((c2[(u, v)] + 1) / (c1[u] + V))
    x1 = -(lp("a", "b") + lp("b", "a") + lp("a", "b")) / 3
    x2 = -(lp("a", "b") + lp("b", "c")) / 2
    assert got[1].n_bigrams == 3 and got[2].n_bigrams == 2
    assert got[1].xent == pytest.approx(x1, abs=2e-5)
    assert got[2].xent == pytest.approx(x2, abs=2e-5)
    assert got[1].ppl == pytest.approx(math.exp(x1), abs=2e-4)


def test_bigram_xent_flags_shuffled_text(spark):
    # repetitive natural-ish docs + one with the same words shuffled into
    # improbable transitions: the shuffled doc must score higher
    rng = np.random.default_rng(61)
    base = "the quick brown fox jumps over the lazy dog"
    rows = [(i, base) for i in range(20)]
    toks = base.split()
    rng.shuffle(toks)
    rows.append((99, " ".join(toks)))
    d = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r.xent for r in textops.bigram_cross_entropy(d).collect()}
    assert got[99] > got[0]


# ---------------------------------------------------------------------------
# mann-kendall
# ---------------------------------------------------------------------------

def _np_mk(vals):
    c = np.round(np.asarray(vals) * 100).astype(np.int64)
    n = len(c)
    s = 0
    for i in range(n):
        for j in range(i + 1, n):
            s += int(np.sign(c[j] - c[i]))
    _, counts = np.unique(c, return_counts=True)
    tie = sum(int(t) * (t - 1) * (2 * t + 5) for t in counts if t > 1)
    var = (n * (n - 1) * (2 * n + 5) - tie) / 18
    if s > 0:
        z = (s - 1) / math.sqrt(var)
    elif s < 0:
        z = (s + 1) / math.sqrt(var)
    else:
        z = 0.0
    return s, z


def test_mann_kendall_matches_numpy(spark):
    rng = np.random.default_rng(71)
    vals = np.round(rng.uniform(0, 50, 20), 2)
    vals[5] = vals[2]  # force a tie so the correction is exercised
    got = complexity.mann_kendall(_series(spark, vals)).collect()[0]
    s, z = _np_mk(vals)
    assert got.n_obs == 20
    assert got.mk_s == s
    assert got.mk_z == pytest.approx(z, abs=2e-5)


def test_mann_kendall_monotone_vs_flat(spark):
    up = complexity.mann_kendall(_series(spark, range(15))).collect()[0]
    assert up.mk_s == 15 * 14 // 2  # every pair increasing
    assert up.mk_z > 3
    flat = complexity.mann_kendall(_series(spark, [5.0] * 15)).collect()
    assert flat == []  # all ties -> zero variance -> filtered


def test_mann_kendall_many_series_batch_pass(spark):
    # many series through the sorted-partition batch path: every series'
    # (S, z) must match the per-series numpy reference, short series
    # (n < min_n) must drop, and series identity must not bleed across
    # group boundaries within a batch
    rng = np.random.default_rng(72)
    frames, expect = [], {}
    for i in range(40):
        n = int(rng.integers(3, 30))
        vals = np.round(rng.uniform(0, 50, n), 2)
        conv, metric = f"c{i % 7}", f"m{i}"
        frames.append(_series(spark, vals, conv=conv, metric=metric))
        if n >= 8:
            s, z = _np_mk(vals)
            var_ok = (n * (n - 1) * (2 * n + 5)) > sum(
                int(t) * (t - 1) * (2 * t + 5)
                for t in np.unique(
                    np.round(vals * 100).astype(np.int64), return_counts=True
                )[1] if t > 1
            )
            if var_ok:
                expect[(conv, metric)] = (n, s, z)
    df = frames[0]
    for f in frames[1:]:
        df = df.unionByName(f)
    got = {(r.conv_id, r.metric): (r.n_obs, r.mk_s, r.mk_z)
           for r in complexity.mann_kendall(df).collect()}
    assert set(got) == set(expect)
    for k, (n, s, z) in expect.items():
        gn, gs, gz = got[k]
        assert gn == n and gs == s, k
        assert gz == pytest.approx(z, abs=2e-5), k


_B = complexity.MK_BLOCK


@pytest.mark.parametrize("n", [1, 2, _B - 1, _B, _B + 1, 3 * _B + 5])
def test_mann_kendall_s_blockwise_equals_dense(n):
    # tie-heavy integers: 7 distinct values, so most pairs are ties
    x = np.random.default_rng(n).integers(0, 7, n).astype(np.int64)
    dense = int(np.triu(np.sign(x[None, :] - x[:, None]), 1).sum())
    assert complexity.mann_kendall_s(x) == dense


def test_mann_kendall_s_memory_is_blockwise():
    # the dense n×n sign matrix plus its triu copy is ~256 MB at n=4000
    import tracemalloc

    x = np.random.default_rng(3).integers(-500, 500, 4000).astype(np.int64)
    tracemalloc.start()
    try:
        complexity.mann_kendall_s(x)
        _, peak = tracemalloc.get_traced_memory()
    finally:
        tracemalloc.stop()
    assert peak < 16 * 1024 * 1024, peak


def test_mann_kendall_rejects_nulls(spark):
    rows = [("c", T0, "m", None, 0)] + [
        ("c", T0 + dt.timedelta(minutes=i), "m", float(i), i)
        for i in range(1, 10)
    ]
    df = spark.createDataFrame(
        rows,
        "conv_id string, ts timestamp, metric string, value double, event_id int",
    )
    with pytest.raises(Exception, match="non-null"):
        complexity.mann_kendall(df).collect()


# ---------------------------------------------------------------------------
# kpss / embedding dim stats
# ---------------------------------------------------------------------------

def test_kpss_matches_numpy(spark):
    rng = np.random.default_rng(81)
    vals = np.round(rng.uniform(0, 50, 24), 2)
    got = complexity.kpss_level(_series(spark, vals)).collect()[0]
    c = np.round(np.asarray(vals) * 100).astype(np.int64)
    n = len(c)
    cc = n * c - c.sum()
    cs = np.cumsum(cc)
    eta = float((cs * cs).sum()) / (n * float((cc * cc).sum()))
    assert got.n_obs == n
    assert got.kpss_eta == pytest.approx(eta, abs=2e-5)


def test_kpss_level_shift_scores_high(spark):
    rng = np.random.default_rng(82)
    stat = np.round(50 + rng.normal(0, 1, 200), 2)
    shift = stat.copy()
    shift[100:] += 40  # broken level
    e_stat = complexity.kpss_level(_series(spark, stat)).collect()[0].kpss_eta
    e_shift = complexity.kpss_level(_series(spark, shift)).collect()[0].kpss_eta
    assert e_shift > 5 * e_stat


def test_dim_stats_matches_numpy(spark):
    from tsengine import vecops

    rng = np.random.default_rng(83)
    X = rng.normal(size=(100, 8)).astype(np.float64)
    X[:, 3] *= 5  # one dominant dimension
    emb = spark.createDataFrame(
        [(i, [float(v) for v in X[i]]) for i in range(100)],
        "vec_id long, embedding array<double>")
    got = {r.dim_idx: r for r in vecops.dim_stats(emb).collect()}
    v = X.var(axis=0)
    eff = (v.sum() ** 2) / (v * v).sum()
    for d in range(8):
        assert got[d].n_vecs == 100
        assert got[d].dim_mean == pytest.approx(X[:, d].mean(), abs=2e-6)
        assert got[d].dim_var == pytest.approx(v[d], abs=2e-5)
        assert got[d].eff_dim == pytest.approx(eff, abs=2e-3)
    # participation ratio must be well below 8 with a dominant dim
    assert got[0].eff_dim < 6.0


def test_dim_stats_isotropic_eff_dim_near_d(spark):
    from tsengine import vecops

    rng = np.random.default_rng(84)
    X = rng.normal(size=(400, 8))
    emb = spark.createDataFrame(
        [(i, [float(v) for v in X[i]]) for i in range(400)],
        "vec_id long, embedding array<double>")
    got = vecops.dim_stats(emb).collect()[0]
    assert got.eff_dim > 7.0  # isotropic gaussian: eff_dim ≈ d


# ---------------------------------------------------------------------------
# excursion stats
# ---------------------------------------------------------------------------

def test_excursion_hand_computed(spark):
    # peaks at 10 (rn1) and 12 (rn5); deepest drop 12->3; underwater
    # spell after rn5 lasts 3 rows
    vals = [10.0, 8.0, 9.0, 7.0, 12.0, 5.0, 4.0, 3.0]
    got = complexity.excursion_stats(_series(spark, vals)).collect()[0]
    assert got.n_obs == 8
    assert got.max_drawdown == pytest.approx(9.0, abs=1e-6)  # 12 - 3
    assert got.max_underwater == 3
    assert got.crest == pytest.approx(12.0 * 8 / sum(vals), abs=1e-5)


def test_excursion_monotone_no_drawdown(spark):
    got = complexity.excursion_stats(
        _series(spark, [1.0, 2.0, 3.0, 4.0, 5.0])).collect()[0]
    assert got.max_drawdown == 0.0
    assert got.max_underwater == 0


def test_excursion_matches_numpy(spark):
    rng = np.random.default_rng(91)
    vals = np.round(rng.uniform(1, 99, 24), 2)
    got = complexity.excursion_stats(_series(spark, vals)).collect()[0]
    c = np.round(np.asarray(vals) * 100).astype(np.int64)
    runmax = np.maximum.accumulate(c)
    dd = (runmax - c).max() / 100.0
    peaks = np.where(c == runmax)[0]
    under = max(
        (i - peaks[peaks <= i].max()) for i in range(len(c))
    )
    assert got.max_drawdown == pytest.approx(dd, abs=1e-6)
    assert got.max_underwater == under


# ---------------------------------------------------------------------------
# records test / source vocab overlap
# ---------------------------------------------------------------------------

def test_records_hand_computed(spark):
    vals = [5.0, 3.0, 7.0, 7.0, 9.0, 2.0, 10.0, 1.0]
    # records (strict): 5 (first), 7, 9, 10 -> 4
    got = complexity.records_test(_series(spark, vals)).collect()[0]
    n = len(vals)
    h1 = sum(1 / k for k in range(1, n + 1))
    h2 = sum(1 / k ** 2 for k in range(1, n + 1))
    assert got.n_records == 4
    assert got.records_z == pytest.approx(
        (4 - h1) / math.sqrt(h1 - h2), abs=2e-5)


def test_records_increasing_series_max_records(spark):
    got = complexity.records_test(_series(spark, range(12))).collect()[0]
    assert got.n_records == 12  # every point a record
    assert got.records_z > 3


def test_source_overlap_hand_computed(spark):
    rows = [
        (1, "a b c", "s1"),
        (2, "b c d", "s2"),
        (3, "x y", "s3"),
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string, source string")
    got = {(r.src_a, r.src_b): r
           for r in textops.source_vocab_overlap(d).collect()}
    r12 = got[("s1", "s2")]
    assert r12.v_a == 3 and r12.v_b == 3 and r12.n_inter == 2
    assert r12.jaccard == pytest.approx(2 / 4, abs=1e-6)
    # disjoint vocabularies never emit a pair row
    assert ("s1", "s3") not in got and ("s2", "s3") not in got


# ---------------------------------------------------------------------------
# KS halves drift
# ---------------------------------------------------------------------------

def _np_ks(vals):
    c = np.round(np.asarray(vals) * 100).astype(np.int64)
    n = len(c)
    n1 = n // 2
    a, b = c[:n1], c[n1:]
    grid = np.unique(c)
    f1 = np.searchsorted(np.sort(a), grid, side="right") / len(a)
    f2 = np.searchsorted(np.sort(b), grid, side="right") / len(b)
    return np.abs(f1 - f2).max()


def test_ks_halves_matches_numpy(spark):
    rng = np.random.default_rng(101)
    vals = np.round(rng.uniform(0, 50, 24), 2)
    got = complexity.ks_halves(_series(spark, vals)).collect()[0]
    d = _np_ks(vals)
    n1, n2 = 12, 12
    assert got.n_obs == 24
    assert got.ks_d == pytest.approx(d, abs=2e-6)
    assert got.ks_lambda == pytest.approx(
        d * math.sqrt(n1 * n2 / (n1 + n2)), abs=2e-5)


def test_ks_halves_detects_level_shift(spark):
    rng = np.random.default_rng(102)
    stat = np.round(50 + rng.normal(0, 2, 40), 2)
    shifted = stat.copy()
    shifted[20:] += 30
    d_stat = complexity.ks_halves(_series(spark, stat)).collect()[0].ks_d
    d_shift = complexity.ks_halves(_series(spark, shifted)).collect()[0].ks_d
    assert d_shift == pytest.approx(1.0, abs=1e-6)  # disjoint halves
    assert d_stat < 0.5


def test_ks_halves_identical_halves_zero(spark):
    vals = [1.0, 2.0, 3.0, 4.0] * 2  # second half repeats the first
    got = complexity.ks_halves(_series(spark, vals)).collect()[0]
    assert got.ks_d == 0.0


# ---------------------------------------------------------------------------
# ANN recall self-evaluation (vecops)
# ---------------------------------------------------------------------------

def test_ann_recall_eval_bounds_and_twin(spark):
    from tsengine import vecops

    rng = np.random.default_rng(111)
    vecs = rng.normal(size=(60, 16)).astype(np.float64)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(60)],
        "vec_id long, embedding array<double>")
    qv = [float(x) for x in vecs[0]]
    got = vecops.ann_recall_eval(emb, qv, k=10, n_bits=4).collect()[0]
    assert got.k == 10
    assert 0 <= got.n_hit <= min(10, got.n_lsh)
    assert got.recall == pytest.approx(got.n_hit / 10, abs=1e-6)
    # python twin: brute top-10 vs lsh top-10 with the same bucket fn
    def cos(a, b):
        return _py_cos(a, b)
    brute = sorted(
        ((i, cos(vecs[i], qv)) for i in range(1, 60)),
        key=lambda t: (-t[1], t[0]))[:10]
    qb = vecops.query_bucket(qv, n_bits=4)
    def bucket(v):
        return sum(
            (1 << j) if v[j] > v[(j + 13) % 16] else 0 for j in range(4))
    lsh = sorted(
        ((i, cos(vecs[i], qv)) for i in range(1, 60)
         if bucket(vecs[i]) == qb),
        key=lambda t: (-t[1], t[0]))[:10]
    hits = {i for i, _ in brute} & {i for i, _ in lsh}
    assert got.n_lsh == len(lsh)
    assert got.n_hit == len(hits)


def test_ann_recall_multiprobe_would_help(spark):
    # recall with the pruned path is definitionally <= 1; sanity that the
    # operator reports a sane fraction on gaussian data
    from tsengine import vecops

    rng = np.random.default_rng(112)
    vecs = rng.normal(size=(200, 16)).astype(np.float64)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(200)],
        "vec_id long, embedding array<double>")
    got = vecops.ann_recall_eval(
        emb, [float(x) for x in vecs[0]], k=10, n_bits=4).collect()[0]
    assert 0.0 <= got.recall <= 1.0


# ---------------------------------------------------------------------------
# cox-stuart / robust stats / cusum of squares
# ---------------------------------------------------------------------------

def test_cox_stuart_hand_computed(spark):
    vals = [1.0, 2.0, 3.0, 4.0, 10.0, 11.0, 12.0, 13.0]
    # half=4; pairs (1,10),(2,11),(3,12),(4,13) -> all up
    got = complexity.cox_stuart(_series(spark, vals)).collect()[0]
    assert got.n_up == 4 and got.n_down == 0
    z = (4 - 2 - 0.5) / (math.sqrt(4) / 2)
    assert got.cs_z == pytest.approx(z, abs=1e-4)


def test_cox_stuart_odd_length_and_ties(spark):
    vals = [5.0, 1.0, 9.0, 5.0, 2.0, 9.0, 7.0, 8.0, 6.0]
    # n=9, half=4: pairs (x1,x5),(x2,x6),(x3,x7),(x4,x8):
    # (5,2)down (1,9)up (9,7)down (5,8)up -> 2 up, 2 down, z=0
    got = complexity.cox_stuart(_series(spark, vals)).collect()[0]
    assert got.n_up == 2 and got.n_down == 2
    assert got.cs_z == pytest.approx(0.0, abs=1e-6)


def test_robust_stats_matches_numpy(spark):
    rng = np.random.default_rng(121)
    vals = np.round(rng.uniform(0, 100, 21), 2)
    got = complexity.robust_stats(_series(spark, vals)).collect()[0]
    q1, q2, q3 = np.quantile(np.asarray(vals), [0.25, 0.5, 0.75])
    assert got.median == pytest.approx(q2, abs=1e-4)
    assert got.iqr == pytest.approx(q3 - q1, abs=1e-4)
    assert got.midhinge == pytest.approx((q1 + q3) / 2, abs=1e-4)
    assert got.bowley_skew == pytest.approx(
        (q3 + q1 - 2 * q2) / (q3 - q1), abs=1e-4)


def test_robust_stats_immune_to_one_spike(spark):
    base = [10.0] * 10 + [11.0] * 10
    spiked = base + [10000.0]
    m1 = complexity.robust_stats(_series(spark, base)).collect()[0]
    m2 = complexity.robust_stats(_series(spark, spiked)).collect()[0]
    assert abs(m1.median - m2.median) < 1.0  # the spike barely moves it


def test_cusum_squares_variance_shift(spark):
    rng = np.random.default_rng(122)
    quiet = rng.normal(0, 1, 50)
    loud = rng.normal(0, 8, 50)
    vals = np.round(np.concatenate([quiet, loud]) + 100, 2)
    got = complexity.cusum_squares(_series(spark, vals)).collect()[0]
    # the argmax should sit near the variance break at k=50
    assert 35 <= got.argmax_k <= 65
    flat = np.round(rng.normal(0, 1, 100) + 100, 2)
    got_flat = complexity.cusum_squares(_series(spark, flat)).collect()[0]
    assert got.cusum_sq_d > 2 * got_flat.cusum_sq_d


def test_cusum_squares_matches_numpy(spark):
    rng = np.random.default_rng(123)
    vals = np.round(rng.uniform(1, 50, 24), 2)
    got = complexity.cusum_squares(_series(spark, vals)).collect()[0]
    c = np.round(np.asarray(vals) * 100).astype(np.int64)
    n = len(c)
    cs2 = np.cumsum(c * c)
    dint = np.abs(n * cs2 - np.arange(1, n + 1) * cs2[-1])
    k = int(np.argmax(dint)) + 1  # earliest max (np.argmax takes first)
    assert got.argmax_k == k
    assert got.cusum_sq_d == pytest.approx(
        dint.max() / (n * cs2[-1]), abs=2e-6)


# ---------------------------------------------------------------------------
# spearman trend
# ---------------------------------------------------------------------------

def test_spearman_matches_scipy_style(spark):
    rng = np.random.default_rng(131)
    vals = np.round(rng.uniform(0, 50, 20), 2)
    vals[7] = vals[3]  # force a tie
    got = complexity.spearman_trend(_series(spark, vals)).collect()[0]
    # numpy twin via average ranks
    c = np.round(np.asarray(vals) * 100).astype(np.int64)
    order = np.argsort(c, kind="stable")
    ranks = np.empty(len(c), dtype=float)
    i = 0
    sc = c[order]
    while i < len(sc):
        j = i
        while j < len(sc) and sc[j] == sc[i]:
            j += 1
        ranks[order[i:j]] = (i + j + 1) / 2  # average 1-based rank
        i = j
    x = np.arange(1, len(c) + 1)
    rho = np.corrcoef(x, ranks)[0, 1]
    assert got.spearman_rho == pytest.approx(rho, abs=2e-5)


def test_spearman_monotone_is_one(spark):
    got = complexity.spearman_trend(_series(spark, range(12))).collect()[0]
    assert got.spearman_rho == pytest.approx(1.0, abs=1e-6)
    got_d = complexity.spearman_trend(
        _series(spark, range(12, 0, -1))).collect()[0]
    assert got_d.spearman_rho == pytest.approx(-1.0, abs=1e-6)
