"""Squeeze end-to-end on instances with injected causes, plus unit checks
of the driver-side 1-D machinery."""
import itertools

import numpy as np
import pandas as pd

from riskloc_spark.operators.squeeze import (
    SqueezeOptions,
    _auto_bin_edges_weighted,
    _weighted_percentile,
    density_cluster_1d,
    density_cluster_1d_weighted,
    kneedle_knee,
    kpi_filter_threshold,
    kpi_filter_threshold_weighted,
    squeeze,
)


def make_instance(seed=21, anomaly=("a1", "b2"), severity=0.75):
    rng = np.random.default_rng(seed)
    rows = []
    for a, b, c in itertools.product(
        [f"a{i}" for i in range(4)], [f"b{i}" for i in range(4)], [f"c{i}" for i in range(6)]
    ):
        predict = float(rng.uniform(80, 120))
        real = predict * (1 + rng.uniform(-0.02, 0.02))
        if (a, b) == anomaly:
            real = predict * (1 - severity - rng.uniform(0, 0.05))
        rows.append((a, b, c, real, predict))
    return pd.DataFrame(rows, columns=["a", "b", "c", "real", "predict"])


def test_kneedle_knee_simple():
    x = np.linspace(0, 1, 100)
    y = np.sqrt(x)  # concave increasing, knee in the lower range
    knee = kneedle_knee(x, y)
    assert knee is not None and 0.0 < knee < 0.5


def test_density_cluster_separates_anomalies():
    rng = np.random.default_rng(1)
    normal = rng.normal(0, 0.01, 300)
    anom = rng.normal(0.8, 0.02, 30)
    ranges = density_cluster_1d(
        np.concatenate([normal, anom]), SqueezeOptions()
    )
    assert ranges, "no clusters found"
    assert any(lo > 0.5 for lo, hi in ranges)
    # the near-zero normal mass must NOT form a cluster
    assert all(abs((lo + hi) / 2) > 0.2 for lo, hi in ranges)


def test_squeeze_finds_injected_cause(spark):
    pdf = make_instance()
    df = spark.createDataFrame(pdf)
    causes = squeeze(df, ["a", "b", "c"])
    assert causes, "no root cause found"
    joined = ";".join(causes)
    assert "a=a1" in joined and "b=b2" in joined


def test_squeeze_multiple_causes(spark):
    pdf = make_instance()
    # second, opposite-direction anomaly
    mask = (pdf["a"] == "a3") & (pdf["b"] == "b0")
    pdf.loc[mask, "real"] = pdf.loc[mask, "predict"] * 1.9
    df = spark.createDataFrame(pdf)
    causes = squeeze(df, ["a", "b", "c"])
    joined = ";".join(causes)
    assert "a=a1" in joined and "a=a3" in joined


def test_squeeze_driver_vs_distributed_parity(spark):
    """Adaptive driver fast-path must match the distributed path."""
    pdf = make_instance(seed=33, anomaly=("a1", "b0"))
    df = spark.createDataFrame(pdf)
    fast = squeeze(df, ["a", "b", "c"])
    dist = squeeze(df, ["a", "b", "c"], driver_rows=None)
    assert fast == dist


def test_squeeze_multi_cluster_distributed_parity(spark):
    """Parity with TWO deviation clusters (opposite directions): the
    fused locate's per-cluster conditional columns must reproduce the
    fast path exactly."""
    pdf = make_instance()
    mask = (pdf["a"] == "a3") & (pdf["b"] == "b0")
    pdf.loc[mask, "real"] = pdf.loc[mask, "predict"] * 1.9
    df = spark.createDataFrame(pdf)
    fast = squeeze(df, ["a", "b", "c"])
    dist = squeeze(df, ["a", "b", "c"], driver_rows=None)
    assert fast == dist
    joined = ";".join(fast)
    assert "a=a1" in joined and "a=a3" in joined


def _rand_arrays(seed, n=400):
    rng = np.random.default_rng(seed)
    # duplicated values so weights > 1 actually occur
    return np.round(
        np.concatenate([rng.normal(0, 0.05, n), rng.normal(0.7, 0.1, n // 5)]), 3
    )


def test_weighted_percentile_matches_numpy():
    for seed in range(5):
        x = _rand_arrays(seed)
        vals, cnts = np.unique(x, return_counts=True)
        for q in (25, 50, 75, 90):
            assert _weighted_percentile(vals, cnts.astype(float), q) == (
                np.percentile(x, q)
            )


def test_auto_bin_edges_weighted_matches_numpy():
    for seed in range(5):
        x = _rand_arrays(seed)
        vals, cnts = np.unique(x, return_counts=True)
        got = _auto_bin_edges_weighted(vals, cnts.astype(float))
        want = np.histogram_bin_edges(x, "auto").tolist()
        assert np.allclose(got, want, rtol=0, atol=1e-12)
    # degenerate: single distinct value
    assert _auto_bin_edges_weighted(np.array([2.0]), np.array([7.0])) == (
        np.histogram_bin_edges(np.full(7, 2.0), "auto").tolist()
    )


def test_density_cluster_weighted_matches_raw():
    """The weighted core over (distinct value, count) pairs must reproduce
    the raw-array clustering the driver path uses."""
    for seed in range(5):
        x = _rand_arrays(seed)
        vals, cnts = np.unique(x, return_counts=True)
        raw = density_cluster_1d(x, SqueezeOptions())
        weighted = density_cluster_1d_weighted(
            vals, cnts.astype(float), SqueezeOptions()
        )
        assert raw == weighted


def test_kpi_threshold_weighted_matches_raw():
    for seed in range(5):
        x = np.abs(_rand_arrays(seed)) * 100
        vals, cnts = np.unique(x, return_counts=True)
        raw = kpi_filter_threshold(x)
        weighted = kpi_filter_threshold_weighted(vals, cnts.astype(float))
        assert abs(raw - weighted) < 1e-9


def test_squeeze_distributed_histogram_fallback(spark):
    """With max_driver_pairs smaller than the distinct-value count, the
    distributed path must switch to the bucketed histogram and still
    localize the injected cause — no unbounded driver collect exists."""
    pdf = make_instance()
    df = spark.createDataFrame(pdf)
    # 96 leaves with distinct deviations > 64 pairs -> histogram fallback
    opts = SqueezeOptions(max_driver_pairs=64)
    causes = squeeze(df, ["a", "b", "c"], options=opts, driver_rows=None)
    joined = ";".join(causes)
    assert "a=a1" in joined and "b=b2" in joined


def test_squeeze_derived_ratio_input(spark):
    """Derived measures enter squeeze as ratio columns (the reference's
    Squeeze(data_list=[a,b], op=divide) computes v=a/b, f=a_f/b_f and
    proceeds identically) — verify localization still works."""
    rng = np.random.default_rng(8)
    rows = []
    for a in [f"a{i}" for i in range(4)]:
        for b in [f"b{i}" for i in range(5)]:
            total = float(rng.integers(500, 1500))
            ok = total * (0.95 + rng.uniform(-0.01, 0.01))
            if a == "a2":
                ok = total * 0.3
            # ratio KPI columns as produced by read_rca_csv_derived
            rows.append((a, b, ok / total, 0.95))
    pdf = pd.DataFrame(rows, columns=["a", "b", "real", "predict"])
    causes = squeeze(spark.createDataFrame(pdf), ["a", "b"])
    assert causes and "a=a2" in ";".join(causes)


def make_derived_instance(seed=8, anomaly="a2", rate_drop=0.3):
    """Separate a (numerator) and b (denominator) measures, the shape
    read_rca_csv_derived produces: the KPI is a success-ratio a/b."""
    rng = np.random.default_rng(seed)
    rows = []
    for a in [f"a{i}" for i in range(4)]:
        for b in [f"b{i}" for i in range(5)]:
            for c in [f"c{i}" for i in range(4)]:
                total = float(rng.integers(500, 1500))
                total_f = total * (1 + rng.uniform(-0.01, 0.01))
                rate = 0.95 + rng.uniform(-0.01, 0.01)
                # distinct per-leaf severities: a constant drop collapses
                # to one distinct deviation and the density histogram
                # degenerates (same caveat as make_instance)
                anom_rate = rate_drop + rng.uniform(0, 0.05)
                ok = total * (anom_rate if a == anomaly else rate)
                ok_f = total_f * 0.95
                rows.append((a, b, c, ok, ok_f, total, total_f))
    return pd.DataFrame(
        rows,
        columns=["a", "b", "c", "real_a", "predict_a", "real_b", "predict_b"],
    )


def test_squeeze_derived_finds_cause(spark):
    """derived=True (ref Squeeze(data_list=[a,b], op=divide)): driver path."""
    df = spark.createDataFrame(make_derived_instance())
    causes = squeeze(df, ["a", "b", "c"], derived=True)
    assert causes and "a=a2" in ";".join(causes)


def test_squeeze_derived_driver_vs_distributed_parity(spark):
    df = spark.createDataFrame(make_derived_instance(seed=31, anomaly="a0"))
    drv = squeeze(df, ["a", "b", "c"], derived=True)
    dist = squeeze(df, ["a", "b", "c"], derived=True, driver_rows=None)
    assert drv == dist
    assert "a=a0" in ";".join(drv)


def test_squeeze_derived_ripple_uses_separate_sums(spark):
    """The ripple ratio must be op(sum a, sum b), not sum of per-leaf
    ratios: construct a partition where the two disagree and check the
    derived search still returns a cause (exercises _derived_ripple)."""
    from riskloc_spark.operators.squeeze import _derived_ripple

    # ratio-of-sums: (10+90)/(100+100)=0.5; mean of ratios: (0.1+0.9)/2=0.5
    # but with uneven denominators they diverge:
    assert _derived_ripple(10.0, 100.0, 50.0, 100.0) == (10.0 / 100.0) / 0.5
    assert _derived_ripple(0.0, 0.0, 0.0, 0.0) == 0.0
    assert _derived_ripple(5.0, 0.0, 3.0, 6.0) == 0.0


def test_squeeze_option_surface_parity():
    """Every knob of the reference SqueezeOption exists on
    SqueezeOptions (squeeze_option.py:1-36)."""
    ref_knobs = {
        "debug", "enable_filter", "cluster_method",
        "density_estimation_method", "density_smooth_conv_kernel",
        "kde_bw_method", "kde_weights", "histogram_bar_width",
        "max_allowed_deviation_bias", "max_allowed_deviation_std",
        "cluster_smooth_window_size", "max_normal_deviation",
        "least_descent_score", "normal_deviation_std", "score_weight",
        "max_num_elements_single_cluster", "ps_upper_bound",
    }
    ours = set(SqueezeOptions.__dataclass_fields__)
    missing = ref_knobs - ours
    assert not missing, missing


def test_density_cluster_fixed_bar_width():
    rng = np.random.default_rng(2)
    arr = np.concatenate([rng.normal(0, 0.01, 300), rng.normal(0.8, 0.02, 30)])
    ranges = density_cluster_1d(
        arr, SqueezeOptions(histogram_bar_width=0.05)
    )
    assert ranges and any(lo > 0.5 for lo, hi in ranges)


def test_density_cluster_kde_method():
    rng = np.random.default_rng(3)
    arr = np.concatenate([rng.normal(0, 0.01, 300), rng.normal(0.8, 0.02, 30)])
    ranges = density_cluster_1d(
        arr, SqueezeOptions(density_estimation_method="kde")
    )
    assert ranges and any(lo > 0.5 for lo, hi in ranges)


def test_density_cluster_weighted_kde_matches_raw():
    """KDE clustering over (distinct value, count) pairs == the raw
    expanded array (counts act as repeat-weights)."""
    rng = np.random.default_rng(4)
    raw = np.round(
        np.concatenate([rng.normal(0, 0.01, 400), rng.normal(0.7, 0.02, 40)]), 3
    )
    vals, cnts = np.unique(raw, return_counts=True)
    opts = SqueezeOptions(density_estimation_method="kde")
    assert density_cluster_1d(raw, opts) == density_cluster_1d_weighted(
        vals, cnts.astype(float), opts
    )


def test_weighted_kde_density_matches_expanded_array():
    """KDE over (distinct value, count) pairs with weights_are_counts
    must reproduce the count-expanded array's density: same Scott
    bandwidth (neff = n rows, not n^2/sum(c^2)) and same variance
    denominator (1 - 1/n). Duplicate-heavy on purpose — the
    scipy-weighted formulas are up to ~40% off here."""
    from riskloc_spark.operators.squeeze import _gaussian_kde_density

    rng = np.random.default_rng(17)
    raw = np.round(
        np.concatenate([rng.normal(0, 0.05, 400), rng.normal(0.7, 0.05, 40)]), 2
    )
    vals, cnts = np.unique(raw, return_counts=True)
    assert (cnts > 1).any()  # duplicate-heavy by construction
    d_raw, s_raw = _gaussian_kde_density(raw)
    d_w, s_w = _gaussian_kde_density(
        vals, weights=cnts.astype(float), weights_are_counts=True
    )
    np.testing.assert_allclose(s_w, s_raw)
    np.testing.assert_allclose(d_w, d_raw, rtol=1e-9)


def test_injected_kde_density_dual_path_parity(spark):
    """The kde clustering branch with the injected box density (the
    squeeze_clusters_kde gate) must agree between the driver path (raw
    deviations) and the distributed path ((value, count) pairs)."""
    from riskloc_spark.data import rca_events
    from riskloc_spark.operators.squeeze import (
        SqueezeOptions,
        box_density,
        squeeze,
    )

    df = rca_events(spark, "/root/testdata/sf0.001")
    opts = SqueezeOptions(
        density_estimation_method="kde",
        density_smooth_conv_kernel=(1.0, 2.0, 1.0),
        kde_density_fn=box_density,
        enable_filter=False,
    )
    attrs = ["event_type", "hr", "ub"]
    fast = squeeze(df, attrs, options=opts)
    dist = squeeze(df, attrs, options=opts, driver_rows=None)
    assert fast == dist


def test_filter_density_injection_dual_path_parity(spark):
    """enable_filter=True with the injected box density (the
    squeeze_search_filtered gate): threshold + filtered clustering must
    agree between the driver and distributed paths, and the filter must
    actually change the cluster input (threshold > 0 rows dropped)."""
    import numpy as np

    from riskloc_spark.data import rca_events
    from riskloc_spark.operators.squeeze import (
        SqueezeOptions,
        box_density,
        squeeze,
    )

    def metric_box(x, v, c):
        return box_density(
            x, v, c, halfwidth=float((np.max(v) - np.min(v)) / 20.0)
        )

    df = rca_events(spark, "/root/testdata/sf0.001")
    opts = SqueezeOptions(
        histogram_bar_width=0.05,
        enable_filter=True,
        filter_density_fn=metric_box,
    )
    attrs = ["event_type", "hr", "ub"]
    fast = squeeze(df, attrs, options=opts)
    dist = squeeze(df, attrs, options=opts, driver_rows=None)
    assert fast == dist


def test_auto_bin_edges_degenerate_zero_range_matches_numpy():
    """All-equal deviations: numpy widens the OUTER edges by +-0.5 but
    the width estimators see the raw zero range -> exactly one core bin
    (code-review finding: the SQL twin computed Sturges from the
    widened range and emitted log2(n)+1 bins). Locks the numpy side the
    twin mirrors."""
    import numpy as np

    x = np.full(100, 0.25)
    edges = np.histogram_bin_edges(x, "auto")
    assert len(edges) == 2
    assert edges[0] == -0.25 and edges[1] == 0.75


def test_density_cluster_on_values_an_ulp_apart_is_one_cluster():
    """Deviations that differ only by an ulp give 'auto' repeated bin
    edges; their zero-width bins must not turn the densities into NaN.
    Such an input clusters as the exactly single-valued one does: one
    range over all its members, on the raw and the weighted path."""
    import warnings

    equal = np.full(3, 0.6)
    ulp = np.array([0.6, np.nextafter(0.6, 1.0), 0.6])
    assert len(set(np.histogram_bin_edges(ulp, "auto").tolist())) < len(
        np.histogram_bin_edges(ulp, "auto")
    )
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        for options in (SqueezeOptions(), SqueezeOptions(max_normal_deviation=0.2)):
            ranges = density_cluster_1d(ulp, options)
            assert ranges == [(ulp.min(), ulp.max())]
            np.testing.assert_allclose(
                ranges, density_cluster_1d(equal, options), rtol=0, atol=1e-15
            )
            vals, cnts = np.unique(ulp, return_counts=True)
            assert density_cluster_1d_weighted(vals, cnts.astype(float), options) == ranges
