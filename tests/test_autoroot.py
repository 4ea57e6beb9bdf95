"""AutoRoot: KDE boundaries over (distinct deviation, count) pairs,
driver-vs-distributed parity (tie order included), end-to-end
localization of an injected cause."""
import itertools

import numpy as np
import pandas as pd
import pytest

from riskloc_spark.operators.autoroot import autoroot, kde_boundaries_weighted


def make_instance(seed=9, anomaly=("a2", "b1"), severity=0.7):
    rng = np.random.default_rng(seed)
    rows = []
    for a, b, c in itertools.product(
        [f"a{i}" for i in range(4)], [f"b{i}" for i in range(4)], [f"c{i}" for i in range(5)]
    ):
        predict = float(rng.uniform(60, 140))
        real = predict * (1 + rng.uniform(-0.03, 0.03))
        if (a, b) == anomaly:
            real = predict * (1 - severity - rng.uniform(0, 0.1))
        rows.append((a, b, c, real, predict))
    return pd.DataFrame(rows, columns=["a", "b", "c", "real", "predict"])


def test_kde_boundaries_single_value():
    values = np.array([0.5, 0.5, 0.5])
    assert kde_boundaries_weighted(*np.unique(values, return_counts=True)) == [float("inf")]


def test_kde_boundaries_bimodal():
    rng = np.random.default_rng(0)
    vals = np.concatenate([rng.normal(-1, 0.05, 200), rng.normal(1, 0.05, 200)])
    ends = kde_boundaries_weighted(*np.unique(vals, return_counts=True))
    assert ends[0] == float("inf")
    assert len(ends) >= 2  # at least one interior minimum
    # the minimum separating the modes sits near 0
    interior = [e for e in ends if np.isfinite(e)]
    assert any(abs(e) < 0.5 for e in interior)


def test_autoroot_finds_injected_cause(spark):
    pdf = make_instance()
    df = spark.createDataFrame(pdf)
    causes = autoroot(df, ["a", "b", "c"])
    assert causes, "no root cause found"
    flat = {v for rc in causes for e in rc["elements"] for v in e}
    assert {"a2", "b1"} <= flat


def test_autoroot_no_anomaly(spark):
    pdf = make_instance(severity=0.0)
    pdf["real"] = pdf["predict"]  # exactly equal -> |dev| <= 0.2 nowhere
    df = spark.createDataFrame(pdf)
    causes = autoroot(df, ["a", "b", "c"])
    assert causes == []


def test_autoroot_driver_vs_distributed_parity(spark):
    """Adaptive driver fast-path must match the distributed path."""
    pdf = make_instance(seed=21, anomaly=("a0", "b3"))
    df = spark.createDataFrame(pdf)
    fast = autoroot(df, ["a", "b", "c"])
    dist = autoroot(df, ["a", "b", "c"], driver_rows=None)
    assert len(fast) == len(dist)
    key = lambda rc: (rc["layer"], rc["cuboid"], rc["elements"])  # noqa: E731
    for f, d in zip(sorted(fast, key=key), sorted(dist, key=key)):
        assert f["cuboid"] == d["cuboid"]
        assert f["elements"] == d["elements"]
        assert f["layer"] == d["layer"]
        for s in ("NPS", "LF", "CF", "avg"):
            assert abs(f[s] - d[s]) < 1e-9, s


def test_nps_tie_breaks_in_element_key_order_on_both_paths(spark):
    """a=a1 and a=a2 hold identical leaves, so they tie exactly on NPS,
    LF and CF in cuboid [a]; a2's rows come first. Both paths keep the
    first maximum in element-key order: a1, not the first-appearing a2."""
    rows = [
        (a, b, 50.0 if a in ("a1", "a2") else 100.0, 100.0)
        for a in ("a2", "a0", "a3", "a1")
        for b in ("b0", "b1", "b2", "b3")
    ]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["a", "b", "real", "predict"]))
    fast = autoroot(df, ["a", "b"])
    dist = autoroot(df, ["a", "b"], driver_rows=None)
    assert [(c["cuboid"], c["elements"]) for c in fast] == [(["a"], [["a1"]])]
    assert [(c["cuboid"], c["elements"]) for c in dist] == [(["a"], [["a1"]])]
    for s in ("NPS", "LF", "CF", "avg"):
        assert abs(fast[0][s] - dist[0][s]) < 1e-9, s


def test_injectable_cluster_ends_dual_path_parity(spark):
    """cluster_ends (the oracle gate's KDE bypass) must produce
    identical causes on the driver and distributed paths."""
    from riskloc_spark.data import rca_events
    from riskloc_spark.operators.autoroot import autoroot

    df = rca_events(spark, "/root/testdata/sf0.001")
    ends = [float("inf"), 0.0]
    attrs = ["event_type", "hr", "ub"]
    a = autoroot(df, attrs, cluster_ends=ends)
    b = autoroot(df, attrs, cluster_ends=ends, driver_rows=None)

    def key(cs):
        return sorted(
            (c["layer"], tuple(map(tuple, c["elements"])), round(c["avg"], 9))
            for c in cs
        )

    assert key(a) == key(b) and a, (a, b)


def test_injected_density_dual_path_parity(spark):
    """kde_density_fn (the density-level injection behind the
    autoroot_kde_fixed gate) must produce identical causes on the
    driver path and the distributed path: both hand it distinct
    (deviation, count) pairs, counted by numpy on one and by Spark on
    the other."""
    from riskloc_spark.data import rca_events
    from riskloc_spark.operators.autoroot import autoroot
    from riskloc_spark.operators.squeeze import box_density

    df = rca_events(spark, "/root/testdata/sf0.001")
    attrs = ["event_type", "hr", "ub"]
    a = autoroot(df, attrs, kde_density_fn=box_density)
    b = autoroot(df, attrs, kde_density_fn=box_density, driver_rows=None)

    def key(cs):
        return sorted(
            (c["layer"], tuple(map(tuple, c["elements"])), round(c["avg"], 9))
            for c in cs
        )

    assert key(a) == key(b)
    assert a  # the injected density still finds causes on this frame


def test_box_density_weighted_equals_expanded():
    """box_density over (distinct value, count) pairs == box_density
    over the count-expanded array (the driver/distributed equivalence
    the parity above relies on)."""
    import numpy as np

    from riskloc_spark.operators.squeeze import box_density

    rng = np.random.default_rng(5)
    vals = np.round(rng.normal(0, 1, 40), 2)
    uniq, cnt = np.unique(vals, return_counts=True)
    samples = np.linspace(-2, 2, 57)
    a = box_density(samples, vals)
    b = box_density(samples, uniq, cnt.astype(float))
    assert np.array_equal(a, b)
