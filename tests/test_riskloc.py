"""RiskLoc end-to-end on synthetic instances with injected root causes —
the reference paper's own validation protocol."""
import itertools

import numpy as np
import pandas as pd
import pytest

from riskloc_spark.operators.riskloc import riskloc, riskloc_df


def make_instance(anomaly=("a1", "b2"), seed=7, severity=(0.7, 0.9)):
    """3-dim RCA frame; real ~= predict everywhere except the injected
    element, whose real drops by a per-leaf severity (distinct deviations —
    a constant severity would collapse to one distinct deviation value and
    be removed whole by the n_remove cutoff)."""
    rng = np.random.default_rng(seed)
    rows = []
    for a, b, c in itertools.product(
        [f"a{i}" for i in range(5)], [f"b{i}" for i in range(5)], [f"c{i}" for i in range(10)]
    ):
        predict = float(rng.uniform(50, 150))
        real = predict * (1 + rng.uniform(-0.02, 0.02))
        if (a, b) == anomaly:
            real = predict * (1 - rng.uniform(*severity))
        rows.append((a, b, c, real, predict))
    return pd.DataFrame(rows, columns=["a", "b", "c", "real", "predict"])


def test_riskloc_finds_injected_cause(spark):
    pdf = make_instance()
    df = spark.createDataFrame(pdf)
    causes = riskloc(df, ["a", "b", "c"], prune_elements=True)
    assert causes, "no root cause found"
    found = {
        "&".join(sorted(f"{d}={v}" for d, v in zip(rc["cuboid"], rc["elements"][0])))
        for rc in causes
    }
    assert "a=a1&b=b2" in found
    # numeric parity with the reference implementation run on this exact
    # instance (algorithms/riskloc.py, seed=7):
    rc = next(
        c for c in causes if tuple(c["elements"][0]) == ("a1", "b2")
    )
    assert abs(rc["risk score"] - 0.7294163974862932) < 1e-9
    assert abs(rc["ep_score"] - 1.0027968005964065) < 1e-9
    assert rc["layer"] == 2 and rc["cuboid"] == ["a", "b"]


def test_riskloc_df_shape(spark):
    df = spark.createDataFrame(make_instance())
    out = riskloc_df(spark, df, ["a", "b", "c"])
    assert out.columns == ["root_cause", "risk_score", "ep_score", "layer"]
    assert out.count() >= 1


def test_riskloc_driver_vs_distributed_parity(spark):
    """The adaptive driver fast-path and the distributed explode path must
    produce identical root causes (same elements, scores, layers)."""
    pdf = make_instance(anomaly=("a3", "b0"), seed=11)
    df = spark.createDataFrame(pdf)
    fast = riskloc(df, ["a", "b", "c"], risk_threshold=0.3)
    dist = riskloc(df, ["a", "b", "c"], risk_threshold=0.3, driver_rows=None)
    assert len(fast) == len(dist)
    for f, d in zip(fast, dist):
        assert f["cuboid"] == d["cuboid"]
        assert f["elements"] == d["elements"]
        assert f["layer"] == d["layer"]
        assert abs(f["risk score"] - d["risk score"]) < 1e-9
        assert abs(f["ep_score"] - d["ep_score"]) < 1e-9


def test_riskloc_no_anomaly(spark):
    pdf = make_instance(severity=(0.0, 0.0))
    df = spark.createDataFrame(pdf)
    causes = riskloc(df, ["a", "b", "c"])
    # with real==predict (tiny noise), any surfaced cause must clear the
    # risk threshold
    for rc in causes:
        assert rc["risk score"] >= 0.5


def test_riskloc_distributed_unpersists_when_the_search_raises(spark, monkeypatch, caplog):
    """A raising search must not leak the persisted base frame."""
    import importlib
    import logging

    # the package re-exports the riskloc function under the module's name
    rl = importlib.import_module("riskloc_spark.operators.riskloc")
    search = rl.search_anomaly

    def failing(*args, **kwargs):
        search(*args, **kwargs)  # materializes the cached base frame
        raise RuntimeError("search failed")

    monkeypatch.setattr(rl, "search_anomaly", failing)
    df = spark.createDataFrame(make_instance())
    start = spark.sparkContext._jsc.getPersistentRDDs().size()
    with caplog.at_level(logging.DEBUG, logger="riskloc_spark"):
        with pytest.raises(RuntimeError, match="search failed"):
            riskloc(df, ["a", "b", "c"], driver_rows=None)
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == start
    assert "distributed path, forced by driver_rows=None" in caplog.text


def test_riskloc_logs_the_driver_path_and_its_leaf_count(spark, caplog):
    import logging

    df = spark.createDataFrame(make_instance())
    with caplog.at_level(logging.DEBUG, logger="riskloc_spark"):
        riskloc(df, ["a", "b", "c"], driver_rows=1000)
    assert "driver path, 250 leaves <= driver_rows=1000" in caplog.text
