"""On a driver-sized derived case, reading the a/b CSVs starts no Spark
job and each of the seven algorithms costs at most two: the
``limit(k+1).toPandas()`` probe over the a/b join (plus the join's
broadcast). Jobs are counted per call with a job group, as
tests/test_plans.py does. Each operator on the shared probe
(plans.collect.driver_leaves) logs the path it took at DEBUG."""
import itertools

import numpy as np
import pandas as pd
import pytest
from conftest import group_jobs

from riskloc_spark import cli
from riskloc_spark.sources import read_rca_csv_derived


@pytest.fixture(scope="module")
def derived_case(tmp_path_factory):
    rng = np.random.default_rng(29)
    rows = []
    for a, b, c in itertools.product(
        [f"a{i}" for i in range(5)], [f"b{i}" for i in range(4)], [f"c{i}" for i in range(3)]
    ):
        total = float(rng.integers(800, 1200))
        rate = 0.35 if (a, b) == ("a1", "b2") else 0.96 + rng.uniform(-0.01, 0.01)
        rows.append((a, b, c, total * rate, total * 0.96, total, total))
    pdf = pd.DataFrame(rows, columns=["a", "b", "c", "ra", "pa", "rb", "pb"])
    d = tmp_path_factory.mktemp("derived_case")
    for side, (r, p) in (("a", ("ra", "pa")), ("b", ("rb", "pb"))):
        pdf[["a", "b", "c", r, p]].set_axis(["a", "b", "c", "real", "predict"], axis=1).to_csv(
            d / f"case.{side}.csv", index=False
        )
    return str(d / "case.a.csv"), str(d / "case.b.csv")


@pytest.mark.parametrize("algo", sorted(cli.ALGO_OPTIONS))
def test_each_algorithm_costs_at_most_two_jobs_on_a_derived_case(spark, derived_case, algo):
    (df, attrs), read_jobs = group_jobs(
        spark, f"read-{algo}", lambda: read_rca_csv_derived(spark, *derived_case)
    )
    assert (attrs, read_jobs) == (["a", "b", "c"], 0)
    causes, jobs = group_jobs(
        spark, f"call-{algo}",
        lambda: cli.run_method(df, attrs, algo, True, dict(cli.ALGO_OPTIONS[algo])),
    )
    assert isinstance(causes, list)
    assert jobs <= 2, f"{algo}: {jobs} Spark jobs"


@pytest.mark.parametrize("algo,name", [
    ("riskloc", "riskloc"), ("hotspot", "hotspot"), ("squeeze", "squeeze"),
    ("adtributor", "adtributor"), ("r_adtributor", "rev_rec_adtributor"),
    ("autoroot", "autoroot"),
])
def test_operators_on_the_shared_probe_log_their_path(spark, derived_case, caplog, algo, name):
    import logging

    df, attrs = read_rca_csv_derived(spark, *derived_case)
    with caplog.at_level(logging.DEBUG, logger="riskloc_spark"):
        cli.run_method(df, attrs, algo, True, dict(cli.ALGO_OPTIONS[algo]))
    assert f"{name}: driver path, 60 leaves <= driver_rows=200000" in caplog.text
