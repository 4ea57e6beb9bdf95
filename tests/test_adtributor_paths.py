"""adtributor's driver path (the collected leaf frame) vs its Spark path
(``driver_rows=None``), with tests/test_adtributor.py's independent pandas
re-computation as the reference on plain data."""
import numpy as np
import pandas as pd
import pytest

from riskloc_spark.operators.adtributor import adtributor
from tests.test_adtributor import pandas_adtributor
from tests.test_derived import derived_pdf  # noqa: F401  (fixture)
from tests.test_null_attributes import SCHEMA, make_null_instance


def _same(got, want):
    assert [c["dimension"] for c in got] == [c["dimension"] for c in want], (got, want)
    for g, w in zip(got, want):
        assert g["elements"] == w["elements"], (got, want)
        assert g["explanatory_power"] == pytest.approx(w["explanatory_power"], abs=1e-9)
        assert g["surprise"] == pytest.approx(w["surprise"], abs=1e-9)


def _two_cause_pdf():
    rng = np.random.default_rng(11)
    rows = []
    for a in [f"a{i}" for i in range(6)]:
        for b in [f"b{i}" for i in range(5)]:
            predict = float(rng.uniform(80, 120))
            real = predict * (1 + rng.uniform(-0.02, 0.02))
            if a in ("a2", "a4"):
                real = predict * (0.4 if a == "a2" else 0.6)
            if b == "b3":
                real *= 0.7
            rows.append((a, b, real, predict))
    return pd.DataFrame(rows, columns=["a", "b", "real", "predict"])


@pytest.mark.parametrize("teep,tep", [(0.1, 0.1), (0.05, 0.3), (0.1, 0.4)])
def test_adtributor_paths_match_pandas_on_plain_data(spark, teep, tep):
    pdf = _two_cause_pdf()
    df = spark.createDataFrame(pdf)
    want = pandas_adtributor(pdf, ["a", "b"], teep=teep, tep=tep)
    assert want, "no candidate set"
    for rows in (200_000, None):
        _same(adtributor(df, ["a", "b"], teep=teep, tep=tep, driver_rows=rows), want)


def test_adtributor_driver_path_matches_spark_on_derived_data(spark, derived_pdf):  # noqa: F811
    df = spark.createDataFrame(derived_pdf)
    opts = dict(teep=0.05, tep=0.1, derived=True)
    got = adtributor(df, ["a", "b"], **opts)
    assert got and "a1" in got[0]["elements"]
    _same(got, adtributor(df, ["a", "b"], driver_rows=None, **opts))


def test_adtributor_driver_path_matches_spark_with_null_attributes(spark):
    df = spark.createDataFrame(make_null_instance(), schema=SCHEMA)
    for teep in (0.01, 0.1):
        got = adtributor(df, ["a", "b", "c"], teep=teep)
        assert got
        _same(got, adtributor(df, ["a", "b", "c"], teep=teep, driver_rows=None))

