"""Each shared score formula (functions/scores.py, functions/search_terms.py)
evaluated through BOTH namespaces on the same edge-case rows: Spark
Columns with SPARK_OPS, pandas Series with NUMPY_OPS. A null on the
Spark side is a NaN on the pandas side (what toPandas hands the driver
paths), and both must give the same value."""
import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from riskloc_spark.functions import scores as S
from riskloc_spark.functions import search_terms as T

N = None

# name -> (columns, formula(ops, col, tot) -> value or tuple of values).
# ``col(m)`` is the row operand, ``tot(m)`` the column total (a
# crossJoined Column on Spark, a float on pandas).
CASES = {
    "deviation": (
        # predict+real == 0, real == 0, predict == 0, plain, null
        {"real": [0.0, 0.0, 5.0, 3.0, N], "predict": [0.0, 4.0, 0.0, 4.0, 2.0]},
        lambda ops, c, t: S.deviation(ops, c("real"), c("predict")),
    ),
    "half_deviation": (
        # predict+real == 0, real == 0, predict == 0, plain, null
        {"real": [0.0, 0.0, 5.0, 3.0, N], "predict": [0.0, 4.0, 0.0, 4.0, 2.0]},
        lambda ops, c, t: S.half_deviation(ops, c("real"), c("predict")),
    ),
    "explanatory_power": (
        {"real": [0.0, 10.0, 5.0, N], "predict": [0.0, 4.0, 7.0, 2.0]},
        lambda ops, c, t: S.explanatory_power(c, t, derived=False),
    ),
    "explanatory_power_derived": (
        {
            "real_a": [0.0, 90.0, 50.0, N],
            "real_b": [0.0, 100.0, 60.0, 10.0],
            "predict_a": [0.0, 95.0, 55.0, 9.0],
            "predict_b": [0.0, 100.0, 60.0, 10.0],
        },
        lambda ops, c, t: S.explanatory_power(c, t, derived=True),
    ),
    "surprise": (
        # p == q == 0 (p+q == 0), p == 0, q == 0, plain, null
        {"real": [0.0, 3.0, 0.0, 4.0, N], "predict": [0.0, 0.0, 2.0, 5.0, 1.0]},
        lambda ops, c, t: S.surprise(ops, c, t, derived=False, n=2),
    ),
    "surprise_derived": (
        {
            "real_a": [0.0, 3.0, 0.0, 4.0, N],
            "real_b": [1.0, 0.0, 2.0, 5.0, 1.0],
            "predict_a": [0.0, 0.0, 2.0, 5.0, 1.0],
            "predict_b": [0.0, 1.0, 2.0, 4.0, N],
        },
        lambda ops, c, t: S.surprise(ops, c, t, derived=True),
    ),
    "partition": (
        {"dev": [-0.5, 0.0, 0.1, 0.3, N]},
        lambda ops, c, t: (
            S.partition(ops, c("dev"), 0.1),
            S.partition(ops, c("dev"), -0.1),
            S.partition(ops, c("dev"), -0.0),
        ),
    ),
    "weight": (
        # real == predict == 0, anomalous, |cutoff-dev| > 1, null
        {
            "dev": [0.0, 1.5, -1.9, 0.2, N],
            "real": [0.0, 1.0, 3.0, 2.0, 1.0],
            "predict": [0.0, 4.0, 0.1, 2.4, 1.0],
            "part": [0, 1, 0, 0, 0],
        },
        lambda ops, c, t: S.weight(ops, c("dev"), c("real"), c("predict"), c("part"), 0.3),
    ),
    "rescaled_abs_deviation": (
        # real == 0, rescaled predict+real == 0, element without valid rows
        {
            "real": [0.0, 0.0, 5.0, 3.0, 2.0],
            "predict": [2.0, 0.0, 4.0, 4.0, 2.0],
            "R": [8.0, 8.0, 8.0, 8.0, N],
            "P": [10.0, 10.0, 10.0, 6.0, N],
        },
        lambda ops, c, t: T.rescaled_abs_deviation(ops, c("real"), c("predict"), c("R"), c("P")),
    ),
    "risk_scores": (
        # w2 null, w2 == 0, w1 null, plain
        {
            "n_anom": [0.0, 2.0, 1.5, 3.0],
            "n_norm": [0.0, 1.0, 0.5, 0.2],
            "w1": [0.3, 0.3, N, 0.4],
            "w2": [N, 0.0, 0.2, 0.8],
        },
        lambda ops, c, t: T.risk_scores(ops, c("n_anom"), c("n_norm"), c("w1"), c("w2")),
    ),
    "nps_leaf_terms": (
        # v == 0, Fe == 0, plain, null
        {
            "real": [0.0, 3.0, 4.0, N],
            "predict": [1.0, 2.0, 5.0, 1.0],
            "Ve": [4.0, 3.0, 9.0, 2.0],
            "Fe": [5.0, 0.0, 7.0, 3.0],
        },
        lambda ops, c, t: T.nps_leaf_terms(ops, c("real"), c("predict"), c("Ve"), c("Fe")),
    ),
    "nps": (
        # no leaves outside the element (n_rest == 0), plain, null
        {
            "Ap_e": [1.0, 0.5, N],
            "Bp_e": [2.0, 1.5, 1.0],
            "n_full": [10.0, 4.0, 2.0],
        },
        lambda ops, c, t: T.nps(ops, c("Ap_e"), c("Bp_e"), c("n_full"), 10.0, 6.0),
    ),
}


def _as_tuple(v):
    return v if isinstance(v, tuple) else (v,)


@pytest.mark.parametrize("name", sorted(CASES))
def test_formula_same_on_spark_and_numpy(spark, name):
    columns, formula = CASES[name]
    names = list(columns)
    pdf = pd.DataFrame({k: pd.Series(v, dtype="float64") for k, v in columns.items()})
    n_rows = len(pdf)

    with np.errstate(divide="ignore", invalid="ignore"):
        expected = _as_tuple(
            formula(S.NUMPY_OPS, pdf.__getitem__, lambda m: pdf[m].sum())
        )

    rows = [
        (i, *[None if v is None else float(v) for v in vals])
        for i, vals in enumerate(zip(*columns.values()))
    ]
    df = spark.createDataFrame(
        rows, "id int, " + ", ".join(f"{k} double" for k in names)
    )
    totals = df.agg(*[F.sum(k).alias(f"__t_{k}") for k in names])
    df = df.crossJoin(F.broadcast(totals))
    exprs = _as_tuple(formula(S.SPARK_OPS, F.col, lambda m: F.col(f"__t_{m}")))
    got = (
        df.select("id", *[e.cast("double").alias(f"v{i}") for i, e in enumerate(exprs)])
        .orderBy("id")
        .toPandas()
    )

    assert len(exprs) == len(expected)
    for i, exp in enumerate(expected):
        exp = np.broadcast_to(np.asarray(exp, dtype="float64"), (n_rows,))
        np.testing.assert_allclose(
            got[f"v{i}"].to_numpy(dtype="float64"), exp, rtol=1e-12, equal_nan=True,
            err_msg=f"{name} output {i}",
        )


@pytest.mark.parametrize("n_remove,relative", [(0, False), (2, False), (40, True)])
def test_cutoff_pick_same_on_spark_and_numpy(spark, n_remove, relative):
    """get_cutoff (two TakeOrdered ends on Spark) and the driver path's
    np.unique ends feed the same pick_cutoff, ties and a zero included."""
    devs = [-1.2, -0.4, -0.4, 0.0, 0.0, 0.1, 0.5, 0.5, 1.9]
    df = spark.createDataFrame([(d,) for d in devs], "deviation double")
    uniq = np.unique(devs)
    k = (S.relative_n_remove(n_remove, len(uniq)) if relative else n_remove) + 1
    assert S.get_cutoff(df, n_remove, relative) == S.pick_cutoff(uniq[:k], uniq[-k:])
