"""Adtributor vs an independent pandas re-computation of the published
algorithm (Bhagwan et al., and reference adtributor.py semantics)."""
import numpy as np
import pandas as pd
import pytest

from riskloc_spark.operators.adtributor import adtributor, rev_rec_adtributor


def pandas_adtributor(pdf, dims, teep=0.1, tep=0.1, k=3):
    frames = []
    for d in dims:
        g = pdf.groupby(d)[["real", "predict"]].sum().reset_index()
        g = g.rename(columns={d: "element"})
        g["element"] = g["element"].astype(str)
        g["dimension"] = d
        frames.append(g)
    el = pd.concat(frames, ignore_index=True)
    Fv, A = el["predict"].sum() / len(dims), el["real"].sum() / len(dims)
    el["ep"] = (el["real"] - el["predict"]) / (A - Fv) / len(dims) * len(dims)
    # ep uses unscaled totals (merge concatenates dims, totals divide out)
    Fv_all, A_all = el["predict"].sum(), el["real"].sum()
    el["ep"] = (el["real"] - el["predict"]) / (A_all - Fv_all)
    p = el["predict"] / (el["predict"].sum() / len(dims))
    q = el["real"] / (el["real"].sum() / len(dims))
    with np.errstate(divide="ignore", invalid="ignore"):
        pt = np.nan_to_num(p * np.log(2 * p / (p + q)))
        qt = np.nan_to_num(q * np.log(2 * q / (p + q)))
    el["surprise"] = 0.5 * (pt + qt)

    out = []
    for d in dims:
        de = el[el["dimension"] == d].set_index("element")
        de = de.sort_values(["surprise", "element"], ascending=[False, True], kind="stable")
        cum = de.loc[de["ep"] > teep, "ep"].cumsum()
        if (cum > tep).any():
            idx = (cum > tep).idxmax()
            out.append(
                {
                    "elements": cum[:idx].index.tolist(),
                    "explanatory_power": cum[idx],
                    "surprise": de.loc[:idx, "surprise"].sum(),
                    "dimension": d,
                }
            )
    return sorted(out, key=lambda t: t["surprise"], reverse=True)[:k]


@pytest.fixture(scope="module")
def rca_pdf():
    rng = np.random.default_rng(3)
    rows = []
    for a in range(5):
        for b in range(4):
            predict = float(rng.uniform(80, 120))
            real = predict
            if a == 2:
                real = predict * 0.3
            rows.append((f"a{a}", f"b{b}", real, predict))
    return pd.DataFrame(rows, columns=["a", "b", "real", "predict"])


def test_adtributor_matches_pandas(spark, rca_pdf):
    got = adtributor(spark.createDataFrame(rca_pdf), ["a", "b"])
    want = pandas_adtributor(rca_pdf, ["a", "b"])
    assert len(got) == len(want)
    for g, w in zip(got, want):
        assert g["dimension"] == w["dimension"]
        assert sorted(g["elements"]) == sorted(w["elements"])
        assert abs(g["explanatory_power"] - w["explanatory_power"]) < 1e-9
        assert abs(g["surprise"] - w["surprise"]) < 1e-9


def test_adtributor_finds_cause(spark, rca_pdf):
    got = adtributor(spark.createDataFrame(rca_pdf), ["a", "b"])
    assert got and got[0]["dimension"] == "a"
    assert "a2" in got[0]["elements"]


def test_rev_rec_adtributor_runs(spark, rca_pdf):
    got = rev_rec_adtributor(spark.createDataFrame(rca_pdf), ["a", "b"])
    assert isinstance(got, list)
    flat = [e for cs in got for el in cs["elements"] for e in el]
    assert "a2" in flat


def _canon(causes):
    return sorted(
        (
            cs["dimension"],
            tuple(tuple(e) if isinstance(e, list) else (e,) for e in cs["elements"]),
            round(cs["explanatory_power"], 9),
            round(cs["surprise"], 9),
        )
        for cs in causes
    )


def test_rev_rec_adtributor_driver_vs_distributed_parity(spark, rca_pdf):
    """The adaptive driver fast-path must match the distributed recursion."""
    df = spark.createDataFrame(rca_pdf)
    fast = rev_rec_adtributor(df, ["a", "b"])
    dist = rev_rec_adtributor(df, ["a", "b"], driver_rows=None)
    assert _canon(fast) == _canon(dist)


def test_rev_rec_adtributor_parity_multi_cause(spark, rca_pdf):
    """Parity on a frame where two dimensions carry anomalies and the
    recursion actually refines (multi-level)."""
    pdf = rca_pdf.copy()
    mask = (pdf["a"] == "a4") & (pdf["b"] == "b1")
    pdf.loc[mask, "real"] = pdf.loc[mask, "predict"] * 2.5
    df = spark.createDataFrame(pdf)
    fast = rev_rec_adtributor(df, ["a", "b"], teep=0.05)
    dist = rev_rec_adtributor(df, ["a", "b"], teep=0.05, driver_rows=None)
    assert _canon(fast) == _canon(dist)
    assert fast, "no causes found"
