"""The driver-side grouping kernel (plans/cuboid.py: factorize_attributes
+ CuboidElements) against pandas ``groupby(sort=False, dropna=False)``,
and riskloc's driver search built on it. No SparkSession is started:
everything here runs on plain numpy/pandas frames."""
import numpy as np
import pandas as pd
import pytest

from riskloc_spark.functions.scores import NUMPY_OPS, deviation
from riskloc_spark.functions.search_terms import rescaled_abs_deviation, risk_scores
from riskloc_spark.operators.riskloc import _element_scores, _leaf_terms, _riskloc_driver
from riskloc_spark.plans.cuboid import CuboidElements, elements_by_key, factorize_attributes

ATTRS = ["a", "b", "c"]
PRUNED_B = ["b1", "None"]


def random_frame(seed, n=400):
    """Three attributes holding the string "None" and real nulls; x is
    dense, y has NaN gaps."""
    rng = np.random.default_rng(seed)

    def values(prefix, k):
        return rng.choice(
            np.array([f"{prefix}{i}" for i in range(k)] + ["None", None], dtype=object), n
        )

    pdf = pd.DataFrame({"a": values("a", 4), "b": values("b", 6), "c": values("c", 3)})
    pdf["x"] = rng.normal(size=n)
    pdf["y"] = np.where(rng.random(n) < 0.2, np.nan, rng.normal(size=n))
    return pdf


def key(values):
    return tuple("<null>" if v is None or v != v else v for v in values)


def pruned_mask(pdf, enc):
    """Rows whose b is not a pruned value, through a mask over b's uniques."""
    codes, uniques = enc["b"]
    return ~np.isin(uniques, PRUNED_B)[codes]


@pytest.mark.parametrize("seed", range(4))
@pytest.mark.parametrize("cuboid", [["a"], ["b", "c"], ["a", "b", "c"]])
def test_grouped_sums_match_pandas_groupby(seed, cuboid):
    pdf = random_frame(seed)
    enc = factorize_attributes(pdf, ATTRS)
    g = CuboidElements(enc, cuboid, pruned_mask(pdf, enc))

    sub = pdf[~pdf["b"].isin(PRUNED_B)]
    grp = sub.groupby([sub[d] for d in cuboid], sort=False, dropna=False)
    ref = grp.agg(x=("x", "sum"), y=("y", "mean"), n=("x", "size"))

    assert np.array_equal(g.rows, np.flatnonzero(~pdf["b"].isin(PRUNED_B)))
    got_keys = [key(enc[d][1][enc[d][0][r]] for d in cuboid) for r in g.first]
    ref_keys = [key(k if isinstance(k, tuple) else (k,)) for k in ref.index]
    assert got_keys == ref_keys  # same elements, in first-appearance order
    x, y = pdf["x"].to_numpy()[g.rows], pdf["y"].to_numpy()[g.rows]
    np.testing.assert_allclose(g.sum(x), ref["x"], rtol=1e-12, atol=1e-12)
    np.testing.assert_allclose(g.mean(y), ref["y"], rtol=1e-12, atol=1e-12)
    np.testing.assert_array_equal(g.sum(np.ones(len(g.rows))), ref["n"])
    np.testing.assert_allclose(
        g.sum(x)[g.inv], grp["x"].transform("sum"), rtol=1e-12, atol=1e-12
    )


def test_elements_are_numbered_by_first_appearance():
    pdf = pd.DataFrame({"a": ["q", "p", "q", "r", "p", "r"], "b": ["1", "1", "1", "2", "2", "2"]})
    enc = factorize_attributes(pdf, ["a", "b"])
    g = CuboidElements(enc, ["b", "a"], np.array([True, True, True, True, False, True]))
    assert list(g.rows) == [0, 1, 2, 3, 5]
    assert list(g.inv) == [0, 1, 0, 2, 2]
    assert list(g.first) == [0, 1, 3]
    assert g.n == 3


def test_elements_by_key_orders_by_the_value_tuple():
    """Element ids in ascending (a, b) string order whatever the order of
    first appearance, with each element's values indexed by its id."""
    pdf = pd.DataFrame({"a": ["q", "p", "q", "r", "p", "q"], "b": ["2", "1", "10", "2", "2", "2"]})
    enc = factorize_attributes(pdf, ["a", "b"])
    g = CuboidElements(enc, ["a", "b"], np.ones(len(pdf), dtype=bool))
    by_key, values = elements_by_key(enc, ["a", "b"], g)
    assert [tuple(v[e] for v in values) for e in by_key] == sorted(set(zip(pdf["a"], pdf["b"])))
    assert [tuple(v[e] for v in values) for e in range(g.n)] == list(
        dict.fromkeys(zip(pdf["a"], pdf["b"]))
    )


def test_mixed_radix_ids_stay_distinct_past_int64():
    """Four dims of 2**21 uniques: their radix product (2**84) overflows
    int64, so the ids renumber densely before it does."""
    n, zeros = 64, np.zeros(64, dtype=np.int64)
    codes = {"a": np.arange(n), "b": zeros, "c": zeros, "d": zeros}
    enc = {d: (c, range(2**21)) for d, c in codes.items()}  # len() is all it reads
    g = CuboidElements(enc, ["a", "b", "c", "d"], np.ones(n, dtype=bool))
    assert g.n == n and list(g.inv) == list(range(n))


def riskloc_leaf_frame(seed, n=600):
    """A scored leaf frame: real/predict with zeros, deviation, ep,
    partition and weight columns as _riskloc_driver derives them."""
    rng = np.random.default_rng(seed)
    pdf = random_frame(seed, n)[ATTRS].fillna("None")
    predict = rng.uniform(10, 100, n)
    real = predict * (1 + rng.normal(0, 0.1, n))
    real[rng.random(n) < 0.1] = 0.0
    predict[rng.random(n) < 0.1] = 0.0
    pdf = pdf.assign(real=real, predict=predict)
    with np.errstate(invalid="ignore", divide="ignore"):  # 0/0 where a where() drops it
        pdf["deviation"] = deviation(NUMPY_OPS, real, predict)
    pdf["ep"] = (real - predict) / (real.sum() - predict.sum())
    pdf["partition"] = (pdf["deviation"] < -0.1).astype(int)
    pdf["weight"] = np.minimum(np.abs(pdf["deviation"]), 1.0)
    return pdf


def pandas_element_scores(pdf, cuboid):
    """riskloc's element statistics with pandas groupby/transform."""
    valid = (pdf["real"] != 0) & (pdf["predict"] != 0)
    t = pd.DataFrame({
        "rv": pdf["real"].where(valid),
        "pv": pdf["predict"].where(valid),
        "absdev": pdf["deviation"].abs().where(valid),
        "n_anom": pdf["weight"].where(pdf["partition"] == 1, 0.0),
        "n_norm": pdf["weight"].where(pdf["partition"] == 0, 0.0),
        "ep": pdf["ep"],
        "ep_z": pdf["ep"].clip(lower=0.0),
        "part_sum": pdf["partition"],
    })
    keys = [pdf[d] for d in cuboid]
    R = t.groupby(keys, sort=False, dropna=False)["rv"].transform("sum")
    P = t.groupby(keys, sort=False, dropna=False)["pv"].transform("sum")
    t["absd"] = pd.Series(
        rescaled_abs_deviation(NUMPY_OPS, pdf["real"], pdf["predict"], R, P), index=t.index
    ).where(valid)
    ref = t.groupby(keys, sort=False, dropna=False).agg(
        n_anom=("n_anom", "sum"), n_norm=("n_norm", "sum"), ep=("ep", "sum"),
        ep_z=("ep_z", "sum"), part_sum=("part_sum", "sum"),
        w1=("absd", "mean"), w2=("absdev", "mean"),
    )
    ref["high"], ref["low"], ref["risk"] = risk_scores(
        NUMPY_OPS, ref["n_anom"], ref["n_norm"], ref["w1"], ref["w2"]
    )
    return ref


@pytest.mark.parametrize("seed", range(3))
@pytest.mark.parametrize("cuboid", [["a"], ["a", "c"], ["a", "b", "c"]])
def test_element_scores_match_pandas_groupby(seed, cuboid):
    pdf = riskloc_leaf_frame(seed)
    leaf = _leaf_terms(pdf["real"], pdf["predict"], pdf["deviation"], pdf["ep"],
                       pdf["partition"].to_numpy(), pdf["weight"].to_numpy())
    enc = factorize_attributes(pdf, ATTRS)
    with np.errstate(invalid="ignore", divide="ignore"):
        ref = pandas_element_scores(pdf, cuboid)
    got = _element_scores(leaf, CuboidElements(enc, cuboid, np.ones(len(pdf), dtype=bool)))
    for name in ref.columns:
        np.testing.assert_allclose(got[name], ref[name], rtol=1e-12, atol=1e-12, err_msg=name)


def test_element_without_valid_leaf_has_no_low_risk():
    """w1/w2 average over valid (both non-zero) leaves only: an element
    with none gets NaN for both, and low risk 0."""
    pdf = pd.DataFrame({
        "a": ["z", "z", "k", "k"],
        "real": [0.0, 5.0, 4.0, 6.0],
        "predict": [3.0, 0.0, 5.0, 5.0],
    })
    dev = deviation(NUMPY_OPS, pdf["real"], pdf["predict"])
    part, w = np.array([1, 1, 0, 0]), np.array([1.0, 1.0, 0.2, 0.1])
    leaf = _leaf_terms(pdf["real"], pdf["predict"], dev, pdf["real"] - pdf["predict"], part, w)
    enc = factorize_attributes(pdf, ["a"])
    s = _element_scores(leaf, CuboidElements(enc, ["a"], np.ones(4, dtype=bool)))
    assert np.isnan(s["w1"][0]) and np.isnan(s["w2"][0])
    assert s["low"][0] == 0.0 and s["risk"][0] == s["high"][0]
    assert not np.isnan(s["w1"][1]) and s["low"][1] > 0


def tie_frame(first):
    """Elements a=x and a=y hold identical leaves, so their EP ties
    exactly; ``first`` says which of them appears first."""
    rng = np.random.default_rng(3)
    other = "y" if first == "x" else "x"
    rows = []
    for a in [first, other] + [f"n{i}" for i in range(4)]:
        for j in range(5):
            if a in ("x", "y"):
                predict = 100.0 + 7 * j
                real = predict * 0.3
            else:
                predict = float(rng.uniform(50, 150))
                real = predict * (1 + rng.uniform(-0.02, 0.02))
            rows.append((a, f"b{j}", real, predict))
    return pd.DataFrame(rows, columns=["a", "b", "real", "predict"])


@pytest.mark.parametrize("first", ["x", "y"])
def test_exact_ep_tie_goes_to_the_first_appearing_element(first):
    causes = _riskloc_driver(tie_frame(first), ["a", "b"], 0.5, 0.02, 5, False, True, 50, False)
    other = "y" if first == "x" else "x"
    assert [(rc["cuboid"], rc["elements"]) for rc in causes] == [
        (["a"], [(first,)]),
        (["a"], [(other,)]),
    ]
    assert causes[0]["ep_score"] == causes[1]["ep_score"]  # a true tie
