"""Element scoring formulas (parity: reference utils/element_scores.py and
algorithms/riskloc.py:12-47).

One definition per formula: deviation, EP, the surprise term, the cutoff
pick, partition and weight are each plain arithmetic over their operands,
shared by the distributed and the driver-side pandas paths. Operands are
Spark Columns or pandas Series; ``where``/``log``/``abs``/``isnull`` come
from the namespace the caller passes (``SPARK_OPS`` or ``NUMPY_OPS``). A
total is a Column on Spark (crossJoined 1-row aggregate or window sum)
and a float on pandas.

Totals are computed once: EP and surprise share one raw-totals pass,
``(A, F)`` plain or ``(Fa, Aa, Fb, Ab)`` derived; the derived EP's Σep is
the only second-stage total. On Spark a total is one ``agg`` broadcast
back via ``crossJoin(broadcast(...))``, never a key-less window (which
would funnel the whole frame through one task).
"""
from __future__ import annotations

import math
from types import SimpleNamespace

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _np_log(x):
    # log(0) / log(<0) land only in branches a ``where`` discards
    with np.errstate(divide="ignore", invalid="ignore"):
        return np.log(x)


SPARK_OPS = SimpleNamespace(
    where=lambda cond, a, b: F.when(cond, a).otherwise(b),
    log=F.log,
    abs=F.abs,
    isnull=lambda c: c.isNull(),
)
NUMPY_OPS = SimpleNamespace(where=np.where, log=_np_log, abs=np.abs, isnull=np.isnan)


def measures(derived: bool) -> tuple[str, ...]:
    """Raw measure columns of a leaf frame."""
    if derived:
        return ("real_a", "real_b", "predict_a", "predict_b")
    return ("real", "predict")


# --- formulas ---------------------------------------------------------------


def deviation(ops, real, predict):
    """2*(predict-real)/(predict+real), 0 where the denominator is 0
    (ref utils/element_scores.py:58-65)."""
    denom = predict + real
    return ops.where(denom == 0, 0.0, 2.0 * (predict - real) / denom)


def half_deviation(ops, real, predict):
    """squeeze's leaf deviation (predict-real)/(predict+real), half of
    ``deviation``, 0 where the denominator is 0."""
    denom = predict + real
    return ops.where(denom == 0, 0.0, (predict - real) / denom)


def explanatory_power(col, tot, derived: bool):
    """EP per row (ref utils/element_scores.py:4-26); ``col(m)`` is the
    row's measure ``m`` and ``tot(m)`` its total. Plain: (real-predict)
    / (A-F). Derived: the a/b split, BEFORE its Σep normalization."""
    if derived:
        Fa, Fb = tot("predict_a"), tot("predict_b")
        n = (col("real_a") - col("predict_a")) * Fb - (
            col("real_b") - col("predict_b")
        ) * Fa
        return n / (Fb * (Fb + col("real_b") - col("predict_b")))
    return (col("real") - col("predict")) / (tot("real") - tot("predict"))


def surprise_term(ops, real, predict, A, F_tot, n=1):
    """One measure's JS-divergence-style surprise (ref
    utils/element_scores.py:29-55) with p = predict/(F/n), q = real/(A/n).
    The reference's nan_to_num (0*log(0) -> 0) is an explicit guard: a
    side contributes 0 where it is 0 or where p+q is 0."""
    p = predict / (F_tot / n)
    q = real / (A / n)
    p_term = ops.where((p == 0) | (p + q == 0), 0.0, p * ops.log(2.0 * p / (p + q)))
    q_term = ops.where((q == 0) | (p + q == 0), 0.0, q * ops.log(2.0 * q / (p + q)))
    return 0.5 * (p_term + q_term)


def surprise(ops, col, tot, derived: bool, n=1):
    """Row surprise: the plain term, or the a and b terms summed for
    derived data; ``col``/``tot`` as in explanatory_power, ``n`` the
    merged divide (number of merged dimensions)."""
    terms = []
    for side in ("_a", "_b") if derived else ("",):
        r, p = "real" + side, "predict" + side
        terms.append(surprise_term(ops, col(r), col(p), tot(r), tot(p), n))
    return terms[0] if len(terms) == 1 else terms[0] + terms[1]


def relative_n_remove(n_remove: int, n_distinct: int) -> int:
    """``n_remove`` read as a percentage of the distinct deviations."""
    return int(math.ceil(n_distinct * n_remove / 100))


def pick_cutoff(smallest, largest) -> float:
    """Cutoff from the two sorted ends of the distinct deviations (ref
    algorithms/riskloc.py:35-47): ``smallest`` holds the n_remove+1
    smallest, ``largest`` the n_remove+1 largest; the end nearer zero
    wins, negated."""
    return -min(max(smallest), min(largest), key=abs)


def partition(ops, dev, cutoff: float):
    """Anomaly flag 1/0 (ref algorithms/riskloc.py:20-32): the side of the
    cutoff's sign is anomalous (a -0.0 cutoff points left)."""
    anomaly_right = math.copysign(1, cutoff) > 0 if cutoff == 0 else cutoff >= 0
    return ops.where(dev > cutoff if anomaly_right else dev < cutoff, 1, 0)


def weight(ops, dev, real, predict, part, cutoff: float):
    """Leaf weight in [0, 1] (ref algorithms/riskloc.py:12-17)."""
    w = ops.abs(cutoff - dev)
    w = ops.where((real == 0) & (predict == 0), 0.0, w)
    w = ops.where(part == 1, ops.abs(dev), w)
    return ops.where(w > 1.0, 1.0, w)


# --- Spark frame transformations ---------------------------------------------


def _add_element_scores(
    df: DataFrame, derived: bool, merged_divide: int, names: tuple[str, ...]
) -> DataFrame:
    """Attach ``names`` (ep and/or surprise) from ONE raw-totals
    aggregation (broadcast nested loop — constant-size build side, no
    shuffle of ``df``)."""
    totals = df.agg(*[F.sum(m).alias(f"__tot_{m}") for m in measures(derived)])
    out = df.crossJoin(F.broadcast(totals))

    def tot(m):
        return F.col(f"__tot_{m}")

    cols = {
        "ep": explanatory_power(F.col, tot, derived),
        "surprise": surprise(SPARK_OPS, F.col, tot, derived, merged_divide),
    }
    out = out.withColumns({n: cols[n] for n in names}).drop(*totals.columns)
    if derived and "ep" in names:
        ep_sum = out.agg(F.sum("ep").alias("__eps"))
        out = out.crossJoin(F.broadcast(ep_sum))
        out = out.withColumn("ep", F.col("ep") / F.col("__eps")).drop("__eps")
    return out


def add_explanatory_power(df: DataFrame, derived: bool = False) -> DataFrame:
    """``ep`` column; derived EP is normalized to sum to 1."""
    return _add_element_scores(df, derived, 1, ("ep",))


def add_surprise(df: DataFrame, derived: bool = False, merged_divide: int = 1) -> DataFrame:
    """``surprise`` column."""
    return _add_element_scores(df, derived, merged_divide, ("surprise",))


def add_ep_and_surprise(
    df: DataFrame, derived: bool = False, merged_divide: int = 1
) -> DataFrame:
    """``ep`` and ``surprise`` columns from one shared totals pass."""
    return _add_element_scores(df, derived, merged_divide, ("ep", "surprise"))


def add_deviation_score(df: DataFrame) -> DataFrame:
    return df.withColumn("deviation", deviation(SPARK_OPS, F.col("real"), F.col("predict")))


def get_cutoff(df: DataFrame, n_remove: int = 5, relative: bool = False) -> float:
    """Deviation cutoff (ref algorithms/riskloc.py:35-47).

    Needs the (n_remove+1)-th smallest/largest *distinct* deviation — a
    driver-side top-k over distinct values. k is tiny (or a percentage of
    distinct count), so two sorted ``limit`` collects are scale-safe: Spark
    executes limit-after-sort as a TakeOrdered (no full sort materialize).
    """
    devs = df.select("deviation").distinct()
    if relative:
        n_remove = relative_n_remove(n_remove, devs.count())
    k = n_remove + 1
    # both ends in ONE action: union the two TakeOrdered subtrees
    # (limit-after-sort never materializes a full sort) and tag the side
    both = (
        devs.orderBy(F.col("deviation").asc())
        .limit(k)
        .select(F.lit(0).alias("side"), "deviation")
        .unionAll(
            devs.orderBy(F.col("deviation").desc())
            .limit(k)
            .select(F.lit(1).alias("side"), "deviation")
        )
        .collect()
    )
    return pick_cutoff(
        [r["deviation"] for r in both if r["side"] == 0],
        [r["deviation"] for r in both if r["side"] == 1],
    )


def add_partition(df: DataFrame, cutoff: float) -> DataFrame:
    return df.withColumn("partition", partition(SPARK_OPS, F.col("deviation"), cutoff))


def add_weight(df: DataFrame, cutoff: float) -> DataFrame:
    c = F.col
    return df.withColumn(
        "weight",
        weight(SPARK_OPS, c("deviation"), c("real"), c("predict"), c("partition"), cutoff),
    )
