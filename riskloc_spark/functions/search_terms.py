"""Per-element terms of the cuboid searches: riskloc's risk scores (ref
algorithms/riskloc.py:50-72), autoroot's NPS (ref
algorithms/autoroot.py:94-144) and hotspot's ripple-effect leaf terms
(ref algorithms/hotspot.py:29-63).

Each term is written once, as plain arithmetic over its operands, and
serves both the distributed and the driver-side pandas search: operands
are Spark Columns or pandas Series, and ``ops`` is
``scores.SPARK_OPS`` or ``scores.NUMPY_OPS`` (see functions/scores.py).
A per-element sum arrives as a window Column on Spark and, on the
driver, as an ``np.bincount`` gathered back to the leaves; a global
total as a float.
"""
from __future__ import annotations

from riskloc_spark.functions.scores import deviation

# --- riskloc ------------------------------------------------------------------


def rescaled_abs_deviation(ops, real, predict, R, P):
    """|deviation| of a leaf against its forecast rescaled to the
    element, predict*R/P, where R and P are the element's sums of real
    and predict over its valid (both non-zero) leaves."""
    return ops.abs(deviation(ops, real, predict * R / P))


def risk_scores(ops, n_anom, n_norm, w1, w2):
    """(high, low, risk) of an element. ``n_anom``/``n_norm``: summed
    weights of its anomalous/normal leaves; ``w1``/``w2``: mean
    rescaled/plain |deviation| over its valid leaves (null when it has
    none)."""
    high = n_anom / (n_anom + n_norm + 1.0)
    low = ops.where(ops.isnull(w2) | (w2 == 0) | ops.isnull(w1), 0.0, w1 / w2)
    return high, low, high - low


# --- autoroot -----------------------------------------------------------------


def relative_error(ops, v, f):
    """|v - f| / v, 0 where v is 0 (the NPS leaf term)."""
    return ops.where(v == 0, 0.0, ops.abs(v - f) / v)


def nps_leaf_terms(ops, real, predict, Ve, Fe):
    """(a, b) NPS terms of a leaf: its relative error against the forecast
    rescaled by the element sums Ve/Fe (0 where Fe is 0), and against the
    plain forecast."""
    vhat = ops.where(Fe != 0, predict * Ve / Fe, 0.0)
    return relative_error(ops, real, vhat), relative_error(ops, real, predict)


def nps(ops, Ap_e, Bp_e, n_full, N, Bp_tot):
    """NPS of an element from its summed leaf terms ``Ap_e``/``Bp_e`` over
    ``n_full`` leaves; ``N`` leaves and ``Bp_tot`` (summed b term) over
    the whole frame."""
    a = Ap_e / n_full
    b = Bp_e / n_full
    n_rest = N - n_full
    c = ops.where(n_rest > 0, (Bp_tot - Bp_e) / n_rest, 0.0)
    return 1 - ((a + c) / (b + c))


# --- hotspot ------------------------------------------------------------------


def ripple_ratio(ops, V, F):
    """An element's ripple ratio V/F (its summed real over its summed
    predict), 0 where F is 0: the factor by which the ripple effect
    rescales each of its leaves' forecasts."""
    return ops.where(F != 0, V / F, 0.0)


def abs_and_square(ops, real, expected):
    """|real - expected| and (real - expected)^2 of a leaf: the B/Q terms
    against the forecast, the A/P terms against the ripple-rescaled one.
    x*x, not pow(x, 2): an exactly-rounded IEEE multiply, identical across
    engines (libm pow may differ by 1 ulp)."""
    d = real - expected
    return ops.abs(d), d * d
