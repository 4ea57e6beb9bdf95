"""Cuboid enumeration + per-cuboid element statistics.

A "cuboid" is a subset of the attribute dimensions; an "element" is one
combination of values for those dimensions. The search algorithms
(riskloc / hotspot / autoroot / squeeze) all need per-element aggregates
over the leaf frame — computed here as ONE ``groupBy(cuboid)`` pass so the
whole cuboid costs a single shuffle regardless of element count.

The decomposition trick for hotspot (ref algorithms/hotspot.py:40-63):
gps / ps scores of a *set* of elements are exact functions of per-element
sums, because the ripple ratio V_e/F_e is per-element. So MCTS runs on
the driver over a compact stats table (``element_stats_all`` on Spark).

Driver-side searches over a collected leaf frame group with
``factorize_attributes`` + ``CuboidElements``: integer codes, mixed-radix
element ids and one ``np.bincount`` per per-element sum;
``elements_by_key`` gives the elements in key order, with their values.
"""
from __future__ import annotations

from itertools import combinations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from riskloc_spark.functions.scores import SPARK_OPS
from riskloc_spark.functions.search_terms import abs_and_square, ripple_ratio


def cuboids_of_layer(attributes: list[str], layer: int) -> list[list[str]]:
    """All dimension subsets of the given size, in reference order
    (itertools.combinations over the sorted attribute list)."""
    return [list(c) for c in combinations(attributes, layer)]


ELEM_SEP = "\x1f"


def factorize_attributes(pdf, attributes: list[str]) -> dict[str, tuple]:
    """Each attribute as (a code per row, the uniques the codes index),
    numbered by first appearance; a null gets a code of its own, as
    ``groupby(dropna=False)`` keeps it."""
    import pandas as pd

    return {a: pd.factorize(pdf[a], use_na_sentinel=False) for a in attributes}


class CuboidElements:
    """The elements of ``cuboid`` over the rows ``mask`` selects, given
    factorize_attributes' ``enc``: the numpy twin of ``groupby(cuboid,
    sort=False, dropna=False)``. ``rows``: the selected row positions;
    ``inv``: each one's element; ``first``: each element's first row.
    Elements are numbered by first appearance, so an argmax over them
    breaks ties as ``idxmax`` does. ``sum``/``mean`` take selected rows."""

    def __init__(self, enc: dict, cuboid: list[str], mask):
        self.rows = rows = np.flatnonzero(mask)
        ids, radix = np.zeros(len(rows), dtype=np.int64), 1
        for c, k in ((enc[d][0], len(enc[d][1])) for d in cuboid):  # mixed radix
            if radix > np.iinfo(np.int64).max // max(k, 1):
                uniq, ids = np.unique(ids, return_inverse=True)  # renumber densely
                radix = len(uniq)
            ids, radix = ids * k + c[rows], radix * k
        _, first, inv = np.unique(ids, return_index=True, return_inverse=True)
        order = np.argsort(first)  # first appearance; its inverse renumbers
        self.n, self.inv, self.first = len(order), np.argsort(order)[inv], rows[first[order]]

    def sum(self, values):
        return np.bincount(self.inv, weights=values, minlength=self.n)

    def mean(self, values):
        """NaN is taken as missing; NaN for an element with no value."""
        ok = ~np.isnan(values)
        with np.errstate(invalid="ignore", divide="ignore"):
            return self.sum(np.where(ok, values, 0.0)) / self.sum(ok)


def elements_by_key(enc: dict, cuboid: list[str], g: CuboidElements):
    """``g``'s element ids in ascending key order (the tuple of their
    string values; the distributed paths' order of the joined element key
    while no value holds a character below ELEM_SEP), and per dimension
    of ``cuboid`` each element's value, indexed by id."""
    codes = [enc[d][0][g.first] for d in cuboid]
    uniques = [np.asarray(enc[d][1], dtype=object) for d in cuboid]
    ranks = [np.argsort(np.argsort(u, kind="stable"))[c] for u, c in zip(uniques, codes)]
    return np.lexsort(ranks[::-1]), [u[c] for u, c in zip(uniques, codes)]


# Gate-surface accumulator type. Validity envelope: casting each per-row
# term to DECIMAL(38,9) quantizes at 1e-9, so (a) terms below 5e-10 round
# to zero and (b) accumulated per-row rounding error grows up to n*5e-10.
# The 6-decimal rounded gate surface therefore stays faithful to the
# double-sum reference semantics while n * 5e-10 << 5e-7, i.e. up to
# ~1e3 rows per aggregated element with same-sign worst-case rounding —
# and in expectation (errors are +/- uniform) far beyond; the RCA gate
# frames aggregate 10-1e3 rows/element with terms in [1e-3, 1e6], well
# inside. For frames with terms near or below 1e-9 (e.g. normalized
# shares on billion-row elements), scale the terms before the cast or
# widen the scale. The SEARCH paths use native doubles — this type only
# shapes the oracle-gate hash surface, where both engines apply the
# identical quantization.
DECIMAL_EXACT = "decimal(38,9)"


def elem_expr(cuboid: list[str], sep: str = ELEM_SEP):
    """Element-key expression for a cuboid: sep-joined string values with
    NULLs mapped to 'None' (matching the driver paths' str() rendering).
    concat_ws silently *drops* NULL parts, which would collapse distinct
    tuples and misalign elem.split against the cuboid's dimension list —
    every distributed elem construction must go through this."""
    return F.concat_ws(
        sep, *[F.coalesce(F.col(d).cast("string"), F.lit("None")) for d in cuboid]
    )


def element_stats_all(
    df: DataFrame, cuboids: list[list[str]], exact_sums: bool = False
) -> DataFrame:
    """Per-element sufficient statistics of hotspot's set scores, for MANY
    cuboids in ONE shuffle. For element e: n_e, V_e=sum(real),
    F_e=sum(predict), B_e/Q_e = sum |d| / d*d of d = real - predict, and
    A_e/P_e the same of real - predict*V_e/F_e (search_terms).

    Each row explodes into one (cid, elem-key) pair per cuboid; a single
    window + groupBy on (cid, elem) then yields every cuboid's element
    statistics — the same fusion riskloc's layer search uses, so a whole
    hotspot stats sweep is one job instead of one per cuboid.

    ``exact_sums=True`` casts every per-row term to DECIMAL(38,9) before
    the SUMs, making the aggregates order-independent (decimal addition is
    exact and associative; double addition is not, so parallel partial-sum
    ordering can flip the last rounded digit between runs). Used by the
    oracle gate query; the search path keeps native doubles for speed."""
    from pyspark.sql import Window

    structs = [
        F.struct(F.lit(i).alias("cid"), elem_expr(cuboid).alias("elem"))
        for i, cuboid in enumerate(cuboids)
    ]
    ex = df.select(
        F.explode(F.array(*structs)).alias("ce"), "real", "predict"
    ).select(F.col("ce.cid").alias("cid"), F.col("ce.elem").alias("elem"), "real", "predict")

    w = Window.partitionBy("cid", "elem")
    if exact_sums:
        # exact (order-independent) window sums, then one deterministic
        # IEEE division — both engines see bit-identical V_e/F_e ratios.
        V = F.sum(F.col("real").cast(DECIMAL_EXACT)).over(w).cast("double")
        Fs = F.sum(F.col("predict").cast(DECIMAL_EXACT)).over(w).cast("double")
    else:
        V = F.sum("real").over(w)
        Fs = F.sum("predict").over(w)
    ex = ex.withColumn("__a", F.col("predict") * ripple_ratio(SPARK_OPS, V, Fs))
    B, Q = abs_and_square(SPARK_OPS, F.col("real"), F.col("predict"))
    A, P = abs_and_square(SPARK_OPS, F.col("real"), F.col("__a"))

    def s(term):
        return F.sum(term.cast(DECIMAL_EXACT) if exact_sums else term)

    return ex.groupBy("cid", "elem").agg(
        F.count(F.lit(1)).alias("n_e"),
        s(F.col("real")).alias("V_e"),
        s(F.col("predict")).alias("F_e"),
        s(B).alias("B_e"),
        s(Q).alias("Q_e"),
        s(A).alias("A_e"),
        s(P).alias("P_e"),
    )
