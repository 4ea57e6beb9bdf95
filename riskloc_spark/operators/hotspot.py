"""HotSpot: MCTS search over element subsets with ripple-effect scoring.

Parity: reference algorithms/hotspot.py:218-260 (MCTS :172-200, scores
:29-63). The ps and gps scores of ANY element subset are exact functions
of per-element sufficient statistics, because the ripple ratio V_e/F_e is
per-element. So each call summarizes every cuboid once, and the MCTS runs
on the driver over that compact table: a subset is scored by summing its
elements' statistics, not by revisiting the leaves.

The summary adapts to the data, as riskloc's path does: a driver-sized
leaf frame is collected by the ``limit(k+1).toPandas()`` probe (k =
``driver_rows``) and summarized with plans.cuboid's integer-coded kernel;
a larger one is persisted and summarized by ``element_stats_all`` in one
Spark job. Both use the leaf terms of functions.search_terms and feed the
same search, over each cuboid's elements in key order.

Scale note: stats rows per cuboid = #elements. ``max_elements`` caps the
table per cuboid (default 20k, ranked by |V-F| — the anomaly magnitude;
un-anomalous elements can't contribute to a ps/gps score), so the
distributed path's collect is bounded regardless of cuboid cardinality."""
from __future__ import annotations

import bisect
import logging
import math
import random
from typing import Any

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from riskloc_spark.functions.scores import NUMPY_OPS, SPARK_OPS
from riskloc_spark.functions.search_terms import abs_and_square, ripple_ratio
from riskloc_spark.plans.cuboid import (
    ELEM_SEP,
    CuboidElements,
    cuboids_of_layer,
    element_stats_all,
    factorize_attributes,
)
from riskloc_spark.plans.collect import driver_leaves

_log = logging.getLogger(__name__)


class _SetScorer:
    """Exact ps/gps of an element subset from per-element stats."""

    def __init__(self, stats: dict[tuple, dict[str, float]], totals: dict[str, float]):
        self.stats = stats
        self.totals = totals  # N, B_tot, Q_tot

    def gps(self, selected: list[tuple]) -> float:
        # ref hotspot.py:40-63: a,b means over selected leaves, c over rest
        n = sum(self.stats[e]["n_e"] for e in selected)
        A = sum(self.stats[e]["A_e"] for e in selected)
        B = sum(self.stats[e]["B_e"] for e in selected)
        a = A / n if n else 0.0
        b = B / n if n else 0.0
        n_rest = self.totals["N"] - n
        c = (self.totals["B_tot"] - B) / n_rest if n_rest > 0 else 0.0
        denom = b + c
        return 1 - ((a + c) / denom) if denom != 0 else 0.0

    def ps(self, selected: list[tuple]) -> float:
        # ref hotspot.py:29-37: euclidean distance over the full leaf
        # vector; replaced leaves contribute P_e, untouched ones Q_e
        P = sum(self.stats[e]["P_e"] for e in selected)
        Q = sum(self.stats[e]["Q_e"] for e in selected)
        q_tot = self.totals["Q_tot"]
        if q_tot == 0:
            return 0.0
        return max(1 - math.sqrt(q_tot - Q + P) / math.sqrt(q_tot), 0.0)


class _Node:
    """A search-tree node. Its children are built one at a time, when
    expand first picks them, and kept in element order."""

    __slots__ = ("parent", "state", "used", "opened", "children", "child_idx",
                 "fully_expanded", "Q", "N")

    def __init__(self, parent: _Node | None = None, i: int = -1, e: tuple = ()):
        self.parent = parent
        self.state: list[tuple] = [] if parent is None else parent.state + [e]
        self.used = frozenset() if parent is None else parent.used | {i}
        self.opened = False  # selected once, so its children may be expanded
        self.children: list[_Node] = []
        self.child_idx: list[int] = []  # the children's element indices
        self.fully_expanded = False
        self.Q = 0.0
        self.N = 0

    def add_child(self, i: int, e: tuple) -> _Node:
        child = _Node(self, i, e)
        pos = bisect.bisect(self.child_idx, i)
        self.child_idx.insert(pos, i)
        self.children.insert(pos, child)
        return child


def _ucb(node: _Node, C: float = math.sqrt(2.0)) -> _Node | None:
    best, best_score = None, -1.0
    for child in node.children:
        if not child.fully_expanded:
            score = child.Q + C * math.sqrt(math.log(node.N) / child.N)
            if score > best_score:
                best, best_score = child, score
    return best


def _mcts(
    elements: list[tuple],
    scorer,
    pt: float,
    m: int,
    rng: random.Random,
) -> tuple[list[tuple], float]:
    """Monte-Carlo tree search over element subsets (ref hotspot.py:108-200).
    States are element lists; expansion is guided by single-element scores.

    The reference builds a child per remaining element on a node's first
    visit. Until visited, such a child has N == 0 and Q == 0.0 and is never
    fully expanded, so the visited children alone decide q_max, all_visit
    and the UCB pick; a child is built only when expand picks it. The
    search is the same: the same rng draws and scorer calls, in order."""
    element_scores = [scorer([e]) for e in elements]
    # expand's pick among the unvisited: the best single score > -1.0,
    # the first element on ties
    order = sorted(
        (i for i, s in enumerate(element_scores) if s > -1.0),
        key=lambda i: (-element_scores[i], i),
    )
    root = _Node()
    max_q = -1.0
    best_state: list[tuple] = []

    def select(node: _Node) -> _Node:
        while len(node.state) < len(elements):
            if not node.opened:
                node.opened = True
                return node
            q_max = max([0.0, *(child.Q for child in node.children)])
            all_visit = len(node.children) == len(elements) - len(node.state)
            if not all_visit and rng.random() > q_max:
                return node
            nxt = _ucb(node)
            if nxt is None:
                if all_visit:
                    node.fully_expanded = True
                    if node.parent is None:
                        return node
                    node = node.parent
                else:
                    return node
            else:
                node = nxt
        node.fully_expanded = True
        return node

    def expand(node: _Node) -> _Node | None:
        taken = node.used.union(node.child_idx)
        i = next((i for i in order if i not in taken), None)
        return None if i is None else node.add_child(i, elements[i])

    for _ in range(m):
        node = select(root)
        if not node.fully_expanded:
            expanded = expand(node)
            if expanded is not None:
                node = expanded
        if root.fully_expanded:
            break
        new_q = scorer(node.state)
        walker = node
        while walker is not None:
            walker.N += 1
            walker.Q = max(walker.Q, new_q)
            walker = walker.parent
        if new_q > max_q:
            max_q = root.Q
            best_state = list(node.state)
        elif (
            new_q == max_q
            and not set(node.state) <= set(best_state)
            and len(node.state) < len(best_state)
        ):
            max_q = root.Q
            best_state = list(node.state)
        if max_q >= pt:
            break
    return best_state, max_q


_STAT_KEYS = ("n_e", "V_e", "F_e", "A_e", "B_e", "P_e", "Q_e")


def _collect_stats_all(
    df: DataFrame, cuboids: list[list[str]], max_elements: int | None
) -> list[dict[tuple, dict[str, float]]]:
    """Stats for EVERY cuboid in one fused job (element_stats_all). A sum
    over only null measures (null on Spark) is 0, as on the driver path."""
    stats_df = element_stats_all(df, cuboids)
    if max_elements is not None:
        from pyspark.sql import Window

        V, Fs = (F.coalesce(F.col(c), F.lit(0.0)) for c in ("V_e", "F_e"))
        w = Window.partitionBy("cid").orderBy(F.abs(V - Fs).desc(), F.col("elem").asc())
        stats_df = (
            stats_df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= max_elements)
            .drop("__rn")
        )
    out: list[dict[tuple, dict[str, float]]] = [dict() for _ in cuboids]
    for r in stats_df.collect():
        out[r["cid"]][tuple(r["elem"].split(ELEM_SEP))] = {
            k: float(r[k] or 0.0) for k in _STAT_KEYS
        }
    return out


def _skipna(x):
    """A leaf term that is NaN (a null measure) adds nothing, as Spark's
    sum skips nulls."""
    return np.where(np.isnan(x), 0.0, x)


def _driver_stats(
    pdf, dimensions: list[str], cuboids: list[list[str]], max_elements: int | None
) -> tuple[dict[str, float], list[dict[tuple, dict[str, float]]]]:
    """The totals and _collect_stats_all's per-cuboid stats of a collected
    leaf frame: np.bincount sums over plans.cuboid's element ids, with the
    ripple ratio gathered back to the leaves, and the same max_elements
    cap (largest |V_e - F_e| first, then the lowest joined key)."""
    real = pdf["real"].to_numpy(dtype=float)
    predict = pdf["predict"].to_numpy(dtype=float)
    B, Q = map(_skipna, abs_and_square(NUMPY_OPS, real, predict))
    totals = {"N": float(len(pdf)), "B_tot": float(B.sum()), "Q_tot": float(Q.sum())}
    enc = factorize_attributes(pdf, dimensions)
    out = []
    for cuboid in cuboids:
        g = CuboidElements(enc, cuboid, np.ones(len(pdf), dtype=bool))
        V, Fs = g.sum(_skipna(real)), g.sum(_skipna(predict))
        with np.errstate(divide="ignore", invalid="ignore"):
            a = predict * ripple_ratio(NUMPY_OPS, V, Fs)[g.inv]
        A, P = map(_skipna, abs_and_square(NUMPY_OPS, real, a))
        n = np.bincount(g.inv, minlength=g.n).astype(float)
        cols = [c.tolist() for c in (n, V, Fs, g.sum(A), g.sum(B), g.sum(P), g.sum(Q))]
        keys = list(zip(*(enc[d][1][enc[d][0][g.first]] for d in cuboid)))
        keep = range(g.n)
        if max_elements is not None and g.n > max_elements:
            mag = np.abs(V - Fs).tolist()
            keep = sorted(keep, key=lambda i: (-mag[i], ELEM_SEP.join(keys[i])))[:max_elements]
        out.append({keys[i]: dict(zip(_STAT_KEYS, (c[i] for c in cols))) for i in keep})
    return totals, out


def _search(
    cuboids: list[list[str]],
    all_stats: list[dict[tuple, dict[str, float]]],
    totals: dict[str, float],
    pt: float,
    m: int,
    scoring: str,
    seed: int,
) -> dict[str, Any]:
    """The layer-by-layer search (ref hotspot.py:218-260) over each cuboid's
    element stats, ``cuboids`` in layer order: hierarchical pruning under
    ps, an MCTS per cuboid, an early return at ``pt``, else the best
    candidate."""
    rng = random.Random(seed)
    candidate_set: list[dict[str, Any]] = []
    for cuboid, stats in zip(cuboids, all_stats):
        layer = len(cuboid)
        # key order: the same on either path and any shuffle layout
        elements = sorted(stats)

        if scoring == "ps" and layer > 1:
            # hierarchical pruning (ref hotspot.py:203-209): keep
            # elements refining some previous-layer candidate
            prev = [
                c["elements"]
                for c in candidate_set
                if c["layer"] == layer - 1 and set(c["cuboid"]) < set(cuboid)
            ]
            for parent_sel in prev:
                elements = [
                    e
                    for e in elements
                    if any(set(pe) < set(e) for pe in parent_sel)
                ]

        scorer_obj = _SetScorer(stats, totals)
        score_fn = scorer_obj.ps if scoring == "ps" else scorer_obj.gps
        selected, score = _mcts(elements, score_fn, pt, m, rng)

        candidate = {
            "layer": layer,
            "cuboid": list(cuboid),
            "score": score,
            "elements": [list(e) for e in selected],
        }
        if candidate["score"] >= pt:
            return candidate
        candidate_set.append(candidate)

    # best by (score, -layer, -len(elements)) (ref hotspot.py:212-215)
    return sorted(
        candidate_set,
        key=lambda c: (c["score"], -c["layer"], -len(c["elements"])),
        reverse=True,
    )[0]


def hotspot(
    df: DataFrame,
    dimensions: list[str],
    pt: float = 0.67,
    m: int = 200,
    scoring: str = "gps",
    max_elements: int | None = 20_000,
    seed: int = 0,
    driver_rows: int | None = 200_000,
) -> dict[str, Any]:
    """Reference hotspot.py:218-260. Returns the best candidate dict.

    ``max_elements`` bounds the per-cuboid stats table (default 20k):
    elements are ranked by |V_e - F_e| — the anomaly magnitude that alone
    determines whether an element can contribute to a ps/gps score — and
    only the top slice reaches the MCTS. ``None`` restores the unbounded
    collect (test/debug only; at scale a cuboid can exceed driver memory).

    ``driver_rows`` picks the path as riskloc's does: ``limit(k+1).
    toPandas()`` probes the leaf frame and, at <= k rows, is the collect
    itself, summarized on the driver with no persist and no further Spark
    job; above k, or with ``None``, the frame is persisted and summarized
    by Spark. The path taken and why log at DEBUG."""
    assert scoring in ("ps", "gps")
    all_cuboids = [
        c
        for layer in range(1, len(dimensions) + 1)
        for c in cuboids_of_layer(dimensions, layer)
    ]
    pdf = driver_leaves(df, dimensions, ("real", "predict"), driver_rows, _log, "hotspot")
    if pdf is not None:
        totals, all_stats = _driver_stats(pdf, dimensions, all_cuboids, max_elements)
    else:
        # string-normalize attribute values once so driver-side set logic
        # is type-stable (reference operates on raw numpy tuples)
        df = df.select(
            *[F.coalesce(F.col(d).cast("string"), F.lit("None")).alias(d) for d in dimensions],
            "real", "predict",
        )
        try:
            df.persist()
            B, Q = abs_and_square(SPARK_OPS, F.col("real"), F.col("predict"))
            totals_row = df.agg(
                F.count(F.lit(1)).alias("N"), F.sum(B).alias("B_tot"), F.sum(Q).alias("Q_tot")
            ).first()
            totals = {k: float(totals_row[k] or 0.0) for k in ("N", "B_tot", "Q_tot")}
            # ALL cuboid stats in one fused job — pruning only filters the
            # driver-side element lists, so precollection is semantics-free
            all_stats = _collect_stats_all(df, all_cuboids, max_elements)
        finally:
            df.unpersist()
    return _search(all_cuboids, all_stats, totals, pt, m, scoring, seed)
