"""Adtributor and recursive (reverse) Adtributor.

Parity: reference algorithms/adtributor.py:6-43 and
rev_rec_adtributor.py:6-74. Both operators pick their path as riskloc
does (plans.collect.driver_leaves): a leaf frame of at most
``driver_rows`` rows is collected by the ``limit(k+1).toPandas()`` probe
and searched on the driver, with no further Spark job. Above the bound the
search is declarative: the per-dimension element merge is one explode +
groupBy, candidate selection a window cumsum over surprise-ordered
elements, and only the final (tiny) candidate sets are collected. Element
EP and surprise are the functions.scores definitions over one shared
totals pass, on every path: crossJoined totals, per-branch window totals,
and the pandas driver paths.
"""
from __future__ import annotations

import logging
from typing import Any

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from riskloc_spark.functions.scores import (
    NUMPY_OPS,
    SPARK_OPS,
    add_ep_and_surprise,
    explanatory_power,
    measures,
    surprise,
)
from riskloc_spark.plans.collect import driver_leaves
from riskloc_spark.plans.cuboid import CuboidElements, factorize_attributes

_log = logging.getLogger(__name__)


def merge_dimensions(df: DataFrame, dimensions: list[str], derived: bool) -> DataFrame:
    """Per-dimension element aggregates (ref adtributor.py:6-20) as ONE
    explode + ONE groupBy: each row fans out to a (dimension, element)
    struct per dimension, so the base frame is scanned once — the former
    per-dimension union re-derived the whole upstream lineage (for the
    RCA frame: the events aggregation) once per dimension.

    Output: element (string), summed measures, dimension.
    """
    ms = measures(derived)
    structs = [
        F.struct(
            F.lit(d).alias("dimension"),
            F.coalesce(F.col(d).cast("string"), F.lit("None")).alias("element"),
        )
        for d in dimensions
    ]
    elements = (
        df.select(F.explode(F.array(*structs)).alias("de"), *ms)
        .groupBy(
            F.col("de.dimension").alias("dimension"),
            F.col("de.element").alias("element"),
        )
        .agg(*[F.sum(m).alias(m) for m in ms])
        .select("element", *ms, "dimension")
    )
    if derived:
        elements = elements.withColumn(
            "predict", F.col("predict_a") / F.col("predict_b")
        ).withColumn("real", F.col("real_a") / F.col("real_b"))
    return elements


def _scored_elements(df: DataFrame, dimensions: list[str], derived: bool) -> DataFrame:
    # checkpoint: the EP and surprise scalar-total subqueries plus the
    # main frame would each re-derive the merge (and its whole upstream
    # lineage) otherwise — measured 24 base-table scans for the plain
    # adtributor element query before. The frame is one row per
    # (dimension, element).  Lazy localCheckpoint rather than persist
    # (r16): a lazy result frame has no unpersist hook, so a
    # CacheManager entry would leak for the session, and the truncated
    # lineage keeps every consumer's plan element-sized
    # (ContextCleaner reclaims the checkpoint once the frame is GC'd —
    # the evaluation.py / trigram_lm_scores pattern).
    from riskloc_spark.operators.dedup import reuse_checkpoint

    elements = reuse_checkpoint(merge_dimensions(df, dimensions, derived))
    return add_ep_and_surprise(elements, derived, merged_divide=len(dimensions))


def _ranked(elements: DataFrame, teep: float, tep: float) -> DataFrame:
    """Each dimension's elements in surprise-desc order (element-asc
    tiebreak) with their row number ``rn``, the running EP of the
    qualifying (ep > teep) elements ``cum_ep``, the running surprise of
    all elements ``cum_surprise`` (the reference's asymmetry,
    adtributor.py:32-37), and ``stop_rn``: the first qualifying row whose
    cum_ep exceeds tep."""
    w_full = Window.partitionBy("dimension").orderBy(
        F.col("surprise").desc(), F.col("element").asc()
    )
    qual_ep = F.when(F.col("ep") > teep, F.col("ep")).otherwise(F.lit(0.0))
    ranked = (
        elements.withColumn("rn", F.row_number().over(w_full))
        .withColumn("cum_ep", F.sum(qual_ep).over(w_full))
        .withColumn("cum_surprise", F.sum("surprise").over(w_full))
    )
    return ranked.withColumn(
        "stop_rn",
        F.min(
            F.when((F.col("ep") > teep) & (F.col("cum_ep") > tep), F.col("rn"))
        ).over(Window.partitionBy("dimension")),
    )


def adtributor_candidates(
    df: DataFrame,
    dimensions: list[str],
    teep: float = 0.1,
    tep: float = 0.1,
    derived: bool = False,
) -> DataFrame:
    """Declarative core of adtributor: the per-dimension candidate
    elements (surprise-ordered qualifying prefix until cum EP > tep), as a
    DataFrame — used directly by the oracle-checked query surface."""
    ranked = _ranked(_scored_elements(df, dimensions, derived), teep, tep)
    return ranked.filter(
        (F.col("rn") <= F.col("stop_rn")) & (F.col("ep") > teep)
    ).select("dimension", "element", "ep", "surprise")


def _adtributor_pd(pdf, dimensions, teep, tep, k, derived):
    """adtributor's search over a collected leaf frame: the Spark path's
    ranking, prefix walk and top-k, on _scored_elements_pd's elements."""
    enc = factorize_attributes(pdf, dimensions)
    el = _scored_elements_pd(pdf, enc, np.ones(len(pdf), dtype=bool), dimensions, derived)
    cands = []
    for d in dimensions:
        g = el[el["dimension"] == d].sort_values(
            ["surprise", "element"], ascending=[False, True], kind="stable"
        )
        ep = g["ep"].to_numpy()
        qual = ep > teep
        cum_ep = np.cumsum(np.where(qual, ep, 0.0))
        stop = np.flatnonzero(qual & (cum_ep > tep))
        if not len(stop):
            continue
        s = stop[0] + 1
        cands.append({
            "elements": g["element"].to_numpy()[:s][qual[:s]].tolist(),
            "explanatory_power": float(cum_ep[s - 1]),
            "surprise": float(np.nansum(g["surprise"].to_numpy()[:s])),
            "dimension": d,
        })
    return sorted(cands, key=lambda c: c["surprise"], reverse=True)[:k]


def adtributor(
    df: DataFrame,
    dimensions: list[str],
    teep: float = 0.1,
    tep: float = 0.1,
    k: int = 3,
    derived: bool = False,
    driver_rows: int | None = 200_000,
) -> list[dict[str, Any]]:
    """Reference adtributor.py:23-43. Per dimension: walk elements in
    surprise-desc order, accumulate EP of elements with ep > teep until the
    cumulative EP exceeds tep; that prefix is the candidate.

    ``driver_rows`` picks the path as riskloc's does: at <= k leaves the
    probe is the collect and the search runs on the driver
    (_adtributor_pd); above k, or with ``None``, it runs on Spark. The
    path taken and why log at DEBUG."""
    pdf = driver_leaves(df, dimensions, measures(derived), driver_rows, _log, "adtributor")
    if pdf is not None:
        return _adtributor_pd(pdf, dimensions, teep, tep, k, derived)
    # Walk elements in surprise-desc order; the candidate's surprise is
    # the cumsum over ALL elements up to the stop row (_ranked).
    ranked = _ranked(_scored_elements(df, dimensions, derived), teep, tep)
    picked = ranked.filter(F.col("rn") <= F.col("stop_rn"))

    cands = (
        picked.groupBy("dimension")
        .agg(
            F.sort_array(
                F.collect_list(
                    F.when(F.col("ep") > teep, F.struct("rn", "element"))
                )
            ).alias("ordered"),
            F.max(
                F.when(F.col("rn") == F.col("stop_rn"), F.col("cum_ep"))
            ).alias("explanatory_power"),
            F.max(
                F.when(F.col("rn") == F.col("stop_rn"), F.col("cum_surprise"))
            ).alias("surprise"),
        )
        .orderBy(F.col("surprise").desc())
        .limit(k)
        .collect()
    )
    return [
        {
            "elements": [e["element"] for e in row["ordered"]],
            "explanatory_power": row["explanatory_power"],
            "surprise": row["surprise"],
            "dimension": row["dimension"],
        }
        for row in cands
    ]


def rev_adtributor_candidates(
    df: DataFrame,
    dimensions: list[str],
    teep: float = 0.1,
    k: int = 3,
    derived: bool = False,
) -> DataFrame:
    """Declarative core of rev_adtributor (ref rev_rec_adtributor.py:15-34)
    as a DataFrame: candidate elements (ep > teep) of the top-k dimensions
    whose candidates form a strict subset of the dimension's elements.

    Dimension stats aggregate to #dims rows (tiny), so the top-k pick is a
    sorted limit and the fan-back to elements is a broadcast join — no
    second shuffle of the element frame."""
    elements = _scored_elements(df, dimensions, derived)
    dim_stats = (
        elements.groupBy("dimension")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.sum(F.when(F.col("ep") > teep, 1).otherwise(0)).alias("n_cand"),
            F.sum(F.when(F.col("ep") > teep, F.col("surprise"))).alias("dim_surprise"),
        )
        .filter((F.col("n_cand") > 0) & (F.col("n_cand") < F.col("n_total")))
        .orderBy(F.col("dim_surprise").desc(), F.col("dimension").asc())
        .limit(k)
    )
    return elements.filter(F.col("ep") > teep).join(
        F.broadcast(dim_stats.select("dimension")), "dimension"
    ).select("dimension", "element", "ep", "surprise")


def _refine_and_dedupe(explanatory_set, dimensions, make_child):
    """Shared recursion body of rev_rec_adtributor (ref
    rev_rec_adtributor.py:37-74): drill each candidate element into the
    remaining dimensions via ``make_child(cand_set, element, remaining)``;
    a refinement replaces its parent only if EVERY element refines."""
    new_explanatory_set: list[dict[str, Any]] = []
    for cand_set in explanatory_set:
        cand_set["elements"] = [[e] for e in cand_set["elements"]]
        cand_set["cuboid"] = [cand_set["dimension"]]
        remaining = sorted(set(dimensions) - {cand_set["dimension"]})

        refined: list[dict[str, Any]] = []
        if remaining:
            for element in cand_set["elements"]:
                child = make_child(cand_set, element, remaining)
                if not child:
                    refined = []
                    break
                for es in child:
                    es["elements"] = [sorted(e + element) for e in es["elements"]]
                    es["explanatory_power"] = (
                        es["explanatory_power"] * cand_set["explanatory_power"]
                    )
                    es["cuboid"] = sorted(cand_set["cuboid"] + es["cuboid"])
                refined.extend(child)

        if refined:
            new_explanatory_set.extend(refined)
        else:
            new_explanatory_set.append(cand_set)

    # dedupe (ref rev_rec_adtributor.py:6-12)
    seen: dict[str, dict[str, Any]] = {}
    for cs in new_explanatory_set:
        key = "".join(
            "".join(e) if isinstance(e, list) else e for e in cs["elements"]
        )
        seen.setdefault(key, cs)
    return list(seen.values())


# --------------------------------------------------------------------------
# driver-side search (adaptive fast-path, same pattern as
# riskloc/autoroot/squeeze): the recursion launches a full
# element aggregation per candidate element per depth — dozens of tiny
# sequential Spark jobs. When the leaf frame is driver-sized, the whole
# recursion runs locally on plans.cuboid's kernel over one encoding of the
# leaves; parity-tested vs the distributed path.
# --------------------------------------------------------------------------

def _score_element_frame(el, n_dims: int, derived: bool):
    """EP + surprise (merged_divide=n_dims) over a merged pandas element
    frame with summed measures: the pandas half of _scored_elements."""
    if derived:
        el["predict"] = el["predict_a"] / el["predict_b"]
        el["real"] = el["real_a"] / el["real_b"]
    totals = {m: el[m].sum() for m in measures(derived)}
    ep = explanatory_power(el.__getitem__, totals.__getitem__, derived)
    el["ep"] = ep / ep.sum() if derived else ep
    el["surprise"] = surprise(
        NUMPY_OPS, el.__getitem__, totals.__getitem__, derived, n_dims
    )
    return el


def _scored_elements_pd(pdf, enc, mask, dimensions: list[str], derived: bool):
    """_scored_elements on the driver over the leaves ``mask`` selects:
    each dimension's element sums from plans.cuboid's kernel over the one
    encoding ``enc``, elements numbered by first appearance, then EP +
    surprise with merged_divide=len(dimensions)."""
    import pandas as pd

    ms = measures(derived)
    cols: dict[str, list] = {"element": [], "dimension": [], **{m: [] for m in ms}}
    for d in dimensions:
        g = CuboidElements(enc, [d], mask)
        cols["element"].append(np.asarray(enc[d][1], dtype=object)[enc[d][0][g.first]])
        cols["dimension"].append(np.full(g.n, d, dtype=object))
        for m in ms:  # a null measure adds nothing, as pandas' sum skips it
            x = pdf[m].to_numpy(dtype=float)[g.rows]
            cols[m].append(g.sum(np.where(np.isnan(x), 0.0, x)))
    el = pd.DataFrame({c: np.concatenate(v) for c, v in cols.items()})
    return _score_element_frame(el, len(dimensions), derived)


def _rev_candidates_from_elements(el, dimensions, teep, k):
    """Rev-adtributor candidate selection over a scored element frame:
    ep > teep, strict subset of the dimension's elements, top-k dims by
    candidate surprise (dimension-asc tiebreak)."""
    causes = []
    for dim in dimensions:
        g = el[el["dimension"] == dim]
        cand = g[g["ep"] > teep]
        if len(cand) == 0 or len(cand) >= len(g):
            continue
        causes.append(
            {
                "elements": sorted(cand["element"]),
                "explanatory_power": float(cand["ep"].sum()),
                "surprise": float(cand["surprise"].sum()),
                "dimension": dim,
            }
        )
    causes.sort(key=lambda c: (-c["surprise"], c["dimension"]))
    return causes[:k]


def _rev_rec_adtributor_pd(pdf, dimensions, teep, k, derived):
    """The recursion on the driver: each child narrows a row mask over
    one encoding of the leaves to its parent element's rows."""
    enc = factorize_attributes(pdf, dimensions)

    def search(mask, dims):
        el = _scored_elements_pd(pdf, enc, mask, dims, derived)
        explanatory_set = _rev_candidates_from_elements(el, dims, teep, k)

        def make_child(cand_set, element, remaining):
            codes, uniques = enc[cand_set["dimension"]]
            return search(mask & (codes == uniques.get_loc(element[0])), remaining)

        return _refine_and_dedupe(explanatory_set, dims, make_child)

    return search(np.ones(len(pdf), dtype=bool), dimensions)


def _rev_rec_distributed_fused(
    df, dimensions, teep, k, derived, max_candidates_per_dim: int = 10_000
):
    """Distributed rev_rec_adtributor with ONE explode job per recursion
    DEPTH (not per candidate element): every live branch's sub-frame
    element sums are computed together — each row fans out to one
    (branch, dim, value) struct per matching branch context. EP and
    surprise are scored DISTRIBUTED (the functions.scores formulas over
    per-branch window totals), the ``ep > teep`` candidate filter applies
    before any exchange to the driver, and a rank window caps the
    collect at ``max_candidates_per_dim`` rows per (branch, dimension) —
    so a user-id-like attribute with millions of elements collects at
    most the cap, never the cardinality. Per-candidate-set EP/surprise
    sums and the strict-subset counts come from exact window aggregates
    over the FULL (pre-cap) candidate set, so the cap can only truncate
    a pathological candidate *list* (> cap elements above teep), never
    skew the scores; truncation drops the lowest-EP elements.

    The driver then replays the reference's refine/merge semantics over
    the collected tree. Jobs = recursion depth, versus
    O(k * elements^depth) sequential aggregations before."""
    import copy

    ms = measures(derived)

    # node: (id, context [(dim, val), ...], dims list)
    nodes = {0: ([], sorted(dimensions))}
    computed: dict[int, list[dict[str, Any]]] = {}
    children: dict[tuple[int, str, str], int] = {}
    level = [0]
    next_id = 1

    while level:
        structs = []
        for nid in level:
            ctx, dims = nodes[nid]
            pred = None
            for d, v in ctx:
                eq = F.coalesce(
                    F.col(d).cast("string"), F.lit("None")
                ) == F.lit(v)
                pred = eq if pred is None else (pred & eq)
            for d in dims:
                s = F.struct(
                    F.lit(nid).alias("nid"),
                    F.lit(d).alias("dim"),
                    F.coalesce(
                        F.col(d).cast("string"), F.lit("None")
                    ).alias("element"),
                )
                structs.append(s if pred is None else F.when(pred, s))

        el = (
            df.select(
                F.explode(F.array(*structs)).alias("ce"),
                *[F.col(m).cast("double").alias(m) for m in ms],
            )
            .filter(F.col("ce").isNotNull())
            .groupBy("ce.nid", "ce.dim", "ce.element")
            .agg(*[F.sum(m).alias(m) for m in ms])
            .select(
                F.col("nid"), F.col("dim"), F.col("element"), *ms
            )
        )

        # per-branch totals via window sums (the old path collected the
        # whole element frame and scored in pandas — unbounded for
        # high-cardinality dims)
        w_nid = Window.partitionBy("nid")
        w_nd = Window.partitionBy("nid", "dim")
        # n_dims varies per branch; known on the driver -> literal map
        nd_map = F.create_map(
            *[
                lit
                for nid in level
                for lit in (F.lit(nid), F.lit(float(len(nodes[nid][1]))))
            ]
        )
        nd = nd_map[F.col("nid")]

        def tot(m):
            return F.sum(m).over(w_nid)

        ep = explanatory_power(F.col, tot, derived)
        if derived:
            el = el.withColumn("__ept", ep)
            ep = F.col("__ept") / F.sum("__ept").over(w_nid)
        el = el.withColumn("ep", ep)
        el = el.withColumn(
            "surprise", surprise(SPARK_OPS, F.col, tot, derived, nd)
        ).withColumn(
            "__ng", F.count(F.lit(1)).over(w_nd)
        )

        cand = (
            el.filter(F.col("ep") > teep)
            .withColumn("__ncand", F.count(F.lit(1)).over(w_nd))
            .withColumn("__ep_sum", F.sum("ep").over(w_nd))
            .withColumn("__sur_sum", F.sum("surprise").over(w_nd))
        )
        w_rank = Window.partitionBy("nid", "dim").orderBy(
            F.col("ep").desc(), F.col("element").asc()
        )
        rows = (
            cand.withColumn("__rn", F.row_number().over(w_rank))
            .filter(F.col("__rn") <= max_candidates_per_dim)
            .select(
                "nid", "dim", "element", "__ng", "__ncand",
                "__ep_sum", "__sur_sum",
            )
            .collect()
        )

        by_nd: dict[tuple[int, str], list] = {}
        for r in rows:
            by_nd.setdefault((r["nid"], r["dim"]), []).append(r)
        new_level = []
        for nid in level:
            ctx, dims = nodes[nid]
            causes = []
            for dim in dims:
                rs = by_nd.get((nid, dim))
                if not rs:
                    continue
                r0 = rs[0]
                # candidate set must be a strict subset of the dimension's
                # elements (counts are exact pre-cap window aggregates)
                if r0["__ncand"] >= r0["__ng"]:
                    continue
                causes.append(
                    {
                        "elements": sorted(r["element"] for r in rs),
                        "explanatory_power": float(r0["__ep_sum"]),
                        "surprise": float(r0["__sur_sum"]),
                        "dimension": dim,
                    }
                )
            causes.sort(key=lambda c: (-c["surprise"], c["dimension"]))
            cands = causes[:k]
            computed[nid] = cands
            for cand_set in cands:
                remaining = sorted(set(dims) - {cand_set["dimension"]})
                if not remaining:
                    continue
                for element in cand_set["elements"]:
                    cid = next_id
                    next_id += 1
                    nodes[cid] = (
                        ctx + [(cand_set["dimension"], element)], remaining
                    )
                    children[(nid, cand_set["dimension"], element)] = cid
                    new_level.append(cid)
        level = new_level

    def build(nid: int) -> list[dict[str, Any]]:
        ctx, dims = nodes[nid]
        expl = copy.deepcopy(computed[nid])

        def make_child(cand_set, element, remaining):
            cid = children.get((nid, cand_set["dimension"], element[0]))
            return build(cid) if cid is not None else []

        return _refine_and_dedupe(expl, dims, make_child)

    return build(0)


def rev_rec_adtributor(
    df: DataFrame,
    dimensions: list[str],
    teep: float = 0.1,
    k: int = 3,
    derived: bool = False,
    driver_rows: int | None = 200_000,
    max_candidates_per_dim: int = 10_000,
) -> list[dict[str, Any]]:
    """Recursive refinement (ref rev_rec_adtributor.py:37-74): each
    candidate element is drilled into over the remaining dimensions; if
    every child yields a deeper explanation, the refined set replaces the
    parent.

    Adaptive like riskloc: when the leaf frame is driver-sized (cheap
    limit-probe fused with the collect), the whole recursion runs
    vectorized on pandas. ``driver_rows=None`` forces the distributed
    path, where each recursion DEPTH is one fused explode job across all
    live branches (_rev_rec_distributed_fused). Both paths share the
    recursion body (_refine_and_dedupe) and the candidate-selection /
    scoring code, and are parity-tested. The path taken and why log at
    DEBUG."""
    pdf = driver_leaves(df, dimensions, measures(derived), driver_rows, _log, "rev_rec_adtributor")
    if pdf is not None:
        return _rev_rec_adtributor_pd(pdf, dimensions, teep, k, derived)
    return _rev_rec_distributed_fused(
        df, dimensions, teep, k, derived,
        max_candidates_per_dim=max_candidates_per_dim,
    )
