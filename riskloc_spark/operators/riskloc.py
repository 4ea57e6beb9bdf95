"""RiskLoc: weighted-risk root cause localization.

Parity target: reference algorithms/riskloc.py:167-215 (search loop
:99-164, scores :50-72). Re-expressed Spark-first:

* The reference scores one element at a time with boolean masks — an
  O(#elements) sequence of full-frame passes. Here every element of a
  cuboid is scored in ONE ``groupBy(cuboid)`` pass: the low-risk group
  sums come from a window partitioned by the cuboid keys (same hash
  partitioning as the groupBy, so one shuffle total), and the element
  chosen is the max-EP row with risk >= threshold.
* The layer/iteration orchestration stays on the driver, with state of
  O(#root-causes + #pruned-values) — unless the leaf frame is
  driver-sized and collected whole (``_riskloc_driver``).
"""
from __future__ import annotations

import logging
from functools import reduce
from operator import and_, or_
from typing import Any

import numpy as np
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from riskloc_spark.data import local_rows_df

from riskloc_spark.functions.scores import (
    NUMPY_OPS,
    SPARK_OPS,
    add_deviation_score,
    add_explanatory_power,
    add_partition,
    add_weight,
    deviation,
    explanatory_power,
    get_cutoff,
    measures,
    partition,
    pick_cutoff,
    relative_n_remove,
    weight,
)
from riskloc_spark.functions.search_terms import rescaled_abs_deviation, risk_scores
from riskloc_spark.plans.cuboid import (
    DECIMAL_EXACT, ELEM_SEP, CuboidElements, cuboids_of_layer, elem_expr, factorize_attributes,
)
from riskloc_spark.plans.collect import driver_leaves

_log = logging.getLogger(__name__)


def _layer_scores(
    df: DataFrame,
    cuboids: list[list[str]],
    pruned: dict | None,
    exact_sums: bool = False,
) -> DataFrame:
    """Per-element riskloc scores for ALL cuboids of a layer in ONE shuffle.

    Each input row explodes into one (cuboid_idx, element-key) pair per
    cuboid (null — dropped — when a dimension value was pruned, ref
    riskloc.py:75-86); a single window + groupBy on (cid, elem) then
    scores every element of every cuboid in the layer. The window and the
    groupBy share the same hash partitioning, so the whole layer costs one
    exchange of #cuboids x |df| rows — versus the reference's one
    full-frame pass per *element* (riskloc.py:99-164).
    """
    structs = []
    for idx, cuboid in enumerate(cuboids):
        elem = elem_expr(cuboid)
        s = F.struct(F.lit(idx).alias("cid"), elem.alias("elem"))
        excl = None
        if pruned:
            for dim in cuboid:
                values = pruned.get((dim,))
                if values:
                    e = F.coalesce(
                        F.col(dim).cast("string"), F.lit("None")
                    ).isin(values)
                    excl = e if excl is None else (excl | e)
        structs.append(s if excl is None else F.when(~excl, s))

    ex = (
        df.select(
            F.explode(F.array(*structs)).alias("ce"),
            "real",
            "predict",
            "ep",
            "ep_z",
            "partition",
            "weight",
            "deviation",
        )
        .filter(F.col("ce").isNotNull())
        .select(F.col("ce.cid").alias("cid"), F.col("ce.elem").alias("elem"), "*")
        .drop("ce")
    )

    w = Window.partitionBy("cid", "elem")
    valid = (F.col("real") != 0) & (F.col("predict") != 0)

    def _wsum(term):
        # exact_sums: DECIMAL window sums are order-independent, so the
        # oracle gate surface is stable across runs (search path: doubles).
        if exact_sums:
            return F.sum(term.cast(DECIMAL_EXACT)).over(w).cast("double")
        return F.sum(term).over(w)

    # low-risk needs R,P sums over the element's valid rows (ref
    # riskloc.py:57-72); the window gives them per-row.
    R = _wsum(F.when(valid, F.col("real")))
    P = _wsum(F.when(valid, F.col("predict")))
    absd = rescaled_abs_deviation(SPARK_OPS, F.col("real"), F.col("predict"), R, P)

    ex = ex.withColumn("__absd", F.when(valid, absd)).withColumn(
        "__absdev", F.when(valid, F.abs(F.col("deviation")))
    )

    def _sum(term):
        if exact_sums:
            return F.sum(term.cast(DECIMAL_EXACT)).cast("double")
        return F.sum(term)

    def _avg(name):
        if exact_sums:
            # avg as exact-sum / non-null count (F.avg on doubles is
            # order-dependent via its partial sums).
            return F.sum(F.col(name).cast(DECIMAL_EXACT)).cast("double") / F.count(name)
        return F.avg(name)

    agg = ex.groupBy("cid", "elem").agg(
        F.coalesce(
            _sum(F.when(F.col("partition") == 1, F.col("weight"))), F.lit(0.0)
        ).alias("n_anom"),
        F.coalesce(
            _sum(F.when(F.col("partition") == 0, F.col("weight"))), F.lit(0.0)
        ).alias("n_norm"),
        _sum(F.col("ep")).alias("ep"),
        _sum(F.col("ep_z")).alias("ep_z"),
        F.sum("partition").alias("part_sum"),
        _avg("__absd").alias("w1"),
        _avg("__absdev").alias("w2"),
    )

    c = F.col
    high, low, risk = risk_scores(SPARK_OPS, c("n_anom"), c("n_norm"), c("w1"), c("w2"))
    return agg.withColumns({"high": high, "low": low, "risk": risk})


def search_anomaly(
    df: DataFrame,
    attributes: list[str],
    pruned: dict | None,
    risk_threshold: float,
    adj_ep_threshold: float,
    need_ep_sum: bool = False,
) -> tuple[dict[str, Any] | None, dict | None, float | None]:
    """One search pass (ref riskloc.py:99-164): first layer containing a
    root cause wins; within a layer the max-EP valid element wins (ties →
    earlier cuboid, matching the reference's strict-improvement scan).

    All cuboids of a layer are evaluated in ONE Spark job (see
    _layer_scores): element scores are reduced to each cuboid's top
    candidate (window rank on EP) plus its prune rows and collected
    together — the driver sees O(#cuboids + #pruned values) rows, never
    leaves. With ``need_ep_sum`` the caller's anomaly-EP stop-check scalar
    rides along in the layer-1 job as one extra unioned row, saving a
    separate action per iteration.
    """
    ep_sum: float | None = None
    # two jobs per pass: layer 1 alone (it feeds the prune dict used by
    # deeper layers), then layers 2..n fused into one explode job — prunes
    # only ever come from layer 1, so fusing the rest is semantics-free.
    n_attrs = len(attributes)
    groups: list[tuple[list[int], list[tuple[int, list[str]]]]] = []
    groups.append(([1], [(1, c) for c in cuboids_of_layer(attributes, 1)]))
    if n_attrs > 1:
        deep = [
            (layer, c)
            for layer in range(2, n_attrs + 1)
            for c in cuboids_of_layer(attributes, layer)
        ]
        groups.append((list(range(2, n_attrs + 1)), deep))

    for group_layers, layer_cuboids in groups:
        layer = group_layers[0]
        cuboids = [c for _, c in layer_cuboids]
        scores = _layer_scores(df, cuboids, pruned)

        cand = (
            scores.filter(
                (F.col("part_sum") > 0)
                & (F.col("ep") > F.lit(adj_ep_threshold))
                & (F.col("risk") >= F.lit(risk_threshold))
            )
            .withColumn(
                "__rn",
                F.row_number().over(
                    Window.partitionBy("cid").orderBy(F.col("ep").desc())
                ),
            )
            .filter(F.col("__rn") == 1)
            .select(
                F.col("cid").alias("cuboid_idx"),
                F.lit("cand").alias("kind"),
                F.col("elem").alias("element"),
                "ep",
                "high",
                "low",
                "risk",
            )
        )
        parts = [cand]

        if pruned is not None and layer <= 1:
            # newly prunable values (ref riskloc.py:89-96)
            parts.append(
                scores.filter(
                    (F.col("ep_z") < adj_ep_threshold) | (F.col("part_sum") == 0)
                ).select(
                    F.col("cid").alias("cuboid_idx"),
                    F.lit("prune").alias("kind"),
                    F.col("elem").alias("element"),
                    F.lit(0.0).alias("ep"),
                    F.lit(0.0).alias("high"),
                    F.lit(0.0).alias("low"),
                    F.lit(0.0).alias("risk"),
                )
            )
        if need_ep_sum and layer == 1:
            parts.append(
                df.agg(
                    F.coalesce(
                        F.sum(F.when(F.col("partition") == 1, F.col("ep"))), F.lit(0.0)
                    ).alias("ep")
                ).select(
                    F.lit(-1).alias("cuboid_idx"),
                    F.lit("epsum").alias("kind"),
                    F.lit("").alias("element"),
                    "ep",
                    F.lit(0.0).alias("high"),
                    F.lit(0.0).alias("low"),
                    F.lit(0.0).alias("risk"),
                )
            )

        rows = reduce(lambda a, b: a.unionByName(b), parts).collect()

        for r in rows:
            if r["kind"] == "epsum":
                ep_sum = float(r["ep"])
        if need_ep_sum and layer == 1 and ep_sum is not None and ep_sum < adj_ep_threshold:
            # caller's stop condition (ref riskloc.py:183) — abandon pass
            return None, pruned, ep_sum

        if pruned is not None and layer <= 1:
            for r in rows:
                if r["kind"] == "prune":
                    pruned.setdefault(tuple(cuboids[r["cuboid_idx"]]), []).append(
                        r["element"]
                    )

        # reference scan order: lowest layer wins; within a layer, cuboid
        # order with strict EP improvement
        cands = [r for r in rows if r["kind"] == "cand"]
        for lyr in group_layers:
            best: dict[str, Any] = {"ep_score": adj_ep_threshold}
            for r in sorted(
                (r for r in cands if layer_cuboids[r["cuboid_idx"]][0] == lyr),
                key=lambda r: r["cuboid_idx"],
            ):
                if r["ep"] > best["ep_score"]:
                    cuboid = cuboids[r["cuboid_idx"]]
                    best = {
                        "elements": [tuple(r["element"].split(ELEM_SEP))],
                        "high risk score": r["high"],
                        "low risk score": r["low"],
                        "risk score": r["risk"],
                        "ep_score": r["ep"],
                        "layer": lyr,
                        "cuboid": list(cuboid),
                    }
            if "elements" in best:
                return best, pruned, ep_sum
    return None, pruned, ep_sum


def _leaf_terms(real, predict, dev, ep, part, w) -> dict[str, Any]:
    """Per-leaf arrays of the driver search. Summed terms read NaN as 0,
    as pandas' skipna sums do; w2 is |deviation| on valid leaves, else NaN."""
    real, predict, dev, ep = (np.asarray(x, dtype=float) for x in (real, predict, dev, ep))
    valid = (real != 0) & (predict != 0)
    sums = dict(
        n_anom=np.where(part == 1, w, 0.0), n_norm=np.where(part == 0, w, 0.0),
        ep=ep, ep_z=np.clip(ep, 0.0, None), part_sum=part,
        R=np.where(valid, real, 0.0), P=np.where(valid, predict, 0.0),
    )
    leaf = {k: np.where(np.isnan(v), 0.0, v) for k, v in sums.items()}
    return {**leaf, "real": real, "predict": predict, "valid": valid,
            "w2": np.where(valid, np.abs(dev), np.nan)}


def _element_scores(leaf: dict[str, Any], g: CuboidElements) -> dict[str, Any]:
    """Per-element riskloc statistics and risk scores of one cuboid, from
    the functions.search_terms formulas _layer_scores uses."""
    t = {k: v[g.rows] for k, v in leaf.items()}
    s = {k: g.sum(t[k]) for k in ("n_anom", "n_norm", "ep", "ep_z", "part_sum")}
    with np.errstate(invalid="ignore", divide="ignore"):
        R, P = g.sum(t["R"])[g.inv], g.sum(t["P"])[g.inv]
        absd = rescaled_abs_deviation(NUMPY_OPS, t["real"], t["predict"], R, P)
    s["w1"] = g.mean(np.where(t["valid"], absd, np.nan))
    s["w2"] = g.mean(t["w2"])
    s["high"], s["low"], s["risk"] = risk_scores(
        NUMPY_OPS, s["n_anom"], s["n_norm"], s["w1"], s["w2"]
    )
    return s


def _driver_search(leaf, enc, active, pruned, risk_threshold, adj_ep_threshold):
    """search_anomaly over the ``active`` leaves of a collected frame: same
    layer order, per-cuboid strict-EP scan and prune bookkeeping (``pruned``
    updated in place, applied as masks over each dim's uniques). Returns
    (cause, row of one of its leaves) or None."""
    for layer in range(1, len(enc) + 1):
        best = None
        for cuboid in cuboids_of_layer(list(enc), layer):
            sel = active
            for dim in cuboid if pruned else ():
                codes, uniques = enc[dim]
                sel = sel & ~np.isin(uniques, pruned.get((dim,), []))[codes]
            g = CuboidElements(enc, cuboid, sel)
            s = _element_scores(leaf, g)
            if pruned is not None and layer == 1:
                (dim,) = cuboid
                codes = enc[dim][0][g.first[(s["ep_z"] < adj_ep_threshold) | (s["part_sum"] == 0)]]
                pruned.setdefault((dim,), []).extend(enc[dim][1][codes])
            cand = np.flatnonzero(
                (s["part_sum"] > 0) & (s["ep"] > adj_ep_threshold) & (s["risk"] >= risk_threshold)
            )
            if len(cand):
                top = cand[np.argmax(s["ep"][cand])]  # first max, as idxmax
                if best is None or s["ep"][top] > best[0]:  # strict, as the reference
                    best = (s["ep"][top], s, top, g.first[top], cuboid)
        if best is not None:
            _, s, top, row, cuboid = best
            return {
                "elements": [tuple(str(enc[d][1][enc[d][0][row]]) for d in cuboid)],
                "high risk score": float(s["high"][top]),
                "low risk score": float(s["low"][top]),
                "risk score": float(s["risk"][top]),
                "ep_score": float(s["ep"][top]),
                "layer": layer,
                "cuboid": list(cuboid),
            }, row
    return None


def _riskloc_driver(
    pdf, attributes: list[str], risk_threshold: float, pep_threshold: float, n_remove: int,
    remove_relative: bool, prune_elements: bool, max_iterations: int, derived: bool,
) -> list[dict[str, Any]]:
    """Driver-side search over a collected RAW leaf frame (attrs as
    string, real, predict [+ a/b measures when derived]). EP and
    deviation are computed here — in the distributed plan the EP global
    sums are a broadcast subquery that recomputes the leaf frame inside
    the same action, so collecting raw and scoring locally saves a full
    extra pass. The scores come from the functions.scores formulas of the
    distributed path, and the search groups with plans.cuboid's kernel."""
    dev = deviation(NUMPY_OPS, pdf["real"], pdf["predict"])
    totals = {m: pdf[m].sum() for m in measures(derived)}
    ep = explanatory_power(pdf.__getitem__, totals.__getitem__, derived)
    if derived:
        ep = ep / ep.sum()

    devs = np.unique(dev)  # sorted ascending
    if remove_relative:
        n_remove = relative_n_remove(n_remove, len(devs))
    cutoff = pick_cutoff(devs[: n_remove + 1], devs[-(n_remove + 1):])
    part = partition(NUMPY_OPS, dev, cutoff)
    w = weight(NUMPY_OPS, dev, pdf["real"], pdf["predict"], part, cutoff)

    ep, anom = np.asarray(ep, dtype=float), part == 1
    if np.nansum(ep[anom]) < 0:
        ep = -ep
    adj_ep_threshold = float(np.nansum(ep[anom])) * pep_threshold
    leaf = _leaf_terms(pdf["real"], pdf["predict"], dev, ep, part, w)

    enc = factorize_attributes(pdf, attributes)
    root_causes: list[dict[str, Any]] = []
    pruned: dict | None = {} if prune_elements else None
    active = np.ones(len(pdf), dtype=bool)
    for _ in range(max_iterations):
        if float(leaf["ep"][active & anom].sum()) < adj_ep_threshold:
            break
        found = _driver_search(leaf, enc, active, pruned, risk_threshold, adj_ep_threshold)
        if found is None:
            break
        rc, row = found
        root_causes.append(rc)
        active = active & ~np.logical_and.reduce(
            [enc[d][0] == enc[d][0][row] for d in rc["cuboid"]]
        )
    return root_causes


def riskloc(
    df: DataFrame,
    attributes: list[str],
    risk_threshold: float = 0.5,
    pep_threshold: float = 0.02,
    n_remove: int = 5,
    remove_relative: bool = False,
    derived: bool = False,
    prune_elements: bool = True,
    max_iterations: int = 50,
    driver_rows: int | None = 200_000,
) -> list[dict[str, Any]]:
    """Full RiskLoc (ref riskloc.py:167-215). Returns reference-shaped
    root-cause dicts.

    The path adapts to the data, as AQE does: ``limit(k+1).toPandas()``
    (k = ``driver_rows``) probes the leaf frame and, at <= k rows, is the
    collect itself; the frame is then scored and searched on the driver,
    sparing the distributed search's 20-odd tiny sequential Spark jobs.
    Both paths use the single definitions in functions.scores and
    functions.search_terms and are parity-tested; ``driver_rows=None``
    forces the distributed path. The path taken and why log at DEBUG."""
    cols = ("real", "predict") + (measures(True) if derived else ())
    pdf = driver_leaves(df, attributes, cols, driver_rows, _log, "riskloc")
    if pdf is not None:
        return _riskloc_driver(pdf, attributes, risk_threshold, pep_threshold, n_remove,
                               remove_relative, prune_elements, max_iterations, derived)

    df = add_explanatory_power(df, derived)
    df = add_deviation_score(df)

    cutoff = get_cutoff(df, n_remove, relative=remove_relative)
    df = add_partition(df, cutoff)
    df = add_weight(df, cutoff)

    anomaly_ep_sum = df.filter(F.col("partition") == 1).agg(F.sum("ep")).first()[0] or 0.0
    if anomaly_ep_sum < 0:
        df = df.withColumn("ep", -F.col("ep"))
        anomaly_ep_sum = -anomaly_ep_sum
    adj_ep_threshold = anomaly_ep_sum * pep_threshold

    df = df.withColumn("ep_z", F.when(F.col("ep") > 0, F.col("ep")).otherwise(F.lit(0.0)))
    base = df.persist()

    # found causes become an exclusion predicate over the ONE cached base
    # frame — lineage stays depth-1 across iterations (no cache churn)
    root_causes: list[dict[str, Any]] = []
    pruned: dict | None = {} if prune_elements else None
    current = base
    try:
        for it in range(max_iterations):
            # iteration 0 reuses the ep-sum computed above (the adj-threshold
            # scalar); later iterations fuse the stop-check into the layer-1
            # search job (one action per iteration total)
            if it == 0 and anomaly_ep_sum < adj_ep_threshold:
                break

            root_cause, pruned, _ = search_anomaly(
                current, attributes, pruned, risk_threshold, adj_ep_threshold,
                need_ep_sum=(it > 0),
            )
            if root_cause is None:
                break
            root_causes.append(root_cause)

            cond = reduce(or_, [
                reduce(and_, [F.coalesce(F.col(dim).cast("string"), F.lit("None")) == F.lit(val)
                              for dim, val in zip(rc["cuboid"], rc["elements"][0])])
                for rc in root_causes
            ])
            current = base.filter(~cond)
    finally:
        base.unpersist()
    return root_causes


def root_causes_to_df(
    spark: SparkSession, root_causes: list[dict[str, Any]]
) -> DataFrame:
    """Canonical string form ('d1=v1&d2=v2'), matching the reference's
    evaluation formatting (utils/evaluation.py:53-59)."""
    rows = []
    for rc in root_causes:
        for element in rc["elements"]:
            s = "&".join(
                sorted(f"{d}={v}" for d, v in zip(rc["cuboid"], element))
            )
            rows.append(
                (
                    s,
                    float(rc.get("risk score", 0.0)),
                    float(rc.get("ep_score", 0.0)),
                    int(rc["layer"]),
                )
            )
    return local_rows_df(spark, 
        rows, "root_cause string, risk_score double, ep_score double, layer int"
    )


def riskloc_df(spark: SparkSession, df: DataFrame, attributes: list[str], **kwargs) -> DataFrame:
    return root_causes_to_df(spark, riskloc(df, attributes, **kwargs))
