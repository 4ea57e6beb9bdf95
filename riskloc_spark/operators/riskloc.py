"""RiskLoc: weighted-risk root cause localization.

Parity target: reference algorithms/riskloc.py:167-215 (search loop
:99-164, scores :50-72). Re-expressed Spark-first:

* The reference scores one element at a time with boolean masks — an
  O(#elements) sequence of full-frame passes. Here every element of a
  cuboid is scored in ONE ``groupBy(cuboid)`` pass: the low-risk group
  sums come from a window partitioned by the cuboid keys (same hash
  partitioning as the groupBy, so one shuffle total), and the element
  chosen is the max-EP row with risk >= threshold.
* The layer/iteration orchestration stays on the driver, but driver
  state is only O(#root-causes + #pruned-values) — never leaf data.
"""
from __future__ import annotations

from typing import Any

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
from riskloc_spark.plans.cuboid import cuboids_of_layer, elem_expr


def _scalar(df: DataFrame, col) -> float:
    v = df.agg(col.alias("v")).first()["v"]
    return 0.0 if v is None else float(v)


_SEP = "\x1f"


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
        elem = elem_expr(cuboid, _SEP)
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

    _DEC = "decimal(38,9)"

    def _wsum(term):
        # exact_sums: DECIMAL window sums are order-independent, so the
        # oracle gate surface is stable across runs (search path: doubles).
        if exact_sums:
            return F.sum(term.cast(_DEC)).over(w).cast("double")
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
            return F.sum(term.cast(_DEC)).cast("double")
        return F.sum(term)

    def _avg(name):
        if exact_sums:
            # avg as exact-sum / non-null count (F.avg on doubles is
            # order-dependent via its partial sums).
            return F.sum(F.col(name).cast(_DEC)).cast("double") / F.count(name)
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

        from functools import reduce

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
                        "elements": [tuple(r["element"].split(_SEP))],
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


def _driver_search(pdf, attributes, pruned, risk_threshold, adj_ep_threshold):
    """search_anomaly on a pandas frame: same layer order, same
    per-cuboid strict-EP scan, same prune bookkeeping, and the same
    functions.search_terms risk formulas."""
    import pandas as pd

    for layer in range(1, len(attributes) + 1):
        best: dict[str, Any] = {"ep_score": adj_ep_threshold}
        for cuboid in cuboids_of_layer(attributes, layer):
            sub = pdf
            if pruned:
                for dim in cuboid:
                    values = pruned.get((dim,))
                    if values:
                        sub = sub[~sub[dim].isin(values)]
            if not len(sub):
                continue
            valid = (sub["real"] != 0) & (sub["predict"] != 0)
            t = pd.DataFrame(
                {
                    "rv": sub["real"].where(valid),
                    "pv": sub["predict"].where(valid),
                    "absdev": sub["deviation"].abs().where(valid),
                    "anom_w": sub["weight"].where(sub["partition"] == 1, 0.0),
                    "norm_w": sub["weight"].where(sub["partition"] == 0, 0.0),
                    "ep": sub["ep"],
                    "ep_z": sub["ep_z"],
                    "part": sub["partition"],
                    "real": sub["real"],
                    "predict": sub["predict"],
                }
            )
            keys = [sub[d] for d in cuboid]
            g = t.groupby(keys, sort=False, dropna=False)
            R = g["rv"].transform("sum")
            P = g["pv"].transform("sum")
            absd = rescaled_abs_deviation(NUMPY_OPS, t["real"], t["predict"], R, P)
            t["absd"] = pd.Series(absd, index=t.index).where(valid)
            agg = t.groupby(keys, sort=False, dropna=False).agg(
                n_anom=("anom_w", "sum"),
                n_norm=("norm_w", "sum"),
                ep=("ep", "sum"),
                ep_z=("ep_z", "sum"),
                part_sum=("part", "sum"),
                w1=("absd", "mean"),
                w2=("absdev", "mean"),
            )
            agg["high"], agg["low"], agg["risk"] = risk_scores(
                NUMPY_OPS, agg["n_anom"], agg["n_norm"], agg["w1"], agg["w2"]
            )

            if pruned is not None and layer <= 1:
                for el in agg.index[
                    (agg["ep_z"] < adj_ep_threshold) | (agg["part_sum"] == 0)
                ]:
                    pruned.setdefault(tuple(cuboid), []).append(el)

            cand = agg[
                (agg["part_sum"] > 0)
                & (agg["ep"] > adj_ep_threshold)
                & (agg["risk"] >= risk_threshold)
            ]
            if not len(cand):
                continue
            top = cand.loc[cand["ep"].idxmax()]
            if top["ep"] > best["ep_score"]:
                el = top.name if layer > 1 else (top.name,)
                best = {
                    "elements": [tuple(str(v) for v in el)],
                    "high risk score": float(top["high"]),
                    "low risk score": float(top["low"]),
                    "risk score": float(top["risk"]),
                    "ep_score": float(top["ep"]),
                    "layer": layer,
                    "cuboid": list(cuboid),
                }
        if "elements" in best:
            return best
    return None


def _riskloc_driver(
    pdf,
    attributes: list[str],
    risk_threshold: float,
    pep_threshold: float,
    n_remove: int,
    remove_relative: bool,
    prune_elements: bool,
    max_iterations: int,
    derived: bool,
) -> list[dict[str, Any]]:
    """Driver-side search over a collected RAW leaf frame (attrs as
    string, real, predict [+ a/b measures when derived]). EP and
    deviation are computed here — in the distributed plan the EP global
    sums are a broadcast subquery that recomputes the leaf frame inside
    the same action, so collecting raw and scoring locally saves a full
    extra pass. The scores come from the same functions.scores formulas
    as the distributed path — tests assert both paths give identical
    causes."""
    import numpy as np

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
    pdf = pdf.assign(deviation=dev, ep=ep, partition=part, weight=w)

    anomaly_ep_sum = float(pdf.loc[pdf["partition"] == 1, "ep"].sum())
    if anomaly_ep_sum < 0:
        pdf = pdf.assign(ep=-pdf["ep"])
        anomaly_ep_sum = -anomaly_ep_sum
    adj_ep_threshold = anomaly_ep_sum * pep_threshold
    pdf = pdf.assign(ep_z=pdf["ep"].clip(lower=0.0))

    root_causes: list[dict[str, Any]] = []
    pruned: dict | None = {} if prune_elements else None
    mask = np.ones(len(pdf), dtype=bool)
    for _ in range(max_iterations):
        cur = pdf[mask]
        ep_sum = float(cur.loc[cur["partition"] == 1, "ep"].sum())
        if ep_sum < adj_ep_threshold:
            break
        rc = _driver_search(cur, attributes, pruned, risk_threshold, adj_ep_threshold)
        if rc is None:
            break
        root_causes.append(rc)
        m = np.ones(len(pdf), dtype=bool)
        for dim, val in zip(rc["cuboid"], rc["elements"][0]):
            m &= (pdf[dim] == val).to_numpy()
        mask &= ~m
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

    The leaf frame is built and scored distributed (global sums, EP,
    deviation). The iterative layer search is adaptive, like AQE picking a
    physical strategy from runtime stats: when the *aggregated* leaf frame
    is driver-sized (<= ``driver_rows``, probed with a cheap
    ``limit(k+1).count()`` that never scans past k+1 rows), the search
    runs vectorized on pandas — the 20-odd tiny sequential Spark jobs an
    iterative search launches would otherwise dominate wall time. Huge
    leaf frames (high-cardinality dims) take the fully distributed
    explode-per-layer path. Both paths evaluate the single definitions
    in functions.scores and functions.search_terms and are parity-tested
    against each other; set ``driver_rows=None`` to force the
    distributed path."""
    if driver_rows is not None:
        # probe and collect the RAW frame in ONE action:
        # limit(k+1).toPandas() stops scanning once k+1 rows exist;
        # len(pdf) > k means "too big". EP/deviation are computed locally
        # — in the distributed plan the EP global sums are a broadcast
        # subquery that recomputes the leaf frame within the same action.
        cols = ("real", "predict") + (measures(True) if derived else ())
        sel = df.select(
            *[F.coalesce(F.col(a).cast("string"), F.lit("None")).alias(a)
              for a in attributes],
            *[F.col(m).cast("double").alias(m) for m in cols],
        )
        pdf = sel.limit(driver_rows + 1).toPandas()
        if len(pdf) <= driver_rows:
            return _riskloc_driver(
                pdf,
                attributes,
                risk_threshold,
                pep_threshold,
                n_remove,
                remove_relative,
                prune_elements,
                max_iterations,
                derived,
            )

    df = add_explanatory_power(df, derived)
    df = add_deviation_score(df)

    cutoff = get_cutoff(df, n_remove, relative=remove_relative)
    df = add_partition(df, cutoff)
    df = add_weight(df, cutoff)

    anomaly_ep_sum = _scalar(
        df.filter(F.col("partition") == 1), F.sum("ep")
    )
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
    for it in range(max_iterations):
        # iteration 0 reuses the ep-sum computed above (the adj-threshold
        # scalar); later iterations fuse the stop-check into the layer-1
        # search job (one action per iteration total)
        if it == 0 and anomaly_ep_sum < adj_ep_threshold:
            break

        root_cause, pruned, _ = search_anomaly(
            current,
            attributes,
            pruned,
            risk_threshold,
            adj_ep_threshold,
            need_ep_sum=(it > 0),
        )
        if root_cause is None:
            break
        root_causes.append(root_cause)

        cond = None
        for rc in root_causes:
            c = None
            for dim, val in zip(rc["cuboid"], rc["elements"][0]):
                eq = F.coalesce(
                    F.col(dim).cast("string"), F.lit("None")
                ) == F.lit(val)
                c = eq if c is None else (c & eq)
            cond = c if cond is None else (cond | c)
        current = base.filter(~cond)
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
