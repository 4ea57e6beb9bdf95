"""AutoRoot: KDE deviation clustering + per-cluster cuboid search (NPS).

Parity: reference algorithms/autoroot.py. The path is picked as riskloc
picks it (plans.collect.driver_leaves): a leaf frame of at most
``driver_rows`` rows is collected by the shared ``limit(k+1).toPandas()``
probe and searched on the driver over plans.cuboid's integer-coded
elements (_autoroot_driver). Above the bound the work splits as:

* deviation scoring + relevance filter: distributed column algebra;
* 1-D KDE (Silverman bandwidth) is fitted on the driver from DISTINCT
  (deviation, count) pairs of relevant leaves — bounded, with a
  histogram fallback past the bound; assignment back is a distributed
  WHEN-chain over the handful of cluster boundaries;
* NPS scoring: the reference loops splits and scans the full frame per
  split; here ALL (cluster, cuboid, element) scores come from ONE
  explode + shuffle (_search_all_clusters — the riskloc _layer_scores
  pattern), and only the per-(cluster, cuboid) winners reach the driver.

Both paths fit the same weighted KDE (kde_boundaries_weighted) and take
the NPS terms from functions.search_terms.
"""
from __future__ import annotations

import logging
import math
from typing import Any

import numpy as np

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from riskloc_spark.functions.scores import (
    NUMPY_OPS,
    SPARK_OPS,
    add_deviation_score,
    deviation,
)
from riskloc_spark.functions.search_terms import nps, nps_leaf_terms, relative_error
from riskloc_spark.plans.collect import driver_leaves
from riskloc_spark.plans.cuboid import (
    CuboidElements,
    cuboids_of_layer,
    elements_by_key,
    factorize_attributes,
)

_log = logging.getLogger(__name__)

# the distributed path's bound on the (distinct deviation, count) pairs it
# collects for the KDE; past it a histogram of as many buckets stands in
_MAX_KDE_PAIRS = 200_000


def _boundaries_from_density(s: np.ndarray, e: np.ndarray) -> list[float]:
    """Ends from a density over the grid: strict interior minima
    (e[i-1] > e[i] < e[i+1], matching scipy.signal.argrelextrema with
    np.less) + inf, descending."""
    interior = np.arange(1, len(s) - 1)
    mi = interior[(e[interior] < e[interior - 1]) & (e[interior] < e[interior + 1])]
    return sorted(np.concatenate((s[mi], [np.inf])).tolist(), reverse=True)


def kde_boundaries_weighted(
    values: np.ndarray, counts: np.ndarray, density_fn=None
) -> list[float]:
    """Cluster boundaries over (distinct deviation, count) pairs: local
    minima of a Silverman-bandwidth gaussian KDE evaluated on 400 points
    of [-2,2] (ref autoroot.py:30-47), every kernel weighted by its count,
    so exact for the expanded array. Returns the 'ends' list in descending
    order (inf first). Both paths collect O(distinct) pairs.

    Implemented in numpy, without scipy:
    Silverman factor for 1-D is (3n/4)^(-1/5), scaled by the sample std
    (ddof=1) — the same bandwidth scipy's gaussian_kde(bw='silverman')
    uses; minima are strict (e[i-1] > e[i] < e[i+1]), matching
    scipy.signal.argrelextrema(e, np.less).

    ``density_fn`` (oracle-gate injection — the density-level analogue
    of ``cluster_ends``): (samples, values, counts) -> density array
    replacing only the non-bit-portable exp() kernel sum; the grid,
    minima detection, ends ordering, cluster assignment, and the whole
    downstream search stay REAL (autoroot_kde_fixed gate)."""
    if len(values) == 1:
        return [float("inf")]
    s = np.linspace(-2, 2, 400)
    if density_fn is not None:
        e = np.asarray(density_fn(s, values, counts), float)
    else:
        n = int(counts.sum())
        mean = float((values * counts).sum() / n)
        sigma = float(np.sqrt((counts * (values - mean) ** 2).sum() / (n - 1)))
        h = sigma * (3.0 * n / 4.0) ** (-1.0 / 5.0)
        z = (s[None, :] - values[:, None]) / h
        e = (np.exp(-0.5 * z * z) * counts[:, None]).sum(axis=0) / (
            n * h * math.sqrt(2 * math.pi)
        )
    return _boundaries_from_density(s, e)


def assign_clusters(df: DataFrame, ends: list[float]) -> DataFrame:
    """cluster i = index of the last end (descending) with deviation <= end
    — i.e. the reference's repeated overwrite loop, as one expression."""
    # walk descending like the reference; later (smaller) ends overwrite,
    # so the FINAL value is the max i with deviation <= end
    expr = F.lit(None).cast("int")
    for i, end in enumerate(ends):
        expr = F.when(F.col("deviation") <= F.lit(end), F.lit(i)).otherwise(expr)
    return df.withColumn("cluster", expr)


def _search_all_clusters(
    df: DataFrame,
    attributes: list[str],
    clusters: list[int],
    z_of: dict[int, int],
    delta_threshold: float,
    totals: dict[str, float],
) -> dict[int, dict[str, Any]]:
    """Best candidate of EVERY (cluster, layer, cuboid) in ONE Spark job
    (ref autoroot.py:94-144).

    The per-cuboid loop of the reference becomes the riskloc
    ``_layer_scores`` explode: each row fans out to one (cid, elem) pair
    per cuboid; a shared window + groupBy computes the NPS terms
    (cluster-independent) alongside one conditional cluster count per
    cluster. A second explode melts the cluster counts, per-cluster
    filters apply, and a rank window keeps only each (cluster, cuboid)
    winner — O(#clusters x #cuboids) rows reach the driver, and the
    whole search costs one shuffle of #cuboids x |df| rows instead of
    O(#clusters x #cuboids) sequential jobs."""
    from riskloc_spark.plans.cuboid import ELEM_SEP, elem_expr

    n_attrs = len(attributes)
    cuboids = [
        (layer, c)
        for layer in range(1, n_attrs + 1)
        for c in cuboids_of_layer(attributes, layer)
    ]
    structs = [
        F.struct(
            F.lit(i).alias("cid"),
            elem_expr(c).alias("elem"),
        )
        for i, (_, c) in enumerate(cuboids)
    ]
    ex = df.select(
        F.explode(F.array(*structs)).alias("ce"), "real", "predict", "cluster"
    ).select(
        F.col("ce.cid").alias("cid"),
        F.col("ce.elem").alias("elem"),
        "real",
        "predict",
        "cluster",
    )

    w = Window.partitionBy("cid", "elem")
    a_term, b_term = nps_leaf_terms(
        SPARK_OPS, F.col("real"), F.col("predict"),
        F.sum("real").over(w), F.sum("predict").over(w),
    )
    agg = (
        ex.withColumn("__a", a_term)
        .withColumn("__b", b_term)
        .groupBy("cid", "elem")
        .agg(
            F.count(F.lit(1)).alias("n_full"),
            F.sum("__a").alias("Ap_e"),
            F.sum("__b").alias("Bp_e"),
            *[
                F.sum(
                    F.when(F.col("cluster") == c, 1).otherwise(0)
                ).alias(f"__x_{c}")
                for c in clusters
            ],
        )
    )

    c = F.col
    scored = agg.withColumn(
        "NPS",
        nps(SPARK_OPS, c("Ap_e"), c("Bp_e"), c("n_full"), totals["N"], totals["Bp_tot"]),
    )

    # melt the per-cluster counts; z and the (x/z) filter vary by cluster
    z_expr = F.lit(None).cast("double")
    for c in clusters:
        z_expr = F.when(F.col("cluster") == c, F.lit(float(z_of[c]))).otherwise(
            z_expr
        )
    melted = (
        scored.select(
            "cid",
            "elem",
            "n_full",
            "NPS",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(c).alias("cluster"),
                            F.col(f"__x_{c}").alias("x"),
                        )
                        for c in clusters
                    ]
                )
            ).alias("cx"),
        )
        .select("cid", "elem", "n_full", "NPS", "cx.cluster", "cx.x")
        .withColumn("z", z_expr)
        .filter((F.col("x") / F.col("z")) > delta_threshold)
        .withColumn("LF", F.col("x") / F.col("n_full"))
        .filter(F.col("LF") > delta_threshold)
    )

    # reference iterates splits in key order keeping strict-> max: first
    # maximum in ascending key order wins; \x1f-concat preserves tuple order
    rank_w = Window.partitionBy("cluster", "cid").orderBy(
        F.col("NPS").desc(), F.col("elem").asc()
    )
    winners = (
        melted.withColumn("__rn", F.row_number().over(rank_w))
        .filter(F.col("__rn") == 1)
        .collect()
    )

    best_of: dict[int, dict[str, Any]] = {}
    for row in sorted(winners, key=lambda r: (r["cluster"], r["cid"])):
        cluster, cid = row["cluster"], row["cid"]
        layer, cuboid = cuboids[cid]
        z = z_of[cluster]
        if layer == n_attrs and (1.0 / z) <= delta_threshold:
            continue  # ref autoroot.py:99 — leaf cuboid skipped per cluster
        CF = row["x"] / z
        avg_score = (row["NPS"] + row["LF"] + CF) / 3
        best = best_of.get(cluster, {"avg": -1.0})
        if avg_score > best["avg"]:
            best_of[cluster] = {
                "elements": [row["elem"].split(ELEM_SEP)],
                "layer": layer,
                "cuboid": list(cuboid),
                "LF": row["LF"],
                "CF": CF,
                "NPS": row["NPS"],
                "avg": avg_score,
            }
    return best_of


def _is_subset(parent: list[set], child: list[set]) -> bool:
    return all(any(p.issubset(c) for p in parent) for c in child)


def merge_root_causes(
    cluster_root_causes: list[dict[str, Any]], max_layer: int
) -> list[dict[str, Any]]:
    """Same-layer dedupe + parent/child subset merge (ref autoroot.py:50-91)."""
    from itertools import combinations

    def elem_sets(crc):
        return [set(e) for e in crc["elements"]]

    # drop same-layer duplicates (parent side of a subset pair)
    drop = set()
    for (i, p), (j, c) in combinations(enumerate(cluster_root_causes), 2):
        if p["layer"] == c["layer"] and _is_subset(elem_sets(p), elem_sets(c)):
            drop.add(i)
    causes = [c for i, c in enumerate(cluster_root_causes) if i not in drop]

    for layer in range(max_layer - 1, 0, -1):
        parents = [elem_sets(c) for c in causes if c["layer"] == layer]
        children = [c for c in causes if c["layer"] > layer]
        for child in children:
            for parent in parents:
                if _is_subset(parent, elem_sets(child)):
                    causes = [c for c in causes if c is not child]
    return causes


def _autoroot_driver(
    pdf, attributes: list[str], delta_threshold: float,
    cluster_ends: list[float] | None = None,
    kde_density_fn=None,
) -> list[dict[str, Any]]:
    """The full autoroot loop on a collected leaf frame (driver_leaves:
    attributes as strings, real, predict), with the NPS formulas and the
    tie order of _search_all_clusters. Each cuboid's elements are grouped
    once (plans.cuboid) and their NPS terms, which no cluster changes,
    computed once; a cluster adds only its leaf count per element. The
    first maximum NPS in element-key order wins."""
    real = pdf["real"].to_numpy(dtype=float)
    predict = pdf["predict"].to_numpy(dtype=float)
    with np.errstate(divide="ignore", invalid="ignore"):
        dev = np.asarray(deviation(NUMPY_OPS, real, predict))
        bp = relative_error(NUMPY_OPS, real, predict)
    relevant = np.abs(dev) > 0.2
    if not relevant.any():
        return []
    ends = (
        list(cluster_ends)
        if cluster_ends is not None
        else kde_boundaries_weighted(
            *np.unique(dev[relevant], return_counts=True), kde_density_fn
        )
    )
    cl = np.full(len(dev), -1)
    for i, end in enumerate(ends):
        cl = np.where(dev <= end, i, cl)
    clusters = {int(c): relevant & (cl == c) for c in np.unique(cl[relevant])}
    z_of = {c: int(m.sum()) for c, m in clusters.items()}
    N, Bp_tot = float(len(pdf)), float(np.nansum(bp))

    def nan0(x):  # a null measure adds nothing to a sum, as in Spark
        return np.where(np.isnan(x), 0.0, x)

    enc = factorize_attributes(pdf, attributes)
    best: dict[int, dict[str, Any]] = {c: {"avg": -1.0} for c in clusters}
    for layer in range(1, len(attributes) + 1):
        # ref autoroot.py:99 — the leaf cuboid is skipped per cluster
        live = [c for c in clusters
                if layer < len(attributes) or (1.0 / z_of[c]) > delta_threshold]
        if not live:
            continue
        for cuboid in cuboids_of_layer(attributes, layer):
            g = CuboidElements(enc, cuboid, np.ones(len(dev), dtype=bool))
            by_key, values = elements_by_key(enc, cuboid, g)
            n_full = np.bincount(g.inv, minlength=g.n)
            with np.errstate(divide="ignore", invalid="ignore"):
                a_term, b_term = nps_leaf_terms(
                    NUMPY_OPS, real, predict,
                    g.sum(nan0(real))[g.inv], g.sum(nan0(predict))[g.inv],
                )
                score = nps(NUMPY_OPS, g.sum(nan0(a_term)), g.sum(nan0(b_term)),
                            n_full, N, Bp_tot)
            ranked = np.where(np.isnan(score), -np.inf, score)  # NaN sorts last
            for c in live:
                z = z_of[c]
                x = np.bincount(g.inv[clusters[c]], minlength=g.n)
                ok = by_key[(x[by_key] / z > delta_threshold)
                            & (x[by_key] / n_full[by_key] > delta_threshold)]
                if not len(ok):
                    continue
                e = ok[np.argmax(ranked[ok])]
                LF, CF = x[e] / n_full[e], x[e] / z
                avg = (score[e] + LF + CF) / 3
                if avg > best[c]["avg"]:
                    best[c] = {
                        "elements": [[str(v[e]) for v in values]],
                        "layer": layer,
                        "cuboid": list(cuboid),
                        "LF": float(LF),
                        "CF": float(CF),
                        "NPS": float(score[e]),
                        "avg": float(avg),
                    }
    cluster_root_causes = [
        {**rc, "cluster": c} for c, rc in sorted(best.items()) if "elements" in rc
    ]
    return merge_root_causes(cluster_root_causes, max_layer=len(attributes))


def autoroot(
    df: DataFrame,
    attributes: list[str],
    delta_threshold: float = 0.1,
    driver_rows: int | None = 200_000,
    cluster_ends: list[float] | None = None,
    kde_density_fn=None,
) -> list[dict[str, Any]]:
    """Reference autoroot.py:147-170.

    ``driver_rows`` picks the path as riskloc's does
    (plans.collect.driver_leaves): at <= k leaves the ``limit(k+1).
    toPandas()`` probe is the collect, and deviation scoring, the KDE
    clustering and the per-cluster cuboid search run on the driver over
    plans.cuboid's integer-coded elements, with no further Spark job.
    Above k, or with ``None``, deviation scoring is distributed and the
    whole (cluster x cuboid) search is ONE explode job
    (_search_all_clusters). Both paths fit the KDE on distinct
    (deviation, count) pairs (kde_boundaries_weighted), evaluate the
    single NPS definitions in functions.search_terms and are
    parity-tested. The path taken and why log at DEBUG."""
    pdf = driver_leaves(df, attributes, ("real", "predict"), driver_rows, _log, "autoroot")
    if pdf is not None:
        return _autoroot_driver(
            pdf, attributes, delta_threshold, cluster_ends, kde_density_fn
        )

    df = add_deviation_score(df)
    for d in attributes:
        df = df.withColumn(
            d, F.coalesce(F.col(d).cast("string"), F.lit("None"))
        )
    df = df.persist()
    try:
        rel_pred = F.abs(F.col("deviation")) > 0.2

        # KDE input: distinct (deviation, count) pairs, bounded (same
        # pattern as squeeze); past the bound a B-bucket histogram of
        # centers stands in — raw rows never reach the driver.
        # ``cluster_ends`` (injectable boundaries, e.g. for the
        # autoroot_search_fixed oracle gate) skips the KDE fit entirely.
        B = _MAX_KDE_PAIRS
        rows = None if cluster_ends is not None else (
            df.filter(rel_pred)
            .groupBy("deviation")
            .agg(F.count(F.lit(1)).alias("c"))
            .limit(B + 1)
            .collect()
        )
        if cluster_ends is not None:
            ends = list(cluster_ends)
        elif not rows:
            return []
        elif len(rows) <= B:
            arr = np.array([(float(r[0]), float(r[1])) for r in rows])
        else:
            mn, mx = (
                df.filter(rel_pred).agg(F.min("deviation"), F.max("deviation")).first()
            )
            if mn == mx:
                n = df.filter(rel_pred).count()
                arr = np.array([(float(mn), float(n))])
            else:
                b = F.least(
                    F.floor((F.col("deviation") - F.lit(mn)) / F.lit(mx - mn) * B),
                    F.lit(B - 1),
                )
                width = (mx - mn) / B
                arr = np.array(
                    [
                        (mn + (r[0] + 0.5) * width, float(r[1]))
                        for r in df.filter(rel_pred)
                        .groupBy(b.alias("__b"))
                        .agg(F.count(F.lit(1)).alias("c"))
                        .collect()
                    ]
                )
        if cluster_ends is None:
            order = np.argsort(arr[:, 0], kind="stable")
            ends = kde_boundaries_weighted(
                arr[order, 0], arr[order, 1], kde_density_fn
            )

        df_cl = assign_clusters(df, ends).withColumn(
            "cluster", F.when(rel_pred, F.col("cluster"))
        )
        z_rows = (
            df_cl.filter(F.col("cluster").isNotNull())
            .groupBy("cluster")
            .agg(F.count(F.lit(1)).alias("z"))
            .collect()
        )
        z_of = {int(r["cluster"]): int(r["z"]) for r in z_rows if r["z"] > 0}
        clusters = sorted(z_of)
        if not clusters:
            return []

        totals_row = df.agg(
            F.count(F.lit(1)).alias("N"),
            F.sum(
                relative_error(SPARK_OPS, F.col("real"), F.col("predict"))
            ).alias("Bp_tot"),
        ).first()
        totals = {
            "N": float(totals_row["N"]),
            "Bp_tot": float(totals_row["Bp_tot"]),
        }

        best_of = _search_all_clusters(
            df_cl, attributes, clusters, z_of, delta_threshold, totals
        )
        cluster_root_causes = []
        for cluster in clusters:
            rc = best_of.get(cluster)
            if rc is not None:
                rc["cluster"] = cluster
                cluster_root_causes.append(rc)
    finally:
        df.unpersist()
    return merge_root_causes(cluster_root_causes, max_layer=len(attributes))
