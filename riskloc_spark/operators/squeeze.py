"""Squeeze: bottom-up cluster-then-locate root cause search.

Parity: reference algorithms/squeeze/ (squeeze.py, density_cluster.py,
anomaly_amount_fileter.py). Spark-first division of labor:

* leaf deviation scores, KPI filter metric, per-cuboid element stats and
  partition scoring: distributed, fused across ALL (cluster, cuboid)
  pairs (_locate_all): 2 stats jobs total plus one ps-score job per
  cluster — the reference's per-partition scan of (v1,a1)/(v2,f2) L1
  distances becomes conditional sums over descent-rank WHEN-chains,
  P <= max_num_elements_single_cluster per cuboid;
* 1-D density clustering over deviation values: driver-side numpy over
  DISTINCT (value, count) pairs — exact and bounded by
  ``max_driver_pairs``; past the bound a fixed-width histogram of the
  same size stands in (the reference's method is histogram-based, so
  the approximation is semantics-preserving). Cluster membership goes
  back distributed as range predicates; raw rows never reach the driver.
* a driver-sized leaf frame (at most ``driver_rows`` rows) is instead
  collected by the shared probe (plans.collect.driver_leaves), and the
  clustering and the locate run on the driver, each cuboid's elements
  grouped once by plans.cuboid's integer-coded kernel.

Deviations from the reference, both forced by environment (kneed/scipy
unavailable) and documented here:
* KneeLocator(concave, increasing) is re-implemented as the standard
  Kneedle max-of-difference-curve rule;
* argrelextrema(order=1, mode='wrap') is re-implemented with explicit
  wrap-around neighbor comparisons.
"""
from __future__ import annotations

import logging
from dataclasses import dataclass
from typing import Any

import numpy as np

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from riskloc_spark.data import local_rows_df
from riskloc_spark.functions.scores import NUMPY_OPS, SPARK_OPS, half_deviation
from riskloc_spark.plans.collect import driver_leaves

_log = logging.getLogger(__name__)


@dataclass
class SqueezeOptions:
    """Mirrors reference squeeze_option.py (full knob surface).

    ``max_allowed_deviation_bias/std`` and ``normal_deviation_std`` are
    carried for API parity but inert — the reference's density cluster
    path never reads them (they belong to commented-out scoring
    variants, squeeze.py:178-179 / density_cluster.py:63-75)."""

    debug: bool = False
    enable_filter: bool = True
    cluster_method: str = "density"  # reference cluster_factory: only one
    density_estimation_method: str = "histogram"  # 'histogram' | 'kde'
    density_smooth_conv_kernel: tuple = (1.0,)
    kde_bw_method: str | float | None = None
    kde_weights: Any | None = None
    histogram_bar_width: str | float = "auto"
    max_allowed_deviation_bias: float = 0.10  # inert (see docstring)
    max_allowed_deviation_std: float = 0.01  # inert
    cluster_smooth_window_size: str | int = "auto"
    max_normal_deviation: str | float = 0.20
    least_descent_score: float = 0.6
    normal_deviation_std: float = 0.1  # inert
    score_weight: str | float = "auto"
    max_num_elements_single_cluster: int = 12
    ps_upper_bound: float = 0.90
    # Bound on rows transferred to the driver by the distributed path's
    # 1-D machinery. The path collects DISTINCT (deviation / metric)
    # values with counts — exact — and falls back to a fixed-width
    # histogram of this many buckets when the distinct count exceeds it,
    # so driver transfer is O(max_driver_pairs) regardless of frame size.
    max_driver_pairs: int = 200_000
    # Oracle-gate injection points (the squeeze analogue of autoroot's
    # ``cluster_ends``): callables (samples, values, counts|None) ->
    # density array, replacing ONLY the non-bit-portable gaussian exp()
    # kernel evaluation. Everything downstream — conv smoothing kernel,
    # auto window, circular extrema, boundaries, member ranges, CDF
    # cumsum + kneedle knee, the filter application — runs for REAL and
    # gets a DuckDB twin (squeeze_clusters_kde / squeeze_search_filtered
    # gates). None = the real gaussian KDE.
    kde_density_fn: Any | None = None
    filter_density_fn: Any | None = None


# --------------------------------------------------------------------------
# driver-side 1-D machinery (numpy)
# --------------------------------------------------------------------------

def box_density(
    samples: np.ndarray,
    values: np.ndarray,
    counts: np.ndarray | None = None,
    halfwidth: float = 0.05,
) -> np.ndarray:
    """Bit-portable density estimate for the oracle gates: a box kernel
    — density at sample s = (total count of values within +-halfwidth
    of s) / n. Integer count sums are exact under any summation order
    and the single double division reproduces bit-for-bit in ANSI SQL,
    unlike the gaussian exp() grid. Injected via
    SqueezeOptions.kde_density_fn / filter_density_fn (and autoroot's
    kde_density_fn) so the REAL downstream cluster / knee logic runs
    under the DuckDB hash gate."""
    v = np.asarray(values, float)
    c = np.ones(len(v)) if counts is None else np.asarray(counts, float)
    n = float(c.sum())
    # sort once + binary search per sample instead of a full-vector
    # comparison per sample: O((n + s) log n) vs O(n * s); the window
    # count is the SAME integer (cum[hi] - cum[lo]), so results are
    # bit-identical to the mask form
    order = np.argsort(v, kind="stable")
    vs, cs = v[order], c[order]
    cum = np.concatenate(([0.0], np.cumsum(cs)))
    lo = np.searchsorted(vs, samples - halfwidth, side="left")
    hi = np.searchsorted(vs, samples + halfwidth, side="right")
    return (cum[hi] - cum[lo]) / n


def kneedle_knee(x: np.ndarray, y: np.ndarray) -> float | None:
    """Kneedle knee for a concave increasing curve: maximum of the
    difference between the normalized curve and the diagonal
    (equivalent to kneed.KneeLocator(curve='concave',
    direction='increasing') without smoothing)."""
    if len(x) < 3:
        return None
    xn = (x - x.min()) / (x.max() - x.min() + 1e-300)
    yn = (y - y.min()) / (y.max() - y.min() + 1e-300)
    diff = yn - xn
    i = int(np.argmax(diff))
    if diff[i] <= 0:
        return None
    return float(x[i])


def kpi_filter_threshold(metrics: np.ndarray, density_fn=None) -> float:
    """|v-f| threshold (ref anomaly_amount_fileter.py): knee of the KDE
    CDF of the metric. Gaussian KDE with scott bandwidth in numpy.

    ``density_fn`` (oracle-gate injection, filter_density_fn) replaces
    only the gaussian density over the linspace grid; the CDF cumsum,
    kneedle knee, and min-fallback stay REAL."""
    if len(np.unique(metrics)) == 1:
        return float(np.min(metrics))
    x = np.linspace(metrics.min(), metrics.max(), 1000)
    if density_fn is not None:
        dens = np.asarray(density_fn(x, metrics, None), float)
    else:
        n = len(metrics)
        sigma = metrics.std(ddof=1)
        if sigma == 0:
            return float(np.min(metrics))
        h = sigma * n ** (-1.0 / 5.0)  # scott
        z = (x[None, :] - metrics[:, None]) / h
        dens = np.exp(-0.5 * z * z).mean(axis=0) / (h * np.sqrt(2 * np.pi))
    y = np.cumsum(dens)
    knee = kneedle_knee(x, y)
    return float(np.min(metrics)) if knee is None else knee


def _relextrema_wrap(arr: np.ndarray, greater: bool) -> np.ndarray:
    left = np.roll(arr, 1)
    right = np.roll(arr, -1)
    if greater:
        return np.where((arr > left) & (arr > right))[0]
    return np.where((arr <= left) & (arr <= right))[0]


def _gaussian_kde_density(
    array: np.ndarray,
    bw_method=None,
    weights=None,
    conv_kernel=(1.0,),
    weights_are_counts: bool = False,
    density_fn=None,
) -> tuple[np.ndarray, np.ndarray]:
    """scipy.stats.gaussian_kde re-implementation (scipy unavailable in
    this environment): scott factor by default ('silverman' or a scalar
    factor accepted), optional weights; sampled at 0.01 steps over
    [min, max) and 'full'-convolved with the smoothing kernel, truncated
    back to the sample grid so bins stay aligned
    (ref density_cluster.py:27-33).

    ``weights_are_counts``: the weights are integer row multiplicities
    (the distributed path's (value, count) pairs) and the result must
    equal the KDE of the count-expanded array. scipy's weighted-sample
    formulas give neff = 1/sum(w_norm^2) = n^2/sum(c^2) and variance
    denominator 1 - sum(w_norm^2), both of which DIFFER from the
    expanded array's neff = n and denominator 1 - 1/n whenever any count
    > 1 — up to ~40% bandwidth/density error on duplicate-heavy frames.
    Passing counts=True substitutes the expanded-array statistics; the
    density sum itself is exactly multiplicity-weighted either way.

    ``density_fn`` (oracle-gate injection, SqueezeOptions.kde_density_fn)
    replaces the bandwidth fit + gaussian kernel accumulation with
    density_fn(samples, array, counts|None); the sample grid and the
    smoothing-kernel convolution + truncation stay REAL."""
    x = np.asarray(array, float)
    if density_fn is not None:
        samples = np.arange(x.min(), x.max(), 0.01)
        if len(samples) == 0:
            samples = np.array([float(x.min())])
        # forward weights whether they are multiplicities (distributed
        # counts) or user kde_weights — dropping the latter made the
        # injected path diverge from the real-KDE branch's weighting
        dens = np.asarray(
            density_fn(
                samples,
                x,
                np.asarray(weights, float) if weights is not None else None,
            ),
            float,
        )
        ck = np.asarray(conv_kernel, float)
        dens = (np.convolve(dens, ck, "full") / ck.sum())[: len(samples)]
        return dens, samples
    w = np.ones(len(x)) if weights is None else np.asarray(weights, float)
    if weights_are_counts:
        n_expanded = w.sum()
        w = w / n_expanded
        neff = n_expanded
        sum_w2 = 1.0 / n_expanded if n_expanded > 0 else 1.0
    else:
        w = w / w.sum()
        neff = 1.0 / np.sum(w**2)
        sum_w2 = np.sum(w**2)
    if bw_method is None or bw_method == "scott":
        factor = neff ** (-1.0 / 5.0)
    elif bw_method == "silverman":
        factor = (neff * 3.0 / 4.0) ** (-1.0 / 5.0)
    else:
        factor = float(bw_method)
    mean = np.sum(w * x)
    denom = 1.0 - sum_w2
    var = (
        np.sum(w * (x - mean) ** 2) / denom if denom > 0 else 0.0
    )
    bw = np.sqrt(var) * factor
    if bw == 0:
        bw = 1e-12
    samples = np.arange(x.min(), x.max(), 0.01)
    if len(samples) == 0:
        samples = np.array([float(x.min())])
    dens = np.zeros_like(samples)
    for s in range(0, len(x), 8192):  # chunked: bounded temp
        xs = x[s : s + 8192, None]
        ws = w[s : s + 8192, None]
        z = (samples[None, :] - xs) / bw
        dens += (ws * np.exp(-0.5 * z * z)).sum(axis=0)
    dens /= bw * np.sqrt(2 * np.pi)
    ck = np.asarray(conv_kernel, float)
    dens = (np.convolve(dens, ck, "full") / ck.sum())[: len(samples)]
    return dens, samples


def _density_and_bins(
    array: np.ndarray, options: SqueezeOptions, counts: np.ndarray | None = None
) -> tuple[np.ndarray, np.ndarray]:
    """Density estimate + bin centers per the option surface: histogram
    ('auto' or fixed bar width, ref density_cluster.py:35-46) or KDE.
    ``counts`` (distributed path) are row multiplicities — exact for the
    expanded array (for KDE via the expanded-array neff/variance, see
    _gaussian_kde_density weights_are_counts)."""
    assert options.cluster_method == "density"
    if options.density_estimation_method == "kde":
        w = counts if counts is not None else options.kde_weights
        return _gaussian_kde_density(
            array,
            options.kde_bw_method,
            w,
            options.density_smooth_conv_kernel,
            weights_are_counts=counts is not None,
            density_fn=options.kde_density_fn,
        )
    width = options.histogram_bar_width
    if width == "auto":
        if counts is None:
            edges = np.histogram_bin_edges(array, "auto").tolist()
        else:
            edges = _auto_bin_edges_weighted(array, counts)
        # values an ulp apart give repeated edges, whose zero-width bins
        # would make the densities NaN; distinct edges pass unchanged
        edges = np.unique(edges).tolist()
        # reference-faithful padding (density_cluster.py:39): the LEFT
        # pad's range(-5, 0, -1) is EMPTY in Python — the reference has
        # the same expression, so only the right pad exists. Mirrored
        # exactly (and hash-gated by squeeze_auto_edges).
        edges = [edges[0] - 0.1 * i for i in range(-5, 0, -1)] + edges + [
            edges[-1] + 0.1 * i for i in range(1, 6)
        ]
    else:
        edges = np.arange(
            array.min() - width * 6, array.max() + width * 5, width
        )
    h, edges_arr = np.histogram(array, bins=edges, weights=counts, density=True)
    h = h / 100.0
    return h, np.convolve(edges_arr, [1, 1], "valid") / 2


def density_cluster_1d(
    array: np.ndarray, options: SqueezeOptions
) -> list[tuple[float, float]]:
    """Histogram/KDE density clustering (ref density_cluster.py:35-140).
    Returns deviation [lo, hi] ranges of the anomalous clusters."""
    if len(array) == 0:
        return []
    h, bins = _density_and_bins(array, options)

    if options.cluster_smooth_window_size == "auto":
        window = max(int(np.count_nonzero(h > 0)) // 10, 1)
    else:
        window = int(options.cluster_smooth_window_size)
    smoothed = np.convolve(h, np.ones(window), mode="valid") / window
    smoothed = np.concatenate([h[: window - 1], smoothed])

    max_idx = [i for i in _relextrema_wrap(smoothed, True) if smoothed[i] > 0]
    min_idx = _relextrema_wrap(smoothed, False)
    boundaries = np.asarray(
        [float("-inf")] + [bins[i] for i in min_idx] + [float("inf")]
    )

    max_normal = options.max_normal_deviation
    if max_normal == "auto":
        max_normal = float(np.mean(np.abs(array)))

    ranges: list[tuple[float, float]] = []
    for i in max_idx:
        lo = boundaries[np.searchsorted(boundaries, bins[i], side="right") - 1]
        hi = boundaries[np.searchsorted(boundaries, bins[i], side="left")]
        members = array[(array >= lo) & (array <= hi)]
        if len(members) == 0 or np.mean(np.abs(members)) < max_normal:
            continue
        ranges.append((float(members.min()), float(members.max())))
    return ranges


# --------------------------------------------------------------------------
# weighted 1-D machinery: identical math over (distinct value, count)
# pairs, so the distributed path never ships raw rows to the driver
# --------------------------------------------------------------------------

def _weighted_percentile(
    values: np.ndarray, counts: np.ndarray, q: float
) -> float:
    """np.percentile (linear / type-7) of the expanded array, from sorted
    distinct values + counts — without expanding."""
    n = int(counts.sum())
    if n == 0:
        return float("nan")
    pos = (n - 1) * (q / 100.0)
    lo, hi = int(np.floor(pos)), int(np.ceil(pos))
    cum = np.cumsum(counts)
    v_lo = float(values[np.searchsorted(cum, lo, side="right")])
    v_hi = float(values[np.searchsorted(cum, hi, side="right")])
    return v_lo + (v_hi - v_lo) * (pos - lo)


def kpi_filter_threshold_weighted(
    values: np.ndarray, counts: np.ndarray, density_fn=None
) -> float:
    """kpi_filter_threshold over (distinct metric, count) pairs: the same
    scott-bandwidth gaussian-KDE CDF knee, with every kernel weighted by
    its count. Exact for the expanded array. ``density_fn`` as in
    kpi_filter_threshold (counts forwarded)."""
    if len(values) == 0:
        return 0.0
    if len(values) == 1:
        return float(values[0])
    x = np.linspace(values.min(), values.max(), 1000)
    if density_fn is not None:
        dens = np.asarray(density_fn(x, values, counts), float)
    else:
        n = int(counts.sum())
        mean = float((values * counts).sum() / n)
        sigma = float(np.sqrt((counts * (values - mean) ** 2).sum() / (n - 1)))
        if sigma == 0:
            return float(values.min())
        h = sigma * n ** (-1.0 / 5.0)  # scott
        dens = np.zeros_like(x)
        for s in range(0, len(values), 8192):  # chunked: O(8k x 1k) temp
            v = values[s : s + 8192, None]
            c = counts[s : s + 8192, None]
            z = (x[None, :] - v) / h
            dens += (np.exp(-0.5 * z * z) * c).sum(axis=0)
        dens /= n * h * np.sqrt(2 * np.pi)
    y = np.cumsum(dens)
    knee = kneedle_knee(x, y)
    return float(values.min()) if knee is None else knee


def _auto_bin_edges_weighted(
    values: np.ndarray, counts: np.ndarray
) -> list[float]:
    """np.histogram_bin_edges(x, 'auto') from sorted distinct values +
    counts: max(Freedman-Diaconis, Sturges) bin count, linspace edges.
    Parity-tested against numpy on expanded arrays."""
    n = int(counts.sum())
    first, last = float(values[0]), float(values[-1])
    ptp = last - first
    if ptp == 0:
        first -= 0.5
        last += 0.5
    iqr = _weighted_percentile(values, counts, 75) - _weighted_percentile(
        values, counts, 25
    )
    fd_bw = 2.0 * iqr * n ** (-1.0 / 3.0)
    sturges_bw = ptp / (np.log2(n) + 1)
    bw = min(fd_bw, sturges_bw) if fd_bw else sturges_bw
    n_bins = int(np.ceil((last - first) / bw)) if bw > 0 else 1
    return np.linspace(first, last, n_bins + 1).tolist()


def density_cluster_1d_weighted(
    values: np.ndarray, counts: np.ndarray, options: SqueezeOptions
) -> list[tuple[float, float]]:
    """density_cluster_1d over (distinct deviation, count) pairs — the
    same histogram / smoothing / extrema walk, weights standing in for
    repeated values. Exact for the expanded array."""
    if len(values) == 0 or counts.sum() == 0:
        return []
    order = np.argsort(values, kind="stable")
    values, counts = values[order], counts[order]

    h, bins = _density_and_bins(values, options, counts=counts)

    if options.cluster_smooth_window_size == "auto":
        window = max(int(np.count_nonzero(h > 0)) // 10, 1)
    else:
        window = int(options.cluster_smooth_window_size)
    smoothed = np.convolve(h, np.ones(window), mode="valid") / window
    smoothed = np.concatenate([h[: window - 1], smoothed])

    max_idx = [i for i in _relextrema_wrap(smoothed, True) if smoothed[i] > 0]
    min_idx = _relextrema_wrap(smoothed, False)
    boundaries = np.asarray(
        [float("-inf")] + [bins[i] for i in min_idx] + [float("inf")]
    )

    max_normal = options.max_normal_deviation
    if max_normal == "auto":
        max_normal = float((np.abs(values) * counts).sum() / counts.sum())

    ranges: list[tuple[float, float]] = []
    for i in max_idx:
        lo = boundaries[np.searchsorted(boundaries, bins[i], side="right") - 1]
        hi = boundaries[np.searchsorted(boundaries, bins[i], side="left")]
        m = (values >= lo) & (values <= hi)
        if not m.any():
            continue
        mean_abs = float((np.abs(values[m]) * counts[m]).sum() / counts[m].sum())
        if mean_abs < max_normal:
            continue
        ranges.append((float(values[m].min()), float(values[m].max())))
    return ranges


# --------------------------------------------------------------------------
# distributed locate
# --------------------------------------------------------------------------

def _div(x: float, y: float) -> float:
    if y and y > 0:
        return x / y
    return 0.0 if x == 0 else float("inf")


def _ratio0(x: float, y: float) -> float:
    """np.divide(x, y, out=zeros, where=y != 0): the reference's derived
    ``op`` (run_utils.py:38) — 0 where the denominator is 0."""
    return x / y if y != 0 else 0.0


def _derived_ripple(va: float, vb: float, fa: float, fb: float) -> float:
    """Derived-mode ripple ratio r_p (ref squeeze.py:192-199): the op is
    applied to the *summed* a/b frames — (sum a.real / sum b.real) /
    (sum a.predict / sum b.predict) — not to summed per-leaf ratios."""
    real = _ratio0(va, vb)
    predict = _ratio0(fa, fb)
    return real / predict if predict else 0.0


def _locate_all(
    df: DataFrame,
    attributes: list[str],
    ranges: list[tuple[float, float]],
    normal_pred,
    options: SqueezeOptions,
    derived: bool = False,
) -> dict[tuple[int, int], tuple[list[dict[str, str]], float]]:
    """Reference squeeze.py:136-239 for ALL (cluster, cuboid) pairs with
    a CONSTANT number of jobs.

    Pass 1 (2 jobs, all clusters fused): every row explodes to one
    (cuboid, element) pair; a single groupBy yields per-element descents
    plus one conditional (abnormal count, V, F) triple per cluster, and a
    second tiny agg counts elements per cuboid. Pass 2 (1 job per
    cluster): descent-rank WHEN-chains for every cuboid's top elements
    feed one groupBy(cid) computing the ps-score L1 terms for every
    partition size p — versus the previous ~3 sequential jobs per
    (cluster x cuboid). Returns {(cluster, cid): (rc, score)}; cid
    indexes the all-layers cuboid enumeration.
    """
    from riskloc_spark.plans.cuboid import ELEM_SEP, cuboids_of_layer, elem_expr

    cuboids = [
        c
        for layer in range(1, len(attributes) + 1)
        for c in cuboids_of_layer(attributes, layer)
    ]
    n_cl = len(ranges)

    cl = F.lit(None).cast("int")
    for ci, (lo, hi) in enumerate(ranges):  # ranges are disjoint
        cl = F.when(
            (F.col("deviation") >= F.lit(lo)) & (F.col("deviation") <= F.lit(hi)),
            F.lit(ci),
        ).otherwise(cl)

    structs = [
        F.struct(F.lit(i).alias("cid"), elem_expr(c).alias("elem"))
        for i, c in enumerate(cuboids)
    ]
    # derived mode carries the separate a/b measures through the explode:
    # the ripple ratio is op(sum a, sum b), so the per-element sums must
    # be of the raw measures, not the per-leaf ratios
    measure_cols = (
        ["real_a", "predict_a", "real_b", "predict_b"] if derived else []
    )
    # the exploded frame has exactly TWO consumers since the r15 stats
    # materialization (the stats aggregation and the broadcast locate
    # join).  Re-deriving the explode per consumer from the persisted
    # base (squeeze() persists df before calling) beats materializing a
    # (rows x cuboids) cache — the explode is cheap column algebra over
    # cached rows, while pinning 15x the corpus as storage blocks pays
    # memory-write bandwidth twice and competes with execution memory
    # (the r15 checkpoint-regime rule: interleaved A/B measured 36.8 ->
    # 27.9 s at 5.4M leaves and 12.3 -> 9.3 s at 562k, identical causes).
    ex = df.select(
        F.explode(F.array(*structs)).alias("ce"),
        "real",
        "predict",
        *measure_cols,
        cl.alias("__cl"),
        normal_pred.alias("__nm"),
    ).select(
        F.col("ce.cid").alias("cid"), F.col("ce.elem").alias("elem"),
        "real", "predict", *measure_cols, "__cl", "__nm",
    )
    try:
        aggs = [F.count(F.lit(1)).alias("descents")]
        for c in range(n_cl):
            sel = (F.col("__cl") == c) | F.col("__nm")
            aggs.append(F.sum((F.col("__cl") == c).cast("int")).alias(f"ne_{c}"))
            # per-element universe terms (round 8): the per-cuboid
            # cluster+normal count and sum-of-|real-predict| used to ride
            # a SEPARATE full pass over the 81M-row explode (the `uni`
            # aggregation); summing per-element here and re-aggregating
            # the tiny stats frame by cid removes that whole scan
            aggs.append(F.sum(sel.cast("long")).alias(f"cnt_{c}"))
            aggs.append(
                F.sum(
                    F.when(sel, F.abs(F.col("real") - F.col("predict")))
                ).alias(f"sad_{c}")
            )
            if derived:
                aggs += [
                    F.sum(F.when(sel, F.col("real_a"))).alias(f"Va_{c}"),
                    F.sum(F.when(sel, F.col("predict_a"))).alias(f"Fa_{c}"),
                    F.sum(F.when(sel, F.col("real_b"))).alias(f"Vb_{c}"),
                    F.sum(F.when(sel, F.col("predict_b"))).alias(f"Fb_{c}"),
                ]
            else:
                aggs += [
                    F.sum(F.when(sel, F.col("real"))).alias(f"V_{c}"),
                    F.sum(F.when(sel, F.col("predict"))).alias(f"F_{c}"),
                ]
        from pyspark.sql import Window

        # melt per-cluster columns, then keep only each (cluster, cuboid)'s
        # top elements by descent ratio: ranks AND ripple-ratio prefixes both
        # stop at n_partitions <= max_num_elements_single_cluster, so the
        # driver transfer is bounded by #clusters x #cuboids x that cap
        # regardless of element cardinality (n_rows rides along for the
        # n_partitions bound)
        stats = ex.groupBy("cid", "elem").agg(*aggs)
        if derived:
            melt_fields = lambda c: [  # noqa: E731
                F.col(f"Va_{c}").alias("Va"),
                F.col(f"Fa_{c}").alias("Fa"),
                F.col(f"Vb_{c}").alias("Vb"),
                F.col(f"Fb_{c}").alias("Fb"),
            ]
            melt_cols = ["cx.Va", "cx.Fa", "cx.Vb", "cx.Fb"]
        else:
            melt_fields = lambda c: [  # noqa: E731
                F.col(f"V_{c}").alias("V"),
                F.col(f"F_{c}").alias("Fv"),
            ]
            melt_cols = ["cx.V", "cx.Fv"]
        # persist the per-element stats: THREE actions read it (the
        # top-elements window collect, the per-cuboid totals, and the
        # universe sums) and each would otherwise re-run the groupBy
        # over the (rows x cuboids) exploded cache — at 5.4M leaves x
        # 15 cuboids that is an 81M-row aggregation recomputed per
        # action (cross-query plans never reuse a shuffle)
        stats = stats.persist()
        melted = (
            stats.select(
                "cid",
                "elem",
                "descents",
                F.explode(
                    F.array(
                        *[
                            F.struct(
                                F.lit(c).alias("cluster"),
                                F.col(f"ne_{c}").alias("ne"),
                                *melt_fields(c),
                            )
                            for c in range(n_cl)
                        ]
                    )
                ).alias("cx"),
            )
            .select("cid", "elem", "descents", "cx.cluster", "cx.ne", *melt_cols)
            .filter(F.col("ne") > 0)
        )
        # NOTE (round 7): a two-phase top-k (per-Arrow-batch partial
        # head(cap) in Python before the sort window) was tried and
        # REVERTED — shipping the full melted frame through Arrow to
        # Python cost more at 5.4M leaves (56s vs 37s total) than the
        # JVM sort it saved. The window's sort stays JVM-side.
        ratio = F.col("ne") / F.greatest(F.col("descents"), F.lit(1e-4))
        w_rank = Window.partitionBy("cluster", "cid").orderBy(
            ratio.desc(), F.col("elem").asc()
        )
        w_all = Window.partitionBy("cluster", "cid")
        cap = int(options.max_num_elements_single_cluster)
        top_rows = (
            melted.withColumn("__rn", F.row_number().over(w_rank))
            .withColumn("__n_rows", F.count(F.lit(1)).over(w_all))
            .filter(F.col("__rn") <= cap)
            .collect()
        )
        # element totals AND universe sums from the aggregated stats
        # frame in ONE tiny action (one row per (cid, elem), persisted
        # above): formerly two separate collects, each re-deriving stats
        cid_aggs = [F.count(F.lit(1)).alias("n")]
        for c in range(n_cl):
            cid_aggs.append(F.sum(f"cnt_{c}").alias(f"cnt_{c}"))
            cid_aggs.append(F.sum(f"sad_{c}").alias(f"sad_{c}"))
        cid_rows = {
            r["cid"]: r
            for r in stats.groupBy("cid").agg(*cid_aggs).collect()
        }
        totals = {cid: r["n"] for cid, r in cid_rows.items()}

        per_key: dict[tuple[int, int], list] = {}
        for r in top_rows:
            per_key.setdefault((r["cluster"], r["cid"]), []).append(r)

        # build every cluster's locate plan (top elements + ripple
        # prefixes) from the already-collected capped rows
        plans: dict[int, dict[int, dict]] = {}
        for ci in range(n_cl):
            plan: dict[int, dict] = {}
            for (cluster, cid), rows_c in per_key.items():
                if cluster != ci:
                    continue
                rows_c = sorted(rows_c, key=lambda r: r["__rn"])
                n_partitions = min(
                    rows_c[0]["__n_rows"],
                    options.max_num_elements_single_cluster,
                    totals.get(cid, 0) - 1,
                )
                if n_partitions <= 0:
                    continue
                top = rows_c[: int(n_partitions)]
                if derived:
                    va = np.cumsum([r["Va"] or 0.0 for r in top])
                    fa = np.cumsum([r["Fa"] or 0.0 for r in top])
                    vb = np.cumsum([r["Vb"] or 0.0 for r in top])
                    fb = np.cumsum([r["Fb"] or 0.0 for r in top])
                    r_p = [
                        _derived_ripple(va[p - 1], vb[p - 1], fa[p - 1], fb[p - 1])
                        for p in range(1, int(n_partitions) + 1)
                    ]
                else:
                    v_prefix = np.cumsum([r["V"] or 0.0 for r in top])
                    f_prefix = np.cumsum([r["Fv"] or 0.0 for r in top])
                    r_p = [
                        float(v_prefix[p - 1] / f_prefix[p - 1])
                        if f_prefix[p - 1]
                        else 0.0
                        for p in range(1, int(n_partitions) + 1)
                    ]
                plan[cid] = {
                    "top": top,
                    "n_partitions": int(n_partitions),
                    "r_p": r_p,
                }
            if plan:
                plans[ci] = plan

        results: dict[tuple[int, int], tuple[list[dict[str, str]], float]] = {}
        if plans:
            # ONE fused locate job for ALL clusters (round 7; formerly one
            # full scan of the exploded cache per cluster). The broadcast
            # lookup carries (cluster, cid, elem) -> rank AND the per-p
            # ripple ratios as plain columns (no WHEN-chains at all), the
            # join is INNER so only ranked rows aggregate, and each
            # cluster's unranked remainder — the old null-rank bucket —
            # is recovered as universe totals minus ranked sums from one
            # tiny conditional-agg pass over the cache. 2 scans total
            # instead of n_clusters.
            p_max = max(
                info["n_partitions"]
                for plan in plans.values()
                for info in plan.values()
            )
            rank_rows = [
                (
                    ci,
                    cid,
                    info["top"][rank_i - 1]["elem"],
                    rank_i,
                    *[
                        float(info["r_p"][p - 1])
                        if p <= info["n_partitions"]
                        else None
                        for p in range(1, p_max + 1)
                    ],
                )
                for ci, plan in plans.items()
                for cid, info in plan.items()
                for rank_i in range(1, len(info["top"]) + 1)
            ]
            rp_schema = ", ".join(f"rp_{p} double" for p in range(1, p_max + 1))
            rank_df = local_rows_df(df.sparkSession, 
                rank_rows,
                f"cluster int, cid int, elem string, __rank int, {rp_schema}",
            )

            # universe totals: already collected with the per-cuboid
            # element counts above (cid_rows carries cnt_c/sad_c for
            # every cluster) — no extra action
            uni = cid_rows

            joined = (
                ex.join(F.broadcast(rank_df), on=["cid", "elem"], how="inner")
                .filter((F.col("__cl") == F.col("cluster")) | F.col("__nm"))
                .withColumn("__ad", F.abs(F.col("real") - F.col("predict")))
            )
            aggs2 = [
                F.count(F.lit(1)).alias("cnt"),
                F.sum("__ad").alias("sad"),
            ]
            for p in range(1, p_max + 1):
                aggs2.append(
                    F.sum(
                        F.abs(F.col("real") - F.col("predict") * F.col(f"rp_{p}"))
                    ).alias(f"pd1_{p}")
                )
            part_rows = (
                joined.groupBy("cluster", "cid", "__rank").agg(*aggs2).collect()
            )
            parts: dict[tuple[int, int], dict] = {}
            for r in part_rows:
                parts.setdefault((r["cluster"], r["cid"]), {})[r["__rank"]] = r

            for ci, plan in plans.items():
                for cid, info in plan.items():
                    by_rank = parts.get((ci, cid))
                    if not by_rank:
                        continue
                    ranks = sorted(by_rank)
                    ranked_cnt = float(sum(r["cnt"] for r in by_rank.values()))
                    ranked_sad = sum(
                        float(r["sad"] or 0.0) for r in by_rank.values()
                    )
                    rest_cnt = float(uni[cid][f"cnt_{ci}"] or 0) - ranked_cnt
                    rest_sad = float(uni[cid][f"sad_{ci}"] or 0.0) - ranked_sad
                    best_p, best_score = 1, float("-inf")
                    for p in range(1, info["n_partitions"] + 1):
                        inp = [by_rank[k] for k in ranks if k <= p]
                        outp = [by_rank[k] for k in ranks if k > p]
                        d1 = sum(float(r[f"pd1_{p}"] or 0.0) for r in inp)
                        n1 = float(sum(r["cnt"] for r in inp))
                        b1 = sum(float(r["sad"] or 0.0) for r in inp)
                        d2 = sum(float(r["sad"] or 0.0) for r in outp) + rest_sad
                        n2 = float(sum(r["cnt"] for r in outp)) + rest_cnt
                        denom = _div(b1, n1) + _div(d2, n2)
                        score = (
                            1 - (_div(d1, n1) + _div(d2, n2)) / denom
                            if denom
                            else float("-inf")
                        )
                        if score > best_score:
                            best_p, best_score = p, score
                    cuboid = cuboids[cid]
                    rc = [
                        dict(zip(cuboid, r["elem"].split(ELEM_SEP)))
                        for r in info["top"][:best_p]
                    ]
                    results[(ci, cid)] = (rc, best_score)
    finally:
        try:
            stats.unpersist()
        except Exception:
            pass
    return results


def _locate_in_cuboid_local(
    cuboid: list[str],
    elements: tuple,
    leaves: dict,
    cluster_mask,
    normal_mask,
    options: SqueezeOptions,
    derived: bool = False,
) -> tuple[list[dict[str, str]], float]:
    """One (cluster, cuboid) pair of the locate phase on the driver: the
    same stats, ranks and ps score as _locate_all. ``elements`` is
    (g, by_key, keys): the cuboid's plans.cuboid.CuboidElements over all
    leaves, its element ids in key order, and per dimension each
    element's value; ``leaves`` holds the leaf arrays (_squeeze_driver)."""
    g, by_key, keys = elements
    sel = cluster_mask | normal_mask
    num_elements = g.sum(cluster_mask)
    descents = np.bincount(g.inv, minlength=g.n)
    # element-key order, then a stable ratio sort: the same deterministic
    # tie order as the distributed _locate_all ranking
    by_key = by_key[num_elements[by_key] > 0]
    if not len(by_key):
        return [], float("-inf")
    ratio = num_elements[by_key] / np.maximum(descents[by_key], 1e-4)
    ranked = by_key[np.argsort(-ratio, kind="stable")]
    n_partitions = min(
        len(ranked), options.max_num_elements_single_cluster, g.n - 1
    )
    if n_partitions <= 0:
        return [], float("-inf")
    top = ranked[:n_partitions]

    def prefix(m):  # cumulative sums over the ranked elements' selected leaves
        return np.cumsum(g.sum(np.where(sel, leaves["sum_" + m], 0.0))[top])

    if derived:
        va, fa, vb, fb = map(prefix, ("real_a", "predict_a", "real_b", "predict_b"))
        r_ps = [_derived_ripple(*x) for x in zip(va, vb, fa, fb)]
    else:
        v_prefix, f_prefix = prefix("real"), prefix("predict")
        r_ps = [float(v / f) if f else 0.0 for v, f in zip(v_prefix, f_prefix)]

    # the selected leaves in row order, each with its element's rank (0:
    # unranked), so every sum below adds the leaves in row order
    rank_of = np.zeros(g.n, dtype=np.int64)
    rank_of[top] = np.arange(1, n_partitions + 1)
    rank = rank_of[g.inv[sel]]
    ad = leaves["abs_dev"][sel]
    in_top = rank > 0
    real_t, predict_t = leaves["real"][sel][in_top], leaves["predict"][sel][in_top]
    rank_t, ad_t = rank[in_top], ad[in_top]

    best_p, best_score = 1, float("-inf")
    for p, r_p in enumerate(r_ps, start=1):
        in_p = rank_t <= p
        out_p = ~in_top | (rank > p)
        d1 = float(np.abs(real_t[in_p] - predict_t[in_p] * r_p).sum())
        n1 = float(in_p.sum())
        d2 = float(ad[out_p].sum())
        n2 = float(out_p.sum())
        b1 = float(ad_t[in_p].sum())
        denom = _div(b1, n1) + _div(d2, n2)
        score = 1 - (_div(d1, n1) + _div(d2, n2)) / denom if denom else float("-inf")
        if score > best_score:
            best_p, best_score = p, score

    rc = [dict(zip(cuboid, (str(k[e]) for k in keys))) for e in top[:best_p]]
    return rc, best_score


def _squeeze_driver(
    pdf,
    attributes: list[str],
    options: SqueezeOptions,
    derived: bool = False,
) -> list[str]:
    """Driver-side mirror of the cluster + locate phases on a collected
    leaf frame (attrs as string, real, predict; derived adds the raw a/b
    measure columns). The attributes are integer-coded once
    (plans.cuboid.factorize_attributes); each cuboid's elements are built
    once and shared by the clusters."""
    from riskloc_spark.plans.cuboid import (
        CuboidElements,
        cuboids_of_layer,
        elements_by_key,
        factorize_attributes,
    )

    min_real = float(pdf["real"].min()) if len(pdf) else 0.0
    real = pdf["real"].to_numpy(dtype=float)
    predict = pdf["predict"].to_numpy(dtype=float)
    if min_real < 0:  # injection-error shift (ref squeeze.py:36)
        real = real - min_real
    with np.errstate(divide="ignore", invalid="ignore"):
        deviations = np.asarray(half_deviation(NUMPY_OPS, real, predict))
    metrics = np.abs(real - predict)

    if options.enable_filter and len(metrics):
        threshold = kpi_filter_threshold(
            metrics, density_fn=options.filter_density_fn
        )
        cluster_input = deviations[metrics > threshold]
    else:
        cluster_input = deviations
    if len(cluster_input) == 0:
        return []
    ranges = density_cluster_1d(cluster_input, options)
    if not ranges:
        return []

    in_any = np.logical_or.reduce(
        [(deviations >= lo) & (deviations <= hi) for lo, hi in ranges]
    )
    abn_vals = deviations[in_any]
    min_abn_abs = float(np.min(np.abs(abn_vals))) if len(abn_vals) else 0.0
    normal_mask = np.abs(deviations) < min_abn_abs

    enc = factorize_attributes(pdf, attributes)
    if options.score_weight == "auto":
        n_clusters = len(ranges)
        g_cluster = np.log(n_clusters + 1) / n_clusters
        num_attr = sum(len(enc[a][1]) for a in attributes)
        g_attribute = num_attr / np.log(num_attr + 1)
        n_abnormal = int(in_any.sum())
        g_coverage = -np.log(max(n_abnormal, 1) / max(len(deviations), 1))
        score_weight = float(g_cluster * g_attribute * g_coverage)
    else:
        score_weight = float(options.score_weight)

    # the ripple ratio's summands: a null measure adds nothing to an
    # element's sum, as pandas' and Spark's sums skip it
    summed = {"real": real, "predict": predict}
    if derived:
        summed = {m: pdf[m].to_numpy(dtype=float)
                  for m in ("real_a", "predict_a", "real_b", "predict_b")}
    leaves = {"real": real, "predict": predict, "abs_dev": metrics,
              **{"sum_" + m: np.where(np.isnan(x), 0.0, x) for m, x in summed.items()}}
    built: dict[tuple, tuple] = {}

    def cuboid_elements(cuboid):
        if tuple(cuboid) not in built:
            g = CuboidElements(enc, cuboid, np.ones(len(real), dtype=bool))
            built[tuple(cuboid)] = (g, *elements_by_key(enc, cuboid, g))
        return built[tuple(cuboid)]

    root_causes: list[str] = []
    for lo, hi in ranges:
        cluster_mask = (deviations >= lo) & (deviations <= hi)
        ret_lists: list[dict[str, Any]] = []
        for layer in range(1, len(attributes) + 1):
            for cuboid in cuboids_of_layer(attributes, layer):
                rc, score = _locate_in_cuboid_local(
                    cuboid, cuboid_elements(cuboid), leaves, cluster_mask,
                    normal_mask, options, derived=derived,
                )
                ret_lists.append(
                    {
                        "rc": rc,
                        "score": score,
                        "n_ele": len(rc),
                        "layer": layer,
                        "rank": score * score_weight - len(rc) * layer,
                    }
                )
            if any(r["score"] > options.ps_upper_bound for r in ret_lists):
                break
        ret_lists.sort(key=lambda r: r["rank"], reverse=True)
        if ret_lists and ret_lists[0]["rc"]:
            rc_str = ";".join(
                sorted(
                    "&".join(f"{k}={v}" for k, v in sorted(e.items()))
                    for e in ret_lists[0]["rc"]
                )
            )
            root_causes.append(rc_str)
    return sorted(set(root_causes))


def squeeze(
    df: DataFrame,
    attributes: list[str],
    options: SqueezeOptions | None = None,
    driver_rows: int | None = 200_000,
    derived: bool = False,
) -> list[str]:
    """Reference squeeze.py:108-302. Returns root-cause strings
    'd1=v1&d2=v2' (one per cluster), unified format.

    ``derived=True`` is the reference's ``data_list=[df_a, df_b],
    op=divide`` mode (run_utils.py:31-45): the frame must carry
    ``real_a / predict_a / real_b / predict_b``; the per-leaf KPI is the
    a/b ratio (0 where the denominator is 0), deviation / clustering /
    ps-score distances run on the ratio, and ONLY the ripple ratio uses
    the separate a/b sums (op over summed frames, squeeze.py:192-199).

    Adaptive like riskloc/autoroot (plans.collect.driver_leaves): when the
    leaf frame has at most ``driver_rows`` rows, the ``limit(k+1).
    toPandas()`` probe is the collect and the cluster + locate phase runs
    on the driver over plans.cuboid's integer-coded elements, with no
    further Spark job; above k the scoring columns and the fused locate
    are distributed. Both paths share formulas and are parity-tested.
    ``driver_rows=None`` forces the distributed path; the path taken and
    why log at DEBUG."""
    options = options or SqueezeOptions()

    measure_cols = (
        ["real_a", "predict_a", "real_b", "predict_b"] if derived else []
    )
    if derived:
        # valid rows: every input frame's predict > 0 (ref squeeze.py:29)
        df = df.filter((F.col("predict_a") > 0) & (F.col("predict_b") > 0))
        ratio = lambda a, b: F.when(  # noqa: E731
            F.col(b) != 0, F.col(a) / F.col(b)
        ).otherwise(F.lit(0.0))
        df = df.withColumn("real", ratio("real_a", "real_b")).withColumn(
            "predict", ratio("predict_a", "predict_b")
        )
    else:
        df = df.filter(F.col("predict") > 0)

    # one action: the probe collects the RAW filtered frame (see riskloc);
    # the min-real shift and deviation/metric are computed on the driver
    pdf = driver_leaves(
        df, attributes, ("real", "predict", *measure_cols), driver_rows, _log, "squeeze"
    )
    if pdf is not None:
        return _squeeze_driver(pdf, attributes, options, derived=derived)

    # injection-error shift (ref squeeze.py:36) — on the derived KPI
    min_real = df.agg(F.min("real")).first()[0] or 0.0
    if min_real < 0:
        df = df.withColumn("real", F.col("real") - F.lit(min_real))

    dev = half_deviation(SPARK_OPS, F.col("real"), F.col("predict"))
    df = df.withColumn("deviation", dev).withColumn(
        "metric", F.abs(F.col("real") - F.col("predict"))
    )

    df = df.persist()
    try:
        B = options.max_driver_pairs

        def _bucketed(col_df, col: str, flag=None):
            """B-bucket histogram fallback: (values, counts[, flag_counts])
            with bucket centers standing in for member values."""
            mn, mx = col_df.agg(F.min(col), F.max(col)).first()
            if mn is None:
                return np.array([]), np.array([]), np.array([])
            if mn == mx:
                n = col_df.count()
                ns = (
                    col_df.filter(flag).count() if flag is not None else n
                )
                return (
                    np.array([mn], float),
                    np.array([float(n)]),
                    np.array([float(ns)]),
                )
            b = F.least(
                F.floor((F.col(col) - F.lit(mn)) / F.lit(mx - mn) * B),
                F.lit(B - 1),
            ).alias("__b")
            keys = [b] + ([flag.alias("__sel")] if flag is not None else [])
            # toPandas: Arrow batches move the up-to-2B bucket rows ~10x
            # cheaper than row-pickle collect() (measured 2.7s -> 0.3s on
            # the 562k-leaf scale instance)
            pdf_b = (
                col_df.groupBy(*keys).agg(F.count(F.lit(1)).alias("c")).toPandas()
            )
            width = (mx - mn) / B
            bidx = pdf_b["__b"].to_numpy(np.int64)
            cnt = pdf_b["c"].to_numpy(float)
            if flag is not None:
                selc = cnt * pdf_b["__sel"].fillna(False).to_numpy(bool)
            else:
                selc = cnt
            # bucket value is monotone in __b, so unique(bidx) sorts
            # identically to the old sorted-by-value dict
            ub, inv = np.unique(bidx, return_inverse=True)
            vals = mn + (ub + 0.5) * width
            return (
                vals,
                np.bincount(inv, weights=cnt),
                np.bincount(inv, weights=selc),
            )

        # --- KPI filter threshold: distinct (metric, count) pairs, exact
        # when they fit in B, else B-bucket histogram -------------------
        if options.enable_filter:
            pdf_m = (
                df.groupBy("metric")
                .agg(F.count(F.lit(1)).alias("c"))
                .limit(B + 1)
                .toPandas()  # single action, Arrow transfer (see _bucketed)
            )
            if len(pdf_m) <= B:
                if pdf_m.empty:
                    return []
                arr = pdf_m.to_numpy(dtype=float)
                order = np.argsort(arr[:, 0], kind="stable")
                m_vals, m_cnts = arr[order, 0], arr[order, 1]
            else:
                m_vals, m_cnts, _ = _bucketed(df.select("metric"), "metric")
            threshold = kpi_filter_threshold_weighted(
                m_vals, m_cnts, density_fn=options.filter_density_fn
            )
            sel_pred = F.col("metric") > F.lit(threshold)
        else:
            sel_pred = F.lit(True)

        # --- deviation pairs: ONE bounded job yields both the cluster
        # input (selected rows) and the full-frame weights ---------------
        pdf_d = (
            df.groupBy("deviation", sel_pred.alias("__sel"))
            .agg(F.count(F.lit(1)).alias("c"))
            .limit(B + 1)
            .toPandas()  # single action, Arrow transfer (see _bucketed)
        )
        if len(pdf_d) <= B:
            dv = pdf_d["deviation"].to_numpy(float)
            sel = pdf_d["__sel"].fillna(False).to_numpy(bool)
            cnt = pdf_d["c"].to_numpy(float)
            values, inv = np.unique(dv, return_inverse=True)
            tot_cnts = np.bincount(inv, weights=cnt)
            sel_cnts = np.bincount(inv, weights=cnt * sel)
        else:
            values, tot_cnts, sel_cnts = _bucketed(
                df.select("deviation", "metric"), "deviation", flag=sel_pred
            )
        if len(values) == 0:
            return []

        cl_mask = sel_cnts > 0
        if not cl_mask.any():
            return []
        ranges = density_cluster_1d_weighted(
            values[cl_mask], sel_cnts[cl_mask], options
        )
        if not ranges:
            return []

        # abnormal = union of cluster ranges; normal = |dev| below the
        # least-abnormal |dev| (ref squeeze.py:99-106)
        in_any = np.logical_or.reduce(
            [(values >= lo) & (values <= hi) for lo, hi in ranges]
        )
        abn_vals = values[in_any]
        min_abn_abs = float(np.min(np.abs(abn_vals))) if len(abn_vals) else 0.0
        normal_pred = F.abs(F.col("deviation")) < F.lit(min_abn_abs)

        if options.score_weight == "auto":
            # ref squeeze.py:281-288 (revised formula)
            n_clusters = len(ranges)
            g_cluster = np.log(n_clusters + 1) / n_clusters
            num_attr = sum(
                df.agg(
                    *[F.countDistinct(a).alias(a) for a in attributes]
                ).first()
            )
            g_attribute = num_attr / np.log(num_attr + 1)
            n_abnormal = int(tot_cnts[in_any].sum())
            n_total = int(tot_cnts.sum())
            g_coverage = -np.log(max(n_abnormal, 1) / max(n_total, 1))
            score_weight = float(g_cluster * g_attribute * g_coverage)
        else:
            score_weight = float(options.score_weight)

        from riskloc_spark.plans.cuboid import cuboids_of_layer

        # fused locate: constant job count for ALL (cluster, cuboid)
        # pairs; the per-layer early break is emulated on the driver
        # (ret_lists truncated at the first layer containing a score
        # above ps_upper_bound — identical contents to the sequential
        # loop that stopped computing there)
        located = _locate_all(
            df, attributes, ranges, normal_pred, options, derived=derived
        )

        root_causes: list[str] = []
        for ci in range(len(ranges)):
            ret_lists: list[dict[str, Any]] = []
            idx = 0
            for layer in range(1, len(attributes) + 1):
                for _cuboid in cuboids_of_layer(attributes, layer):
                    rc, score = located.get((ci, idx), ([], float("-inf")))
                    ret_lists.append(
                        {
                            "rc": rc,
                            "score": score,
                            "n_ele": len(rc),
                            "layer": layer,
                            "rank": score * score_weight - len(rc) * layer,
                        }
                    )
                    idx += 1
                if any(r["score"] > options.ps_upper_bound for r in ret_lists):
                    break
            ret_lists.sort(key=lambda r: r["rank"], reverse=True)
            if ret_lists and ret_lists[0]["rc"]:
                rc_str = ";".join(
                    sorted(
                        "&".join(f"{k}={v}" for k, v in sorted(e.items()))
                        for e in ret_lists[0]["rc"]
                    )
                )
                root_causes.append(rc_str)
        return sorted(set(root_causes))
    finally:
        df.unpersist()
