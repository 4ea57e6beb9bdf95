"""Seeded numpy generator for the RCA benchmark's input cases.

Follows the reference ``generate_dataset.py`` (the RiskLoc S/L/H
datasets): Weibull reals, a zero rate, relative forecast noise, a random
real/predict swap, and anomalies injected into non-overlapping cuboids of
layers 1..d whose direction follows the sign of the normal-data error,
scaled by a severity and a per-leaf deviation.  Derived cases add an a/b
pair (KPI = a/b): b is a plain measure and a = b * rate, with the
anomaly injected into a.

One difference in sampling, not in ranges: the structure of each case
follows a fixed Latin-hypercube design of ``block`` slots, one measured
case per slot, instead of independent draws.  A slot fixes the Weibull
shape, zero rate, noise, deviation and anomaly count, and per anomaly its
element count, layer, cuboid and severity; across the slots each of these
takes the midpoint of every stratum of its range once.  The seed draws
everything else: the leaf values and noise, and which elements of each
cuboid are anomalous.  The localizers' run time and F1 depend mostly on
the structure, so every seed gives the same mix of easy and hard cases
and a run's figures vary far less from seed to seed than with independent
draws.  Warm-up cases take the low end of every range (one anomaly of
one element in layer 1, the quickest to localize) but the middle of the
noise and deviation ranges, and do not depend on the seed.  They are the
benchmark's known answers, which every algorithm finds.  At the low end
of those two ranges the data degenerate: without noise riskloc and
squeeze return no cause, and without deviation every anomalous leaf has
the same deviation score, so riskloc's cutoff (which removes the most
extreme distinct scores) picks its side on rounding differences.

The generator is numpy-only and runs in its own process, so the measured
process never holds the generation frames, and a change to the library's
own generator cannot change the benchmark's inputs.

Run as ``python3 rcabench/gen.py --workload W --seed N --out DIR``; it
writes ``DIR/cases.json`` (per case: csv stem, shape, leaf count, label)
and one csv (plain) or one ``.a.csv``/``.b.csv`` pair (derived) per case.
"""
from __future__ import annotations

import argparse
import itertools
import json
import math
import multiprocessing
import os
import sys
from concurrent.futures import ProcessPoolExecutor

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from workloads import WORKLOADS  # noqa: E402

# the parameters the design fixes per slot: once per case, and once per
# anomaly (suffixed .0, .1, ... up to the largest anomaly count)
CASE_KEYS = ("weibull_alpha", "zero_rate", "noise_level", "anomaly_deviation",
             "num_anomaly")
ANOMALY_KEYS = ("num_anomaly_elements", "layer", "anomaly_severity", "cuboid")
INTEGER = ("num_anomaly", "num_anomaly_elements", "layer")
# seeds the design's permutations; a constant, so the design is part of
# the workload definition and not of the run's seed
DESIGN_SEED = 20220606


def design_keys(spec):
    return CASE_KEYS + tuple(f"{k}.{i}" for i in range(spec["num_anomaly"][1])
                             for k in ANOMALY_KEYS)


def _draw(spec, key, u):
    """Map u in [0, 1) onto the parameter's range (inclusive for counts);
    the cuboid key is mapped by make_case."""
    key = key.split(".")[0]
    lo, hi = spec[key]
    if key in INTEGER:
        return lo + min(int(u * (hi - lo + 1)), hi - lo)
    return lo + u * (hi - lo)


def pick_anomalies(rng, dimensions, element_counts, cuboids):
    """Anomaly locations: per anomaly its cuboid (a sorted dimension
    subset) and element tuples that reuse no element an earlier anomaly
    holds on a shared dimension.  A cuboid below the last layer is used
    once: when the given one is taken, or has no free placement, a random
    cuboid of the same layer is tried, and after 50 tries the anomaly is
    dropped."""
    dims = list(dimensions)
    anomalies = []
    for n_elements, cuboid in zip(element_counts, cuboids):
        level = len(cuboid)
        for attempt in range(50):
            if attempt:
                cuboid = sorted(rng.choice(dims, size=level, replace=False).tolist())
            if level < len(dims) and cuboid in [a["dimensions"] for a in anomalies]:
                continue
            per_dim = []
            for d in cuboid:
                taken = {el[a["dimensions"].index(d)] for a in anomalies
                         if d in a["dimensions"] for el in a["elements"]}
                free = [v for v in range(1, dimensions[d] + 1) if v not in taken]
                if not free:
                    break
                per_dim.append(rng.choice(free, size=n_elements).tolist())
            else:
                elements = list(zip(*per_dim))
                if len(set(elements)) == n_elements:
                    anomalies.append({"dimensions": cuboid, "elements": elements})
                    break
    return anomalies


def label_of(anomalies):
    """'d=v&d=v;...' with the predicates of each cause sorted."""
    return ";".join(
        "&".join(sorted(f"{d}={d}{v}" for d, v in zip(a["dimensions"], el)))
        for a in anomalies for el in a["elements"]
    )


def _leaf_index(dimensions):
    """Per dimension the 1-based value of every leaf, in row-major order
    of the full cross product."""
    sizes = list(dimensions.values())
    grids = np.indices(sizes).reshape(len(sizes), -1) + 1
    return dict(zip(dimensions, grids))


def _plain_measure(rng, n, alpha, zero_rate, noise):
    real = rng.weibull(alpha, n) * 100.0
    real[rng.random(n) < zero_rate] = 0.0
    predict = real * (1.0 + rng.normal(0.0, noise, n))
    # swap half of the pairs so forecast errors are symmetric
    swap = rng.random(n) < 0.5
    real, predict = np.where(swap, predict, real), np.where(swap, real, predict)
    return real, np.maximum(predict, 0.0)


def _inject(rng, real, predict, masks, props):
    """Scale one side of every anomalous leaf.  The side follows the sign
    of the normal-data error, so the anomaly points the same way as the
    noise and the total deviation does not cancel it out."""
    lower_predict = real.sum() > predict.sum()
    for mask, (severity, deviation) in zip(masks, props):
        scale = np.maximum(
            1.0 - (rng.normal(0.0, 1.0, int(mask.sum())) * deviation + severity),
            0.0)
        if lower_predict:
            predict[mask] = real[mask] * scale
        else:
            real[mask] = predict[mask] * scale


def make_case(rng, spec, strata):
    """One case: (attribute columns, measures, label, leaf count); the
    measures map 'plain' or 'a'/'b' to a (real, predict) pair.  ``strata``
    gives u in [0, 1) for each of the design's keys."""
    dimensions = spec["dimensions"]
    n = math.prod(dimensions.values())
    idx = _leaf_index(dimensions)
    alpha, zero_rate, noise, deviation, n_anomaly = (
        _draw(spec, k, strata[k]) for k in CASE_KEYS)
    counts, layers, severities = (
        [_draw(spec, f"{k}.{i}", strata[f"{k}.{i}"]) for i in range(n_anomaly)]
        for k in ANOMALY_KEYS[:3])
    cuboids = []
    for i, layer in enumerate(layers):
        choices = list(itertools.combinations(dimensions, layer))
        u = strata[f"cuboid.{i}"]
        cuboids.append(list(choices[min(int(u * len(choices)), len(choices) - 1)]))
    anomalies = pick_anomalies(rng, dimensions, counts, cuboids)
    props = [(s + noise, deviation) for s in severities]
    masks = []
    for a in anomalies:
        m = np.zeros(n, dtype=bool)
        for el in a["elements"]:
            hit = np.ones(n, dtype=bool)
            for d, v in zip(a["dimensions"], el):
                hit &= idx[d] == v
            m |= hit
        masks.append(m)

    cols = {d: np.array([f"{d}{v}" for v in range(size + 1)], dtype=object)[idx[d]]
            for d, size in dimensions.items()}
    if spec["derived"]:
        real_b, predict_b = _plain_measure(rng, n, alpha, zero_rate, noise)
        rate = rng.uniform(*spec["success_rate"], n)
        real_a = real_b * rate * (1.0 + rng.normal(0.0, noise / 10.0, n))
        predict_a = predict_b * rate
        _inject(rng, real_a, predict_a, masks, props)
        measures = {"a": (real_a, predict_a), "b": (real_b, predict_b)}
    else:
        real, predict = _plain_measure(rng, n, alpha, zero_rate, noise)
        _inject(rng, real, predict, masks, props)
        measures = {"plain": (real, predict)}
    return cols, measures, label_of(anomalies), n


def design(spec):
    """u values for the measured cases, one per slot of the design:
    slot j gives key k the midpoint of stratum perm_k[j] of [0, 1)."""
    block = spec["block"]
    rng = np.random.default_rng(DESIGN_SEED)
    keys = design_keys(spec["params"][spec["case"]])
    perms = {k: rng.permutation(block) for k in keys}
    return [{k: (perms[k][j] + 0.5) / block for k in keys} for j in range(block)]


def _write_case(spec, shape, seed_seq, strata, stem):
    import pandas as pd

    case_spec = {**spec["params"][shape], "derived": spec["derived"]}
    cols, measures, label, n = make_case(np.random.default_rng(seed_seq),
                                         case_spec, strata)
    for name, (real, predict) in measures.items():
        frame = pd.DataFrame(cols)
        frame["real"] = real
        frame["predict"] = predict
        suffix = ".csv" if name == "plain" else f".{name}.csv"
        frame.to_csv(stem + suffix, index=False)
    return {"stem": os.path.basename(stem), "shape": shape, "leaves": n,
            "label": label}


def write_cases(workload, seed, out):
    """Generate every case of a workload (warm-up cases first, then the
    ``block`` measured ones, which alone follow the design) and write it
    under ``out``.  Each case draws from its own child seed sequence, so the
    inputs do not depend on how the cases are spread over processes."""
    os.makedirs(out, exist_ok=True)
    spec = WORKLOADS[workload]
    n = spec["block"]
    shapes = spec["warmup"] + [spec["case"]] * n
    code = sum(map(ord, workload))
    # warm-up cases are the same for every seed: set-up time then does
    # not depend on how hard the seed's cases are
    children = (np.random.SeedSequence([DESIGN_SEED, code]).spawn(len(spec["warmup"]))
                + np.random.SeedSequence([seed, code]).spawn(n))
    strata = ([{**dict.fromkeys(design_keys(spec["params"][shape]), 0.0),
                "noise_level": 0.5, "anomaly_deviation": 0.5}
               for shape in spec["warmup"]] + design(spec))
    jobs = [(spec, shape, child, u, os.path.join(out, f"case{i:03d}"))
            for i, (shape, child, u) in enumerate(zip(shapes, children, strata))]
    ctx = multiprocessing.get_context("spawn")
    with ProcessPoolExecutor(max_workers=min(4, os.cpu_count() or 1),
                             mp_context=ctx) as pool:
        cases = list(pool.map(_write_case, *zip(*jobs)))
    n_warm = len(spec["warmup"])
    manifest = {"workload": workload, "seed": seed,
                "warmup": cases[:n_warm], "cases": cases[n_warm:]}
    with open(os.path.join(out, "cases.json"), "w", encoding="utf-8") as fh:
        json.dump(manifest, fh, indent=1)
    return manifest


def main(argv=None):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--out", required=True)
    a = p.parse_args(argv)
    write_cases(a.workload, a.seed, a.out)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
