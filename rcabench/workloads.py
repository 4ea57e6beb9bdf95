"""Workload definitions: case shapes, generator parameters, and the case
order of each workload.  ``gen.py`` reads this to make the inputs and
``run.py`` to run and check them."""
from __future__ import annotations

_COMMON = {"weibull_alpha": (0.5, 1.0), "zero_rate": (0.0, 0.25)}

# the reference's S dataset (generate_dataset.py presets), 48,000 leaves
S_REF = {**_COMMON, "dimensions": {"a": 10, "b": 12, "c": 10, "d": 8, "e": 5},
         "noise_level": (0.0, 0.25), "anomaly_severity": (0.2, 1.0),
         "anomaly_deviation": (0.0, 0.1), "num_anomaly": (1, 3),
         "num_anomaly_elements": (1, 3), "layer": (1, 5)}
# the timed cases: S with less noise and no anomaly weaker than 0.5.  At
# the reference's noise (up to 0.25) a few realizations send riskloc into
# long chains of false-positive leaves (one S case took 20 s against a
# median of 1.5 s), and with ~10 cases in a run the run's figures then
# swung by 30-60% from seed to seed.
# Anomalies sit in layers 1-3 (40 or more leaves each): whether riskloc
# finds a layer-4 or -5 anomaly of a few leaves depends on their values,
# and found or missed changed a case's time 2x from seed to seed.  Up to
# two elements per anomaly, not three, keeps a block within the budget.
S = {**S_REF, "noise_level": (0.0, 0.02), "anomaly_severity": (0.5, 1.0),
     "num_anomaly_elements": (1, 2), "layer": (1, 3)}
# above riskloc's driver_rows (216,000 leaves): one cause per case, so every call
# runs the same number of distributed search passes
XL = {**S, "dimensions": {"a": 60, "b": 60, "c": 60}, "num_anomaly": (1, 1),
      "num_anomaly_elements": (1, 1), "layer": (1, 2)}
# derived a/b cases (9,600 leaves); the warm-up case is a small one
D = {**S, "dimensions": {"a": 10, "b": 12, "c": 10, "d": 8},
     "success_rate": (0.9, 1.0)}
D_WARM = {**D, "dimensions": {"a": 5, "b": 6, "c": 5, "d": 4}}

ALGORITHMS = ("riskloc", "autoroot", "squeeze", "hotspot", "adtributor",
              "r_adtributor", "robustspot")

# params: generator parameters per case shape; warmup: shapes of the
# cases run before timing; block: the design's slots, one measured case
# each (gen.py), which the loop measures as a whole, again and again
# (run.py); below: whether the cases sit at or below riskloc's
# driver_rows default, on its driver (pandas) path
WORKLOADS = {
    "small_plain": {"derived": False, "algorithms": ("riskloc",),
                    "params": {"S": S}, "warmup": ["S"], "case": "S",
                    "block": 16, "below": True},
    "large_plain": {"derived": False, "algorithms": ("riskloc",),
                    "params": {"XL": XL}, "warmup": ["XL"], "case": "XL",
                    "block": 1, "below": False},
    "derived_all": {"derived": True, "algorithms": ALGORITHMS,
                    "params": {"D": D, "D_WARM": D_WARM}, "warmup": ["D_WARM"],
                    "case": "D", "block": 2, "below": True},
}
