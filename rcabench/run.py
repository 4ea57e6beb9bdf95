"""RCA localization benchmark for riskloc_spark.

    python3 rcabench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a checkout.  It generates the workload's cases from
the seed in a separate process (gen.py), then, in this process, starts one
SparkSession at local[min(4, cores)], warms up on cases outside the
measured set, and runs a closed loop with one caller for ``--seconds``:
each case in turn through each of the workload's algorithms, the way
``riskloc_spark.cli.run_instance`` does (read the csv, ``run_method``,
``root_cause_postprocessing``, ``score_root_causes``).  The loop runs
whole passes over the workload's cases (one per slot of the generator's
design) and starts no pass after ``--seconds``, so every run measures the
same cases and every algorithm sees all of them.

With ``--trace 0`` the last stdout line carries the end-to-end metrics;
with ``--trace 1`` every library call runs in a span and the
line carries the per-layer metrics instead (spans.py).  A line before it holds the
details: per-algorithm figures, the tail latency, and the checks.

The outputs are checked: every prediction must name attributes and values
of its case, every algorithm must find the cause of each warm-up case,
riskloc's aggregate F1 must reach the workload's floor, each case must
read back with its generated leaf count, that count must sit on the
workload's side of riskloc's ``driver_rows`` default, and riskloc's
warm-up call must have taken the matching path (judged by its Spark job
count).  An exception in a localization counts as a failed operation.  If any check fails the
result says ``"correct": false`` and the exit code is 1.
"""
from __future__ import annotations

import argparse
import inspect
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from contextlib import contextmanager

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
from workloads import WORKLOADS  # noqa: E402

RIVAL = "riskloc"
# riskloc's aggregate F1 under which a run's outputs count as wrong: far
# below what it reaches on every workload (0.8-1.0), far above a broken
# localizer's 0
MIN_F1 = 0.3
# Spark jobs of one riskloc call on the driver path: one collect of the
# leaf frame (a limit may take a second job).  The distributed path runs
# tens (totals, cutoff, a search job per layer and iteration).
DRIVER_PATH_JOBS = 2


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def vm_hwm_mb(pid) -> float:
    """Peak resident set size of a process, from /proc."""
    with open(f"/proc/{pid}/status", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


@contextmanager
def untraced(name, **attrs):
    yield


def tail(values):
    """The highest percentile with at least ten samples above it, or None
    when there are too few samples."""
    n = len(values)
    if n < 11:
        return None
    return {"value": sorted(values)[n - 11], "percentile": 100 * (n - 10) / n,
            "n": n}


def agg_f1(rows):
    tp, fp, fn = (sum(r[k] for r in rows) for k in ("tp", "fp", "fn"))
    return 2 * tp / (2 * tp + fp + fn) if tp + fp + fn else 0.0


class Bench:
    """One SparkSession and the calls the loop makes into the library."""

    def __init__(self, workload, data_dir, tracer_on):
        from riskloc_spark import cli
        from riskloc_spark.evaluation import (root_cause_postprocessing,
                                              score_root_causes)
        from riskloc_spark.functions import scores
        from riskloc_spark.operators.riskloc import riskloc
        from riskloc_spark.session import get_spark
        from riskloc_spark.sources import read_rca_csv, read_rca_csv_derived

        self.spec = WORKLOADS[workload]
        self.data_dir = data_dir
        self.cli, self.scores = cli, scores
        self.postprocess, self.score = root_cause_postprocessing, score_root_causes
        self.readers = (read_rca_csv, read_rca_csv_derived)
        # the CLI's own option defaults for each algorithm
        self.opts = {}
        for algo in self.spec["algorithms"]:
            args = cli.build_parser().parse_args([algo, "-"])
            self.opts[algo] = {k: getattr(args, k) for k in cli.ALGO_OPTIONS[algo]}
        # riskloc's switch between its driver (pandas) and distributed paths
        self.driver_rows = inspect.signature(riskloc).parameters["driver_rows"].default

        cores = min(4, len(os.sched_getaffinity(0)))
        t0 = time.perf_counter()
        self.spark = get_spark("rcabench", master=f"local[{cores}]",
                               shuffle_partitions=cores)
        self.sc = self.spark.sparkContext
        self.sc.setLogLevel("ERROR")
        self.session_start_s = time.perf_counter() - t0
        self.jvm = self.sc._gateway.proc
        self.tracer = None
        if tracer_on:
            from spans import Tracer

            self.tracer = Tracer(self.sc)

    def read(self, case):
        stem = os.path.join(self.data_dir, case["stem"])
        if self.spec["derived"]:
            return self.readers[1](self.spark, stem + ".a.csv", stem + ".b.csv")
        return self.readers[0](self.spark, stem + ".csv")

    def localize(self, case, algo, traced, rep=0, count_jobs=False):
        """Read, run and score one case with one algorithm; returns the
        record of the localization.  ``rep`` numbers the passes over the
        cases; ``count_jobs`` adds the Spark jobs of the algorithm's call."""
        span = self.tracer.span if traced and self.tracer else untraced
        stem = case["stem"]
        group = f"rcabench-jobs-{stem}-{algo}"
        t0 = time.perf_counter()
        with span("sources.read", case=stem, rep=rep):
            df, attrs = self.read(case)
        with span(f"operators.{algo}", case=stem, rep=rep):
            if count_jobs:
                self.sc.setJobGroup(group, "path check")
            causes = self.cli.run_method(df, attrs, algo, self.spec["derived"],
                                         self.opts[algo])
        with span("evaluation.score", case=stem, rep=rep):
            preds = self.postprocess(causes, algo)
            tp, fp, fn, _ = self.score(preds, case["label"])
        wall = time.perf_counter() - t0
        if traced and self.tracer:
            with self.tracer.span("scores.prep", case=stem, rep=rep):
                prepped = self.scores.add_deviation_score(
                    self.scores.add_explanatory_power(df, self.spec["derived"]))
                self.scores.get_cutoff(prepped)
        rec = {"case": stem, "algo": algo, "rep": rep, "wall_s": wall,
               "leaves": case["leaves"], "tp": tp, "fp": fp, "fn": fn,
               "malformed": malformed(preds, attrs)}
        if count_jobs:
            # the status tracker is fed by the listener bus: drain it first
            self.sc._jsc.sc().listenerBus().waitUntilEmpty()
            rec["jobs"] = len(self.sc.statusTracker().getJobIdsForGroup(group))
        return rec

    def leaf_count(self, case):
        self.sc.setJobGroup("rcabench-check", "leaf count check")
        return self.read(case)[0].count()

    def close(self):
        """Stop Spark and wait for the JVM (and its Python workers) to end."""
        self.spark.stop()
        self.sc._gateway.shutdown()
        self.jvm.stdin.close()
        self.jvm.wait(timeout=60)


def malformed(preds, attrs):
    """Predictions that are not 'd=v&...' over the case's attributes,
    with values that name their dimension.  A prediction may join several
    causes with ';' (squeeze reports a cluster's causes as one string,
    as the reference does)."""
    bad = []
    for pred in preds:
        for cause in pred.split(";"):
            parts = [p.split("=", 1) for p in cause.split("&")]
            dims = [p[0] for p in parts]
            if (any(len(p) != 2 or p[0] not in attrs or not p[1].startswith(p[0])
                    for p in parts) or len(set(dims)) != len(dims)):
                bad.append(pred)
                break
    return bad


def generate(out, workload, seed):
    shutil.rmtree(out, ignore_errors=True)
    subprocess.run([sys.executable, os.path.join(HERE, "gen.py"),
                    "--workload", workload, "--seed", str(seed), "--out", out],
                   check=True, cwd=ROOT, stdout=sys.stderr)
    with open(os.path.join(out, "cases.json"), encoding="utf-8") as fh:
        return json.load(fh)


def run(args, data_dir, manifest):
    spec = WORKLOADS[args.workload]
    t0 = time.perf_counter()
    bench = Bench(args.workload, data_dir, args.trace == 1)
    try:
        warm = [bench.localize(case, algo, traced=False, count_jobs=algo == RIVAL)
                for case in manifest["warmup"] for algo in spec["algorithms"]]
        setup_s = time.perf_counter() - t0

        records, errors = [], []
        t_loop = time.perf_counter()
        # whole passes over the cases only, so every run measures the same
        # cases, each slot of the design (gen.py) once a pass
        rep = 0
        while time.perf_counter() - t_loop < args.seconds:
            for case in manifest["cases"]:
                for algo in spec["algorithms"]:
                    try:
                        records.append(bench.localize(case, algo, traced=True, rep=rep))
                    except Exception:  # counted as failed, not fatal
                        errors.append(f"{case['stem']} {algo}: "
                                      f"{traceback.format_exc()}")
            rep += 1
        loop_s = time.perf_counter() - t_loop

        checks = check(spec, manifest, bench, warm, records, errors)
        py_rss, jvm_rss = vm_hwm_mb(os.getpid()), vm_hwm_mb(bench.jvm.pid)
        spans = bench.tracer.spans if bench.tracer else []
    finally:
        bench.close()

    attempted = len(records) + len(errors)
    walls = [r["wall_s"] for r in records]
    detail = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "cases_run": len({r["case"] for r in records}), "passes": rep,
        "loop_s": loop_s,
        "localize_s_tail": tail(walls), "py_peak_rss_mb": py_rss,
        "jvm_peak_rss_mb": jvm_rss,
        "checks": checks,
        "warmup": [{k: r[k] for k in ("case", "algo", "tp", "fp", "fn", "jobs")
                    if k in r} for r in warm],
        "localize_s": [[r["case"], r["algo"], r["wall_s"]] for r in records],
        "per_algorithm": {a: {"calls": len(rs), "f1": agg_f1(rs),
                              "wall_s_p50": statistics.median(r["wall_s"] for r in rs)}
                          for a in spec["algorithms"]
                          if (rs := [r for r in records if r["algo"] == a])},
    }
    if args.trace:
        layers = layer_metrics(spans, records)
        detail["layers"] = layers
        metrics = per_layer(layers, bench.session_start_s, setup_s, walls)
        metrics["session.py_peak_rss_mb"] = (py_rss, "MB")
        metrics["session.jvm_peak_rss_mb"] = (jvm_rss, "MB")
    else:
        metrics = {
            "setup_s": (setup_s, "s"),
            "localize_s_p50": (statistics.median(walls), "s"),
            "leaves_per_s": (sum(r["leaves"] for r in records) / sum(walls), "1/s"),
            "f1": (agg_f1([r for r in records if r["algo"] == RIVAL]), "ratio"),
            "success_frac": (len(records) / attempted, "ratio"),
        }
    print(json.dumps(detail))
    correct = not checks
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": len(errors),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0 if correct else 1


def check(spec, manifest, bench, warm, records, errors):
    """Every check that failed, as one line each (empty when all pass)."""
    failed = list(errors)
    if not records:
        failed.append("no localization completed")
    for r in warm + records:
        if r["malformed"]:
            failed.append(f"{r['case']} {r['algo']}: malformed predictions {r['malformed']}")
    # the warm-up cases hold one single-element cause in layer 1 and are
    # the same for every seed (gen.py): every algorithm finds it.
    # robustspot looks for rising failures only, and in the derived
    # warm-up case the anomaly lowers the success rate a/b.
    for r in warm:
        if r["tp"] < 1:
            failed.append(f"warm-up {r['case']} {r['algo']}: cause not found "
                          f"(tp {r['tp']}, fp {r['fp']}, fn {r['fn']})")
        if "jobs" in r and (r["jobs"] <= DRIVER_PATH_JOBS) != spec["below"]:
            failed.append(f"warm-up {r['case']} {r['algo']}: {r['jobs']} Spark "
                          f"jobs, not the {'driver' if spec['below'] else 'distributed'} path")
    rival = [r for r in records if r["algo"] == RIVAL]
    if rival and agg_f1(rival) < MIN_F1:
        failed.append(f"{RIVAL} aggregate F1 {agg_f1(rival):.3f} < {MIN_F1}")
    used = {r["case"] for r in records}
    for case in manifest["cases"]:
        if case["stem"] not in used:
            continue
        if (case["leaves"] <= bench.driver_rows) != spec["below"]:
            failed.append(f"{case['stem']}: {case['leaves']} leaves on the wrong "
                          f"side of driver_rows={bench.driver_rows}")
        n = bench.leaf_count(case)
        if n != case["leaves"]:
            failed.append(f"{case['stem']}: read {n} leaves, generated {case['leaves']}")
    for line in failed:
        print("CHECK FAILED: " + line, file=sys.stderr)
    return failed


COUNTS = ("jobs", "stages", "tasks", "input_mb", "shuffle_write_mb")
TIMES = ("wall_s", "driver_s", "spark_busy_s", "py_cpu_s", "exec_cpu_s")


def layer_metrics(spans, records):
    """Per span name: median per call of each time, and the mean per call
    of each count over the first pass over the cases (a fixed set of
    calls, so the counts repeat exactly for a seed)."""
    out = {}
    for name in dict.fromkeys(s["name"] for s in spans):
        mine = [s for s in spans if s["name"] == name]
        counted = [s for s in mine if s["rep"] == 0]
        m = {k: statistics.median(s[k] for s in mine) for k in TIMES}
        m.update({k: sum(s[k] for s in counted) / len(counted) for k in COUNTS})
        m["calls"] = len(mine)
        if name.startswith("operators."):
            algo = name.split(".", 1)[1]
            m["f1"] = agg_f1([r for r in records if r["algo"] == algo])
        out[name] = m
    return out


def per_layer(layers, start_s, setup_s, walls):
    metrics = {"session.start_s": (start_s, "s"),
               "session.warmup_s": (setup_s - start_s, "s"),
               "sources.read_s": (layers["sources.read"]["wall_s"], "s"),
               "sources.jobs": (layers["sources.read"]["jobs"], "count")}
    rival = layers[f"operators.{RIVAL}"]
    for k in TIMES:
        metrics[f"operators.{RIVAL}.{k}"] = (rival[k], "s")
    for k in COUNTS:
        metrics[f"operators.{RIVAL}.{k}"] = (rival[k], "MB" if k.endswith("_mb") else "count")
    metrics[f"operators.{RIVAL}.f1"] = (rival["f1"], "ratio")
    metrics["scores.prep_s"] = (layers["scores.prep"]["wall_s"], "s")
    metrics["scores.jobs"] = (layers["scores.prep"]["jobs"], "count")
    metrics["evaluation.score_s"] = (layers["evaluation.score"]["wall_s"], "s")
    metrics["trace.localize_s_p50"] = (statistics.median(walls), "s")
    return metrics


def main(argv=None):
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "riskloc_spark", "__init__.py")):
        print(f"riskloc_spark not found under {ROOT}: run from a checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    data_dir = os.path.join(ROOT, ".rcabench_data", f"{args.workload}-{args.seed}")
    # keep temporary files of the generator, Spark and the JVMs (the
    # launcher's and the driver's) in the checkout, and no hsperfdata files
    # in /tmp
    scratch = os.path.join(ROOT, ".rcabench_data", "tmp")
    os.makedirs(scratch, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = scratch
    os.environ["TMPDIR"] = scratch
    jvm_opts = f"-Djava.io.tmpdir={scratch} -XX:-UsePerfData"
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm_opts
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '{jvm_opts}' pyspark-shell")
    try:
        return run(args, data_dir, generate(data_dir, args.workload, args.seed))
    finally:
        shutil.rmtree(data_dir, ignore_errors=True)
        shutil.rmtree(scratch, ignore_errors=True)


if __name__ == "__main__":
    raise SystemExit(main())
