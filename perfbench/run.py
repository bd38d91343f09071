#!/usr/bin/env python3
"""End-to-end benchmark of the near-duplicate clustering pipeline.

    python3 perfbench/run.py --workload bulk_web --seed 1 --seconds 1 --trace 0

Run from the repository root. One process, one client, closed loop: set up a
session (``session.get_spark`` + ``warm_python_workers``), then run
``DedupPipeline.run`` until ``--seconds`` have passed since the first run
started, at least once, checking every run's output against the corpus's
planted truth. The first run is cold. A run's cost is the CPU time the whole
program spends on it; its wall time is printed too. The last stdout line is
one JSON object; the lines before it name every metric with its unit.
``--trace 1`` reports the per-layer metrics instead (see perfbench/README.md).
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_run")
sys.path.insert(0, HERE)

import corpus  # noqa: E402
import layers  # noqa: E402

# Sized so that set-up and one cold run fit the time budget of a run on a
# 4-core host (see README.md, "Sizing").
BULK_DOCS = 4_000
HOT_DOCS, HOT_BAND = 600, 600
MIN_RECALL = 0.99

# name -> (estimator, corpus size tag, corpus generator)
WORKLOADS = {
    "bulk_web": ("naive", f"{BULK_DOCS}", lambda seed: corpus.bulk_web(BULK_DOCS, seed)),
    "hot_boilerplate": (
        "weighted_average2", f"{HOT_DOCS}-{HOT_BAND}",
        lambda seed: corpus.hot_boilerplate(HOT_DOCS, HOT_BAND, seed)),
}


def deploy_env() -> None:
    """The deployment settings the benchmark passes; everything else stays
    at program defaults. SPARK_DRIVER_XMS and MALLOC_* are removed so the
    program's own defaults apply."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    heap_g = max(1, int(layers.mem_total_mb() * 0.6 / 1024))
    env = {
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        # as `spark-submit --driver-memory` would be sized for this host:
        # the program's 48g default gets the driver OOM-killed on 15 GB
        "SPARK_DRIVER_MEM": f"{heap_g}g",
        "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
        "SPARK_DRIVER_JAVA_OPTS": f"-Djava.io.tmpdir={tmp}",
        "TMPDIR": tmp,
        "PYTHONPATH": ROOT,
        "PYSPARK_PYTHON": sys.executable,
    }
    for key in ("SPARK_DRIVER_XMS", "MALLOC_MMAP_THRESHOLD_", "MALLOC_TRIM_THRESHOLD_"):
        os.environ.pop(key, None)
    os.environ.update(env)
    tempfile.tempdir = tmp


# -- session ---------------------------------------------------------------
def setup_session():
    """Fresh process to a ready session; returns (spark, session metrics)."""
    from umi_dedup_spark.session import get_spark, warm_python_workers

    avail = layers.mem_available_mb()
    t0 = time.perf_counter()
    # one shuffle partition per task slot, the rule bench.py states
    spark = get_spark("perfbench", shuffle_partitions=int(os.environ["SPARK_GRAFT_CPUS"]))
    t1 = time.perf_counter()
    warm_python_workers(spark)
    t2 = time.perf_counter()
    opts = spark.sparkContext.getConf().get("spark.driver.extraJavaOptions", "")
    return spark, {
        "setup_s": t2 - t0,
        "session.get_spark_s": t1 - t0,
        "session.warm_workers_s": t2 - t1,
        "session.pretouch": float("AlwaysPreTouch" in opts),
        "session.mem_available_mb": avail,
    }


def stop_session(spark) -> None:
    """Stop Spark and wait for its JVM (which takes the Python workers
    down with it) to exit."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


# -- one pipeline run --------------------------------------------------------
def run_pipeline(spark, algorithm: str, pages: str, jvm_pid: int):
    """One run; returns (pipeline, result, marked rows, wall s, CPU s,
    steal s). The CPU and steal readings sit outside the wall."""
    from umi_dedup_spark.config import DedupConfig
    from umi_dedup_spark.plans.pipeline import DedupPipeline

    # every run starts from cold lineage: drop the previous run's cached
    # stages and the CC fixpoint's checkpointed blocks
    spark.catalog.clearCache()
    persisted = spark.sparkContext._jsc.getPersistentRDDs()
    for rid in list(persisted.keySet().toArray()):
        persisted.get(rid).unpersist(False)
    cpu0, steal0 = layers.cpu_s(jvm_pid), layers.steal_s()
    t0 = time.perf_counter()
    pipe = DedupPipeline(spark, DedupConfig(algorithm=algorithm))
    res = pipe.run(spark.read.parquet(pages))
    n = res.marked.count()
    wall = time.perf_counter() - t0
    return (pipe, res, n, wall, layers.cpu_s(jvm_pid) - cpu0, layers.steal_s() - steal0)


def _pairs(sizes) -> int:
    return int((sizes * (sizes - 1) // 2).sum())


def check(res, n_marked: int, truth) -> tuple[bool, float, float]:
    """Output check: one marked row per input doc, and recall/precision of
    the planted same-family doc pairs among same-cluster pairs, taken from
    the cluster x family contingency table (pairs are never enumerated)."""
    pred = res.marked.select("url", "cluster_id").toPandas()
    m = truth.merge(pred, on="url", how="left")
    rows_ok = n_marked == len(truth) == len(pred) and pred.url.is_unique and m.cluster_id.notna().all()
    family = m.family.fillna(m.url)  # a singleton is a family of one
    both = _pairs(m.groupby([family, m.cluster_id]).size())
    planted = _pairs(m.groupby(family).size())
    predicted = _pairs(m.groupby("cluster_id").size())
    recall = both / planted if planted else 1.0
    precision = both / predicted if predicted else 1.0
    return bool(rows_ok and recall >= MIN_RECALL), recall, precision


def layer_metrics(stores, spans, pipe, res, mark, gc_s: float, n_docs: int) -> dict[str, float]:
    t0 = time.perf_counter()
    out = layers.stage_metrics(
        res.stage_times, pipe.stage_rows, spans.spans(),
        stores.jobs_after(mark[0]), stores.stages_after(mark[1]),
        stores.python_s_by_job(mark[2]),
    )
    out["families.per_doc"] = out["families.wall_s"] * 1e6 / n_docs
    out["edges.per_pair"] = pipe.stage_rows["edges"] / max(1, pipe.stage_rows["pairs"])
    out["labels.cc_rounds"] = pipe.cc_iterations
    out["pairs.overflow_buckets"] = pipe.metrics_overflow.count() if pipe.metrics_overflow is not None else 0
    out["jvm.gc_s"] = gc_s
    out["trace.collect_s"] = time.perf_counter() - t0
    return out


# -- main --------------------------------------------------------------------
def median(values):
    return statistics.median(values) if values else None


def measure(args) -> dict:
    import pandas as pd

    algorithm, size, make = WORKLOADS[args.workload]
    pages, truth_path = corpus.materialize(
        os.path.join(WORK, "cache"), f"{args.workload}-{size}", args.seed, make)
    truth = pd.read_parquet(truth_path)
    n_docs = len(truth)

    layers.wait_for_mem(os.path.join(WORK, "mem_available_mb"))
    spark, setup = setup_session()
    stores = layers.StatusStores(spark) if args.trace else None
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()

    attempted = failed = 0
    cold = None
    walls: list[float] = []
    cpus: list[float] = []
    steals: list[float] = []
    quality: list[tuple[float, float]] = []
    traced: list[dict[str, float]] = []
    t_start = time.perf_counter()
    while attempted == 0 or time.perf_counter() - t_start < args.seconds:
        attempted += 1
        try:
            if args.trace:
                mark, gc0 = stores.watermark(), stores.gc_s()
                with layers.StageSpans(spark.sparkContext) as spans:
                    pipe, res, n, wall, cpu, steal = run_pipeline(spark, algorithm, pages, jvm_pid)
                lm = layer_metrics(stores, spans, pipe, res, mark, stores.gc_s() - gc0, n_docs)
                lm["trace.run_s"] = wall
                lm["trace.hook_s"] = spans.self_s
            else:
                pipe, res, n, wall, cpu, steal = run_pipeline(spark, algorithm, pages, jvm_pid)
            ok, recall, precision = check(res, n, truth)
            if not ok:
                print(f"run {attempted}: output check failed: {n} marked rows for "
                      f"{n_docs} docs, pair recall {recall:.4f}", file=sys.stderr)
        except Exception:  # a failed run is counted and the loop goes on
            traceback.print_exc()
            ok = False
        if not ok:
            failed += 1
            continue
        if attempted == 1:
            cold = wall
        walls.append(wall)
        cpus.append(cpu)
        steals.append(steal)
        quality.append((recall, precision))
        if args.trace:
            traced.append(lm)
    rss = layers.peak_rss_mb(jvm_pid)
    stop_session(spark)

    result = {
        "setup_s": setup["setup_s"],
        "docs_per_cpu_s": n_docs * len(cpus) / sum(cpus) if cpus else None,
        "peak_rss_mb": rss,
        "pair_recall": median([q[0] for q in quality]),
        "pair_precision": median([q[1] for q in quality]),
    }
    # wall times follow the load on the VM's host (see README.md, "Why CPU
    # seconds"): printed beside the metrics, not bounded
    unbounded = {
        "cold_run_s": cold,
        "docs_per_s": n_docs * len(walls) / sum(walls) if walls else None,
        "run.steal_s": median(steals),
    }
    per_layer: dict[str, float] = {}
    if args.trace:
        per_layer.update((k, v) for k, v in setup.items() if k.startswith("session."))
        per_layer["run.cpu_s"] = median(cpus)
        per_layer["run.steal_s"] = median(steals)
        for key in sorted({k for lm in traced for k in lm}):
            per_layer[key] = median([lm[key] for lm in traced if key in lm])
    return {
        "attempted": attempted, "failed": failed, "n_docs": n_docs,
        "e2e": result, "unbounded": unbounded, "per_layer": per_layer,
    }


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", choices=sorted(WORKLOADS), required=True)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=1)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "umi_dedup_spark", "session.py")):
        print(f"perfbench: no umi_dedup_spark package under {ROOT}", file=sys.stderr)
        return 2
    deploy_env()
    sys.path.insert(0, ROOT)

    # BENCHMARK.json names every reported metric and its unit
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)["per_layer" if args.trace else "end_to_end"]
    r = measure(args)
    values = {**r["e2e"], **r["per_layer"]}
    metrics = {m["name"]: {"value": values.get(m["name"]), "unit": m["unit"]} for m in declared}
    print(f"workload {args.workload} seed {args.seed}: {r['n_docs']} docs, "
          f"{r['attempted']} pipeline run(s), the first one cold"
          f"{', traced' if args.trace else ''}")
    for name, m in metrics.items():
        print(f"  {name:32s} {m['value']!s:>24} {m['unit']}")
    print(f"  {'fail_ratio':32s} {r['failed']}/{r['attempted']}")
    units = {"cold_run_s": "s", "docs_per_s": "1/s", "run.steal_s": "s"}
    for name, value in r["unbounded"].items():
        print(f"  {name:32s} {value!s:>24} {units[name]} (not bounded)")
    print(json.dumps({
        "correct": r["failed"] == 0 and all(m["value"] is not None for m in metrics.values()),
        "attempted": r["attempted"],
        "failed": r["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
