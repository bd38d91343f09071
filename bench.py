#!/usr/bin/env python
"""Benchmark harness — prints ONE JSON line:
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}

Headline queries at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] (default: one slot per host CPU):
  * flagship_dedup  — full near-dup clustering pipeline on `documents`
  * exact_dedup     — exact-hash family pass + survivor window (SQL)
  * minhash_sketch  — relational MinHash kernel (SQL)
  * ngram_jaccard   — bucketed token-set-similarity self-join (SQL)
  * ann_topk        — brute-force cosine top-k over `embeddings`
  * decontaminate   — 8-gram benchmark-overlap decontamination
  * semdedup        — SemDeDup-style within-cell embedding dedup
  * wa2_estimator   — weighted_average2 survivor counts (reference CLI
                      default) over per-cluster family histograms
  * nation_revenue  — Q5-shaped relational rollup (broadcast dims)
  * synth_dedup_50k — pipeline over a 50k-doc JVM-synthesized corpus
                      (the throughput number quoted as docs/sec)

Scaling evidence: `python BENCH/run_scaling.py` executes the synth_dedup
workload in fresh subprocesses at two SPARK_GRAFT_CPUS levels and writes
BENCH/BASELINE.md.
"""

from __future__ import annotations

import json
import os
import sys
import time


def run_bench(sf_dir: str, synth_docs: int = 50_000, only: str | None = None):
    import __spark_entry__ as entry_mod
    from umi_dedup_spark.config import DedupConfig
    from umi_dedup_spark.plans.pipeline import DedupPipeline
    from umi_dedup_spark.session import get_spark, warm_python_workers
    from umi_dedup_spark.synth import spark_synth_pages

    # get_spark's default of one shuffle partition per task slot: measured
    # 4x partitions REGRESSED the pairs stage ~13x (37s vs 3s at 5k docs,
    # healthy window) — its window+self-join+agg chain pays per-partition
    # sort/setup on every exchange, and AQE does not coalesce window inputs
    spark = get_spark("bench")
    warm_python_workers(spark)
    queries: dict[str, float] = {}
    extra: dict[str, float] = {}
    # BENCH_QUERY_REPS (default 2): every headline query runs REPS times
    # and the MIN wall is reported, with every wall recorded alongside.
    # This host intermittently stalls 5-10x MID-RUN (sustained first-touch
    # degradation the pre-run probe cannot see — BENCH/BASELINE.md); a
    # single-shot bench in such a window records the stall, not the
    # engine (that is exactly how round 3 recorded 44.6s for a pipeline
    # that measures 24.7s median under an interleaved A/B). Min-of-reps
    # is the standard steady-state estimator under asymmetric noise; the
    # raw walls stay in the JSON so a reader can see the spread. Every
    # rep is COLD-LINEAGE: rebuilding the DataFrames is not enough —
    # Spark's CacheManager matches canonicalized plans, so a rep-2 plan
    # identical to rep 1's would silently read rep 1's persisted stage
    # caches — so the cache is cleared before every timed rep. What stays
    # warm is the JVM (codegen, JIT) and the OS page cache, i.e. the
    # steady state of a long-lived production executor.
    reps = max(1, int(os.environ.get("BENCH_QUERY_REPS", "2")))

    def timed(name, fn):
        if only and name != only:
            return
        n = None
        walls = []
        for _ in range(reps):
            spark.catalog.clearCache()
            # clearCache only drops the SQL cache; localCheckpoint blocks
            # (e.g. the CC fixpoint's final label table, kept alive by the
            # previous rep's result lineage) sit in getPersistentRDDs and
            # would accumulate across reps — reps are independent, drop
            # everything.
            jmap = spark.sparkContext._jsc.getPersistentRDDs()
            for rid in list(jmap.keySet().toArray()):
                jmap.get(rid).unpersist(False)
            t0 = time.time()
            n = fn()
            walls.append(round(time.time() - t0, 3))
        queries[name] = min(walls)
        if reps > 1:
            extra[f"{name}_walls"] = walls
        if n is not None:
            extra[f"{name}_rows"] = n

    q = entry_mod.queries()

    timed("flagship_dedup", lambda: q["flagship_dedup_pipeline"](spark, sf_dir).count())
    timed("exact_dedup", lambda: q["exact_dedup_mark"](spark, sf_dir).count())
    timed("minhash_sketch", lambda: q["minhash_sketch"](spark, sf_dir).count())
    timed("ngram_jaccard", lambda: q["ngram_jaccard_pairs"](spark, sf_dir).count())
    timed("ann_topk", lambda: q["ann_cosine_topk"](spark, sf_dir).count())
    # round-4 additions (totals before r4 exclude these two keys)
    timed("decontaminate", lambda: q["decontaminate_ngram"](spark, sf_dir).count())
    timed("semdedup", lambda: q["semdedup_mark"](spark, sf_dir).count())
    # round-5 additions (totals before r5 exclude these two keys)
    timed("wa2_estimator", lambda: q["wa2_survivor_counts"](spark, sf_dir).count())
    timed("nation_revenue", lambda: q["nation_revenue"](spark, sf_dir).count())

    synth_key = f"synth_dedup_{synth_docs // 1000}k"
    # the synth corpus is materialized to parquet ONCE (untimed setup,
    # reused across legs/runs keyed by size): the measured pipeline reads
    # parquet exactly as production would, instead of paying the
    # interpreted HOF text-synthesis chain on every lazy re-scan
    corpus_dir = os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        ".spark-local", f"synth_corpus_{synth_docs}",
    )

    def synth_pipeline():
        pages = spark.read.parquet(corpus_dir)
        pipe = DedupPipeline(spark, DedupConfig())
        res = pipe.run(pages)
        return pipe, res, res.marked.count()

    synth_stage_reps: list[tuple[dict, int | None]] = []

    def synth_run():
        pipe, res, n = synth_pipeline()
        synth_stage_reps.append((res.stage_times, pipe.cc_iterations))
        return n

    if not only or only == synth_key:
        if not os.path.exists(os.path.join(corpus_dir, "_SUCCESS")):
            spark_synth_pages(spark, synth_docs).write.mode("overwrite").parquet(corpus_dir)
        # BENCH_WARMUP_RUNS: untimed steady-state warmup pipelines (JIT
        # compilation, OS page cache) before the measured run — the
        # scaling harness measures steady-state throughput, not JVM
        # cold-start, which is amortized over hours on a real cluster
        for _ in range(int(os.environ.get("BENCH_WARMUP_RUNS", "0"))):
            synth_pipeline()
            spark.catalog.clearCache()

    timed(synth_key, synth_run)
    if synth_key in queries:
        extra["synth_docs_per_sec"] = round(synth_docs / queries[synth_key], 1)
        # stage times of the rep that produced the reported (min) wall
        walls = extra.get(f"{synth_key}_walls", [queries[synth_key]])
        best = min(range(len(walls)), key=lambda i: walls[i])
        extra["synth_stage_times"], extra["cc_iterations"] = synth_stage_reps[best]

    return {
        "metric": "near-dup clustering throughput (docs/sec) + headline query latencies",
        "value": round(sum(queries.values()), 3),
        "unit": "sec",
        "queries": queries,
        "sf": sf_dir.rstrip("/").rsplit("sf", 1)[-1] if "sf" in sf_dir else sf_dir,
        **extra,
        "cpus": spark.sparkContext.defaultParallelism,
    }


if __name__ == "__main__":
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    # default sized so the harness completes even when the shared VM's
    # memory throughput is in a degraded window (see BENCH/BASELINE.md
    # caveats); raise via env for scaling runs
    synth_docs = int(os.environ.get("BENCH_SYNTH_DOCS", "20000"))
    only = sys.argv[1] if len(sys.argv) > 1 else None
    print(json.dumps(run_bench(sf_dir, synth_docs, only)))
