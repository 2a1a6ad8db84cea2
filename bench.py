#!/usr/bin/env python
"""Benchmark harness: the reference's benchto method
(presto-benchto-benchmarks/.../benchmarks/presto/tpch.yaml: prewarm runs,
then measured steady-state runs) over the HEADLINE queries.

Per query: JVM warm-up, ``clearCache`` and GC, then PREWARM_RUNS unmeasured
and RUNS measured runs into a noop sink; the median is reported.

Environment:
  SPARK_GRAFT_SF_DIR  data directory (default: the sf0.1 testdata)
  BENCH_ONLY          comma-separated query names to run instead of HEADLINE

Prints two lines. ``BENCH_DETAIL {...}`` carries, per query, the samples,
min/median/max, and for each measured run the JVM GC ms and Spark's own
counters (``perfbench.spans.counters``: jobs, stages, tasks, shuffle
records, rows and bytes across the Arrow boundary, normalized plan hash).
The last line is the compact headline that callers parse:
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}

Between two runs of the bench, counters that stayed the same while walls
moved mean host noise; counters that moved mean a code or plan change.
"""

from __future__ import annotations

import gc
import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

from perfbench.spans import SparkProbe, counters  # noqa: E402

# The reference's tpch.yaml: runs 6, prewarm-runs 2. Fewer runs let
# session GC pauses into the medians.
PREWARM_RUNS = 2
RUNS = 6

# The TPC-H spine (scan-agg, multi-join, semi-join, having, top-k), the
# extension operators the suite started with, the two hardest TPC-DS join
# shapes (q64, q72) and q04's CTE reuse, then one entry per later operator
# family whose scale claim needs a recorded time: the ANN rungs, the
# distributed sort, the scalable window twins, the typo and interval joins,
# the text scorers, the GD trainer, the codec roundtrip and the iterative
# graph loops.
HEADLINE = [
    "tpch_q01",
    "tpch_q03",
    "tpch_q05",
    "tpch_q06",
    "tpch_q08",
    "tpch_q09",
    "tpch_q13",
    "tpch_q18",
    "tpch_q21",
    "win_topn_per_group",
    "events_sessionize",
    "events_range_join",
    "dedup_minhash_lsh",
    "sim_topk_bruteforce",
    "sim_ivf",
    "agg_hll_sketch",
    "text_fingerprint",
    "tpcds_q64",
    "tpcds_q72",
    "tpcds_q04",
    "sim_ivfpq",
    "sort_distributed_sample",
    "events_rfm_scores_scalable",
    "part_abc_scalable",
    "sim_bq_hamming",
    "text_segment_dedup",
    "layout_hilbert",
    "dedup_fuzzy_del1",
    "text_ngram_novelty",
    "events_interval_overlap",
    "text_lm_likelihood",
    "ml_logistic_regression",
    "graph_bfs_distances",
    "dedup_cluster_bigstar",
    "graph_modularity",
    "graph_hits",
    "multimodal_flac_roundtrip",
    "sim_knn_graph",
    "graph_ppr",
    "sim_mmr_diversify",
    "graph_random_walks",
    "graph_ktruss",
]


def _selected() -> list[str]:
    """HEADLINE, or the BENCH_ONLY subset of it in HEADLINE order; names
    outside HEADLINE run as given."""
    only = [q.strip() for q in os.environ.get("BENCH_ONLY", "").split(",") if q.strip()]
    return [q for q in HEADLINE if q in only] or only or HEADLINE


def _run(fn, spark) -> None:
    # noop sink = full execution without driver-side materialization cost
    # (the reference's DevNullOperator / blackhole pattern).
    fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()


def _measure(spark, probe: SparkProbe, name: str, fn) -> dict:
    """Prewarm and measure one query; the probe reads its counters outside
    the timed interval, each run under its own job group."""
    spark.read.parquet(f"{SF_DIR}/lineitem.parquet").count()
    spark.catalog.clearCache()
    gc.collect()
    spark.sparkContext._jvm.System.gc()
    for _ in range(PREWARM_RUNS):
        _run(fn, spark)
    samples, gc_ms, runs = [], [], []
    for i in range(RUNS):
        probe.begin(f"bench-{name}-{i}")
        t0 = time.perf_counter()
        _run(fn, spark)
        samples.append(round(time.perf_counter() - t0, 4))
        stats = probe.end()
        gc_ms.append(stats["gc_ms"])
        runs.append(counters(stats))
    return {
        "min": min(samples),
        "median": round(statistics.median(samples), 4),
        "max": max(samples),
        "samples": samples,
        "gc_ms": gc_ms,
        "counters": runs,
    }


def main() -> None:
    from presto_db_spark.registry import all_queries
    from presto_db_spark.session import get_spark

    # SparkProbe looks up every stage of a run's jobs. Past
    # spark.ui.retainedStages (default 1000) the status store deletes
    # skipped stages first, the running query's included, so keep them all.
    args = os.environ.get("PYSPARK_SUBMIT_ARGS", "pyspark-shell")
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"--conf spark.ui.retainedStages=1000000 {args}"
    spark = get_spark("presto_db_spark_bench")
    probe = SparkProbe(spark, {SF_DIR: "<sf_dir>"})
    queries = all_queries()
    detail = {name: _measure(spark, probe, name, queries[name]) for name in _selected()}
    times = {name: d["median"] for name, d in detail.items()}
    # The detail goes on its own earlier line: callers keep only the tail
    # of stdout, and a long final line loses its head ("value").
    print("BENCH_DETAIL " + json.dumps({"spread": detail}))
    print(
        json.dumps(
            {
                "metric": "headline_suite_median_total",
                "value": round(sum(times.values()), 4),
                "unit": "sec",
                "queries": times,
                "sf": float(SF_DIR.rstrip("/").rsplit("sf", 1)[-1]),
                "runs": RUNS,
                "prewarm": PREWARM_RUNS,
            }
        )
    )


if __name__ == "__main__":
    main()
