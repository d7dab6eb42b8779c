"""Benchmark driver: one JSON line on stdout.

Measures the BASELINE.json metric surface:
- index-build throughput (docs/sec) on the synthetic webtext corpus
  (HTML extraction -> tokenize -> postings -> encode -> metadata),
- BM25 top-10 query latency p50/p95 (per-query jobs) + batch throughput
  with the Block-Max-WAND executor,
- wall time of representative queries() entries at $SPARK_GRAFT_SF_DIR.

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS (default 32),
     SPARK_GRAFT_BENCH_DOCS (default 20000),
     SPARK_GRAFT_SCALING=1 to add the local[N] vs local[4N] scaling run
     (also available standalone via scripts/scaling_bench.py).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

BENCH_ENTRIES = [
    "doc_lengths", "term_stats", "bm25_topk", "bm25_topk_bmw",
    "bm25_topk_maxscore", "boolean_and_count", "minhash_lsh_pairs",
    "simhash_pairs", "cosine_topk", "lsh_ann_topk", "lang_id",
    "quality_score", "token_stats", "fingerprint",
]

N_LATENCY_QUERIES = 20


def _corpus(spark, n_docs: int, path: str):
    from pisa_spark.sources import webtext

    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        webtext.generate(spark, n_docs, seed=13).write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


def build_bench(spark, n_docs: int, repeats: int | None = None) -> dict:
    """Median-of-N timed builds (default 3): this box shows +-2x run-to-run
    noise on identical Spark jobs, so a single-run headline can lie in
    either direction; the median is the signal of record."""
    from pisa_spark.config import IndexConfig
    from pisa_spark.plans.build import build_index
    from pisa_spark.sources import webtext
    from scripts.scaling_bench import warm_python_workers

    repeats = repeats or int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "3"))
    # ~117 shards at 60k docs: encode/query task count well above the 32
    # cores so whole-shard granularity can't idle cores or create
    # quantization stragglers (at real scale shards >> cores for any span;
    # see scaling_bench)
    cfg = IndexConfig(shard_span=1 << 9)
    pages = _corpus(spark, n_docs,
                    f"/root/repo/.cache/bench_corpus_{n_docs}")
    # untimed warm-up: python-worker pool + JIT over the same code paths
    # (steady-state throughput, as on a long-lived cluster)
    warm_python_workers(spark, spark.sparkContext.defaultParallelism)
    build_index(webtext.generate(spark, 2000, seed=7), cfg,
                html_col="html", eager=True)
    runs = []
    for _ in range(repeats):
        spark.catalog.clearCache()
        t0 = time.time()
        idx = build_index(pages, cfg, html_col="html", eager=True)
        runs.append((time.time() - t0, idx))
    last_idx = runs[-1][1]  # the only one whose caches survived clearCache
    runs.sort(key=lambda r: r[0])
    build_s, med_idx = runs[len(runs) // 2]
    return {
        "build_seconds": round(build_s, 3),
        "build_seconds_runs": [round(r[0], 3) for r in runs],
        "docs_per_sec": round(med_idx.stats["num_docs"] / build_s, 1),
        "num_docs": med_idx.stats["num_docs"],
        "phase_seconds": med_idx.stats.get("phase_seconds", {}),
        "_index": last_idx,
    }


def query_bench(spark, idx) -> dict:
    from pisa_spark.operators.topk import topk_search
    from pisa_spark.sources import webtext

    from pisa_spark.operators.topk import topk_search_batch

    queries = webtext.synth_queries(100, seed=29)
    # range_span < shard_span so the pruned algorithms' (query, range)
    # cell masks act within each shard (8 ranges per 2048-doc shard)
    rspan = 256
    # batch: all 100 queries in one job (the cluster-shaped workload),
    # shard-partitioned batch executor
    topk_search_batch(idx, queries[:2], k=10, range_span=rspan,
                      algorithm="block_max_wand").count()  # warm-up
    batch_runs = []
    for _ in range(3):  # median-of-3 (same +-2x host noise as the build)
        t0 = time.time()
        n = topk_search_batch(idx, queries, k=10, range_span=rspan,
                              algorithm="block_max_wand").count()
        batch_runs.append(time.time() - t0)
    batch_s = sorted(batch_runs)[1]
    # per-query latency — the reference's exact protocol
    # (tools/queries.cpp:199-210): one UNTIMED pass over every query
    # warms the serve caches, then each query is measured once per run
    # for `runs` runs; per-query time is the median across runs.
    lat_queries = queries[:N_LATENCY_QUERIES]
    for q in lat_queries:  # run 0: not timed
        topk_search(idx, [q], k=10, algorithm="block_max_wand",
                    range_span=rspan, with_urls=False).collect()
    per_q = [[] for _ in lat_queries]
    for _ in range(3):  # reference default --runs 3
        for i, q in enumerate(lat_queries):
            t0 = time.time()
            topk_search(idx, [q], k=10, algorithm="block_max_wand",
                        range_span=rspan, with_urls=False).collect()
            per_q[i].append(time.time() - t0)
    lat = [sorted(ts)[len(ts) // 2] for ts in per_q]
    lat.sort()
    p50 = lat[len(lat) // 2]
    p95 = lat[min(len(lat) - 1, int(len(lat) * 0.95))]
    return {
        "batch_100q_seconds": round(batch_s, 3),
        "batch_rows": n,
        "queries_per_sec_batch": round(100 / batch_s, 2),
        "query_p50_ms": round(p50 * 1000, 1),
        "query_p95_ms": round(p95 * 1000, 1),
    }


def entries_bench(spark, sf_dir: str, repeats: int = 3) -> dict:
    """Median-of-N per entry: single-window entry times on this host carry
    +-2x noise (r03 recorded minhash at 38.5 s vs 13.2 s steady-state), so
    the per-entry signal of record is a median like the build/batch
    sections."""
    import __spark_entry__ as entry_mod

    qs = entry_mod.queries()
    entry_mod._get_index(spark, sf_dir).postings.count()  # untimed index build
    out = {}
    for name in BENCH_ENTRIES:
        runs = []
        try:
            for _ in range(repeats):
                t0 = time.time()
                qs[name](spark, sf_dir).count()
                runs.append(time.time() - t0)
            out[name] = round(sorted(runs)[len(runs) // 2], 3)
        except Exception as ex:  # keep the bench line intact
            out[name] = f"error: {type(ex).__name__}"
    return out


def scaling_bench(n_docs: int, cores_lo: int = 2, cores_hi: int = 8) -> dict:
    """Same build at two parallelism levels on identical input — the
    sandbox stand-in for N vs 4N executors (BASELINE.json north rule)."""
    from pisa_spark.session import get_spark

    out = {}
    for cores in (cores_lo, cores_hi):
        from pyspark.sql import SparkSession

        active = SparkSession.getActiveSession()
        if active:
            active.stop()
        spark = get_spark(app_name=f"pisa-bench-{cores}", cores=cores)
        res = build_bench(spark, n_docs)
        out[f"local[{cores}]"] = {
            "build_seconds": res["build_seconds"],
            "docs_per_sec": res["docs_per_sec"],
        }
        spark.stop()
    lo = out[f"local[{cores_lo}]"]["docs_per_sec"]
    hi = out[f"local[{cores_hi}]"]["docs_per_sec"]
    out["scaling_efficiency"] = round(hi / (lo * (cores_hi / cores_lo)), 3)
    return out


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    n_docs = int(os.environ.get("SPARK_GRAFT_BENCH_DOCS", "60000"))
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]

    from pisa_spark.session import get_spark

    spark = get_spark(app_name="pisa-bench", cores=cpus,
                      extra={"spark.driver.extraJavaOptions":
                             "-Xms18g -XX:+AlwaysPreTouch"})
    t_total = time.time()

    build = build_bench(spark, n_docs)
    idx = build.pop("_index")
    qstats = query_bench(spark, idx)
    entry_times = entries_bench(spark, sf_dir)

    result = {
        "metric": "pisa_spark headline suite wall time "
                  "(index build + BM25 top-10 + operator entries)",
        "value": round(time.time() - t_total, 3),
        "unit": "sec",
        "queries": entry_times,
        "sf": sf,
        "build": build,
        "query": qstats,
        "cpus": cpus,
        "bench_docs": n_docs,
    }
    if os.environ.get("SPARK_GRAFT_SCALING") == "1":
        spark.stop()
        result["scaling"] = scaling_bench(n_docs)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
