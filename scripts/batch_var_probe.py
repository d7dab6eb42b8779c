"""Probe the 8-core large-corpus batch-query variance (window-15 raw
data: identical same-JVM 400-query batches at 1.2M docs measured
26.6-70.2 s, sometimes degrading monotonically across repeats).

Builds once, then runs the identical batch N times in the same JVM and
prints per-repeat wall, JVM GC delta, executor python-worker count, and
storage-memory fill — to separate the suspects:
  - GC / heap growth        -> gc_ms climbs with wall
  - cache eviction/respill  -> storage_used changes between repeats
  - host noise              -> no JVM-side signal moves with the wall

Usage: python scripts/batch_var_probe.py [cores] [n_docs] [repeats]
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    cores = int(sys.argv[1]) if len(sys.argv) > 1 else 8
    n_docs = int(sys.argv[2]) if len(sys.argv) > 2 else 1200000
    repeats = int(sys.argv[3]) if len(sys.argv) > 3 else 8

    from pisa_spark.config import IndexConfig
    from pisa_spark.operators.topk import topk_search, topk_search_batch
    from pisa_spark.plans.build import build_index
    from pisa_spark.session import get_spark
    from pisa_spark.sources import webtext
    from scripts.scaling_bench import warm_python_workers

    spark = get_spark(
        app_name=f"batch-var-{cores}", cores=cores,
        extra={"spark.driver.extraJavaOptions":
               f"-Xms18g -XX:+AlwaysPreTouch "
               f"-XX:ActiveProcessorCount={cores}"})
    corpus = f"/dev/shm/pisa-bench/bench_corpus_{n_docs}"
    if not os.path.exists(os.path.join(corpus, "_SUCCESS")):
        corpus = f"{REPO}/.cache/bench_corpus_{n_docs}"
    pages = spark.read.parquet(corpus)
    cfg = IndexConfig(shard_span=1 << 11)

    warm_python_workers(spark, cores)
    mini = webtext.generate(spark, 150000, seed=7).repartition(cores)
    midx = build_index(mini, cfg, html_col="html", eager=True)
    topk_search(midx, webtext.synth_queries(8, seed=3), k=10,
                algorithm="block_max_wand", with_urls=False).count()
    spark.catalog.clearCache()

    idx = build_index(pages, cfg, html_col="html", eager=True)

    jvm = spark.sparkContext._jvm

    def gc_ms() -> int:
        beans = (jvm.java.lang.management.ManagementFactory
                 .getGarbageCollectorMXBeans())
        return sum(b.getCollectionTime() for b in beans)

    def storage() -> tuple[int, int]:
        mem = (spark.sparkContext._jsc.sc().env().blockManager()
               .memoryStore())
        return int(mem.currentUnrollMemory()), int(mem.memoryUsed())

    queries = webtext.synth_queries(400, seed=29)
    topk_search_batch(idx, queries[:4], k=10, range_span=1024,
                      algorithm="block_max_wand").count()
    rows = []
    for i in range(repeats):
        g0, t0 = gc_ms(), time.time()
        topk_search_batch(idx, queries, k=10, range_span=1024,
                          algorithm="block_max_wand").count()
        wall = time.time() - t0
        _, mem_used = storage()
        rows.append({"repeat": i, "wall_s": round(wall, 2),
                     "gc_delta_ms": gc_ms() - g0,
                     "storage_used_mb": mem_used >> 20})
        print(json.dumps(rows[-1]), flush=True)
    print(json.dumps({"summary": rows}), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
