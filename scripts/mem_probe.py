"""Memory A/B probe for the window-14 finding (1.2M 8-core tokenize
excess): same workload as scaling_bench.worker — shm corpus,
shard_span 1<<11, warmed pool + JIT — but with the driver heap (and
hence the unified execution-memory pool) as the ONE varied knob.

Hypothesis under test: the 8-core tokenize_rank excess at 1.2M docs is
execution-memory pressure (per-task share of the unified pool is 1/8 at
8 cores while map output per task is 4x the 300k size -> the rank
shuffle's ExternalSorter crosses its spill threshold only at
high-concurrency x large-corpus, which matches the observed
superlinear excess: +0.4 s at 300k, +20.6 s at 1.2M).

Usage: python scripts/mem_probe.py CORES N_DOCS MEM_GB [XMS_GB]
Prints one JSON line with phase seconds.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    cores = int(sys.argv[1])
    n_docs = int(sys.argv[2])
    mem = sys.argv[3]
    xms = sys.argv[4] if len(sys.argv) > 4 else mem.rstrip("g")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = mem

    from pisa_spark.config import IndexConfig
    from pisa_spark.operators.topk import topk_search
    from pisa_spark.plans.build import build_index
    from pisa_spark.session import get_spark
    from pisa_spark.sources import webtext
    from scripts.scaling_bench import warm_python_workers

    spark = get_spark(
        app_name=f"mem-probe-{cores}-{mem}", cores=cores,
        extra={
            "spark.driver.extraJavaOptions":
                f"-Xms{xms}g -XX:+AlwaysPreTouch "
                f"-XX:ActiveProcessorCount={cores}"})
    corpus = f"/dev/shm/pisa-bench/bench_corpus_{n_docs}"
    if not os.path.exists(os.path.join(corpus, "_SUCCESS")):
        corpus = f"{REPO}/.cache/bench_corpus_{n_docs}"
    pages = spark.read.parquet(corpus)
    cfg = IndexConfig(shard_span=1 << 11)

    warm_docs = int(sys.argv[5]) if len(sys.argv) > 5 else 30000
    warm_python_workers(spark, cores)
    mini = webtext.generate(spark, warm_docs, seed=7).repartition(cores)
    midx = build_index(mini, cfg, html_col="html", eager=True)
    topk_search(midx, webtext.synth_queries(8, seed=3), k=10,
                algorithm="block_max_wand", with_urls=False).count()
    spark.catalog.clearCache()

    def gc_ms() -> int:
        """Total JVM GC milliseconds (local mode: driver == executor)."""
        beans = (spark.sparkContext._jvm.java.lang.management
                 .ManagementFactory.getGarbageCollectorMXBeans())
        return sum(b.getCollectionTime() for b in beans)

    gc0 = gc_ms()
    t0 = time.time()
    idx = build_index(pages, cfg, html_col="html", eager=True)
    build_s = time.time() - t0
    gc1 = gc_ms()

    print(json.dumps({
        "cores": cores, "n_docs": n_docs, "mem": mem,
        "build_seconds": round(build_s, 2),
        "docs_per_sec": round(n_docs / build_s, 1),
        "gc_seconds": round((gc1 - gc0) / 1000.0, 2),
        "phases": {k: round(v, 2) for k, v in
                   idx.stats.get("phase_seconds", {}).items()},
    }))
    spark.stop()


if __name__ == "__main__":
    main()
