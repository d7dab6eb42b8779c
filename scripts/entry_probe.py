"""Per-entry isolation probe (guide §1.4): time one queries() entry with the
noop sink (computes every column, no sink cost), print partition counts of
the base scans, and optionally dump .explain('formatted').

Usage: python scripts/entry_probe.py SF_DIR ENTRY [ENTRY ...] [--repeats N]
       [--explain-dir DIR] [--count]
--count times .count() instead of the noop sink (matches bench.py's
methodology exactly).
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("sf_dir", help="scale-factor data directory")
    ap.add_argument("entries", nargs="+", metavar="ENTRY",
                    help="queries() entry names to time")
    ap.add_argument("--repeats", type=int, default=3,
                    help="timed runs per entry (default 3)")
    ap.add_argument("--explain-dir", default=None,
                    help="write each entry's formatted plan here")
    ap.add_argument("--count", action="store_true",
                    help="time .count() instead of the noop sink")
    return ap.parse_args(argv)


def main() -> None:
    args = parse_args()
    sf_dir, entries = args.sf_dir, args.entries
    repeats, explain_dir, use_count = args.repeats, args.explain_dir, args.count

    import __spark_entry__ as entry_mod
    from pisa_spark.session import get_spark

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark(app_name="entry-probe", cores=cpus)
    qs = entry_mod.queries()

    docs = entry_mod._documents(spark, sf_dir)
    print(f"documents scan partitions: {docs.rdd.getNumPartitions()}  "
          f"rows={docs.count()}")

    for name in entries:
        needs_index = name in {
            "bm25_topk_bmw", "bm25_topk_maxscore", "bm25_topk_batch",
            "bm25_topk_quantized", "bm25_topk_wand", "bm25_topk_bmm",
            "bm25_topk_ranked_and", "bm25_topk_bm_ranked_and",
            "bm25_topk_weighted", "boolean_and_count", "boolean_or_count",
            "count_postings", "intersection_pairs", "intersection_triples",
            "selective_queries", "taily_stats", "profile_queries",
            "taily_thresholds"}
        if needs_index:
            entry_mod._get_index(spark, sf_dir).postings.count()  # untimed
        spark.sparkContext.setJobDescription(f"probe:{name}")
        df = qs[name](spark, sf_dir)
        if explain_dir:
            os.makedirs(explain_dir, exist_ok=True)
            with open(os.path.join(explain_dir, f"{name}.txt"), "w") as f:
                f.write(df._sc._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted"))
        runs = []
        for _ in range(repeats):
            t0 = time.time()  # construction inside the timer, as bench.py
            df = qs[name](spark, sf_dir)
            if use_count:
                df.count()
            else:
                df.write.format("noop").mode("overwrite").save()
            runs.append(time.time() - t0)
        med = sorted(runs)[len(runs) // 2]
        print(f"{name}: median {med:.3f}s  runs={[round(r, 3) for r in runs]}")
        spark.sparkContext.setJobDescription(None)


if __name__ == "__main__":
    main()
