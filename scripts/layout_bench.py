"""Physical-layout comparison: codecs x block partition strategies.

For each layout, build the same corpus and report
- index size: posting bytes (docs_bin + tfs_bin) and block-metadata entries,
- pruning work: profile_queries counters (docs scored, ranges skipped) for
  the Block-Max-WAND executor over the same query set,
- rank identity vs the exhaustive oracle (must hold for every layout).

Usage: python scripts/layout_bench.py [N_DOCS] [CORES]
Prints one JSON line; paste the table into BENCH.md.
"""

from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def decode_throughput(n: int = 1_000_000, repeats: int = 3) -> dict:
    """Single-thread decode throughput (M ints/s) per codec on one long
    strictly-increasing docID stream — documents each codec's tier: the
    numpy-vectorized codecs (varint/ef/bp128) are the hot query tier;
    pef adds per-partition dispatch; bic decodes via an O(1)-per-read
    bit reader but remains per-element Python, i.e. a cold/size tier."""
    import time

    import numpy as np

    from pisa_spark.operators.codecs import (CODECS, decode_gap_stream,
                                             encode_gap_stream)

    rng = np.random.default_rng(11)
    docs = np.sort(rng.choice(n * 16, size=n, replace=False)).astype(np.int64)
    out = {}
    for codec in CODECS:
        if codec == "opt":
            continue  # dispatch wrapper; measures as its chosen base codec
        buf = encode_gap_stream(docs, -1, codec)
        best = float("inf")
        for _ in range(repeats):
            t0 = time.time()
            dec = decode_gap_stream(buf, -1, codec, count=n)
            best = min(best, time.time() - t0)
        assert np.array_equal(dec, docs), codec
        out[codec] = {"m_ints_per_sec": round(n / best / 1e6, 2),
                      "bits_per_gap": round(8.0 * len(buf) / n, 3)}
    return out


def encode_throughput(n: int = 1_000_000, repeats: int = 3) -> dict:
    """Single-thread ENCODE throughput (M ints/s) per codec on the same
    docID stream shape as decode_throughput — documents the build-side
    cost of choosing each codec (the BUILD pays encode once; queries pay
    decode forever, so decode tiers dominate codec choice, but an encoder
    that is orders slower than varint would tax every build)."""
    import time

    import numpy as np

    from pisa_spark.operators.codecs import CODECS, encode_gap_stream

    rng = np.random.default_rng(11)
    docs = np.sort(rng.choice(n * 16, size=n, replace=False)).astype(np.int64)
    out = {}
    for codec in CODECS:
        if codec == "opt":
            continue
        encode_gap_stream(docs[:1000], -1, codec)  # warm
        # adaptive stream size: cold encoders (bic's per-element bit IO)
        # would take minutes on the full stream — grow until the run is
        # long enough to time, report the rate at that size
        size = 1 << 14
        while True:
            t0 = time.time()
            buf = encode_gap_stream(docs[:size], -1, codec)
            dt = time.time() - t0
            if dt >= 0.25 or size >= n:
                break
            size = min(n, size * 8)
        best = dt
        for _ in range(repeats - 1):
            t0 = time.time()
            buf = encode_gap_stream(docs[:size], -1, codec)
            best = min(best, time.time() - t0)
        out[codec] = {"m_ints_per_sec": round(size / best / 1e6, 2),
                      "bits_per_gap": round(8.0 * len(buf) / size, 3),
                      "stream_n": size}
    return out


def main() -> None:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 60000
    cores = int(sys.argv[2]) if len(sys.argv) > 2 else 16

    from pyspark.sql import functions as F

    from pisa_spark.config import IndexConfig
    from pisa_spark.operators.topk import profile_queries, topk_search
    from pisa_spark.plans.build import build_index
    from pisa_spark.session import get_spark
    from pisa_spark.sources import webtext

    spark = get_spark(app_name="layout-bench", cores=cores)
    path = f"{REPO}/.cache/bench_corpus_{n_docs}"
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        webtext.generate(spark, n_docs, seed=13).write.mode(
            "overwrite").parquet(path)
    pages = spark.read.parquet(path)
    queries = webtext.synth_queries(100, seed=29)

    layouts = {
        "varint_fixed": {},
        "bp128_fixed": {"codec": "bp128"},
        "ef_fixed": {"codec": "ef"},
        "opt_fixed": {"codec": "opt"},
        "pef_fixed": {"codec": "pef"},
        "bic_fixed": {"codec": "bic"},
        "optpfd_fixed": {"codec": "optpfd"},
        "svb_fixed": {"codec": "svb"},
        "s8b_fixed": {"codec": "s8b"},
        "s16_fixed": {"codec": "s16"},
        "qmx_fixed": {"codec": "qmx"},
        "varint_variable": {"block_partition": "variable"},
        "bp128_variable": {"codec": "bp128", "block_partition": "variable"},
    }
    out = {}
    oracle = None
    for name, kw in layouts.items():
        cfg = IndexConfig(shard_span=1 << 14, **kw)
        idx = build_index(pages, cfg, html_col="html")
        idx.postings.count()  # materialize before measuring
        size = idx.postings.agg(
            F.sum(F.length("docs_bin")).alias("doc_bytes"),
            F.sum(F.length("tfs_bin")).alias("tf_bytes"),
            F.sum(F.size("block_last_docs")).alias("blocks"),
            F.sum("n").alias("postings")).collect()[0]
        # range_span < shard_span so the pruned algorithms' (query, range)
        # cell masks act within each shard (16 ranges per 16k-doc shard)
        res = topk_search(idx, queries, k=10, algorithm="block_max_wand",
                          range_span=1024, with_urls=False)
        key = sorted((r.qid, r.rank, r.doc_id) for r in res.collect())
        if oracle is None:
            oracle = sorted(
                (r.qid, r.rank, r.doc_id) for r in
                topk_search(idx, queries, k=10, algorithm="ranked_or",
                            with_urls=False).collect())
        prof = (profile_queries(idx, queries, k=10, range_span=1024,
                                algorithm="block_max_wand")
                .agg(F.sum("docs_scored").alias("docs_scored"),
                     F.sum("ranges").alias("ranges"),
                     F.sum("ranges_skipped").alias("skipped"))
                .collect()[0])
        out[name] = {
            "doc_bytes": int(size["doc_bytes"]),
            "tf_bytes": int(size["tf_bytes"]),
            "blocks": int(size["blocks"]),
            "postings": int(size["postings"]),
            "bits_per_doc_gap": round(
                8.0 * size["doc_bytes"] / size["postings"], 3),
            "bmw_docs_scored": int(prof["docs_scored"]),
            "bmw_ranges_skipped": int(prof["skipped"]),
            "bmw_ranges": int(prof["ranges"]),
            "rank_identical": key == oracle,
        }
        if name == "varint_fixed":
            # docID-ordering effect on compressed size: the build's URL
            # order vs a seeded random permutation (the gap recursive graph
            # bisection would further close; reordering.md:46-66)
            from pisa_spark.operators.reorder import (compressed_size,
                                                      random_mapping,
                                                      reorder_index)

            rnd = reorder_index(idx, random_mapping(idx.docs), cfg)
            out["reorder"] = {
                "url_order_bytes": int(size["doc_bytes"] + size["tf_bytes"]),
                "random_order_bytes": int(compressed_size(rnd)),
            }
            rnd.postings.unpersist()
            rnd.shards.unpersist()
        print(json.dumps({"layout": name, **out[name]}), flush=True)
        spark.catalog.clearCache()  # lexicon/shards/encode caches too —
        # leaking 8 layouts' caches into one local JVM GC-thrashes it

    # ---- BP vs URL ordering on a CLUSTERED corpus (url order carries no
    # topical signal there — the shape where graph bisection must win;
    # the i.i.d. corpus above cannot show this, BENCH.md noise note)
    from pisa_spark.operators.reorder import (bp_mapping, compressed_size,
                                              reorder_index)

    bp_docs = min(n_docs, 6000)
    clustered = webtext.generate_clustered(spark, bp_docs, n_clusters=16)
    ccfg = IndexConfig(shard_span=1 << 11, codec="ef")
    cidx = build_index(clustered, ccfg)  # URL-ordered by default
    # Densify BOTH orderings through the same remap: span-aligned buckets
    # (r5) leave alignment padding in the as-built doc-id space, and
    # reorder_index assigns dense ids — comparing as-built vs reordered
    # would credit BP for the densification, not the ordering. The URL
    # baseline therefore goes through an identity-order reorder_index
    # (driver-side window at bench scale only).
    from pyspark.sql import Window

    url_map = cidx.docs.select(
        "doc_id",
        (F.row_number().over(Window.orderBy("url")) - 1)
        .alias("new_doc_id"))
    url_bytes = int(compressed_size(reorder_index(cidx, url_map, ccfg)))
    bp = bp_mapping(cidx, depth=6, iterations=3)
    bidx = reorder_index(cidx, bp, ccfg)
    bp_bytes = int(compressed_size(bidx))
    out_bp = {
        "n_docs": bp_docs,
        "codec": "ef",
        "url_order_bytes": url_bytes,
        "bp_order_bytes": bp_bytes,
        "bp_reduction_pct": round(100.0 * (url_bytes - bp_bytes)
                                  / max(url_bytes, 1), 2),
    }
    print(json.dumps({"n_docs": n_docs, "queries": 100, "layouts": out,
                      "bp_clustered": out_bp,
                      "decode_throughput": decode_throughput(),
                      "encode_throughput": encode_throughput()}))


if __name__ == "__main__":
    main()
