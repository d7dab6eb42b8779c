"""Sparkless tokenize-kernel probe for the 1.2M-doc scaling question
(VERDICT r4 #7): is there a corpus-position-dependent per-batch cost in
the fused extract+tokenize kernel, and what is its 1->8-process
contention factor?

The kernel is batch-local (per-doc Counter, no cross-batch state), so a
corpus-size dependence would have to show up as per-batch time growing
with batch index (GC pressure, allocator fragmentation). We feed the
same mapInPandas `run` generator the exact per-batch frames Spark would
ship and record per-batch wall times.

Usage: python .cache/tok_probe.py [n_docs] [batch_rows] [procs]
"""
import json
import multiprocessing as mp
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

N_DOCS = int(sys.argv[1]) if len(sys.argv) > 1 else 150_000
BATCH = int(sys.argv[2]) if len(sys.argv) > 2 else 2_000
PROCS = int(sys.argv[3]) if len(sys.argv) > 3 else 8


def _gen_frames(n_docs, batch, seed, start=0):
    """Deterministic webtext HTML frames without Spark: the same per-doc
    generator webtext.generate's kernel uses, same global doc indices."""
    from pisa_spark.sources import webtext as W

    return [W.generate_pandas(min(batch, start + n_docs - s), seed, s)
            [["url", "html"]]
            for s in range(start, start + n_docs, batch)]


def worker(args):
    wid, n_docs, batch, seed, start = args
    import pandas as pd

    from pisa_spark.config import IndexConfig
    from pisa_spark.functions.text import extract_text
    from pisa_spark.functions.tokenize import make_analyzer

    analyze = make_analyzer(IndexConfig())
    frames = _gen_frames(n_docs, batch, seed, start)

    from collections import Counter

    import numpy as np

    times = []
    t_all0 = time.time()
    for pdf in frames:
        t0 = time.time()
        rows = []
        for url, payload in zip(pdf["url"], pdf["html"]):
            text = extract_text(payload)
            toks = analyze(text) if text else []
            counts = Counter(toks)
            rows.append((url, len(toks), list(counts.keys()),
                         np.fromiter(counts.values(), dtype=np.int32,
                                     count=len(counts))))
        out = pd.DataFrame(rows, columns=["url", "doc_len", "terms", "tfs"])
        times.append(time.time() - t0)
    wall = time.time() - t_all0
    return {"worker": wid, "wall_s": round(wall, 2),
            "batches": len(times),
            "first5_ms": [round(t * 1000, 1) for t in times[:5]],
            "last5_ms": [round(t * 1000, 1) for t in times[-5:]],
            "per_batch_ms_p50": round(
                sorted(times)[len(times) // 2] * 1000, 1),
            "per_batch_ms_max": round(max(times) * 1000, 1),
            "drift": (round(
                (sum(times[-len(times) // 4:]) / (len(times) // 4)) /
                (sum(times[:len(times) // 4]) / (len(times) // 4)), 3)
                if len(times) >= 4 else None)}


if __name__ == "__main__":
    # solo runs: per-batch drift in ONE process, at an early and a late
    # corpus position (1.2M-corpus tail) — a corpus-size-dependent kernel
    # cost would show late > early or drift > 1 within a run
    solo = worker((0, N_DOCS, BATCH, 13, 0))
    print("SOLO-EARLY", json.dumps(solo))
    late = worker((0, N_DOCS, BATCH, 13, 1_200_000 - N_DOCS))
    print("SOLO-LATE", json.dumps(late))
    # contended run: PROCS processes each doing N_DOCS/PROCS docs —
    # disjoint ranges of the same corpus, as Spark partitions would
    per = N_DOCS // PROCS
    with mp.Pool(PROCS) as p:
        outs = p.map(worker,
                     [(i, per, BATCH, 13, i * per) for i in range(PROCS)])
    agg_wall = max(o["wall_s"] for o in outs)
    solo_rate = N_DOCS / solo["wall_s"]
    cont_rate = N_DOCS / agg_wall
    print("CONTENDED", json.dumps({
        "procs": PROCS, "wall_s": agg_wall,
        "rate_docs_s": round(cont_rate, 1),
        "solo_rate_docs_s": round(solo_rate, 1),
        "speedup": round(cont_rate / solo_rate, 2),
        "per_worker_drift": [o["drift"] for o in outs]}))
