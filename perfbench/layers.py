"""Per-layer figures of the traced run, one group per module.

A figure the workload's own loop already timed (builds, serve calls,
batch calls) is taken from it; the rest come from probes run on the
workload's corpus, index and queries after the timed window, so every
traced run prints every per-layer metric.
"""

from __future__ import annotations

import os
import time

import numpy as np
import pandas as pd

from perfbench import stats
from perfbench.workloads import (ALGORITHM, K, RANGE_SPAN, SEGMENT_DOCS,
                                 cfg, serve_one, text_sample, write_corpus)

PROBE_QUERIES = 50       # serve-call probe
PROFILE_QUERIES = 20     # profile_queries probe: one applyInPandas group
                         # per (query, shard), so keep it small
MATERIALIZE_REPS = 50
MIN_PROBE_S = 0.3        # micro-probes repeat until this much time passed

# name -> (unit, better); the order is the order of BENCHMARK.json
METRICS = {
    "plans.build.url_cuts_s": ("s", "lower"),
    "plans.build.tokenize_rank_s": ("s", "lower"),
    "plans.build.encode_postings_s": ("s", "lower"),
    "plans.build.lexicon_base_s": ("s", "lower"),
    "functions.text.extract_docs_per_s": ("1/s", "higher"),
    "functions.tokenize.tokens_batch_docs_per_s": ("1/s", "higher"),
    "functions.tokenize.analyze_query_us": ("us", "lower"),
    "operators.codecs.decode_postings_per_s": ("1/s", "higher"),
    "operators.topk.search_call_ms": ("ms", "lower"),
    "operators.topk.collect_ms": ("ms", "lower"),
    "operators.topk.materialize_ms": ("ms", "lower"),
    "operators.topk.batch_call_ms": ("ms", "lower"),
    "operators.topk.first_query_ms": ("ms", "lower"),
    "operators.topk.postings_decoded_per_query": ("count", "lower"),
    "operators.topk.blocks_decoded_per_query": ("count", "lower"),
    "operators.topk.docs_scored_per_query": ("count", "lower"),
    "operators.topk.ranges_skipped_frac": ("frac", "higher"),
    "streaming.incremental.ingest_batch_s": ("s", "lower"),
    "streaming.incremental.load_s": ("s", "lower"),
    "spark.jobs_per_op": ("count", "lower"),
    "spark.stages_per_op": ("count", "lower"),
    "spark.tasks_per_op": ("count", "lower"),
    "spark.failed_tasks": ("count", "lower"),
}


def _rate(fn, items: int) -> float:
    """items per second of fn(), repeated until MIN_PROBE_S has passed."""
    n, t0 = 0, time.perf_counter()
    while True:
        fn()
        n += 1
        dt = time.perf_counter() - t0
        if dt >= MIN_PROBE_S:
            return n * items / dt


def probe(run, idx, ctx: dict) -> None:
    """ctx: figures the workload measured itself (phases, queries,
    first_query_ms, batch_call_ms)."""
    ctx = dict(ctx, idx=idx)
    ctx.setdefault("queries", stats.queries(run.seed))
    # spark.* first: the probes below launch jobs under spans of their own,
    # none of them an operation of the workload
    out = {f"spark.{k}": v for k, v in run.spans.spark_counts().items()
           if k != "ops"}
    phases = ctx.get("phases") or [idx.stats["phase_seconds"]]
    for p in ("url_cuts", "tokenize_rank", "encode_postings", "lexicon_base"):
        out[f"plans.build.{p}_s"] = stats.median([ph[p] for ph in phases])
    out.update(_text_and_tokenize(run, ctx))
    out.update(_codecs(run, idx))
    out.update(_topk(run, ctx))
    out.update(_incremental(run))
    run.layer.update(out)


def _text_and_tokenize(run, ctx: dict) -> dict:
    from pisa_spark.functions.text import extract_text_batch
    from pisa_spark.functions.tokenize import (analyze_query_terms,
                                               tokens_batch)

    sample = text_sample(run.corpora["corpus"])
    html, text, c = sample["html"], sample["text"], cfg()
    run.check(list(extract_text_batch(html)) == list(text),
              "extract_text_batch differs from the corpus text column")
    sp = run.spans
    with sp.span("functions.text.extract_text_batch"):
        ext = _rate(lambda: extract_text_batch(html), len(html))
    with sp.span("functions.tokenize.tokens_batch"):
        tok = _rate(lambda: tokens_batch(text, c), len(text))
    per_q = []
    with sp.span("functions.tokenize.analyze_query_terms"):
        for _ in range(3):
            for q in ctx["queries"]:
                t0 = time.perf_counter()
                analyze_query_terms([q], c)
                per_q.append(time.perf_counter() - t0)
    return {"functions.text.extract_docs_per_s": ext,
            "functions.tokenize.tokens_batch_docs_per_s": tok,
            "functions.tokenize.analyze_query_us":
                stats.median(per_q) * 1e6}


def _codecs(run, idx) -> dict:
    from pisa_spark.operators.codecs import decode_gap_stream, decode_tfs

    codec = idx.cfg.codec
    src = idx.postings_str if idx.postings_str is not None else idx.postings
    pdf = src.select("base_doc", "last_doc", "n", "docs_bin",
                     "tfs_bin").toPandas()
    rows = [(bytes(d), int(b), int(n), bytes(t)) for d, b, n, t in zip(
        pdf["docs_bin"], pdf["base_doc"], pdf["n"], pdf["tfs_bin"])]
    total = int(pdf["n"].sum())

    def decode_all():
        for d, b, n, t in rows:
            decode_gap_stream(d, b, codec, n)
            decode_tfs(t, n)

    ok = all(
        (docs := decode_gap_stream(d, b, codec, n)).size == n
        and int(docs[-1]) == int(last) and decode_tfs(t, n).size == n
        for (d, b, n, t), last in zip(rows, pdf["last_doc"]))
    run.check(ok, "decoded posting rows disagree with n / last_doc")
    with run.spans.span("operators.codecs.decode"):
        rate = _rate(decode_all, total)
    return {"operators.codecs.decode_postings_per_s": rate}


def _topk(run, ctx: dict) -> dict:
    from pisa_spark.operators.topk import profile_queries, topk_search_batch

    idx, qs, sp = ctx["idx"], ctx["queries"], run.spans
    spark = run.spark
    out = {}
    first = ctx.get("first_query_ms")
    if not first:
        t0 = time.perf_counter()
        serve_one(run, idx, qs[0])
        first = [(time.perf_counter() - t0) * 1000.0]
    out["operators.topk.first_query_ms"] = stats.median(first)

    if len(sp.durations("operators.topk.topk_search")) < PROBE_QUERIES:
        for q in qs[:PROBE_QUERIES]:
            serve_one(run, idx, q)
    out["operators.topk.search_call_ms"] = stats.median(
        sp.durations("operators.topk.topk_search")) * 1000.0
    out["operators.topk.collect_ms"] = stats.median(
        sp.durations("operators.topk.collect")) * 1000.0

    pdf = pd.DataFrame({"qid": ["Q0"] * K,
                        "doc_id": np.arange(K, dtype=np.int64),
                        "score": np.linspace(9, 1, K).astype(np.float32),
                        "rank": np.arange(1, K + 1, dtype=np.int32)})
    schema = "qid string, doc_id long, score float, rank int"
    mat = []
    for i in range(MATERIALIZE_REPS + 5):
        t0 = time.perf_counter()
        with sp.span("operators.topk.materialize"):
            spark.createDataFrame(pdf, schema).collect()
        if i >= 5:
            mat.append(time.perf_counter() - t0)
    out["operators.topk.materialize_ms"] = stats.median(mat) * 1000.0

    calls = ctx.get("batch_call_ms")
    if not calls:
        calls = []
        for _ in range(2):
            t0 = time.perf_counter()
            with sp.span("operators.topk.topk_search_batch"):
                topk_search_batch(idx, qs, k=K, algorithm=ALGORITHM,
                                  range_span=RANGE_SPAN,
                                  with_urls=True).collect()
            calls.append((time.perf_counter() - t0) * 1000.0)
        calls = calls[1:]  # the first call of a process still drifts
    out["operators.topk.batch_call_ms"] = stats.median(calls)

    with sp.span("operators.topk.profile_queries"):
        prof = profile_queries(idx, qs[:PROFILE_QUERIES], k=K,
                               algorithm=ALGORITHM,
                               range_span=RANGE_SPAN).toPandas()
    nq = PROFILE_QUERIES
    out["operators.topk.postings_decoded_per_query"] = (
        prof["postings_decoded"].sum() / nq)
    out["operators.topk.blocks_decoded_per_query"] = (
        prof["blocks_decoded"].sum() / nq)
    out["operators.topk.docs_scored_per_query"] = (
        prof["docs_scored"].sum() / nq)
    ranges = prof["ranges"].sum()
    out["operators.topk.ranges_skipped_frac"] = (
        prof["ranges_skipped"].sum() / ranges if ranges else 0.0)
    return {k: float(v) for k, v in out.items()}


def _incremental(run) -> dict:
    """One micro-batch of SEGMENT_DOCS pages into an empty segment store,
    then the reload that makes it searchable."""
    from pisa_spark.streaming.incremental import (ingest_batch,
                                                  load_stream_index)

    sp, c = run.spans, cfg()
    store = os.path.join(run.work, "probe-store")
    pages = run.spark.read.parquet(write_corpus(
        run.work, run.seed, "probe-pages", SEGMENT_DOCS,
        run.spark.sparkContext.defaultParallelism))
    t0 = time.perf_counter()
    with sp.span("streaming.incremental.ingest_batch"):
        seg = ingest_batch(pages, store, c, html_col="html", batch_id=0)
    t1 = time.perf_counter()
    with sp.span("streaming.incremental.load_stream_index"):
        sidx = load_stream_index(run.spark, store, c)
    t2 = time.perf_counter()
    run.check(seg.get("n_docs") == SEGMENT_DOCS
              and sidx.stats["num_docs"] == SEGMENT_DOCS,
              f"ingested segment holds {seg.get('n_docs')} docs")
    return {"streaming.incremental.ingest_batch_s": t1 - t0,
            "streaming.incremental.load_s": t2 - t1}
