"""The workloads. Each sets up, warms up, measures for `seconds` and
checks every output; the traced run then adds the per-layer figures.

Every workload uses IndexConfig(shard_span=512), k=10, block_max_wand and
range_span=256. Sizes are chosen so that one run of a workload, Spark
start-up included, stays well under a minute on a 4-core machine.
"""

from __future__ import annotations

import os
import resource
import sys
import time
import traceback
from dataclasses import dataclass, field

from perfbench import stats

K = 10
ALGORITHM = "block_max_wand"
RANGE_SPAN = 256
BUILD_DOCS = 5000        # build: corpus rebuilt in every operation
INDEX_DOCS = 8000        # serve, batch: the prebuilt index
BUILD_WARM = 3           # build: untimed builds; the first few keep speeding up
SERVE_WARM_PASSES = 2    # serve: untimed passes over the query set
BATCH_WARM_CALLS = 5     # batch: untimed 200-query calls
SEGMENT_DOCS = 1000      # micro-batch of the streaming.incremental probe
TEXT_SAMPLE = 200        # pages whose extraction is checked byte for byte
# Block metadata bytes per block: block_last_docs (int64) + block_doc_offs
# (int32) + block_tf_offs (int32) + block_max_part (float32).
BLOCK_META_BYTES = 8 + 4 + 4 + 4

# workload -> {corpus name: docs}; written before Spark starts
CORPORA = {
    "build": {"corpus": BUILD_DOCS},
    "serve": {"corpus": INDEX_DOCS},
    "batch": {"corpus": INDEX_DOCS},
}


def cfg():
    from pisa_spark.config import IndexConfig

    return IndexConfig(shard_span=512)


@dataclass
class Run:
    spark: object
    seed: int
    seconds: float
    spans: object
    work: str
    corpora: dict                                # corpus name -> path
    t_start: float
    attempted: int = 0
    failed: int = 0
    setup_s: float = 0.0
    setup_parts: list = field(default_factory=list)  # (name, end s)
    e2e: dict = field(default_factory=dict)      # contract metrics
    lines: list = field(default_factory=list)    # (name, value, unit, note)
    layer: dict = field(default_factory=dict)    # traced-run figures

    def check(self, ok: bool, what: str) -> bool:
        """Count one operation; a failed output check is a failed op."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"output check failed: {what}", file=sys.stderr)
        return ok

    def crashed(self, what: str) -> None:
        """Count one operation that raised."""
        self.attempted += 1
        self.failed += 1
        print(f"operation raised: {what}", file=sys.stderr)
        traceback.print_exc()

    def setup_part(self, name: str) -> None:
        """Mark the end of one part of the set-up."""
        self.setup_parts.append((name, time.perf_counter() - self.t_start))

    def setup_done(self) -> None:
        self.setup_part("warm-up")
        self.setup_s = self.setup_parts[-1][1]

    def report(self, name: str, value: float, unit: str, note: str = ""):
        self.lines.append((name, value, unit, note))

    def pages(self, name: str = "corpus"):
        return self.spark.read.parquet(self.corpora[name])


# --------------------------------------------------------------- helpers

def write_corpus(work: str, seed: int, name: str, n: int, parts: int) -> str:
    """The pages of webtext.generate(n, seed), written to parquet under
    `work`: one file per part of contiguous doc indexes, the layout
    `webtext.generate` writes from `parts` Spark partitions. The rows come
    from the same per-(seed, doc index) generator, run on the driver."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = os.path.join(work, name)
    os.makedirs(path)
    for p in range(parts):
        lo, hi = n * p // parts, n * (p + 1) // parts
        table = pa.Table.from_pandas(
            stats.corpus_pandas(seed, hi - lo, start=lo), preserve_index=False)
        pq.write_table(table, os.path.join(path, f"part-{p:05d}.parquet"),
                       coerce_timestamps="us")
    return path


def write_corpora(work: str, seed: int, workload: str, parts: int) -> dict:
    return {name: write_corpus(work, seed, name, n, parts)
            for name, n in CORPORA[workload].items()}


def text_sample(path: str):
    """The first TEXT_SAMPLE pages (html, text) of a written corpus."""
    import pyarrow.parquet as pq

    first = os.path.join(path, "part-00000.parquet")
    return (pq.read_table(first, columns=["html", "text"])
            .slice(0, TEXT_SAMPLE).to_pandas())


def index_sizes(idx) -> dict:
    """Exact size figures of an index: Σdf and Σcf from the lexicon, and
    the encoded bytes per posting from the posting rows."""
    from pyspark.sql import functions as F

    lex = idx.lexicon.agg(F.sum("df").alias("df"),
                          F.sum("cf").alias("cf")).first()
    src = idx.postings_str if idx.postings_str is not None else idx.postings
    p = src.agg(
        F.sum(F.length("docs_bin") + F.length("tfs_bin")).alias("bytes"),
        F.sum(F.size("block_last_docs")).alias("blocks"),
        F.sum("n").alias("n"), F.sum("sum_tf").alias("cf")).first()
    n = int(p["n"])
    total = int(p["bytes"]) + BLOCK_META_BYTES * int(p["blocks"])
    return {"num_docs": int(idx.stats["num_docs"]), "sum_df": int(lex["df"]),
            "sum_cf": int(lex["cf"]), "postings": n, "posting_cf": int(p["cf"]),
            "bytes_per_posting": total / n}


def sizes_consistent(sz: dict) -> bool:
    return sz["sum_df"] == sz["postings"] and sz["sum_cf"] == sz["posting_cf"]


def serve_one(run: Run, idx, q: str):
    """One interactive query: the call until the DataFrame returns, then
    the collect. Returns (rows, call s, collect s)."""
    from pisa_spark.operators.topk import topk_search

    sp = run.spans
    t0 = time.perf_counter()
    with sp.span("operators.topk.topk_search"):
        df = topk_search(idx, [q], k=K, algorithm=ALGORITHM,
                         range_span=RANGE_SPAN, with_urls=False)
    t1 = time.perf_counter()
    with sp.span("operators.topk.collect"):
        rows = df.collect()
    return rows, t1 - t0, time.perf_counter() - t1


def oracle(idx, queries: list[str]) -> dict:
    """Exhaustive ranked_or answers for the query set, keyed by qid."""
    from pisa_spark.operators.topk import topk_search_batch

    return stats.ranked_rows(topk_search_batch(
        idx, queries, k=K, algorithm="ranked_or", range_span=RANGE_SPAN,
        with_urls=False).collect())


def qid_of(q: str) -> str:
    return q.split(":", 1)[0]


def build_index_timed(run: Run, pages, op: bool = False):
    from pisa_spark.plans.build import build_index

    t0 = time.perf_counter()
    with run.spans.span("plans.build.build_index", op=op):
        idx = build_index(pages, cfg(), html_col="html", eager=True)
    return idx, time.perf_counter() - t0


def timed_loop(run: Run, body) -> None:
    """Call body() until `seconds` have passed, at least once."""
    t0 = time.perf_counter()
    while True:
        body()
        if time.perf_counter() - t0 >= run.seconds:
            return


def finish(run: Run, idx, ctx: dict) -> None:
    """Figures common to every workload; the per-layer probes when traced."""
    run.e2e["setup_s"] = run.setup_s
    run.e2e["driver_peak_rss_mb"] = (
        resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0)
    sz = index_sizes(idx)
    run.e2e["index_bytes_per_posting"] = sz["bytes_per_posting"]
    prev, parts = 0.0, []
    for name, end in run.setup_parts:
        parts.append(f"{name} {end - prev:.2f}")
        prev = end
    run.report("setup_s", run.setup_s, "s", ", ".join(parts))
    run.report("failed_ops_frac", run.failed / max(run.attempted, 1), "frac",
               f"{run.failed}/{run.attempted} operations")
    run.report("driver_peak_rss_mb", run.e2e["driver_peak_rss_mb"], "MB")
    run.report("index_bytes_per_posting", sz["bytes_per_posting"], "B",
               f"{sz['postings']} postings")
    if run.spans.enabled:
        from perfbench import layers

        layers.probe(run, idx, ctx)


# -------------------------------------------------------------- workloads

def build(run: Run) -> None:
    """Repeated eager builds of one HTML corpus read from parquet."""
    from pisa_spark.functions.text import extract_text_batch

    spark = run.spark
    pages = run.pages()
    for _ in range(BUILD_WARM):  # Python workers and the JVM JIT warm up
        build_index_timed(run, pages)
        spark.catalog.clearCache()
    run.setup_done()

    sample = text_sample(run.corpora["corpus"])
    run.check(list(extract_text_batch(sample["html"])) == list(sample["text"]),
              "extract_text_batch differs from the corpus text column")

    times, phases, ref, last = [], [], {}, {}

    def one():
        spark.catalog.clearCache()
        try:
            idx, dt = build_index_timed(run, pages, op=True)
            sz = index_sizes(idx)
        except Exception:
            run.crashed("build_index")
            return
        if not ref:
            ref.update(sz)
        if run.check(sizes_consistent(sz) and sz == ref,
                     f"build repeats disagree: {sz} vs {ref}"):
            times.append(dt)
            phases.append(idx.stats["phase_seconds"])
        last["idx"] = idx

    timed_loop(run, one)
    if not times:
        raise RuntimeError("no build completed")
    b = stats.median(times)
    rate = ref["num_docs"] / b
    run.e2e.update(items_per_s=rate, op_p50_ms=b * 1000.0)
    run.report("build_docs_per_s", rate, "docs/s",
               f"median of {len(times)} builds of {ref['num_docs']} docs: "
               + " ".join(f"{t:.2f}" for t in times) + " s")
    finish(run, last["idx"], {"phases": phases})


def _prebuilt(run: Run):
    """serve/batch set-up: the index, the query set and its oracle."""
    idx, _ = build_index_timed(run, run.pages())
    run.setup_part("index")
    qs = stats.queries(run.seed)
    want = oracle(idx, qs)
    run.setup_part("oracle")
    return idx, qs, want


def serve(run: Run) -> None:
    """Closed loop, one client, one query per call, cycling the set."""
    idx, qs, want = _prebuilt(run)
    # first query on the new index: builds the driver serve state
    t0 = time.perf_counter()
    serve_one(run, idx, qs[0])
    first_ms = (time.perf_counter() - t0) * 1000.0

    def query(q):
        try:
            with run.spans.span("serve.query", op=True):
                rows, a, b = serve_one(run, idx, q)
        except Exception:
            run.crashed(f"topk_search {q!r}")
            return None
        ok = run.check(stats.mismatched_queries(
            stats.ranked_rows(rows), want, [qid_of(q)]) == [],
            f"serve answer differs from the oracle for {q!r}")
        return a + b if ok else None

    for _ in range(SERVE_WARM_PASSES):
        for q in qs:
            query(q)
    run.setup_done()

    lat, pos = [], [0]

    def one():
        dt = query(qs[pos[0] % len(qs)])
        pos[0] += 1
        if dt is not None:
            lat.append(dt)

    timed_loop(run, one)
    if not lat:
        raise RuntimeError("no query answered")
    p50, n = stats.percentile(lat, 50.0)
    # items per operation over the median operation time, as on the other
    # workloads; the mean-based rate follows the slowest spells of a shared
    # host and is only printed
    run.e2e.update(items_per_s=1.0 / p50, op_p50_ms=p50 * 1000.0)
    run.report("query_p50_ms", p50 * 1000.0, "ms", f"n={n}")
    tail = stats.tail_percentile(n)
    if tail is not None:
        v, _ = stats.percentile(lat, tail)
        run.report(f"query_p{tail:g}_ms", v * 1000.0, "ms",
                   f"n={n}; p99 needs {100 * stats.TAIL_MIN_BEYOND} samples")
    run.report("serve_qps", len(lat) / sum(lat), "1/s", "one client")
    finish(run, idx, {"queries": qs, "first_query_ms": [first_ms]})


def batch(run: Run) -> None:
    """Closed loop of 200-query batch calls collected with their URLs."""
    from pisa_spark.operators.topk import topk_search_batch

    idx, qs, want = _prebuilt(run)
    qids = [qid_of(q) for q in qs]
    sp = run.spans

    def call():
        t0 = time.perf_counter()
        try:
            with sp.span("batch.call", op=True):
                with sp.span("operators.topk.topk_search_batch"):
                    df = topk_search_batch(
                        idx, qs, k=K, algorithm=ALGORITHM,
                        range_span=RANGE_SPAN, with_urls=True)
                with sp.span("operators.topk.batch_collect"):
                    rows = df.collect()
        except Exception:
            run.crashed("topk_search_batch")
            return None
        dt = time.perf_counter() - t0
        bad = stats.mismatched_queries(stats.ranked_rows(rows), want, qids)
        ok = run.check(not bad and all(r["url"] for r in rows),
                       f"batch answers differ from the oracle for {bad[:5]}")
        return dt if ok else None

    for _ in range(BATCH_WARM_CALLS):
        call()
    run.setup_done()

    times = []

    def one():
        dt = call()
        if dt is not None:
            times.append(dt)

    timed_loop(run, one)
    if not times:
        raise RuntimeError("no batch call completed")
    b = stats.median(times)
    run.e2e.update(items_per_s=len(qs) / b, op_p50_ms=b * 1000.0)
    run.report("batch_qps", len(qs) / b, "1/s",
               f"median of {len(times)} calls of {len(qs)} queries")
    finish(run, idx, {"queries": qs,
                      "batch_call_ms": [t * 1000.0 for t in times]})


WORKLOADS = {"build": build, "serve": serve, "batch": batch}
