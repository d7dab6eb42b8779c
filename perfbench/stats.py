"""Pure helpers of the benchmark: inputs from a seed, percentiles with their
sample counts, and the rank-identity comparison against the exhaustive
oracle. Nothing here starts Spark, so the tests run in milliseconds."""

from __future__ import annotations

import math

import numpy as np

N_QUERIES = 200

# Percentiles tried for a tail figure, highest first. A percentile is only
# reported when at least TAIL_MIN_BEYOND samples lie beyond it; with fewer
# the figure is one or two samples and repeats badly.
TAIL_CANDIDATES = (99.0, 95.0, 90.0, 75.0, 50.0)
TAIL_MIN_BEYOND = 10


def queries(seed: int, n: int = N_QUERIES) -> list[str]:
    """The query set of a run: reference-style 'Qi:terms' lines."""
    from pisa_spark.sources import webtext

    return webtext.synth_queries(n, seed=seed)


def corpus_pandas(seed: int, n: int, start: int = 0):
    """The pages a run's corpus holds, generated on the driver. The
    benchmark writes the same rows through `webtext.generate`, which keys
    every page on (seed, doc index) exactly like this function."""
    from pisa_spark.sources import webtext

    return webtext.generate_pandas(n, seed=seed, start=start)


def percentile(samples, q: float) -> tuple[float, int]:
    """Nearest-rank percentile q (0 < q <= 100) and the sample count it
    rests on."""
    n = len(samples)
    if n == 0:
        raise ValueError("percentile of no samples")
    xs = sorted(samples)
    rank = max(1, math.ceil(q / 100.0 * n))
    return float(xs[rank - 1]), n


def tail_percentile(n: int) -> float | None:
    """Highest candidate percentile that has at least TAIL_MIN_BEYOND of n
    samples beyond it; None when even the median has fewer."""
    for q in TAIL_CANDIDATES:
        if n * (100.0 - q) / 100.0 >= TAIL_MIN_BEYOND:
            return q
    return None


def median(samples) -> float:
    return percentile(samples, 50.0)[0]


def ranked_rows(rows) -> dict[str, list[tuple[int, int, np.float32]]]:
    """Rows with qid, rank, doc_id, score -> {qid: [(rank, doc_id, f32)]}
    sorted by rank. Accepts Spark Rows or any mapping-like rows."""
    out: dict[str, list] = {}
    for r in rows:
        out.setdefault(str(r["qid"]), []).append(
            (int(r["rank"]), int(r["doc_id"]), np.float32(r["score"])))
    for v in out.values():
        v.sort()
    return out


def mismatched_queries(got: dict, oracle: dict, qids) -> list[str]:
    """qids whose (rank, doc_id, float32 score) list differs from the
    oracle's, ties included (both sides order ties by doc_id). A qid the
    oracle answers with no rows must also come back empty."""
    return [q for q in qids if got.get(q, []) != oracle.get(q, [])]
