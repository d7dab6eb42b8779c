"""Top-k query executors: exhaustive (ranked_or), MaxScore, Block-Max-WAND.

Dataflow of the list-query executors (topk_search's serve path and
topk_search_batch):

    queries --analyze on the driver, against the cached lexicon-->
            (term_id -> [(qid, weight)], per-query term counts)
    postings --filter to the query vocabulary (one IN expression),
              co-locate by shard-->
            --per task: whole shards in groups of at most
              SERVE_COLLECT_MAX_POSTINGS postings, as Arrow tables-->
            --per group, ONE columnar pass: decode every row's docs_bin /
              tfs_bin from the contiguous column buffers, score every
              posting, slice one run per (query term, weight)-->
            --ONE kernel per query over the broadcast global
              doc-length array-->
            --k-merge (score desc, doc asc)-->  (qid, doc_id, score, rank)

Kernels run in exactly two places: the serve path runs the group traversal
(_traverse) on the driver over runs built from its resident Arrow posting
cache, and topk_search_batch runs it executor-side in one mapInArrow pass.
Both build runs with the same group builder (_group_runs). Every call the
serve path declines (DataFrame query sets, indexes above the serve bounds,
oversized fetches or merges) goes to topk_search_batch. Without the driver
state posting rows carry their own shard's doc lengths and a group is one
shard. profile_queries walks the same shard-sorted rows one shard at a
time, with fresh copies of the shard's runs per query so its decode
counters stay per query.

Per-group top-k + global merge mirrors the reference's range_query
(include/pisa/range_query.hpp:8-37): per-docID-range top-k, then a final
k-merge — which is exactly Spark's partial/final TakeOrderedAndProject
shape, here expressed as a row_number window per qid.

Kernels are numpy-vectorized adaptations of the reference traversal
algorithms (cursor loops don't vectorize; doc-range batching does):

- exhaustive: score every doc in the union (ranked_or_query.hpp:16-56);
  float32 canonical accumulation -> the rank-identity oracle.
- maxscore  (maxscore_query.hpp:14-147): per doc-range, split lists into
  essential/non-essential by the suffix-upper-bound rule against the
  running threshold; candidates come only from essential lists;
  non-essential lists are probed by searchsorted lookup with bound
  re-filtering in descending-max-score order.
- block_max_maxscore (block_max_maxscore_query.hpp:10-101): maxscore with
  the remaining non-essential mass bounded PER DOC by the max of the block
  that would contain the doc in each unprobed list (the reference's
  block_max_score at the cursor, batched per doc-range) — tighter pruning,
  identical ranking.
- block_max_wand (block_max_wand_query.hpp:10-169): per doc-range, skip
  the whole range when the sum of per-term block maxima is below the
  threshold; then filter candidates by their per-doc sum of block maxima
  before any scoring (the deep skip + partial-break of the reference,
  batched).

Safety: all pruning uses strict `bound < theta` skips and survivors are
re-scored in canonical term order, so every algorithm returns exactly the
exhaustive top-k including ties (ties broken score desc, doc asc — the
reference's finalize() sorts by score only, topk_queue.hpp:73-83, so we pin
the doc-asc rule as documented in SURVEY §7).

Threshold seeding (reference topk_queue.hpp:23-31, tools/queries.cpp): pass
`thresholds={qid: theta0}` to start kernels above zero; with an exact k-th
score this stays rank-safe (ties kept); overestimates prune like the
reference's unsafe mode.
"""

from __future__ import annotations

import copy
import itertools
import threading

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc

from pisa_spark.config import IndexConfig
from pisa_spark.functions.scoring import make_scorer
from pisa_spark.functions.tokenize import analyze_query_terms
from pisa_spark.operators import codecs

F32 = np.float32

TOPK_PARTIAL_SCHEMA = "qid string, doc_id long, score float"

ALGORITHMS = ("ranked_or", "maxscore", "block_max_maxscore", "wand",
              "block_max_wand", "ranked_and", "block_max_ranked_and")

# TaaT variants share the exhaustive kernel: scoring every candidate in a
# doc-range batch IS term-at-a-time accumulation over that range
# (ranked_or_taat_query.hpp:9-37; the lazy accumulator is a single-node
# memory trick with no distributed analogue).
_ALGORITHM_ALIASES = {
    "ranked_or_taat": "ranked_or",
    "ranked_or_taat_lazy": "ranked_or",
}


class _TermRun:
    """One query term's postings over a group of whole shards, in ascending
    docIDs: a slice of the group's columnar decode (_group_runs) with the
    float32 score contribution of every posting and the block bounds.
    `decoded` records whether a kernel read the postings (decode_all),
    which is what profile_queries counts as decoded."""

    __slots__ = ("term_id", "n", "base_doc", "last_doc", "blk_last",
                 "blk_ub", "ub", "_docs", "_tfs", "_contribs", "decoded")

    def __init__(self, term_id: int, base_doc: int, last_doc: int,
                 docs: np.ndarray, tfs: np.ndarray, contribs: np.ndarray,
                 blk_last: np.ndarray, blk_ub: np.ndarray):
        self.term_id = term_id
        self.n = int(docs.size)
        self.base_doc = base_doc
        self.last_doc = last_doc
        self._docs = docs
        self._tfs = tfs
        self._contribs = contribs
        self.blk_last = blk_last
        self.blk_ub = blk_ub
        self.ub = F32(blk_ub.max()) if blk_ub.size else F32(0.0)
        self.decoded = False

    def decode_all(self) -> tuple[np.ndarray, np.ndarray]:
        self.decoded = True
        return self._docs, self._tfs

    def blocks_overlapping(self, lo: int, hi: int) -> tuple[int, int]:
        """Inclusive block index span intersecting doc range [lo, hi)."""
        nblk = self.blk_last.size
        b0 = int(np.searchsorted(self.blk_last, lo, "left"))
        if b0 >= nblk:
            return 1, 0  # empty span
        b1 = int(np.searchsorted(self.blk_last, hi - 1, "left"))
        b1 = min(b1, nblk - 1)
        return b0, b1

    def range_ub(self, lo: int, hi: int) -> np.float32:
        b0, b1 = self.blocks_overlapping(lo, hi)
        if b0 > b1:
            return F32(0.0)
        return F32(self.blk_ub[b0:b1 + 1].max())

    def _range_block_spans(self, los: np.ndarray,
                           his: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        """blocks_overlapping vectorized over ascending [lo, hi) ranges."""
        nblk = self.blk_last.size
        b0 = np.searchsorted(self.blk_last, los, "left")
        b1 = np.minimum(np.searchsorted(self.blk_last, his - 1, "left"),
                        nblk - 1)
        return b0, b1

    def spans_nonempty(self, los: np.ndarray, his: np.ndarray) -> np.ndarray:
        nblk = self.blk_last.size
        if nblk == 0:
            return np.zeros(los.size, dtype=bool)
        b0, b1 = self._range_block_spans(los, his)
        return (b0 < nblk) & (b0 <= b1)

    def range_ubs_batch(self, los: np.ndarray, his: np.ndarray) -> np.ndarray:
        """range_ub vectorized over many ranges: per-range interval max of
        blk_ub via one padded maximum.reduceat (bit-identical to the scalar
        slice-max — f32 max is order-independent)."""
        nblk = self.blk_last.size
        if nblk == 0:
            return np.zeros(los.size, dtype=F32)
        b0, b1 = self._range_block_spans(los, his)
        empty = (b0 >= nblk) | (b0 > b1)
        padded = np.concatenate((self.blk_ub, np.zeros(1, dtype=F32)))
        ind = np.empty(2 * los.size, dtype=np.intp)
        ind[0::2] = np.minimum(b0, nblk)
        ind[1::2] = b1 + 1
        # even slots reduce over [b0, b1+1) == the block span; odd slots are
        # inter-range garbage and are discarded
        out = np.maximum.reduceat(padded, ind)[0::2]
        out[empty] = F32(0.0)
        return out.astype(F32, copy=False)

    def docs_in(self, lo: int, hi: int) -> tuple[np.ndarray, np.ndarray]:
        docs, tfs = self.decode_all()
        i0 = np.searchsorted(docs, lo, "left")
        i1 = np.searchsorted(docs, hi, "left")
        return docs[i0:i1], tfs[i0:i1]

    def docs_in_batch(self, los: np.ndarray, his: np.ndarray) -> np.ndarray:
        """Docs present in ANY of the disjoint [lo, hi) ranges, in one pass
        (batched searchsorted + interval difference-mask)."""
        docs, _ = self.decode_all()
        i0 = np.searchsorted(docs, los, "left")
        i1 = np.searchsorted(docs, his, "left")
        mark = np.zeros(docs.size + 1, dtype=np.int32)
        np.add.at(mark, i0, 1)
        np.add.at(mark, i1, -1)
        return docs[np.cumsum(mark[:-1]) > 0]

    def doc_term_ub(self, doc_ids: np.ndarray) -> np.ndarray:
        """Per-doc upper bound using the TERM max score for docs present in
        this run (plain WAND semantics, wand_query.hpp:38-89: bounds come
        from per-term max scores only, no block refinement)."""
        docs, _ = self.decode_all()
        idx = np.searchsorted(docs, doc_ids, "left")
        idx_c = np.minimum(idx, max(docs.size - 1, 0))
        present = (docs.size > 0) & (idx < docs.size) & (docs[idx_c] == doc_ids)
        out = np.zeros(doc_ids.size, dtype=F32)
        out[present] = self.ub
        return out

    def doc_block_ub(self, doc_ids: np.ndarray) -> np.ndarray:
        """Per-doc upper bound from the block that would contain each doc
        (block_max_scored_cursor.hpp block_max_score semantics)."""
        idx = np.searchsorted(self.blk_last, doc_ids, "left")
        out = np.zeros(doc_ids.size, dtype=F32)
        mask = (idx < self.blk_last.size) & (doc_ids > self.base_doc)
        out[mask] = self.blk_ub[idx[mask]]
        return out

    def contrib(self, doc_ids: np.ndarray) -> np.ndarray:
        """Score contribution of the given docs (0 when absent): a gather
        from the contributions scored once when the group was built."""
        docs, _ = self.decode_all()
        idx = np.searchsorted(docs, doc_ids, "left")
        idx_c = np.minimum(idx, docs.size - 1)
        present = (docs.size > 0) & (docs[idx_c] == doc_ids) & (idx < docs.size)
        out = np.zeros(doc_ids.size, dtype=F32)
        out[present] = self._contribs[idx[present]]
        return out


def _canonical_scores(doc_ids: np.ndarray, runs: list[_TermRun]) -> np.ndarray:
    """Sum contributions in fixed ascending term_id order (float32) so every
    algorithm produces bit-identical scores for the same doc."""
    total = np.zeros(doc_ids.size, dtype=F32)
    for run in sorted(runs, key=lambda r: r.term_id):
        total = total + run.contrib(doc_ids)
    return total


class _TopK:
    """Running top-k with tie-keeping threshold (topk_queue.hpp analogue;
    ties at the k-th score are kept so the global doc-asc tie-break stays
    exact)."""

    def __init__(self, k: int, theta0: float = 0.0):
        self.k = k
        self.docs: np.ndarray = np.zeros(0, dtype=np.int64)
        self.scores: np.ndarray = np.zeros(0, dtype=F32)
        self.theta = F32(theta0)
        self.seeded = theta0 > 0.0

    def merge(self, docs: np.ndarray, scores: np.ndarray) -> None:
        if docs.size == 0:
            return
        self.docs = np.concatenate((self.docs, docs))
        self.scores = np.concatenate((self.scores, scores))
        if self.docs.size > self.k:
            kth = np.partition(self.scores, self.scores.size - self.k)[
                self.scores.size - self.k]
            keep = self.scores >= kth
            self.docs, self.scores = self.docs[keep], self.scores[keep]
            self.theta = max(self.theta, F32(kth))
        elif self.docs.size == self.k and not self.seeded:
            self.theta = max(self.theta, F32(self.scores.min()))


def _active_ranges(runs: list[_TermRun], shard_base: int, shard_end: int,
                   range_span: int) -> np.ndarray:
    """Doc ranges (indices) that intersect at least one posting block."""
    n_ranges = (shard_end - shard_base + range_span - 1) // range_span
    diff = np.zeros(n_ranges + 1, dtype=np.int64)
    for run in runs:
        firsts = np.concatenate(([run.base_doc + 1], run.blk_last[:-1] + 1))
        starts = np.clip((firsts - shard_base) // range_span, 0, n_ranges - 1)
        ends = np.clip((run.blk_last - shard_base) // range_span, 0, n_ranges - 1)
        np.add.at(diff, starts, 1)
        np.add.at(diff, ends + 1, -1)
    return np.flatnonzero(np.cumsum(diff[:-1]) > 0)


def _conjunction_docs(runs: list[_TermRun], lo: int, hi: int) -> np.ndarray:
    """Docs present in every run within [lo, hi): candidate-probe from the
    shortest list (and_query.hpp:18-65 semantics, batched via searchsorted
    — the sort-merge skip loop vectorized)."""
    runs_sorted = sorted(runs, key=lambda r: r.n)
    cand = runs_sorted[0].docs_in(lo, hi)[0]
    for run in runs_sorted[1:]:
        if cand.size == 0:
            return cand
        docs, _ = run.decode_all()
        idx = np.searchsorted(docs, cand, "left")
        idx_c = np.minimum(idx, docs.size - 1)
        cand = cand[(docs[idx_c] == cand) & (idx < docs.size)]
    return cand


def _run_kernel(algorithm: str, runs: list[_TermRun], k: int,
                doc_lens: np.ndarray, shard_base: int, range_span: int,
                theta0: float, n_query_terms: int | None = None,
                counters: dict | None = None) -> tuple[np.ndarray, np.ndarray]:
    """counters (optional dict) accumulates the reference profile_queries
    metrics: ranges visited/skipped, docs actually scored; posting/block
    decode counts are read off the runs afterwards (see profile_queries)."""
    c = counters if counters is not None else {}
    c.setdefault("ranges", 0)
    c.setdefault("ranges_skipped", 0)
    c.setdefault("docs_scored", 0)
    shard_end = shard_base + doc_lens.size
    topk = _TopK(k, theta0)
    if algorithm in ("ranked_and", "block_max_ranked_and"):
        # conjunction: a term absent from this shard empties the whole shard
        if n_query_terms is not None and len(runs) < n_query_terms:
            return topk.docs, topk.scores
    if algorithm == "ranked_or":
        # exhaustive disjunction: one pass, no pruning
        all_docs = np.unique(np.concatenate([r.decode_all()[0] for r in runs]))
        scores = _canonical_scores(all_docs, runs)
        c["docs_scored"] += int(all_docs.size)
        pos = scores > 0  # reference finalize() drops <= 0 (topk_queue.hpp:77)
        topk.merge(all_docs[pos], scores[pos])
        return topk.docs, topk.scores

    ridx = _active_ranges(runs, shard_base, shard_end, range_span)
    if ridx.size == 0:
        return topk.docs, topk.scores
    los = shard_base + ridx * range_span
    his = np.minimum(los + range_span, shard_end)
    # per-(run, range) upper bounds, vectorized across ALL ranges up front
    # (one searchsorted pair + one reduceat per run instead of four numpy
    # calls per run per range)
    if algorithm == "wand":
        # plain WAND: per-term bounds only (no block-max refinement)
        ub_mat = np.stack([
            np.where(run.spans_nonempty(los, his), run.ub, F32(0.0))
            for run in runs]).astype(F32, copy=False)
    else:
        ub_mat = np.stack([run.range_ubs_batch(los, his) for run in runs])
    sum_ub = ub_mat.sum(axis=0, dtype=F32)
    if counters is None:
        # hot path: visit ranges in DESCENDING bound order so theta converges
        # in the first few ranges and the rest bulk-prune via early exit.
        # Result-identical to docID order: a doc whose exact score reaches the
        # true k-th score is never discarded (theta <= true k-th throughout,
        # final filtering is exact canonical scores), and the caller's
        # (score desc, doc asc) rank cut is order-independent.
        visit = np.argsort(-sum_ub, kind="stable")
        descending = True
        if algorithm in ("block_max_wand", "wand", "maxscore",
                         "block_max_maxscore") and visit.size > 4:
            # two-wave pruning for the disjunctive algorithms: a short
            # sequential head converges theta, then every remaining live
            # range is processed in ONE vectorized bulk pass below (per-doc
            # bounds + one canonical scoring) — removes the per-range Python
            # loop from the hot serve path. Safe: the bulk prune uses the
            # head's theta, which can only be <= the fully-sequential theta,
            # so it scores a superset of the sequential candidates; exact
            # canonical scores decide the rest. Conjunctive algorithms keep
            # the per-range walk (their candidate SET depends on the
            # intersection semantics, not just pruning). The head is 4
            # ranges: a batch task's shard group spans few ranges, and a
            # longer head (8 of >12 before) left it all in the Python loop
            # — 4 halved the batch kernel CPU at 8k docs, range_span 256.
            bulk_tail = visit[4:]
            visit = visit[:4]
        else:
            bulk_tail = None
    else:
        bulk_tail = None
        # profile mode keeps the reference's docID-order walk so the
        # visited/skipped counters keep their published semantics
        # (tools/profile_queries.cpp range loop)
        visit = np.arange(ridx.size)
        descending = False
    for j in visit:
        lo = int(los[j])
        hi = int(his[j])
        # pruning threshold with a few float32 ulps of slack: upper-bound
        # sums accumulate in a different order than canonical scores, so an
        # exactly-tied doc's bound can round 1 ulp below theta. Final
        # filtering uses exact canonical scores, so results stay exact.
        prune = topk.theta * F32(1.0 - 1e-6)
        ubs = ub_mat[:, j]
        c["ranges"] += 1
        if sum_ub[j] < prune or not (ubs > 0).any():
            c["ranges_skipped"] += 1
            if descending:
                break  # every remaining range has an equal-or-smaller bound
            continue  # whole range cannot beat theta (block-max range skip)
        order = np.argsort(ubs, kind="stable")

        if algorithm in ("block_max_wand", "wand"):
            cand = np.unique(np.concatenate(
                [run.docs_in(lo, hi)[0] for run in runs]))
            if cand.size == 0:
                continue
            bound = np.zeros(cand.size, dtype=F32)
            for run in runs:
                bound += (run.doc_block_ub(cand)
                          if algorithm == "block_max_wand"
                          else run.doc_term_ub(cand))
            cand = cand[bound >= prune]
        elif algorithm in ("ranked_and", "block_max_ranked_and"):
            cand = _conjunction_docs(runs, lo, hi)
            if cand.size == 0:
                continue
            if algorithm == "block_max_ranked_and":
                # block-level bound before scoring
                # (block_max_ranked_and_query.hpp semantics)
                bound = np.zeros(cand.size, dtype=F32)
                for run in runs:
                    bound += run.doc_block_ub(cand)
                cand = cand[bound >= prune]
        elif algorithm in ("maxscore", "block_max_maxscore"):
            # non-essential prefix (ascending ub) with cum-ub strictly below
            # theta can never alone lift a doc past the threshold
            cum = np.cumsum(ubs[order], dtype=F32)
            n_noness = int(np.searchsorted(cum, prune, "left"))
            noness = [(runs[i], ubs[i]) for i in order[:n_noness]]
            ess = [runs[i] for i in order[n_noness:]]
            if not ess:
                continue
            cand = np.unique(np.concatenate(
                [run.docs_in(lo, hi)[0] for run in ess]))
            if cand.size == 0:
                continue
            partial = np.zeros(cand.size, dtype=F32)
            for run in ess:
                partial += run.contrib(cand)
            noness_sorted = sorted(noness, key=lambda p: -p[1])
            if algorithm == "block_max_maxscore":
                # per-doc refinement: bound each candidate's remaining
                # non-essential mass by the max of the BLOCK that would
                # contain it in each unprobed list, not the list's range
                # max (reference block_max_maxscore_query.hpp:10-101's
                # block_max_score at the cursor, batched per doc-range).
                # Still a safe upper bound per doc, so pruning stays exact.
                nb = [run.doc_block_ub(cand) for run, _ in noness_sorted]
                rem = (np.sum(nb, axis=0, dtype=F32) if nb
                       else np.zeros(cand.size, dtype=F32))
                keep = partial + rem >= prune
                cand, partial, rem = cand[keep], partial[keep], rem[keep]
                nb = [b[keep] for b in nb]
                for i, (run, _) in enumerate(noness_sorted):
                    if cand.size == 0:
                        break
                    partial += run.contrib(cand)
                    rem = rem - nb[i]
                    keep = partial + rem >= prune
                    cand, partial, rem = cand[keep], partial[keep], rem[keep]
                    nb = [b[keep] for b in nb]
            else:
                remaining = F32(sum(ub for _, ub in noness))
                keep = partial + remaining >= prune
                cand, partial = cand[keep], partial[keep]
                for run, ub in noness_sorted:
                    if cand.size == 0:
                        break
                    partial += run.contrib(cand)
                    remaining = F32(remaining - ub)
                    keep = partial + remaining >= prune
                    cand, partial = cand[keep], partial[keep]
        else:
            raise ValueError(f"unknown algorithm {algorithm!r}")

        if cand.size == 0:
            continue
        scores = _canonical_scores(cand, runs)
        c["docs_scored"] += int(cand.size)
        keep = (scores >= topk.theta) & (scores > 0)
        topk.merge(cand[keep], scores[keep])

    if bulk_tail is not None and bulk_tail.size:
        prune = topk.theta * F32(1.0 - 1e-6)
        live = bulk_tail[(sum_ub[bulk_tail] >= prune)
                         & (sum_ub[bulk_tail] > 0)]
        if live.size:
            blos, bhis = los[live], his[live]
            cand = np.unique(np.concatenate(
                [run.docs_in_batch(blos, bhis) for run in runs]))
            if cand.size:
                # per-doc bound at each algorithm's own granularity: block
                # max for the block-max family, term max for wand/maxscore
                block_refined = algorithm in ("block_max_wand",
                                              "block_max_maxscore")
                bound = np.zeros(cand.size, dtype=F32)
                for run in runs:
                    bound += (run.doc_block_ub(cand) if block_refined
                              else run.doc_term_ub(cand))
                cand = cand[bound >= prune]
            if cand.size:
                scores = _canonical_scores(cand, runs)
                c["docs_scored"] += int(cand.size)
                keep = (scores >= topk.theta) & (scores > 0)
                topk.merge(cand[keep], scores[keep])
    return topk.docs, topk.scores


def make_query_terms_df(spark, queries: list[str], cfg: IndexConfig):
    rows = analyze_query_terms(queries, cfg)
    return spark.createDataFrame(rows, "qid string, term string, weight double")


def _rank_per_query(scored, k: int):
    """The k best (qid, doc_id, score) rows of each qid, ranked 1..k by
    (score desc, doc asc)."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    w = W.partitionBy("qid").orderBy(F.desc("score"), F.asc("doc_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("qid", "doc_id", "score", "rank"))


# ------------------------------------------------------------ serving path

# driver-memory bounds for the serve caches: above these the serve path
# declines and topk_search runs the executor-side batch traversal instead
SERVE_MAX_DOCS = 1 << 23            # global doc_lens array (~64 MB int64)
SERVE_MAX_PARTIAL_ROWS = 1 << 21    # shards x queries x k merge bound
# per-call driver fetch bound; also the postings one traversal group holds
SERVE_COLLECT_MAX_POSTINGS = 1 << 22
SERVE_CACHE_MAX_POSTINGS = 1 << 24    # resident posting-row cache budget


class _QueryPlan:
    """A query set analyzed on the driver, plus the kernel settings: all a
    traversal needs, shipped to the executors with it."""

    def __init__(self, index, algorithm: str, k: int, weighted: bool,
                 range_span: int, thresholds: dict[str, float] | None):
        cfg = index.cfg
        self.algorithm = algorithm
        self.k = k
        self.weighted = weighted
        self.range_span = range_span
        self.thresholds = dict(thresholds or {})
        self.scorer = make_scorer(cfg.scorer, cfg.scorer_params())
        self.stats = dict(index.stats)
        self.codec = cfg.codec
        self.term_queries: dict[int, list] = {}  # term_id -> [(qid, weight)]
        self.term_stats: dict[int, tuple] = {}   # term_id -> (df, cf)
        self.n_terms: dict[str, int] = {}        # qid -> known query terms
        self.tid_of_term: dict[str, int] = {}

    def add(self, qid: str, term: str, tid: int, df: int, cf: int,
            weight: float) -> None:
        self.tid_of_term[term] = tid
        self.term_queries.setdefault(tid, []).append((qid, float(weight)))
        self.term_stats[tid] = (df, cf)
        self.n_terms[qid] = self.n_terms.get(qid, 0) + 1

    def analyze(self, queries: list[str], tmeta: dict,
                cfg: IndexConfig) -> "_QueryPlan":
        """Resolve query lines against the driver-cached lexicon, as the
        reference's query tools do before evaluating anything
        (evaluate_queries.cpp:79-101)."""
        for qid, term, w in analyze_query_terms(queries, cfg):
            self.n_terms.setdefault(qid, 0)
            meta = tmeta.get(term)
            if meta is not None:  # unknown terms drop (query_parser.cpp:33-38)
                self.add(qid, term, *meta, w)
        return self


def _binary_rows(col) -> tuple[np.ndarray, np.ndarray]:
    """(data, row byte offsets) of a one-chunk Arrow binary column: the
    column's own contiguous buffer, read without a copy."""
    arr = col.chunk(0)
    _, offs, data = arr.buffers()
    width = np.int64 if pa.types.is_large_binary(arr.type) else np.int32
    row_offs = np.frombuffer(offs, dtype=width,
                             count=arr.offset + len(arr) + 1)[arr.offset:]
    return np.frombuffer(data, dtype=np.uint8), row_offs


def _list_rows(col) -> tuple[np.ndarray, np.ndarray]:
    """(values, per-row offsets into values) of a one-chunk Arrow list
    column."""
    arr = col.chunk(0)
    offs = arr.offsets.to_numpy()
    return arr.flatten().to_numpy(), offs - offs[0]


def _group_runs(table: pa.Table, plan: _QueryPlan, doc_lens: np.ndarray,
                base: int) -> dict[tuple[int, float], _TermRun]:
    """Decode and score one group of posting rows in one columnar pass,
    then slice it into one run per (term_id, weight) key of `plan`: the
    term's rows over the group's shards, in ascending shard order.

    docs_bin and tfs_bin are read as one contiguous buffer each
    (codecs.decode_many), and every posting's bm25 doc part is ONE scorer
    call over the group. A key's contributions are its float32
    idf * weight, computed per term, times that doc part: the grouping
    the kernels have always scored with, so the scores are bit-identical
    to scoring each row alone. Non-separable scorers make one
    scorer.score call per key. doc_lens is indexed from docID `base`.
    Keys come in the order their terms first appear in `table`."""
    if not table.num_rows:
        return {}
    if "term" in table.column_names:
        vocab = pa.array(list(plan.tid_of_term), pa.string())
        tid_at = np.fromiter(plan.tid_of_term.values(), dtype=np.int64,
                             count=len(vocab))
        tids = tid_at[pc.index_in(table["term"], value_set=vocab).to_numpy()]
    else:
        tids = table["term_id"].to_numpy()
    uniq, first = np.unique(tids, return_index=True)
    order = np.lexsort((table["base_doc"].to_numpy(), tids))
    table = table.take(order).combine_chunks()
    tids = tids[order]
    n = table["n"].to_numpy()
    bases = table["base_doc"].to_numpy()
    lasts = table["last_doc"].to_numpy()
    docs = codecs.decode_many(plan.codec, *_binary_rows(table["docs_bin"]),
                              _list_rows(table["block_doc_offs"]), bases, n)
    tfs = codecs.decode_tfs_many(*_binary_rows(table["tfs_bin"]), n)
    blk_last, b_off = _list_rows(table["block_last_docs"])
    blk_part, _ = _list_rows(table["block_max_part"])
    p_off = np.concatenate(([0], np.cumsum(n)))
    dl = doc_lens[docs - base]
    scorer, stats = plan.scorer, plan.stats
    if scorer.separable:
        part = scorer.doc_part(tfs, dl, stats["avg_len"])
    row_lo = np.searchsorted(tids, uniq)  # each term's rows: [lo, hi)
    row_hi = np.append(row_lo[1:], tids.size)
    runs: dict[tuple[int, float], _TermRun] = {}
    for i in np.argsort(first).tolist():
        tid, r0, r1 = int(uniq[i]), row_lo[i], row_hi[i]
        p0, p1, b0, b1 = p_off[r0], p_off[r1], b_off[r0], b_off[r1]
        df, cf = plan.term_stats[tid]
        if scorer.separable:
            idf = F32(scorer.idf(np.array([df]), stats["num_docs"])[0])
        for _, w in plan.term_queries.get(tid, ()):
            key = (tid, w if plan.weighted else 1.0)
            if key in runs:
                continue
            wf = F32(key[1])
            if scorer.separable:
                scale = idf * wf
                contribs = scale * part[p0:p1]
            else:
                scale = wf
                contribs = wf * scorer.score(
                    tfs[p0:p1], dl[p0:p1], df=df, cf=cf,
                    num_docs=stats["num_docs"], avg_len=stats["avg_len"],
                    collection_len=stats["collection_len"])
            runs[key] = _TermRun(tid, int(bases[r0]), int(lasts[r1 - 1]),
                                 docs[p0:p1], tfs[p0:p1], contribs,
                                 blk_last[b0:b1], blk_part[b0:b1] * scale)
    return runs


def _traverse(runs: dict[tuple[int, float], _TermRun], plan: _QueryPlan,
              doc_lens: np.ndarray, base: int
              ) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Answer every query of `plan` over one group of whole shards.

    runs holds one run per (term_id, weight) key over the group's docIDs
    (_group_runs): its decode and float32 contributions happened once,
    shared by every query using the term. ONE kernel per query runs over
    doc_lens (indexed from docID `base`) — the reference's single cursor
    walk per query (tools/queries.cpp:279-340), not one kernel per
    (query, shard). Returns the (qid, doc_id, score) columns of every
    query's partial top-k."""
    by_query: dict[str, list] = {}
    for tid in dict.fromkeys(tid for tid, _ in runs):
        for qid, w in plan.term_queries.get(tid, ()):
            by_query.setdefault(qid, []).append(
                runs[(tid, w if plan.weighted else 1.0)])
    out_q, out_d, out_s = [], [], []
    for qid, qruns in by_query.items():
        docs, scores = _run_kernel(
            plan.algorithm, qruns, plan.k, doc_lens, base, plan.range_span,
            float(plan.thresholds.get(qid, 0.0)),
            n_query_terms=plan.n_terms.get(qid))
        out_q.append(np.repeat(qid, docs.size))
        out_d.append(docs)
        out_s.append(scores)
    if not out_q:
        return (np.zeros(0, dtype=object), np.zeros(0, dtype=np.int64),
                np.zeros(0, dtype=F32))
    return (np.concatenate(out_q), np.concatenate(out_d).astype(np.int64),
            np.concatenate(out_s).astype(F32))


def _shard_groups(batches, budget: int):
    """Cut a shard-sorted stream of posting-row record batches into groups
    (pyarrow Tables) of WHOLE shards holding at most `budget` postings
    each; a shard above the budget is a group of its own (budget 0: one
    shard per group)."""

    def pieces():
        for rb in batches:
            if not rb.num_rows:
                continue
            sid = rb.column("shard_id").to_numpy()
            starts = np.flatnonzero(
                np.concatenate(([True], sid[1:] != sid[:-1])))
            ends = np.append(starts[1:], sid.size)
            sizes = np.add.reduceat(rb.column("n").to_numpy(), starts)
            for s, e, n in zip(starts.tolist(), ends.tolist(),
                               sizes.tolist()):
                yield int(sid[s]), rb.slice(s, e - s), n

    group, group_n = [], 0
    shard, shard_n, shard_id = [], 0, None
    # a (None, None, 0) sentinel closes the stream's last shard
    for sid, piece, n in itertools.chain(pieces(), [(None, None, 0)]):
        if shard and sid == shard_id:  # the shard continues in this batch
            shard.append(piece)
            shard_n += n
            continue
        if shard:
            if group and group_n + shard_n > budget:
                yield pa.Table.from_batches(group)
                group, group_n = [], 0
            group += shard
            group_n += shard_n
        shard, shard_n, shard_id = [piece], n, sid
    if group:
        yield pa.Table.from_batches(group)


def _group_doc_lens(table: pa.Table) -> tuple[np.ndarray, int]:
    """(doc_lens, base) carried by a one-shard group of shard-joined rows."""
    return (table["doc_lens"][0].values.to_numpy(),
            table["shard_base"][0].as_py())


def _traverse_partitions(plan: _QueryPlan, doc_lens_bc):
    """mapInArrow body of the executor-side traversal (topk_search_batch).
    Rows arrive co-located and sorted by shard. Each task walks its shards
    in groups bounded by SERVE_COLLECT_MAX_POSTINGS, decodes each group in
    one columnar pass (_group_runs) and traverses it over the broadcast
    global doc-length array. Without that array (doc_lens_bc None: rows
    carry their own shard's doc_lens and shard_base) a group is one
    shard."""
    budget = SERVE_COLLECT_MAX_POSTINGS if doc_lens_bc is not None else 0

    def run(batches):
        gdl = doc_lens_bc.value if doc_lens_bc is not None else None
        for table in _shard_groups(batches, budget):
            doc_lens, base = ((gdl, 0) if gdl is not None
                              else _group_doc_lens(table))
            qids, docs, scores = _traverse(
                _group_runs(table, plan, doc_lens, base), plan, doc_lens, base)
            yield pa.RecordBatch.from_arrays(
                [pa.array(qids, pa.string()), pa.array(docs),
                 pa.array(scores)], names=["qid", "doc_id", "score"])

    return run


def _in_values(column: str, values: list):
    """The predicate `column IN (values)` as ONE SQL expression string.
    Column.isin makes a py4j round trip per value; one expression is one
    call and plans the same In/InSet filter. Strings are quoted with their
    backslashes and single quotes escaped; integers are bigint literals."""
    from pyspark.sql import functions as F

    if not values:
        return F.lit(False)

    def literal(v):
        if isinstance(v, str):
            return "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"
        return f"{int(v)}L"

    return F.expr(f"{column} IN ({', '.join(map(literal, values))})")


def _term_postings(index, plan: _QueryPlan, terms: list[str]):
    """Posting rows of `terms`. Prefers the string-keyed rows: the id-keyed
    postings view is a lazy broadcast join whose lexicon broadcast would be
    rebuilt on EVERY query job (~350 ms/query measured at 60k docs)."""
    enc_str = getattr(index, "postings_str", None)
    if enc_str is not None:
        return enc_str.filter(_in_values("term", terms))
    return index.postings.filter(
        _in_values("term_id", [plan.tid_of_term[t] for t in terms]))


def _global_doc_lens(shards: list) -> np.ndarray | None:
    """One doc-length array indexed by docID from (base_doc, doc_lens)
    shard rows, or None when shard ranges overlap. Span-aligned builds
    leave docID gaps at bucket boundaries; gap slots stay 0 and never
    appear in any posting list."""
    shards = sorted(shards, key=lambda m: m[0])
    prev_end = 0
    for b, dl in shards:
        if b < prev_end:
            return None
        prev_end = b + dl.size
    g = np.zeros(prev_end, dtype=np.int64)
    for b, dl in shards:
        g[b:b + dl.size] = dl
    return g


class _ServeState:
    """Driver-resident serving state, built lazily per index and cached on
    it — the re-expression of what the reference query tools do before
    evaluating anything: load the term lexicon and document sizes into
    memory and mmap the index (tools/queries.cpp:279-340). Here the
    "mmap" is a lazily-populated per-term cache of encoded posting rows
    (rows_by_term: term -> that term's Arrow rows over every shard)
    fetched from the distributed index (one column-pruned job per group of
    first-seen terms), bounded by SERVE_CACHE_MAX_POSTINGS with FIFO
    eviction.

    One lock guards the cache: the prefetch, every fetch, eviction and
    run building hold it, so concurrent callers share one state. Kernels
    run outside it, over the runs a call took from term_runs."""

    __slots__ = ("tmeta", "global_doc_lens", "bc_doc_lens", "n_shards",
                 "rows_by_term", "cached_postings", "complete", "term_runs",
                 "lock")

    def __init__(self, tmeta, global_doc_lens, bc_doc_lens, n_shards):
        self.tmeta = tmeta
        # doc lengths indexed by docID: every traversal walks the global
        # doc space, so a kernel serves any group of shards
        self.global_doc_lens = global_doc_lens
        self.bc_doc_lens = bc_doc_lens
        self.n_shards = n_shards
        self.rows_by_term: dict[str, pa.Table] = {}
        self.cached_postings = 0
        # True when the ENTIRE index's posting rows are resident (small
        # indexes prefetch at state build, the reference's load-up-front
        # model) — per-query fetch jobs and eviction are then skipped.
        self.complete = False
        # _TermRun reuse across calls, keyed (term_id, weight): a run is
        # immutable once built, so repeat terms skip the decode and the
        # scoring — the reference's cursors likewise read the same
        # in-memory lists on every query. Evicted together with
        # rows_by_term.
        self.term_runs: dict[tuple[int, float], _TermRun] = {}
        self.lock = threading.Lock()


# builds each index's _ServeState once under concurrent first calls
_SERVE_STATE_LOCK = threading.Lock()


def _serve_state(index, prefetch: bool = True):
    """Build (once) or fetch the index's _ServeState; None when the index
    exceeds the driver-memory bounds (callers fall back to the batch
    traversal over shard-joined rows).

    prefetch=False builds/returns the METADATA-ONLY state (lexicon + doc
    lengths — two bounded collects, no posting bytes): the batch
    executor needs the lexicon for driver-side query analysis but runs
    its kernels executor-side and never reads the driver row cache, so
    it must not pay the whole-index posting fetch. The prefetch runs
    lazily on the first interactive-serve use instead."""
    with _SERVE_STATE_LOCK:
        st = getattr(index, "_serve_state", None)
        if st is None:
            st = index._serve_state = _build_serve_state(index) or False
    if st is False:
        return None
    if prefetch:
        with st.lock:
            _serve_prefetch(index, st)
    return st


def _build_serve_state(index) -> _ServeState | None:
    spark = index.lexicon.sparkSession
    if index.stats.get("num_docs", 1 << 62) > SERVE_MAX_DOCS:
        return None
    cap = index.cfg.lexicon_broadcast_max
    rows = (index.lexicon.select("term", "term_id", "df", "cf")
            .limit(cap + 1).collect())
    if len(rows) > cap:
        return None
    tmeta = {r["term"]: (int(r["term_id"]), int(r["df"]), int(r["cf"]))
             for r in rows}
    shards = [(int(r["base_doc"]), np.asarray(r["doc_lens"], dtype=np.int64))
              for r in index.shards.select("base_doc", "doc_lens").collect()]
    gdl = _global_doc_lens(shards)
    if gdl is None:
        return None
    return _ServeState(tmeta, gdl, spark.sparkContext.broadcast(gdl),
                       len(shards))


def _rows_by_term(table: pa.Table, term_of_id: dict[int, str]
                  ) -> dict[str, pa.Table]:
    """Posting rows split into one table per term: zero-copy slices of
    one term-sorted copy. Rows keyed by term_id name their term through
    term_of_id."""
    if not table.num_rows:
        return {}
    key = "term" if "term" in table.column_names else "term_id"
    table = table.sort_by(key)
    keys = table[key].to_numpy()
    starts = np.flatnonzero(np.concatenate(([True], keys[1:] != keys[:-1])))
    names = keys[starts].tolist()
    if key == "term_id":
        names = [term_of_id[i] for i in names]
    return {t: table.slice(s, e - s) for t, s, e in zip(
        names, starts.tolist(), np.append(starts[1:], keys.size).tolist())}


def _postings_in(table: pa.Table) -> int:
    return int(pc.sum(table["n"]).as_py() or 0)


def _serve_prefetch(index, st) -> None:
    """Whole-index posting prefetch: when every posting row fits the
    resident cache budget, fetch them ALL in one job — the reference's
    query tools likewise load/mmap the full index before serving a single
    query (tools/queries.cpp:279-340). Per-query serve latency then never
    pays a Spark job: first-seen terms are already resident. No-op when
    already complete or when the index exceeds the budget (the lazy
    bounded per-term cache handles those). The caller holds st.lock."""
    if st.complete:
        return
    total_postings = sum(m[1] for m in st.tmeta.values())
    if total_postings > SERVE_CACHE_MAX_POSTINGS:
        return
    src = getattr(index, "postings_str", None)
    st.rows_by_term = _rows_by_term(
        (src if src is not None else index.postings).toArrow(),
        {m[0]: t for t, m in st.tmeta.items()})
    st.cached_postings = total_postings
    st.complete = True


def _serve_fetch(index, st, plan: _QueryPlan, missing: list[str]) -> None:
    """Fetch the rows of first-seen terms (one job) into the cache, then
    evict the oldest terms not in this query (FIFO) until the cache fits
    SERVE_CACHE_MAX_POSTINGS. The caller holds st.lock."""
    fetched = _term_postings(index, plan, missing).toArrow()
    by_term = _rows_by_term(fetched,
                            {plan.tid_of_term[t]: t for t in missing})
    for t in missing:
        # a copy: a slice would keep the whole fetched table resident
        # until every term of this fetch is evicted
        rows = by_term.get(t, fetched.slice(0, 0))
        rows = st.rows_by_term[t] = rows.take(np.arange(rows.num_rows))
        st.cached_postings += _postings_in(rows)
    current = set(plan.tid_of_term)
    while st.cached_postings > SERVE_CACHE_MAX_POSTINGS:
        victim = next((t for t in st.rows_by_term if t not in current), None)
        if victim is None:
            break
        st.cached_postings -= _postings_in(st.rows_by_term.pop(victim))
        vtid = st.tmeta[victim][0]
        for key in [key for key in st.term_runs if key[0] == vtid]:
            del st.term_runs[key]


def _serve_runs(st, plan: _QueryPlan) -> dict[tuple[int, float], _TermRun]:
    """The runs of every query term of `plan` over the whole index: the
    ones not yet in st.term_runs are built from the cached rows as one
    group. The caller holds st.lock."""
    keys = {tid: [(tid, w if plan.weighted else 1.0)
                  for _, w in plan.term_queries[tid]]
            for tid in plan.tid_of_term.values()}
    build = [t for t, tid in plan.tid_of_term.items()
             if any(key not in st.term_runs for key in keys[tid])]
    if build:
        st.term_runs.update(_group_runs(
            pa.concat_tables([st.rows_by_term[t] for t in build],
                             promote_options="default"),
            plan, st.global_doc_lens, 0))
    return {key: st.term_runs[key] for ks in keys.values() for key in ks
            if key in st.term_runs}


def _topk_search_serve(index, queries: list[str], k: int, algorithm: str,
                       weighted: bool, range_span: int,
                       thresholds: dict[str, float] | None, with_urls: bool):
    """Low-latency executor (the reference's interactive `queries` tool
    shape, tools/queries.cpp:279-462).

    The batch executor pays a shuffle, a window stage and a result job per
    call — seconds of scheduling floor for milliseconds of work. Here query
    terms resolve against the driver-cached lexicon (no job), and the
    posting rows for the query vocabulary are fetched in ONE column-pruned
    job into the per-term serve cache (repeat terms: zero jobs) — then one
    _traverse runs the kernels driver-side over the cached runs, exactly
    as the reference runs them over its mmap'd index. Same run builder,
    kernels and float32 scores as topk_search_batch, so the ranking is
    identical.

    Returns None when the index/meta exceeds the serve bounds, when the
    per-query merge would exceed SERVE_MAX_PARTIAL_ROWS, or when the
    first-seen terms' fetch exceeds SERVE_COLLECT_MAX_POSTINGS; topk_search
    then runs the batch executor, which reuses this state's lexicon and
    broadcast doc lengths."""
    st = _serve_state(index)
    if st is None:
        return None
    spark = index.lexicon.sparkSession
    plan = _QueryPlan(index, algorithm, k, weighted, range_span,
                      thresholds).analyze(queries, st.tmeta, index.cfg)
    if st.n_shards * max(1, len(plan.n_terms)) * k > SERVE_MAX_PARTIAL_ROWS:
        return None

    out_schema = "qid string, doc_id long, score float, rank int"
    with st.lock:
        missing = ([] if st.complete else
                   [t for t in plan.tid_of_term if t not in st.rows_by_term])
        if sum(st.tmeta[t][1] for t in missing) > SERVE_COLLECT_MAX_POSTINGS:
            return None
        if missing:
            _serve_fetch(index, st, plan, missing)
        runs = _serve_runs(st, plan)
    partial = pd.DataFrame(dict(zip(("qid", "doc_id", "score"), _traverse(
        runs, plan, st.global_doc_lens, 0))))

    if len(partial):
        # driver-side k-merge of the per-query partials — same
        # (score desc, doc asc) total order as the batch executor's window
        partial = partial.sort_values(["qid", "score", "doc_id"],
                                      ascending=[True, False, True],
                                      kind="mergesort")
        partial["rank"] = (partial.groupby("qid", sort=False).cumcount() + 1
                           ).astype("int32")
        partial = partial[partial["rank"] <= k]
    else:
        partial = partial.assign(rank=pd.Series(dtype="int32"))
    out = spark.createDataFrame(partial, out_schema)
    if with_urls:
        return (out.join(index.docs.select("doc_id", "url"), "doc_id")
                .select("qid", "doc_id", "url", "score", "rank"))
    return out


def topk_search(index, queries: list[str] | object, k: int = 10,
                algorithm: str = "maxscore", weighted: bool = False,
                range_span: int = 16384,
                thresholds: dict[str, float] | None = None,
                with_urls: bool = True):
    """Run BM25 (or configured scorer) top-k retrieval.

    queries: raw query lines or a (qid, term, weight) DataFrame.
    Returns DataFrame (qid, doc_id, url, score, rank); with_urls=False skips
    the doclex join (one fewer join per query — latency path).

    List queries run driver-side through the serve path
    (_topk_search_serve) whenever it accepts the call; every other call
    (DataFrame query sets, indexes above the serve bounds, oversized
    fetches or merges) runs the executor-side topk_search_batch. Both run
    the same kernels, so the ranking does not depend on the route.
    """
    algorithm = _ALGORITHM_ALIASES.get(algorithm, algorithm)
    if isinstance(queries, list):
        served = _topk_search_serve(index, queries, k, algorithm, weighted,
                                    range_span, thresholds, with_urls)
        if served is not None:
            return served
    return topk_search_batch(index, queries, k, algorithm, weighted,
                             range_span, thresholds, with_urls)


def _shard_postings(index, queries, plan: _QueryPlan,
                    per_shard: bool = False):
    """Analyze `queries` into `plan`; return the posting rows of its
    vocabulary co-located and sorted by shard, plus the broadcast global
    doc-length array the rows are scored against.

    With the driver-resident serve state (list queries, index within the
    serve bounds) the analysis runs against the cached lexicon — zero
    Spark jobs before the main pass. Otherwise one lexicon-join collect
    analyzes the queries. The broadcast is None, and each row carries its
    own shard's doc_lens and shard_base, when there is no serve state or
    when per_shard asks for per-shard rows."""
    from pyspark.sql import functions as F

    from pisa_spark.operators.partitioning import (partition_values,
                                                   round_robin_expr)

    spark = index.lexicon.sparkSession
    st = (_serve_state(index, prefetch=False)
          if isinstance(queries, list) else None)
    if st is not None:
        plan.analyze(queries, st.tmeta, index.cfg)
        posts = _term_postings(index, plan, list(plan.tid_of_term))
    else:
        qterms = (make_query_terms_df(spark, queries, index.cfg)
                  if isinstance(queries, list) else queries)
        for r in (qterms.join(
                index.lexicon.select("term", "term_id", "df", "cf"), "term")
                .select("qid", "term", "term_id", "weight", "df", "cf")
                .collect()):
            plan.add(r["qid"], r["term"], int(r["term_id"]), int(r["df"]),
                     int(r["cf"]), r["weight"])
        posts = index.postings.filter(
            _in_values("term_id", list(plan.term_stats)))
    doc_lens_bc = st.bc_doc_lens if st is not None and not per_shard else None
    if doc_lens_bc is None:
        posts = posts.join(index.shards.select(
            "shard_id", F.col("base_doc").alias("shard_base"), "doc_lens"),
            "shard_id")

    parts = spark.sparkContext.defaultParallelism
    if getattr(index, "postings_colocated", False) and doc_lens_bc is not None:
        # docwise-encoded buckets already hold whole shards: coalesce
        # merges partitions without splitting them, so the shuffle the
        # repartition below pays is skipped entirely
        posts = posts.coalesce(parts)
    else:
        # shards -> partitions round-robin: shard ids are dense ints, and
        # raw hash placement would idle ~1/e of the executors when
        # shards ~ cores
        vals = partition_values(spark, parts)
        posts = posts.repartition(
            parts, round_robin_expr(F.col("shard_id"), parts, vals))
    return posts.sortWithinPartitions("shard_id"), doc_lens_bc


def topk_search_batch(index, queries: list[str] | object, k: int = 10,
                      algorithm: str = "maxscore", weighted: bool = False,
                      range_span: int = 16384,
                      thresholds: dict[str, float] | None = None,
                      with_urls: bool = False):
    """Batch-query executor: the physical strategy for LARGE query sets,
    and topk_search's route whenever the driver serve path declines.

    The (small by construction — reference query files are KBs) analyzed
    query set ships with the task, and the postings are filtered to the
    query vocabulary and co-located by shard, so a hot term's posting row
    is read once, not once per query using it. Each task then traverses
    its shards in mapInArrow, in groups of at most
    SERVE_COLLECT_MAX_POSTINGS postings: per group, one columnar pass
    decodes every posting row from the contiguous Arrow buffers and scores
    every posting, each query term's rows become one run shared by all
    queries using the term, and ONE kernel per query walks the group over
    the broadcast global doc-length array — the reference's
    evaluate_queries shape (parallel over queries, shared mmap'd index,
    evaluate_queries.cpp:154-156). Without the driver serve state (index
    above its bounds, DataFrame query sets) rows carry their own shard's
    doc lengths and a group is one shard: one kernel per (query, shard).
    Results are identical to the serve path (same run builder, kernels
    and float32 scores).
    """
    algorithm = _ALGORITHM_ALIASES.get(algorithm, algorithm)
    plan = _QueryPlan(index, algorithm, k, weighted, range_span, thresholds)
    posts, doc_lens_bc = _shard_postings(index, queries, plan)
    ranked = _rank_per_query(
        posts.mapInArrow(_traverse_partitions(plan, doc_lens_bc),
                         schema=TOPK_PARTIAL_SCHEMA), k)
    if not with_urls:
        return ranked
    return (ranked.join(index.docs.select("doc_id", "url"), "doc_id")
            .select("qid", "doc_id", "url", "score", "rank"))


PROFILE_SCHEMA = ("qid string, shard_id long, postings_decoded long, "
                  "blocks_decoded long, docs_scored long, ranges long, "
                  "ranges_skipped long")


def _profile_partitions(plan: _QueryPlan):
    """mapInArrow body of profile_queries over shard-joined rows: one
    shard at a time, decoded once (_group_runs), one counted kernel per
    query. Every (query, shard) gets fresh copies of the shard's runs, so
    the decode counts read off them belong to that query alone — a run
    shared across queries stays read, and every later query would count
    decodes it never did."""
    columns = [f.split()[0] for f in PROFILE_SCHEMA.split(", ")]

    def run(batches):
        for table in _shard_groups(batches, 0):
            shard_id = table["shard_id"][0].as_py()
            doc_lens, base = _group_doc_lens(table)
            by_query: dict[str, list] = {}
            for (tid, _), shared in _group_runs(table, plan, doc_lens,
                                                base).items():
                for qid, _ in plan.term_queries.get(tid, ()):
                    fresh = copy.copy(shared)
                    fresh.decoded = False
                    by_query.setdefault(qid, []).append(fresh)
            out = []
            for qid, runs in by_query.items():
                c: dict = {}
                _run_kernel(plan.algorithm, runs, plan.k, doc_lens, base,
                            plan.range_span, 0.0,
                            n_query_terms=plan.n_terms.get(qid), counters=c)
                decoded = [r for r in runs if r.decoded]
                out.append((qid, shard_id, sum(r.n for r in decoded),
                            sum(int(r.blk_last.size) for r in decoded),
                            c["docs_scored"], c["ranges"],
                            c["ranges_skipped"]))
            if out:
                yield pa.RecordBatch.from_pandas(
                    pd.DataFrame(out, columns=columns), preserve_index=False)

    return run


def profile_queries(index, queries: list[str] | object, k: int = 10,
                    algorithm: str = "block_max_wand",
                    range_span: int = 16384):
    """Per-(query, shard) execution counters (reference
    tools/profile_queries.cpp: its block_freq_index counts postings/blocks
    touched per query; here the kernels count ranges visited/skipped and
    docs fully scored, and posting/block decode counts are read off the
    lazily-decoded runs after the kernel returns).

    Shares the batch executor's query analysis and posting preparation,
    always over shard-joined rows: the counters are per shard and each
    shard's ranges start at its own base_doc.

    Returns (qid, shard_id, postings_decoded, blocks_decoded, docs_scored,
    ranges, ranges_skipped) — aggregate over shard_id for per-query totals.
    """
    algorithm = _ALGORITHM_ALIASES.get(algorithm, algorithm)
    plan = _QueryPlan(index, algorithm, k, False, range_span, None)
    posts, _ = _shard_postings(index, queries, plan, per_shard=True)
    return posts.mapInArrow(_profile_partitions(plan), schema=PROFILE_SCHEMA)


def _corpus_tf(docs_df, id_col: str, text_col: str):
    """(tf, doc_len, n_docs, total_tokens) for the exhaustive DataFrame
    scorers, with the corpus tokenized exactly ONCE.

    The naive lineage (toks -> doc_len / tf / cf branches + driver stats)
    re-runs the tokenize+explode scan once per consumer — four full passes
    per query — because Catalyst does not share common subplans across
    DataFrame branches. tf is therefore materialized with an eager
    localCheckpoint (scoped to this call: every invocation recomputes from
    the parquet input), and doc_len / df / cf / collection stats are all
    derived from it: dl == sum(tf) per doc and cf == sum(tf) per term are
    the same integers toks.groupBy(...).count() produces."""
    from collections import Counter

    from pyspark.sql import functions as F

    from pisa_spark.functions.tokenize import english_tokens

    # tf built in ONE fused Arrow pass (the index build's tokenize shape,
    # plans/build.doc_term_counts): per-doc Counter inside mapInPandas
    # emits the (doc_id, term, tf) rows directly — no token explode, no
    # aggregation shuffle. Row-identical to
    # explode(english_tokens_col).groupBy(doc_id, term).count() (both
    # tokenizers are pinned to the same oracle; verified equal at sf1.0),
    # measured ~30% faster. Row order differs (no shuffle), which no
    # downstream aggregate observes.
    id_type = dict(docs_df.dtypes)[id_col]

    def run(batches):
        for pdf in batches:
            ids: list = []
            terms: list = []
            tfs: list = []
            dls: list = []
            for did, text in zip(pdf[id_col], pdf[text_col]):
                c = Counter(t.lower() for t in english_tokens(text or ""))
                ids.extend([did] * len(c))
                terms.extend(c.keys())
                tfs.extend(c.values())
                dls.extend([sum(c.values())] * len(c))
            if ids:
                yield pd.DataFrame(
                    {"doc_id": ids, "term": terms, "tf": tfs, "dl": dls})

    # dl (the doc's token count) is denormalized onto every tf row by the
    # same pass — the scorers then need NO doc_len aggregate+join at all
    # (one less broadcast build + join per query); 8 bytes/row in a
    # checkpoint that exists anyway.
    tf = (docs_df.select(id_col, text_col)
          .mapInPandas(run,
                       f"doc_id {id_type}, term string, tf long, dl long")
          .localCheckpoint())
    # one driver job for both collection stats (doc count includes
    # zero-token docs, so it comes from docs_df, not tf)
    row = (docs_df.agg(F.count("*").alias("n"))
           .crossJoin(tf.agg(F.sum("tf").alias("t"))).collect()[0])
    return tf, int(row["n"]), int(row["t"] or 0)


def bm25_topk_dataframe(docs_df, queries: list[str], k: int = 10,
                        id_col: str = "doc_id", text_col: str = "text",
                        k1: float = 0.9, b: float = 0.4,
                        cfg: IndexConfig | None = None):
    """Pure-DataFrame exhaustive BM25 top-k over raw documents — the
    reference's ranked_or_taat (ranked_or_taat_query.hpp:9-37) expressed as
    Spark's natural groupBy(doc).sum -> window top-k shape, entirely in
    built-in functions (whole-stage codegen, no UDF, no index needed).

    Double precision throughout: this is the cross-engine (DuckDB) oracle
    path; the float32 reference-faithful path is the index + kernel
    executors. Ranking is on round(score, 6) with doc-asc ties so both
    engines agree on near-equal sums."""
    from pyspark.sql import functions as F

    cfg = cfg or IndexConfig()
    spark = docs_df.sparkSession
    tf, n_docs, total = _corpus_tf(docs_df, id_col, text_col)
    df_t = tf.groupBy("term").agg(F.count("*").alias("df"))
    avg_len = float(total) / n_docs if n_docs else 1.0

    qrows = sorted({(qid, term) for qid, term, _ in
                   analyze_query_terms(queries, cfg)})
    qdf = spark.createDataFrame(qrows, "qid string, term string")

    idf = (
        F.greatest(F.lit(1e-6),
                   F.log((F.lit(float(n_docs)) - F.col("df") + 0.5)
                         / (F.col("df") + 0.5)))
        * F.lit(1.0 + k1)
    )
    part = F.col("tf") / (
        F.col("tf") + F.lit(k1) * (F.lit(1.0 - b)
                                   + F.lit(b) * F.col("dl") / F.lit(avg_len)))
    scored = (
        qdf.join(tf, "term").join(df_t, "term")
        .select("qid", "doc_id", (idf * part).alias("partial"))
        .groupBy("qid", "doc_id")
        .agg(F.round(F.sum("partial"), 6).alias("score"))
    )
    return _rank_per_query(scored, k)


def qld_topk_dataframe(docs_df, queries: list[str], k: int = 10,
                       id_col: str = "doc_id", text_col: str = "text",
                       mu: float = 1000.0, cfg: IndexConfig | None = None):
    """Pure-DataFrame exhaustive QLD (Dirichlet LM) top-k — the reference
    scorer/qld.hpp:25-38 formula max(0, ln(mu/(dl+mu)) + ln1p(f*C/(mu*cf)))
    as built-in expressions. Double precision + round(6): the cross-engine
    oracle path (the float32-faithful path is IndexConfig(scorer='qld') +
    the kernel executors)."""
    from pyspark.sql import functions as F

    cfg = cfg or IndexConfig()
    spark = docs_df.sparkSession
    tf, _n_docs, collection_len = _corpus_tf(docs_df, id_col, text_col)
    cf_t = tf.groupBy("term").agg(F.sum("tf").alias("cf"))

    qrows = sorted({(qid, term) for qid, term, _ in
                   analyze_query_terms(queries, cfg)})
    qdf = spark.createDataFrame(qrows, "qid string, term string")

    part = (
        F.log(F.lit(mu) / (F.col("dl") + F.lit(mu)))
        + F.log1p(F.col("tf") * (F.lit(float(collection_len))
                                 / (F.lit(mu) * F.col("cf"))))
    )
    scored = (
        qdf.join(tf, "term").join(cf_t, "term")
        .select("qid", "doc_id",
                F.greatest(F.lit(0.0), part).alias("partial"))
        .groupBy("qid", "doc_id")
        .agg(F.round(F.sum("partial"), 6).alias("score"))
        .filter(F.col("score") > 0)
    )
    return _rank_per_query(scored, k)


def pl2_topk_dataframe(docs_df, queries: list[str], k: int = 10,
                       id_col: str = "doc_id", text_col: str = "text",
                       c: float = 1.0, cfg: IndexConfig | None = None):
    """Pure-DataFrame exhaustive PL2 (DFR) top-k — the reference
    scorer/pl2.hpp:25-40 formula
        tfn  = tf * log2(1 + c*avgdl/dl)
        norm = 1/(tfn + 1)
        f    = cf / N
        norm * (tfn*log2(1/f) + f*ln(1/2) + 0.5*log2(2*pi*tfn)
                + tfn*(log2(tfn) - ln(1/2)))
    as built-in expressions. Double precision + round(6): the cross-engine
    oracle path (the float32-faithful path is IndexConfig(scorer='pl2') +
    the kernel executors)."""
    import math

    from pyspark.sql import functions as F

    cfg = cfg or IndexConfig()
    spark = docs_df.sparkSession
    tf, n_docs, total = _corpus_tf(docs_df, id_col, text_col)
    cf_t = tf.groupBy("term").agg(F.sum("tf").alias("cf"))
    avg_len = float(total) / n_docs if n_docs else 1.0

    qrows = sorted({(qid, term) for qid, term, _ in
                   analyze_query_terms(queries, cfg)})
    qdf = spark.createDataFrame(qrows, "qid string, term string")

    tfn = F.col("tf") * F.log2(F.lit(1.0)
                               + F.lit(c * avg_len) / F.col("dl"))
    norm = F.lit(1.0) / (tfn + F.lit(1.0))
    freq = F.col("cf") / F.lit(float(n_docs))
    e = F.lit(math.log(0.5))
    part = norm * (
        tfn * F.log2(F.lit(1.0) / freq)
        + freq * e
        + F.lit(0.5) * F.log2(F.lit(2.0 * math.pi) * tfn)
        + tfn * (F.log2(tfn) - e)
    )
    scored = (
        qdf.join(tf, "term").join(cf_t, "term")
        .select("qid", "doc_id", part.alias("partial"))
        .groupBy("qid", "doc_id")
        .agg(F.round(F.sum("partial"), 6).alias("score"))
    )
    return _rank_per_query(scored, k)


def dph_topk_dataframe(docs_df, queries: list[str], k: int = 10,
                       id_col: str = "doc_id", text_col: str = "text",
                       cfg: IndexConfig | None = None):
    """Pure-DataFrame exhaustive DPH (parameter-free DFR) top-k — the
    reference scorer/dph.hpp:21-36 formula
        f    = tf/dl
        norm = (1-f)^2 / (tf+1)
        norm * (tf*log2((tf*avgdl/dl) * (N/cf)) + 0.5*log2(2*pi*tf*(1-f)))
    as built-in expressions. Double precision + round(6): the cross-engine
    oracle path (the float32-faithful path is IndexConfig(scorer='dph') +
    the kernel executors)."""
    import math

    from pyspark.sql import functions as F

    cfg = cfg or IndexConfig()
    spark = docs_df.sparkSession
    tf, n_docs, total = _corpus_tf(docs_df, id_col, text_col)
    cf_t = tf.groupBy("term").agg(F.sum("tf").alias("cf"))
    avg_len = float(total) / n_docs if n_docs else 1.0

    qrows = sorted({(qid, term) for qid, term, _ in
                   analyze_query_terms(queries, cfg)})
    qdf = spark.createDataFrame(qrows, "qid string, term string")

    f = F.col("tf") / F.col("dl")
    norm = (F.lit(1.0) - f) * (F.lit(1.0) - f) / (F.col("tf") + F.lit(1.0))
    part = norm * (
        F.col("tf") * F.log2(
            (F.col("tf") * F.lit(avg_len) / F.col("dl"))
            * (F.lit(float(n_docs)) / F.col("cf")))
        + F.lit(0.5) * F.log2(F.lit(2.0 * math.pi) * F.col("tf")
                              * (F.lit(1.0) - f))
    )
    scored = (
        qdf.join(tf, "term").join(cf_t, "term")
        .select("qid", "doc_id", part.alias("partial"))
        .groupBy("qid", "doc_id")
        .agg(F.round(F.sum("partial"), 6).alias("score"))
    )
    return _rank_per_query(scored, k)


def trec_output(results_df, run_id: str = "pisa_spark"):
    """Format results as TREC run lines: qid Q0 url rank score run_id
    (reference evaluate_queries.cpp:159-172)."""
    from pyspark.sql import functions as F

    return results_df.select(
        F.concat_ws(" ", "qid", F.lit("Q0"), "url", "rank",
                    F.format_string("%.6f", "score"), F.lit(run_id)).alias("line"))
