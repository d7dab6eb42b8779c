"""Top-k query executors: one dense multi-query traversal for every
algorithm (ranked_or, wand, maxscore, block_max_wand, block_max_maxscore,
ranked_and, block_max_ranked_and).

Dataflow of the executors (topk_search's serve path and
topk_search_batch):

    queries --resolve_query_terms on the driver: one (qid, term) row per
              known query term, repeats merged-->
            (term_id -> {qid: weight}, per-query term counts)
    postings --filter to the query vocabulary (one IN expression),
              co-locate by shard-->
            --per task: whole shards in groups of at most
              SERVE_COLLECT_MAX_POSTINGS postings, as Arrow tables-->
            --per group, ONE columnar pass: decode every row's docs_bin /
              tfs_bin from the contiguous column buffers, score every
              posting, slice one run per (query term, weight)-->
            --ONE dense traversal scores every query of the group at
              once (_traverse)-->
            --k-merge (score desc, doc asc), URLs from the docmap-->
            (qid, doc_id, [url,] score, rank)

Query resolution is one function, resolve_query_terms: query lines or a
(qid, term, weight) DataFrame (collected once) resolve against the serve
state's driver lexicon when the index has one (no Spark job), else
against one collect of the lexicon rows of the set's vocabulary. The
boolean operators, the tools and shard selection read the same rows.

The traversal runs in exactly two places: the serve path runs it on the
driver over runs built from its resident Arrow posting cache, and
topk_search_batch runs it executor-side in one mapInArrow pass. Both
build runs with the same group builder (_group_runs). Every call the
serve path declines (DataFrame query sets, indexes above the serve
bounds, oversized fetches or merges) goes to topk_search_batch. Where
the index has no serve state, posting rows carry their own shard's doc
lengths and a group is one shard. profile_queries runs the same
traversal with counters over the same shard-sorted rows, one shard at a
time.

Per-group top-k + global merge mirrors the reference's range_query
(include/pisa/range_query.hpp:8-37): per-docID-range top-k, then a final
k-merge. Where the index has a serve state and the partial rows fit
SERVE_MAX_PARTIAL_ROWS, the merge runs on the driver (_ranked_frame) and
URLs come from the serve state's driver docmap, as the reference names
its hits through its memory-resident doclex: a batch call is one Spark
job. Otherwise topk_search_batch keeps the distributed plan, a
row_number window per qid and a join with index.docs.

The traversal is the reference's term-at-a-time accumulator
(ranked_or_taat_query.hpp:9-37 over accumulator/simple_accumulator.hpp:
32-51, cut into doc ranges as in range_taat_query.hpp:9-41), widened to
every query of a group at once — cursor loops don't vectorize, scatters
over a (queries x docs) array do:

- Layout. A group's query rows are the queries that use at least one of
  its runs. Its docIDs are cut into range_span-doc ranges; only ranges
  holding a posting become accumulator columns, and tiles are whole
  ranges. A block (a chunk of rows x one tile) is a float32 accumulator
  of at most TRAVERSE_BLOCK_CELLS cells: row chunks shrink first, and a
  tile is at least one range.
- Scores. Runs are visited in ascending (term_id, weight) order and each
  makes ONE scatter per block, `acc[rows, cols] += contribs`, over the
  rows of the queries using it (pruning, below, may split it in an
  unmasked and a restricted part). Every cell thus receives its query's
  float32 contributions in ascending term_id, starting from 0.0 — the
  canonical order every algorithm shares, so all of them return
  bit-identical scores (an absent term adds nothing, as +0.0 would).
- Top-k. Each row keeps a threshold theta. It starts at thresholds[qid]
  (reference topk_queue.hpp:23-31, tools/queries.cpp): an exact k-th
  score stays rank-safe, ties kept; overestimates prune like the
  reference's unsafe mode. theta is raised to the k-th largest cell of
  every scored block, a lower bound on the row's true k-th score. Every
  scored cell >= theta and > 0 (finalize() drops <= 0, topk_queue.hpp:77)
  is emitted, ties included; the downstream cut ranks score desc, doc
  asc — the reference's finalize() sorts by score only
  (topk_queue.hpp:73-83), so the doc-asc rule is pinned as in SURVEY §7.
- Pruned algorithms are bound masks on the same layout. UB[q, range] is
  the sum, over q's runs with a posting in the range, of that run's bound
  there, in one of two families:
    term bound, the run's max contribution: wand (wand_query.hpp:38-89),
      maxscore (maxscore_query.hpp:14-147);
    presence-aware block bound, the max block bound of the run's posting
      blocks with a posting in the range: block_max_wand
      (block_max_wand_query.hpp:10-169), block_max_maxscore
      (block_max_maxscore_query.hpp:10-101), block_max_ranked_and.
  Seed rule: every pruned algorithm first scores each query's range with
  the highest term-bound sum, which seeds theta. A block bound never
  exceeds its term bound, so the block family's live cells are a subset
  of the term family's. After the seed only cells with
  UB >= theta*(1-1e-6) are scattered: a run's scatter is unmasked over
  its query rows with no dead cell in the block, and restricted to the
  live cells over the others. Exact scores still decide the result, so
  every algorithm returns the exhaustive top-k, ties included.
- Conjunctive algorithms (ranked_and, block_max_ranked_and;
  and_query.hpp:18-65) use the same scatter plus an integer hit count per
  cell: a doc qualifies when its count equals the query's number of known
  terms, and a (query, range) with no posting for one of them is dead.
"""

from __future__ import annotations

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
from pisa_spark.session import local_frame

F32 = np.float32

TOPK_PARTIAL_SCHEMA = "qid string, doc_id long, score float"

ALGORITHMS = ("ranked_or", "maxscore", "block_max_maxscore", "wand",
              "block_max_wand", "ranked_and", "block_max_ranked_and")

# TaaT variants are the traversal itself: it accumulates term at a time
# over dense doc ranges (ranked_or_taat_query.hpp:9-37; the lazy
# accumulator is a single-node memory trick with no distributed analogue).
_ALGORITHM_ALIASES = {
    "ranked_or_taat": "ranked_or",
    "ranked_or_taat_lazy": "ranked_or",
}


class _TermRun:
    """One query term's postings over a group of whole shards, in ascending
    docIDs: a slice of the group's columnar decode (_group_runs) with the
    float32 score contribution of every posting, the block bounds and the
    term bound ub."""

    __slots__ = ("term_id", "n", "docs", "tfs", "contribs", "blk_last",
                 "blk_ub", "ub")

    def __init__(self, term_id: int, docs: np.ndarray, tfs: np.ndarray,
                 contribs: np.ndarray, blk_last: np.ndarray,
                 blk_ub: np.ndarray):
        self.term_id = term_id
        self.n = int(docs.size)
        self.docs = docs
        self.tfs = tfs
        self.contribs = contribs
        self.blk_last = blk_last
        self.blk_ub = blk_ub
        self.ub = F32(blk_ub.max()) if blk_ub.size else F32(0.0)


def _firsts(sorted_keys: np.ndarray) -> np.ndarray:
    """Start offsets of the runs of equal values in a sorted array."""
    return np.flatnonzero(np.concatenate(
        ([True], sorted_keys[1:] != sorted_keys[:-1])))


def _block(n_rows: int, n_cols: int, dtype=F32) -> np.ndarray:
    """A zeroed traversal array. Every block accumulator, hit count and
    seed array is one of these, at most TRAVERSE_BLOCK_CELLS cells unless
    a single range alone is wider."""
    return np.zeros((n_rows, n_cols), dtype=dtype)


def _raise_theta(acc: np.ndarray, theta: np.ndarray, k: int) -> None:
    """Raise each row's theta (in place) to the row's k-th largest cell
    where that is larger: only rows with k cells above theta are
    partitioned."""
    rows = np.flatnonzero(np.count_nonzero(acc > theta[:, None], axis=1)
                          >= k)
    if k > 0 and rows.size:
        theta[rows] = np.partition(acc[rows], -k, axis=1)[:, -k]


def _sum_in_order(cells: np.ndarray, values: np.ndarray,
                  shape: tuple[int, int]) -> np.ndarray:
    """float32 sums of `values` per flat cell index, added one by one in
    the given order (np.add.at is unbuffered and sequential)."""
    out = np.zeros(shape[0] * shape[1], dtype=F32)
    np.add.at(out, cells, values)
    return out.reshape(shape)


class _Traversal:
    """The dense traversal of one group (see the module docstring).

    The runs' postings lie back to back in ascending (term_id, weight)
    order, each as its accumulator column (`cols`) and contribution. A
    segment is one run's postings in one range; a pair is one (query row,
    segment): the (query, range) cell it feeds and the run it comes from,
    in run order. `present` counts, per (query, range) cell, the query's
    runs with a posting there; it and the bound matrices are (query,
    range) arrays, range_span times smaller than the blocks' (query,
    doc) area, so they are not cut into blocks."""

    def __init__(self, runs: dict[tuple[int, float], _TermRun],
                 plan: "_QueryPlan", profile: bool):
        alg = self.alg = plan.algorithm
        self.span, self.k, self.profile = plan.range_span, plan.k, profile
        self.pruned = alg not in ("ranked_or", "ranked_and")
        keys = sorted(runs)  # ascending (term_id, weight): canonical order
        qrow: dict[str, int] = {}
        self.rows = [np.sort(np.array(
            [qrow.setdefault(q, len(qrow))
             for q, qw in plan.term_queries[tid].items()
             if (qw if plan.weighted else 1.0) == w], dtype=np.intp))
            for tid, w in keys]
        self.qids = np.array(list(qrow), dtype=object)
        self.runs = [runs[key] for key in keys]
        self.theta = np.array([plan.thresholds.get(q, 0.0) for q in qrow],
                              dtype=F32)
        self.need = (np.array([plan.n_terms[q] for q in qrow])
                     if alg in ("ranked_and", "block_max_ranked_and")
                     else None)
        span, n_q = self.span, self.qids.size
        n = np.array([run.n for run in self.runs])
        self.off = np.concatenate(([0], np.cumsum(n)))
        self.run_of = np.repeat(np.arange(n.size), n)
        docs = np.concatenate([run.docs for run in self.runs])
        self.contribs = np.concatenate([run.contribs for run in self.runs])
        ranges = docs // span
        # columns: only the ranges holding a posting, range_span wide each
        self.active = np.unique(ranges)
        n_act = self.active.size
        a = np.searchsorted(self.active, ranges)
        self.cols = a * span + docs % span
        seg = _firsts(self.run_of * n_act + a)
        self.seg_off = np.searchsorted(seg, self.off)  # run i's segments
        self.seg_range = a[seg]
        seg_run = self.run_of[seg]
        m = np.array([rows.size for rows in self.rows])
        self.rows_cat = np.concatenate(self.rows)
        self.rows_run = np.repeat(np.arange(m.size), m)
        rows_off = np.concatenate(([0], np.cumsum(m)))
        seg_m = m[seg_run]
        pair_seg = np.repeat(np.arange(seg.size), seg_m)
        first = np.repeat(rows_off[seg_run] - np.cumsum(seg_m) + seg_m, seg_m)
        self.pair_row = self.rows_cat[first + np.arange(pair_seg.size)]
        self.pair_run = seg_run[pair_seg]
        self.pair_cell = self.pair_row * n_act + self.seg_range[pair_seg]
        shape = (n_q, n_act)
        self.present = np.bincount(self.pair_cell,
                                   minlength=n_q * n_act).reshape(shape)
        if self.pruned:
            # bounds summed in run order, as the scores are
            ub = np.array([run.ub for run in self.runs], dtype=F32)
            self.ub_term = self.ub = _sum_in_order(
                self.pair_cell, ub[self.pair_run], shape)
            if alg.startswith("block_max"):
                # presence-aware: the max bound of the blocks holding the
                # segment's postings
                nb = [run.blk_last.size for run in self.runs]
                big = int(docs.max()) + 1
                ends = np.searchsorted(
                    self.run_of * big + docs,
                    np.repeat(np.arange(n.size), nb) * big
                    + np.concatenate([run.blk_last for run in self.runs]),
                    "right")
                post_ub = np.repeat(
                    np.concatenate([run.blk_ub for run in self.runs]),
                    np.diff(ends, prepend=0))
                self.ub = _sum_in_order(
                    self.pair_cell,
                    np.maximum.reduceat(post_ub, seg)[pair_seg], shape)

    def _live(self, r0: int, r1: int, g0: int, g1: int) -> np.ndarray | None:
        """The live (query, range) cells of rows [r0, r1) x ranges
        [g0, g1); None when every cell is live (ranked_or)."""
        if self.alg == "ranked_or":
            return None
        p = self.present[r0:r1, g0:g1]
        live = (p == self.need[r0:r1, None] if self.need is not None
                else p > 0)
        if self.pruned:
            live &= self.ub[r0:r1, g0:g1] >= (
                self.theta[r0:r1] * F32(1.0 - 1e-6))[:, None]
        return live

    def seed(self) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        """Score each query's range with the highest term-bound sum (for
        a conjunctive query: among the ranges holding all its terms) and
        raise theta from it. Returns (seeded rows, their seed range, the
        cells of it that received a contribution)."""
        span, n_q = self.span, self.qids.size
        bound = self.ub_term
        if self.need is not None:
            bound = np.where(self.present == self.need[:, None], bound,
                             F32(0.0))
        seed = bound.argmax(axis=1)
        rows = np.flatnonzero(bound[np.arange(n_q), seed] > 0)
        # every (row, posting) of the seed ranges, in run order
        keep = np.isin(self.rows_cat, rows)
        row, run = self.rows_cat[keep], self.rows_run[keep]
        lo = seed[row] * span
        width = self.active.size * span
        key = self.run_of * width + self.cols
        i0 = np.searchsorted(key, run * width + lo)
        cnt = np.searchsorted(key, run * width + lo + span) - i0
        p = np.arange(cnt.sum()) + np.repeat(i0 - np.cumsum(cnt) + cnt, cnt)
        slot = np.zeros(n_q, dtype=np.intp)
        slot[rows] = np.arange(rows.size)
        slot = np.repeat(slot[row], cnt)
        col = self.cols[p] - np.repeat(lo, cnt)
        touched = np.zeros(n_q, dtype=np.int64)
        per = max(1, TRAVERSE_BLOCK_CELLS // span)
        for c0 in range(0, rows.size, per):
            chunk = rows[c0:c0 + per]
            mine = (slot >= c0) & (slot < c0 + per)
            cell = (slot[mine] - c0) * span + col[mine]
            acc = _block(chunk.size, span)
            np.add.at(acc.reshape(-1), cell, self.contribs[p[mine]])
            hits = np.bincount(cell, minlength=acc.size).reshape(acc.shape)
            if self.need is not None:
                acc[hits != self.need[chunk, None]] = 0
            theta = self.theta[chunk]
            _raise_theta(acc, theta, self.k)
            self.theta[chunk] = theta
            touched[chunk] = (hits > 0).sum(axis=1)
        return rows, seed[rows], touched[rows]

    def blocks(self, scattered: np.ndarray | None, touched: np.ndarray):
        """Score every block, tiles in ascending docID order; yields the
        (row, column, score) cells each block emits. In profile mode marks
        the scattered (query, range) cells and counts the cells that
        received a contribution per row."""
        span, n_q, n_act = self.span, self.qids.size, self.active.size
        tile = min(n_act, max(1, TRAVERSE_BLOCK_CELLS // span))  # ranges
        per = min(n_q, max(1, TRAVERSE_BLOCK_CELLS // (tile * span)))
        todo: dict[tuple[int, int], list[int]] = {}
        for i, rows in enumerate(self.rows):
            u = self.seg_range[self.seg_off[i]:self.seg_off[i + 1]]
            for t in (np.unique(u // tile).tolist() if tile < n_act
                      else [0]):
                for c in (np.unique(rows // per).tolist() if per < n_q
                          else [0]):
                    todo.setdefault((t, c), []).append(i)
        count = self.need is not None or self.profile
        for t, c in sorted(todo):
            r0, r1 = c * per, min(n_q, (c + 1) * per)
            g0, g1 = t * tile, min(n_act, (t + 1) * tile)
            held = self.present[r0:r1, g0:g1] > 0
            live = self._live(r0, r1, g0, g1)
            if live is not None:
                if not live.any():
                    continue
                live &= held
                dirty = (held & ~live).any(axis=1)  # rows with a dead cell
            acc = _block(r1 - r0, (g1 - g0) * span)
            hits = (_block(r1 - r0, (g1 - g0) * span, np.int32)
                    if count else None)
            lo_col = g0 * span
            for i in todo[(t, c)]:
                rows = self.rows[i]
                if per < n_q:
                    rows = rows[np.searchsorted(rows, r0):
                                np.searchsorted(rows, r1)] - r0
                p0, p1 = self.off[i], self.off[i + 1]
                if tile < n_act:
                    p0, p1 = p0 + np.searchsorted(self.cols[p0:p1],
                                                  (lo_col, g1 * span))
                cc = self.cols[p0:p1] - lo_col
                vals = self.contribs[p0:p1]
                if live is not None and dirty[rows].any():
                    # rows with a dead cell: restricted to the live cells
                    d = rows[dirty[rows]]
                    a, b = np.nonzero(live[d][:, cc // span])
                    acc[d[a], cc[b]] += vals[b]
                    if hits is not None:
                        hits[d[a], cc[b]] += 1
                    rows = rows[~dirty[rows]]
                acc[rows[:, None], cc] += vals
                if hits is not None:
                    hits[rows[:, None], cc] += 1
            if self.need is not None:
                acc[hits != self.need[r0:r1, None]] = 0
            if self.profile:
                scattered[r0:r1, g0:g1] |= held if live is None else live
                touched[r0:r1] += (hits > 0).sum(axis=1)
            theta = self.theta[r0:r1]  # a view: raised in place
            _raise_theta(acc, theta, self.k)
            a, b = np.nonzero((acc >= theta[:, None]) & (acc > 0))
            yield a + r0, b + lo_col, acc[a, b]

    def counters(self, seeded, scattered: np.ndarray,
                 touched: np.ndarray) -> dict[str, tuple]:
        """Per-query profile counters (see _traverse) once every block
        ran: a seed cell no block scattered adds the docs the seed
        scored."""
        if seeded is not None:
            rows, seed, seed_touched = seeded
            fresh = ~scattered[rows, seed]
            touched[rows[fresh]] += seed_touched[fresh]
            scattered[rows, seed] = True
        hit = scattered.reshape(-1)[self.pair_cell]
        used = np.zeros((len(self.runs), self.qids.size), dtype=bool)
        used[self.pair_run[hit], self.pair_row[hit]] = True
        postings = np.array([run.n for run in self.runs]) @ used
        blocks = np.array([run.blk_last.size for run in self.runs]) @ used
        held = self.present > 0
        return {qid: tuple(map(int, c)) for qid, *c in zip(
            self.qids.tolist(), postings, blocks, touched, held.sum(axis=1),
            (held & ~scattered).sum(axis=1))}


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
# declines and topk_search runs the executor-side batch traversal instead.
# SERVE_MAX_DOCS and SERVE_MAX_PARTIAL_ROWS also bound the batch's driver
# merge: above them it ranks through its window plan
SERVE_MAX_DOCS = 1 << 23            # global doc_lens array (~64 MB int64)
SERVE_MAX_PARTIAL_ROWS = 1 << 21    # shards x queries x k merge bound
# per-call driver fetch bound; also the postings one traversal group holds
SERVE_COLLECT_MAX_POSTINGS = 1 << 22
SERVE_CACHE_MAX_POSTINGS = 1 << 24    # resident posting-row cache budget
# (query rows x docs) cells of one traversal block: 8 MB of float32
# scores, plus as many int32 hit counts for the conjunctive algorithms
TRAVERSE_BLOCK_CELLS = 1 << 21


QUERY_TERMS_SCHEMA = ("qid string, term string, term_id long, weight double, "
                      "df long, cf long")


def resolve_query_terms(index, queries: list[str] | object
                        ) -> tuple[list[str], list[tuple]]:
    """Resolve a query set against the index's lexicon on the driver, as
    the reference's query tools parse a query file once before evaluating
    anything (query_parser.cpp:33-38, evaluate_queries.cpp:79-101). Every
    query consumer reads its query terms from here.

    queries: query lines (analyzed with the index's analyzer) or a (qid,
    term, weight) DataFrame, collected once. Returns (qids, rows): every
    qid of the set in first-seen order, and one (qid, term, term_id,
    weight, df, cf) row per known (qid, term). A repeated (qid, term)
    merges into one row with its weights summed, as analyze_query_terms
    merges a term repeated in a query line (reference query.cpp:45-82);
    unknown terms drop. The lookup reads the driver-resident lexicon of
    the serve state when the index has one (no Spark job), else one
    collect of the lexicon rows of the set's vocabulary."""
    pairs = (analyze_query_terms(queries, index.cfg)
             if isinstance(queries, list)
             else queries.select("qid", "term", "weight").collect())
    weights: dict[tuple[str, str], float] = {}
    for qid, term, w in pairs:
        weights[(qid, term)] = weights.get((qid, term), 0.0) + float(w)
    st = _serve_state(index, prefetch=False)
    if st is not None:
        tmeta = st.tmeta
    else:
        vocab = sorted({term for _, term in weights})
        tmeta = {r["term"]: (int(r["term_id"]), int(r["df"]), int(r["cf"]))
                 for r in index.lexicon.filter(_in_values("term", vocab))
                 .select("term", "term_id", "df", "cf").collect()}
    rows = [(qid, term, tmeta[term][0], w, *tmeta[term][1:])
            for (qid, term), w in weights.items() if term in tmeta]
    return list(dict.fromkeys(qid for qid, _ in weights)), rows


def query_terms_df(index, queries: list[str] | object):
    """The resolve_query_terms rows of a query set as a DataFrame
    (QUERY_TERMS_SCHEMA)."""
    return local_frame(index.lexicon.sparkSession,
                       resolve_query_terms(index, queries)[1],
                       QUERY_TERMS_SCHEMA)


class _QueryPlan:
    """A query set resolved on the driver (resolve_query_terms), plus the
    traversal settings: all a traversal needs, shipped to the executors
    with it."""

    def __init__(self, index, algorithm: str, k: int, weighted: bool,
                 range_span: int, thresholds: dict[str, float] | None):
        if algorithm not in ALGORITHMS:
            raise ValueError(f"unknown algorithm {algorithm!r}")
        cfg = index.cfg
        self.algorithm = algorithm
        self.k = k
        self.weighted = weighted
        self.range_span = range_span
        self.thresholds = dict(thresholds or {})
        self.scorer = make_scorer(cfg.scorer, cfg.scorer_params())
        self.stats = dict(index.stats)
        self.codec = cfg.codec
        self.term_queries: dict[int, dict] = {}  # term_id -> {qid: weight}
        self.term_stats: dict[int, tuple] = {}   # term_id -> (df, cf)
        self.n_terms: dict[str, int] = {}        # qid -> known query terms
        self.tid_of_term: dict[str, int] = {}

    def add(self, qid: str, term: str, tid: int, df: int, cf: int,
            weight: float) -> None:
        """One resolved (query, term) of the set; each comes once."""
        self.tid_of_term[term] = tid
        self.term_stats[tid] = (df, cf)
        self.term_queries.setdefault(tid, {})[qid] = float(weight)
        self.n_terms[qid] = self.n_terms.get(qid, 0) + 1

    def resolve(self, index, queries: list[str] | object) -> "_QueryPlan":
        """Fill the plan with the resolve_query_terms rows of `queries`;
        a query without a known term keeps its qid."""
        qids, rows = resolve_query_terms(index, queries)
        self.n_terms.update(dict.fromkeys(qids, 0))
        for qid, term, tid, w, df, cf in rows:
            self.add(qid, term, tid, df, cf, w)
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
    the traversal has always scored with, so the scores are bit-identical
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
        for w in plan.term_queries.get(tid, {}).values():
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
            runs[key] = _TermRun(tid, docs[p0:p1], tfs[p0:p1], contribs,
                                 blk_last[b0:b1], blk_part[b0:b1] * scale)
    return runs


def _traverse(runs: dict[tuple[int, float], _TermRun], plan: _QueryPlan,
              counters: dict | None = None
              ) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Answer every query of `plan` over one group of whole shards, all
    queries at once on one dense accumulator (module docstring).

    runs holds one run per (term_id, weight) key over the group's docIDs
    (_group_runs): its decode and float32 contributions happened once,
    shared by every query using the term, and each run makes one scatter
    per block over the rows of those queries. Returns the (qid, doc_id,
    score) columns of every cell a block emitted: each query's partial
    top-k of the group, ties included.

    With `counters` (a dict) the traversal also fills counters[qid] with
    (postings_decoded, blocks_decoded, docs_scored, ranges,
    ranges_skipped): the postings and blocks of the query's runs with at
    least one scattered cell, the (query, doc) cells that received a
    contribution, the (query, range) cells holding one of the query's
    postings, and those among them never scattered."""
    if not runs:
        return (np.zeros(0, dtype=object), np.zeros(0, dtype=np.int64),
                np.zeros(0, dtype=F32))
    tr = _Traversal(runs, plan, counters is not None)
    scattered = (np.zeros(tr.present.shape, dtype=bool)
                 if counters is not None else None)
    touched = np.zeros(tr.qids.size, dtype=np.int64)
    seeded = tr.seed() if tr.pruned else None
    out = list(tr.blocks(scattered, touched))
    rows, cols, scores = (np.concatenate(c) for c in zip(*out)) if out else (
        np.zeros(0, np.intp), np.zeros(0, np.intp), np.zeros(0, F32))
    if counters is not None:
        counters.update(tr.counters(seeded, scattered, touched))
    docs = tr.active[cols // tr.span] * tr.span + cols % tr.span
    return tr.qids[rows], docs.astype(np.int64), scores


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
            starts = _firsts(sid)
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
    in groups bounded by SERVE_COLLECT_MAX_POSTINGS, decodes and scores
    each group in one columnar pass (_group_runs) against the broadcast
    global doc-length array, and answers every query of the group in one
    dense traversal (_traverse). Without that array (doc_lens_bc None:
    rows carry their own shard's doc_lens and shard_base) a group is one
    shard."""
    budget = SERVE_COLLECT_MAX_POSTINGS if doc_lens_bc is not None else 0

    def run(batches):
        gdl = doc_lens_bc.value if doc_lens_bc is not None else None
        for table in _shard_groups(batches, budget):
            doc_lens, base = ((gdl, 0) if gdl is not None
                              else _group_doc_lens(table))
            qids, docs, scores = _traverse(
                _group_runs(table, plan, doc_lens, base), plan)
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
    run outside it, over the runs a call took from term_runs.

    The docmap (doc_ids, urls) names the hits of with_urls calls, as the
    reference names them through its memory-resident doclex
    (evaluate_queries.cpp:154-172): fetched once, on the first with_urls
    call (_serve_docmap)."""

    __slots__ = ("tmeta", "global_doc_lens", "bc_doc_lens", "n_shards",
                 "rows_by_term", "cached_postings", "complete", "term_runs",
                 "doc_ids", "urls", "lock")

    def __init__(self, tmeta, global_doc_lens, bc_doc_lens, n_shards):
        self.tmeta = tmeta
        # doc lengths indexed by docID: every traversal walks the global
        # doc space, so a traversal serves any group of shards
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
        # docmap: ascending doc_ids and their URLs (None until fetched)
        self.doc_ids: np.ndarray | None = None
        self.urls: pa.Array | None = None
        self.lock = threading.Lock()


# builds each index's _ServeState once under concurrent first calls
_SERVE_STATE_LOCK = threading.Lock()


def _serve_state(index, prefetch: bool = True):
    """Build (once) or fetch the index's _ServeState; None when the index
    exceeds the driver-memory bounds (callers fall back to the batch
    traversal over shard-joined rows).

    prefetch=False builds/returns the METADATA-ONLY state (lexicon + doc
    lengths — two bounded collects, no posting bytes): query resolution
    and the batch executor need the lexicon and doc lengths but never
    read the driver row cache, so they must not pay the whole-index
    posting fetch. The prefetch runs
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
    starts = _firsts(keys)
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
                  for w in plan.term_queries[tid].values()]
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


def _serve_docmap(index, st) -> tuple[np.ndarray, pa.Array]:
    """The serve state's docmap: every doc's doc_id in ascending order and
    its URL, fetched in one job on the first call. Span-aligned buckets
    leave docID gaps, so a doc is found by search, not by offset."""
    with st.lock:
        if st.doc_ids is None:
            docs = index.docs.select("doc_id", "url").toArrow().sort_by(
                "doc_id")
            st.urls = docs["url"].combine_chunks()
            st.doc_ids = docs["doc_id"].to_numpy()
        return st.doc_ids, st.urls


def _merge_fits(st, plan: _QueryPlan) -> bool:
    """Whether a call's partial top-k rows (at most shards x queries x k)
    fit the driver merge bound SERVE_MAX_PARTIAL_ROWS."""
    return (st.n_shards * max(1, len(plan.n_terms)) * plan.k
            <= SERVE_MAX_PARTIAL_ROWS)


def _ranked_frame(index, st, partial: pa.Table, k: int, with_urls: bool):
    """The final k-merge on the driver: the k best of each qid's partial
    top-k rows (qid, doc_id, score), ranked 1..k by (score desc, doc asc)
    (the reference's range_query merge), plus each hit's URL from the
    docmap (_serve_docmap) when with_urls. Returns a driver-local
    DataFrame (qid, doc_id, [url,] score, rank): collecting it runs no
    Spark job."""
    ranked = partial.sort_by([("qid", "ascending"), ("score", "descending"),
                              ("doc_id", "ascending")])
    qids = ranked["qid"].to_numpy(zero_copy_only=False)
    starts = _firsts(qids)
    rank = np.arange(qids.size) - np.repeat(
        starts, np.diff(np.append(starts, qids.size)))
    keep = rank < k
    if with_urls:
        # inner-join semantics: a hit without a docmap row drops
        doc_ids, urls = _serve_docmap(index, st)
        docs = ranked["doc_id"].to_numpy()
        pos = np.searchsorted(doc_ids, docs)
        found = pos < doc_ids.size
        found[found] = doc_ids[pos[found]] == docs[found]
        keep &= found
    ranked = ranked.filter(pa.array(keep))
    columns = {"qid": ranked["qid"], "doc_id": ranked["doc_id"]}
    if with_urls:
        columns["url"] = urls.take(pa.array(pos[keep]))
    columns["score"] = ranked["score"]
    columns["rank"] = pa.array(rank[keep] + 1, pa.int32())
    return index.lexicon.sparkSession.createDataFrame(pa.table(columns))


def _topk_search_serve(index, queries: list[str], k: int, algorithm: str,
                       weighted: bool, range_span: int,
                       thresholds: dict[str, float] | None, with_urls: bool):
    """Low-latency executor (the reference's interactive `queries` tool
    shape, tools/queries.cpp:279-462).

    The batch executor pays a traversal job per call, a scheduling floor
    far above the milliseconds of work. Here query terms resolve against
    the driver-cached lexicon (no job), and the posting rows for the
    query vocabulary are fetched in ONE column-pruned job into the
    per-term serve cache (repeat terms: zero jobs) — then one dense
    _traverse answers every query of the call driver-side over the cached
    runs, the whole index as one group, as the reference runs its queries
    over its mmap'd index, and the batch executor's driver tail
    (_ranked_frame: k-merge, docmap URLs) ranks the result. Same run
    builder, traversal and float32 scores as topk_search_batch, so the
    ranking is identical.

    Returns None when the index/meta exceeds the serve bounds, when the
    per-query merge would exceed SERVE_MAX_PARTIAL_ROWS, or when the
    first-seen terms' fetch exceeds SERVE_COLLECT_MAX_POSTINGS; topk_search
    then runs the batch executor, which reuses this state's lexicon and
    broadcast doc lengths."""
    st = _serve_state(index)
    if st is None:
        return None
    plan = _QueryPlan(index, algorithm, k, weighted, range_span,
                      thresholds).resolve(index, queries)
    if not _merge_fits(st, plan):
        return None

    with st.lock:
        missing = ([] if st.complete else
                   [t for t in plan.tid_of_term if t not in st.rows_by_term])
        if sum(st.tmeta[t][1] for t in missing) > SERVE_COLLECT_MAX_POSTINGS:
            return None
        if missing:
            _serve_fetch(index, st, plan, missing)
        runs = _serve_runs(st, plan)
    qids, docs, scores = _traverse(runs, plan)
    return _ranked_frame(index, st, pa.table(
        [pa.array(qids, pa.string()), pa.array(docs, pa.int64()),
         pa.array(scores, pa.float32())], names=["qid", "doc_id", "score"]),
        k, with_urls)


def topk_search(index, queries: list[str] | object, k: int = 10,
                algorithm: str = "maxscore", weighted: bool = False,
                range_span: int = 16384,
                thresholds: dict[str, float] | None = None,
                with_urls: bool = True):
    """Run BM25 (or configured scorer) top-k retrieval.

    queries: raw query lines or a (qid, term, weight) DataFrame.
    Returns DataFrame (qid, doc_id, url, score, rank); with_urls=False skips
    the URL lookup and the url column.

    List queries run driver-side through the serve path
    (_topk_search_serve) whenever it accepts the call; every other call
    (DataFrame query sets, indexes above the serve bounds, oversized
    fetches or merges) runs the executor-side topk_search_batch. Both run
    the same dense traversal (_traverse: every query of a group of shards
    scored at once, every algorithm's float32 scores summed in ascending
    term_id), so the ranking does not depend on the route; each query's
    (qid, term) pairs count once, a repeated one's weights summed.

    thresholds ({qid: theta0}) start each query's threshold above zero
    (reference tools/thresholds.cpp): an exact k-th score stays
    rank-safe, ties kept; an overestimate drops answers below it.
    range_span is the pruning granularity: the pruned algorithms skip
    (query, range_span-doc range) cells whose score bound cannot reach
    the threshold.
    """
    algorithm = _ALGORITHM_ALIASES.get(algorithm, algorithm)
    if isinstance(queries, list):
        served = _topk_search_serve(index, queries, k, algorithm, weighted,
                                    range_span, thresholds, with_urls)
        if served is not None:
            return served
    return topk_search_batch(index, queries, k, algorithm, weighted,
                             range_span, thresholds, with_urls)


def _shard_postings(index, plan: _QueryPlan, per_shard: bool = False):
    """The posting rows of `plan`'s vocabulary co-located and sorted by
    shard, plus the broadcast global doc-length array the rows are scored
    against. The broadcast is None, and each row carries its own shard's
    doc_lens and shard_base, when the index has no serve state (above
    the serve bounds) or when per_shard asks for per-shard rows."""
    from pyspark.sql import functions as F

    from pisa_spark.operators.partitioning import (partition_values,
                                                   round_robin_expr)

    spark = index.lexicon.sparkSession
    st = _serve_state(index, prefetch=False)
    posts = _term_postings(index, plan, list(plan.tid_of_term))
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
    every posting against the broadcast global doc-length array, each
    query term's rows become one run shared by all queries using the
    term, and ONE dense traversal (_traverse) scores every query of the
    group at once — the reference's evaluate_queries shape (every query
    over one shared mmap'd index, evaluate_queries.cpp:154-156) with the
    per-query loop turned into one scatter per (run, block).

    Two routes take the partial top-k rows from there:

    - driver merge, when the index has a serve state and the partial rows
      fit SERVE_MAX_PARTIAL_ROWS: the traversal runs now, as ONE job,
      and its rows are k-merged on the driver with URLs from the serve
      state's docmap (_ranked_frame), as the reference ranks and names
      its hits in process (evaluate_queries.cpp:154-172). The returned
      DataFrame is driver-local: collecting it runs no further job.
    - window plan, otherwise: a lazy DataFrame whose row_number window
      per qid ranks the rows, joined with index.docs for URLs; the
      distributed route for query sets too large to merge on the
      driver. Without the serve state (index above its bounds) rows
      carry their own shard's doc lengths and a group is one shard.

    Both routes return the same rows and columns, identical to the serve
    path (same run builder, traversal and float32 scores).
    """
    algorithm = _ALGORITHM_ALIASES.get(algorithm, algorithm)
    plan = _QueryPlan(index, algorithm, k, weighted, range_span,
                      thresholds).resolve(index, queries)
    posts, doc_lens_bc = _shard_postings(index, plan)
    partial = posts.mapInArrow(_traverse_partitions(plan, doc_lens_bc),
                               schema=TOPK_PARTIAL_SCHEMA)
    st = _serve_state(index, prefetch=False)
    if st is not None and _merge_fits(st, plan):
        return _ranked_frame(index, st, partial.toArrow(), k, with_urls)
    ranked = _rank_per_query(partial, k)
    if not with_urls:
        return ranked
    return (ranked.join(index.docs.select("doc_id", "url"), "doc_id")
            .select("qid", "doc_id", "url", "score", "rank"))


PROFILE_SCHEMA = ("qid string, shard_id long, postings_decoded long, "
                  "blocks_decoded long, docs_scored long, ranges long, "
                  "ranges_skipped long")


def _profile_partitions(plan: _QueryPlan):
    """mapInArrow body of profile_queries over shard-joined rows: one
    shard at a time, decoded once (_group_runs) and traversed once with
    counters (_traverse), one row per (query, shard)."""
    columns = [f.split()[0] for f in PROFILE_SCHEMA.split(", ")]

    def run(batches):
        for table in _shard_groups(batches, 0):
            shard_id = table["shard_id"][0].as_py()
            counters: dict = {}
            _traverse(_group_runs(table, plan, *_group_doc_lens(table)),
                      plan, counters)
            if counters:
                yield pa.RecordBatch.from_pandas(pd.DataFrame(
                    [(qid, shard_id, *c) for qid, c in counters.items()],
                    columns=columns), preserve_index=False)

    return run


def profile_queries(index, queries: list[str] | object, k: int = 10,
                    algorithm: str = "block_max_wand",
                    range_span: int = 16384):
    """Per-(query, shard) execution counters (reference
    tools/profile_queries.cpp: its block_freq_index counts postings/blocks
    touched per query), from the same dense traversal the executors run
    (_traverse), with each shard as its own group:

    - ranges: the (query, range) cells holding one of the query's
      postings (ranges are range_span-doc cuts of the docID space);
    - ranges_skipped: those cells never scattered — the pruned
      algorithms' bound masks and a conjunctive query's incomplete
      ranges skip them;
    - docs_scored: the (query, doc) cells that received a contribution
      (for ranked_or, the union of the query's postings);
    - postings_decoded / blocks_decoded: the postings and blocks of the
      query's runs with at least one scattered cell.

    Shares the batch executor's query resolution and posting
    preparation, always over shard-joined rows: the counters are per
    shard.

    Returns (qid, shard_id, postings_decoded, blocks_decoded, docs_scored,
    ranges, ranges_skipped) — aggregate over shard_id for per-query totals.
    """
    algorithm = _ALGORITHM_ALIASES.get(algorithm, algorithm)
    plan = _QueryPlan(index, algorithm, k, False, range_span,
                      None).resolve(index, queries)
    posts, _ = _shard_postings(index, plan, per_shard=True)
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


def _dataframe_scores(docs_df, queries: list[str], id_col: str,
                      text_col: str, cfg: IndexConfig, partial):
    """(qid, doc_id, score) of an exhaustive DataFrame scorer — the
    reference's ranked_or_taat (ranked_or_taat_query.hpp:9-37) as Spark's
    groupBy(doc).sum shape, entirely in built-in functions (whole-stage
    codegen, no UDF, no index needed). Every query term's (doc, tf, dl)
    rows of the corpus (_corpus_tf), joined with the term's df and cf
    from one aggregation, are scored by `partial(n_docs, avg_len,
    collection_len)`, the scorer's Column expression, then summed per
    (qid, doc) and rounded to 6 digits. Double precision throughout:
    these are the cross-engine (DuckDB) oracles, and both engines agree
    on round(score, 6) with doc-asc ties; the float32 reference-faithful
    path is the index + the traversal. A term repeated in a query line
    counts once; scorer parameters come from cfg."""
    from pyspark.sql import functions as F

    tf, n_docs, total = _corpus_tf(docs_df, id_col, text_col)
    term_stats = tf.groupBy("term").agg(F.count("*").alias("df"),
                                        F.sum("tf").alias("cf"))
    avg_len = float(total) / n_docs if n_docs else 1.0
    qrows = sorted({(qid, term) for qid, term, _ in
                   analyze_query_terms(queries, cfg)})
    qdf = local_frame(docs_df.sparkSession, qrows, "qid string, term string")
    return (qdf.join(tf, "term").join(term_stats, "term")
            .select("qid", "doc_id",
                    partial(n_docs, avg_len, total).alias("partial"))
            .groupBy("qid", "doc_id")
            .agg(F.round(F.sum("partial"), 6).alias("score")))


def bm25_topk_dataframe(docs_df, queries: list[str], k: int = 10,
                        id_col: str = "doc_id", text_col: str = "text",
                        cfg: IndexConfig | None = None):
    """Exhaustive DataFrame BM25 top-k over raw documents
    (_dataframe_scores)."""
    from pyspark.sql import functions as F

    cfg = cfg or IndexConfig()
    k1, b = cfg.bm25_k1, cfg.bm25_b

    def partial(n_docs, avg_len, _collection_len):
        idf = (
            F.greatest(F.lit(1e-6),
                       F.log((F.lit(float(n_docs)) - F.col("df") + 0.5)
                             / (F.col("df") + 0.5)))
            * F.lit(1.0 + k1)
        )
        part = F.col("tf") / (
            F.col("tf") + F.lit(k1) * (
                F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.lit(avg_len)))
        return idf * part

    return _rank_per_query(
        _dataframe_scores(docs_df, queries, id_col, text_col, cfg, partial),
        k)


def qld_topk_dataframe(docs_df, queries: list[str], k: int = 10,
                       id_col: str = "doc_id", text_col: str = "text",
                       cfg: IndexConfig | None = None):
    """Exhaustive DataFrame QLD (Dirichlet LM) top-k (_dataframe_scores):
    the reference scorer/qld.hpp:25-38 formula
    max(0, ln(mu/(dl+mu)) + ln1p(f*C/(mu*cf)))."""
    from pyspark.sql import functions as F

    cfg = cfg or IndexConfig()
    mu = cfg.qld_mu

    def partial(_n_docs, _avg_len, collection_len):
        return F.greatest(F.lit(0.0), (
            F.log(F.lit(mu) / (F.col("dl") + F.lit(mu)))
            + F.log1p(F.col("tf") * (F.lit(float(collection_len))
                                     / (F.lit(mu) * F.col("cf"))))))

    scored = _dataframe_scores(docs_df, queries, id_col, text_col, cfg,
                               partial)
    return _rank_per_query(scored.filter(F.col("score") > 0), k)


def pl2_topk_dataframe(docs_df, queries: list[str], k: int = 10,
                       id_col: str = "doc_id", text_col: str = "text",
                       cfg: IndexConfig | None = None):
    """Exhaustive DataFrame PL2 (DFR) top-k — the reference
    scorer/pl2.hpp:25-40 formula
        tfn  = tf * log2(1 + c*avgdl/dl)
        norm = 1/(tfn + 1)
        f    = cf / N
        norm * (tfn*log2(1/f) + f*ln(1/2) + 0.5*log2(2*pi*tfn)
                + tfn*(log2(tfn) - ln(1/2)))
    (_dataframe_scores)."""
    import math

    from pyspark.sql import functions as F

    cfg = cfg or IndexConfig()
    c = cfg.pl2_c

    def partial(n_docs, avg_len, _collection_len):
        tfn = F.col("tf") * F.log2(F.lit(1.0)
                                   + F.lit(c * avg_len) / F.col("dl"))
        norm = F.lit(1.0) / (tfn + F.lit(1.0))
        freq = F.col("cf") / F.lit(float(n_docs))
        e = F.lit(math.log(0.5))
        return norm * (
            tfn * F.log2(F.lit(1.0) / freq)
            + freq * e
            + F.lit(0.5) * F.log2(F.lit(2.0 * math.pi) * tfn)
            + tfn * (F.log2(tfn) - e)
        )

    return _rank_per_query(
        _dataframe_scores(docs_df, queries, id_col, text_col, cfg, partial),
        k)


def dph_topk_dataframe(docs_df, queries: list[str], k: int = 10,
                       id_col: str = "doc_id", text_col: str = "text",
                       cfg: IndexConfig | None = None):
    """Exhaustive DataFrame DPH (parameter-free DFR) top-k — the
    reference scorer/dph.hpp:21-36 formula
        f    = tf/dl
        norm = (1-f)^2 / (tf+1)
        norm * (tf*log2((tf*avgdl/dl) * (N/cf)) + 0.5*log2(2*pi*tf*(1-f)))
    (_dataframe_scores)."""
    import math

    from pyspark.sql import functions as F

    cfg = cfg or IndexConfig()

    def partial(n_docs, avg_len, _collection_len):
        f = F.col("tf") / F.col("dl")
        norm = ((F.lit(1.0) - f) * (F.lit(1.0) - f)
                / (F.col("tf") + F.lit(1.0)))
        return norm * (
            F.col("tf") * F.log2(
                (F.col("tf") * F.lit(avg_len) / F.col("dl"))
                * (F.lit(float(n_docs)) / F.col("cf")))
            + F.lit(0.5) * F.log2(F.lit(2.0 * math.pi) * F.col("tf")
                                  * (F.lit(1.0) - f))
        )

    return _rank_per_query(
        _dataframe_scores(docs_df, queries, id_col, text_col, cfg, partial),
        k)


def trec_output(results_df, run_id: str = "pisa_spark"):
    """Format results as TREC run lines: qid Q0 url rank score run_id
    (reference evaluate_queries.cpp:159-172)."""
    from pyspark.sql import functions as F

    return results_df.select(
        F.concat_ws(" ", "qid", F.lit("Q0"), "url", "rank",
                    F.format_string("%.6f", "score"), F.lit(run_id)).alias("line"))
