"""Pure-numpy property tests for the query traversal, no Spark session
needed.

Pins the dense multi-query traversal (`_traverse`) for every algorithm
against a brute-force per-query float32 reference that sums each doc's
contributions in ascending term_id (`_canonical_scores`), over random
multi-shard groups and a patched-down block budget; the columnar group
builder (`_group_runs`) against decoding and scoring each posting row
alone; and the batch executor's shard grouping over Arrow batches."""

import types
from unittest import mock

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from hypothesis import given, settings
from hypothesis import strategies as st

from pisa_spark.config import IndexConfig
from pisa_spark.functions.scoring import make_scorer
from pisa_spark.operators import codecs
from pisa_spark.operators import topk as T
from pisa_spark.operators.postings import _encode_arrays
from pisa_spark.operators.topk import (F32, _group_runs, _QueryPlan,
                                       _shard_groups, _TermRun)


def _gather(run: _TermRun, doc_ids: np.ndarray) -> np.ndarray:
    """The run's contribution to each of doc_ids (0 where absent)."""
    idx = np.searchsorted(run.docs, doc_ids)
    idx_c = np.minimum(idx, run.n - 1)
    hit = (idx < run.n) & (run.docs[idx_c] == doc_ids)
    out = np.zeros(doc_ids.size, dtype=F32)
    out[hit] = run.contribs[idx[hit]]
    return out


def _canonical_scores(doc_ids: np.ndarray, runs: list) -> np.ndarray:
    """Brute-force float32 scores: each doc's contributions summed one
    term at a time in ascending term_id, from 0.0."""
    total = np.zeros(doc_ids.size, dtype=F32)
    for run in sorted(runs, key=lambda r: r.term_id):
        total = total + _gather(run, doc_ids)
    return total


def _make_run(rng: np.random.Generator, tid: int, docs: np.ndarray,
              contribs: np.ndarray) -> _TermRun:
    """A run over `docs` in random-size posting blocks whose bound is the
    block's max contribution."""
    ends = np.unique(np.r_[np.cumsum(rng.integers(1, 9, size=docs.size)),
                           docs.size])
    ends = ends[ends <= docs.size]
    blk_ub = np.maximum.reduceat(contribs, np.r_[0, ends[:-1]])
    return _TermRun(tid, docs, np.ones(docs.size, np.int64), contribs,
                    docs[ends - 1], blk_ub.astype(F32))


def _random_group(rng: np.random.Generator, n_queries: int,
                  weighted: bool, algorithm: str, k: int, span: int):
    """A plan and its runs over random shards with docID gaps between
    them. Contributions come from a few values per term, so equal scores
    (ties) are common and sums depend on their float32 order; some are
    0. A query may name a term with no posting in
    the group."""
    bases = np.cumsum(rng.integers(0, 3 * span, size=int(rng.integers(1, 5))))
    sizes = rng.integers(1, 4 * span, size=bases.size)
    space = np.concatenate([np.arange(b, b + n) + i * 4 * span
                            for i, (b, n) in enumerate(zip(bases, sizes))])
    tids = rng.choice(1000, size=int(rng.integers(1, 7)), replace=False)
    plan = _QueryPlan(types.SimpleNamespace(cfg=IndexConfig(), stats={}),
                      algorithm, k, weighted, span, None)
    for q in range(n_queries):
        for tid in rng.choice(tids, size=int(rng.integers(1, tids.size + 1)),
                              replace=False).tolist():
            plan.add(f"q{q}", f"t{tid}", tid, 1, 1,
                     float(rng.integers(1, 4)))
    runs = {}
    for tid in tids[1:].tolist():  # tids[0] has no posting here
        n = int(rng.integers(1, space.size + 1))
        docs = np.sort(rng.choice(space, size=n, replace=False))
        base = F32(rng.uniform(0.5, 2.0)) * rng.choice(
            np.array([0.0, 0.1, 0.7, 1 / 3, 1.3, 2.9], F32), size=n)
        for w in dict.fromkeys(w if weighted else 1.0 for w in
                               plan.term_queries.get(tid, {}).values()):
            runs[(tid, w)] = _make_run(rng, tid, docs, F32(w) * base)
    return plan, runs


def _reference(runs: dict, plan: _QueryPlan) -> dict:
    """Every query's exhaustive top-k: (doc, score bits), score desc,
    doc asc, from _canonical_scores; conjunctive algorithms keep the docs
    holding every known term of the query."""
    conj = plan.algorithm in ("ranked_and", "block_max_ranked_and")
    out = {}
    for qid, n_terms in plan.n_terms.items():
        qruns = [runs[(tid, w if plan.weighted else 1.0)]
                 for tid, ws in plan.term_queries.items()
                 for q, w in ws.items()
                 if q == qid and (tid, w if plan.weighted else 1.0) in runs]
        if not qruns or (conj and len(qruns) < n_terms):
            continue
        docs = np.unique(np.concatenate([r.docs for r in qruns]))
        if conj:
            for r in qruns:
                docs = docs[np.isin(docs, r.docs)]
        scores = _canonical_scores(docs, qruns)
        pos = scores > 0
        order = np.lexsort((docs[pos], -scores[pos]))[:plan.k]
        if order.size:
            out[qid] = list(zip(docs[pos][order].tolist(),
                                scores[pos][order].view(np.int32).tolist()))
    return out


def _cut(qids, docs, scores, k: int) -> dict:
    """The traversal's partial rows cut to (score desc, doc asc) top-k."""
    out = {}
    for qid in dict.fromkeys(qids.tolist()):
        mine = qids == qid
        d, s = docs[mine], scores[mine]
        assert s.dtype == np.dtype(F32) and np.unique(d).size == d.size
        order = np.lexsort((d, -s))[:k]
        out[qid] = list(zip(d[order].tolist(),
                            s[order].view(np.int32).tolist()))
    return out


@settings(max_examples=150, deadline=None)
@given(seed=st.integers(0, 2**31 - 1),
       algorithm=st.sampled_from(T.ALGORITHMS + tuple(T._ALGORITHM_ALIASES)),
       weighted=st.booleans(), exact_threshold=st.booleans(),
       k=st.sampled_from([1, 10, 100_000]),
       span=st.sampled_from([1, 3, 16, 64]),
       budget_ranges=st.sampled_from([1, 2, 5, None]))
def test_dense_traversal_matches_reference(seed, algorithm, weighted,
                                           exact_threshold, k, span,
                                           budget_ranges):
    """Every algorithm (and the ranked_or_taat aliases) over a random
    multi-shard group — docID gaps, posting blocks crossing range and
    tile edges, tied scores, blocks split by a patched-down cell budget,
    thresholds 0 or the exact k-th score, k of 1, 10 or above the group's
    docs — returns, after the (score desc, doc asc) cut, exactly the
    brute-force float32 reference's rows."""
    rng = np.random.default_rng(seed)
    plan, runs = _random_group(rng, int(rng.integers(1, 12)), weighted,
                               T._ALGORITHM_ALIASES.get(algorithm, algorithm),
                               k, span)
    want = _reference(runs, plan)
    if exact_threshold:
        plan.thresholds = {q: float(np.array(rows[-1][1], np.int32).view(F32))
                           for q, rows in want.items() if len(rows) == k}
    budget = (T.TRAVERSE_BLOCK_CELLS if budget_ranges is None
              else budget_ranges * span)
    with mock.patch.object(T, "TRAVERSE_BLOCK_CELLS", budget):
        got = _cut(*T._traverse(runs, plan), k)
    assert {q: r for q, r in got.items() if r} == want


@settings(max_examples=60, deadline=None)
@given(seed=st.integers(0, 2**31 - 1), span=st.sampled_from([1, 3, 16]),
       budget_ranges=st.sampled_from([1, 3, None]))
def test_traversal_counters(seed, span, budget_ranges):
    """profile_queries' counters on one random group: ranked_or scores
    each query's posting union and skips nothing; the block-bound family
    scores no more cells than the term-bound family, which scores no more
    than ranked_or; counting changes no answer."""
    rng = np.random.default_rng(seed)
    plan, runs = _random_group(rng, int(rng.integers(1, 12)), False,
                               "ranked_or", int(rng.choice([1, 10])), span)
    budget = (T.TRAVERSE_BLOCK_CELLS if budget_ranges is None
              else budget_ranges * span)
    got = {}
    with mock.patch.object(T, "TRAVERSE_BLOCK_CELLS", budget):
        for alg in ("ranked_or", "maxscore", "wand", "block_max_maxscore",
                    "block_max_wand", "ranked_and"):
            plan.algorithm = alg
            got[alg] = {}
            assert _cut(*T._traverse(runs, plan, got[alg]), plan.k) == \
                _cut(*T._traverse(runs, plan), plan.k)
    for qid, (post, blocks, scored, ranges, skipped) in \
            got["ranked_or"].items():
        qruns = [runs[(tid, 1.0)] for tid, ws in plan.term_queries.items()
                 if qid in ws and (tid, 1.0) in runs]
        docs = np.concatenate([r.docs for r in qruns])
        assert (post, blocks) == (sum(r.n for r in qruns),
                                  sum(r.blk_last.size for r in qruns))
        assert scored == np.unique(docs).size
        assert (ranges, skipped) == (np.unique(docs // span).size, 0)
    for alg, counts in got.items():
        assert counts.keys() == got["ranked_or"].keys()
        for qid, c in counts.items():
            assert c[3] == got["ranked_or"][qid][3] and c[4] <= c[3]
            assert c[0] <= got["ranked_or"][qid][0]
    scored = {alg: sum(c[2] for c in counts.values())
              for alg, counts in got.items()}
    assert scored["block_max_maxscore"] == scored["block_max_wand"] <= \
        scored["maxscore"] == scored["wand"] <= scored["ranked_or"]


def test_traversal_blocks_stay_under_cell_budget():
    """2,000 queries over one group under a small cell budget: no
    accumulator the traversal allocates exceeds the budget, and the rows
    still equal the reference for an exhaustive, a pruned and a
    conjunctive algorithm."""
    rng = np.random.default_rng(7)
    budget, biggest = 4096, []
    real_block = T._block

    def spy(n_rows, n_cols, dtype=F32):
        biggest.append(n_rows * n_cols)
        return real_block(n_rows, n_cols, dtype)

    for algorithm in ("ranked_or", "block_max_wand", "ranked_and"):
        plan, runs = _random_group(rng, 2000, True, algorithm, 10, 64)
        assert len(plan.n_terms) == 2000
        with mock.patch.object(T, "TRAVERSE_BLOCK_CELLS", budget), \
                mock.patch.object(T, "_block", spy):
            got = _cut(*T._traverse(runs, plan), 10)
        assert {q: r for q, r in got.items() if r} == \
            _reference(runs, plan), algorithm
    assert biggest and max(biggest) <= budget


TERMS = ["it's", "back\\slash", "100%", "naïve", "日本", "plain"]


def _encoded_group(rng: np.random.Generator, codec: str, scorer_name: str,
                   string_keys: bool):
    """Random posting rows of the TERMS over 4 shards, encoded as the build
    writes them, rows of a shard in random term order. Returns (record
    batch, doc_lens, stats, {term_id: (df, cf)}, cfg)."""
    n_shards, span = 4, 256
    cfg = IndexConfig(shard_span=span, block_size=int(rng.choice([4, 8, 32])),
                      codec=codec, scorer=scorer_name,
                      block_partition=str(rng.choice(["fixed", "variable"])))
    flat = []
    for shard in range(n_shards):
        for term in range(len(TERMS)):
            if rng.random() < 0.3:
                continue
            n = int(rng.integers(1, 120))
            docs = np.sort(rng.choice(span, size=n, replace=False))
            for d, tf in zip(docs + shard * span, rng.integers(1, 7, size=n)):
                flat.append((shard, term, int(d), int(tf)))
    flat = np.array(flat, dtype=np.int64).reshape(-1, 4)
    doc_lens = rng.integers(8, 400, size=n_shards * span).astype(np.int64)
    stats = {"num_docs": n_shards * span, "avg_len": F32(doc_lens.mean()),
             "collection_len": int(doc_lens.sum())}
    meta = {t: (int((flat[:, 1] == t).sum()),
                int(flat[flat[:, 1] == t, 3].sum())) for t in range(len(TERMS))}
    rb = _encode_arrays(
        flat[:, 0], flat[:, 1], flat[:, 2], flat[:, 3], doc_lens[flat[:, 2]],
        cfg, stats, make_scorer(scorer_name),
        df=np.array([meta[t][0] for t in flat[:, 1]]),
        cf=np.array([meta[t][1] for t in flat[:, 1]]),
        term_dict=pa.array(TERMS) if string_keys else None)
    sid = rb.column("shard_id").to_numpy()
    order = np.lexsort((rng.random(sid.size), sid))  # terms shuffled
    return rb.take(pa.array(order)), doc_lens, stats, meta, cfg


def _plan(rb, cfg, stats, meta, rng, weighted: bool):
    """A query set over the TERMS vocabulary (term_id = index in TERMS),
    and the rows of `rb` its vocabulary filter keeps. With `weighted`, a
    term may appear with several weights."""
    plan = _QueryPlan(types.SimpleNamespace(cfg=cfg, stats=stats),
                      "ranked_or", 10, weighted, 64, None)
    for q in range(4):
        for t in rng.choice(len(TERMS), size=int(rng.integers(1, 4)),
                            replace=False):
            if meta[int(t)][0]:
                plan.add(f"q{q}", TERMS[t], int(t), *meta[int(t)],
                         float(rng.integers(1, 4)))
    if "term" in rb.schema.names:
        keep = pc.is_in(rb.column("term"), pa.array(list(plan.tid_of_term),
                                                    pa.string()))
    else:
        keep = pc.is_in(rb.column("term_id"),
                        pa.array(list(plan.term_stats), pa.int64()))
    return plan, rb.filter(keep)


def _row_runs(rows: pa.Table, plan: _QueryPlan, doc_lens: np.ndarray,
              codec: str) -> dict:
    """The runs as decoded and scored ONE posting row at a time
    (decode_blocks / decode_tfs / one scorer call per row), concatenated
    in shard order."""
    scorer, stats = plan.scorer, plan.stats
    if "term" in rows.column_names:
        rows = rows.append_column("term_id", pa.array(
            [plan.tid_of_term[t] for t in rows["term"].to_pylist()],
            pa.int64()))
    out = {}
    for tid, qs in plan.term_queries.items():
        df, cf = plan.term_stats[tid]
        mine = sorted((r for r in rows.to_pylist() if r["term_id"] == tid),
                      key=lambda r: r["shard_id"])
        if not mine:
            continue
        for w in qs.values():
            key = (tid, w if plan.weighted else 1.0)
            wf = F32(key[1])
            scale = (F32(scorer.idf(np.array([df]), stats["num_docs"])[0]) * wf
                     if scorer.separable else wf)
            parts = []
            for r in mine:
                docs = codecs.decode_blocks(codec, r["docs_bin"],
                                            r["block_doc_offs"],
                                            r["base_doc"], r["n"])
                tfs = codecs.decode_tfs(r["tfs_bin"], r["n"])
                dl = doc_lens[docs]
                contribs = (scale * scorer.doc_part(tfs, dl, stats["avg_len"])
                            if scorer.separable else wf * scorer.score(
                                tfs, dl, df=df, cf=cf,
                                num_docs=stats["num_docs"],
                                avg_len=stats["avg_len"],
                                collection_len=stats["collection_len"]))
                parts.append((docs, tfs, contribs,
                              np.asarray(r["block_last_docs"], np.int64),
                              np.asarray(r["block_max_part"], F32) * scale))
            out[key] = (mine[0]["base_doc"], mine[-1]["last_doc"],
                        *(np.concatenate(p) for p in zip(*parts)))
    return out


@settings(max_examples=60, deadline=None)
@given(seed=st.integers(0, 2**31 - 1),
       codec=st.sampled_from(codecs.CODECS),
       scorer_name=st.sampled_from(["bm25", "qld", "dph"]),
       weighted=st.booleans(), string_keys=st.booleans(),
       budget=st.sampled_from([0, 150, 1 << 22]))
def test_group_runs_match_per_row_decode(seed, codec, scorer_name, weighted,
                                         string_keys, budget):
    """Every run the columnar group builder makes — over Arrow batches
    cut at random rows and grouped into whole shards — has the docs, tfs,
    float32 contributions, block bounds and term bound of decoding and
    scoring each of its posting rows alone, bit for bit."""
    rng = np.random.default_rng(seed)
    rb, doc_lens, stats, meta, cfg = _encoded_group(
        rng, codec, scorer_name, string_keys)
    plan, rb = _plan(rb, cfg, stats, meta, rng, weighted)
    cuts = np.unique(rng.integers(0, rb.num_rows + 1, size=3))
    bounds = np.r_[0, cuts, rb.num_rows]
    batches = [rb.slice(a, b - a) for a, b in zip(bounds[:-1], bounds[1:])]
    bits = lambda a: np.asarray(a, dtype=F32).view(np.int32)  # noqa: E731
    postings: dict = {}
    for group in _shard_groups(iter(batches), budget):
        runs = _group_runs(group, plan, doc_lens, 0)
        want = _row_runs(group, plan, doc_lens, codec)
        assert set(runs) == set(want)
        for key, (base, last, docs, tfs, contribs, blk_last, blk_ub) in \
                want.items():
            run = runs[key]
            assert (run.term_id, run.n) == (key[0], docs.size)
            assert run.docs[0] > base and run.docs[-1] == last
            np.testing.assert_array_equal(run.docs, docs)
            np.testing.assert_array_equal(run.tfs, tfs)
            assert run.contribs.dtype == np.dtype(F32)
            assert (bits(run.contribs) == bits(contribs)).all()
            np.testing.assert_array_equal(run.blk_last, blk_last)
            assert run.blk_ub.dtype == np.dtype(F32)
            assert (bits(run.blk_ub) == bits(blk_ub)).all()
            assert bits(run.ub) == bits(blk_ub.max())
            postings[key] = postings.get(key, 0) + run.n
    assert postings == {(tid, w if weighted else 1.0): meta[tid][0]
                        for tid, qs in plan.term_queries.items()
                        for w in qs.values()}


@settings(max_examples=30, deadline=None)
@given(seed=st.integers(0, 2**31 - 1),
       scorer_name=st.sampled_from(["bm25", "qld", "dph"]))
def test_contrib_scored_once_bit_identical(seed, scorer_name):
    """The traversal reads contributions computed once over the whole
    group; gathered for any docs, each must equal scoring just those
    docs, bit for bit."""
    rng = np.random.default_rng(seed)
    rb, doc_lens, stats, meta, cfg = _encoded_group(
        rng, "varint", scorer_name, False)
    plan, rb = _plan(rb, cfg, stats, meta, rng, True)
    scorer = plan.scorer
    runs = _group_runs(pa.Table.from_batches([rb]), plan, doc_lens, 0)
    assert runs
    for (tid, w), run in runs.items():
        df, cf = plan.term_stats[tid]
        for _ in range(3):  # repeat calls gather from the same scores
            ask = np.unique(rng.integers(0, doc_lens.size, size=200))
            got = _gather(run, ask)
            docs, tfs = run.docs, run.tfs
            idx = np.searchsorted(docs, ask)
            hit = (idx < docs.size) & (docs[np.minimum(idx, docs.size - 1)]
                                       == ask)
            tf, dl = tfs[idx[hit]], doc_lens[ask[hit]]
            if scorer.separable:
                idf = F32(scorer.idf(np.array([df]), stats["num_docs"])[0])
                want = (idf * F32(w)) * scorer.doc_part(tf, dl,
                                                        stats["avg_len"])
            else:
                want = F32(w) * scorer.score(
                    tf, dl, df=df, cf=cf, num_docs=stats["num_docs"],
                    avg_len=stats["avg_len"],
                    collection_len=stats["collection_len"])
            assert got.dtype == np.dtype(F32)
            np.testing.assert_array_equal(got[hit], want)
            assert not got[~hit].any()


@settings(max_examples=60, deadline=None)
@given(seed=st.integers(0, 2**31 - 1), budget=st.integers(0, 60))
def test_shard_groups_whole_shards_under_budget(seed, budget):
    """Groups keep every shard whole (even when a shard spans batches),
    keep the input order, hold at most `budget` postings unless a single
    shard exceeds it, and only close when the next shard would not fit."""
    rng = np.random.default_rng(seed)
    n_shards = int(rng.integers(1, 12))
    rows = [(sid, int(n)) for sid in range(n_shards)
            for n in rng.integers(1, 10, size=int(rng.integers(1, 5)))]
    rb = pa.RecordBatch.from_arrays(
        [pa.array([r[0] for r in rows], pa.int64()),
         pa.array([r[1] for r in rows], pa.int64())], names=["shard_id", "n"])
    cuts = np.union1d(rng.integers(1, len(rows) + 1,
                                   size=int(rng.integers(0, 4))), [len(rows)])
    batches = [rb.slice(a, b - a) for a, b in zip(np.r_[0, cuts[:-1]], cuts)]
    batches.insert(int(rng.integers(0, len(batches) + 1)), rb.slice(0, 0))
    groups = list(_shard_groups(iter(batches), budget))
    out = pa.concat_tables(groups)
    assert out.equals(pa.Table.from_batches([rb]))
    seen = set()
    sizes = np.bincount(np.array([r[0] for r in rows]),
                        weights=[r[1] for r in rows])
    for i, g in enumerate(groups):
        shards = list(dict.fromkeys(g["shard_id"].to_pylist()))
        assert not seen & set(shards)  # no shard split across groups
        seen |= set(shards)
        total = int(pc.sum(g["n"]).as_py())
        assert total <= budget or len(shards) == 1
        if i + 1 < len(groups):
            nxt = int(sizes[groups[i + 1]["shard_id"][0].as_py()])
            assert total + nxt > budget
