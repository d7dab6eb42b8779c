"""Pure-numpy property tests for the vectorized traversal-kernel helpers.

The round-5 kernel computes per-range bounds and candidate extraction in
batch (`range_ubs_batch`, `spans_nonempty`, `docs_in_batch`); these pin
them bit-identical to the scalar methods they replaced (`range_ub`,
`blocks_overlapping`, `docs_in`) over randomized posting shapes — no
Spark session needed. Also pins the scored-once contributions and the
batch executor's shard grouping."""

import numpy as np
import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st

from pisa_spark.functions.scoring import make_scorer
from pisa_spark.operators.topk import F32, _shard_groups, _TermRun


def _make_run(rng: np.random.Generator, n_docs: int, n_postings: int,
              block: int) -> _TermRun:
    docs = np.sort(rng.choice(n_docs, size=n_postings, replace=False)
                   ).astype(np.int64)
    tfs = rng.integers(1, 5, size=n_postings).astype(np.int64)
    blk_bounds = list(range(block - 1, n_postings, block))
    if not blk_bounds or blk_bounds[-1] != n_postings - 1:
        blk_bounds.append(n_postings - 1)
    run = _TermRun.__new__(_TermRun)
    run.term_id = 0
    run.codec = "varint"
    run.weight = F32(1.0)
    run.df = n_postings
    run.cf = int(tfs.sum())
    run.idf = F32(1.0)
    run.n = n_postings
    run.base_doc = int(docs[0]) - 1
    run.last_doc = int(docs[-1])
    run._docs = docs
    run._tfs = tfs
    run._contribs = None
    run.blk_last = docs[np.asarray(blk_bounds)]
    run.blk_ub = rng.random(len(blk_bounds)).astype(F32)
    run.ub = F32(run.blk_ub.max())
    return run


@settings(max_examples=40, deadline=None)
@given(seed=st.integers(0, 2**31 - 1),
       n_docs=st.integers(50, 3000),
       span=st.sampled_from([16, 64, 128, 256]))
def test_range_ubs_batch_matches_scalar(seed, n_docs, span):
    rng = np.random.default_rng(seed)
    n_postings = int(rng.integers(5, max(6, n_docs // 2)))
    run = _make_run(rng, n_docs, n_postings, block=int(rng.integers(4, 64)))
    los = np.arange(0, n_docs, span, dtype=np.int64)
    his = np.minimum(los + span, n_docs)
    batch = run.range_ubs_batch(los, his)
    scalar = np.array([run.range_ub(int(lo), int(hi))
                       for lo, hi in zip(los, his)], dtype=F32)
    assert batch.dtype == np.dtype(F32)
    np.testing.assert_array_equal(batch, scalar)
    nonempty = run.spans_nonempty(los, his)
    scalar_ne = np.array(
        [run.blocks_overlapping(int(lo), int(hi))[0]
         <= run.blocks_overlapping(int(lo), int(hi))[1]
         for lo, hi in zip(los, his)])
    np.testing.assert_array_equal(nonempty, scalar_ne)


@settings(max_examples=40, deadline=None)
@given(seed=st.integers(0, 2**31 - 1),
       n_docs=st.integers(50, 3000),
       span=st.sampled_from([16, 64, 256]))
def test_docs_in_batch_matches_scalar_union(seed, n_docs, span):
    rng = np.random.default_rng(seed)
    n_postings = int(rng.integers(5, max(6, n_docs // 2)))
    run = _make_run(rng, n_docs, n_postings, block=32)
    all_los = np.arange(0, n_docs, span, dtype=np.int64)
    pick = rng.random(all_los.size) < 0.5  # disjoint subset, gaps included
    los = all_los[pick]
    his = np.minimum(los + span, n_docs)
    if los.size == 0:
        return
    batch = run.docs_in_batch(los, his)
    scalar = np.concatenate(
        [run.docs_in(int(lo), int(hi))[0] for lo, hi in zip(los, his)])
    np.testing.assert_array_equal(batch, scalar)


@settings(max_examples=20, deadline=None)
@given(seed=st.integers(0, 2**31 - 1))
def test_range_ubs_batch_empty_and_edge_ranges(seed):
    rng = np.random.default_rng(seed)
    run = _make_run(rng, 1000, 20, block=8)
    # ranges entirely before, inside gaps, and after the posting span
    los = np.array([0, run.last_doc + 1, 990], dtype=np.int64)
    his = np.array([1, run.last_doc + 5, 1000], dtype=np.int64)
    batch = run.range_ubs_batch(los, his)
    scalar = np.array([run.range_ub(int(lo), int(hi))
                       for lo, hi in zip(los, his)], dtype=F32)
    np.testing.assert_array_equal(batch, scalar)


@settings(max_examples=30, deadline=None)
@given(seed=st.integers(0, 2**31 - 1),
       scorer_name=st.sampled_from(["bm25", "qld", "dph"]))
def test_contrib_scored_once_bit_identical(seed, scorer_name):
    """contrib gathers from contributions computed once over the whole
    run; each must equal scoring just the requested docs, bit for bit."""
    rng = np.random.default_rng(seed)
    n_docs = 2000
    run = _make_run(rng, n_docs, int(rng.integers(5, 500)), block=32)
    run.idf = F32(rng.random() * 3 + 0.1)
    scorer = make_scorer(scorer_name)
    doc_lens = rng.integers(8, 400, size=n_docs).astype(np.int64)  # > tf
    stats = {"num_docs": n_docs, "avg_len": F32(doc_lens.mean()),
             "collection_len": int(doc_lens.sum())}
    for _ in range(3):  # repeat calls reuse the cached contributions
        ask = np.unique(rng.integers(0, n_docs, size=200))
        got = run.contrib(ask, scorer, stats, doc_lens, 0)
        docs, tfs = run.decode_all()
        idx = np.searchsorted(docs, ask)
        hit = (idx < docs.size) & (docs[np.minimum(idx, docs.size - 1)] == ask)
        tf, dl = tfs[idx[hit]], doc_lens[ask[hit]]
        if scorer.separable:
            want = run.idf * scorer.doc_part(tf, dl, stats["avg_len"])
        else:
            want = run.weight * scorer.score(
                tf, dl, df=run.df, cf=run.cf, num_docs=n_docs,
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
    pdf = pd.DataFrame(rows, columns=["shard_id", "n"])
    cuts = np.union1d(rng.integers(1, len(pdf) + 1,
                                   size=int(rng.integers(0, 4))), [len(pdf)])
    batches = [pdf.iloc[a:b] for a, b in zip(np.r_[0, cuts[:-1]], cuts)]
    batches.insert(int(rng.integers(0, len(batches) + 1)), pdf.iloc[:0])
    groups = list(_shard_groups(iter(batches), budget))
    out = pd.concat(groups, ignore_index=True)
    pd.testing.assert_frame_equal(out, pdf.reset_index(drop=True))
    seen = set()
    sizes = pdf.groupby("shard_id")["n"].sum()
    for i, g in enumerate(groups):
        shards = list(dict.fromkeys(g["shard_id"]))
        assert not seen & set(shards)  # no shard split across groups
        seen |= set(shards)
        total = int(g["n"].sum())
        assert total <= budget or len(shards) == 1
        if i + 1 < len(groups):
            nxt = int(sizes[groups[i + 1]["shard_id"].iat[0]])
            assert total + nxt > budget
