"""Pure-numpy property tests for the vectorized traversal-kernel helpers.

The round-5 kernel computes per-range bounds and candidate extraction in
batch (`range_ubs_batch`, `spans_nonempty`, `docs_in_batch`); these pin
them bit-identical to the scalar methods they replaced (`range_ub`,
`blocks_overlapping`, `docs_in`) over randomized posting shapes — no
Spark session needed. Also pins the columnar group builder (`_group_runs`)
against decoding and scoring each posting row alone, the scored-once
contributions, and the batch executor's shard grouping over Arrow
batches."""

import types

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from hypothesis import given, settings
from hypothesis import strategies as st

from pisa_spark.config import IndexConfig
from pisa_spark.functions.scoring import make_scorer
from pisa_spark.operators import codecs
from pisa_spark.operators.postings import _encode_arrays
from pisa_spark.operators.topk import (F32, _group_runs, _QueryPlan,
                                       _shard_groups, _TermRun)


def _make_run(rng: np.random.Generator, n_docs: int, n_postings: int,
              block: int) -> _TermRun:
    docs = np.sort(rng.choice(n_docs, size=n_postings, replace=False)
                   ).astype(np.int64)
    tfs = rng.integers(1, 5, size=n_postings).astype(np.int64)
    blk_bounds = list(range(block - 1, n_postings, block))
    if not blk_bounds or blk_bounds[-1] != n_postings - 1:
        blk_bounds.append(n_postings - 1)
    return _TermRun(0, int(docs[0]) - 1, int(docs[-1]), docs, tfs,
                    np.ones(n_postings, dtype=F32),
                    docs[np.asarray(blk_bounds)],
                    rng.random(len(blk_bounds)).astype(F32))


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
        for _, w in qs:
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
            assert (run.base_doc, run.last_doc) == (base, last)
            got_docs, got_tfs = run.decode_all()
            np.testing.assert_array_equal(got_docs, docs)
            np.testing.assert_array_equal(got_tfs, tfs)
            assert run._contribs.dtype == np.dtype(F32)
            assert (bits(run._contribs) == bits(contribs)).all()
            np.testing.assert_array_equal(run.blk_last, blk_last)
            assert run.blk_ub.dtype == np.dtype(F32)
            assert (bits(run.blk_ub) == bits(blk_ub)).all()
            assert bits(run.ub) == bits(blk_ub.max())
            postings[key] = postings.get(key, 0) + run.n
    assert postings == {(tid, w if weighted else 1.0): meta[tid][0]
                        for tid, qs in plan.term_queries.items()
                        for _, w in qs}


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
    group; each must equal scoring just the requested docs, bit for bit."""
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
            got = run.contrib(ask)
            docs, tfs = run.decode_all()
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
