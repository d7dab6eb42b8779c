"""Rank-identity of pruned executors vs the exhaustive oracle.

Mirrors the reference's central correctness test
(test/test_ranked_queries.cpp:119-168): every pruned algorithm must return
the same result set as exhaustive ranked_or. We require *exact* equality of
(doc_id, float32 score, rank) — stronger than the reference's 0.1% — because
all executors accumulate scores in canonical ascending-term_id order.

Also checks against an independent pure-Python float32 BM25 (same canonical
order), plus threshold seeding, weighted queries, and unknown-term drops.
"""

import collections
import contextlib
import math

import numpy as np
import pytest

from pisa_spark.config import IndexConfig
from pisa_spark.functions.tokenize import analyze_query_terms, make_analyzer
from pisa_spark.operators.topk import topk_search, trec_output
from pisa_spark.plans.build import build_index, extract_pages
from pisa_spark.sources import webtext

N_DOCS = 300
N_QUERIES = 40
K = 10


@pytest.fixture(scope="module")
def corpus():
    return webtext.generate_pandas(N_DOCS, seed=13)


@pytest.fixture(scope="module")
def index(spark, corpus):
    cfg = IndexConfig(shard_span=64)  # several shards at 300 docs
    pages = spark.createDataFrame(corpus)
    return build_index(extract_pages(pages, cfg), cfg)


@pytest.fixture(scope="module")
def queries():
    return webtext.synth_queries(N_QUERIES, seed=29)


@pytest.fixture(scope="module")
def pyref(corpus):
    """Pure-python float32 BM25 with canonical term-order accumulation."""
    cfg = IndexConfig()
    analyze = make_analyzer(cfg)
    en = corpus[corpus.lang == "en"].sort_values("url").reset_index(drop=True)
    postings: dict = collections.defaultdict(dict)
    doc_len: dict = {}
    for d, text in enumerate(en["text"]):
        toks = analyze(text)
        doc_len[d] = len(toks)
        for t in toks:
            postings[t][d] = postings[t].get(d, 0) + 1
    n = len(en)
    avg = np.float32(sum(doc_len.values()) / n)
    lex_order = {t: i for i, t in enumerate(sorted(postings))}

    def topk(qterms, k=K):
        f32 = np.float32
        scores: dict = collections.defaultdict(f32)
        known = sorted((t for t, _ in qterms if t in postings),
                       key=lex_order.__getitem__)
        for t in known:
            df = len(postings[t])
            idf = f32(max(1e-6, math.log(
                (f32(n) - f32(df) + f32(0.5)) / (f32(df) + f32(0.5))))) * f32(1.9)
            for d, f in postings[t].items():
                f = f32(f)
                nl = f32(doc_len[d]) / avg
                scores[d] = scores[d] + idf * (
                    f / (f + f32(0.9) * (f32(1.0) - f32(0.4) + f32(0.4) * nl)))
        items = [(d, s) for d, s in scores.items() if s > 0]
        items.sort(key=lambda x: (-x[1], x[0]))
        return items[:k]

    return topk


@pytest.fixture(scope="module")
def oracle_results(index, queries):
    out = topk_search(index, queries, k=K, algorithm="ranked_or",
                      range_span=128).toPandas()
    return {
        q: [(r.doc_id, r.score) for r in g.sort_values("rank").itertuples()]
        for q, g in out.groupby("qid")
    }


@pytest.mark.parametrize("algorithm", ["maxscore", "block_max_wand"])
def test_pruned_matches_exhaustive_exactly(index, queries, oracle_results,
                                           algorithm):
    out = topk_search(index, queries, k=K, algorithm=algorithm,
                      range_span=128).toPandas()
    got = {
        q: [(r.doc_id, r.score) for r in g.sort_values("rank").itertuples()]
        for q, g in out.groupby("qid")
    }
    assert set(got) == set(oracle_results)
    for q in oracle_results:
        assert got[q] == oracle_results[q], f"query {q}"


def _query_df(spark, index, queries):
    """The (qid, term, weight) DataFrame query set of query lines."""
    return spark.createDataFrame(analyze_query_terms(queries, index.cfg),
                                 "qid string, term string, weight double")


@contextlib.contextmanager
def _shard_joined(index):
    """Force the batch executor's shard-joined route (one shard per
    group, query terms resolved by a lexicon collect): no serve state,
    as for an index above the serve bounds."""
    from pisa_spark.operators import topk as T

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(T, "SERVE_MAX_DOCS", 0)
        _fresh(index)
        try:
            yield
        finally:
            _fresh(index)


def test_oracle_matches_pure_python(spark, index, oracle_results, queries,
                                    pyref):
    """Both routes of topk_search — the driver serve path (list queries)
    and the executor-side per-shard traversal (forced, with a DataFrame
    query set) — equal an engine-independent pure-Python float32 BM25."""
    cfg = IndexConfig()
    qmap = collections.defaultdict(list)
    for qid, term, w in analyze_query_terms(queries, cfg):
        qmap[qid].append((term, w))
    # internal doc_ids are url-rank MONOTONE but not dense (span-aligned
    # bucket seams leave id holes); map to the pyref's dense url ranks
    ids = sorted(int(r["doc_id"])
                 for r in index.docs.select("doc_id").collect())
    rank_of = {d: i for i, d in enumerate(ids)}
    with _shard_joined(index):
        out = topk_search(index, _query_df(spark, index, queries), k=K,
                          algorithm="ranked_or", range_span=128,
                          with_urls=False).toPandas()
    per_shard = {
        q: [(r.doc_id, r.score) for r in g.sort_values("rank").itertuples()]
        for q, g in out.groupby("qid")
    }
    assert set(per_shard) == set(oracle_results)
    for results in (oracle_results, per_shard):
        answered = 0
        for q, got in results.items():
            got = [(rank_of[d], s) for d, s in got]
            ref = pyref(qmap[q])
            assert [d for d, _ in ref] == [d for d, _ in got], f"query {q}"
            for (d1, s1), (d2, s2) in zip(ref, got):
                assert abs(s1 - s2) <= 1e-6 * max(abs(s1), 1.0)
            answered += 1
        assert answered > N_QUERIES // 2


def test_unknown_only_query_returns_nothing(index):
    out = topk_search(index, ["Q0:zzzunknownterm qqqmissing"], k=K).toPandas()
    assert len(out) == 0


def test_threshold_seeding_rank_safe(index, queries, oracle_results):
    # seed each query with its true k-th score (reference tools/thresholds.cpp)
    thresholds = {q: float(res[-1][1]) for q, res in oracle_results.items()
                  if len(res) == K}
    out = topk_search(index, queries, k=K, algorithm="maxscore",
                      range_span=128, thresholds=thresholds).toPandas()
    got = {
        q: [(r.doc_id, r.score) for r in g.sort_values("rank").itertuples()]
        for q, g in out.groupby("qid")
    }
    for q in oracle_results:
        assert got[q] == oracle_results[q], f"query {q}"


def test_weighted_query_doubles_duplicate_term(index, spark):
    # a query with a duplicated term gets weight 2 for it; in weighted mode
    # its contribution doubles (reference cursor/scored_cursor.hpp:10-17)
    qs = ["Qw:term0000 term0000"]
    plain = topk_search(index, qs, k=5, weighted=False).toPandas()
    weighted = topk_search(index, qs, k=5, weighted=True).toPandas()
    if len(plain) and len(weighted):
        p = plain.sort_values("rank").iloc[0]
        w = weighted.sort_values("rank").iloc[0]
        assert w.doc_id == p.doc_id
        assert np.isclose(w.score, 2 * p.score, rtol=1e-6)


def test_trec_output_format(index):
    res = topk_search(index, ["Q1:term0000"], k=3)
    lines = [r.line for r in trec_output(res).collect()]
    assert len(lines) <= 3
    for line in lines:
        parts = line.split(" ")
        assert parts[0] == "Q1" and parts[1] == "Q0"
        assert parts[2].startswith("https://")
        float(parts[4])


def test_batch_executor_identity(index, queries):
    """topk_search_batch (shard-partitioned, queries broadcast) returns
    exactly what the driver serve path returns, for every algorithm."""
    from pisa_spark.operators.topk import topk_search_batch

    def key(rows):
        return sorted((r.qid, r.rank, r.doc_id, round(float(r.score), 6))
                      for r in rows)

    for alg in ("ranked_or", "maxscore", "block_max_wand", "wand",
                "ranked_and"):
        a = key(topk_search(index, queries, k=K, algorithm=alg,
                            with_urls=False).collect())
        b = key(topk_search_batch(index, queries, k=K,
                                  algorithm=alg).collect())
        assert a == b, alg


def test_batch_executor_skips_posting_prefetch(index, queries):
    """A batch-only workload must not pay the interactive serve path's
    whole-index posting fetch: its kernels run executor-side and never
    read the driver row cache — it only needs the lexicon/shard metadata.
    The prefetch then runs lazily on the first interactive-serve call."""
    from pisa_spark.operators.topk import topk_search_batch

    if hasattr(index, "_serve_state"):
        del index._serve_state
    topk_search_batch(index, queries, k=K).collect()
    st = index._serve_state
    assert st is not None and st is not False  # metadata built...
    assert not st.complete and not st.rows_by_term  # ...no posting bytes
    topk_search(index, queries[:1], k=K, with_urls=False).collect()
    assert st.complete  # first serve call prefetched
    del index._serve_state


def test_serve_path_decline_and_eviction(index, queries, monkeypatch):
    """The serve plan must (a) decline and fall back to the batch
    executor's per-shard traversal when the index exceeds its
    driver-memory bounds, and (b) return identical rankings under a tiny
    posting-cache budget that forces FIFO eviction between calls."""
    from pisa_spark.operators import topk as T

    def key(rows):
        return sorted((r.qid, r.rank, r.doc_id, round(float(r.score), 6))
                      for r in rows)

    baseline = key(T.topk_search(index, queries, k=K,
                                 algorithm="block_max_wand",
                                 with_urls=False).collect())
    # (a) bounds exceeded -> serve declines, the batch executor answers
    monkeypatch.setattr(T, "SERVE_MAX_DOCS", 0)
    if hasattr(index, "_serve_state"):
        del index._serve_state
    declined = key(T.topk_search(index, queries, k=K,
                                 algorithm="block_max_wand",
                                 with_urls=False).collect())
    assert declined == baseline
    monkeypatch.undo()
    # (b) tiny cache budget: alternating term sets force FIFO eviction of
    # the other set's terms on every call; rankings must not change
    qa, qb = queries[: len(queries) // 2], queries[len(queries) // 2:]
    base_a = key(T.topk_search(index, qa, k=K, algorithm="block_max_wand",
                               with_urls=False).collect())
    base_b = key(T.topk_search(index, qb, k=K, algorithm="block_max_wand",
                               with_urls=False).collect())
    monkeypatch.setattr(T, "SERVE_CACHE_MAX_POSTINGS", 1)
    if hasattr(index, "_serve_state"):
        del index._serve_state
    for _ in range(2):
        got_a = key(T.topk_search(index, qa, k=K,
                                  algorithm="block_max_wand",
                                  with_urls=False).collect())
        got_b = key(T.topk_search(index, qb, k=K,
                                  algorithm="block_max_wand",
                                  with_urls=False).collect())
        assert got_a == base_a and got_b == base_b
    if hasattr(index, "_serve_state"):
        del index._serve_state


@pytest.mark.parametrize("variant", [
    {"codec": "bp128"},
    {"codec": "opt"},
    {"codec": "s8b"},
    {"codec": "s16"},
    {"codec": "qmx"},
    {"block_partition": "variable"},
    {"codec": "bp128", "block_partition": "variable"},
])
def test_layout_variants_rank_identity(spark, corpus, queries,
                                       oracle_results, variant):
    """Physical-layout variants (bitpacked blocks, VBMW variable blocks)
    must be result-invariant — the reference's encodings.sh property
    (every encoding produces identical rankings). Five codecs besides the
    default varint run here; test_codecs round-trips every codec's rows."""
    cfg = IndexConfig(shard_span=64, **variant)
    idx = build_index(extract_pages(spark.createDataFrame(corpus), cfg), cfg)
    out = topk_search(idx, queries, k=K, algorithm="block_max_wand",
                      range_span=128).toPandas()
    got = {
        q: [(r.doc_id, r.score) for r in g.sort_values("rank").itertuples()]
        for q, g in out.groupby("qid")
    }
    assert set(got) == set(oracle_results)
    for q in oracle_results:
        assert got[q] == oracle_results[q], f"query {q} variant {variant}"


def test_reference_algorithm_names_resolve(index, queries, oracle_results):
    """Every reference CLI algorithm string must resolve and stay
    rank-identical (block_max_maxscore is now a real kernel with per-doc
    block-refined non-essential bounds; taat aliases fold into ranked_or)."""
    for name in ("block_max_maxscore", "ranked_or_taat", "ranked_or_taat_lazy"):
        out = topk_search(index, queries[:8], k=K, algorithm=name,
                          range_span=128).toPandas()
        got = {
            q: [(r.doc_id, r.score) for r in g.sort_values("rank").itertuples()]
            for q, g in out.groupby("qid")
        }
        for q in got:
            assert got[q] == oracle_results[q], (name, q)


def _docs_scored(index, queries, algorithm, **kw):
    from pyspark.sql import functions as F

    from pisa_spark.operators.topk import profile_queries

    return int(profile_queries(index, queries, algorithm=algorithm, **kw)
               .agg(F.sum("docs_scored")).collect()[0][0])


def test_block_max_maxscore_prunes_at_least_as_tight(spark, index, queries):
    """Counters via profile_queries. The presence-aware block bound
    (reference block_max_maxscore_query.hpp:10-101) never exceeds the term
    bound, and every pruned algorithm seeds theta the same way, so the
    block family scores no more (query, doc) cells than the term family,
    which scores no more than exhaustive ranked_or; ranking stays
    identical (the previous test). On an index built to prune — k=1, a
    few dominant docs, one-doc ranges — every pruned algorithm scores
    strictly fewer cells than ranked_or."""
    got = {name: _docs_scored(index, queries[:8], name, k=K, range_span=128)
           for name in ("ranked_or", "maxscore", "block_max_maxscore",
                        "wand", "block_max_wand")}
    assert got["block_max_maxscore"] <= got["maxscore"] <= got["ranked_or"]
    assert got["block_max_wand"] <= got["wand"] <= got["ranked_or"]

    # "alpha" in every doc, "zeta" in every 8th, six times in doc 200:
    # at k=1 the zeta docs dominate, so in every shard the seed (each
    # shard is its own group here) lifts theta above the bound of every
    # alpha-only doc's range (range_span=1)
    texts = [" ".join(["alpha"] + ["zeta"] * ((i % 8 == 0) + 5 * (i == 200))
                      + [f"w{(7 * i + j) % 40}" for j in range(12)])
             for i in range(256)]
    skewed = build_index(spark.createDataFrame(
        [(f"https://e.org/{i:04d}", t) for i, t in enumerate(texts)],
        "url string, text string"), IndexConfig(shard_span=64))
    q = ["P1:alpha zeta"]
    full = _docs_scored(skewed, q, "ranked_or", k=1, range_span=1)
    assert full == 256
    for name in ("maxscore", "block_max_maxscore", "wand",
                 "block_max_wand"):
        assert _docs_scored(skewed, q, name, k=1, range_span=1) < full, \
            name
        top = topk_search(skewed, q, k=1, algorithm=name, range_span=1,
                          with_urls=True).collect()
        assert [r.url for r in top] == ["https://e.org/0200"], name


@pytest.mark.parametrize("weighted", [False, True])
def test_dataframe_repeated_terms_merge(spark, index, queries, weighted):
    """A (qid, term) row repeated in a DataFrame query set counts once,
    with the weights summed — the merge analyze_query_terms applies to a
    term repeated in a query line (reference query.cpp:45-82) — so the
    duplicated set answers exactly like the deduplicated one."""
    rows = analyze_query_terms(queries, IndexConfig())
    first = {}
    for qid, term, w in rows:
        first.setdefault(qid, (term, w))
    dup = rows + [(qid, term, 1.0) for qid, (term, _) in first.items()]
    dedup = [(qid, term, w + 1.0 if first[qid][0] == term else w)
             for qid, term, w in rows]
    schema = "qid string, term string, weight double"

    def answer(qrows, alg):
        return _exact(topk_search(
            index, spark.createDataFrame(qrows, schema), k=K, algorithm=alg,
            weighted=weighted, range_span=128, with_urls=False).collect())

    for alg in ("ranked_or", "block_max_wand", "ranked_and"):
        assert answer(dup, alg) == answer(dedup, alg), alg
    if not weighted:
        assert answer(dup, "ranked_or") == answer(rows, "ranked_or")


def test_serve_prefetch_whole_index(index, queries):
    """Small indexes load every posting row into the serve cache at state
    build (the reference loads/mmaps the full index before serving,
    tools/queries.cpp:279-340): first-seen terms must already be resident
    — no per-query fetch job — and rankings stay identical."""
    from pisa_spark.operators import topk as T

    if hasattr(index, "_serve_state"):
        del index._serve_state

    def key(rows):
        return sorted((r.qid, r.rank, r.doc_id, round(float(r.score), 6))
                      for r in rows)

    base = key(T.topk_search(index, queries, k=K,
                             algorithm="block_max_wand",
                             with_urls=False).collect())
    st = index._serve_state
    assert st and st.complete
    assert st.cached_postings == sum(m[1] for m in st.tmeta.values())
    # every lexicon term is resident
    assert set(st.rows_by_term) == set(st.tmeta)
    again = key(T.topk_search(index, queries, k=K,
                              algorithm="block_max_wand",
                              with_urls=False).collect())
    assert again == base
    del index._serve_state


def test_serve_global_run_identity(spark, index, queries):
    """The whole-index traversal (one merged run per term, one kernel per
    query over the global doc space) must rank identically to the
    exhaustive oracle: ranked_or for the pruned disjunctive algorithms,
    ranked_and for the conjunctive one, both from a DataFrame query set
    over the forced shard-joined route (one shard per group)."""
    from pisa_spark.operators import topk as T

    def key(rows):
        return sorted((r.qid, r.rank, r.doc_id, round(float(r.score), 6))
                      for r in rows)

    qdf = _query_df(spark, index, queries)
    with _shard_joined(index):
        oracle = {alg: key(T.topk_search(index, qdf, k=K, algorithm=alg,
                                         with_urls=False).collect())
                  for alg in ("ranked_or", "ranked_and")}
    for alg in ("block_max_wand", "maxscore", "block_max_maxscore",
                "ranked_and"):
        g = key(T.topk_search(index, queries, k=K, algorithm=alg,
                              with_urls=False).collect())
        assert index._serve_state.global_doc_lens is not None
        assert g == oracle["ranked_and" if alg == "ranked_and"
                           else "ranked_or"], alg
    del index._serve_state


def _ranked(df):
    """(qid, rank, doc_id, float32 score, url) rows, plus the column
    names and types."""
    rows = sorted((r.qid, int(r.rank), int(r.doc_id), np.float32(r.score),
                   r.url if "url" in df.columns else None)
                  for r in df.collect())
    return rows, [(f.name, f.dataType) for f in df.schema.fields]


def _jobs_of(spark, group, call):
    """(call(), the number of Spark jobs it started)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = call()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_batch_executor_join_fallback_identity(index, queries, monkeypatch):
    """topk_search_batch's two routes give identical rows, columns and
    column types, with and without URLs: the driver merge (serve state
    present, partial rows within SERVE_MAX_PARTIAL_ROWS) and the window
    plan, reached both without a serve state (shard-joined rows, one
    shard per group: the route of indexes above the serve bounds) and
    above the merge bound."""
    from pisa_spark.operators import topk as T

    def answer(with_urls):
        return _ranked(T.topk_search_batch(
            index, queries, k=K, algorithm="block_max_wand",
            with_urls=with_urls))

    for with_urls in (False, True):
        _fresh(index)
        rows, columns = answer(with_urls)
        assert [name for name, _ in columns] == (
            ["qid", "doc_id", "url", "score", "rank"] if with_urls
            else ["qid", "doc_id", "score", "rank"])
        assert rows and all(r[4] for r in rows) == with_urls
        for bound in ("SERVE_MAX_DOCS", "SERVE_MAX_PARTIAL_ROWS"):
            monkeypatch.setattr(T, bound, 0)
            _fresh(index)
            try:
                assert answer(with_urls) == (rows, columns), (bound,
                                                              with_urls)
                st = index._serve_state
                assert (st is False) == (bound == "SERVE_MAX_DOCS")
                assert not st or st.doc_ids is None  # the window joins docs
            finally:
                monkeypatch.undo()
                _fresh(index)


def test_docmap_urls_across_docid_gaps(spark, index, queries):
    """The serve state's docmap names every hit of the serve path and of
    the batch driver merge with the URL the index.docs join gives, on an
    index whose span-aligned buckets leave docID gaps. It is fetched
    once per serve state, on the first with_urls call: a repeat with_urls
    call starts no job beyond the call's own."""
    from pisa_spark.operators import topk as T

    url_of = {int(r.doc_id): r.url
              for r in index.docs.select("doc_id", "url").collect()}
    assert max(url_of) + 1 > len(url_of)  # docID gaps
    _fresh(index)
    try:
        serve = T.topk_search(index, queries, k=K, with_urls=True)
        st = index._serve_state
        doc_ids = st.doc_ids
        assert doc_ids is not None
        batch = T.topk_search_batch(index, queries, k=K, with_urls=True)
        assert st.doc_ids is doc_ids  # not fetched again
        for df in (serve, batch):
            rows = df.collect()
            assert rows and all(r.url == url_of[r.doc_id] for r in rows)
        def call(search, with_urls=True):
            return lambda: _ranked(search(index, queries, k=K,
                                          with_urls=with_urls))

        (serve_rows, _), serve_jobs = _jobs_of(
            spark, "docmap-serve", call(T.topk_search))
        assert serve_jobs == 0  # prefetched rows, docmap already resident
        _, plain_jobs = _jobs_of(spark, "docmap-plain",
                                 call(T.topk_search_batch, False))
        (batch_rows, _), batch_jobs = _jobs_of(
            spark, "docmap-batch", call(T.topk_search_batch))
        assert batch_jobs == plain_jobs
        assert batch_rows == serve_rows
    finally:
        _fresh(index)


def test_batch_driver_merge_is_one_job(spark, index, queries):
    """A warm topk_search_batch(..., with_urls=True) call collected on
    the driver-merge route runs exactly one Spark job: the traversal.
    The k-merge and the URL lookup run on the driver and the returned
    DataFrame is driver-local."""
    from pisa_spark.operators.topk import topk_search_batch

    def call():
        return topk_search_batch(index, queries, k=K,
                                 algorithm="block_max_wand",
                                 with_urls=True).collect()

    _fresh(index)
    try:
        call()  # builds the serve state and fetches the docmap
        rows, jobs = _jobs_of(spark, "batch-one-job", call)
        assert rows and jobs == 1
    finally:
        _fresh(index)


# ------------------------------------------- batch grouping rank identity

def _exact(rows):
    """(qid, rank, doc_id, float32 score) — ties and scores exact."""
    return sorted((r.qid, int(r.rank), int(r.doc_id), np.float32(r.score))
                  for r in rows)


@pytest.fixture(scope="module")
def small_shard_index(spark, corpus):
    """Many more shards than tasks, so every batch task holds several."""
    cfg = IndexConfig(shard_span=16)
    idx = build_index(extract_pages(spark.createDataFrame(corpus), cfg), cfg)
    assert idx.shards.count() > 2 * spark.sparkContext.defaultParallelism
    return idx


def _join_oracle(spark, index, queries, algorithm="ranked_or", **kw):
    """Answers of topk_search for a DataFrame query set over the forced
    shard-joined route: the batch executor, one shard per group. Pinned
    to the pure-Python reference by test_oracle_matches_pure_python."""
    qdf = _query_df(spark, index, queries)
    with _shard_joined(index):
        return _exact(topk_search(index, qdf, k=K, algorithm=algorithm,
                                  with_urls=False, **kw).collect())


@pytest.fixture(scope="module")
def small_shard_oracle(spark, small_shard_index, queries):
    """Exhaustive answers: ranked_or for the disjunctive algorithms,
    ranked_and for the conjunctive ones."""
    return {alg: _join_oracle(spark, small_shard_index, queries, alg)
            for alg in ("ranked_or", "ranked_and")}


def _batch(index, queries, alg, **kw):
    from pisa_spark.operators.topk import topk_search_batch

    return _exact(topk_search_batch(index, queries, k=K, algorithm=alg,
                                    range_span=64, **kw).collect())


def _fresh(index):
    if hasattr(index, "_serve_state"):
        del index._serve_state


@pytest.mark.parametrize("setting", ["shards_per_task", "tiny_groups",
                                     "mid_groups", "join_fallback",
                                     "window_merge", "small_arrow_batches"])
def test_batch_grouping_identity(spark, small_shard_index, small_shard_oracle,
                                 queries, monkeypatch, setting):
    """Every algorithm through topk_search_batch equals the exhaustive
    oracle whether a task's shards traverse as one group, as several
    groups (a small SERVE_COLLECT_MAX_POSTINGS budget), one shard at a
    time (the join fallback above the serve bounds), or as groups whose
    shards span many 3-row Arrow batches, and whether the partial rows
    are merged on the driver or by the window plan (above
    SERVE_MAX_PARTIAL_ROWS)."""
    from pisa_spark.operators import topk as T

    batch_conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    restore = spark.conf.get(batch_conf)
    if setting == "tiny_groups":
        monkeypatch.setattr(T, "SERVE_COLLECT_MAX_POSTINGS", 1)
    elif setting == "mid_groups":
        monkeypatch.setattr(T, "SERVE_COLLECT_MAX_POSTINGS", 300)
    elif setting == "join_fallback":
        monkeypatch.setattr(T, "SERVE_MAX_DOCS", 0)
    elif setting == "window_merge":
        monkeypatch.setattr(T, "SERVE_MAX_PARTIAL_ROWS", 0)
    elif setting == "small_arrow_batches":
        spark.conf.set(batch_conf, "3")
    _fresh(small_shard_index)
    try:
        for alg in T.ALGORITHMS:
            conj = alg in ("ranked_and", "block_max_ranked_and")
            want = small_shard_oracle["ranked_and" if conj else "ranked_or"]
            assert _batch(small_shard_index, queries, alg) == want, \
                (setting, alg)
        st = small_shard_index._serve_state
        assert (st is False) == (setting == "join_fallback")
    finally:
        spark.conf.set(batch_conf, restore)
        _fresh(small_shard_index)


def test_batch_weighted_and_thresholds(spark, small_shard_index, queries,
                                       small_shard_oracle):
    """Weighted queries (merged runs keyed by (term_id, weight)) and
    threshold seeding go through the batch traversal unchanged."""
    # a repeated first term gives it weight 2 or more
    wq = [f"W{i}:{q.split(':', 1)[1]} {q.split(':', 1)[1].split()[0]}"
          for i, q in enumerate(queries)]
    want = _join_oracle(spark, small_shard_index, wq, weighted=True)
    _fresh(small_shard_index)
    for alg in ("ranked_or", "maxscore", "block_max_wand"):
        assert _batch(small_shard_index, wq, alg, weighted=True) == want, alg
    # seed every query with its true k-th score (tools/thresholds.cpp)
    oracle = small_shard_oracle["ranked_or"]
    kth = {qid: float(score) for qid, rank, _doc, score in oracle
           if rank == K}
    assert kth
    for alg in ("maxscore", "block_max_wand"):
        assert _batch(small_shard_index, queries, alg,
                      thresholds=kth) == oracle, alg
    _fresh(small_shard_index)


def test_serve_distributed_mode_identity(small_shard_index, small_shard_oracle,
                                         queries, monkeypatch):
    """Term sets above the driver fetch bound, and merges above
    SERVE_MAX_PARTIAL_ROWS, make the serve path decline to the batch
    executor (no rows fetched to the driver); its answers equal the
    exhaustive oracle, with the serve path's column names and types."""
    from pisa_spark.operators import topk as T

    def columns(df):
        return [(f.name, f.dataType) for f in df.schema.fields]

    _fresh(small_shard_index)
    want_columns = columns(T.topk_search(small_shard_index, queries, k=K,
                                         range_span=64, with_urls=False))
    for bound in ("SERVE_COLLECT_MAX_POSTINGS", "SERVE_MAX_PARTIAL_ROWS"):
        monkeypatch.setattr(T, "SERVE_CACHE_MAX_POSTINGS", 1)  # no prefetch
        monkeypatch.setattr(T, bound, 0)
        _fresh(small_shard_index)
        try:
            for alg in ("block_max_wand", "maxscore", "ranked_or"):
                df = T.topk_search(small_shard_index, queries, k=K,
                                   algorithm=alg, range_span=64,
                                   with_urls=False)
                assert columns(df) == want_columns, (bound, alg)
                assert _exact(df.collect()) == \
                    small_shard_oracle["ranked_or"], (bound, alg)
            st = small_shard_index._serve_state
            assert not st.rows_by_term and not st.term_runs  # nothing fetched
        finally:
            monkeypatch.undo()
            _fresh(small_shard_index)


@pytest.mark.parametrize("key", ["term", "term_id"])
def test_vocabulary_filter_escapes_terms(spark, key):
    """The vocabulary filter keeps exactly the posting rows of the query
    terms — quotes, backslashes, % and non-ASCII included — on both
    posting key types, and plans the same predicate as Column.isin."""
    import types

    from pyspark.sql import functions as F

    from pisa_spark.operators import topk as T

    vocab = ["it's", "it", "s", "back\\slash", "back", "\\'", "''",
             "100%", "100", "%", "naïve", "naive", "日本語", "a\\nb", "x"]
    wanted = ["it's", "back\\slash", "\\'", "''", "100%", "%", "naïve",
              "日本語", "a\\nb"]
    rows = [(t, i, n) for i, t in enumerate(vocab) for n in range(1, 3)]
    df = spark.createDataFrame(rows, "term string, term_id long, n long")
    plan = types.SimpleNamespace(
        tid_of_term={t: i for i, t in enumerate(vocab)})
    index = (types.SimpleNamespace(postings_str=df.drop("term_id"))
             if key == "term" else types.SimpleNamespace(postings=df))
    got = T._term_postings(index, plan, wanted).collect()
    values = wanted if key == "term" else [vocab.index(t) for t in wanted]
    assert sorted((r[key], r["n"]) for r in got) == sorted(
        (v, n) for v in values for n in (1, 2))

    def optimized(col):
        return df.filter(col)._jdf.queryExecution().optimizedPlan().toString()

    assert optimized(T._in_values(key, values)) == \
        optimized(F.col(key).isin(values))
    assert not df.filter(T._in_values(key, [])).collect()


def test_serve_state_concurrent_callers(index, queries, monkeypatch):
    """8 threads issuing mixed queries against one index through the serve
    path (fetches, FIFO eviction, run building and the first docmap fetch
    under a cache budget far below the index) rank exactly as a serial
    run, and the cache's posting count matches the rows it holds."""
    import threading

    from pisa_spark.operators import topk as T

    def key(rows):
        return sorted((r.qid, r.rank, r.doc_id, round(float(r.score), 6),
                       r.url if "url" in r else None) for r in rows)

    algs = ("block_max_wand", "maxscore", "ranked_or", "ranked_and")
    calls = [(queries[(7 * i) % len(queries):][:6], algs[i % len(algs)],
              i % 3 == 0, i % 2 == 1) for i in range(24)]

    def answer(call):
        qs, alg, weighted, with_urls = call
        return key(T.topk_search(index, qs, k=K, algorithm=alg,
                                 weighted=weighted, with_urls=with_urls)
                   .collect())

    _fresh(index)
    serial = [answer(c) for c in calls]
    total = sum(m[1] for m in index._serve_state.tmeta.values())
    monkeypatch.setattr(T, "SERVE_CACHE_MAX_POSTINGS", total // 8)
    _fresh(index)
    got, errors = [None] * len(calls), []

    def worker(t):
        try:
            for i in range(t, len(calls), 8):
                got[i] = answer(calls[i])
        except Exception as e:  # surfaced below
            errors.append(e)

    threads = [threading.Thread(target=worker, args=(t,)) for t in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors
    assert got == serial
    st = index._serve_state
    assert not st.complete and st.rows_by_term
    assert st.cached_postings == sum(T._postings_in(rows)
                                     for rows in st.rows_by_term.values())
    cached_tids = {st.tmeta[t][0] for t in st.rows_by_term}
    assert {tid for tid, _ in st.term_runs} <= cached_tids
    assert st.doc_ids.size == len(st.urls) == index.docs.count()
    _fresh(index)
