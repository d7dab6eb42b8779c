"""Boolean/conjunction operators vs brute-force reference."""

import collections

import pytest

from pisa_spark.config import IndexConfig
from pisa_spark.functions.tokenize import analyze_query_terms, make_analyzer
from pisa_spark.operators.boolean import and_count, and_query, or_count
from pisa_spark.operators.topk import topk_search
from pisa_spark.tools import thresholds
from pisa_spark.plans.build import build_index, extract_pages
from pisa_spark.sources import webtext

N_DOCS = 250


@pytest.fixture(scope="module")
def corpus():
    return webtext.generate_pandas(N_DOCS, seed=13)


@pytest.fixture(scope="module")
def index(spark, corpus):
    cfg = IndexConfig(shard_span=64)
    return build_index(extract_pages(spark.createDataFrame(corpus), cfg), cfg)


@pytest.fixture(scope="module")
def doc_sets(corpus):
    """Expected per-term doc sets keyed by URL — internal doc_ids are
    opaque (bucket offsets are span-aligned, so the id space has holes at
    bucket seams); parity is checked on the url surface."""
    cfg = IndexConfig()
    analyze = make_analyzer(cfg)
    en = corpus[corpus.lang == "en"]
    sets: dict = collections.defaultdict(set)
    for url, text in zip(en["url"], en["text"]):
        for t in analyze(text):
            sets[t].add(url)
    return sets


@pytest.fixture(scope="module")
def url_of(index):
    return {int(r["doc_id"]): r["url"]
            for r in index.docs.select("doc_id", "url").collect()}


QUERIES = ["Q0:term0000 term0003", "Q1:term0001 term0090 term0058",
           "Q2:the term1999", "Q3:term0007"]


def _expected(doc_sets, op):
    cfg = IndexConfig()
    out = {}
    for qid, g in _group(analyze_query_terms(QUERIES, cfg)).items():
        terms = [t for t in g if t in doc_sets]
        if len(terms) != len(g):
            sel = [doc_sets[t] for t in terms] if terms else []
        else:
            sel = [doc_sets[t] for t in terms]
        if not sel:
            continue
        out[qid] = op(sel)
    return out


def _group(rows):
    g = collections.defaultdict(list)
    for qid, term, _ in rows:
        g[qid].append(term)
    return g


def test_and_query_matches_set_intersection(index, doc_sets, url_of):
    got: dict = collections.defaultdict(set)
    for r in and_query(index, QUERIES).collect():
        got[r.qid].add(url_of[r.doc_id])
    exp = _expected(doc_sets, lambda sel: set.intersection(*sel))
    exp = {q: s for q, s in exp.items() if s}
    assert dict(got) == exp


def test_or_count_matches_set_union(index, doc_sets):
    got = {r.qid: r.n_docs for r in or_count(index, QUERIES).collect()}
    exp = {q: len(s) for q, s in
           _expected(doc_sets, lambda sel: set.union(*sel)).items()}
    assert got == exp


def test_ranked_and_matches_filtered_ranked_or(index):
    """Conjunction top-k == exhaustive top-k restricted to AND docs."""
    and_docs = {(r.qid, r.doc_id) for r in and_query(index, QUERIES).collect()}
    full = topk_search(index, QUERIES, k=1000, algorithm="ranked_or").toPandas()
    for alg in ("ranked_and", "block_max_ranked_and"):
        got = topk_search(index, QUERIES, k=10, algorithm=alg).toPandas()
        got_pairs = {
            q: [(r.doc_id, r.score) for r in g.sort_values("rank").itertuples()]
            for q, g in got.groupby("qid")
        }
        exp_pairs = {}
        for q, g in full.groupby("qid"):
            rows = [(r.doc_id, r.score) for r in g.sort_values("rank").itertuples()
                    if (q, r.doc_id) in and_docs][:10]
            if rows:
                exp_pairs[q] = rows
        assert got_pairs == exp_pairs, alg


def test_thresholds_tool(index):
    thr = {r.qid: r.threshold for r in thresholds(index, QUERIES, k=5).collect()}
    res = topk_search(index, QUERIES, k=5).toPandas()
    for q, g in res.groupby("qid"):
        if len(g) == 5:
            assert thr[q] == g.sort_values("rank").iloc[-1].score
