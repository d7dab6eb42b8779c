"""One query resolution for every query consumer.

resolve_query_terms resolves a query set through the serve state's
driver lexicon when the index has one, else through one collect of the
lexicon rows of the set's vocabulary. Every consumer must return the same
rows on both routes, and a (qid, term) repeated in a DataFrame query set
must count once, as a term repeated in a query line does.
"""

import dataclasses

import pytest

from pisa_spark.config import IndexConfig
from pisa_spark.functions.tokenize import analyze_query_terms
from pisa_spark.operators import boolean, sharding
from pisa_spark.operators import topk as T
from pisa_spark.plans.build import build_index, extract_pages
from pisa_spark.sources import webtext
from pisa_spark import tools

QUERIES = webtext.synth_queries(8, seed=29) + ["QX:term0001 zzznope",
                                               "QN:zzznope"]

CONSUMERS = {
    "topk_search_batch": lambda idx, q: T.topk_search_batch(
        idx, q, k=5, algorithm="block_max_wand"),
    "and_count": boolean.and_count,
    "or_count": boolean.or_count,
    "or_count_freqs": lambda idx, q: boolean.or_count(idx, q,
                                                      with_freqs=True),
    "count_postings": tools.count_postings,
    "map_queries": tools.map_queries,
    "kth_threshold_pairs": lambda idx, q: tools.kth_threshold(
        idx, q, k=3, pairs=True),
    "intersection": tools.intersection,
    "taily_select": sharding.taily_select,
}


@pytest.fixture(scope="module")
def index(spark):
    cfg = IndexConfig(shard_span=32)
    pdf = webtext.generate_pandas(150, seed=13)
    return build_index(extract_pages(spark.createDataFrame(pdf), cfg), cfg)


def _fresh(index):
    if hasattr(index, "_serve_state"):
        del index._serve_state


def _rows(df):
    """Order-free rows; arrays as tuples, floats to 6 decimals."""
    def cell(v):
        if isinstance(v, list):
            return tuple(v)
        return round(v, 6) if isinstance(v, float) else v

    return sorted(tuple(cell(v) for v in r) for r in df.collect())


def test_resolution_routes_agree(index, monkeypatch):
    """Both lookups resolve the same rows; an unknown term drops and a
    query of unknown terms keeps its qid."""
    _fresh(index)
    qids, rows = T.resolve_query_terms(index, QUERIES)
    assert index._serve_state  # the driver lexicon served the lookup
    assert "QN" in qids and not any(r[0] == "QN" for r in rows)
    assert len({(r[0], r[1]) for r in rows}) == len(rows)
    monkeypatch.setattr(index, "cfg", dataclasses.replace(
        index.cfg, lexicon_broadcast_max=0))
    _fresh(index)
    assert T.resolve_query_terms(index, QUERIES) == (qids, rows)
    assert index._serve_state is False
    _fresh(index)


def test_query_terms_df_is_a_local_relation(index):
    """The resolved rows ship as one Arrow table (a LocalRelation, not a
    pickled-row RDD scan) with QUERY_TERMS_SCHEMA, the empty set
    included."""
    from pyspark.sql.types import _parse_datatype_string

    _fresh(index)
    schema = _parse_datatype_string(T.QUERY_TERMS_SCHEMA)
    for queries, n in ((QUERIES, len(T.resolve_query_terms(index,
                                                             QUERIES)[1])),
                       (["QN:zzznope"], 0)):
        df = T.query_terms_df(index, queries)
        assert df.schema == schema
        assert df.count() == n
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        assert plan.startswith("LocalRelation"), plan
    _fresh(index)


@pytest.mark.parametrize("name", sorted(CONSUMERS))
def test_driver_lexicon_equals_fallback(index, monkeypatch, name):
    """The driver-lexicon route and the forced lexicon-collect route
    (lexicon_broadcast_max shrunk, serve state cleared) return identical
    rows."""
    fn = CONSUMERS[name]
    _fresh(index)
    driver = _rows(fn(index, QUERIES))
    assert driver
    monkeypatch.setattr(index, "cfg", dataclasses.replace(
        index.cfg, lexicon_broadcast_max=0))
    _fresh(index)
    fallback = _rows(fn(index, QUERIES))
    assert index._serve_state is False
    assert fallback == driver
    monkeypatch.undo()
    _fresh(index)


@pytest.mark.parametrize("name", sorted(CONSUMERS))
def test_repeated_dataframe_term_counts_once(spark, index, name):
    """A DataFrame query set with a repeated (qid, term) row answers like
    the query lines it came from."""
    rows = analyze_query_terms(QUERIES, index.cfg)
    rows = rows + [r for r in rows if r[0] in ("Q0", "Q2")]
    qdf = spark.createDataFrame(rows,
                                "qid string, term string, weight double")
    fn = CONSUMERS[name]
    _fresh(index)
    assert _rows(fn(index, qdf)) == _rows(fn(index, QUERIES))
