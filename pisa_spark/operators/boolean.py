"""Unranked boolean operators and index-metadata tools.

DataFrame compositions over the decoded posting table — the shapes Catalyst
already executes well (semi-joins, counts), so no custom kernels:

- and_query (reference query/algorithm/and_query.hpp:18-65): docs containing
  every query term == groupBy(doc).count == n_terms over the postings of the
  query's terms (sort-merge/hash join ≡ the skipping loop).
- or_query<with_freqs> (or_query.hpp:12-48): union size / total postings.
- Intersection::compute (include/pisa/intersection.hpp:13-97): posting count
  + max single-doc score sum of an arbitrary term subset.
- index_posting_totals / extract_maxscores (tools/*.cpp): one-line
  aggregations over the metadata tables.

Query terms resolve through topk.resolve_query_terms, as for every other
query consumer: list and DataFrame query sets give the same rows.
"""

from __future__ import annotations

from pisa_spark.operators.postings import decode_postings
from pisa_spark.operators.topk import (_in_values, resolve_query_terms,
                                       topk_search)
from pisa_spark.session import local_frame


def _query_postings(index, queries):
    """Flat postings restricted to the query terms: (qid, term_id, doc_id,
    tf, n_query_terms). Join-before-decode so only needed runs decode.

    Query terms resolve on the driver (resolve_query_terms; the reference
    loads the lexicon into memory before query eval,
    tools/queries.cpp:279-340): the distributed plan then needs no
    lexicon join, no per-qid window, and no distinct exchange — the
    postings restriction is one IN filter pushed into the cached scan and
    the tiny query table is broadcast. A (qid, term) counts once."""
    from collections import Counter

    from pyspark.sql import functions as F

    _, rows = resolve_query_terms(index, queries)
    n_terms = Counter(qid for qid, *_ in rows)
    q = local_frame(
        index.lexicon.sparkSession,
        [(qid, tid, n_terms[qid]) for qid, _, tid, *_ in rows],
        "qid string, term_id long, n_query_terms int")
    flat = decode_postings(index.postings.filter(
        _in_values("term_id", sorted({row[2] for row in rows}))), index.cfg)
    return F.broadcast(q).join(flat, "term_id")


def and_query(index, queries):
    """(qid, doc_id) pairs where the doc contains ALL query terms."""
    from pyspark.sql import functions as F

    qp = _query_postings(index, queries)
    return (
        qp.groupBy("qid", "doc_id", "n_query_terms")
        .agg(F.count("*").alias("n_present"))
        .filter(F.col("n_present") == F.col("n_query_terms"))
        .select("qid", "doc_id")
    )


def and_count(index, queries):
    from pyspark.sql import functions as F

    return and_query(index, queries).groupBy("qid").agg(
        F.count("*").alias("n_docs"))


def or_count(index, queries, with_freqs: bool = False):
    """Union size per query; with_freqs counts total postings instead
    (or_query<true>, or_query.hpp:12-48)."""
    from pyspark.sql import functions as F

    qp = _query_postings(index, queries)
    if with_freqs:
        return qp.groupBy("qid").agg(F.count("*").alias("n_postings"))
    return qp.select("qid", "doc_id").distinct().groupBy("qid").agg(
        F.count("*").alias("n_docs"))


def intersection_compute(index, queries, k_for_scores: int = 1_000_000):
    """Per query: intersection posting count + max summed score over the
    intersection (reference Intersection::compute, intersection.hpp:41-74).
    Returns (qid, size, max_score)."""
    from pyspark.sql import functions as F

    inter = and_query(index, queries)
    sizes = inter.groupBy("qid").agg(F.count("*").alias("size"))
    # scores of intersection docs: conjunction executor at large k
    scored = topk_search(index, queries, k=k_for_scores,
                         algorithm="ranked_and")
    maxes = scored.groupBy("qid").agg(F.max("score").alias("max_score"))
    return sizes.join(maxes, "qid", "left")


def index_posting_totals(index):
    """Whole-index posting totals (tools/count_postings.cpp run without a
    query file). Renamed from count_postings: tools.count_postings is the
    per-QUERY variant — same reference tool, different granularity."""
    from pyspark.sql import functions as F

    return index.lexicon.agg(
        F.sum("df").alias("total_postings"),
        F.sum("cf").alias("total_occurrences"),
        F.count("*").alias("n_terms"))


def extract_maxscores(index):
    """(term, max_score) — tools/extract_maxscores.cpp."""
    return index.lexicon.select("term", "term_id", "max_score")

