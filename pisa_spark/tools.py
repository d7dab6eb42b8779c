"""Index/query tooling mirroring the reference CLI utilities.

Reference tools (tools/*.cpp) re-expressed as DataFrame queries over the
index tables:

- count_postings        (tools/count_postings.cpp)
- thresholds            (tools/thresholds.cpp: true k-th score per query)
- kth_threshold         (tools/kth_threshold.cpp: threshold lower bound
                         from the k-th best single-term / pair scores)
- intersection          (tools/compute_intersection.cpp /
                         include/pisa/intersection.hpp: posting count +
                         max score of term subsets)
- selective_queries     (tools/selective_queries.cpp: queries whose OR
                         candidate set is small relative to the corpus)
- sample_inverted_index (tools/sample_inverted_index.cpp)
- taily_stats           (include/pisa/taily_stats.hpp: per-term score
                         expectation/variance for shard selection)
- map_queries / stem_queries (tools/map_queries.cpp, tools/stem_queries.cpp)

All heavy paths stay DataFrame-shaped: decoded postings are produced by the
vectorized decode UDF (operators/postings.py) and scored by the same float32
numpy kernels as the executors, so thresholds produced here are safe seeds
for topk_search(thresholds=...).
"""

from __future__ import annotations

import itertools

import numpy as np
import pandas as pd

from pisa_spark.config import IndexConfig
from pisa_spark.functions.scoring import make_scorer
from pisa_spark.functions.tokenize import make_analyzer
from pisa_spark.operators.postings import decode_postings
from pisa_spark.operators.topk import query_terms_df, topk_search


def count_postings(index, queries: list[str]):
    """(qid, n_postings): total postings across the query's terms
    (reference tools/count_postings.cpp)."""
    from pyspark.sql import functions as F

    return (query_terms_df(index, queries)
            .groupBy("qid")
            .agg(F.sum("df").cast("long").alias("n_postings")))


def scored_postings(index, term_ids=None):
    """Flat (term_id, doc_id, tf, score float32) — every posting scored with
    the engine's exact float32 kernel. The doc_len comes from the docs
    table; the scorer's per-term stats from the lexicon.

    term_ids (list | DataFrame | None): restrict to these terms. The filter
    is applied to the ENCODED rows, before decode — mapInPandas is a
    pushdown barrier, so callers that only need query-term postings
    (intersection, kth_threshold) must not pay a whole-index decode."""
    from pyspark.sql import functions as F

    cfg = index.cfg
    scorer = make_scorer(cfg.scorer, cfg.scorer_params())
    stats = dict(index.stats)
    enc = index.postings
    if term_ids is not None:
        if isinstance(term_ids, (list, tuple, set)):
            enc = enc.filter(F.col("term_id").isin(list(term_ids)))
        else:  # DataFrame of term_id: broadcast semi-join below the decode
            enc = enc.join(
                F.broadcast(term_ids.select("term_id").distinct()),
                "term_id", "left_semi")
    flat = decode_postings(enc, cfg)
    joined = (flat
              .join(index.docs.select("doc_id", "doc_len"), "doc_id")
              .join(index.lexicon.select("term_id", "df", "cf"), "term_id"))

    @F.pandas_udf("float")
    def _score(tf: pd.Series, doc_len: pd.Series, df: pd.Series,
               cf: pd.Series) -> pd.Series:
        if scorer.separable:
            idf = scorer.idf(df.to_numpy(), stats["num_docs"])
            part = scorer.doc_part(tf.to_numpy(), doc_len.to_numpy(),
                                   stats["avg_len"])
            return pd.Series(idf.astype(np.float32) * part)
        # non-separable scorers accept per-row df/cf arrays
        return pd.Series(scorer.score(
            tf.to_numpy(), doc_len.to_numpy(),
            df=df.to_numpy(), cf=cf.to_numpy(),
            num_docs=stats["num_docs"], avg_len=stats["avg_len"],
            collection_len=stats["collection_len"]).astype(np.float32))

    return joined.select(
        "term_id", "doc_id", "tf",
        _score("tf", "doc_len", "df", "cf").alias("score"))


def thresholds(index, queries: list[str], k: int = 10,
               algorithm: str = "ranked_or"):
    """True k-th score per query (reference tools/thresholds.cpp). Queries
    with fewer than k results get threshold 0."""
    from pyspark.sql import functions as F

    res = topk_search(index, queries, k=k, algorithm=algorithm,
                      with_urls=False)
    return (res.filter(F.col("rank") == k)
            .select("qid", F.col("score").alias("threshold")))


def _subset_levels(qt, sp, max_terms: int):
    """Per level m = 1..max_terms, the (qid, doc_id, terms, _maxt, _s)
    rows of every size-m subset of a query's terms (qt: qid, term_id)
    over the docs holding all of them, with the summed score _s of their
    scored postings (sp). Level m joins one more term's postings per
    (qid, doc) onto level m-1, terms ascending (reference
    intersection.hpp Intersection::compute over bitmask subsets) — all
    JVM-side joins; a level is built only when it is consumed."""
    from pyspark.sql import functions as F

    qsp = qt.join(sp, "term_id").select("qid", "term_id", "doc_id", "score")
    if max_terms > 1:
        # localCheckpoint, not persist: every level joins qsp again, but
        # the result is lazy, so there is no safe unpersist point here
        # and a persist() would leak executor cache across repeated
        # calls. Checkpoint blocks are freed by the ContextCleaner once
        # the result DataFrame is unreachable.
        qsp = qsp.localCheckpoint(eager=False)
    cur = qsp.select(
        "qid", "doc_id",
        F.array("term_id").alias("terms"),
        F.col("term_id").alias("_maxt"),
        F.col("score").cast("double").alias("_s"))
    ext = qsp.select("qid", "doc_id",
                     F.col("term_id").alias("_t"),
                     F.col("score").cast("double").alias("_es"))
    for m in range(1, max_terms + 1):
        if m > 1:
            cur = (cur.join(ext, ["qid", "doc_id"])
                   .filter(F.col("_t") > F.col("_maxt"))
                   .select("qid", "doc_id",
                           F.array_append("terms", F.col("_t")).alias("terms"),
                           F.col("_t").alias("_maxt"),
                           (F.col("_s") + F.col("_es")).alias("_s")))
        yield cur


def kth_threshold(index, queries: list[str], k: int = 10,
                  pairs: bool = False, triples: bool = False):
    """Threshold lower bound per query (reference tools/kth_threshold.cpp):

    - single-term estimate: max over the query's terms of the k-th best
      single-posting score (kth_threshold.cpp single-term loop);
    - with pairs=True, additionally the k-th best PAIRWISE intersection
      score (sum of the two contributions per shared doc,
      kth_threshold.cpp:52-90) — tighter on conjunctive-ish queries;
    - with triples=True, additionally the k-th best TRIPLE intersection
      score (same reference loop accepts a triples file).

    All estimates are true scores of real docs, so the max is a safe
    (rank-preserving) seed for topk_search(thresholds=...). Size-m doc
    intersections build level-wise on size-(m-1) ones (one join per level,
    same shape as intersection())."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    qt = query_terms_df(index, queries).select("qid", "term_id")
    # decode only the query vocabulary (filter pushed below the decode)
    sp = scored_postings(index, term_ids=qt)
    w = W.partitionBy("term_id").orderBy(F.desc("score"), F.asc("doc_id"))
    kth_per_term = (sp.withColumn("_r", F.row_number().over(w))
                    .filter(F.col("_r") == k)
                    .select("term_id", F.col("score").alias("kth")))
    est = (qt.join(kth_per_term, "term_id")
           .groupBy("qid").agg(F.max("kth").alias("threshold")))
    max_terms = 3 if triples else (2 if pairs else 1)
    if max_terms == 1:
        return est
    seeds = []
    for cur in itertools.islice(_subset_levels(qt, sp, max_terms), 1, None):
        wm = W.partitionBy("qid", "terms").orderBy(
            F.desc("_s"), F.asc("doc_id"))
        seeds.append(
            cur.withColumn("_r", F.row_number().over(wm))
            .filter(F.col("_r") == k)
            .groupBy("qid")
            .agg(F.max(F.col("_s").cast("float")).alias("sub_threshold")))
    sub = seeds[0]
    for s in seeds[1:]:
        sub = sub.unionByName(s)
    sub_kth = sub.groupBy("qid").agg(
        F.max("sub_threshold").alias("sub_threshold"))
    return (est.join(sub_kth, "qid", "left")
            .select("qid", F.greatest(
                "threshold", F.coalesce("sub_threshold", F.lit(0.0)))
                .cast("float").alias("threshold")))


def intersection(index, queries: list[str], max_terms: int = 2):
    """Posting count + max score of every term subset of size 1..max_terms
    per query (reference include/pisa/intersection.hpp Intersection::compute
    over bitmask subsets, tools/compute_intersection.cpp --combinations
    --max-term-count).

    Returns (qid, terms array<long> sorted, n_postings, max_score). Size-m
    subsets build on size-(m-1) doc intersections by joining one more term's
    postings per (qid, doc) — all JVM-side joins/aggregations; the decode
    touches only the query vocabulary."""
    from pyspark.sql import functions as F

    if max_terms < 1:
        raise ValueError("max_terms must be >= 1")
    qt = query_terms_df(index, queries).select("qid", "term_id")
    sp = scored_postings(index, term_ids=qt)
    levels = [cur.groupBy("qid", "terms").agg(
                  F.count("*").cast("long").alias("n_postings"),
                  F.max("_s").alias("max_score"))
              for cur in _subset_levels(qt, sp, max_terms)]
    out = levels[0]
    for lv in levels[1:]:
        out = out.unionByName(lv)
    return out


def selective_queries(index, queries: list[str], max_ratio: float = 0.01):
    """Queries whose OR-candidate set is under max_ratio of the corpus
    (reference tools/selective_queries.cpp)."""
    from pyspark.sql import functions as F

    from pisa_spark.operators.boolean import or_count

    n = index.stats["num_docs"] or 1
    return (or_count(index, queries)
            .withColumn("selectivity", F.col("n_docs") / F.lit(float(n)))
            .filter(F.col("selectivity") < max_ratio)
            .select("qid", "n_docs", "selectivity"))


def sample_inverted_index(index, fraction: float, seed: int = 13):
    """Posting-list subsample: keeps each (shard, term) row with prob
    `fraction` (reference tools/sample_inverted_index.cpp samples postings;
    rows here are bounded runs, the unit the engine shards by)."""
    return index.postings.sample(False, fraction, seed=seed)


def taily_stats(index):
    """Per-term score expectation/variance + df over the full index
    (reference include/pisa/taily_stats.hpp feature set: any = df,
    expected_value = E[score], variance = Var[score])."""
    from pyspark.sql import functions as F

    sp = scored_postings(index)
    return sp.groupBy("term_id").agg(
        F.count("*").cast("long").alias("any"),
        F.avg("score").alias("expected_value"),
        F.var_pop("score").alias("variance"),
    )


def map_queries(index, queries: list[str]):
    """Query text -> term_ids (reference tools/map_queries.cpp); unknown
    terms dropped like the query parser."""
    from pyspark.sql import functions as F

    return (query_terms_df(index, queries)
            .groupBy("qid")
            .agg(F.sort_array(F.collect_list("term_id")).alias("term_ids")))


def stem_queries(queries: list[str], cfg: IndexConfig | None = None):
    """Rewrite query lines through the analyzer incl. the Porter2 stemmer
    (reference tools/stem_queries.cpp). Pure driver-side transform."""
    cfg = cfg or IndexConfig(stemmer="porter2")
    analyze = make_analyzer(cfg)
    out = []
    for i, line in enumerate(queries):
        line = line.strip()
        if not line:
            continue
        if ":" in line.split(" ", 1)[0]:
            qid, _, rest = line.partition(":")
        else:
            qid, rest = str(i), line
        out.append(f"{qid}:{' '.join(analyze(rest))}")
    return out
