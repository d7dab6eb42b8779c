"""Collection sharding + shard selection (reference SURVEY §2.7).

- partition_collection: the `partition_fwd_index` analogue
  (reference src/sharding.cpp:26-120, tools/partition_fwd_index.cpp):
  assign every document a shard either randomly (seeded, stable) or from an
  explicit (url -> shard) mapping table. In Spark the shard column IS the
  physical partitioning (write.partitionBy / repartition), so "splitting
  the forward index into files" becomes one column + one write.
- taily_shard_stats / taily_select: per-shard per-term score moments and
  the expected-score shard ranking they support (reference
  include/pisa/taily_stats.hpp:19-60, tools/taily_stats.cpp) — resource
  selection for selective search over many index shards.
"""

from __future__ import annotations

import pandas as pd


def partition_collection(docs_df, n_shards: int, method: str = "random",
                         seed: int = 1902741, mapping=None,
                         url_col: str = "url"):
    """Append a `shard` column.

    method="random": stable seeded assignment by url hash (the reference's
    random sharding shuffles titles with a fixed-seed RNG — same contract:
    deterministic given the seed, uniform in expectation).
    method="mapping": join an explicit (url, shard) table (the reference's
    shard title files).
    """
    from pyspark.sql import functions as F

    if method == "random":
        return docs_df.withColumn(
            "shard",
            F.pmod(F.xxhash64(F.col(url_col), F.lit(seed)),
                   F.lit(n_shards)).cast("int"))
    if method == "mapping":
        if mapping is None:
            raise ValueError("mapping DataFrame required")
        return docs_df.join(mapping, url_col)
    raise ValueError(f"unknown method {method!r}")


def taily_shard_stats(index):
    """Per (shard_id, term_id): posting count + score expectation/variance
    (taily_stats.hpp feature set, at shard granularity)."""
    from pyspark.sql import functions as F

    from pisa_spark.tools import scored_postings

    sp = scored_postings(index).withColumn(
        "shard_id",
        (F.col("doc_id") / F.lit(index.cfg.shard_span)).cast("long"))
    return sp.groupBy("shard_id", "term_id").agg(
        F.count("*").cast("long").alias("any"),
        F.avg("score").alias("expected_value"),
        F.var_pop("score").alias("variance"))


def _taily_query_moments(index, queries: list[str], shard_stats):
    """Per (qid, shard_id) Taily sufficient statistics: term-presence count,
    Σ ln(any_t/n_s) (log of the co-occurrence product), ΣE, ΣVar."""
    from pyspark.sql import functions as F

    from pisa_spark.operators.topk import query_terms_df

    qt = query_terms_df(index, queries).select("qid", "term_id")
    n_terms = qt.groupBy("qid").agg(F.count("*").alias("n_terms"))
    shard_sizes = index.shards.select(
        "shard_id", F.size("doc_lens").cast("double").alias("n_s"))
    per = (qt.join(shard_stats, "term_id")
           .join(shard_sizes, "shard_id")
           .groupBy("qid", "shard_id")
           .agg(F.count("*").alias("n_present"),
                F.sum(F.log(F.col("any") / F.col("n_s"))).alias("log_frac"),
                F.sum("expected_value").alias("e_sum"),
                F.sum("variance").alias("v_sum"),
                F.first("n_s").alias("n_s")))
    return per.join(n_terms, "qid")


def taily_thresholds(index, queries: list[str], n_c: int = 10,
                     shard_stats=None):
    """Per-query estimated score of the n_c-th ranked document, from the
    Taily gamma model over GLOBAL per-term moments (reference
    tools/taily_thresholds.cpp:17, taily_stats.hpp:19-60): docs containing
    all query terms are modeled as Gamma(k, theta) with k = E^2/Var,
    theta = Var/E summed over terms; the threshold solves
    any(Q) * Q_gamma(k, s/theta) = n_c. Estimates are UNSAFE seeds (the
    reference ships them for its unsafe pruning mode) — rank safety is the
    caller's trade-off."""
    import math

    from pyspark.sql import functions as F

    from pisa_spark.functions.gamma import gamma_tail_inverse
    from pisa_spark.operators.topk import query_terms_df
    from pisa_spark.session import local_frame

    stats = shard_stats if shard_stats is not None else taily_shard_stats(index)
    spark = index.lexicon.sparkSession
    n_docs = float(index.stats["num_docs"]) or 1.0
    # global per-term moments = any-weighted merge of the shard moments
    # (E[X] and E[X^2] are additive under the weights)
    gterm = (stats.groupBy("term_id")
             .agg(F.sum("any").alias("any"),
                  (F.sum(F.col("any") * F.col("expected_value"))
                   / F.sum("any")).alias("e"),
                  (F.sum(F.col("any") * (F.col("variance")
                   + F.col("expected_value") ** 2))
                   / F.sum("any")).alias("ex2")))
    qt = query_terms_df(index, queries).select("qid", "term_id")
    rows = (qt.join(gterm, "term_id")
            .groupBy("qid")
            .agg(F.sum(F.log(F.col("any") / F.lit(n_docs)))
                 .alias("log_frac"),
                 F.sum("e").alias("e_q"),
                 F.sum(F.col("ex2") - F.col("e") ** 2).alias("v_q"))
            .collect())
    out = []
    for r in rows:
        any_q = n_docs * math.exp(float(r["log_frac"]))
        e, v = float(r["e_q"]), float(r["v_q"] or 0.0)
        if any_q <= 0 or e <= 0 or v <= 0:
            out.append((r["qid"], 0.0))
            continue
        k, theta = e * e / v, v / e
        out.append((r["qid"], float(gamma_tail_inverse(
            any_q, k, theta, float(n_c)))))
    return local_frame(spark, out, "qid string, threshold double")


def taily_select_gamma(index, queries: list[str], n_shards_out: int = 2,
                       n_c: int = 10, shard_stats=None):
    """Full Taily shard selection (Aly/Hiemstra/Demeester model, the method
    behind reference tools/taily_thresholds.cpp + taily_stats.hpp): per
    (query, shard), docs containing all query terms number
    any_s = n_s * Π_t(any_t,s / n_s) and score ~ Gamma(k_s, theta_s) fit
    from summed moments; shards rank by the expected count of docs above
    the global score cutoff s_c (itself the gamma-inverse of rank n_c).

    Returns (qid, shard_id, est_above, rank) with rank <= n_shards_out."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from pisa_spark.functions.gamma import gamma_tail_count

    stats = shard_stats if shard_stats is not None else taily_shard_stats(index)
    cutoffs = {r["qid"]: float(r["threshold"])
               for r in taily_thresholds(index, queries, n_c, stats).collect()}
    per = _taily_query_moments(index, queries, stats)
    spark = index.lexicon.sparkSession
    bc = spark.sparkContext.broadcast(cutoffs)

    @F.pandas_udf("double")
    def _tail(qid: pd.Series, n_present: pd.Series, n_terms: pd.Series,
              log_frac: pd.Series, e_sum: pd.Series, v_sum: pd.Series,
              n_s: pd.Series) -> pd.Series:
        cut = bc.value
        out = []
        for q, npres, nt, lf, e, v, ns in zip(
                qid, n_present, n_terms, log_frac, e_sum, v_sum, n_s):
            if npres < nt or e is None or e <= 0 or not v or v <= 0:
                out.append(0.0)
                continue
            import math

            any_s = float(ns) * math.exp(float(lf))
            k, theta = float(e) ** 2 / float(v), float(v) / float(e)
            out.append(gamma_tail_count(any_s, k, theta, cut.get(q, 0.0)))
        return pd.Series(out, dtype="float64")

    scored = per.withColumn("est_above", _tail(
        "qid", "n_present", "n_terms", "log_frac", "e_sum", "v_sum", "n_s"))
    w = W.partitionBy("qid").orderBy(F.desc("est_above"), F.asc("shard_id"))
    return (scored.select("qid", "shard_id", "est_above")
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= n_shards_out))


def taily_select(index, queries: list[str], n_shards_out: int = 2,
                 shard_stats=None):
    """Rank shards per query by expected aggregate score mass
    Σ_t any_t,s · E[score_t,s] — the first-moment core of Taily's
    resource-selection estimate (taily_select_gamma is the full
    gamma-tail method).

    Returns (qid, shard_id, mass, rank) with rank <= n_shards_out."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from pisa_spark.operators.topk import query_terms_df

    stats = shard_stats if shard_stats is not None else taily_shard_stats(index)
    qt = query_terms_df(index, queries).select("qid", "term_id")
    mass = (qt.join(stats, "term_id")
            .groupBy("qid", "shard_id")
            .agg(F.sum(F.col("any") * F.col("expected_value")).alias("mass")))
    w = W.partitionBy("qid").orderBy(F.desc("mass"), F.asc("shard_id"))
    return (mass.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= n_shards_out))
