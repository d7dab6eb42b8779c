"""Document-ID reordering (reference tools/reorder_docids.cpp, SURVEY §2.6).

DocID assignment order controls gap sizes and therefore compressed index
size. Methods (reorder_docids.hpp:130-292, docs/src/guide/reordering.md):

- by URL: the default in plans/build.py (assign_rank_ids over url) — the
  cheap, large win for webtext; recursive graph bisection's own paper notes
  URL ordering captures most of the benefit.
- random (seeded): orderBy a seeded hash — the control/baseline.
- custom mapping: join a (doc_id -> new_doc_id) table.

reorder_index rebuilds an existing index under a new permutation by
decoding postings, renumbering, and re-encoding — the Spark equivalent of
permuting the uncompressed index in place.
"""

from __future__ import annotations

from pisa_spark.config import IndexConfig
from pisa_spark.operators.postings import decode_postings, encode_postings


def _rank_mapping(keyed, order_col: str, id_col: str = "doc_id"):
    """(id_col, new_doc_id): dense new ids in `order_col` order through the
    build's rank assignment. The slim mapping is persisted and
    materialized, then the rank cache (which carries the order keys) is
    released: a recompute could break ties in `order_col` differently."""
    from pisa_spark.plans.build import _sample_cuts, assign_rank_ids

    parts = keyed.sparkSession.sparkContext.defaultParallelism
    cuts = _sample_cuts(keyed, order_col, parts * 4)
    out, cache, _ = assign_rank_ids(keyed, order_col, "new_doc_id", cuts,
                                    parts)
    mapping = out.select(id_col, "new_doc_id").persist()
    mapping.count()
    cache.unpersist()
    return mapping


def random_mapping(docs, seed: int = 42):
    """(doc_id, new_doc_id): a seeded random permutation of the docID space
    (reorder_docids.hpp random strategy)."""
    from pyspark.sql import functions as F

    keyed = docs.select(
        "doc_id",
        F.xxhash64(F.concat_ws(":", F.lit(str(seed)),
                               F.col("doc_id").cast("string"))).alias("_rk"))
    return _rank_mapping(keyed, "_rk")


def url_mapping(docs):
    """(doc_id, new_doc_id) ordered by url (reordering.md:46-66)."""
    return _rank_mapping(docs.select("doc_id", "url"), "url")


def reorder_index(index, mapping, cfg: IndexConfig | None = None):
    """Rebuild index tables under a (doc_id -> new_doc_id) permutation.
    The lexicon's df/cf ride along for scorers that score at encode time
    (qld, pl2, dph)."""
    from pyspark.sql import functions as F

    from pisa_spark.plans.build import InvertedIndex, shards_of

    cfg = cfg or index.cfg
    flat = decode_postings(index.postings, cfg)
    docs2 = (
        index.docs.join(mapping, "doc_id")
        .select(F.col("new_doc_id").alias("doc_id"), "url", "doc_len")
        .withColumn("shard_id",
                    (F.col("doc_id") / F.lit(cfg.shard_span)).cast("long"))
    )
    tf2 = (
        flat.join(mapping, "doc_id")
        .select("term_id", F.col("new_doc_id").alias("doc_id"), "tf")
        .join(docs2.select("doc_id", "doc_len"), "doc_id")
        .join(index.lexicon.select("term_id", "df", "cf"), "term_id")
    )
    postings2 = encode_postings(tf2, cfg, index.stats)
    return InvertedIndex(docs=docs2, lexicon=index.lexicon,
                         postings=postings2.persist(),
                         shards=shards_of(docs2, cfg.shard_span).persist(),
                         stats=index.stats, cfg=cfg)


def recursive_graph_bisection(docs_terms, depth: int | None = None,
                              iterations: int = 5,
                              id_col: str = "doc_id", url_col: str = "url",
                              terms_col: str = "terms",
                              checkpoint_dir: str | None = None):
    """Recursive graph bisection (BP) docID reordering, Spark-distributed.

    Reference include/pisa/recursive_graph_bisection.hpp:31-369: recursively
    split the doc set in two; per iteration, compute per-side term degrees,
    per-doc move gains
        gain(d) = Σ_t expb(n_f, n_t, deg_f, deg_t)
                      − expb(n_f, n_t, deg_f−1, deg_t+1),
        expb(n1, n2, d1, d2) = d1·log2(n1) − d1·log2(d1+1)
                               + d2·log2(n2) − d2·log2(d2+1),
    then swap the rank-paired highest-gain docs of the two sides while
    gain_l + gain_r > 0; recurse to depth log2(n)−5 (reorder_docids.hpp:99).

    Spark re-expression: every tree node of a level is processed in the
    SAME jobs (node is a grouping column) — degrees are one groupBy, gains
    one join+sum, the swap sweep a rank-pair join (both gain sequences are
    sorted desc, so their pairwise-sum qualifying prefix equals the
    reference's sweep). Deviation from the reference, stated: swapped
    degrees update between iterations, not mid-sweep (the standard
    parallel-BP batching); with the recommended iteration counts the
    orderings converge to the same quality objective. Unlike the
    single-node reference, nothing here requires the forward index to fit
    in memory — at 100 TB the level-parallel jobs are plain shuffles.

    docs_terms: (doc_id, url, terms array) — e.g. from tokenize or
    bp_mapping(index). Returns (doc_id, new_doc_id).

    State handling: each (level, iteration) state lands as a parquet
    artifact through a BuildManifest, truncating lineage so job graphs stay
    O(1) deep. With checkpoint_dir set (reliable restart, north-rule
    lineage requirement) every artifact is kept and a killed multi-hour BP
    run resumes at the last finished iteration; without it the state lives
    in a session temp dir: superseded artifacts are pruned as the loop
    advances, and the final artifact (still lazily read by the returned
    mapping) is removed at interpreter exit. (localCheckpoint state is NOT used at all: besides dying with
    a lost executor, its unknown-stats LogicalRDD leaves trip a
    pathological BigInteger blow-up in Catalyst size estimation over the
    iteration's join-heavy plans — measured minutes of pure planning at
    6k docs vs 35 s end-to-end with parquet state.)
    """
    import math

    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from pisa_spark.plans.checkpoint import BuildManifest

    spark = docs_terms.sparkSession
    # The iteration state is ALWAYS parquet-backed: localCheckpoint state
    # (LogicalRDD leaves with unknown stats) trips a pathological
    # BigInteger blow-up in Catalyst's size-in-bytes estimation over the
    # iteration's join-heavy plans — a 6k-doc BP that takes 35 s with
    # parquet state never finished PLANNING with localCheckpoint. Parquet
    # relations carry real file sizes, and the artifacts double as restart
    # points. Without checkpoint_dir the state lives in a session temp dir
    # (same lifecycle as Spark's own spark-* scratch dirs) and is removed
    # at interpreter exit; pass checkpoint_dir to keep it for restart.
    _tmp_dir = None
    if checkpoint_dir is None:
        import atexit
        import shutil
        import tempfile

        _tmp_dir = tempfile.mkdtemp(prefix="pisa_bp_state_")
        # the FINAL state artifact stays on disk while the returned mapping
        # DataFrame lazily reads it, so the dir cannot be removed here;
        # register interpreter-exit cleanup so no-checkpoint BP calls do
        # not leak pisa_bp_state_* dirs across sessions
        atexit.register(shutil.rmtree, _tmp_dir, ignore_errors=True)
        manifest = BuildManifest(_tmp_dir)
    else:
        manifest = BuildManifest(checkpoint_dir)

    _last_tag: list = []

    def ckpt(df, tag: str):
        if not manifest.done(tag):
            manifest.write_df(tag, df)
        out = manifest.read_df(spark, tag)
        if _tmp_dir is not None:
            # session-temp mode: only the newest state is ever re-read, so
            # prune the superseded artifact (each is forward-index-sized)
            if _last_tag:
                import shutil

                shutil.rmtree(manifest.artifact_path(_last_tag[0]),
                              ignore_errors=True)
            _last_tag[:] = [tag]
        return out

    n = docs_terms.count()
    if depth is None:
        depth = max(1, int(math.log2(max(n, 2))) - 5)

    def assign_sides(df):
        # single window: ntile(2) gives the first ceil(n/2) rows tile 1 —
        # exactly the rn*2 <= cnt split, without a second count() window
        # (two stacked window specs over this join-heavy lineage trip a
        # pathological BigInteger blow-up in Catalyst's size-in-bytes
        # estimation: plan stats multiply Long.MaxValue leaf sizes across
        # the duplicated subtrees and planning spins for minutes)
        w = W.partitionBy("node").orderBy(url_col, id_col)
        return df.withColumn(
            "side", (F.ntile(2).over(w) - F.lit(1)).cast("int"))

    state = ckpt(assign_sides(
        docs_terms.select(id_col, url_col, terms_col)
        .withColumn("node", F.lit(0).cast("long"))), "bp/init")

    def log2p(c):  # log2 clamped at 0 for degree/size 0
        return F.log2(F.greatest(c.cast("double"), F.lit(1.0)))

    state = _bp_levels(state, depth, iterations,
                       manifest if _tmp_dir is None else None, spark, ckpt,
                       assign_sides, log2p, id_col, terms_col)

    # tree order (node path, then url inside leaves) IS the permutation
    keyed = state.select(
        id_col, F.format_string("%012d|%s", F.col("node"),
                                F.col(url_col)).alias("_k"))
    return _rank_mapping(keyed, "_k", id_col)


def _bp_levels(state, depth, iterations, manifest, spark, ckpt,
               assign_sides, log2p, id_col, terms_col):
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    for level in range(depth):
        for it in range(iterations):
            tag = f"bp/level={level}/iter={it}"
            if manifest is not None and manifest.done(tag):
                state = manifest.read_df(spark, tag)  # resume: skip compute
                continue
            flat = state.select(id_col, "node", "side",
                                F.explode(terms_col).alias("_t"))
            degs = flat.groupBy("node", "_t").agg(
                F.sum(F.when(F.col("side") == 0, 1).otherwise(0)).alias("_dl"),
                F.sum(F.when(F.col("side") == 1, 1).otherwise(0)).alias("_dr"))
            sizes = state.groupBy("node").agg(
                F.sum(F.when(F.col("side") == 0, 1).otherwise(0)).alias("_n0"),
                F.sum(F.when(F.col("side") == 1, 1).otherwise(0)).alias("_n1"))
            j = (flat.join(degs, ["node", "_t"])
                 .join(F.broadcast(sizes), "node"))
            fd = F.when(F.col("side") == 0, F.col("_dl")).otherwise(F.col("_dr"))
            td = F.when(F.col("side") == 0, F.col("_dr")).otherwise(F.col("_dl"))
            ln_f = log2p(F.when(F.col("side") == 0, F.col("_n0"))
                         .otherwise(F.col("_n1")))
            ln_t = log2p(F.when(F.col("side") == 0, F.col("_n1"))
                         .otherwise(F.col("_n0")))
            # expb(f,t) − expb(f−1,t+1), algebraically expanded
            term_gain = (
                ln_f - ln_t
                - fd * log2p(fd + 1) + (fd - 1) * log2p(fd)
                - td * log2p(td + 1) + (td + 1) * log2p(td + 2))
            gains = j.groupBy(id_col).agg(F.sum(term_gain).alias("_gain"))
            ranked = (state.join(gains, id_col, "left")
                      .withColumn("_gain", F.coalesce("_gain", F.lit(0.0)))
                      .withColumn("_r", F.row_number().over(
                          W.partitionBy("node", "side")
                          .orderBy(F.desc("_gain"), id_col))))
            lft = ranked.filter(F.col("side") == 0).select(
                "node", "_r", F.col(id_col).alias("_ld"),
                F.col("_gain").alias("_gl"))
            rgt = ranked.filter(F.col("side") == 1).select(
                "node", "_r", F.col(id_col).alias("_rd"),
                F.col("_gain").alias("_gr"))
            swaps = (lft.join(rgt, ["node", "_r"])
                     .filter(F.col("_gl") + F.col("_gr") > 0)
                     .select(F.explode(F.array("_ld", "_rd")).alias(id_col),
                             F.lit(1).alias("_sw")))
            state = ckpt((ranked.drop("_gain", "_r")
                          .join(swaps, id_col, "left")
                          .withColumn("side", F.when(F.col("_sw") == 1,
                                                     1 - F.col("side"))
                                      .otherwise(F.col("side")))
                          .drop("_sw")), tag)
        if level + 1 < depth:
            state = ckpt(assign_sides(
                state.withColumn(
                    "node", F.col("node") * 2 + F.col("side"))
            ), f"bp/level={level}/split")
        else:
            state = state.withColumn(
                "node", F.col("node") * 2 + F.col("side"))
    return state


def bp_mapping(index, cfg: IndexConfig | None = None,
               depth: int | None = None, iterations: int = 5,
               checkpoint_dir: str | None = None):
    """BP reorder mapping for an existing index: rebuild the per-doc term
    lists from the encoded postings (the reference's forward_index input,
    forward_index.hpp:1-151) and run recursive_graph_bisection."""
    from pyspark.sql import functions as F

    cfg = cfg or index.cfg
    flat = decode_postings(index.postings, cfg)
    grouped = (flat.groupBy("doc_id")
               .agg(F.collect_list("term_id").alias("terms")))
    # left join from docs: termless documents (e.g. empty extractions) must
    # still receive a slot in the permutation
    docs_terms = (index.docs.select("doc_id", "url")
                  .join(grouped, "doc_id", "left")
                  .withColumn("terms", F.coalesce(
                      "terms", F.array().cast("array<long>"))))
    return recursive_graph_bisection(docs_terms, depth=depth,
                                     iterations=iterations,
                                     checkpoint_dir=checkpoint_dir)


def compressed_size(index):
    """Total encoded posting bytes — the objective reordering minimizes
    (evaluate_collection_ordering analogue)."""
    from pyspark.sql import functions as F

    return index.postings.agg(
        (F.sum(F.length("docs_bin")) + F.sum(F.length("tfs_bin")))
        .alias("bytes")).collect()[0]["bytes"]
