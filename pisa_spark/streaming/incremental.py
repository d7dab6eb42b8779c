"""Incremental (micro-batch) index ingestion via Structured Streaming.

The reference is batch-only (SURVEY §2.10) — its closest feature is the
resumable `parse_collection merge` over batch files. This module goes one
step further in the Spark-native direction: `readStream` over a growing
web-pages source, with each micro-batch running the SAME build stages
(tokenize -> docIDs -> encode) through foreachBatch and appending a
SEGMENT to the on-disk index:

- docID space: each segment gets a fresh base aligned UP to the shard span,
  so a shard never spans segments, doc_lens arrays stay per-shard dense,
  and (shard, term) runs from different segments are disjoint doc ranges —
  exactly the multi-run layout the query kernels already merge.
- lexicon: new terms append with the next free term_ids (stable ids across
  segments; global df/cf re-aggregate from the encoded rows at load).
- score safety under drifting collection stats: BM25's stored block-max
  parts were computed with the segment's avg_len. For a query-time
  avg_len', part(avg')/part(avg) <= max(1, avg'/avg) (cross-multiplying
  f/(f + c + d/avg) shows the ratio is bounded by avg'/avg), so load-time
  bounds are multiplied by that factor per segment — bounds stay upper
  bounds, kernels re-score candidates exactly, rank identity holds.
"""

from __future__ import annotations

import json
import os

from pisa_spark.config import DEFAULT_CONFIG, IndexConfig
from pisa_spark.session import local_frame


def _seg_meta_path(out_dir: str) -> str:
    return os.path.join(out_dir, "segments.json")


def _load_segments(out_dir: str) -> dict:
    p = _seg_meta_path(out_dir)
    if os.path.exists(p):
        with open(p) as f:
            return json.load(f)
    return {"segments": [], "next_base": 0, "next_term_id": 0}


def _save_segments(out_dir: str, state: dict) -> None:
    tmp = _seg_meta_path(out_dir) + ".tmp"
    with open(tmp, "w") as f:
        json.dump(state, f, indent=1)
    os.replace(tmp, _seg_meta_path(out_dir))


def ingest_batch(batch_df, out_dir: str, cfg: IndexConfig = DEFAULT_CONFIG,
                 html_col: str | None = "html",
                 batch_id: int | None = None) -> dict:
    """Append one micro-batch of pages as a new index segment. Returns the
    segment record. Driven by foreachBatch (or called directly for tests /
    backfills).

    Idempotent per batch_id: foreachBatch replays a micro-batch when the
    engine crashes between our segment commit and the streaming checkpoint
    commit; a batch_id already recorded in segments.json is skipped instead
    of being appended again with fresh docIDs (duplicate docs).

    Segments encode only with a scorer without needs_term_stats (bm25,
    quantized): a scorer that needs per-term df/cf at encode time, or a
    quantize_bits pass, would need collection-wide stats and one global
    max score that no single segment has. Such a config is rejected
    before any Spark job."""
    from pyspark.sql import functions as F

    from pisa_spark.plans.build import (_encode_str, _sample_cuts,
                                        _term_stats_needed, assign_rank_ids,
                                        doc_term_counts, join_term_ids)

    if _term_stats_needed(cfg):
        raise ValueError(
            f"ingest_batch cannot encode scorer={cfg.scorer!r} with "
            f"quantize_bits={cfg.quantize_bits!r}: per-term stats and "
            "quantization need the whole collection; build the index "
            "with build_index instead")
    spark = batch_df.sparkSession
    state = _load_segments(out_dir)
    if batch_id is not None:
        for seg in state["segments"]:
            if seg.get("batch_id") == batch_id:
                return seg  # replayed micro-batch: already committed
    seg_id = len(state["segments"])
    base = state["next_base"]
    parts = max(spark.sparkContext.defaultParallelism // 2, 2)

    src = batch_df.select(F.col("url"),
                          F.col(html_col) if html_col else F.col("text"))
    cuts = _sample_cuts(batch_df.select("url"), "url", parts * 4)
    tokenized = doc_term_counts(src, cfg, html_col=html_col)
    with_ids, cache, meta = assign_rank_ids(
        tokenized, "url", "doc_id", cuts, parts,
        extra_aggs=[F.sum("doc_len").alias("_dl")])
    n_docs = sum(int(r["_n"]) for r in meta)
    dlen = sum(int(r["_dl"] or 0) for r in meta)
    if n_docs == 0:
        cache.unpersist()
        return {}
    doc_terms = with_ids.withColumn("doc_id", F.col("doc_id") + F.lit(base))

    # lexicon delta: stable ids, new terms appended with the next free ids.
    # The batch vocabulary is anti-joined against the stored lexicon TABLE
    # (never collected): only genuinely new terms need ids. Small deltas get
    # a driver sort; web-scale deltas go through the distributed rank
    # assignment offset by next_term_id.
    lex_path = os.path.join(out_dir, "lexicon_terms")
    batch_vocab = (doc_terms.select(F.explode("terms").alias("term"))
                   .distinct())
    if state["segments"]:
        known_df = spark.read.parquet(lex_path)
        new_terms_df = batch_vocab.join(known_df.select("term"),
                                        "term", "left_anti")
        # crash-recovery: a previous attempt may have appended lexicon rows
        # without committing segments.json — its ids are real (the anti-join
        # sees them), so the next free id must come from the TABLE, not the
        # possibly-stale committed counter, or two terms would collide
        top = known_df.agg(F.max("term_id")).first()[0]
        nxt = max(state["next_term_id"],
                  (int(top) + 1) if top is not None else 0)
    else:
        known_df = None
        new_terms_df = batch_vocab
        nxt = state["next_term_id"]
    n_new = new_terms_df.count()
    if n_new == 0:
        new_ids = None
    elif n_new <= cfg.lexicon_broadcast_max:
        terms = sorted(r[0] for r in new_terms_df.collect())
        new_ids = local_frame(
            spark, [(t, nxt + i) for i, t in enumerate(terms)],
            "term string, term_id long")
    else:
        cuts = _sample_cuts(new_terms_df, "term", parts * 4)
        with_tid, _lex_cache, _ = assign_rank_ids(
            new_terms_df, "term", "term_id", cuts, parts)
        new_ids = with_tid.withColumn(
            "term_id", F.col("term_id") + F.lit(nxt))
    if new_ids is not None:
        new_ids.write.mode("append").parquet(lex_path)
        if n_new > cfg.lexicon_broadcast_max:
            _lex_cache.unpersist()
    nxt += n_new
    if nxt > 0:
        spark.catalog.refreshByPath(lex_path)
        lex_df = spark.read.parquet(lex_path)
    else:  # every doc tokenized empty: no lexicon file yet
        lex_df = spark.createDataFrame([], "term string, term_id long")

    seg_avg = dlen / n_docs if n_docs else 1.0
    stats = {"num_docs": n_docs, "collection_len": dlen,
             "avg_len": float(seg_avg)}
    # the build's own encode (doc-wise while one shard's token mass fits
    # cfg.docwise_max_tokens, else exploded on `term`), then the build's
    # term-id join: a broadcast hash probe while the vocabulary fits the
    # broadcast bound, else a sort-merge join — nothing is collected
    enc_str, _ = _encode_str(doc_terms, cfg, stats)
    enc = join_term_ids(enc_str, lex_df, nxt <= cfg.lexicon_broadcast_max)
    enc.write.mode("overwrite").parquet(
        os.path.join(out_dir, f"postings/segment={seg_id}"))
    (doc_terms.select("doc_id", "url", "doc_len")
     .write.mode("overwrite")
     .parquet(os.path.join(out_dir, f"docs/segment={seg_id}")))
    cache.unpersist()

    span = cfg.shard_span
    seg = {"segment": seg_id, "base": base, "n_docs": n_docs,
           "collection_len": dlen, "avg_len": seg_avg,
           "batch_id": batch_id}
    state["segments"].append(seg)
    state["next_base"] = base + ((n_docs + span - 1) // span) * span
    state["next_term_id"] = nxt
    _save_segments(out_dir, state)
    return seg


def stream_index(pages_stream_df, out_dir: str,
                 cfg: IndexConfig = DEFAULT_CONFIG,
                 html_col: str | None = "html",
                 checkpoint_dir: str | None = None, trigger: dict | None = None):
    """Start the streaming ingestion: every micro-batch appends a segment.
    `trigger` defaults to availableNow (drain-and-stop; pass e.g.
    {"processingTime": "30 seconds"} for continuous ingestion)."""
    os.makedirs(out_dir, exist_ok=True)

    def handle(batch_df, batch_id: int) -> None:
        ingest_batch(batch_df, out_dir, cfg, html_col=html_col,
                     batch_id=batch_id)

    writer = (pages_stream_df.writeStream
              .foreachBatch(handle)
              .option("checkpointLocation",
                      checkpoint_dir or os.path.join(out_dir, "_checkpoint")))
    writer = writer.trigger(**(trigger or {"availableNow": True}))
    return writer.start()


def load_stream_index(spark, out_dir: str,
                      cfg: IndexConfig = DEFAULT_CONFIG):
    """Assemble an InvertedIndex over all ingested segments, with per-segment
    block-bound rescaling to the CURRENT collection avg_len (see module
    docstring for the safety argument)."""
    from functools import reduce

    from pyspark.sql import DataFrame
    from pyspark.sql import functions as F

    from pisa_spark.plans.build import (InvertedIndex, _f32, _term_agg_of,
                                        _with_max_score, shards_of)

    state = _load_segments(out_dir)
    if not state["segments"]:
        raise ValueError(f"no segments ingested under {out_dir}")
    num_docs = sum(s["n_docs"] for s in state["segments"])
    collection_len = sum(s["collection_len"] for s in state["segments"])
    stats = {"num_docs": num_docs, "collection_len": collection_len,
             "avg_len": _f32(collection_len / num_docs)}

    # every table reads its segments' paths from the segment state, never
    # the parent directory: a table an earlier load in this session cached
    # (shards) has the same plan as a new read of that directory, so Spark
    # would serve it without the segments ingested since
    def segment(table: str, s: dict):
        return spark.read.parquet(
            os.path.join(out_dir, f"{table}/segment={s['segment']}"))

    post_parts = []
    for s in state["segments"]:
        p = segment("postings", s)
        scale = max(1.0, float(stats["avg_len"]) / float(s["avg_len"]))
        if scale > 1.0:
            p = p.withColumn(
                "block_max_part",
                F.transform("block_max_part",
                            lambda x: (x * F.lit(scale)).cast("float")))
        post_parts.append(p)
    postings = reduce(DataFrame.unionByName, post_parts).persist()

    docs = (reduce(DataFrame.unionByName,
                   [segment("docs", s) for s in state["segments"]])
            .withColumn("shard_id",
                        (F.col("doc_id") / F.lit(cfg.shard_span))
                        .cast("long")))
    shards = shards_of(docs, cfg.shard_span).persist()

    lexicon_base = spark.read.parquet(os.path.join(out_dir, "lexicon_terms"))
    lex = _with_max_score(
        lexicon_base.join(_term_agg_of(postings, "term_id"), "term_id"),
        cfg, stats)
    return InvertedIndex(docs=docs, lexicon=lex.persist(), postings=postings,
                         shards=shards, stats=stats, cfg=cfg)
