"""Incremental micro-batch ingestion (streaming/incremental.py): segments
append, docIDs never collide, term_ids stay stable, and queries over the
multi-segment index are rank-identical to a from-scratch batch build over
the same documents."""

import shutil

import pytest
from pyspark.sql import functions as F

from pisa_spark.config import IndexConfig
from pisa_spark.operators.topk import topk_search
from pisa_spark.plans.build import build_index, extract_pages
from pisa_spark.sources import webtext
from pisa_spark.streaming.incremental import (ingest_batch,
                                              load_stream_index,
                                              stream_index)

CFG = IndexConfig(shard_span=64)
OUT = "/root/repo/.cache/stream_idx"


@pytest.fixture(scope="module")
def corpus(spark):
    return spark.createDataFrame(webtext.generate_pandas(240, seed=13))


def _key(rows):
    return sorted((r.qid, r.rank, r.doc_id if hasattr(r, "doc_id") else None,
                   round(float(r.score), 5)) for r in rows)


def test_incremental_segments_match_batch_build(spark, corpus):
    shutil.rmtree(OUT, ignore_errors=True)
    pages = extract_pages(corpus, CFG).orderBy("url").collect()
    third = len(pages) // 3
    batches = [pages[:third], pages[third:2 * third], pages[2 * third:]]
    for rows in batches:
        bdf = spark.createDataFrame(rows, "url string, text string")
        seg = ingest_batch(bdf, OUT, CFG, html_col=None)
        assert seg["n_docs"] == len(rows)

    sidx = load_stream_index(spark, OUT, CFG)
    assert sidx.stats["num_docs"] == len(pages)

    queries = webtext.synth_queries(20, seed=7)
    got = topk_search(sidx, queries, k=10, algorithm="block_max_wand")
    got_rows = got.collect()

    bidx = build_index(extract_pages(corpus, CFG), CFG)
    want_rows = topk_search(bidx, queries, k=10,
                            algorithm="block_max_wand").collect()
    # compare on (qid, rank, url, score): docIDs differ by segment bases,
    # urls identify documents
    gk = sorted((r.qid, r.rank, r.url, round(float(r.score), 4))
                for r in got_rows)
    wk = sorted((r.qid, r.rank, r.url, round(float(r.score), 4))
                for r in want_rows)
    assert gk == wk


def test_incremental_pruned_matches_exhaustive(spark, corpus):
    sidx = load_stream_index(spark, OUT, CFG)
    queries = webtext.synth_queries(15, seed=11)
    oracle = topk_search(sidx, queries, k=10, algorithm="ranked_or",
                         with_urls=False).collect()
    for alg in ("wand", "maxscore", "block_max_wand"):
        got = topk_search(sidx, queries, k=10, algorithm=alg,
                          with_urls=False).collect()
        assert _key(got) == _key(oracle), alg


def test_stream_index_readstream(spark, corpus, tmp_path):
    """End-to-end through writeStream/foreachBatch with availableNow."""
    src_dir = str(tmp_path / "incoming")
    out = str(tmp_path / "sidx")
    docs = extract_pages(corpus, CFG).limit(60)
    docs.write.mode("overwrite").parquet(src_dir)
    stream = (spark.readStream
              .schema("url string, text string")
              .option("maxFilesPerTrigger", 2)
              .parquet(src_dir))
    q = stream_index(stream, out, CFG, html_col=None)
    q.awaitTermination(120)
    sidx = load_stream_index(spark, out, CFG)
    assert sidx.stats["num_docs"] == 60
    res = topk_search(sidx, webtext.synth_queries(5, seed=3), k=5)
    assert res.count() > 0


@pytest.mark.parametrize("docwise_max_tokens",
                         [IndexConfig().docwise_max_tokens, 0],
                         ids=["default", "0"])
def test_incremental_large_vocab_path(spark, corpus, monkeypatch,
                                      docwise_max_tokens):
    """With lexicon_broadcast_max shrunk below the vocab size, ingest takes
    the distributed lexicon delta and joins term_ids onto the encoded rows
    with join_term_ids' sort-merge join (no broadcast hint, no driver-side
    vocabulary), after the doc-wise encode or, with docwise_max_tokens=0,
    the exploded one; results must stay rank-identical to a batch build."""
    import tempfile

    import pisa_spark.operators.postings as P
    import pisa_spark.plans.build as B

    small = IndexConfig(shard_span=64, lexicon_broadcast_max=5,
                        docwise_max_tokens=docwise_max_tokens)
    calls = []
    for mod, name in ((P, "encode_postings"),
                      (P, "encode_postings_docwise_str"),
                      (B, "join_term_ids")):
        def spy(*a, _orig=getattr(mod, name), _name=name, **kw):
            calls.append((_name, a[-1] if _name == "join_term_ids" else None))
            return _orig(*a, **kw)
        monkeypatch.setattr(mod, name, spy)
    with tempfile.TemporaryDirectory() as out:
        pages = extract_pages(corpus, small).orderBy("url").limit(120).collect()
        half = len(pages) // 2
        for rows in (pages[:half], pages[half:]):
            bdf = spark.createDataFrame(rows, "url string, text string")
            seg = ingest_batch(bdf, out, small, html_col=None)
            assert seg["n_docs"] == len(rows)
        encoder = ("encode_postings" if docwise_max_tokens == 0
                   else "encode_postings_docwise_str")
        assert calls == [(encoder, None), ("join_term_ids", False)] * 2
        monkeypatch.undo()
        sidx = load_stream_index(spark, out, small)
        # term_ids must be dense and unique across the two deltas
        lex = sidx.lexicon.select("term", "term_id").collect()
        ids = sorted(r["term_id"] for r in lex)
        assert ids == list(range(len(ids)))
        queries = webtext.synth_queries(10, seed=7)
        got = topk_search(sidx, queries, k=10, algorithm="block_max_wand")
        bdf_all = spark.createDataFrame(pages, "url string, text string")
        bidx = build_index(bdf_all, IndexConfig(shard_span=64))
        want = topk_search(bidx, queries, k=10, algorithm="block_max_wand")
        gk = sorted((r.qid, r.rank, r.url, round(float(r.score), 4))
                    for r in got.collect())
        wk = sorted((r.qid, r.rank, r.url, round(float(r.score), 4))
                    for r in want.collect())
        assert gk == wk


def test_ingest_batch_idempotent_per_batch_id(spark, corpus):
    """A replayed micro-batch (same batch_id) must not append a duplicate
    segment (foreachBatch crash-replay safety)."""
    import tempfile

    with tempfile.TemporaryDirectory() as out:
        pages = extract_pages(corpus, CFG).limit(40).collect()
        bdf = spark.createDataFrame(pages, "url string, text string")
        seg1 = ingest_batch(bdf, out, CFG, html_col=None, batch_id=0)
        seg2 = ingest_batch(bdf, out, CFG, html_col=None, batch_id=0)  # replay
        assert seg2["segment"] == seg1["segment"]
        sidx = load_stream_index(spark, out, CFG)
        assert sidx.stats["num_docs"] == len(pages)


def test_ingest_recovers_from_orphan_lexicon_append(spark, corpus):
    """Crash between the lexicon append and the segments.json commit: the
    replayed/next batch must not assign colliding term_ids (the next free
    id comes from the lexicon TABLE, not the stale committed counter)."""
    import os
    import tempfile

    with tempfile.TemporaryDirectory() as out:
        pages = extract_pages(corpus, CFG).orderBy("url").limit(80).collect()
        half = len(pages) // 2
        b1 = spark.createDataFrame(pages[:half], "url string, text string")
        ingest_batch(b1, out, CFG, html_col=None, batch_id=0)
        # simulate the orphan append: extra terms in the lexicon table with
        # ids beyond next_term_id, but segments.json not updated
        from pisa_spark.streaming.incremental import _load_segments
        st = _load_segments(out)
        orphan_base = st["next_term_id"]
        spark.createDataFrame(
            [("zzorphan1", orphan_base), ("zzorphan2", orphan_base + 1)],
            "term string, term_id long"
        ).write.mode("append").parquet(os.path.join(out, "lexicon_terms"))
        b2 = spark.createDataFrame(pages[half:], "url string, text string")
        ingest_batch(b2, out, CFG, html_col=None, batch_id=1)
        lex = (spark.read.parquet(os.path.join(out, "lexicon_terms"))
               .collect())
        ids = [r["term_id"] for r in lex]
        assert len(ids) == len(set(ids)), "term_id collision after orphan append"
        sidx = load_stream_index(spark, out, CFG)
        assert topk_search(sidx, webtext.synth_queries(5, seed=3),
                           k=5).count() > 0


def test_ingest_load_interleaved_in_one_session(spark, corpus, tmp_path):
    """ingest, load, ingest, load in one session: the second load must see
    the second segment's docs (no stale listing of docs/), and a batch
    query over the reloaded index must answer from both segments."""
    from pisa_spark.operators.topk import topk_search_batch

    out = str(tmp_path / "sidx")
    pages = extract_pages(corpus, CFG).orderBy("url").limit(120).collect()
    half = len(pages) // 2
    queries = webtext.synth_queries(10, seed=5)
    ingest_batch(spark.createDataFrame(pages[:half], "url string, text string"),
                 out, CFG, html_col=None, batch_id=0)
    first = load_stream_index(spark, out, CFG)
    assert first.stats["num_docs"] == half
    assert topk_search_batch(first, queries, k=5).count() > 0
    ingest_batch(spark.createDataFrame(pages[half:], "url string, text string"),
                 out, CFG, html_col=None, batch_id=1)
    sidx = load_stream_index(spark, out, CFG)
    assert sidx.stats["num_docs"] == len(pages)
    assert sidx.docs.count() == len(pages)
    # the shard table (doc lengths) covers both segments
    assert sum(len(r.doc_lens) for r in sidx.shards.collect()) == len(pages)
    rows = topk_search_batch(sidx, queries, k=5, with_urls=True).collect()
    assert rows and all(r.url for r in rows)
    second_base = -(-half // CFG.shard_span) * CFG.shard_span
    assert any(r.doc_id >= second_base for r in rows)


@pytest.mark.parametrize("cfg_kw", [{"scorer": "qld"}, {"scorer": "dph"},
                                    {"quantize_bits": 8}],
                         ids=["qld", "dph", "quantize8"])
def test_ingest_rejects_stats_configs_before_any_job(spark, corpus, cfg_kw,
                                                     tmp_path):
    """A segment cannot carry collection-wide term stats or one global
    quantization max: such configs fail on the driver, before the
    tokenize job runs or the lexicon delta is appended."""
    import os

    out = str(tmp_path / "rejected")
    sc = spark.sparkContext
    sc.setJobGroup("ingest-rejected", "ingest with a stats config")
    try:
        with pytest.raises(ValueError, match="ingest_batch"):
            ingest_batch(corpus, out, IndexConfig(shard_span=64, **cfg_kw))
        assert list(sc.statusTracker().getJobIdsForGroup(
            "ingest-rejected")) == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert not os.path.exists(os.path.join(out, "lexicon_terms"))
