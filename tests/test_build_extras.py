"""Readers, reordering, checkpoint/resume, and encode internals."""

import json
import shutil

import numpy as np
import pytest

from pisa_spark.config import IndexConfig
from pisa_spark.operators import codecs
from pisa_spark.operators.postings import _encode_arrays, _whole_groups
from pisa_spark.operators.reorder import (
    compressed_size,
    random_mapping,
    reorder_index,
    url_mapping,
)
from pisa_spark.operators.topk import topk_search
from pisa_spark.plans.build import build_index, extract_pages
from pisa_spark.sources import webtext
from pisa_spark.sources.readers import read_jsonl, read_plaintext

CACHE = "/root/repo/.cache/test_extras"


def test_read_plaintext(spark, tmp_path=None):
    p = f"{CACHE}/plain.txt"
    import os

    os.makedirs(CACHE, exist_ok=True)
    with open(p, "w") as f:
        f.write("doc1 hello world\ndoc2 second document text\ndoc3\n")
    out = {r.url: r.text for r in read_plaintext(spark, p).collect()}
    assert out == {"doc1": "hello world", "doc2": "second document text",
                   "doc3": ""}


def test_read_jsonl(spark):
    p = f"{CACHE}/docs.jsonl"
    import os

    os.makedirs(CACHE, exist_ok=True)
    with open(p, "w") as f:
        f.write('{"title": "t1", "content": "body one", "url": "u1"}\n')
        f.write('{"title": "t2", "content": "body two"}\n')
    out = {r.url: r.text for r in read_jsonl(spark, p).collect()}
    assert out == {"u1": "body one", "t2": "body two"}


@pytest.fixture(scope="module")
def small_index(spark):
    cfg = IndexConfig(shard_span=64)
    pdf = webtext.generate_pandas(150, seed=13)
    return build_index(extract_pages(spark.createDataFrame(pdf), cfg), cfg)


def test_reorder_random_preserves_results(spark, small_index):
    """Reordering permutes docIDs but must not change ranked URL output
    (reference: encodings/orderings are result-invariant)."""
    mapping = random_mapping(small_index.docs, seed=7)
    re_idx = reorder_index(small_index, mapping)
    qs = webtext.synth_queries(10, seed=29)
    a = topk_search(small_index, qs, k=5).toPandas()
    b = topk_search(re_idx, qs, k=5).toPandas()
    ka = sorted(map(tuple, a[["qid", "url", "rank"]].values.tolist()))
    kb = sorted(map(tuple, b[["qid", "url", "rank"]].values.tolist()))
    assert ka == kb


def test_reorder_qld_index_keeps_ranking(spark):
    """A qld index (its scorer needs df/cf at encode time) reordered by
    url returns the same top-10 as before, docIDs mapped through the
    permutation."""
    cfg = IndexConfig(shard_span=32, scorer="qld")
    pdf = webtext.generate_pandas(100, seed=17)
    idx = build_index(extract_pages(spark.createDataFrame(pdf), cfg), cfg)
    mapping = url_mapping(idx.docs)
    new_id = {r.doc_id: r.new_doc_id for r in mapping.collect()}
    re_idx = reorder_index(idx, mapping)
    qs = webtext.synth_queries(10, seed=29)

    def top(index, ids):
        return sorted((r.qid, r.rank, ids(r.doc_id), float(r.score))
                      for r in topk_search(index, qs, k=10,
                                           algorithm="block_max_wand",
                                           with_urls=False).collect())

    before = top(idx, new_id.__getitem__)
    assert before
    assert top(re_idx, int) == before
    mapping.unpersist()
    re_idx.postings.unpersist()
    re_idx.shards.unpersist()


def test_url_order_compresses_better_than_random(spark, small_index):
    """URL-ordered docIDs give smaller gap encodings than a random
    permutation (the point of reorder-by-URL, reordering.md:46-66)."""
    rand_idx = reorder_index(small_index, random_mapping(small_index.docs, 7))
    url_size = compressed_size(small_index)  # built URL-ordered by default
    rand_size = compressed_size(rand_idx)
    assert url_size <= rand_size


def test_reorder_leaves_only_its_own_caches(spark, small_index):
    """A mapping keeps one slim (doc_id, new_doc_id) cache and releases
    the rank cache it was assigned through; reorder_index adds only the
    reordered index's own caches. Unpersisting those leaves the session's
    persisted RDDs as they were."""
    for table in (small_index.docs, small_index.shards, small_index.postings,
                  small_index.lexicon):
        table.count()  # the fixture's lazy caches exist before the snapshot
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keys())
    for make in (url_mapping, random_mapping):
        mapping = make(small_index.docs)
        re_idx = reorder_index(small_index, mapping)
        assert re_idx.postings.count() > 0 and re_idx.shards.count() > 0
        for table in (re_idx.postings, re_idx.shards, mapping):
            table.unpersist()
        assert set(jsc.getPersistentRDDs().keys()) == before, make


@pytest.mark.parametrize("family", [{}, {"scorer": "qld"},
                                    {"quantize_bits": 8}],
                         ids=["bm25", "qld", "quantize8"])
def test_checkpoint_resume_skips_completed(spark, family):
    """Every scorer family resumes the same doc-shard postings buckets;
    the stats families also keep their term-stats artifact (and the
    quantized one its recorded max score) across resumes."""
    out = f"{CACHE}/resume_idx"
    shutil.rmtree(out, ignore_errors=True)
    cfg = IndexConfig(shard_span=64, **family)
    pdf = webtext.generate_pandas(120, seed=13)
    docs = extract_pages(spark.createDataFrame(pdf), cfg)
    # bucket_min_tokens=0 forces the per-bucket resume mode this test
    # exercises (at this corpus size the adaptive default would collapse
    # the encode to a single job — covered by the test below)
    build_index(docs, cfg, out_dir=out, n_buckets=4, bucket_min_tokens=0)
    m1 = json.load(open(f"{out}/manifest.json"))
    build_index(docs, cfg, out_dir=out, n_buckets=4, bucket_min_tokens=0)
    m2 = json.load(open(f"{out}/manifest.json"))
    assert all(m2["completed"][k]["ts"] == m1["completed"][k]["ts"]
               for k in m1["completed"])
    # killed-run simulation: one bucket missing -> only it rebuilds
    del m2["completed"]["postings/bucket=2"]
    shutil.rmtree(f"{out}/postings/bucket=2")
    json.dump(m2, open(f"{out}/manifest.json", "w"))
    idx = build_index(docs, cfg, out_dir=out, n_buckets=4,
                      bucket_min_tokens=0)
    m3 = json.load(open(f"{out}/manifest.json"))
    assert m3["completed"]["postings/bucket=0"]["ts"] == m1["completed"]["postings/bucket=0"]["ts"]
    assert m3["completed"]["postings/bucket=2"]["ts"] != m1["completed"]["postings/bucket=2"]["ts"]
    assert idx.postings.count() > 0
    # per-artifact metrics: every completed entry carries write seconds +
    # on-disk size (north rule: per-partition lineage + metrics)
    for name, meta in m3["completed"].items():
        assert meta["seconds"] >= 0 and meta["files"] >= 1, name
        assert meta["bytes"] > 0, name
    assert m3["metrics"]["num_docs"] == idx.stats["num_docs"] > 0
    assert m3["metrics"]["build_seconds"] > 0
    assert ("term_stats" in m3["completed"]) == bool(family)
    assert (m3["metrics"].get("quantize_max_score")
            == m1["metrics"].get("quantize_max_score"))
    assert ("quantize_max_score" in m1["metrics"]) == ("quantize_bits"
                                                       in family)


def test_resume_of_lexicon_first_layout_raises_before_any_job(spark):
    """A manifest that marks the `lexicon_base` artifact of the retired
    lexicon-first flow holds term_id-keyed postings buckets that cannot
    mix with doc-shard buckets: the resume is refused on the driver."""
    out = f"{CACHE}/old_layout"
    shutil.rmtree(out, ignore_errors=True)
    import os

    os.makedirs(out)
    done = {"ts": 0.0, "seconds": 0.0, "bytes": 1, "files": 1}
    json.dump({"completed": {"doc_terms": done, "docs": done,
                             "lexicon_base": done},
               "stats": {"num_docs": 1, "collection_len": 2,
                         "avg_len": 2.0},
               "metrics": {}}, open(f"{out}/manifest.json", "w"))
    docs = spark.createDataFrame([("u1", "hello world")],
                                 "url string, text string")
    sc = spark.sparkContext
    sc.setJobGroup("old-layout", "resume of a lexicon-first manifest")
    try:
        with pytest.raises(ValueError, match="lexicon_base"):
            build_index(docs, IndexConfig(scorer="qld"), out_dir=out)
        assert list(sc.statusTracker().getJobIdsForGroup("old-layout")) == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def test_checkpoint_single_job_mode_matches_inmem(spark):
    """Adaptive resume granularity: below bucket_min_tokens the postings
    stage is ONE job recorded as a single 'postings' artifact; a rerun
    skips everything, load_index round-trips, and the ranking matches the
    in-memory build exactly."""
    from pisa_spark.plans.build import load_index

    out = f"{CACHE}/resume_single"
    shutil.rmtree(out, ignore_errors=True)
    cfg = IndexConfig(shard_span=64)
    pdf = webtext.generate_pandas(120, seed=13)
    docs = extract_pages(spark.createDataFrame(pdf), cfg)
    idx = build_index(docs, cfg, out_dir=out, n_buckets=4)
    m1 = json.load(open(f"{out}/manifest.json"))
    assert "postings" in m1["completed"]
    assert not any(k.startswith("postings/") for k in m1["completed"])
    build_index(docs, cfg, out_dir=out, n_buckets=4)
    m2 = json.load(open(f"{out}/manifest.json"))
    assert all(m2["completed"][k]["ts"] == m1["completed"][k]["ts"]
               for k in m1["completed"])
    mem = build_index(docs, cfg)
    qs = webtext.synth_queries(8, seed=29)
    want = {(r.qid, r.rank, r.url)
            for r in topk_search(mem, qs, k=5).collect()}
    got = {(r.qid, r.rank, r.url)
           for r in topk_search(idx, qs, k=5).collect()}
    assert got == want
    loaded = load_index(spark, out, cfg)
    got_l = {(r.qid, r.rank, r.url)
             for r in topk_search(loaded, qs, k=5).collect()}
    assert got_l == want


@pytest.mark.parametrize("keys", [
    ["shard_id"], ["shard_id", "term"], ["shard_id", "term_id"],
], ids=["shard", "shard_term", "shard_term_id"])
def test_whole_groups_never_splits_groups(keys):
    """The one carry loop re-cuts sorted Arrow batches so that every group
    of equal `keys` is yielded exactly once, in one batch: a group spanning
    three batches, a batch that is one group, an empty batch, and the
    group left for the final flush."""
    import pyarrow as pa

    # (shard, term) runs sorted on (shard_id, term); batch cut points below
    runs = [(0, 0, 3), (0, 1, 30), (0, 2, 4), (1, 0, 8), (1, 3, 5),
            (2, 1, 6)]
    shard, term = [], []
    for s_, t_, n in runs:
        shard += [s_] * n
        term += [t_] * n
    n_rows = len(shard)
    table = pa.RecordBatch.from_pydict({
        "shard_id": pa.array(shard, pa.int64()),
        "term": pa.array([f"t{t}" for t in term]),
        "term_id": pa.array(term, pa.int64()),
        "doc_id": pa.array(range(n_rows), pa.int64())})
    # rows 3..33 (term 1 of shard 0) span three batches; batch 37..45 is
    # one group ((1, 0)); an empty batch sits mid-stream; (2, 1) is only
    # complete at the final flush
    cuts = [0, 10, 20, 37, 37, 45, 50, n_rows]
    batches = [table.slice(a, b - a) for a, b in zip(cuts[:-1], cuts[1:])]

    def key_of(rb, i):
        return tuple(rb.column(k)[i].as_py() for k in keys)

    seen, out_rows = [], []
    for rb in _whole_groups(iter(batches), keys):
        assert rb.num_rows
        groups = [key_of(rb, i) for i in range(rb.num_rows)]
        seen += list(dict.fromkeys(groups))
        out_rows += rb.column("doc_id").to_pylist()
    want = list(dict.fromkeys(key_of(table, i) for i in range(n_rows)))
    assert seen == want  # every group once, none split across batches
    assert out_rows == list(range(n_rows))


def test_encode_batch_block_layout():
    cfg = IndexConfig(shard_span=1000, block_size=4)
    from pisa_spark.functions.scoring import make_scorer

    stats = {"num_docs": 100, "avg_len": 50.0, "collection_len": 5000}
    docs = np.array([3, 10, 11, 40, 77, 200, 340, 341, 342], dtype=np.int64)
    out = _encode_arrays(
        np.zeros(9, dtype=np.int64), np.full(9, 9, dtype=np.int64), docs,
        np.arange(1, 10), np.full(9, 50), cfg, stats,
        make_scorer("bm25")).to_pandas()
    row = out.iloc[0]
    assert row.n == 9
    assert row.base_doc == -1
    assert list(row.block_last_docs) == [40, 341, 342]  # blocks of 4
    dec = codecs.decode_gap_stream(bytes(row.docs_bin), -1, "varint", 9)
    assert (dec == docs).all()
    # block byte offsets let a single block decode independently
    offs = list(row.block_doc_offs) + [len(row.docs_bin)]
    blk1 = codecs.decode_gap_stream(
        bytes(row.docs_bin[offs[1]:offs[2]]), 40, "varint", 4)
    assert (blk1 == docs[4:8]).all()


def test_build_rejects_unknown_codec_before_any_job(spark):
    """An unknown IndexConfig.codec fails on the driver with ValueError,
    not inside an executor encode task after extraction and the tokenize
    shuffle have run."""
    docs = spark.createDataFrame([("u1", "hello world")],
                                 "url string, text string")
    sc = spark.sparkContext
    sc.setJobGroup("unknown-codec", "build with an unknown codec")
    try:
        with pytest.raises(ValueError, match="unknown codec"):
            build_index(docs, IndexConfig(codec="nope"))
        assert list(sc.statusTracker().getJobIdsForGroup("unknown-codec")) == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def test_recursive_graph_bisection_mapping(spark, small_index):
    """BP reordering (recursive_graph_bisection.hpp): the mapping is a
    valid permutation, ranked output is unchanged, and the BP order
    compresses at least as well as a random permutation (iid synthetic
    docs have no URL-topic clustering, so BP must find the term-sharing
    structure URL order can't)."""
    from pisa_spark.operators.reorder import bp_mapping

    mapping = bp_mapping(small_index, depth=2, iterations=3)
    rows = mapping.collect()
    n = small_index.stats["num_docs"]
    assert len(rows) == n
    assert sorted(r["new_doc_id"] for r in rows) == list(range(n))

    bp_idx = reorder_index(small_index, mapping)
    qs = webtext.synth_queries(8, seed=29)
    a = topk_search(small_index, qs, k=5).toPandas()
    b = topk_search(bp_idx, qs, k=5).toPandas()
    ka = sorted(map(tuple, a[["qid", "url", "rank"]].values.tolist()))
    kb = sorted(map(tuple, b[["qid", "url", "rank"]].values.tolist()))
    assert ka == kb

    rand_idx = reorder_index(small_index, random_mapping(small_index.docs, 7))
    assert compressed_size(bp_idx) <= compressed_size(rand_idx)


def test_bp_checkpoint_resume_and_clustered_win(spark, tmp_path):
    """Reliable BP restart (north-rule lineage requirement): with
    checkpoint_dir every (level, iteration) state is a parquet artifact; a
    rerun resumes (identical mapping, zero recompute — manifest timestamps
    unchanged). On a clustered corpus whose urls carry no topical signal,
    the BP order must beat the URL order for compressed size — the win the
    i.i.d. corpus cannot show."""
    import json

    from pisa_spark.config import IndexConfig
    from pisa_spark.operators.reorder import bp_mapping
    from pisa_spark.plans.build import build_index

    clustered = webtext.generate_clustered(spark, 600, n_clusters=8)
    cfg = IndexConfig(shard_span=256, codec="ef")
    idx = build_index(clustered, cfg)  # URL order (default)

    ck = str(tmp_path / "bp_ck")
    m1 = bp_mapping(idx, depth=3, iterations=3, checkpoint_dir=ck).collect()
    stamps1 = json.load(open(f"{ck}/manifest.json"))["completed"]
    assert any(k.startswith("bp/level=") for k in stamps1)
    m2 = bp_mapping(idx, depth=3, iterations=3, checkpoint_dir=ck).collect()
    stamps2 = json.load(open(f"{ck}/manifest.json"))["completed"]
    assert {k: v["ts"] for k, v in stamps1.items()} == \
           {k: v["ts"] for k, v in stamps2.items()}  # nothing recomputed
    key = lambda rows: sorted((r["doc_id"], r["new_doc_id"]) for r in rows)
    assert key(m1) == key(m2)

    bp_idx = reorder_index(idx, spark.createDataFrame(
        m1, "doc_id long, new_doc_id long"), cfg)
    assert compressed_size(bp_idx) < compressed_size(idx)


def test_shuffle_free_encode_identical_to_shuffled(spark):
    """The in-memory build runs the docwise encode shuffle-free over the
    rank layout; its encoded rows must be byte-identical to the
    (shard)-repartitioned plan. Bucket offsets are span-aligned, so no
    shard straddles a bucket seam: no (shard_id, term) key may appear
    twice in the shuffle-free rows."""
    import pisa_spark.operators.postings as P
    import pisa_spark.plans.build as B
    from pisa_spark.sources import webtext

    docs = webtext.generate(spark, 4000, seed=11)
    cfg = IndexConfig(shard_span=16)
    seen = []
    orig = P.encode_postings_docwise_str

    def spy(*a, **kw):
        seen.append(kw.get("shuffle", True))
        return orig(*a, **kw)

    P.encode_postings_docwise_str = spy
    try:
        idx_new = B.build_index(docs, cfg, html_col="html")
        rows_new = sorted(map(tuple,
                              idx_new.postings.drop("term_id").collect()))
        keys = idx_new.postings_str.select("shard_id", "term").collect()
    finally:
        P.encode_postings_docwise_str = orig
    assert seen == [False]
    assert len(keys) == len(set(keys)) and keys

    def shuffled(*a, **kw):
        kw["shuffle"] = True
        return orig(*a, **kw)

    P.encode_postings_docwise_str = shuffled
    try:
        idx_old = B.build_index(docs, cfg, html_col="html")
        rows_old = sorted(map(tuple,
                              idx_old.postings.drop("term_id").collect()))
    finally:
        P.encode_postings_docwise_str = orig
    assert rows_new == rows_old and rows_new


def test_lexicon_driver_ids_identical_to_small_path(spark):
    """The broadcast-size lexicon branch (driver id-assignment over a
    slim term-only transfer, stats joined distributed) must produce the
    SAME lexicon — ids, stats, max_score bits — and the same query
    results as the small-vocab driver path."""
    from pisa_spark.plans.build import build_index
    from pisa_spark.sources import webtext

    docs = webtext.generate(spark, 800, seed=23)
    cfg_small = IndexConfig(shard_span=64)
    cfg_mid = IndexConfig(shard_span=64, lexicon_driver_max=0)
    idx_a = build_index(docs, cfg_small, html_col="html")
    idx_b = build_index(docs, cfg_mid, html_col="html")
    lex_a = sorted(map(tuple, idx_a.lexicon.collect()))
    lex_b = sorted(map(tuple, idx_b.lexicon.collect()))
    assert lex_a == lex_b and lex_a
    qs = webtext.synth_queries(8, seed=31)
    qa = sorted(map(tuple, topk_search(
        idx_a, qs, k=10, algorithm="block_max_wand").collect()))
    qb = sorted(map(tuple, topk_search(
        idx_b, qs, k=10, algorithm="block_max_wand").collect()))
    assert qa == qb and qa


def test_arrow_cut_sample_covers_sorted_file(spark, tmp_path):
    """_arrow_cut_sample must sample the WHOLE key range of a parquet
    file sorted by the cut column (evenly spaced row groups incl. first
    and last), must refuse filtered plans, and the cuts it feeds
    _sample_cuts must keep bucket balance sane."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pisa_spark.plans.build import _arrow_cut_sample, _sample_cuts

    urls = [f"https://site-{i:06d}.example/page" for i in range(20000)]
    path = str(tmp_path / "sorted.parquet")
    pq.write_table(pa.table({"url": urls}), path, row_group_size=1000)

    df = spark.read.parquet(path)
    vals = _arrow_cut_sample(df, "url", 256)
    assert vals is not None and len(vals) >= 256
    # samples span the key range: something from the first and last 15%
    lo, hi = urls[3000], urls[17000]
    assert min(vals) < lo and max(vals) > hi

    # filtered plan => no shortcut (footer sample would mis-state data)
    assert _arrow_cut_sample(df.filter("url > 'https://site-1'"),
                             "url", 64) is None
    # missing column => no shortcut
    assert _arrow_cut_sample(df, "nope", 64) is None

    # end-to-end: cuts from the arrow path divide the sorted file evenly
    cuts = _sample_cuts(df, "url", 8)
    assert 4 <= len(cuts) <= 7
    import bisect

    counts = [0] * (len(cuts) + 1)
    for u in urls:
        counts[bisect.bisect_right(cuts, u)] += 1
    assert max(counts) < 2.5 * (len(urls) / len(counts))


def test_build_on_parquet_matches_inmemory(spark, tmp_path):
    """A build whose cuts come from the driver-side arrow sampler must
    produce the same lexicon and query results as the same corpus built
    from an in-memory DataFrame (which takes the Spark sample path)."""
    docs = webtext.generate(spark, 600, seed=47)
    path = str(tmp_path / "corpus")
    docs.write.parquet(path)
    cfg = IndexConfig(shard_span=64)
    idx_mem = build_index(docs, cfg, html_col="html")
    idx_pq = build_index(spark.read.parquet(path), cfg, html_col="html")
    lex_a = sorted(map(tuple, idx_mem.lexicon.collect()))
    lex_b = sorted(map(tuple, idx_pq.lexicon.collect()))
    assert lex_a == lex_b and lex_a
    qs = webtext.synth_queries(8, seed=7)
    qa = sorted(map(tuple, topk_search(
        idx_mem, qs, k=10, algorithm="block_max_wand").collect()))
    qb = sorted(map(tuple, topk_search(
        idx_pq, qs, k=10, algorithm="block_max_wand").collect()))
    assert qa == qb and qa


def _index_rows(spark, idx):
    """Sorted rows of every index table plus a block_max_wand top-10."""
    from pisa_spark.sources import webtext

    qs = webtext.synth_queries(8, seed=31)
    return {
        "lexicon": sorted(map(tuple, idx.lexicon.collect())),
        "postings": sorted(map(tuple, idx.postings.collect())),
        "shards": sorted(map(tuple, idx.shards.collect())),
        "docs": sorted(map(tuple, idx.docs.select(
            "doc_id", "url", "doc_len", "shard_id").collect())),
        "top10": sorted(map(tuple, topk_search(
            idx, qs, k=10, algorithm="block_max_wand").collect())),
    }


def test_build_flows_build_the_same_index(spark):
    """In-memory and checkpointed builds, and every stage branch inside
    them (broadcast vs sort-merge term-id join, docwise vs exploded
    encode, single-job vs bucketed checkpoint, driver vs distributed
    lexicon), build the same index for every scorer family."""
    docs = webtext.generate(spark, 300, seed=19)

    def build(out=None, bucketed=False, **cfg_kw):
        cfg = IndexConfig(shard_span=64, **cfg_kw)
        kw = {}
        if out is not None:
            path = f"{CACHE}/flows_{out}"
            shutil.rmtree(path, ignore_errors=True)
            kw = {"out_dir": path, "n_buckets": 4}
            if bucketed:
                kw["bucket_min_tokens"] = 0
        return _index_rows(spark, build_index(
            docs, cfg, html_col="html", eager=True, **kw))

    want = build()
    assert all(want.values())
    variants = {
        "bcast0": build(lexicon_broadcast_max=0),
        "exploded": build(docwise_max_tokens=0),
        "m_single": build(out="single"),
        "m_bucketed": build(out="bucketed", bucketed=True),
        "m_bcast0": build(out="bcast0", lexicon_broadcast_max=0),
        "m_driver_ids": build(out="driver_ids", lexicon_driver_max=0),
        "m_exploded": build(out="exploded", bucketed=True,
                            docwise_max_tokens=0),
    }
    for name, got in variants.items():
        for table in want:
            assert got[table] == want[table], (name, table)

    for family in ({"quantize_bits": 8}, {"scorer": "qld"},
                   {"scorer": "dph"}):
        want = build(**family)
        assert all(want.values())
        for name, got in {
                "m_single": build(out="stats_single", **family),
                "m_bucketed": build(out="stats_bucketed", bucketed=True,
                                    **family),
                "bcast0": build(lexicon_broadcast_max=0, **family),
                "exploded": build(docwise_max_tokens=0, **family)}.items():
            for table in want:
                assert got[table] == want[table], (family, name, table)


def test_build_leaves_only_index_caches(spark):
    """A build's intermediate caches (tokenize forward index, term stats,
    term rank shuffle, per-term aggregation) are released once
    the index tables no longer read them: an eager in-memory build keeps
    at most the four index caches (docs, shards, postings, lexicon) and a
    checkpointed build, whose tables are read back from parquet, keeps
    none."""
    docs = webtext.generate(spark, 200, seed=17)
    jsc = spark.sparkContext._jsc

    def new_caches(out=None, bucketed=False, **cfg_kw):
        cfg = IndexConfig(shard_span=64, **cfg_kw)
        kw = {}
        if out is not None:
            path = f"{CACHE}/caches_{out}"
            shutil.rmtree(path, ignore_errors=True)
            kw = {"out_dir": path, "n_buckets": 4}
            if bucketed:
                kw["bucket_min_tokens"] = 0
        before = set(jsc.getPersistentRDDs().keys())
        idx = build_index(docs, cfg, html_col="html", eager=True, **kw)
        added = set(jsc.getPersistentRDDs().keys()) - before
        for table in (idx.docs, idx.shards, idx.postings, idx.lexicon,
                      idx.postings_str):
            if table is not None:
                table.unpersist()
        return len(added)

    for cfg_kw in ({}, {"quantize_bits": 8, "lexicon_broadcast_max": 0},
                   {"scorer": "qld", "lexicon_broadcast_max": 0}):
        assert new_caches(**cfg_kw) <= 4, cfg_kw
    assert new_caches(out="single") == 0
    assert new_caches(out="bucketed", bucketed=True) == 0
    assert new_caches(out="q8_bucketed", bucketed=True, quantize_bits=8) == 0


def test_assign_rank_ids_dense_padded_in_order(spark):
    """Several buckets (more than partitions) with align > 1: ids are
    dense within each bucket, padded up to a multiple of `align` at each
    bucket seam, and follow `order_col`; the per-bucket shift rides in
    the plan (no driver-list scan, no join), and an empty input gives
    zero rows."""
    from pyspark.sql import functions as F

    from pisa_spark.plans.build import assign_rank_ids

    n, align = 300, 32
    keyed = spark.range(0, n, numPartitions=3).select(
        F.format_string("k%04d", (F.col("id") * 37) % n).alias("key"),
        F.col("id").alias("payload"))
    cuts = ["k0050", "k0120", "k0200"]  # buckets of 50, 70, 80, 100 keys
    out, cache, meta = assign_rank_ids(keyed, "key", "rank", cuts, parts=2,
                                       align=align)
    assert out.columns == ["key", "payload", "rank"]
    assert [int(r["_n"]) for r in meta] == [50, 70, 80, 100]
    want, off, lo = {}, 0, 0
    for hi in (50, 120, 200, 300):
        off = -(-off // align) * align
        for k in range(lo, hi):
            want[f"k{k:04d}"] = off + k - lo
        off, lo = off + hi - lo, hi
    got = {r["key"]: r["rank"] for r in out.collect()}
    assert got == want
    assert sorted(want.values())[-1] == 256 + 99  # seams at 64, 160, 256
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "LogicalRDD" not in plan and "Join" not in plan, plan
    cache.unpersist()

    empty_out, empty_cache, empty_meta = assign_rank_ids(
        keyed.limit(0), "key", "rank", cuts, parts=2, align=align)
    assert empty_meta == [] and empty_out.count() == 0
    assert empty_out.columns == ["key", "payload", "rank"]
    empty_cache.unpersist()


def test_background_jobs_carry_the_callers_job_group(spark):
    """A job started through _in_background belongs to the job group
    its caller set, so job counts per group see the build's background
    branches."""
    from pisa_spark.plans.build import _in_background

    sc = spark.sparkContext
    sc.setJobGroup("bg_group", "background jobs")
    try:
        _in_background(spark.range(100).count)()
        jobs = sc.statusTracker().getJobIdsForGroup("bg_group")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(jobs) >= 1


def test_empty_corpus_eager_build(spark):
    """An eager build of an empty corpus gives empty tables."""
    empty = spark.createDataFrame([], "url string, text string")
    idx = build_index(empty, IndexConfig(shard_span=64), eager=True)
    assert idx.stats["num_docs"] == 0
    assert idx.docs.count() == 0
    assert idx.postings.count() == 0
    assert idx.lexicon.count() == 0


def test_eager_build_caches_docmap_and_releases_tokenize_cache(
        spark, monkeypatch):
    """An eager in-memory build returns its docmap already materialized
    (filled by the shards pass) and the tokenize cache released, and the
    docmap equals a checkpointed build's on the same corpus."""
    from pyspark import StorageLevel

    from pisa_spark.plans import build as B

    rank_caches = []
    assign = B.assign_rank_ids

    def spy(*args, **kwargs):
        out = assign(*args, **kwargs)
        rank_caches.append(out[1])
        return out

    monkeypatch.setattr(B, "assign_rank_ids", spy)
    docs = webtext.generate(spark, 200, seed=23)
    cfg = IndexConfig(shard_span=64)
    idx = build_index(docs, cfg, html_col="html", eager=True)
    (tok_cache,) = rank_caches
    assert tok_cache.storageLevel == StorageLevel(False, False, False,
                                                  False, 1)
    cached = (spark._jsparkSession.sharedState().cacheManager()
              .lookupCachedData(idx.docs._jdf))
    assert cached.isDefined()
    assert (cached.get().cachedRepresentation().cacheBuilder()
            .isCachedColumnBuffersLoaded())

    out = f"{CACHE}/docmap_ckpt"
    shutil.rmtree(out, ignore_errors=True)
    ckpt = build_index(docs, cfg, html_col="html", eager=True,
                       out_dir=out, n_buckets=4)
    assert (sorted(map(tuple, idx.docs.collect()))
            == sorted(map(tuple, ckpt.docs.select(
                "doc_id", "url", "doc_len", "shard_id").collect())))
    for table in (idx.docs, idx.shards, idx.postings, idx.lexicon,
                  idx.postings_str):
        if table is not None:
            table.unpersist()
