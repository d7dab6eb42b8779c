"""Index build pipeline: web pages -> inverted index tables.

Spark-first re-expression of the reference pipeline
parse_collection -> invert -> create_wand_data -> compress_inverted_index
(docs/src/guide/indexing-pipeline.md):

1. extract text from html + tokenize + per-doc term counts in ONE
   mapInPandas pass running directly on the table scan — the html payload
   is never shuffled, and the forward index stays transient, as term
   strings, until the lexicon join (the reference likewise keeps
   batch-local dicts until merge, src/forward_index_builder.cpp:209-273),
2. dense docIDs by global URL rank (doubles as the reorder-by-URL
   compression win, docs/src/guide/reordering.md:46-66): URL range
   boundaries are sampled from the RAW table's url column (a column-pruned
   parquet scan — never re-running the tokenize UDF the way a
   RangePartitioner sample of its output would), each tokenized row gets a
   bucket id from those boundaries, one hash shuffle on the bucket id +
   partition-local sort makes buckets contiguous and url-sorted, and
   doc_id = bucket offset + (monotonic id - bucket's min monotonic id).
   No global window, no wide-payload range shuffle,
3. collection stats fused into the same per-bucket aggregation job,
4. postings = string-keyed encoded rows (doc-sharded, block-encoded,
   block-max'd) from _encode_str, the one place the scorer matters: the
   doc-wise encoder while one shard's token mass fits
   cfg.docwise_max_tokens and the scorer needs no per-term stats (straight
   over the rank layout in memory — each span-aligned bucket holds whole
   shards), else the exploded encoder keyed on `term`. Scorers that need
   df/cf at encode time (qld/pl2/dph, and every quantize_bits build) get
   them from ONE groupBy("term") aggregation of the exploded forward index,
   joined on `term` in front of the exploded encode; a quantize_bits build
   first scores every posting and quantizes it into the tf slot against
   one global max score (the reference's compress --quantize),
5. lexicon = ONE per-term aggregation of the ENCODED rows (one row per
   shard x term, ~100x fewer than the flat postings) giving both the
   vocabulary (dense term_ids in sorted order, like fwd.terms) and the
   WAND term stats (_lexicon_of; wand_data.hpp:36-115); a quantized build
   takes df/cf from the term-stats table instead,
6. term_ids joined back onto the encoded rows (join_term_ids).

Like the reference, whose scorer only enters at create_wand_data and
compress --quantize over one inverted index, every scorer runs the same
stages. In-memory and checkpointed builds differ only in where a stage's
output goes: a persisted cache, or a BuildManifest artifact that a rerun
resumes from.
"""

from __future__ import annotations

import time
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pandas as pd

from pisa_spark.config import DEFAULT_CONFIG, IndexConfig
from pisa_spark.functions.scoring import make_scorer
from pisa_spark.functions.text import extract_text_batch
from pisa_spark.functions.tokenize import make_analyzer
from pisa_spark.operators import codecs
from pisa_spark.plans.checkpoint import BuildManifest


@dataclass
class InvertedIndex:
    """The index as a set of DataFrames (reference artifact -> table):

    docs     (doc_id, url, doc_len, shard_id)      — doclex + .sizes
    lexicon  (term, term_id, df, cf, max_part, max_score) — termlex + WAND term stats
    postings encoded rows (see operators/postings.py) — inv + WAND block maxes
    shards   (shard_id, base_doc, doc_lens)        — per-shard doc lengths
    stats    {num_docs, collection_len, avg_len}   — WAND global stats
    """

    docs: object
    lexicon: object
    postings: object
    shards: object
    stats: dict
    cfg: IndexConfig
    # True when every doc-shard's posting rows are guaranteed to live in a
    # single DataFrame partition (the docwise encode's shard-keyed
    # repartition survives the lazy broadcast-join view) — the low-latency
    # serve path (operators/topk.py) can then kernel straight over the
    # cached partitions without a co-locating shuffle.
    postings_colocated: bool = False
    # The underlying string-keyed encoded rows (None when the id-keyed rows
    # are their own cache: an in-memory build over a non-broadcast
    # vocabulary). The serve path filters these by term STRING directly —
    # the id-keyed `postings` view is a lazy broadcast join whose lexicon
    # broadcast would otherwise be rebuilt on every single-query job
    # (~350 ms/query measured at 60k docs).
    postings_str: object = None


def extract_pages(pages_df, cfg: IndexConfig = DEFAULT_CONFIG,
                  filter_lang: str | None = "en"):
    """web_pages(url, warc_ts, html, text, lang) -> (url, text) via the
    byte-identical extractor. Rows failing the lang filter are dropped
    before tokenization (pushed ahead of the UDF by Catalyst)."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    df = pages_df
    if filter_lang is not None and "lang" in df.columns:
        df = df.filter(F.col("lang") == filter_lang)

    @F.pandas_udf(T.StringType())
    def _extract(html: pd.Series) -> pd.Series:
        return extract_text_batch(html)

    return df.select("url", _extract(F.col("html")).alias("text"))


TOKENS_SCHEMA = ("url string, doc_len int, "
                 "terms array<string>, tfs array<int>")


def doc_term_counts(pages_df, cfg: IndexConfig,
                    html_col: str | None = None):
    """(url, text|html) -> one row per doc with distinct terms and their
    counts as compact arrays — the per-batch forward index + run-length
    count of reference src/invert.cpp:43-69 fused (optionally with HTML
    extraction) into a single Arrow pass running straight on the table
    scan. One row per doc keeps the Python->Arrow boundary cheap; the
    (term, tf) explode happens JVM-side afterwards."""
    from collections import Counter

    analyze = make_analyzer(cfg)
    use_html = html_col is not None
    src_col = html_col if use_html else "text"

    def run(batches):
        from pisa_spark.functions.text import strip_html, strip_http_headers

        for pdf in batches:
            rows = []
            for url, payload in zip(pdf["url"], pdf[src_col]):
                if use_html:
                    if payload is None:
                        text = ""
                    else:
                        if isinstance(payload, (bytes, bytearray)):
                            payload = bytes(payload).decode(
                                "utf-8", errors="replace")
                        text = strip_html(strip_http_headers(payload))
                else:
                    text = payload
                toks = analyze(text) if text else []
                counts = Counter(toks)
                rows.append((url, len(toks),
                             list(counts.keys()),
                             np.fromiter(counts.values(), dtype=np.int32,
                                         count=len(counts))))
            if rows:
                yield pd.DataFrame(
                    rows, columns=["url", "doc_len", "terms", "tfs"])

    return pages_df.select("url", src_col).mapInPandas(run, TOKENS_SCHEMA)


def _quantizes(cfg: IndexConfig) -> bool:
    return cfg.quantize_bits is not None and cfg.scorer != "quantized"


def _term_stats_needed(cfg: IndexConfig) -> bool:
    """True when the encode needs per-term (df, cf): a non-separable
    scorer's full-score block maxima, or the score pass a quantize_bits
    build quantizes. Only the exploded encode takes them."""
    scorer = make_scorer(cfg.scorer, cfg.scorer_params())
    return _quantizes(cfg) or not (scorer.separable
                                   or getattr(scorer, "stats_free", False))


def _posting_scores(cfg: IndexConfig, stats: dict):
    """float32 score of every row of a flat (tf, doc_len, df, cf) stream,
    as one pandas-UDF column."""
    from pyspark.sql import functions as F

    scorer = make_scorer(cfg.scorer, cfg.scorer_params())
    num_docs, avg_len = stats["num_docs"], stats["avg_len"]
    collection_len = stats["collection_len"]

    @F.pandas_udf("float")
    def _score(tf: pd.Series, dl: pd.Series, df: pd.Series,
               cf: pd.Series) -> pd.Series:
        if scorer.separable:
            idf = scorer.idf(df.to_numpy(), num_docs)
            return pd.Series(
                idf.astype(np.float32)
                * scorer.doc_part(tf.to_numpy(), dl.to_numpy(), avg_len))
        # non-separable scorers take per-row df/cf arrays (one numpy pass)
        return pd.Series(scorer.score(
            tf.to_numpy(), dl.to_numpy(),
            df=df.to_numpy(), cf=cf.to_numpy(),
            num_docs=num_docs, avg_len=avg_len,
            collection_len=collection_len).astype(np.float32))

    return _score("tf", "doc_len", "df", "cf")


def _quantize_postings(flat, cfg: IndexConfig, stats: dict,
                       max_score: float):
    """flat (term, doc_id, tf, doc_len, df, cf) -> (term, doc_id, tf,
    doc_len) with tf replaced by the linearly quantized float32 score
    (block_inverted_index.hpp:446-468, linear_quantizer.cpp). Every part
    of a build quantizes against the same global max_score. The lexicon
    keeps the PRE-quantization df/cf of the term-stats table: the
    reference's wand_data keeps term collection frequency, not a sum of
    quantized scores."""
    from pyspark.sql import functions as F

    from pisa_spark.functions.scoring import LinearQuantizer

    quant = LinearQuantizer(max_score, cfg.quantize_bits)

    @F.pandas_udf("long")
    def _q(s: pd.Series) -> pd.Series:
        return pd.Series(quant(s.to_numpy()).astype(np.int64))

    return flat.select("term", "doc_id",
                       _q(_posting_scores(cfg, stats)).alias("tf"),
                       "doc_len")


def _pass_through(cfg: IndexConfig) -> IndexConfig:
    """The config of a quantized index: its tf slot holds the scores."""
    import dataclasses

    return dataclasses.replace(cfg, scorer="quantized", quantize_bits=None)


# --------------------------------------------------- global rank assignment

def _bare_parquet_files(df) -> list | None:
    """Leaf parquet files when df's analyzed plan is pure column pruning
    over one file relation. inputFiles() returns the leaf files even when
    the plan has filters/limits/joins above the scan, where footer-derived
    counts/samples would mis-state the post-filter data — so only a bare
    scan (column pruning over one relation) takes these shortcuts."""
    try:
        plan = df._jdf.queryExecution().analyzed().toString()
        bare = all(line.lstrip("+- :").startswith(
            ("Relation", "Project", "SubqueryAlias", "View"))
            for line in plan.splitlines() if line.strip())
        if not bare:
            return None
        files = df.inputFiles()
        if not files or not all(f.endswith(".parquet") for f in files):
            return None
        return sorted(files)
    except Exception:
        return None


def _footer_count(df) -> int | None:
    """Row count from parquet footers (driver-side metadata reads — cheap on
    local disk and on object stores alike); None when the plan isn't a plain
    parquet scan. Saves the count() job _sample_cuts would otherwise run."""
    files = _bare_parquet_files(df)
    if files is None:
        return None
    try:
        import pyarrow.parquet as pq

        total = 0
        for f in files:
            total += pq.ParquetFile(f.removeprefix("file:")).metadata.num_rows
        return total
    except Exception:
        return None


_CUT_SAMPLE_MAX_FILES = 64
_CUT_SAMPLE_MAX_GROUPS = 256  # total row-group column reads across files


def _arrow_cut_sample(df, col: str, need: int) -> list | None:
    """Driver-side systematic sample of `col` read straight from the parquet
    leaves with pyarrow — replaces the Spark sample job that billed a fixed
    ~0.7-1.1 s scheduler+scan cost to every build at every cluster size
    (RangePartitioner's sample job shape, without the job). Bounded at any
    scale: at most _CUT_SAMPLE_MAX_FILES evenly spaced files are opened and
    at most _CUT_SAMPLE_MAX_GROUPS row groups' `col` column is read in
    total (evenly spaced within each file, incl. first and last — a file
    sorted by `col` must contribute samples from its whole key range or
    the cuts skew), strided down to a per-file quota — bounded column
    reads however large the table. Returns None (caller falls back to the Spark sample
    job) for non-parquet lineage, filtered plans, schema mismatch, or any
    read error. Cut quality only affects bucket BALANCE, never rank
    correctness (assign_rank_ids computes exact global ranks within any
    bucketing), and the 4x-buckets-per-partition layout absorbs sampling
    error."""
    files = _bare_parquet_files(df)
    if not files:
        return None
    try:
        import numpy as np
        import pyarrow.parquet as pq

        if len(files) > _CUT_SAMPLE_MAX_FILES:
            step = len(files) / _CUT_SAMPLE_MAX_FILES
            files = [files[int(i * step)]
                     for i in range(_CUT_SAMPLE_MAX_FILES)]
        per_file = max(8, -(-need * 2 // len(files)))
        vals: list = []
        for f in files:
            pf = pq.ParquetFile(f.removeprefix("file:"))
            if col not in pf.schema_arrow.names:
                return None
            ngr = pf.metadata.num_row_groups
            if ngr <= 0:
                continue
            k = min(ngr, max(4, _CUT_SAMPLE_MAX_GROUPS // len(files)))
            picks = sorted({round(i * (ngr - 1) / max(1, k - 1))
                            for i in range(k)})
            quota = -(-per_file // len(picks))
            for g in picks:
                arr = pf.read_row_group(g, columns=[col]).column(0)
                n = len(arr)
                if n == 0:
                    continue
                stride = max(1, n // quota)
                vals.extend(arr.take(np.arange(0, n, stride)).to_pylist())
        return vals
    except Exception:
        return None


def _sample_cuts(df, col: str, parts: int, per_part: int = 48,
                 approx_count: int | None = None) -> list:
    """parts-1 sorted range cut points for `col`, from a driver-side sample
    (what RangePartitioner does, but reading ONLY `col` from `df` — so a
    cheap column-pruned source can stand in for an expensive lineage).
    approx_count skips the count() job (any near-count works: it only
    sizes the sample fraction)."""
    if parts <= 1:
        return []
    arrow_vals = _arrow_cut_sample(df, col, parts * per_part)
    if arrow_vals is not None and len(arrow_vals) >= parts * 4:
        vals = sorted(v for v in arrow_vals if v is not None)
        cuts: list = []
        for i in range(1, parts):
            c = vals[min(len(vals) - 1, (i * len(vals)) // parts)] \
                if vals else None
            if c is not None and (not cuts or c > cuts[-1]):
                cuts.append(c)
        return cuts
    cnt = approx_count if approx_count is not None else df.count()
    if cnt == 0:
        return []
    frac = min(1.0, (parts * per_part * 1.2) / cnt)
    vals = sorted(r[0] for r in df.select(col).sample(False, frac, seed=13)
                  .collect() if r[0] is not None)
    if len(vals) < parts * 4 and frac < 1.0:
        # approx_count overcounted (or the data is tiny): the sample came
        # back too thin to cut `parts` balanced ranges — resample at a
        # fraction sized from the observed row count instead of silently
        # funneling the build's dominant stage into a few buckets
        observed = max(1, round(len(vals) / frac))
        frac = min(1.0, (parts * per_part * 1.2) / observed)
        vals = sorted(r[0] for r in df.select(col).sample(False, frac, seed=13)
                      .collect() if r[0] is not None)
    cuts: list = []
    for i in range(1, parts):
        c = vals[min(len(vals) - 1, (i * len(vals)) // parts)] if vals else None
        if c is not None and (not cuts or c > cuts[-1]):
            cuts.append(c)
    return cuts


def _bucket_expr(col: str, cuts: list):
    """pid = number of cut points <= col — a chain of comparisons that
    whole-stage codegen handles; no per-row Python, no extra shuffle."""
    from pyspark.sql import functions as F

    e = F.lit(0)
    for c in cuts:
        e = e + (F.col(col) >= F.lit(c)).cast("int")
    return e.cast("long")


def assign_rank_ids(df, order_col: str, id_col: str, cuts: list, parts: int,
                    extra_aggs: list | None = None, align: int = 1):
    """Assign dense 0..N-1 ids in global `order_col` order without a global
    window and without range-sampling `df`'s (possibly expensive) lineage:
    bucket by the precomputed cut points, one hash shuffle on the bucket id,
    partition-local sort, then id = bucket offset + (mono - bucket min mono).
    Buckets are contiguous within a partition after the sort, so the
    arithmetic holds even when several buckets hash into one partition.

    Returns (with_ids, arranged_cached, meta_rows); meta_rows carries one
    row per bucket including any `extra_aggs` (lets callers fuse their own
    global stats into this job instead of running another).

    Placement: buckets land on partitions round-robin (bucket i -> partition
    i % parts, via operators.partitioning) instead of by raw hash — with
    only O(parts) distinct bucket values, hash placement leaves ~1/e of the
    partitions empty and doubles up others, a 2x straggler on the build's
    dominant stage. Callers pass MORE buckets than parts (e.g. 4x) so
    cut-sampling error also averages out across a partition's buckets."""
    from pyspark import StorageLevel
    from pyspark.sql import functions as F

    from pisa_spark.operators.partitioning import (partition_values,
                                                   round_robin_expr)

    spark = df.sparkSession
    vals = partition_values(spark, parts)
    # DESER level: the columnar cache build for serialized levels pays a
    # compression pass that contends badly at high task concurrency
    # (measured: +15s on 300k docs at 16 cores, free at 4)
    arranged = (
        df.withColumn("_pid", _bucket_expr(order_col, cuts))
        .repartition(parts, round_robin_expr(F.col("_pid"), parts, vals))
        .sortWithinPartitions("_pid", order_col)
        .withColumn("_mono", F.monotonically_increasing_id())
        .persist(StorageLevel.MEMORY_AND_DISK_DESER)
    )
    aggs = [F.count("*").alias("_n"), F.min("_mono").alias("_m0")]
    aggs += list(extra_aggs or [])
    meta = sorted(arranged.groupBy("_pid").agg(*aggs).collect(),
                  key=lambda r: r["_pid"])
    # align > 1: pad each bucket's id offset up to the next multiple —
    # ids stay contiguous WITHIN a bucket with holes only at bucket seams.
    # Passing align=shard_span makes every bucket start span-aligned, so
    # NO doc shard ever straddles a bucket boundary and the docwise encode
    # runs over the rank layout with no shuffle of its own at any bucket
    # count (without the pad, a seam shard would be split across two
    # partitions and encode as two rows per term). Holes
    # are tails of a bucket's last shard: present docs still occupy the
    # first (doc_id - shard_base) positions, so doc_lens indexing and
    # every downstream consumer are unaffected; gap cost in the docID
    # codecs is a few extra bits per seam.
    # The per-bucket shift (offset - min mono) rides in the plan as one
    # typed map literal: a join to a driver-list DataFrame would rebuild
    # its broadcast through a Python-worker job in every execution that
    # reads the result. Every _pid of `arranged` has a meta row.
    shift, acc = [], 0
    for r in meta:  # buckets are ordered by cut point, so pid order == key order
        acc = -(-acc // align) * align
        shift += [F.lit(int(r["_pid"])).cast("long"),
                  F.lit(acc - int(r["_m0"])).cast("long")]
        acc += int(r["_n"])
    ids = F.col("_mono")
    if shift:  # an empty input has no buckets (and no rows)
        ids = ids + F.create_map(*shift)[F.col("_pid")]
    out = arranged.withColumn(id_col, ids).drop("_pid", "_mono")
    return out, arranged, meta


def _f32(x: float) -> float:
    return float(np.float32(x))


def _in_background(fn):
    """Run fn() on a driver thread — Spark schedules jobs from separate
    driver threads side by side, so independent DAG branches overlap
    instead of each adding a fixed job latency to the build. The thread
    inherits the caller's local properties, so its jobs carry the
    caller's job group and description. Returns join(), which waits for
    fn and re-raises its error."""
    from pyspark import InheritableThread

    errs: list = []

    def run():
        try:
            fn()
        except BaseException as ex:  # re-raised at join()
            errs.append(ex)

    t = InheritableThread(target=run)
    t.start()

    def join() -> None:
        t.join()
        if errs:
            raise errs[0]

    return join


def _explode_terms(doc_terms):
    """Flat forward index (doc_id, doc_len, term, tf long): JVM-side
    explode of the compact per-doc (terms, tfs) arrays (map_to_postings,
    invert.cpp:43-53)."""
    from pyspark.sql import functions as F

    return doc_terms.select(
        "doc_id", "doc_len",
        F.explode(F.arrays_zip("terms", "tfs")).alias("z")
    ).select("doc_id", "doc_len",
             F.col("z.terms").alias("term"),
             F.col("z.tfs").cast("long").alias("tf"))


def shards_of(docs, shard_span: int):
    """Per-shard doc length arrays (shard_id, base_doc, doc_lens) — the
    wand_data doc_lens — from a (doc_id, doc_len, shard_id) docmap."""
    from pyspark.sql import functions as F

    return (
        docs.groupBy("shard_id")
        .agg(F.array_sort(
            F.collect_list(F.struct("doc_id", "doc_len"))).alias("dl"))
        .select(
            "shard_id",
            (F.col("shard_id") * shard_span).alias("base_doc"),
            F.transform("dl", lambda x: x["doc_len"]).alias("doc_lens"),
        )
    )


def _encode_str(doc_terms, cfg: IndexConfig, stats: dict, stride: int = 1,
                shuffle: bool = True, term_stats=None,
                max_score: float | None = None):
    """String-keyed encoded posting rows of every build and of streaming
    ingest; returns (rows, docwise). The encoder choice is the build's only
    scorer-dependent step. Without term_stats (a separable or stats-free
    scorer): the doc-wise encode while a shard's token mass fits the
    docwise working-set bound (shuffle=False when doc_terms is the build's
    span-aligned rank layout, which already holds each shard whole on one
    partition), above it the exploded (shard, term)-shuffled encode, whose
    groups are bounded by shard_span postings regardless of document
    length. With term_stats (term, df, cf): the exploded encode over the
    flat stream joined on `term`, quantized against max_score first when
    cfg.quantize_bits is set. The encoders are looked up on their module
    per call, so a patched module attribute takes effect."""
    from pisa_spark.operators import postings as P

    if term_stats is None and (cfg.shard_span * max(stats["avg_len"], 1.0)
                               <= cfg.docwise_max_tokens):
        return P.encode_postings_docwise_str(
            doc_terms, cfg, stats, shard_stride=stride,
            shuffle=shuffle), True
    flat = _explode_terms(doc_terms)
    if term_stats is not None:
        flat = flat.join(term_stats, "term")
    if _quantizes(cfg):
        flat = _quantize_postings(flat, cfg, stats, max_score)
        cfg = _pass_through(cfg)
    return P.encode_postings(flat, cfg, stats), False


def _run_buckets(spark, manifest: BuildManifest, n_buckets: int, build_one):
    """Run build_one(b) for every unfinished postings bucket, then return
    all buckets read back from parquet.

    Unfinished buckets run as CONCURRENT Spark jobs from driver threads:
    each bucket's real work is a fraction of a second of cluster time, so
    serial execution is dominated by per-job scheduling overhead —
    concurrent jobs share the task slots and overlap that overhead (the
    manifest serializes its own updates; a crash still resumes at the
    per-bucket granularity). Like _in_background's, the pool threads
    carry the caller's job group and description."""
    import concurrent.futures as futures

    from pyspark import inheritable_thread_target

    todo = [b for b in range(n_buckets)
            if not manifest.done(f"postings/bucket={b}")]
    if todo:
        build_one = inheritable_thread_target(spark)(build_one)
        with futures.ThreadPoolExecutor(max_workers=len(todo)) as pool:
            for _ in pool.map(build_one, todo):  # re-raises worker errors
                pass
    paths = [manifest.artifact_path(f"postings/bucket={b}")
             for b in range(n_buckets)]
    for p in paths:
        spark.catalog.refreshByPath(p)
    return spark.read.parquet(*paths)


_LEXICON_SCHEMA = ("term string, term_id long, df long, cf long, "
                   "max_part float, max_score float")


def _max_score_np(df_arr: np.ndarray, max_part: np.ndarray,
                  cfg: IndexConfig, stats: dict) -> np.ndarray:
    """max_score column, numpy — mirrors _with_max_score bit-for-bit
    (bm25: double idf * double(max_part) cast float32, like the SQL)."""
    mp = max_part.astype(np.float32)
    if cfg.scorer != "bm25":
        return mp
    dfv = df_arr.astype(np.float64)
    idf = np.maximum(1e-6, np.log(
        (float(stats["num_docs"]) - dfv + 0.5) / (dfv + 0.5))
    ) * (1.0 + cfg.bm25_k1)
    return (idf * mp.astype(np.float64)).astype(np.float32)


def _lexicon_from_term_agg(spark, agg_pdf: pd.DataFrame, cfg: IndexConfig,
                           stats: dict):
    """Full lexicon (term, term_id, df, cf, max_part, max_score) built
    DRIVER-side from the one-scan per-term aggregation of the encoded
    rows (broadcastable vocabularies only), shipped via Arrow. Fusing the
    vocabulary probe and the WAND term-stats scan into one job removes a
    whole pass over the encoded cache from every build."""
    agg_pdf = agg_pdf.sort_values("term", kind="mergesort").reset_index(
        drop=True)
    agg_pdf["term_id"] = np.arange(len(agg_pdf), dtype=np.int64)
    agg_pdf["max_score"] = _max_score_np(
        agg_pdf["df"].to_numpy(), agg_pdf["max_part"].to_numpy(), cfg, stats)
    out = agg_pdf[["term", "term_id", "df", "cf", "max_part", "max_score"]]
    return spark.createDataFrame(out, _LEXICON_SCHEMA)


def _lexicon_driver_ids(spark, aggd, cfg: IndexConfig, stats: dict):
    """Dense sorted-term ids for a BROADCAST-size vocabulary, assigned
    driver-side from one slim Arrow transfer of the term column and
    joined back onto the cached term-agg rows (stats stay distributed).

    Rationale: when n_vocab <= lexicon_broadcast_max the term_id join
    broadcasts the lexicon anyway, so a driver round-trip of the
    vocabulary is already in the plan — assigning ids there adds nothing
    serial that wasn't. The distributed alternative (range-sample +
    rank shuffle, kept for larger vocabularies) costs ~3 s of fixed
    small-job overhead per build, billed identically at every cluster
    size — a direct tax on build scaling efficiency.

    The round-trip stays in Arrow end-to-end: toArrow ->
    pc.sort_indices driver-side, then the sorted vocabulary ships back
    as an IPC-bytes broadcast VARIABLE and each task computes
    term_id = pc.index_in(term, sorted_terms) — the rank in sorted
    order IS the dense id. No createDataFrame (measured ~0.5-1.7 s of
    serial driver conversion at 596k rows), no LocalRelation that every
    downstream job re-materializes (~1.1 s each), and no broadcast-hash
    -join relation built single-threaded on the driver. Arrow's
    unsigned-byte string order == Spark's UTF8 binary order."""
    from pyspark.sql.types import LongType, StructField, StructType

    terms = aggd.select("term").toArrow().column("term").combine_chunks()
    terms_sorted = pc.take(terms, pc.sort_indices(terms))
    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink,
                           pa.schema([("term", pa.string())])) as w:
        w.write_batch(pa.record_batch([terms_sorted], names=["term"]))
    bv = spark.sparkContext.broadcast(sink.getvalue().to_pybytes())
    out_schema = StructType(
        list(aggd.schema.fields) + [StructField("term_id", LongType())])

    def attach(batches):
        vs = (pa.ipc.open_stream(pa.py_buffer(bv.value)).read_all()
              .column("term").combine_chunks())
        for rb in batches:
            ids = pc.index_in(rb.column("term"),
                              value_set=vs).cast(pa.int64())
            yield rb.append_column("term_id", ids)

    lex_ids = aggd.mapInArrow(attach, schema=out_schema)
    return _with_max_score(lex_ids, cfg, stats).select(
        "term", "term_id", "df", "cf", "max_part", "max_score")


def _term_agg_of(rows, key: str = "term"):
    """Per-term WAND stats (df, cf, max_part) straight off the encoded
    rows (one per shard x term) — ~100x fewer rows than the flat postings
    the reference streams twice (wand_data.hpp:64-115)."""
    from pyspark.sql import functions as F

    return rows.groupBy(key).agg(
        F.sum("n").alias("df"), F.sum("sum_tf").alias("cf"),
        F.max(F.array_max("block_max_part")).alias("max_part"))


def _lexicon_of(spark, aggd, n_vocab: int, cfg: IndexConfig, stats: dict,
                parts: int):
    """Full lexicon of a build from the cached per-term aggregation `aggd`
    (n_vocab rows, sorted distinct terms -> dense term_ids, fwd.terms
    semantics). Returns (lexicon, caches): the lexicon
    is NOT materialized — the caller stores it (persist + count, or a
    manifest write + read) and only then unpersists `caches`, which its
    lineage still reads."""
    if n_vocab <= cfg.lexicon_driver_max:
        # small vocabulary: the driver round-trip (collect + pandas
        # assemble + ship back) is the fastest path
        return _lexicon_from_term_agg(spark, aggd.toPandas(), cfg,
                                      stats), [aggd]
    if n_vocab <= cfg.lexicon_broadcast_max:
        # broadcast-size vocabulary: driver id-assignment over a slim
        # term-only Arrow transfer, stats joined distributed (see
        # _lexicon_driver_ids) — one job, replacing the range-sample job
        # and the rank shuffle whose ~3 s fixed small-job cost billed
        # identically at every cluster size.
        return _lexicon_driver_ids(spark, aggd, cfg, stats), [aggd]
    # web-scale vocabulary: distributed dense-id assignment over the
    # cached term-agg rows. The driver path's cost is linear in vocabulary
    # size and SERIAL (measured 4 s of a 31 s 8-core build at 596k terms —
    # a fixed tax every cluster size pays equally); this one is a
    # parallel ~1 s floor.
    term_cuts = _sample_cuts(aggd, "term", parts * 4)
    lex_ids, rank_cache, _ = assign_rank_ids(
        aggd, "term", "term_id", term_cuts, parts)
    lexicon = _with_max_score(lex_ids, cfg, stats).select(
        "term", "term_id", "df", "cf", "max_part", "max_score")
    return lexicon, [rank_cache, aggd]


def _fits_broadcast(lexicon, cfg: IndexConfig) -> bool:
    """Broadcast decision for a parquet-backed lexicon: the row count
    comes from the parquet footers (no Spark job) when the plan is a bare
    scan, else from a count."""
    n = _footer_count(lexicon)
    return (lexicon.count() if n is None else n) <= cfg.lexicon_broadcast_max


def join_term_ids(enc_str_df, lexicon_df, broadcast: bool):
    """Attach dense term_ids to string-keyed encoded posting rows (the
    join-back shared by the build, streaming ingest and load_index).

    broadcast=True (the lexicon fits the broadcast bound): a hash probe
    per encoded row on the scan, the index itself never shuffles — and
    the view stays lazy, its backing store being the caller's cache or
    parquet artifacts. Otherwise a sort-merge join."""
    from pyspark.sql import functions as F

    from pisa_spark.operators.postings import _ENCODED_COLUMNS

    lex = lexicon_df.select("term", "term_id")
    joined = enc_str_df.join(F.broadcast(lex) if broadcast else lex, "term")
    return joined.drop("term").select(*_ENCODED_COLUMNS)


def _with_max_score(lex, cfg: IndexConfig, stats: dict):
    """Append the max_score column to a (.., df, cf, max_part) lexicon DF —
    the WAND term upper bound (wand_data.hpp:64-115); SQL doubles for bm25
    (kernels recompute idf in float32 themselves), pass-through for every
    other scorer (bm25 is the only separable one)."""
    from pyspark.sql import functions as F

    if cfg.scorer != "bm25":
        return lex.withColumn("max_score", F.col("max_part").cast("float"))
    idf = F.greatest(
        F.lit(1e-6),
        F.log((F.lit(float(stats["num_docs"])) - F.col("df") + 0.5)
              / (F.col("df") + 0.5))) * F.lit(1.0 + cfg.bm25_k1)
    return lex.withColumn("max_score",
                          (idf * F.col("max_part")).cast("float"))


def build_index(docs_df, cfg: IndexConfig = DEFAULT_CONFIG,
                out_dir: str | None = None, n_buckets: int = 8,
                url_col: str = "url", text_col: str = "text",
                html_col: str | None = None,
                eager: bool = False,
                bucket_min_tokens: int = 1 << 25) -> InvertedIndex:
    """Build the full index from a (url, text) or (url, html) DataFrame.

    With html_col set, extraction is fused into the tokenize pass (one
    Python/Arrow boundary for the whole scalar layer). With out_dir set,
    every stage checkpoints through a BuildManifest and a rerun resumes,
    skipping completed artifacts/buckets. With eager=True every stage is
    materialized inside this call and per-phase wall seconds are recorded
    in stats["phase_seconds"] (build metrics, north-rule requirement).
    """
    from functools import partial

    from pyspark import StorageLevel
    from pyspark.sql import functions as F

    codecs.codec_entry(cfg.codec)  # unknown codec: fail before any Spark job
    spark = docs_df.sparkSession
    manifest = BuildManifest(out_dir) if out_dir else None
    if manifest and manifest.done("lexicon_base"):
        # the lexicon-first layout of earlier builds: its postings buckets
        # are keyed on term_id hashes and cannot mix with doc-shard buckets
        raise ValueError(
            f"{out_dir} holds a lexicon-first build (its manifest marks "
            "'lexicon_base'); rebuild into an empty directory "
            "(load_index still reads a finished index of that layout)")
    deser = StorageLevel.MEMORY_AND_DISK_DESER
    t_start = time.time()
    phase_t = [time.time()]
    phases: dict = {}

    def _phase(name: str) -> None:
        now = time.time()
        phases[name] = round(now - phase_t[0], 3)
        phase_t[0] = now

    parts = spark.sparkContext.defaultParallelism

    payload = html_col if html_col else text_col
    src = docs_df.select(F.col(url_col).alias("url"),
                         F.col(payload).alias(payload if html_col else "text"))

    # ---- stage: fused extract+tokenize on the raw scan, then dense
    # URL-ordered docIDs. URL cut points are sampled from the RAW input
    # (column-pruned scan — the html payload is neither sampled nor
    # shuffled; only the ~10x slimmer token arrays move).
    # doc_terms is the ROOT artifact: everything docID-dependent derives
    # from it, and downstream marks gate on its durability (see below).
    # docs is a projection — rebuilt from the artifact if missing, never by
    # re-running the tokenize stage (a re-run could assign different ids
    # and silently orphan already-marked postings buckets).
    join_root = None  # waits for the root doc_terms write (manifest)
    join_writes = None  # waits for the doc_terms and docs writes (manifest)
    tok_cache = None
    if manifest and manifest.done("doc_terms"):
        doc_terms = manifest.read_df(spark, "doc_terms")
        stats = manifest.state["stats"]
        if manifest.done("docs"):
            docs = manifest.read_df(spark, "docs")
        else:
            manifest.write_df("docs", doc_terms.select(
                "doc_id", "url", "doc_len", "shard_id"))
            docs = manifest.read_df(spark, "docs")
    else:
        # 4x more buckets than partitions: round-robin placement gives each
        # partition ~4 equal buckets, averaging out cut-sampling error
        # sampled under the SOURCE column name so the pyarrow footer path
        # can match the file schema; cut points are plain values, the
        # downstream bucket expression applies them to the aliased column
        cuts = _sample_cuts(docs_df.select(url_col), url_col, parts * 4,
                            approx_count=_footer_count(docs_df))
        _phase("url_cuts")
        tokenized = doc_term_counts(src, cfg, html_col=html_col)
        # align=shard_span: bucket doc_id offsets pad to span multiples, so
        # no shard straddles a bucket seam and the docwise encode runs with
        # zero shuffle at ANY bucket count (see assign_rank_ids)
        doc_terms, tok_cache, meta = assign_rank_ids(
            tokenized, "url", "doc_id", cuts, parts,
            extra_aggs=[F.sum("doc_len").alias("_dl")],
            align=cfg.shard_span)
        # ---- collection stats, fused into the rank job
        # (wand_data.hpp:52-60: m_avg_len = float(len / double(num_docs)))
        _phase("tokenize_rank")
        num_docs = sum(int(r["_n"]) for r in meta)
        collection_len = sum(int(r["_dl"] or 0) for r in meta)
        stats = {
            "num_docs": num_docs,
            "collection_len": collection_len,
            "avg_len": _f32(collection_len / num_docs) if num_docs else 0.0,
        }
        doc_terms = doc_terms.withColumn(
            "shard_id",
            (F.col("doc_id") / F.lit(cfg.shard_span)).cast("long"))
        docs = doc_terms.select("doc_id", "url", "doc_len", "shard_id")
        if manifest:
            manifest.set_stats(stats)
            # Durability writes run CONCURRENTLY with the encode stage's
            # bucket jobs (they scan the same tokenize cache): serializing
            # them added their full wall time to every checkpointed build.
            # Consistency rule: nothing downstream is MARKED complete until
            # the doc_terms artifact (the stable source a resume re-reads)
            # is durable — bucket workers join this write before marking.
            # The artifact is partitioned by the postings bucket key (shard
            # mod n_buckets) so a RESUMED build's bucket jobs partition-
            # prune their scans to 1/n_buckets of the corpus.
            join_root = _in_background(partial(
                manifest.write_df, "doc_terms",
                doc_terms.withColumn(
                    "_bucket", F.pmod("shard_id", F.lit(n_buckets))),
                partition_by=["_bucket"]))
            join_docs = _in_background(partial(manifest.write_df, "docs",
                                               docs))

            def join_writes() -> None:
                join_root()
                join_docs()
        else:
            # cached before the shards pass reads it: that job fills the
            # slim docmap as a side effect, so releasing the tokenize
            # cache below needs no pass of its own
            docs = docs.persist(deser)

    # ---- stage: per-term (df, cf) for scorers that need them at encode
    # time (the encoder choice is the only scorer-dependent step; see
    # _encode_str). A manifest build writes the table once, before any
    # postings job, so every bucket and every resume reads the same stats;
    # term stats and posting scores do not depend on doc ids, so their
    # marks need not wait for the root artifact.
    term_stats = max_score = None
    quantized = _quantizes(cfg)
    if _term_stats_needed(cfg):
        if manifest and manifest.done("term_stats"):
            term_stats = manifest.read_df(spark, "term_stats")
        else:
            term_stats = _explode_terms(doc_terms).groupBy("term").agg(
                F.count("*").alias("df"), F.sum("tf").alias("cf"))
            if manifest:
                manifest.write_df("term_stats", term_stats)
                term_stats = manifest.read_df(spark, "term_stats")
            else:
                term_stats = term_stats.persist(deser)
        if quantized:
            # one global max score for the whole index (one scoring pass,
            # like the reference's wand-data pre-pass before compress
            # --quantize), recorded so every bucket and every resume
            # quantizes against the same one
            max_score = (manifest.state["metrics"].get("quantize_max_score")
                         if manifest else None)
            if max_score is None:
                max_score = float(
                    _explode_terms(doc_terms).join(term_stats, "term")
                    .agg(F.max(_posting_scores(cfg, stats)))
                    .collect()[0][0] or 1.0)
                if manifest:
                    manifest.record_metric("quantize_max_score", max_score)
    encode = partial(_encode_str, cfg=cfg, stats=stats,
                     term_stats=term_stats, max_score=max_score)
    if quantized:
        cfg = _pass_through(cfg)

    # ---- stage: per-shard doc length arrays (wand_data doc_lens), started
    # here so it runs CONCURRENTLY with the posting encode (independent DAG
    # branches) — serializing them just adds a fixed job latency to every
    # build. The manifest write's mark gates on the root doc_terms
    # artifact like every docID-dependent artifact.
    join_shards = None
    if manifest and manifest.done("shards"):
        shards = manifest.read_df(spark, "shards")
    elif manifest:
        shards = None  # read back once the write joins
        join_shards = _in_background(partial(
            manifest.write_df, "shards", shards_of(docs, cfg.shard_span),
            pre_mark=join_root))
    else:
        shards = shards_of(docs, cfg.shard_span).persist()
        if eager:
            join_shards = _in_background(shards.count)

    # ---- stage: string-keyed encoded postings
    colocated = False  # set by the in-memory docwise encode
    if manifest:
        # RESUMABLE: encode in n_buckets independent jobs keyed on doc
        # shards (bucket b = shards with shard_id % n_buckets == b — stable
        # across resumes because doc_ids come from the checkpointed docs
        # artifact) — each bucket writes its own artifact and a killed
        # build resumes at the first unfinished bucket.
        # Resume granularity adapts to the work size (a pure function of
        # the manifest-recorded corpus stats, so resumes always agree with
        # the original run's choice): below bucket_min_tokens per bucket,
        # per-bucket jobs cost more in scheduling + extra scans than a
        # resume could ever save — the encode runs as ONE job (a killed
        # small build re-encodes in seconds) overlapped with the root
        # artifact writes. Above the bound, n_buckets independent jobs each
        # partition-prune the doc_terms artifact to their own bucket (the
        # corpus is still read only once across all jobs).
        if stats["collection_len"] / max(1, n_buckets) < bucket_min_tokens:
            if not manifest.done("postings"):
                manifest.write_df("postings", encode(doc_terms)[0],
                                  pre_mark=join_root)
            enc_str = manifest.read_df(spark, "postings")
        else:
            if join_root is not None:
                # wait for the root doc_terms artifact, then source every
                # bucket job from its partition-pruned scan
                join_root()
                doc_terms = manifest.read_df(spark, "doc_terms")
            shard_of = (F.col("doc_id") / F.lit(cfg.shard_span)).cast("long")

            def build_bucket(b: int) -> None:
                if "_bucket" in doc_terms.columns:
                    part_docs = doc_terms.filter(F.col("_bucket") == b)
                else:
                    part_docs = doc_terms.filter(
                        F.pmod(shard_of, F.lit(n_buckets)) == b)
                manifest.write_df(f"postings/bucket={b}",
                                  encode(part_docs, stride=n_buckets)[0],
                                  pre_mark=join_root)

            enc_str = _run_buckets(spark, manifest, n_buckets, build_bucket)
        if join_writes is not None:
            join_writes()
        _phase("encode_postings")
    else:
        # the rank layout holds every shard whole on one partition, doc_ids
        # ascending: the docwise encode needs no shuffle of its own
        enc_str, colocated = encode(doc_terms, shuffle=False)
        enc_str = enc_str.persist(deser)

    # ---- stage: lexicon from the ENCODED rows, then term_ids joined back
    # onto the string-keyed rows (the postings artifact keeps TERM STRINGS
    # so a bucket never has to be rewritten when the vocabulary changes
    # resume-to-resume — load_index re-joins ids the same way). Vocabulary
    # probe and WAND term stats are ONE fused aggregation job, which in
    # memory also materializes the encode cache (cache-on-first-scan) and
    # returns only a count — no driver data transfer at any vocabulary
    # size; for small vocabularies the whole lexicon is then assembled
    # driver-side (Arrow).
    if manifest and manifest.done("lexicon"):
        lexicon = manifest.read_df(spark, "lexicon")
    else:
        aggd = _term_agg_of(enc_str)
        if quantized:
            # sum_tf adds quantized scores: carry the true df/cf instead
            aggd = aggd.drop("df", "cf").join(term_stats, "term")
        aggd = aggd.persist(deser)
        n_vocab = aggd.count()
        if manifest is None:
            _phase("encode_postings")
        lexicon, caches = _lexicon_of(spark, aggd, n_vocab, cfg, stats,
                                      parts)
        if manifest:
            manifest.write_df("lexicon", lexicon)
            lexicon = manifest.read_df(spark, "lexicon")
        else:
            # persist + materialize: left as a LocalRelation, every
            # downstream job re-materializes the local rows into its
            # plan — measured ~1-2 s per 200-query batch at 300k docs
            lexicon = lexicon.persist()
            lexicon.count()
        for c in [*caches, term_stats]:
            if c is not None:
                c.unpersist()
    if manifest:
        postings = join_term_ids(enc_str, lexicon,
                                 _fits_broadcast(lexicon, cfg))
    elif n_vocab <= cfg.lexicon_broadcast_max:
        # broadcast vocabulary: postings stays a LAZY broadcast-join view
        # over the cached encoded rows — materializing it into a second
        # cache would re-copy the whole index through memory (measured
        # 3-15 s per build, pure bandwidth) for a join that costs
        # microseconds per probe at query time. enc_str (already
        # materialized by the vocab probe) is the single backing cache.
        postings = join_term_ids(enc_str, lexicon, True)
    else:
        # non-broadcast vocabulary: the id join is a sort-merge SHUFFLE of
        # the whole index that every downstream action would re-pay, so
        # the join result becomes the index's one postings cache. The
        # string-keyed rows are released once it is materialized (the
        # serve path reads the id view, which is no lazy broadcast here),
        # and the join's term-hash layout no longer keeps shards whole.
        postings = join_term_ids(enc_str, lexicon, False).persist(deser)
        postings.count()
        enc_str.unpersist()
        enc_str, colocated = None, False
    _phase("lexicon_base")

    if join_shards is not None:
        join_shards()
    if shards is None:
        shards = manifest.read_df(spark, "shards")
    _phase("shards")
    stats["phase_seconds"] = phases
    stats["build_seconds"] = round(time.time() - t_start, 3)

    if manifest:
        manifest.record_metric("build_seconds", round(time.time() - t_start, 3))
        manifest.record_metric("num_docs", stats["num_docs"])
        # the artifacts are only readable with the config that wrote them
        # (codec, block layout, analyzer chain) — persist it so load_index
        # restores it without the caller re-stating build flags
        manifest.record_metric("index_config", cfg.to_json_dict())

    # ---- release the build's intermediate caches once every index table
    # lives in its own materialized cache (eager in-memory builds) or is
    # read back from parquet (checkpointed builds, whose background writes
    # have all joined). The tokenize cache is the forward index: its full
    # (terms, tfs) arrays are ~20x the slim docmap and would otherwise stay
    # resident in executor storage for the index's whole serving life
    # (measured 1.9 GB vs the 2.9 GB total at 1.2M docs). In memory the
    # slim docs cache was filled by the shards pass, which has joined. A
    # query service keeps the inverted index hot, not the forward index
    # (the reference serves from the inv/wand mmaps alone; fwd is a
    # build-time artifact).
    if tok_cache is not None and (eager or manifest):
        if manifest:
            docs = manifest.read_df(spark, "docs")
        tok_cache.unpersist()

    return InvertedIndex(docs=docs, lexicon=lexicon, postings=postings,
                         shards=shards, stats=stats, cfg=cfg,
                         postings_colocated=colocated,
                         postings_str=enc_str)


def load_index(spark, out_dir: str,
               cfg: IndexConfig | None = None) -> InvertedIndex:
    """Load a persisted index. cfg=None restores the config the index was
    BUILT with from the manifest (codec/block layout/analyzer chain are
    baked into the artifacts); pass a cfg only to override deliberately."""
    manifest = BuildManifest(out_dir)
    if cfg is None:
        saved = manifest.state.get("metrics", {}).get("index_config")
        cfg = (IndexConfig.from_json_dict(saved) if saved
               else DEFAULT_CONFIG)
    # postings/bucket=N subdirs surface as a partition column; drop it
    postings = spark.read.parquet(manifest.artifact_path("postings"))
    if "bucket" in postings.columns:
        postings = postings.drop("bucket")
    lexicon = manifest.read_df(spark, "lexicon")
    enc_str_handle = None
    if "term" in postings.columns:
        # string-keyed artifacts (every build but the retired lexicon-first
        # layout, which stored term_ids): re-attach dense ids from the
        # lexicon the same way the build did
        enc_str_handle = postings
        postings = join_term_ids(postings, lexicon,
                                 _fits_broadcast(lexicon, cfg))
    return InvertedIndex(
        docs=manifest.read_df(spark, "docs"),
        lexicon=lexicon,
        postings=postings,
        shards=manifest.read_df(spark, "shards"),
        stats=manifest.state["stats"],
        cfg=cfg,
        postings_str=enc_str_handle,
    )
