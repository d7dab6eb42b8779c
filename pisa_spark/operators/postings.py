"""Posting-list materialization: doc-sharded, block-encoded, block-max'd.

Scale design (the part the reference, a single-node engine, never needed):

- The docID space is partitioned into **shards** of `cfg.shard_span` docs
  (shard_id = doc_id // span). Every (shard_id, term_id) posting run is
  therefore bounded by shard_span postings, so a stopword with df == N can
  never form a hot aggregation key: skew is bounded *by construction*,
  which is the salted repartition-by-term-hash strategy with the salt made
  deterministic (salt == doc range) so that runs stay doc-sorted and
  query-side merge is a concatenation, mirroring how the reference's invert
  merges doc-sorted batch runs (src/invert.cpp:163-236). Doc-sharding is
  also the reference's own distribution story (range_query over docID
  ranges, include/pisa/range_query.hpp:8-37).
- Two drivers feed one kernel (_encode_arrays). encode_postings takes
  exploded (key, doc_id, tf, doc_len) rows, hash-partitioned on
  (shard_id, key) and sorted on (shard_id, key, doc_id), where the key is
  whichever of `term` (string-keyed output) or `term_id` the input
  carries. encode_postings_docwise_str takes the compact per-doc token
  rows, shard-placed, and explodes and sorts each doc-shard inside the
  kernel. Both run their mapInArrow batches through one carry loop
  (_whole_groups), which re-cuts them so no (shard_id[, key]) group is
  split across Arrow batches. No collect_list ever materializes a full
  posting list as one JVM object.
- Per row: docIDs as one codec chunk per block (cfg.block_size postings,
  the layout codecs.encode_blocks owns) with per-block byte offsets,
  last-docIDs and block-max scores
  — the WAND data of reference include/pisa/wand_data.hpp:86-112 and block
  layout of src/block_inverted_index.cpp:88-130 re-expressed columnar.
- For bm25 the stored block max is the doc-dependent factor
  f/(f+k1(1-b+b·dl/avg)) (max_part); the executor multiplies by the term's
  idf — identical bounds, no df join needed at encode time. Non-separable
  scorers (qld/pl2/dph) get full-score block maxima via a term-stats join.

Encoded schema (one row per shard × term):
    shard_id long, term_id long, n long, sum_tf long, base_doc long,
    last_doc long, block_last_docs array<long>, block_doc_offs array<int>,
    block_tf_offs array<int>, block_max_part array<float>,
    docs_bin binary, tfs_bin binary

`n` and `sum_tf` let per-term df/cf/max-score stats aggregate from these
rows (one per shard × term) instead of the ~100× larger flat postings.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc

from pisa_spark.config import IndexConfig
from pisa_spark.functions.scoring import make_scorer
from pisa_spark.operators import codecs

ENCODED_SCHEMA = (
    "shard_id long, term_id long, n long, sum_tf long, base_doc long, "
    "last_doc long, "
    "block_last_docs array<long>, block_doc_offs array<int>, "
    "block_tf_offs array<int>, block_max_part array<float>, "
    "docs_bin binary, tfs_bin binary"
)

FLAT_SCHEMA = "term_id long, doc_id long, tf long"

_ENCODED_COLUMNS = [
    "shard_id", "term_id", "n", "sum_tf", "base_doc", "last_doc",
    "block_last_docs", "block_doc_offs", "block_tf_offs",
    "block_max_part", "docs_bin", "tfs_bin",
]


ENCODED_PA_SCHEMA = pa.schema([
    ("shard_id", pa.int64()), ("term_id", pa.int64()), ("n", pa.int64()),
    ("sum_tf", pa.int64()), ("base_doc", pa.int64()), ("last_doc", pa.int64()),
    ("block_last_docs", pa.list_(pa.int64())),
    ("block_doc_offs", pa.list_(pa.int32())),
    ("block_tf_offs", pa.list_(pa.int32())),
    ("block_max_part", pa.list_(pa.float32())),
    ("docs_bin", pa.binary()), ("tfs_bin", pa.binary()),
])

# string-keyed encode output: `term` (string) instead of `term_id` — used
# by every index build, where dense term_ids are assigned FROM
# the encoded rows (~100x smaller than the flat postings) and joined back
ENCODED_STR_SCHEMA = ENCODED_SCHEMA.replace("term_id long", "term string")
ENCODED_STR_PA_SCHEMA = pa.schema(
    [pa.field("term", pa.string()) if f.name == "term_id" else f
     for f in ENCODED_PA_SCHEMA])


def _variable_boundaries(part: np.ndarray, bsz: int, quantum: int = 16,
                         lam: float | None = None) -> np.ndarray:
    """Score-optimal block boundaries for one posting run (VBMW).

    Objective (reference include/pisa/score_opt_partition.hpp:1-200, used by
    wand_utils.hpp:55-83 VariableBlock): choose boundaries minimizing
    sum over blocks of [lambda + sum_i(block_max - part_i)] — the "lost
    score area" that makes block-max bounds loose — with block span capped
    at 2*bsz. The reference approximates the shortest-path DP with eps
    windows (eps1=0.01, eps2=0.4); here the same objective runs exactly on
    a quantum-grid of candidate boundaries (grid coarsening plays the role
    of the eps approximation; fixed boundaries all sit on the grid, so the
    result is never worse than the fixed partition under the objective).

    lam=None self-tunes to 0.25x the fixed partition's mean per-block lost
    area: flat runs (lost area ~0) keep big blocks, skewed runs buy extra
    boundaries only where they reclaim 4x their cost. Returns block START
    offsets (first element 0).
    """
    n = part.size
    if n <= quantum:
        return np.zeros(1, dtype=np.int64)
    nodes = np.arange(0, n, quantum, dtype=np.int64)
    nodes = np.append(nodes, n)
    m = nodes.size
    p64 = part.astype(np.float64)
    S = np.concatenate(([0.0], np.cumsum(p64)))
    qmax = np.maximum.reduceat(p64, nodes[:-1])
    if lam is None:
        fixed_starts = np.arange(0, n, bsz, dtype=np.int64)
        fixed_ends = np.append(fixed_starts[1:], n)
        fmax = np.maximum.reduceat(p64, fixed_starts)
        lost_fixed = float(
            (fmax * (fixed_ends - fixed_starts)).sum() - S[-1])
        lam = max(1e-9, 0.25 * lost_fixed / fixed_starts.size)
    max_span = max(1, (2 * bsz) // quantum)
    dist = np.full(m, np.inf)
    dist[0] = 0.0
    prev = np.zeros(m, dtype=np.int64)
    for j in range(1, m):
        e_ = nodes[j]
        run_max = 0.0
        best, bi = np.inf, j - 1
        for i in range(j - 1, max(-1, j - 1 - max_span), -1):
            if qmax[i] > run_max:
                run_max = qmax[i]
            c = dist[i] + lam + run_max * (e_ - nodes[i]) - (S[e_] - S[nodes[i]])
            if c < best:
                best, bi = c, i
        dist[j] = best
        prev[j] = bi
    bounds = []
    j = m - 1
    while j > 0:
        j = int(prev[j])
        bounds.append(nodes[j])
    return np.array(bounds[::-1], dtype=np.int64)


def _encode_arrays(shard: np.ndarray, term: np.ndarray, docs: np.ndarray,
                   tfs: np.ndarray, doc_len: np.ndarray,
                   cfg: IndexConfig, stats: dict, scorer,
                   df: np.ndarray | None = None,
                   cf: np.ndarray | None = None,
                   term_dict: pa.Array | None = None) -> pa.RecordBatch:
    """Encode complete (shard_id, term_id) groups into one Arrow batch.

    Inputs are numpy arrays pre-sorted by (shard_id, term_id, doc_id);
    docs/shard are int64, term may be int32 (batch-local dictionary codes)
    and doc_len any numeric dtype (consumed as float32 by the scorer).
    The whole kernel is columnar: block boundaries, block maxima and byte
    offsets are computed with batch-wide numpy ops, and the output
    RecordBatch wraps the varint streams ZERO-COPY (each row's docs_bin /
    tfs_bin is an offset slice of one shared buffer — no per-group bytes()
    materialization, no per-row Python). A per-group Python loop survives
    only for the VBMW boundary DP; codecs.encode_blocks encodes varint, ef
    and bp128 over all blocks at once and loops over blocks for the rest.

    With term_dict set, `term` holds batch-local dictionary codes and the
    output carries the term STRING column (take from the dictionary)
    instead of term_id — what every index build encodes."""
    n_rows = docs.size
    if n_rows == 0:
        return pa.RecordBatch.from_pylist([], schema=(
            ENCODED_PA_SCHEMA if term_dict is None else ENCODED_STR_PA_SCHEMA))
    span = cfg.shard_span
    bsz = cfg.block_size

    # group boundaries over the whole batch
    change = (shard[1:] != shard[:-1]) | (term[1:] != term[:-1])
    starts = np.concatenate(([0], np.flatnonzero(change) + 1))
    ends = np.concatenate((starts[1:], [n_rows]))
    n_groups = starts.size

    # vectorized across the batch: gap-1 stream (group starts rebased to the
    # shard base), tf-1 stream, per-posting score part. base is GROUP-level
    # (n_groups), not per-token — the kernel is bandwidth-bound and a full
    # n-sized int64 temporary costs two DRAM passes for values only ever
    # read at group starts.
    base_g = shard[starts].astype(np.int64) * span - 1
    prev = np.empty(n_rows, dtype=np.int64)
    prev[1:] = docs[:-1]
    prev[starts] = base_g
    gaps_signed = docs - prev - 1
    if gaps_signed.size and int(gaps_signed.min()) < 0:
        # a negative gap would wrap silently in the uint64 cast and
        # corrupt the index: the input was mis-sorted, or a shard's rows
        # were split across partitions (shuffle-free encode invariant)
        raise ValueError(
            "posting docs not strictly increasing within a (shard, term) "
            "run — mis-sorted input or shard split across partitions")

    if scorer.separable:
        part = scorer.doc_part(tfs, doc_len, stats["avg_len"])
    else:
        part = scorer.score(
            tfs, doc_len, df=df, cf=cf,
            num_docs=stats["num_docs"], avg_len=stats["avg_len"],
            collection_len=stats["collection_len"],
        )

    tf_bytes, tf_lens_b = codecs.varint_encode_with_lengths(tfs - 1)
    tf_byte_off = np.concatenate(([0], np.cumsum(tf_lens_b)))

    # ---- block boundaries (absolute batch offsets, all groups at once)
    if cfg.block_partition == "variable":
        parts_list = []
        nblk = np.empty(n_groups, dtype=np.int64)
        for g in range(n_groups):
            s, e = int(starts[g]), int(ends[g])
            bs = s + _variable_boundaries(
                part[s:e], bsz, cfg.vbmw_quantum, cfg.vbmw_lambda)
            parts_list.append(bs)
            nblk[g] = bs.size
        abs_start = np.concatenate(parts_list)
        cum_nblk = np.concatenate(([0], np.cumsum(nblk)))
    else:
        n_g = ends - starts
        nblk = (n_g + bsz - 1) // bsz
        cum_nblk = np.concatenate(([0], np.cumsum(nblk)))
        total = int(cum_nblk[-1])
        grp_of_blk = np.repeat(np.arange(n_groups), nblk)
        blk_in_grp = np.arange(total) - cum_nblk[grp_of_blk]
        abs_start = starts[grp_of_blk] + blk_in_grp * bsz
    total = int(cum_nblk[-1])
    if cfg.block_partition == "variable":
        grp_of_blk = np.repeat(np.arange(n_groups), nblk)
    abs_end = np.empty(total, dtype=np.int64)
    abs_end[:-1] = abs_start[1:]
    abs_end[cum_nblk[1:] - 1] = ends  # last block of each group

    blk_last = docs[abs_end - 1]
    blk_max = np.maximum.reduceat(part, abs_start).astype(np.float32)
    grp_start_of_blk = starts[grp_of_blk]
    tf_offs_vals = (tf_byte_off[abs_start]
                    - tf_byte_off[grp_start_of_blk]).astype(np.int32)

    # ---- docID streams: one chunk per block, each relative to the previous
    # block's last doc (the row base for a row's first block)
    block_prev = np.where(abs_start > grp_start_of_blk, docs[abs_start - 1],
                          base_g[grp_of_blk])
    doc_bytes, chunk_lens = codecs.encode_blocks(
        cfg.codec, docs, gaps_signed, abs_start, abs_end, block_prev)
    cum_chunk = np.concatenate(([0], np.cumsum(chunk_lens)))
    d_offs_vals = (cum_chunk[:-1]
                   - cum_chunk[cum_nblk[grp_of_blk]]).astype(np.int32)
    grp_doc_bytes = cum_chunk[cum_nblk]

    # ---- assemble the Arrow batch (zero-copy where the layout allows)
    # The Arrow binary/list columns carry int32 offsets; a batch whose
    # encoded stream crossed 2 GiB would silently wrap on the casts below
    # and corrupt the index. Batches stay far under this by construction
    # (Arrow batch size + one carried group / the docwise token gate), so
    # enforce it: fail loudly instead of corrupting.
    _I32_MAX = np.int64(2**31 - 1)
    if (int(cum_nblk[-1]) > _I32_MAX or len(doc_bytes) > _I32_MAX
            or len(tf_bytes) > _I32_MAX):
        raise OverflowError(
            "encoded batch exceeds int32 Arrow offsets "
            f"(blocks={int(cum_nblk[-1])}, doc_bytes={len(doc_bytes)}, "
            f"tf_bytes={len(tf_bytes)}); lower shard_span / Arrow batch size")
    offs32 = cum_nblk.astype(np.int32)

    def _list(vals: np.ndarray, typ) -> pa.ListArray:
        return pa.ListArray.from_arrays(
            pa.array(offs32, type=pa.int32()), pa.array(vals, type=typ))

    def _bin(stream: bytes, grp_offs: np.ndarray) -> pa.Array:
        return pa.Array.from_buffers(
            pa.binary(), n_groups,
            [None, pa.py_buffer(grp_offs.astype(np.int32)),
             pa.py_buffer(stream)])

    if term_dict is not None:
        term_col = pc.take(term_dict, pa.array(term[starts]))
        out_schema = ENCODED_STR_PA_SCHEMA
    else:
        term_col = pa.array(term[starts], type=pa.int64())
        out_schema = ENCODED_PA_SCHEMA
    arrays = [
        pa.array(shard[starts], type=pa.int64()),
        term_col,
        pa.array((ends - starts).astype(np.int64), type=pa.int64()),
        pa.array(np.add.reduceat(tfs, starts, dtype=np.int64),
                 type=pa.int64()),
        pa.array(base_g, type=pa.int64()),
        pa.array(docs[ends - 1], type=pa.int64()),
        _list(blk_last, pa.int64()),
        _list(d_offs_vals, pa.int32()),
        _list(tf_offs_vals, pa.int32()),
        _list(blk_max, pa.float32()),
        _bin(doc_bytes, grp_doc_bytes),
        _bin(tf_bytes, tf_byte_off[np.append(starts, n_rows)]),
    ]
    return pa.RecordBatch.from_arrays(arrays, schema=out_schema)


def _whole_groups(batches: Iterator[pa.RecordBatch],
                  keys: list[str]) -> Iterator[pa.RecordBatch]:
    """Re-cut Arrow batches of rows sorted on `keys` so that no run of
    equal keys is split: the trailing run of each batch (possibly
    incomplete) is carried into the next, and the last one is flushed at
    the end. Every driver's mapInArrow body runs through this one loop."""
    carry: pa.RecordBatch | None = None
    for rb in batches:
        if carry is not None:
            rb = (pa.Table.from_batches([carry, rb])
                  .combine_chunks().to_batches()[0])
            carry = None
        if not rb.num_rows:
            continue
        # rows are sorted, so the rows equal to the last key are a suffix
        tail = np.ones(rb.num_rows, dtype=bool)
        for k in keys:
            col = rb.column(k)
            tail &= pc.equal(col, col[rb.num_rows - 1]).to_numpy(
                zero_copy_only=False)
        first_tail = int(np.argmax(tail))
        carry = rb.slice(first_tail)
        if first_tail:
            yield rb.slice(0, first_tail)
    if carry is not None:
        yield carry


def _np(rb: pa.RecordBatch, name: str) -> np.ndarray:
    return rb.column(name).to_numpy(zero_copy_only=False)


def encode_postings(flat_df, cfg: IndexConfig, stats: dict):
    """Exploded encode: flat_df (term | term_id, doc_id, tf, doc_len
    [, df, cf]) -> encoded posting rows, string-keyed (ENCODED_STR_SCHEMA)
    for a `term` key and id-keyed (ENCODED_SCHEMA) for a `term_id` key.

    One shuffle, hash-partitioned on (shard_id, key) — the salted
    repartition-by-term-hash of the north rule with shard_id as the
    deterministic salt, each group bounded by shard_span postings — then
    partition-local sort + streaming encode (mapInArrow: numpy in,
    zero-copy Arrow out). A `term` key is group-detected on batch-local
    dictionary codes (monotone over the sorted input). df/cf pass through
    to the scorer when present; non-separable scorers require them.
    """
    from pyspark.sql import functions as F

    scorer = make_scorer(cfg.scorer, cfg.scorer_params())
    need_stats = (not scorer.separable
                  and not getattr(scorer, "stats_free", False))
    has_stats = "df" in flat_df.columns and "cf" in flat_df.columns
    if need_stats and not has_stats:
        raise ValueError("non-separable scorer requires df/cf columns in "
                         "the flat postings")
    key = "term" if "term" in flat_df.columns else "term_id"
    names = ["shard_id", key, "doc_id", "tf", "doc_len"]
    if has_stats:
        names += ["df", "cf"]
    with_shard = flat_df.withColumn(
        "shard_id", (F.col("doc_id") / F.lit(cfg.shard_span)).cast("long"))
    parts = with_shard.sparkSession.sparkContext.defaultParallelism * 2
    arranged = (
        with_shard
        .repartition(parts, "shard_id", key)
        .sortWithinPartitions("shard_id", key, "doc_id")
        .select(*names)
    )

    def encode(rb: pa.RecordBatch) -> pa.RecordBatch:
        term_dict = None
        if key == "term":
            dict_enc = rb.column("term").dictionary_encode()
            term = dict_enc.indices.to_numpy(zero_copy_only=False)
            term_dict = dict_enc.dictionary
        else:
            term = _np(rb, "term_id")
        return _encode_arrays(
            _np(rb, "shard_id"), term, _np(rb, "doc_id"), _np(rb, "tf"),
            _np(rb, "doc_len"), cfg, stats, scorer,
            df=_np(rb, "df") if has_stats else None,
            cf=_np(rb, "cf") if has_stats else None, term_dict=term_dict)

    def run(batches):
        for rb in _whole_groups(batches, ["shard_id", key]):
            yield encode(rb)

    schema = ENCODED_STR_SCHEMA if key == "term" else ENCODED_SCHEMA
    return arranged.mapInArrow(run, schema=schema)


def encode_postings_docwise_str(doc_terms, cfg: IndexConfig, stats: dict,
                                shard_stride: int = 1, shuffle: bool = True):
    """Doc-wise encode: compact per-doc (doc_id, doc_len, terms, tfs) rows
    -> string-keyed encoded rows (ENCODED_STR_SCHEMA). Each doc-shard is
    exploded, dictionary-encoded batch-locally (Arrow C kernel) and sorted
    in numpy inside the kernel, so no vocabulary broadcast, no term-id
    assignment and no flat (term, doc, tf) shuffle happen before the
    encode — the reference's invert batch path, a per-batch inverted index
    built straight from the forward index (src/invert.cpp:135-161), with
    doc-shards as batches. Output rows equal encode_postings' on the
    exploded rows. The lexicon is derived AFTERWARD from these rows
    (~avg_len x fewer than flat postings) and term_ids joined back
    (plans/build.py).

    Works for ANY vocabulary size; the binding constraint is the per-task
    working set of one doc-shard's exploded tokens (cfg.shard_span x
    avg_len) — plans/build.py gates on that and falls back to
    encode_postings above the bound. Requires a separable or stats-free
    scorer: df/cf are not known doc-wise.

    shuffle=False: the input already holds every shard whole on one
    partition with doc_ids ascending in partition order (the build's
    span-aligned rank layout), so the encode is a narrow mapInArrow over
    doc_terms as-is. shuffle=True: shards are round-robin placed on
    partitions and sorted by doc_id first.

    shard_stride: when the caller pre-filtered the input to every
    shard_stride-th shard (the manifest build's bucket resume), shard ids
    share a common stride and the round-robin placement key must be the
    shard's RANK within the bucket (shard_id // stride) — keying on the
    raw id would land all work on parts/gcd(stride, parts) partitions."""
    from pyspark.sql import functions as F

    scorer = make_scorer(cfg.scorer, cfg.scorer_params())
    if not scorer.separable and not getattr(scorer, "stats_free", False):
        raise ValueError("docwise encode requires separable/stats-free scorer")
    span = cfg.shard_span

    base_cols = doc_terms.select(
        (F.col("doc_id") / F.lit(span)).cast("long").alias("shard_id"),
        "doc_id", "doc_len", "terms", "tfs")

    def encode_shards(rb: pa.RecordBatch) -> pa.RecordBatch:
        doc_ids = _np(rb, "doc_id")
        dls = _np(rb, "doc_len")
        terms_list = rb.column("terms")
        n_tok = pc.list_value_length(terms_list).to_numpy(
            zero_copy_only=False).astype(np.int64)
        n = int(n_tok.sum())
        if n == 0:
            return pa.RecordBatch.from_pylist([],
                                              schema=ENCODED_STR_PA_SCHEMA)
        n_docs = doc_ids.size
        # Docs arrive doc_id-sorted, so every shard is one contiguous token
        # range: sort each shard SEGMENT by local term code (stable keeps
        # docs ascending) instead of one global argsort over an int64
        # (shard*V + tid) key. Same (shard, term, doc) order, but the sort
        # and gathers run on cache-resident segment slices and the per-token
        # temporaries are int32 — the kernel is DRAM-bandwidth-bound under
        # task concurrency, so bytes touched, not instructions, is the cost.
        tok_off = np.zeros(n_docs + 1, dtype=np.int64)
        np.cumsum(n_tok, out=tok_off[1:])
        sh_doc = doc_ids // span
        seg_doc = np.concatenate(
            ([0], np.flatnonzero(sh_doc[1:] != sh_doc[:-1]) + 1))
        seg_tok = tok_off[seg_doc]
        seg_end = np.append(seg_tok[1:], n)
        dict_enc = terms_list.flatten().dictionary_encode()
        tid = dict_enc.indices.to_numpy(zero_copy_only=False)
        if tid.dtype != np.int32:
            tid = tid.astype(np.int32)
        docidx = np.repeat(np.arange(n_docs, dtype=np.int32), n_tok)
        tfs_flat = rb.column("tfs").flatten().to_numpy(zero_copy_only=False)
        tid_o = np.empty(n, dtype=np.int32)
        didx_o = np.empty(n, dtype=np.int32)
        tf_o = np.empty(n, dtype=tfs_flat.dtype)
        for s, e in zip(seg_tok, seg_end):
            o = np.argsort(tid[s:e], kind="stable")
            tid_o[s:e] = tid[s:e][o]
            didx_o[s:e] = docidx[s:e][o]
            tf_o[s:e] = tfs_flat[s:e][o]
        # doc_id / doc_len / shard per posting via small per-doc lookup
        # tables (cache-resident) — not pre-sort n-sized int64 repeats
        doc_o = doc_ids[didx_o]
        dl_o = dls.astype(np.float32)[didx_o]
        sh_o = np.repeat(sh_doc[seg_doc], seg_end - seg_tok)
        return _encode_arrays(sh_o, tid_o, doc_o, tf_o, dl_o, cfg, stats,
                              scorer, term_dict=dict_enc.dictionary)

    def run(batches):
        for rb in _whole_groups(batches, ["shard_id"]):
            yield encode_shards(rb)

    if not shuffle:
        return base_cols.mapInArrow(run, schema=ENCODED_STR_SCHEMA)

    # shards are dense sequential ints and equal-sized by construction:
    # round-robin placement (shard s -> partition s % parts) beats raw hash,
    # which strands ~1/e of the partitions empty when n_shards ~ parts
    from pisa_spark.operators.partitioning import (partition_values,
                                                   round_robin_expr)

    spark = doc_terms.sparkSession
    parts = spark.sparkContext.defaultParallelism * 2
    vals = partition_values(spark, parts)
    place_key = (F.col("shard_id") / F.lit(shard_stride)).cast("long") \
        if shard_stride > 1 else F.col("shard_id")
    arranged = (
        base_cols
        .repartition(parts, round_robin_expr(place_key, parts, vals))
        .sortWithinPartitions("shard_id", "doc_id")
    )
    return arranged.mapInArrow(run, schema=ENCODED_STR_SCHEMA)


# ------------------------------------------------------------------- decode

def decode_rows(pdf: pd.DataFrame, cfg: IndexConfig) -> pd.DataFrame:
    """Decode encoded posting rows back to flat (term_id, doc_id, tf)."""
    n = pdf["n"].to_numpy(dtype=np.int64)
    blocks = [np.asarray(o, dtype=np.int64) for o in pdf["block_doc_offs"]]
    block_offs = (np.concatenate(blocks + [np.zeros(0, dtype=np.int64)]),
                  np.cumsum([0] + [b.size for b in blocks]))
    docs = codecs.decode_many(cfg.codec, *codecs.join_rows(pdf["docs_bin"]),
                              block_offs, pdf["base_doc"].to_numpy(), n)
    tfs = codecs.decode_tfs_many(*codecs.join_rows(pdf["tfs_bin"]), n)
    return pd.DataFrame({
        "term_id": np.repeat(pdf["term_id"].to_numpy(dtype=np.int64), n),
        "doc_id": docs,
        "tf": tfs,
    })


def decode_postings(enc_df, cfg: IndexConfig):
    """Encoded posting rows -> flat (term_id, doc_id, tf) DataFrame.

    This is the `--check` path (reference src/compress.cpp:106-110): a
    round-trip decode that tests compare against the pre-encode postings.
    """
    def run(batches):
        for pdf in batches:
            yield decode_rows(pdf, cfg)

    return enc_df.mapInPandas(run, schema=FLAT_SCHEMA)
