"""Codec round-trip properties (mirrors reference test/test_block_codecs.cpp
and test_compact_elias_fano.cpp strategy: random sequences round-trip)."""

import numpy as np
import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from pisa_spark.operators.codecs import (
    decode_gap_stream,
    decode_tfs,
    ef_decode,
    ef_encode,
    encode_gap_stream,
    encode_tfs,
    varint_decode,
    varint_encode,
)


@given(st.lists(st.integers(0, 2**50), min_size=0, max_size=300))
@settings(max_examples=60, deadline=None)
def test_varint_roundtrip(values):
    arr = np.array(values, dtype=np.uint64)
    assert (varint_decode(varint_encode(arr)) == arr).all()


@given(st.lists(st.integers(0, 2**40), min_size=1, max_size=300))
@settings(max_examples=60, deadline=None)
def test_ef_roundtrip(values):
    arr = np.sort(np.array(values, dtype=np.uint64))
    out, universe = ef_decode(ef_encode(arr, int(arr[-1])))
    assert (out == arr).all()


@given(
    st.lists(st.integers(0, 10**7), min_size=1, max_size=400, unique=True),
    st.sampled_from(["varint", "ef", "bp128", "opt", "pef", "pefu", "bic", "optpfd",
     "svb", "s8b", "s16", "qmx"]),
)
@settings(max_examples=60, deadline=None)
def test_gap_stream_roundtrip(docs, codec):
    arr = np.sort(np.array(docs, dtype=np.int64))
    base = int(arr[0]) - 1
    buf = encode_gap_stream(arr, base, codec)
    out = decode_gap_stream(buf, base, codec, len(arr))
    assert (out == arr).all()


def test_gap_stream_base_minus_one():
    docs = np.array([0, 1, 5, 100], dtype=np.int64)
    for codec in ("varint", "ef", "bp128", "opt", "pef", "pefu", "bic",
                  "optpfd", "svb", "s8b", "s16", "qmx"):
        buf = encode_gap_stream(docs, -1, codec)
        assert (decode_gap_stream(buf, -1, codec, 4) == docs).all()


@given(st.lists(st.integers(0, 2**40), min_size=0, max_size=400))
@settings(max_examples=60, deadline=None)
def test_optpfd_roundtrip(values):
    from pisa_spark.operators.codecs import optpfd_decode, optpfd_encode

    arr = np.array(values, dtype=np.uint64)
    out = optpfd_decode(optpfd_encode(arr))
    assert out.size == arr.size and (out == arr).all()


def test_optpfd_patches_outliers():
    """The defining patched-FOR property (ref codec/optpfor.hpp role):
    a stream of small values with rare huge outliers packs at the small
    width and pays per-exception, beating both plain varint and what a
    single max-width bitpack would cost."""
    from pisa_spark.operators.codecs import optpfd_encode

    rng = np.random.default_rng(3)
    v = rng.integers(0, 8, 10_000).astype(np.uint64)
    v[rng.choice(10_000, 100, replace=False)] = np.uint64(2**30)
    size = len(optpfd_encode(v))
    assert size < len(varint_encode(v)) * 0.5
    assert size < (10_000 * 31 + 7) // 8  # < single-width bitpack
    # all-zeros: width 0, header-only
    zeros = np.zeros(1000, dtype=np.uint64)
    assert len(optpfd_encode(zeros)) < 8


@given(st.lists(st.integers(0, 2**32 - 1), min_size=0, max_size=500))
@settings(max_examples=60, deadline=None)
def test_svb_roundtrip(values):
    from pisa_spark.operators.codecs import svb_decode, svb_encode

    arr = np.array(values, dtype=np.uint64)
    out = svb_decode(svb_encode(arr))
    assert out.size == arr.size and (out == arr).all()


def test_svb_layout_and_guard():
    """StreamVByte layout properties: control bytes are exactly
    ceil(n/4), data bytes are the sum of per-value byte lengths, and
    values outside u32 are rejected (the reference family is u32)."""
    from pisa_spark.operators.codecs import svb_encode, varint_encode

    v = np.array([0, 255, 256, 65535, 65536, 2**24, 2**32 - 1],
                 dtype=np.uint64)
    buf = svb_encode(v)
    header = varint_encode(np.array([7], dtype=np.uint64))
    assert len(buf) == len(header) + 2 + (1 + 1 + 2 + 2 + 3 + 4 + 4)
    import pytest as _pytest
    with _pytest.raises(ValueError):
        svb_encode(np.array([2**32], dtype=np.uint64))


@given(st.lists(st.integers(0, 2**60 - 1), min_size=0, max_size=500))
@settings(max_examples=60, deadline=None)
def test_s8b_roundtrip(values):
    from pisa_spark.operators.codecs import s8b_decode, s8b_encode

    arr = np.array(values, dtype=np.uint64)
    out = s8b_decode(s8b_encode(arr))
    assert out.size == arr.size and (out == arr).all()


@given(st.lists(st.integers(0, 2**28 - 1), min_size=0, max_size=500))
@settings(max_examples=60, deadline=None)
def test_s16_roundtrip(values):
    from pisa_spark.operators.codecs import s16_decode, s16_encode

    arr = np.array(values, dtype=np.uint64)
    out = s16_decode(s16_encode(arr))
    assert out.size == arr.size and (out == arr).all()


def test_s8b_run_modes_and_guard():
    """Simple8b properties from the published scheme: a run of 240 zeros
    packs into ONE 64-bit word (selector 0), 60 one-bit values pack into
    one word, and values above 60 bits are rejected."""
    from pisa_spark.operators.codecs import s8b_decode, s8b_encode

    zeros = np.zeros(240, dtype=np.uint64)
    buf = s8b_encode(zeros)
    assert len(buf) == 2 + 8  # varint(240) + one word
    assert (s8b_decode(buf) == zeros).all()
    ones = np.ones(60, dtype=np.uint64)
    buf = s8b_encode(ones)
    assert len(buf) == 1 + 8
    assert (s8b_decode(buf) == ones).all()
    with pytest.raises(ValueError):
        s8b_encode(np.array([2**60], dtype=np.uint64))


def test_s16_patterns_and_guard():
    """Simple16 properties: 28 one-bit values pack into ONE 32-bit word
    (pattern 0), mixed widths pick a mixed pattern without falling back to
    28-bit singles, and values above 28 bits are rejected."""
    from pisa_spark.operators.codecs import s16_decode, s16_encode

    ones = np.ones(28, dtype=np.uint64)
    buf = s16_encode(ones)
    assert len(buf) == 1 + 4  # varint(28) + one word
    assert (s16_decode(buf) == ones).all()
    # 7 values of <=4 bits: pattern 7 (4x7) + remainder, never 7 words
    v = np.array([15, 1, 7, 3, 12, 9, 2], dtype=np.uint64)
    assert len(s16_encode(v)) <= 1 + 2 * 4
    with pytest.raises(ValueError):
        s16_encode(np.array([2**28], dtype=np.uint64))


@given(st.lists(st.integers(0, 2**32 - 1), min_size=0, max_size=600))
@settings(max_examples=60, deadline=None)
def test_qmx_roundtrip(values):
    from pisa_spark.operators.codecs import qmx_decode, qmx_encode

    arr = np.array(values, dtype=np.uint64)
    out = qmx_decode(qmx_encode(arr))
    assert out.size == arr.size and (out == arr).all()


def test_qmx_layout_and_guard():
    """QMX properties from the published scheme (Trotman ADCS'14, ref
    codec/qmx.hpp): the payload is a pure run of 16-byte words (one width
    each), selector run-length bytes live OUT OF BAND at the stream tail,
    a 256-zero run costs one selector byte and NO payload word, equal-
    width word runs amortize to one selector byte per 16 words, and
    values above 32 bits are rejected."""
    from pisa_spark.operators.codecs import qmx_decode, qmx_encode

    # 1024 zeros = 4 zero-run words = 1 selector byte, no payload
    zeros = np.zeros(1024, dtype=np.uint64)
    buf = qmx_encode(zeros)
    assert len(buf) == 3 + 0 + 1  # varint(1024)+varint(1) + selector byte
    assert (qmx_decode(buf) == zeros).all()
    # 128 one-bit values = exactly one 16-byte word + 1 selector byte
    ones = np.ones(128, dtype=np.uint64)
    buf = qmx_encode(ones)
    assert len(buf) == 3 + 16 + 1
    assert (qmx_decode(buf) == ones).all()
    # 64 * 16 two-bit values: 16 equal-width words -> ONE selector byte,
    # payload 16-byte aligned
    v = np.full(64 * 16, 3, dtype=np.uint64)
    buf = qmx_encode(v)
    assert len(buf) == 3 + 16 * 16 + 1  # varint(1024)+varint(1), 16 words
    payload_bytes = len(buf) - 3 - 1
    assert payload_bytes % 16 == 0
    with pytest.raises(ValueError):
        qmx_encode(np.array([2**33], dtype=np.uint64))


def test_qmx_denser_than_varint_on_small_gaps():
    from pisa_spark.operators.codecs import qmx_encode

    rng = np.random.default_rng(11)
    gaps = rng.integers(0, 8, 1000).astype(np.uint64)  # 3-bit values
    assert len(qmx_encode(gaps)) < 1000  # varint floors at 1 byte/value


def test_s8b_denser_than_varint_on_small_gaps():
    """The word-aligned family's reason to exist: on small-gap streams it
    beats byte-aligned varint (which floors at 1 byte/value)."""
    from pisa_spark.operators.codecs import s8b_encode, s16_encode

    rng = np.random.default_rng(11)
    gaps = rng.integers(0, 8, 1000).astype(np.uint64)  # 3-bit values
    assert len(s8b_encode(gaps)) < 1000  # varint would be ~1002
    assert len(s16_encode(gaps)) < 1000


def test_opt_dispatch_never_bigger_than_best_base():
    from pisa_spark.operators.codecs import _OPT_CODECS

    rng = np.random.default_rng(7)
    for _ in range(20):
        n = int(rng.integers(1, 400))
        docs = np.sort(rng.choice(10**6, size=n, replace=False)).astype(np.int64)
        base = int(docs[0]) - 1
        opt = encode_gap_stream(docs, base, "opt")
        best = min(len(encode_gap_stream(docs, base, c)) for c in _OPT_CODECS)
        assert len(opt) == best + 1  # one tag byte
        assert (decode_gap_stream(opt, base, "opt", n) == docs).all()


@given(st.lists(st.integers(1, 10**6), min_size=0, max_size=300))
@settings(max_examples=40, deadline=None)
def test_tf_roundtrip(tfs):
    arr = np.array(tfs, dtype=np.int64)
    assert (decode_tfs(encode_tfs(arr), len(arr)) == arr).all()


def test_varint_count_mismatch_raises():
    with pytest.raises(ValueError):
        varint_decode(varint_encode(np.array([1, 2], dtype=np.uint64)), 3)


@given(st.lists(st.lists(st.integers(1, 2**40), min_size=0, max_size=40),
                min_size=0, max_size=12))
@settings(max_examples=60, deadline=None)
def test_decode_many_varint_rows(rows):
    """decode_many / decode_tfs_many over many joined varint rows equal
    decoding each row alone (docs restart at each row's base)."""
    from pisa_spark.operators.codecs import (decode_many, decode_tfs_many,
                                             join_rows)

    rng = np.random.default_rng(len(rows))
    bases = rng.integers(-1, 1000, size=len(rows))
    docs = [b + np.cumsum(np.array(r, dtype=np.int64))
            for r, b in zip(rows, bases)]
    n = np.array([d.size for d in docs], dtype=np.int64)
    data, offs = join_rows([encode_gap_stream(d, int(b), "varint")
                            for d, b in zip(docs, bases)])
    empty = (np.zeros(0, dtype=np.int64), np.zeros(len(rows) + 1, np.int64))
    got = decode_many("varint", data, offs, empty, bases, n)
    want = np.concatenate(docs + [np.zeros(0, dtype=np.int64)])
    assert got.dtype == np.int64 and (got == want).all()
    tf_data, tf_offs = join_rows([encode_tfs(np.array(r, dtype=np.int64))
                                  for r in rows])
    tfs = decode_tfs_many(tf_data, tf_offs, n)
    assert (tfs == np.concatenate(
        [np.array(r, dtype=np.int64) for r in rows] + [want[:0]])).all()


def test_decode_many_rejects_rows_off_value_boundary():
    """Each varint row must hold exactly n values and end on a value
    boundary: a value that runs into the next row raises even when every
    row's count of complete values looks right."""
    from pisa_spark.operators.codecs import decode_many, decode_tfs_many

    data = np.frombuffer(bytes([0x01, 0xAC, 0x02, 0x05]), dtype=np.uint8)
    empty = (np.zeros(0, dtype=np.int64), np.zeros(3, dtype=np.int64))
    whole = np.array([0, 3, 4])
    assert (decode_many("varint", data, whole, empty, [0, 0], [2, 1])
            == [2, 303, 6]).all()
    for offs, n in (([0, 2, 4], [1, 2]),   # 0xAC 0x02 straddles rows
                    ([0, 3, 4], [1, 1]),   # row 0 holds 2 values, not 1
                    ([0, 3, 3], [2, 1])):  # row 1 is cut
        with pytest.raises(ValueError, match="expected"):
            decode_many("varint", data, np.array(offs), empty, [0, 0], n)
        with pytest.raises(ValueError, match="expected"):
            decode_tfs_many(data, np.array(offs), np.array(n))


# ------------------------------------------------- fixed-width bitpack (bp)

@given(st.lists(st.integers(0, 2**40), min_size=0, max_size=300))
@settings(max_examples=60, deadline=None)
def test_bp_roundtrip(values):
    from pisa_spark.operators.codecs import bp_decode, bp_encode

    arr = np.array(values, dtype=np.uint64)
    assert (bp_decode(bp_encode(arr)) == arr).all()


@given(st.lists(st.integers(0, 10**7), min_size=1, max_size=400, unique=True))
@settings(max_examples=60, deadline=None)
def test_bp128_gap_stream_roundtrip(docs):
    arr = np.sort(np.array(docs, dtype=np.int64))
    base = int(arr[0]) - 1
    buf = encode_gap_stream(arr, base, "bp128")
    assert (decode_gap_stream(buf, base, "bp128", len(arr)) == arr).all()


def test_bp128_beats_varint_on_dense_runs():
    """Dense gap-1 runs pack at 1 bit/posting vs >= 8 for byte varints
    (the compression rationale of the reference's SIMD-BP128 default)."""
    docs = np.arange(1000, 2000, dtype=np.int64)
    bp = encode_gap_stream(docs, 999, "bp128")
    vi = encode_gap_stream(docs, 999, "varint")
    assert len(bp) < len(vi) / 4


# --------------------------------------------- variable blocks (VBMW DP)

def test_variable_boundaries_objective_and_span():
    from pisa_spark.operators.postings import _variable_boundaries

    rng = np.random.default_rng(13)
    bsz, quantum = 64, 16
    for _ in range(10):
        n = int(rng.integers(quantum + 1, 2000))
        # skewed scores: a few heavy postings among a flat mass
        part = rng.random(n).astype(np.float32) * 0.1
        heavy = rng.integers(0, n, size=max(1, n // 50))
        part[heavy] = rng.random(heavy.size).astype(np.float32) * 5.0

        starts = _variable_boundaries(part, bsz, quantum)
        ends = np.append(starts[1:], n)
        assert starts[0] == 0
        assert (np.diff(starts) > 0).all()
        assert ((ends - starts) <= 2 * bsz).all()

        def objective(st_, lam):
            en_ = np.append(st_[1:], n)
            lost = sum(
                float(part[s:e].max()) * (e - s) - float(part[s:e].sum())
                for s, e in zip(st_, en_))
            return lost + lam * len(st_)

        # recover the self-tuned lambda to compare objectives fairly
        fixed = np.arange(0, n, bsz, dtype=np.int64)
        fends = np.append(fixed[1:], n)
        lost_fixed = sum(
            float(part[s:e].max()) * (e - s) - float(part[s:e].sum())
            for s, e in zip(fixed, fends))
        lam = max(1e-9, 0.25 * lost_fixed / fixed.size)
        # the DP must never be worse than the fixed partition (fixed
        # boundaries all sit on the quantum grid when bsz % quantum == 0)
        assert objective(starts, lam) <= objective(fixed, lam) + 1e-6


def test_pef_partition_choices_and_sizes():
    """Partitioned EF (reference optimal_partition.hpp semantics): a dense
    run collapses to near-zero payload (all-ones partitions), clustered
    data beats plain EF, and the partition DP never loses to single-part
    EF by more than the directory overhead."""
    from pisa_spark.operators.codecs import ef_encode, pef_decode, pef_encode

    rng = np.random.default_rng(11)
    dense = np.arange(500, dtype=np.uint64)
    buf = pef_encode(dense, int(dense[-1]))
    out, _ = pef_decode(buf)
    assert (out == dense).all()
    assert len(buf) < 40  # ~0 bits payload + directory
    clustered = np.sort(np.concatenate([
        np.arange(1000, 1128), rng.choice(10**6, 128, replace=False) + 10**4
    ]).astype(np.uint64))
    clustered = np.unique(clustered)
    p = pef_encode(clustered, int(clustered[-1]))
    e = ef_encode(clustered, int(clustered[-1]))
    assert (pef_decode(p)[0] == clustered).all()
    assert len(p) <= len(e) + 16


def test_bic_roundtrip_and_dense_advantage():
    from pisa_spark.operators.codecs import bic_decode, bic_encode

    rng = np.random.default_rng(13)
    for n in (1, 2, 37, 256):
        v = np.sort(rng.choice(n * 20, n, replace=False)).astype(np.uint64)
        out, _ = bic_decode(bic_encode(v, int(v[-1])))
        assert (out == v).all()
    dense = np.arange(3, 400, dtype=np.uint64)
    assert len(bic_encode(dense, int(dense[-1]))) < 10  # runs cost ~0 bits


@given(st.lists(st.integers(1, 10**9), min_size=0, max_size=200))
@settings(max_examples=40, deadline=None)
def test_gamma_roundtrip(values):
    from pisa_spark.operators.codecs import gamma_decode, gamma_encode

    v = np.array(values, dtype=np.uint64)
    out = gamma_decode(gamma_encode(v))
    assert (out == v).all()
    # gamma of 1 is a single bit — small ints stay tiny (header use case)
    if values and max(values) == 1:
        assert len(gamma_encode(v)) <= 2 + len(values) // 8 + 1


def test_batch_block_encoders_byte_identical():
    """encode_blocks (the row layout _encode_arrays writes; varint, ef and
    bp128 encode all blocks in one vectorized pass) must be BYTE-identical
    to joining the per-block encode_gap_stream chunks, for every codec,
    and decode_blocks must invert it."""
    from pisa_spark.operators.codecs import (CODECS, decode_blocks,
                                             encode_blocks)

    rng = np.random.default_rng(7)
    for trial in range(40):
        n_blocks = int(rng.integers(1, 16))
        starts, ends, prevs, vals = [], [], [], []
        pos, prev = 0, int(rng.integers(0, 1000))
        for _ in range(n_blocks):
            m = int(rng.integers(1, 180))
            gmax = int(rng.choice([1, 2, 5, 100, 100000]))
            gaps = rng.integers(0, gmax + 1, size=m)
            block = prev + np.cumsum(gaps + 1)
            starts.append(pos)
            ends.append(pos + m)
            vals.append(block)
            prevs.append(prev)
            prev = int(block[-1])
            pos += m
        docs = np.concatenate(vals).astype(np.int64)
        starts = np.array(starts)
        ends = np.array(ends)
        prevs = np.array(prevs)
        gaps_all = np.diff(docs, prepend=np.int64(0)).astype(np.int64)
        gaps_all[starts] = docs[starts] - prevs
        gaps_all -= 1
        for codec in CODECS:
            stream, lens = encode_blocks(codec, docs, gaps_all, starts, ends,
                                         prevs)
            parts = [encode_gap_stream(docs[s:e], int(p), codec)
                     for s, e, p in zip(starts, ends, prevs)]
            assert stream == b"".join(parts), (codec, trial)
            assert list(lens) == [len(p) for p in parts], (codec, trial)
            offs = np.concatenate(([0], np.cumsum(lens)[:-1]))
            out = decode_blocks(codec, stream, offs, int(prevs[0]), docs.size)
            assert (out == docs).all(), (codec, trial)


@pytest.mark.parametrize("partition", ["fixed", "variable"])
def test_encoded_rows_roundtrip_every_codec(partition):
    """Every codec's posting rows, as _encode_arrays writes them over a
    multi-shard, multi-block batch, decode back to the input docs and tfs
    through both multi-row readers of the row layout (postings.decode_rows
    and the query side's columnar group builder, both over
    codecs.decode_many); a row cut at a block boundary raises instead of
    returning short."""
    import types

    import pyarrow as pa

    from pisa_spark.config import IndexConfig
    from pisa_spark.functions.scoring import make_scorer
    from pisa_spark.operators.codecs import CODECS
    from pisa_spark.operators.postings import _encode_arrays, decode_rows
    from pisa_spark.operators.topk import _group_runs, _QueryPlan

    rng = np.random.default_rng(5)
    span = 2048
    frames = []
    for shard in range(3):
        for term in range(6):
            n = int(rng.integers(1, 300))
            docs = np.sort(rng.choice(span, size=n, replace=False))
            frames.append(pd.DataFrame({
                "shard_id": shard, "term_id": term,
                "doc_id": docs + shard * span,
                "tf": rng.integers(1, 9, size=n),
                "doc_len": rng.integers(5, 400, size=n)}))
    pdf = pd.concat(frames, ignore_index=True)
    stats = {"num_docs": 3 * span, "avg_len": 150.0,
             "collection_len": 450 * span}
    scorer = make_scorer("bm25")
    doc_lens = np.full(3 * span, 150, dtype=np.int64)
    by_term = pdf.sort_values(["term_id", "doc_id"]).groupby("term_id")
    for codec in CODECS:
        cfg = IndexConfig(shard_span=span, block_size=32, codec=codec,
                          block_partition=partition)
        enc = _encode_arrays(*(pdf[c].to_numpy() for c in (
            "shard_id", "term_id", "doc_id", "tf", "doc_len")),
            cfg, stats, scorer).to_pandas()
        assert len(enc) == 18
        assert max(len(offs) for offs in enc["block_doc_offs"]) > 2
        flat = decode_rows(enc, cfg)
        assert (flat["term_id"].to_numpy() == pdf["term_id"].to_numpy()).all()
        assert (flat["doc_id"].to_numpy() == pdf["doc_id"].to_numpy()).all()
        assert (flat["tf"].to_numpy() == pdf["tf"].to_numpy()).all()
        plan = _QueryPlan(types.SimpleNamespace(cfg=cfg, stats=stats),
                          "ranked_or", 10, False, 64, None)
        for term in range(6):
            plan.add("q", f"t{term}", term, 1, 1, 1.0)
        table = pa.Table.from_pandas(enc, preserve_index=False)
        runs = _group_runs(table, plan, doc_lens, 0)
        assert len(runs) == 6
        for term, want in by_term:
            docs, tfs = runs[(term, 1.0)].docs, runs[(term, 1.0)].tfs
            assert (docs == want["doc_id"].to_numpy()).all(), codec
            assert (tfs == want["tf"].to_numpy()).all(), codec
        i = max(range(len(enc)), key=lambda j: len(enc["block_doc_offs"][j]))
        cut = int(enc["block_doc_offs"][i][-1])
        short = enc.copy()
        short.at[i, "docs_bin"] = bytes(enc["docs_bin"][i])[:cut]
        short.at[i, "block_doc_offs"] = enc["block_doc_offs"][i][:-1]
        # "expected": the row-count check raises, not a shape mismatch later
        with pytest.raises(ValueError, match="expected"):
            _group_runs(pa.Table.from_pandas(short, preserve_index=False),
                        plan, doc_lens, 0)
        with pytest.raises(ValueError, match="expected"):
            decode_rows(short, cfg)


# ------------------------------------------------- EF skip pointers

@given(st.lists(st.integers(0, 2**40), min_size=1, max_size=300),
       st.sampled_from([2, 4, 8]))
@settings(max_examples=40, deadline=None)
def test_ef_skips_decode_compatible(values, log_quantum):
    """The skip trailer is invisible to ef_decode (ref compact EF layout:
    pointers live beside the bit streams, not inside them)."""
    from pisa_spark.operators.codecs import EliasFanoReader

    arr = np.sort(np.array(values, dtype=np.uint64))
    plain = ef_encode(arr, int(arr[-1]))
    skipped = ef_encode(arr, int(arr[-1]), skips=True, log_quantum=log_quantum)
    assert skipped[: len(plain)] == plain  # trailer appended, stream unchanged
    out, universe = ef_decode(skipped)
    assert (out == arr).all() and universe == int(arr[-1])


@given(st.lists(st.integers(0, 2**30), min_size=1, max_size=300),
       st.booleans(), st.sampled_from([2, 4, 8]))
@settings(max_examples=40, deadline=None)
def test_ef_reader_select(values, skips, log_quantum):
    from pisa_spark.operators.codecs import EliasFanoReader

    arr = np.sort(np.array(values, dtype=np.uint64))
    buf = ef_encode(arr, int(arr[-1]), skips=skips, log_quantum=log_quantum)
    r = EliasFanoReader(buf)
    assert len(r) == arr.size
    for i in [0, arr.size // 2, arr.size - 1]:
        assert r.select(i) == int(arr[i])
    rng = np.random.default_rng(7)
    for i in rng.integers(0, arr.size, size=min(20, arr.size)):
        assert r.select(int(i)) == int(arr[i])


@given(st.lists(st.integers(0, 2**30), min_size=1, max_size=300),
       st.booleans(), st.sampled_from([2, 4, 8]))
@settings(max_examples=40, deadline=None)
def test_ef_reader_next_geq(values, skips, log_quantum):
    """next_geq == first decoded value >= x (searchsorted oracle), for
    probes on, between, below and beyond the stored values."""
    from pisa_spark.operators.codecs import EliasFanoReader

    arr = np.sort(np.array(values, dtype=np.uint64))
    u = int(arr[-1])
    buf = ef_encode(arr, u, skips=skips, log_quantum=log_quantum)
    r = EliasFanoReader(buf)
    rng = np.random.default_rng(11)
    probes = set(int(x) for x in arr[rng.integers(0, arr.size, size=10)])
    probes |= {0, u, u + 1, max(0, u - 1)}
    probes |= set(int(x) for x in rng.integers(0, u + 2, size=10))
    for x in probes:
        i = int(np.searchsorted(arr, x, side="left"))
        if i == arr.size or x > u:
            assert r.next_geq(x) == (arr.size, None)
        else:
            got_i, got_v = r.next_geq(x)
            # duplicates: any index holding the same value is correct
            assert got_v == int(arr[got_i]) and got_v == int(arr[i])
            assert got_v >= x and (got_i == 0 or int(arr[got_i - 1]) < x
                                   or int(arr[got_i - 1]) == got_v)


@given(st.data())
@settings(max_examples=30, deadline=None)
def test_ef_intersect_leapfrog(data):
    """Skip-based conjunctive walk == set intersection of the decoded
    lists (ref and_query over EF enumerators)."""
    from pisa_spark.operators.codecs import ef_intersect

    k = data.draw(st.integers(2, 4))
    base = data.draw(st.lists(st.integers(0, 5000), min_size=1, max_size=200,
                              unique=True))
    lists = []
    for _ in range(k):
        extra = data.draw(st.lists(st.integers(0, 5000), min_size=1,
                                   max_size=200, unique=True))
        keep = data.draw(st.lists(st.booleans(), min_size=len(base),
                                  max_size=len(base)))
        vals = sorted(set([b for b, kp in zip(base, keep) if kp] + extra))
        lists.append(np.array(vals, dtype=np.uint64))
    bufs = [ef_encode(a, int(a[-1]), skips=True, log_quantum=4)
            for a in lists]
    expect = lists[0]
    for a in lists[1:]:
        expect = np.intersect1d(expect, a)
    got = ef_intersect(bufs)
    assert (got == expect).all()
