"""Vectorized integer codecs for posting-list blocks (numpy, no per-row Python).

Re-expresses the reference's codec layer (include/pisa/codec/*) for Spark:
encode/decode run inside Arrow-batched pandas UDFs on whole numpy arrays.

- varint: 7-bit little-endian groups, MSB = continuation. Functionally the
  reference's TightVariableByte role (codec/block_codecs.hpp:14-100): the
  byte-aligned fallback family standing in for MaskedVByte/StreamVByte etc.
  Exact byte layout is this engine's own — the reference's own tests prove
  encodings are result-invariant, so rank-identity never depends on codec
  byte identity (test/docker/benchmark/encodings.sh runs all 14).
- Elias-Fano: lo/hi split with l = max(0, floor(log2(u/n))) low bits, high
  bits unary-gapped (codec/compact_elias_fano.hpp:21-137 semantics),
  including the skip-pointer machinery: ef_encode(skips=True) appends
  sampled select0/select1 pointers and EliasFanoReader answers select /
  next_geq by scanning at most ~2^log_quantum high bits. Index traversal
  additionally skips at block/shard granularity via block maxes.

Every codec is an entry of one registry (CODECS): its encoder, decoder and
whether it stores gap-1 values (strictly increasing docs => gaps >= 1) or
block-relative docIDs over a universe. This module alone owns the posting-row
layout, mirroring src/block_inverted_index.cpp:88-130: a row's docs_bin is one
chunk per block (encode_blocks / decode_blocks), each block relative to the
previous block's last doc and the first to the row's base, with
block_doc_offs holding each chunk's byte offset. For varint the joined chunks
are byte-identical to one continuous gap-1 stream, which decode_blocks reads
in a single call. decode_many decodes many rows held in one buffer (an Arrow
binary column's data): all varint rows in one pass. tf values are stored as
tf-1 varints (encode_tfs).
"""

from __future__ import annotations

import numpy as np


# ------------------------------------------------------------------- varint

def varint_encode_with_lengths(values: np.ndarray) -> tuple[bytes, np.ndarray]:
    """Encode uint64 array as LEB128-style varints (vectorized).

    Returns (bytes, per-value byte lengths) — lengths let callers compute
    block byte offsets into the stream without re-encoding.
    """
    v = np.asarray(values)
    if v.size == 0:
        return b"", np.zeros(0, dtype=np.int64)
    # work in the narrowest unsigned width that holds the values: the
    # encode makes several full passes over `v`-sized temporaries, and the
    # kernel is DRAM-bandwidth-bound under task concurrency — uint32 for
    # doc gaps (bounded by shard_span) / tf-1 halves the traffic. The
    # emitted byte stream is identical at any width. Values are
    # non-negative by contract (validated gap-1 / tf-1 streams); int64
    # input is REINTERPRETED as uint64 (free) rather than copied.
    if v.dtype == np.uint32:
        u = np.uint32
    elif v.dtype in (np.int32, np.int16, np.uint16, np.int8, np.uint8):
        v = v.astype(np.uint32)
        u = np.uint32
    else:
        if v.dtype == np.int64:
            v = np.ascontiguousarray(v).view(np.uint64)
        elif v.dtype != np.uint64:
            v = v.astype(np.uint64)
        if int(v.max()) < (1 << 32):
            v = v.astype(np.uint32)
            u = np.uint32
        else:
            u = np.uint64
    nbytes = np.ones(v.size, dtype=np.int64)
    x = v >> u(7)
    while x.any():
        nbytes += (x > 0)
        x >>= u(7)
    offsets = np.concatenate(([0], np.cumsum(nbytes)[:-1]))
    out = np.zeros(int(nbytes.sum()), dtype=np.uint8)
    cur = v.copy()
    for b in range(int(nbytes.max())):
        mask = nbytes > b
        byte = (cur[mask] & u(0x7F)).astype(np.uint8)
        more = (nbytes[mask] > b + 1).astype(np.uint8)
        out[offsets[mask] + b] = byte | (more << 7)
        cur[mask] >>= u(7)
    return out.tobytes(), nbytes


def varint_encode(values: np.ndarray) -> bytes:
    return varint_encode_with_lengths(values)[0]


def _varint_values(b: np.ndarray, ends: np.ndarray) -> np.ndarray:
    """The varints of the uint8 array `b` that end at byte indices `ends`
    (its bytes with the MSB clear), as uint64."""
    if ends.size == 0:
        return np.zeros(0, dtype=np.uint64)
    starts = np.concatenate(([0], ends[:-1] + 1))
    lengths = ends - starts + 1
    vals = np.zeros(ends.size, dtype=np.uint64)
    for i in range(int(lengths.max())):
        mask = lengths > i
        vals[mask] |= (b[starts[mask] + i] & np.uint8(0x7F)).astype(np.uint64) << np.uint64(7 * i)
    return vals


def varint_decode(buf: bytes, count: int | None = None) -> np.ndarray:
    """Decode a varint byte stream to uint64 (vectorized)."""
    b = np.frombuffer(buf, dtype=np.uint8)
    vals = _varint_values(b, np.flatnonzero(b < 0x80))
    if count is not None and vals.size != count:
        raise ValueError(f"varint stream held {vals.size} values, expected {count}")
    return vals


def varint_decode_rows(data: np.ndarray, row_offs: np.ndarray,
                       n: np.ndarray) -> np.ndarray:
    """Decode many varint rows in one pass: row i is the bytes
    data[row_offs[i]:row_offs[i+1]] and must hold exactly n[i] values,
    the last ending on the row's last byte; otherwise ValueError. Returns
    the rows' values concatenated, as uint64."""
    row_offs = np.asarray(row_offs, dtype=np.int64)
    b = data[row_offs[0]:row_offs[-1]]
    rel = row_offs - row_offs[0]
    ends = np.flatnonzero(b < 0x80)
    counts = np.diff(np.searchsorted(ends, rel))
    bad = counts != n
    filled = rel[1:] > rel[:-1]
    bad[filled] |= b[rel[1:][filled] - 1] >= 0x80
    if bad.any():
        i = int(np.flatnonzero(bad)[0])
        raise ValueError(f"varint row {i} held {int(counts[i])} complete "
                         f"values in {int(rel[i + 1] - rel[i])} bytes, "
                         f"expected {int(n[i])}")
    return _varint_values(b, ends)


# --------------------------------------------------------------- Elias-Fano

def ef_encode(values: np.ndarray, universe: int, skips: bool = False,
              log_quantum: int = 8) -> bytes:
    """Encode a monotone non-decreasing uint64 array over [0, universe].

    ``skips=True`` appends the skip-pointer trailer of the reference's
    compact EF layout (codec/compact_elias_fano.hpp:21-137): sampled bit
    positions of every ``2^log_quantum``-th zero (for ``next_geq`` — jump
    straight to a value bucket) and of every ``2^log_quantum``-th one (for
    ``select`` — jump straight to a rank). ``ef_decode`` ignores the
    trailer (it slices low/high by their stored sizes), so skip-enabled
    streams stay decode-compatible; the trailer is opt-in so the default
    layout stays byte-identical to ``ef_encode_blocks``. Point access goes
    through :class:`EliasFanoReader`.
    """
    v = np.asarray(values, dtype=np.uint64)
    n = v.size
    header = varint_encode(np.array([n, universe], dtype=np.uint64))
    if n == 0:
        return header
    u = max(int(universe), 1)
    l = max(0, int(np.floor(np.log2(u / n))) if u >= n else 0)
    # low bits: n fields of l bits, little-endian bit order
    if l > 0:
        low_bits = ((v[:, None] >> np.arange(l, dtype=np.uint64)) & np.uint64(1)).astype(np.uint8)
        low = np.packbits(low_bits.ravel(), bitorder="little")
    else:
        low = np.zeros(0, dtype=np.uint8)
    # high bits: unary-gapped — bit set at (v_i >> l) + i
    hi_pos = (v >> np.uint64(l)).astype(np.int64) + np.arange(n, dtype=np.int64)
    hi_nbits = int(hi_pos[-1]) + 1
    hi = np.zeros(hi_nbits, dtype=np.uint8)
    hi[hi_pos] = 1
    high = np.packbits(hi, bitorder="little")
    out = header + bytes([l]) + varint_encode(
        np.array([low.size, high.size], dtype=np.uint64)
    ) + low.tobytes() + high.tobytes()
    if skips:
        out += _ef_skip_trailer(hi, log_quantum)
    return out


def _ef_skip_trailer(hi_bits: np.ndarray, log_quantum: int) -> bytes:
    """Build the sampled select0/select1 pointer section from the (unpacked)
    high-bit array: [1B q][varint n0][1B w0][packed ptr0][varint n1][1B w1]
    [packed ptr1], pointers LE-bitpacked at the minimal fixed width."""
    q = 1 << log_quantum
    zeros_pos = np.flatnonzero(hi_bits == 0)
    ones_pos = np.flatnonzero(hi_bits)
    ptr0 = zeros_pos[q - 1::q].astype(np.uint64)   # ((k+1)<<lq)-th zero
    ptr1 = ones_pos[q - 1::q].astype(np.uint64)    # ((k+1)<<lq)-th one
    out = bytes([log_quantum])
    for ptrs in (ptr0, ptr1):
        w = max(1, int(ptrs.max()).bit_length()) if ptrs.size else 1
        out += varint_encode(np.array([ptrs.size], dtype=np.uint64))
        out += bytes([w])
        if ptrs.size:
            bits = ((ptrs[:, None] >> np.arange(w, dtype=np.uint64))
                    & np.uint64(1)).astype(np.uint8)
            out += np.packbits(bits.ravel(), bitorder="little").tobytes()
    return out


def _read_varints(b: np.ndarray, pos: int, k: int) -> tuple[list[int], int]:
    vals = []
    for _ in range(k):
        val, shift = 0, 0
        while True:
            byte = int(b[pos]); pos += 1
            val |= (byte & 0x7F) << shift
            shift += 7
            if not byte & 0x80:
                break
        vals.append(val)
    return vals, pos


class EliasFanoReader:
    """Point access over an ``ef_encode`` stream without decoding it.

    Mirrors the reference enumerator (compact_elias_fano.hpp:21-137):
    ``select(i)`` returns the i-th value, ``next_geq(x)`` the first
    ``(index, value)`` with ``value >= x`` — both by jumping through the
    sampled skip pointers and scanning at most ~2^log_quantum high bits,
    never touching the rest of the stream. Streams encoded without
    ``skips=True`` still work: the pointer tables are rebuilt lazily from
    the high bytes (one popcount pass, no value decode).
    """

    def __init__(self, buf: bytes):
        b = np.frombuffer(buf, dtype=np.uint8)
        (self.n, self.universe), pos = _read_varints(b, 0, 2)
        if self.n == 0:
            self.l = 0
            self._low = self._high = b[:0]
            self._ptr0 = self._ptr1 = np.zeros(0, dtype=np.int64)
            self.log_quantum = 8
            return
        self.l = int(b[pos]); pos += 1
        (low_size, high_size), pos = _read_varints(b, pos, 2)
        self._low = b[pos:pos + low_size]; pos += low_size
        self._high = b[pos:pos + high_size]; pos += high_size
        if pos < b.size:                      # skip-pointer trailer present
            self.log_quantum = int(b[pos]); pos += 1
            ptrs = []
            for _ in range(2):
                (np_, ), pos = _read_varints(b, pos, 1)
                w = int(b[pos]); pos += 1
                nbytes = (np_ * w + 7) // 8
                bits = np.unpackbits(b[pos:pos + nbytes],
                                     bitorder="little")[:np_ * w]
                vals = (bits.reshape(np_, w).astype(np.uint64)
                        << np.arange(w, dtype=np.uint64)).sum(axis=1)
                ptrs.append(vals.astype(np.int64))
                pos += nbytes
            self._ptr0, self._ptr1 = ptrs
        else:                                 # legacy stream: rebuild lazily
            self.log_quantum = 8
            self._ptr0 = self._ptr1 = None

    def __len__(self) -> int:
        return self.n

    def _ensure_ptrs(self) -> None:
        if self._ptr0 is None:
            hi_bits = np.unpackbits(self._high, bitorder="little")
            q = 1 << self.log_quantum
            self._ptr0 = np.flatnonzero(hi_bits == 0)[q - 1::q].astype(np.int64)
            self._ptr1 = np.flatnonzero(hi_bits)[q - 1::q].astype(np.int64)

    def _low_at(self, i: int) -> int:
        if self.l == 0:
            return 0
        bit = i * self.l
        lo_byte, hi_byte = bit >> 3, (bit + self.l + 7) >> 3
        word = int.from_bytes(self._low[lo_byte:hi_byte].tobytes(), "little")
        return (word >> (bit & 7)) & ((1 << self.l) - 1)

    def _scan_bits(self, start_bit: int):
        """Yield absolute positions of set bits from start_bit, chunk-wise."""
        nbytes = self._high.size
        byte = start_bit >> 3
        first_mask = start_bit & 7
        while byte < nbytes:
            chunk = self._high[byte:byte + 64]
            bits = np.unpackbits(chunk, bitorder="little")
            if first_mask:
                bits = bits.copy()
                bits[:first_mask] = 0
                first_mask = 0
            for p in np.flatnonzero(bits):
                yield byte * 8 + int(p)
            byte += chunk.size

    def _nth_one_pos(self, i: int) -> int:
        """Bit position of the (i+1)-th set high bit (0-indexed rank i)."""
        self._ensure_ptrs()
        block = i >> self.log_quantum
        if block:
            start = int(self._ptr1[block - 1]) + 1
            remaining = i - (block << self.log_quantum)
        else:
            start, remaining = 0, i
        for pos in self._scan_bits(start):
            if remaining == 0:
                return pos
            remaining -= 1
        raise IndexError(i)

    def select(self, i: int) -> int:
        """Value at index i (reference enumerator ``move(i)``)."""
        if not 0 <= i < self.n:
            raise IndexError(i)
        hp = self._nth_one_pos(i) - i
        return (hp << self.l) | self._low_at(i)

    def _nth_zero_pos(self, k: int) -> int | None:
        """Bit position of the k-th zero (1-indexed); None if the high
        stream holds fewer than k zeros (=> no value has high part >= k)."""
        self._ensure_ptrs()
        block = (k - 1) >> self.log_quantum
        if block > self._ptr0.size:   # fewer than k zeros in the stream
            return None
        if block:
            pos = int(self._ptr0[block - 1]) + 1
            remaining = k - (block << self.log_quantum)
        else:
            pos, remaining = 0, k
        nbits = self._high.size * 8
        while pos < nbits:
            chunk_bits = np.unpackbits(self._high[pos >> 3:(pos >> 3) + 64],
                                       bitorder="little")
            off = pos & 7
            zeros = np.flatnonzero(chunk_bits[off:] == 0)
            if zeros.size >= remaining:
                return (pos >> 3) * 8 + off + int(zeros[remaining - 1])
            remaining -= zeros.size
            pos = ((pos >> 3) + 64) * 8
        return None

    def next_geq(self, x: int) -> tuple[int, int | None]:
        """First (index, value) with value >= x; (n, None) past the end.

        Reference semantics: compact_elias_fano.hpp enumerator
        ``next_geq`` — jump via the zero-pointers to the high bucket of x,
        then walk set bits until the full value clears x."""
        if self.n == 0 or x > self.universe:
            return self.n, None
        if x <= 0:
            return 0, self.select(0)
        hb = x >> self.l
        if hb == 0:
            i, scan_from = 0, 0
        else:
            p0 = self._nth_zero_pos(hb)
            if p0 is None:
                return self.n, None
            i, scan_from = p0 - hb + 1, p0 + 1
        if i >= self.n:
            return self.n, None
        for pos in self._scan_bits(scan_from):
            val = ((pos - i) << self.l) | self._low_at(i)
            if val >= x:
                return i, val
            i += 1
            if i >= self.n:
                break
        return self.n, None


def ef_intersect(bufs: list[bytes]) -> np.ndarray:
    """Leapfrog intersection of EF-encoded monotone lists without decoding
    any of them (the skip-based conjunctive walk the reference's
    and_query runs over its enumerators): advance the lagging cursor with
    ``next_geq(candidate)`` until all lists agree."""
    readers = [EliasFanoReader(b) for b in bufs]
    if not readers or any(r.n == 0 for r in readers):
        return np.zeros(0, dtype=np.uint64)
    out = []
    candidate = readers[0].select(0)
    while True:
        agreed = True
        for r in readers:
            _, val = r.next_geq(candidate)
            if val is None:
                return np.asarray(out, dtype=np.uint64)
            if val != candidate:
                candidate, agreed = val, False
                break
        if agreed:
            out.append(candidate)
            candidate += 1


def ef_decode(buf: bytes) -> tuple[np.ndarray, int]:
    """Decode ef_encode output -> (values, universe)."""
    b = np.frombuffer(buf, dtype=np.uint8)
    (n, universe), pos = _read_varints(b, 0, 2)
    if n == 0:
        return np.zeros(0, dtype=np.uint64), universe
    l = int(b[pos]); pos += 1
    (low_size, high_size), pos = _read_varints(b, pos, 2)
    low = b[pos:pos + low_size]; pos += low_size
    high = b[pos:pos + high_size]
    hi_bits = np.unpackbits(high, bitorder="little")
    set_pos = np.flatnonzero(hi_bits)[:n].astype(np.uint64)
    v_high = set_pos - np.arange(n, dtype=np.uint64)
    if l > 0:
        low_bits = np.unpackbits(low, bitorder="little")[: n * l].reshape(n, l)
        v_low = (low_bits.astype(np.uint64) << np.arange(l, dtype=np.uint64)).sum(axis=1)
    else:
        v_low = np.zeros(n, dtype=np.uint64)
    return (v_high << np.uint64(l)) | v_low, universe


# ------------------------------------------------ fixed-width bitpack (bp)

def bp_encode(values: np.ndarray) -> bytes:
    """Per-block fixed-width bitpack: [varint n][1B width][bits LE-packed].

    The SIMD-BP128 role (reference codec/simdbp.hpp:1-32, the benchmark
    default codec): every value in a block packed at the block's max bit
    width. The reference's 128-lane SIMD layout is register-oriented; the
    numpy packbits layout keeps the same width-per-block compression with
    whole-array vectorization, which is the Arrow-batch analogue."""
    v = np.asarray(values, dtype=np.uint64)
    n = v.size
    header = varint_encode(np.array([n], dtype=np.uint64))
    if n == 0:
        return header
    width = max(1, int(v.max()).bit_length())
    bits = ((v[:, None] >> np.arange(width, dtype=np.uint64))
            & np.uint64(1)).astype(np.uint8)
    return header + bytes([width]) + np.packbits(
        bits.ravel(), bitorder="little").tobytes()


def bp_decode(buf: bytes) -> np.ndarray:
    """Decode bp_encode output -> uint64 array."""
    b = np.frombuffer(buf, dtype=np.uint8)
    (n,), pos = _read_varints(b, 0, 1)
    if n == 0:
        return np.zeros(0, dtype=np.uint64)
    width = int(b[pos]); pos += 1
    bits = np.unpackbits(b[pos:], bitorder="little")[: n * width]
    return (bits.reshape(n, width).astype(np.uint64)
            << np.arange(width, dtype=np.uint64)).sum(axis=1)


# ------------------------------------------- batch (all-blocks-at-once) API

def _bit_lengths(values: np.ndarray) -> np.ndarray:
    """Per-element bit_length (exact, no float log): vectorized binary
    search over the bit width — 6 masked shift/compare passes, no
    per-element Python and no float rounding hazards near powers of two."""
    x = np.asarray(values, dtype=np.uint64).copy()
    out = np.zeros(x.shape, dtype=np.int64)
    for shift in (32, 16, 8, 4, 2, 1):
        m = x >= np.uint64(1 << shift)
        out[m] += shift
        x[m] >>= np.uint64(shift)
    return out + (x > 0)


def _scatter_varints(out: np.ndarray, at: np.ndarray, values: np.ndarray
                     ) -> np.ndarray:
    """Write varint(values[i]) into out at byte offsets at[i] (vectorized
    over i); returns the per-value byte lengths."""
    vbytes, vlens = varint_encode_with_lengths(values.astype(np.uint64))
    vb = np.frombuffer(vbytes, dtype=np.uint8)
    voff = np.concatenate(([0], np.cumsum(vlens)[:-1]))
    for j in range(int(vlens.max()) if vlens.size else 0):
        m = vlens > j
        out[at[m] + j] = vb[voff[m] + j]
    return vlens


def _scatter_copy(out: np.ndarray, dst_start: np.ndarray,
                  src: np.ndarray, src_start: np.ndarray,
                  lengths: np.ndarray) -> None:
    """out[dst_start[i] : +lengths[i]] = src[src_start[i] : +lengths[i]]
    for all i in one gather/scatter pass."""
    total = int(lengths.sum())
    if total == 0:
        return
    rep = np.repeat(np.arange(lengths.size), lengths)
    within = np.arange(total) - np.repeat(
        np.concatenate(([0], np.cumsum(lengths)[:-1])), lengths)
    out[dst_start[rep] + within] = src[src_start[rep] + within]


def _pack_blocked_bits(bit_start: np.ndarray, widths_of_val: np.ndarray,
                       values: np.ndarray, total_bytes: int) -> np.ndarray:
    """Write each value's `width` low bits (LSB-first) starting at its
    absolute bit offset into a byte-aligned bit buffer; one vector pass per
    bit position (<= 64), then a single packbits."""
    bits = np.zeros(total_bytes * 8, dtype=np.uint8)
    maxw = int(widths_of_val.max()) if widths_of_val.size else 0
    for j in range(maxw):
        m = widths_of_val > j
        bits[bit_start[m] + j] = (
            (values[m] >> np.uint64(j)) & np.uint64(1)).astype(np.uint8)
    return np.packbits(bits, bitorder="little")


def bp_encode_blocks(gaps: np.ndarray, starts: np.ndarray,
                     ends: np.ndarray) -> tuple[bytes, np.ndarray]:
    """Batch bp_encode: encode every [starts[i], ends[i]) slice of `gaps`
    in ONE vectorized pass. Byte-identical to concatenating
    bp_encode(gaps[s:e]) per block; returns (stream, per-block lengths).

    This removes the per-block Python loop from the index encode kernel —
    widths, headers, bit positions and the final packbits are all computed
    batch-wide (the SIMD-BP128 spirit applied across blocks, not just
    within one)."""
    v = np.asarray(gaps, dtype=np.uint64)
    starts = np.asarray(starts, dtype=np.int64)
    n_b = np.asarray(ends, dtype=np.int64) - starts
    nb = starts.size
    if nb == 0:
        return b"", np.zeros(0, dtype=np.int64)
    widths = np.maximum(_bit_lengths(np.maximum.reduceat(v, starts)), 1)
    _, hdr_lens = varint_encode_with_lengths(n_b.astype(np.uint64))
    pay_bytes = (n_b * widths + 7) // 8
    blk_bytes = hdr_lens + 1 + pay_bytes
    blk_off = np.concatenate(([0], np.cumsum(blk_bytes)[:-1]))
    out = np.zeros(int(blk_bytes.sum()), dtype=np.uint8)
    # headers: varint(n) + width byte
    _scatter_varints(out, blk_off, n_b)
    out[blk_off + hdr_lens] = widths.astype(np.uint8)
    # payloads: per-value bit regions, byte-aligned per block
    pay_off = np.concatenate(([0], np.cumsum(pay_bytes)[:-1]))
    grp = np.repeat(np.arange(nb), n_b)
    pos_in_blk = np.arange(v.size) - starts[grp]
    bit_start = pay_off[grp] * 8 + pos_in_blk * widths[grp]
    payload = _pack_blocked_bits(bit_start, widths[grp], v,
                                 int(pay_bytes.sum()))
    _scatter_copy(out, blk_off + hdr_lens + 1, payload, pay_off, pay_bytes)
    return out.tobytes(), blk_bytes


def ef_encode_blocks(docs: np.ndarray, starts: np.ndarray,
                     ends: np.ndarray, block_prev: np.ndarray
                     ) -> tuple[bytes, np.ndarray]:
    """Batch Elias-Fano: encode every docID block (relative to its
    exclusive predecessor block_prev[i]) in ONE vectorized pass.
    Byte-identical to concatenating
    ef_encode(docs[s:e] - prev - 1, universe=last-prev-1) per block;
    returns (stream, per-block byte lengths)."""
    d = np.asarray(docs, dtype=np.int64)
    starts = np.asarray(starts, dtype=np.int64)
    ends = np.asarray(ends, dtype=np.int64)
    n_b = ends - starts
    nb = starts.size
    if nb == 0:
        return b"", np.zeros(0, dtype=np.int64)
    grp = np.repeat(np.arange(nb), n_b)
    rel = (d - block_prev[grp] - 1).astype(np.uint64)
    uni = (d[ends - 1] - block_prev - 1).astype(np.int64)  # rel of last
    u_eff = np.maximum(uni, 1)
    # l = floor(log2(u/n)) when u >= n else 0 — the SAME float64 formula as
    # ef_encode (not an integer reformulation), so the streams stay
    # byte-identical even where float rounding differs from exact math
    l = np.zeros(nb, dtype=np.int64)
    ge = u_eff >= n_b
    l[ge] = np.maximum(np.floor(np.log2(u_eff[ge] / n_b[ge])), 0
                       ).astype(np.int64)
    low_bytes = (n_b * l + 7) // 8
    hi_pos_last = (uni >> l) + (n_b - 1)  # last set high bit
    hi_bytes = (hi_pos_last + 1 + 7) // 8
    # header pieces: varint(n) varint(universe) byte(l) varint(low_size)
    # varint(high_size)
    _, n_lens = varint_encode_with_lengths(n_b.astype(np.uint64))
    _, u_lens = varint_encode_with_lengths(uni.astype(np.uint64))
    _, lo_lens = varint_encode_with_lengths(low_bytes.astype(np.uint64))
    _, hi_lens = varint_encode_with_lengths(hi_bytes.astype(np.uint64))
    blk_bytes = n_lens + u_lens + 1 + lo_lens + hi_lens + low_bytes + hi_bytes
    blk_off = np.concatenate(([0], np.cumsum(blk_bytes)[:-1]))
    out = np.zeros(int(blk_bytes.sum()), dtype=np.uint8)
    at = blk_off.copy()
    at += _scatter_varints(out, at, n_b)
    at += _scatter_varints(out, at, uni)
    out[at] = l.astype(np.uint8)
    at += 1
    at += _scatter_varints(out, at, low_bytes)
    at += _scatter_varints(out, at, hi_bytes)
    # low halves: l[b] bits per value, byte-aligned per block
    lo_off = np.concatenate(([0], np.cumsum(low_bytes)[:-1]))
    pos_in_blk = np.arange(d.size) - starts[grp]
    lo_bit_start = lo_off[grp] * 8 + pos_in_blk * l[grp]
    low_stream = _pack_blocked_bits(lo_bit_start, l[grp], rel,
                                    int(low_bytes.sum()))
    _scatter_copy(out, at, low_stream, lo_off, low_bytes)
    at += low_bytes
    # high halves: unary-gapped set bits at (rel >> l) + i
    hi_off = np.concatenate(([0], np.cumsum(hi_bytes)[:-1]))
    hi_total = int(hi_bytes.sum())
    hbits = np.zeros(hi_total * 8, dtype=np.uint8)
    hpos = (rel >> l[grp].astype(np.uint64)).astype(np.int64) + pos_in_blk
    hbits[hi_off[grp] * 8 + hpos] = 1
    hi_stream = np.packbits(hbits, bitorder="little")
    _scatter_copy(out, at, hi_stream, hi_off, hi_bytes)
    return out.tobytes(), blk_bytes


# -------------------------------------------------- partitioned Elias-Fano

# Per-partition representation tags (reference partitioned_sequence.hpp
# indexed_sequence types: all-ones run / plain bitvector / Elias-Fano)
_PEF_ALLONES, _PEF_BITMAP, _PEF_EF = 0, 1, 2


def _pef_part_cost(m: int, span: int) -> tuple[int, int]:
    """(tag, payload bytes) of the cheapest representation for a partition
    of m strictly-increasing values covering span = last - lo (inclusive
    universe width span + 1). Mirrors optimal_partition.hpp's cost_fun over
    the three indexed_sequence cases, byte-aligned."""
    if span == m - 1:
        return _PEF_ALLONES, 0
    bitmap = (span + 8) // 8
    l = max(0, int(np.floor(np.log2((span + 1) / m))) if span + 1 >= m else 0)
    ef = (m * l + 7) // 8 + ((span >> l) + m + 7) // 8 + 2
    return (_PEF_BITMAP, bitmap) if bitmap <= ef else (_PEF_EF, ef)


def pef_encode(values: np.ndarray, universe: int, quantum: int = 8,
               dir_overhead: int = 4, uniform: int | None = None,
               max_part: int = 4096) -> bytes:
    """Partitioned Elias-Fano over a strictly-increasing uint64 array
    (reference sequence/partitioned_sequence.hpp + optimal_partition.hpp:
    choose partition boundaries minimizing total encoded size, where each
    partition independently picks all-ones / bitmap / Elias-Fano).

    The reference's eps-approximate shortest path is re-expressed as an
    EXACT DP on a quantum grid of candidate boundaries (same move as the
    VBMW partitioner); partitions are byte-aligned (documented deviation —
    parquet pages are byte-addressed), dir_overhead models the per-partition
    directory entry in the DP.

    Layout: varint n | varint universe | varint n_parts, then per partition
    varint m | varint last (relative to sequence start) | 1B tag |
    varint payload_len | payload.

    uniform=K skips the DP and cuts fixed K-element partitions — the
    reference's uniform_partitioned_sequence.hpp variant (cheaper to build,
    same per-partition representations; decoder is shared).

    max_part caps a partition at that many elements, which bounds the DP's
    inner lookback so a direct call on a long list stays
    O(n/quantum * max_part/quantum) instead of O((n/quantum)^2) — the role
    of the reference's eps-approximate window (optimal_partition.hpp). In
    the build path pef only ever sees block-sized slices (<= block_size
    elements), where the cap is never binding and the DP is exact."""
    v = np.asarray(values, dtype=np.uint64)
    n = v.size
    header = varint_encode(np.array([n, universe], dtype=np.uint64))
    if n == 0:
        return header + varint_encode(np.array([0], dtype=np.uint64))
    v_int = v.astype(np.int64)
    if uniform is not None:
        bounds = list(range(0, n, max(1, uniform))) + [n]
        if bounds[-2] == n:
            bounds = bounds[:-1]
    else:
        nodes = list(range(0, n, quantum)) + [n]
        if nodes[-2] == n:  # n divisible by quantum
            nodes = nodes[:-1]
        m_nodes = len(nodes)
        INF = float("inf")
        dist = [INF] * m_nodes
        prev_n = [0] * m_nodes
        dist[0] = 0.0
        max_back = max(1, max_part // max(1, quantum))
        for j in range(1, m_nodes):
            e = nodes[j]
            for i in range(j - 1, max(-1, j - 1 - max_back), -1):
                s = nodes[i]
                lo = int(v_int[s - 1]) + 1 if s > 0 else 0
                span = int(v_int[e - 1]) - lo
                _, payload = _pef_part_cost(e - s, span)
                c = dist[i] + payload + dir_overhead
                if c < dist[j]:
                    dist[j] = c
                    prev_n[j] = i
        # backtrack partition boundaries
        bounds = [m_nodes - 1]
        while bounds[-1] > 0:
            bounds.append(prev_n[bounds[-1]])
        bounds = [nodes[b] for b in reversed(bounds)]
    parts = []
    for s, e in zip(bounds[:-1], bounds[1:]):
        lo = int(v_int[s - 1]) + 1 if s > 0 else 0
        last = int(v_int[e - 1])
        span = last - lo
        m = e - s
        tag, _ = _pef_part_cost(m, span)
        if tag == _PEF_ALLONES:
            payload = b""
        elif tag == _PEF_BITMAP:
            bits = np.zeros(span + 1, dtype=np.uint8)
            bits[(v_int[s:e] - lo).astype(np.int64)] = 1
            payload = np.packbits(bits, bitorder="little").tobytes()
        else:
            payload = ef_encode((v_int[s:e] - lo).astype(np.uint64), span)
        parts.append(
            varint_encode(np.array([m, last], dtype=np.uint64))
            + bytes([tag])
            + varint_encode(np.array([len(payload)], dtype=np.uint64))
            + payload)
    return (header
            + varint_encode(np.array([len(parts)], dtype=np.uint64))
            + b"".join(parts))


def pef_decode(buf: bytes) -> tuple[np.ndarray, int]:
    """Decode pef_encode output -> (values, universe)."""
    b = np.frombuffer(buf, dtype=np.uint8)
    (n, universe, n_parts), pos = _read_varints(b, 0, 3)
    if n == 0:
        return np.zeros(0, dtype=np.uint64), universe
    chunks = []
    lo = 0
    for _ in range(n_parts):
        (m, last), pos = _read_varints(b, pos, 2)
        tag = int(b[pos]); pos += 1
        (plen,), pos = _read_varints(b, pos, 1)
        payload = b[pos:pos + plen]
        pos += plen
        span = last - lo
        if tag == _PEF_ALLONES:
            vals = lo + np.arange(m, dtype=np.int64)
        elif tag == _PEF_BITMAP:
            bits = np.unpackbits(payload, bitorder="little")[: span + 1]
            vals = lo + np.flatnonzero(bits).astype(np.int64)
        else:
            rel, _ = ef_decode(payload.tobytes())
            vals = lo + rel.astype(np.int64)
        chunks.append(vals)
        lo = last + 1
    return np.concatenate(chunks).astype(np.uint64), universe


# -------------------------------------------- binary interpolative coding

class _BitWriter:
    __slots__ = ("chunks", "acc", "acc_bits")

    def __init__(self):
        self.chunks: list = []
        self.acc = 0
        self.acc_bits = 0

    def write(self, value: int, width: int) -> None:
        # accumulate MSB-first into an int, flush whole bytes
        self.acc = (self.acc << width) | (value & ((1 << width) - 1))
        self.acc_bits += width
        if self.acc_bits >= 4096:
            spill = self.acc_bits % 8
            top = self.acc >> spill
            self.chunks.append(top.to_bytes((self.acc_bits - spill) // 8,
                                            "big"))
            self.acc &= (1 << spill) - 1
            self.acc_bits = spill

    def tobytes(self) -> bytes:
        pad = (-self.acc_bits) % 8
        tail = ((self.acc << pad).to_bytes((self.acc_bits + pad) // 8, "big")
                if self.acc_bits else b"")
        return b"".join(self.chunks) + tail


class _BitReader:
    __slots__ = ("buf", "pos")

    def __init__(self, buf: bytes):
        self.buf = buf
        self.pos = 0

    def read(self, width: int) -> int:
        # O(1) per call: slice the <=9 covering bytes, shift, mask —
        # no per-bit loop (a width-w read touches ceil((off+w)/8) bytes).
        if width == 0:
            return 0
        p = self.pos
        self.pos = p + width
        byte0 = p >> 3
        off = p & 7
        nbytes = (off + width + 7) >> 3
        chunk = int.from_bytes(self.buf[byte0:byte0 + nbytes], "big")
        return (chunk >> (nbytes * 8 - off - width)) & ((1 << width) - 1)


def _center_width(rng: int) -> int:
    return int(rng).bit_length() if rng > 0 else 0


def _bic_write(w: _BitWriter, vals: np.ndarray, lo: int, hi: int) -> None:
    """Recursive middle-out interpolative encode of strictly-increasing
    vals within [lo, hi] (reference codec/interpolative_coding.hpp:1-135,
    the Moffat–Stuiver scheme): the middle element is written with just
    enough bits for its feasible range, halving ranges as recursion
    descends — dense runs cost ~0 bits."""
    n = vals.size
    if n == 0:
        return
    mid = n // 2
    val = int(vals[mid])
    # feasible range for the middle value given mid elements below and
    # n - mid - 1 above
    a = lo + mid
    b = hi - (n - mid - 1)
    w.write(val - a, _center_width(b - a))
    _bic_write(w, vals[:mid], lo, val - 1)
    _bic_write(w, vals[mid + 1:], val + 1, hi)


def _bic_read(r: _BitReader, n: int, lo: int, hi: int, out: list) -> None:
    if n == 0:
        return
    mid = n // 2
    a = lo + mid
    b = hi - (n - mid - 1)
    val = a + r.read(_center_width(b - a))
    _bic_read(r, mid, lo, val - 1, out)
    out.append(val)
    _bic_read(r, n - mid - 1, val + 1, hi, out)


def bic_encode(values: np.ndarray, universe: int) -> bytes:
    """Binary interpolative coding of a strictly-increasing uint64 array
    over [0, universe] — the strongest-compression codec family of the
    reference (codec/interpolative_coding.hpp). Bit-granular; CPU-heavy
    (per-element recursion) — a size-optimal cold-tier option, not the
    throughput default."""
    v = np.asarray(values, dtype=np.int64)
    header = varint_encode(np.array([v.size, universe], dtype=np.uint64))
    if v.size == 0:
        return header
    w = _BitWriter()
    _bic_write(w, v, 0, int(universe))
    return header + w.tobytes()


def bic_decode(buf: bytes) -> tuple[np.ndarray, int]:
    b = np.frombuffer(buf, dtype=np.uint8)
    (n, universe), pos = _read_varints(b, 0, 2)
    if n == 0:
        return np.zeros(0, dtype=np.uint64), universe
    r = _BitReader(b[pos:].tobytes())
    out: list = []
    _bic_read(r, n, 0, universe, out)
    return np.array(out, dtype=np.uint64), universe


# ------------------------------------------------------------ Elias γ / δ

def gamma_encode(values: np.ndarray) -> bytes:
    """Elias γ codes for positive ints (reference codec/integer_codes.hpp
    write_gamma): value v -> unary length of bits(v), then bits(v) minus
    the leading 1. Used by the reference for small header ints of the
    bit-vector index family; exposed here as a utility codec (vectorized
    bit assembly, one pass)."""
    v = np.asarray(values, dtype=np.uint64)
    if v.size == 0:
        return varint_encode(np.array([0], dtype=np.uint64))
    if (v == 0).any():
        raise ValueError("gamma codes encode positive integers")
    nbits = np.frompyfunc(int.bit_length, 1, 1)(v.astype(object))
    nbits = nbits.astype(np.int64)
    total = int((2 * nbits - 1).sum())
    out = np.zeros(total, dtype=np.uint8)
    # per-value: (nbits-1) zeros, then bits(v) MSB-first (leading 1 doubles
    # as the unary terminator)
    starts = np.concatenate(([0], np.cumsum(2 * nbits - 1)[:-1]))
    # scatter all value bits in one vectorized pass: for value i, bit j
    # (MSB-first) lands at starts[i] + (nbits[i]-1) + j
    val_starts = np.concatenate(([0], np.cumsum(nbits)[:-1]))
    vi = np.repeat(np.arange(v.size), nbits)
    j = np.arange(int(nbits.sum())) - np.repeat(val_starts, nbits)
    shift = (nbits[vi] - 1 - j).astype(np.uint64)
    out[starts[vi] + (nbits[vi] - 1) + j] = \
        ((v[vi] >> shift) & np.uint64(1)).astype(np.uint8)
    return varint_encode(np.array([v.size], dtype=np.uint64)) + np.packbits(
        out, bitorder="big").tobytes()


def gamma_decode(buf: bytes) -> np.ndarray:
    b = np.frombuffer(buf, dtype=np.uint8)
    (n,), pos = _read_varints(b, 0, 1)
    if n == 0:
        return np.zeros(0, dtype=np.uint64)
    bits = np.unpackbits(b[pos:], bitorder="big")
    # next-set-bit table (one vectorized pass) -> O(1) per code: z zeros
    # end at nxt[p], and the z+1 value bits are read as one chunked int.
    idx = np.arange(bits.size, dtype=np.int64)
    nxt = np.where(bits == 1, idx, bits.size)
    nxt = np.minimum.accumulate(nxt[::-1])[::-1]
    r = _BitReader(b[pos:].tobytes())
    out = np.empty(n, dtype=np.uint64)
    p = 0
    for i in range(n):
        z = int(nxt[p]) - p
        r.pos = p + z
        out[i] = r.read(z + 1)
        p += 2 * z + 1
    return out


# ------------------------------------------------ OptPFD (patched FOR)

def optpfd_encode(values: np.ndarray) -> bytes:
    """Patched frame-of-reference (the reference's OptPFD role,
    codec/optpfor.hpp / the Yan-Ding-Suel OptPFD scheme): every value is
    packed at a single small bit width b, and the few values that do not
    fit ("exceptions") store their overflow bits out of band. Unlike the
    classic heuristic (~90% fit), b is chosen by an EXACT cost scan — for
    every candidate width the total size (n*b bits + varint-coded
    exception positions and overflows) is computed from one sorted pass,
    and the cheapest is taken. Layout:
    [varint n][1B width b][varint n_exc][packed b-bit lanes]
    [varint exc position gaps][varint exc overflows]."""
    v = np.asarray(values, dtype=np.uint64)
    n = v.size
    header = varint_encode(np.array([n], dtype=np.uint64))
    if n == 0:
        return header
    nbits = _bit_lengths(v)
    max_b = int(nbits.max())
    sorted_bits = np.sort(nbits)
    # exact width choice: for each candidate b, values with bit_length > b
    # are exceptions costing a ~1-byte position gap varint plus a varint
    # of their top (bit_length - b) bits; one sorted pass gives the count
    # and overflow-size suffix sums
    best_b, best_cost = max_b, None
    for b in range(max_b + 1):
        k = int(np.searchsorted(sorted_bits, b, side="right"))
        n_exc = n - k
        over_bytes = ((sorted_bits[k:] - b + 6) // 7).sum() if n_exc else 0
        cost = (n * b + 7) // 8 + int(over_bytes) + n_exc
        if best_cost is None or cost < best_cost:
            best_b, best_cost = b, cost
    b = best_b
    mask = np.uint64((1 << b) - 1)
    low = v & mask
    exc_pos = np.flatnonzero(nbits > b).astype(np.uint64)
    over = (v[exc_pos] >> np.uint64(b)).astype(np.uint64)
    out = [header, bytes([b]),
           varint_encode(np.array([exc_pos.size], dtype=np.uint64))]
    if b:
        lanes = ((low[:, None] >> np.arange(b, dtype=np.uint64))
                 & np.uint64(1)).astype(np.uint8)
        out.append(np.packbits(lanes.ravel(), bitorder="little").tobytes())
    if exc_pos.size:
        pos_gaps = np.diff(exc_pos.astype(np.int64),
                           prepend=np.int64(-1)) - 1
        out.append(varint_encode(pos_gaps.astype(np.uint64)))
        out.append(varint_encode(over))
    return b"".join(out)


def optpfd_decode(buf: bytes) -> np.ndarray:
    b_arr = np.frombuffer(buf, dtype=np.uint8)
    (n,), pos = _read_varints(b_arr, 0, 1)
    if n == 0:
        return np.zeros(0, dtype=np.uint64)
    width = int(b_arr[pos]); pos += 1
    (n_exc,), pos = _read_varints(b_arr, pos, 1)
    if width:
        lane_bytes = (n * width + 7) // 8
        bits = np.unpackbits(b_arr[pos:pos + lane_bytes],
                             bitorder="little")[: n * width]
        v = (bits.reshape(n, width).astype(np.uint64)
             << np.arange(width, dtype=np.uint64)).sum(axis=1)
        pos += lane_bytes
    else:
        v = np.zeros(n, dtype=np.uint64)
    if n_exc:
        rest = varint_decode(b_arr[pos:].tobytes(), 2 * n_exc)
        exc_pos = np.cumsum(rest[:n_exc].astype(np.int64) + 1) - 1
        v[exc_pos] |= rest[n_exc:] << np.uint64(width)
    return v


# --------------------------------------- StreamVByte-layout group varint

def svb_encode(values: np.ndarray) -> bytes:
    """Group varint in the StreamVByte layout (Lemire, Kurz & Rupp 2018,
    "Stream VByte: faster byte-oriented integer compression" — the
    published scheme behind the reference's SIMD byte-aligned varint
    family, e.g. codec/simdbp and streamvbyte roles): per-value byte
    lengths live as 2-bit codes packed four to a control byte, ALL
    control bytes contiguous, then all data bytes — the split that lets a
    SIMD decoder process four values per table-driven shuffle, and here
    lets numpy decode the whole stream in one masked scatter with no
    stop-bit scan. u32 values only, as in the reference family.
    Layout: [varint n][ceil(n/4) control bytes][data bytes]."""
    v = np.asarray(values, dtype=np.uint64)
    if (v >> np.uint64(32)).any():
        raise ValueError("svb encodes u32 values only")
    n = v.size
    header = varint_encode(np.array([n], dtype=np.uint64))
    if n == 0:
        return header
    lens = (np.maximum(_bit_lengths(v), 1) + 7) // 8  # 1..4 bytes each
    codes = (lens - 1).astype(np.uint8)
    pad = (-n) % 4
    cp = np.concatenate([codes, np.zeros(pad, dtype=np.uint8)]).reshape(-1, 4)
    control = (cp[:, 0] | (cp[:, 1] << 2) | (cp[:, 2] << 4)
               | (cp[:, 3] << 6)).astype(np.uint8)
    b4 = v.astype("<u4").view(np.uint8).reshape(n, 4)
    data = b4[np.arange(4) < lens[:, None]]  # first lens[i] LE bytes, row order
    return header + control.tobytes() + data.tobytes()


def svb_decode(buf: bytes) -> np.ndarray:
    b = np.frombuffer(buf, dtype=np.uint8)
    (n,), pos = _read_varints(b, 0, 1)
    if n == 0:
        return np.zeros(0, dtype=np.uint64)
    ncb = (n + 3) // 4
    ctrl = b[pos:pos + ncb]
    pos += ncb
    codes = ((ctrl[:, None] >> np.array([0, 2, 4, 6], dtype=np.uint8))
             & np.uint8(3)).reshape(-1)[:n]
    lens = codes.astype(np.int64) + 1
    mask = np.arange(4) < lens[:, None]
    out4 = np.zeros((n, 4), dtype=np.uint8)
    out4[mask] = b[pos:pos + int(lens.sum())]
    return out4.reshape(-1).view("<u4").astype(np.uint64)


# ------------------------------------------------ Simple8b / Simple16

# Simple8b (Anh & Moffat 2010, "Index compression using 64-bit words" —
# the reference's codec/simple8b.hpp role): each 64-bit word carries a
# 4-bit selector + 60 data bits; the selector picks how many equal-width
# values the word holds.  Selectors 0/1 are the run modes (240/120 zeros,
# no data bits).  (count, width) per selector:
_S8B_MODES = ((240, 0), (120, 0), (60, 1), (30, 2), (20, 3), (15, 4),
              (12, 5), (10, 6), (8, 7), (7, 8), (6, 10), (5, 12),
              (4, 15), (3, 20), (2, 30), (1, 60))
_S8B_COUNTS = np.array([m[0] for m in _S8B_MODES], dtype=np.int64)


def _best_selectors(nbits: np.ndarray, modes) -> np.ndarray:
    """Densest fitting (count, width) selector per position for the
    word-aligned one-width-per-word codecs (s8b, qmx).

    fit[s][i]: do nbits[i:i+count_s] all fit in width_s bits? (windows
    shorter than count_s at the tail count as fitting — the last word
    simply packs fewer real values, zero-padded). Windowed maxima come
    from a sparse table (doubling maxima, O(n log maxcount) total):
    max over [i, i+c) = max(m_j[i], m_j[i+c-2^j]) with 2^j <= c — vs
    O(n x sum(counts)) for naive sliding windows. Fit is monotone in
    selector id (higher id = narrower window + wider width), so
    overwriting from sparsest to densest leaves the densest fitting
    selector without a (len(modes), n) stack/argmax."""
    n = nbits.size
    maxcount = max(m[0] for m in modes)
    logc = (maxcount - 1).bit_length()
    pad = np.concatenate([nbits, np.zeros(maxcount, dtype=nbits.dtype)])
    sparse = [pad]
    for k in range(logc):
        step = 1 << k
        sparse.append(np.maximum(sparse[-1][:-step], sparse[-1][step:]))

    def _wmax(c: int) -> np.ndarray:
        j = c.bit_length() - 1
        mj = sparse[j]
        return np.maximum(mj[:n], mj[c - (1 << j):c - (1 << j) + n])

    best = np.full(n, len(modes) - 1, dtype=np.int64)
    for s in range(len(modes) - 2, -1, -1):
        count, width = modes[s]
        best[_wmax(count) <= width] = s
    return best


def _word_starts(best: np.ndarray, counts_of_best: np.ndarray) -> np.ndarray:
    """Positions where greedy words begin: the orbit of 0 under the jump
    map nxt[i] = i + count(best[i]), resolved with pointer doubling —
    O(words x log words) numpy work, no per-word Python loop. The greedy
    chain is a deterministic function of `best`, so this reproduces the
    sequential walk byte-for-byte."""
    n = best.size
    nxt = np.minimum(np.arange(n, dtype=np.int64) + counts_of_best, n)
    f = np.append(nxt, n)  # f[n] = n: terminal fixed point
    starts = np.array([0], dtype=np.int64)
    while True:
        grown = np.union1d(starts, f[starts])
        if grown.size == starts.size:
            break
        starts = grown
        f = f[f]  # double the jump distance
    return starts[starts < n]


def s8b_encode(values: np.ndarray) -> bytes:
    """Simple8b word-aligned packing. Greedy longest-fit per word, as
    published: at each position take the densest selector whose count of
    next values all fit its width. Fully vectorized: per-position best
    selectors via sliding-window maxima, the greedy word walk via
    pointer-doubling (_word_starts), and packing in per-selector groups
    exactly like the decoder. Layout: [varint n][8B LE words...]."""
    v = np.asarray(values, dtype=np.uint64)
    n = v.size
    header = varint_encode(np.array([n], dtype=np.uint64))
    if n == 0:
        return header
    nbits = _bit_lengths(v)
    if int(nbits.max()) > 60:
        raise ValueError("simple8b encodes values of <= 60 bits")
    best = _best_selectors(nbits, _S8B_MODES)
    starts = _word_starts(best, _S8B_COUNTS[best])
    sel = best[starts]
    words = sel.astype(np.uint64) << np.uint64(60)
    vpad = np.concatenate([v, np.zeros(240, dtype=np.uint64)])
    for s in np.unique(sel):
        count, width = _S8B_MODES[s]
        if width == 0:
            continue  # run modes carry no payload bits
        idx = np.flatnonzero(sel == s)
        base = starts[idx]
        acc = vpad[base].copy()  # tail positions read zero pad
        for j in range(1, count):
            acc |= vpad[base + j] << np.uint64(j * width)
        words[idx] |= acc
    return header + words.astype("<u8").tobytes()


def s8b_decode(buf: bytes) -> np.ndarray:
    """Vectorized Simple8b decode: words are grouped by selector and each
    group unpacks in one masked-shift numpy pass; per-word output offsets
    come from a counts cumsum — no per-value Python."""
    b = np.frombuffer(buf, dtype=np.uint8)
    (n,), pos = _read_varints(b, 0, 1)
    if n == 0:
        return np.zeros(0, dtype=np.uint64)
    words = b[pos:].view("<u8").astype(np.uint64)
    sel = (words >> np.uint64(60)).astype(np.int64)
    counts = _S8B_COUNTS[sel]
    offs = np.concatenate(([0], np.cumsum(counts)[:-1]))
    out = np.zeros(int(offs[-1]) + int(counts[-1]), dtype=np.uint64)
    for s in np.unique(sel):
        count, width = _S8B_MODES[s]
        idx = np.flatnonzero(sel == s)
        if width == 0:
            continue  # run modes decode to zeros
        shifts = (np.arange(count, dtype=np.uint64) * np.uint64(width))
        mask = np.uint64((1 << width) - 1)
        vals = (words[idx][:, None] >> shifts) & mask
        dst = offs[idx][:, None] + np.arange(count)
        out[dst.ravel()] = vals.ravel()
    return out[:n]


# Simple16 (Zhang, Long & Suel 2008, WWW — the reference's
# codec/simple16.hpp role): 32-bit words, 4-bit selector + 28 data bits;
# unlike Simple8b each selector is a WIDTH PATTERN (mixed widths inside
# one word), which wastes no pad bits. The 16 published patterns:
_S16_MODES = tuple(tuple(ws) for ws in (
    [1] * 28, [2] * 7 + [1] * 14, [1] * 7 + [2] * 7 + [1] * 7,
    [1] * 14 + [2] * 7, [2] * 14, [4] + [3] * 8, [3] + [4] * 4 + [3] * 3,
    [4] * 7, [5] * 4 + [4] * 2, [4] * 2 + [5] * 4, [6] * 3 + [5] * 2,
    [5] * 2 + [6] * 3, [7] * 4, [10] + [9] * 2, [14] * 2, [28],
))
_S16_COUNTS = np.array([len(ws) for ws in _S16_MODES], dtype=np.int64)
_S16_WIDTHS = [np.array(ws, dtype=np.uint64) for ws in _S16_MODES]
_S16_SHIFTS = [np.concatenate(([0], np.cumsum(ws[:-1]))).astype(np.uint64)
               for ws in _S16_MODES]


def s16_encode(values: np.ndarray) -> bytes:
    """Simple16 word-aligned packing (greedy longest-fit over the 16
    width patterns). Values must fit 28 bits — gap streams at posting-
    block granularity always do; larger inputs raise.
    Layout: [varint n][4B LE words...]."""
    v = np.asarray(values, dtype=np.uint64)
    n = v.size
    header = varint_encode(np.array([n], dtype=np.uint64))
    if n == 0:
        return header
    nbits = _bit_lengths(v)
    if int(nbits.max()) > 28:
        raise ValueError("simple16 encodes values of <= 28 bits")
    # per-position first-fitting pattern in densest-first order: pattern s
    # fits at i iff every nbits[i+j] <= widths_s[j] elementwise (positions
    # past the end are zero-padded and always fit) — one sliding-window
    # comparison per pattern, then the greedy walk via pointer doubling
    order = np.argsort(-_S16_COUNTS, kind="stable")  # densest first
    fits = []
    for s in order:
        c = int(_S16_COUNTS[s])
        padded = np.concatenate([nbits, np.zeros(c - 1, dtype=nbits.dtype)]) \
            if c > 1 else nbits
        win = np.lib.stride_tricks.sliding_window_view(padded, c)[:n]
        fits.append((win <= _S16_WIDTHS[s]).all(axis=1))
    fit = np.stack(fits)  # densest-first rows
    best = np.asarray(order)[fit.argmax(axis=0)]  # actual selector ids
    starts = _word_starts(best, _S16_COUNTS[best])
    sel = best[starts]
    words = sel.astype(np.uint64) << np.uint64(28)
    for s in np.unique(sel):
        c = int(_S16_COUNTS[s])
        idx = np.flatnonzero(sel == s)
        pos = starts[idx][:, None] + np.arange(c)
        vals = np.where(pos < n, v[np.minimum(pos, n - 1)], np.uint64(0))
        words[idx] |= np.bitwise_or.reduce(vals << _S16_SHIFTS[s], axis=1)
    return header + words.astype("<u4").tobytes()


def s16_decode(buf: bytes) -> np.ndarray:
    """Vectorized Simple16 decode, selector-grouped like s8b_decode."""
    b = np.frombuffer(buf, dtype=np.uint8)
    (n,), pos = _read_varints(b, 0, 1)
    if n == 0:
        return np.zeros(0, dtype=np.uint64)
    words = b[pos:].view("<u4").astype(np.uint64)
    sel = (words >> np.uint64(28)).astype(np.int64)
    counts = _S16_COUNTS[sel]
    offs = np.concatenate(([0], np.cumsum(counts)[:-1]))
    out = np.zeros(int(offs[-1]) + int(counts[-1]), dtype=np.uint64)
    for s in np.unique(sel):
        idx = np.flatnonzero(sel == s)
        masks = (np.uint64(1) << _S16_WIDTHS[s]) - np.uint64(1)
        vals = (words[idx][:, None] >> _S16_SHIFTS[s]) & masks
        dst = offs[idx][:, None] + np.arange(int(_S16_COUNTS[s]))
        out[dst.ravel()] = vals.ravel()
    return out[:n]


# QMX — Quantities, Multipliers and eXtractor (Trotman, ADCS 2014; the
# reference's codec/qmx.hpp role). The defining layout properties, kept:
# the payload is a pure run of 16-byte (128-bit) words each packed at ONE
# bit width, and the selector stream is pulled OUT OF BAND — one byte per
# run (width nibble | run-length-1 nibble), stored at the tail of the
# stream and read backwards — so the extractor streams aligned
# quantity-words with no selector branches inside the data. The
# reference's in-register lane interleave is a pure bit permutation with
# identical size and identical decoded values; as with bp128 above, this
# implementation packs LSB-first linear inside each 128-bit word, which
# is the Arrow/numpy-batch analogue of the SIMD register layout.
# Width ladder as published: {0,1,2,3,4,5,6,7,8,9,10,12,16,21,32}; a
# 0-width word encodes a run of 256 zeros with no payload bytes.
_QMX_MODES = ((256, 0), (128, 1), (64, 2), (42, 3), (32, 4), (25, 5),
              (21, 6), (18, 7), (16, 8), (14, 9), (12, 10), (10, 12),
              (8, 16), (6, 21), (4, 32))
_QMX_COUNTS = np.array([m[0] for m in _QMX_MODES], dtype=np.int64)
_QMX_WIDTHS = np.array([m[1] for m in _QMX_MODES], dtype=np.int64)


def qmx_encode(values: np.ndarray) -> bytes:
    """QMX encode (<=32-bit values). Greedy densest-fit word choice via
    the same sparse-table windowed maxima + pointer-doubling walk as
    s8b_encode; payload packed in one _pack_blocked_bits pass; selector
    run-length bytes assembled vectorized and stored reversed at the
    stream tail. Layout: [varint n][varint n_selbytes][16B words...]
    [selector bytes, tail-reversed]."""
    v = np.asarray(values, dtype=np.uint64)
    n = v.size
    if n == 0:
        return varint_encode(np.array([0, 0], dtype=np.uint64))
    nbits = _bit_lengths(v)
    if int(nbits.max()) > 32:
        raise ValueError("qmx encodes values of <= 32 bits")
    best = _best_selectors(nbits, _QMX_MODES)
    starts = _word_starts(best, _QMX_COUNTS[best])
    sel = best[starts]
    # selector bytes: equal-selector word runs, capped at 16 per byte
    change = np.flatnonzero(np.diff(sel)) + 1
    seg_starts = np.concatenate(([0], change))
    seg_lens = np.diff(np.append(seg_starts, sel.size))
    nb = (seg_lens + 15) // 16  # selector bytes per segment
    byte_seg = np.repeat(np.arange(seg_lens.size), nb)
    idx_in_seg = np.arange(byte_seg.size) - np.repeat(
        np.concatenate(([0], np.cumsum(nb)[:-1])), nb)
    run = np.where(idx_in_seg < nb[byte_seg] - 1, 16,
                   seg_lens[byte_seg] - 16 * (nb[byte_seg] - 1))
    selb = ((sel[seg_starts[byte_seg]] << 4) | (run - 1)).astype(np.uint8)
    # payload: one 16-byte word per non-zero-width word, LSB-first linear
    word_width = _QMX_WIDTHS[sel]
    has_pay = word_width > 0
    pay_idx = np.cumsum(has_pay) - 1  # payload word index per word
    total_pay_bytes = int(has_pay.sum()) * 16
    per_word_n = np.diff(np.append(starts, n))
    grp = np.repeat(np.arange(sel.size), per_word_n)
    pos_in_word = np.arange(n) - starts[grp]
    wv = word_width[grp]
    m = wv > 0  # 0-width words carry no bits (their values are all zero)
    bit_start = pay_idx[grp][m] * 128 + pos_in_word[m] * wv[m]
    payload = _pack_blocked_bits(bit_start, wv[m], v[m], total_pay_bytes)
    header = varint_encode(np.array([n, selb.size], dtype=np.uint64))
    return header + payload.tobytes() + selb[::-1].tobytes()


def qmx_decode(buf: bytes) -> np.ndarray:
    """Vectorized QMX decode: selector bytes read backwards from the
    stream tail, payload words grouped by width and unpacked one numpy
    pass per width (unpackbits over whole 128-bit words, exactly the
    bulk extractor role)."""
    b = np.frombuffer(buf, dtype=np.uint8)
    (n, nsel), pos = _read_varints(b, 0, 2)
    if n == 0:
        return np.zeros(0, dtype=np.uint64)
    selb = b[b.size - nsel:][::-1]
    payload = b[pos:b.size - nsel]
    word_sel = np.repeat((selb >> 4).astype(np.int64),
                         (selb & 0xF).astype(np.int64) + 1)
    word_width = _QMX_WIDTHS[word_sel]
    word_count = _QMX_COUNTS[word_sel]
    offs = np.concatenate(([0], np.cumsum(word_count)[:-1]))
    pay_idx = np.cumsum(word_width > 0) - 1
    out = np.zeros(int(offs[-1]) + int(word_count[-1]), dtype=np.uint64)
    pw = payload.reshape(-1, 16)
    for s in np.unique(word_sel):
        count, width = _QMX_MODES[s]
        if width == 0:
            continue  # 256-zero run words: out is already zero
        idx = np.flatnonzero(word_sel == s)
        bits = np.unpackbits(pw[pay_idx[idx]], axis=1, bitorder="little")
        vals = (bits[:, :count * width].reshape(-1, count, width)
                .astype(np.uint64)
                << np.arange(width, dtype=np.uint64)).sum(axis=2)
        dst = offs[idx][:, None] + np.arange(count)
        out[dst.ravel()] = vals.ravel()
    return out[:n]


# The codec registry: name -> (encode, decode, relative). A relative codec
# stores docs - base - 1, a monotone sequence over the universe rel[-1]
# (encode(rel, universe), decode(buf) -> rel); the others store the gap-1
# stream (encode(gaps), decode(buf) -> gaps). "opt" has no entry of its
# own: it is the tagged wrapper in encode_gap_stream / decode_gap_stream.
_REGISTRY = {
    "varint": (varint_encode, varint_decode, False),
    "ef": (ef_encode, lambda buf: ef_decode(buf)[0], True),
    "bp128": (bp_encode, bp_decode, False),
    "opt": None,
    "pef": (pef_encode, lambda buf: pef_decode(buf)[0], True),
    "pefu": (lambda rel, universe: pef_encode(rel, universe, uniform=64),
             lambda buf: pef_decode(buf)[0], True),
    "bic": (bic_encode, lambda buf: bic_decode(buf)[0], True),
    "optpfd": (optpfd_encode, optpfd_decode, False),
    "svb": (svb_encode, svb_decode, False),
    "s8b": (s8b_encode, s8b_decode, False),
    "s16": (s16_encode, s16_decode, False),
    "qmx": (qmx_encode, qmx_decode, False),
}
CODECS = tuple(_REGISTRY)

# per-block optimal dispatch: each block is encoded with whichever base
# codec is smallest and tagged with one byte — the role the reference
# fills with per-block codec choice, re-expressed as a dispatch over this
# engine's base codecs: true OptPFD (patched FOR), partitioned EF (which
# itself sub-partitions the block optimally), plain bitpack, EF, varint.
# The tag is the index into this tuple and is stored in the index: append
# only.
_OPT_CODECS = ("varint", "ef", "bp128", "pef", "optpfd")


def codec_entry(codec: str):
    """Registry entry of `codec`; ValueError for a name not in CODECS."""
    try:
        return _REGISTRY[codec]
    except KeyError:
        raise ValueError(f"unknown codec {codec!r}; expected one of "
                         f"{', '.join(CODECS)}") from None


def encode_gap_stream(docs: np.ndarray, base: int, codec: str) -> bytes:
    """Encode strictly-increasing docIDs relative to `base` (exclusive)."""
    d = np.asarray(docs, dtype=np.int64)
    if codec == "opt":
        best_i, best = min(
            ((i, encode_gap_stream(d, base, c))
             for i, c in enumerate(_OPT_CODECS)),
            key=lambda t: len(t[1]))
        return bytes([best_i]) + best
    encode, _, relative = codec_entry(codec)
    if relative:
        rel = (d - base - 1).astype(np.uint64)
        return encode(rel, int(rel[-1]) if rel.size else 0)
    return encode((np.diff(d, prepend=np.int64(base)) - 1).astype(np.uint64))


def decode_gap_stream(buf: bytes, base: int, codec: str,
                      count: int | None = None) -> np.ndarray:
    """Inverse of encode_gap_stream; with `count` given, a stream holding
    a different number of docs raises ValueError."""
    if codec == "opt":
        return decode_gap_stream(buf[1:], base, _OPT_CODECS[buf[0]], count)
    _, decode, relative = codec_entry(codec)
    vals = decode(buf).astype(np.int64)
    if count is not None and vals.size != count:
        raise ValueError(
            f"{codec} stream held {vals.size} values, expected {count}")
    return vals + (base + 1) if relative else np.cumsum(vals + 1) + base


def encode_blocks(codec: str, docs: np.ndarray, gaps: np.ndarray,
                  starts: np.ndarray, ends: np.ndarray, prev: np.ndarray
                  ) -> tuple[bytes, np.ndarray]:
    """Encode every block docs[starts[i]:ends[i]] relative to prev[i]
    (exclusive) -> (stream, per-block byte lengths).

    The blocks tile `docs`, and gaps[j] = docs[j] - (docs[j-1], or
    prev[i] at a block start) - 1. The stream is byte-identical to
    joining encode_gap_stream(docs[s:e], p, codec) over the blocks."""
    if codec == "varint":
        stream, lens = varint_encode_with_lengths(gaps)
        return stream, np.add.reduceat(lens, starts)
    if codec == "ef":
        return ef_encode_blocks(docs, starts, ends, prev)
    if codec == "bp128":
        return bp_encode_blocks(gaps, starts, ends)
    chunks = [encode_gap_stream(docs[s:e], p, codec)
              for s, e, p in zip(starts.tolist(), ends.tolist(),
                                 prev.tolist())]
    return b"".join(chunks), np.array([len(c) for c in chunks],
                                      dtype=np.int64)


def decode_blocks(codec: str, buf: bytes, block_offs, base: int,
                  n: int) -> np.ndarray:
    """Decode one posting row's docIDs: the encode_blocks chunks of `buf`
    starting at byte offsets block_offs, the first relative to `base`.
    A row that does not hold exactly `n` docs raises ValueError."""
    if codec == "varint":
        return decode_gap_stream(buf, base, codec, n)
    offs = [int(o) for o in block_offs] + [len(buf)]
    parts, prev = [], base
    for s, e in zip(offs[:-1], offs[1:]):
        d = decode_gap_stream(buf[s:e], prev, codec)
        prev = int(d[-1])
        parts.append(d)
    docs = np.concatenate(parts) if parts else np.zeros(0, dtype=np.int64)
    if docs.size != n:
        raise ValueError(f"{codec} row held {docs.size} docs, expected {n}")
    return docs


def decode_many(codec: str, data: np.ndarray, row_offs: np.ndarray,
                block_offs: tuple[np.ndarray, np.ndarray], bases: np.ndarray,
                n: np.ndarray) -> np.ndarray:
    """decode_blocks over many posting rows held in one buffer: row i is
    data[row_offs[i]:row_offs[i+1]] (uint8), with base bases[i], n[i]
    docs, and block byte offsets block_offs[0][block_offs[1][i]:
    block_offs[1][i+1]] (values, per-row offsets). Returns every row's
    docIDs concatenated. varint rows decode in one vectorized pass plus a
    cumulative sum restarted at each row's base; other codecs decode row
    by row. A row that does not hold exactly n[i] docs raises ValueError."""
    n = np.asarray(n, dtype=np.int64)
    bases = np.asarray(bases, dtype=np.int64)
    if codec == "varint":
        c = np.cumsum(varint_decode_rows(data, row_offs, n).astype(np.int64)
                      + 1)
        before = np.concatenate(([0], c))[np.cumsum(n) - n]
        return c + np.repeat(bases - before, n)
    values, offs = block_offs
    docs = [decode_blocks(codec, data[s:e].tobytes(), values[o0:o1], b, k)
            for s, e, o0, o1, b, k in zip(
                row_offs[:-1].tolist(), row_offs[1:].tolist(),
                offs[:-1].tolist(), offs[1:].tolist(), bases.tolist(),
                n.tolist())]
    return np.concatenate(docs) if docs else np.zeros(0, dtype=np.int64)


def join_rows(bufs) -> tuple[np.ndarray, np.ndarray]:
    """(data, row_offs) of byte strings joined into one buffer, the form
    decode_many and decode_tfs_many read."""
    bufs = list(bufs)
    offs = np.zeros(len(bufs) + 1, dtype=np.int64)
    np.cumsum([len(b) for b in bufs], out=offs[1:])
    return np.frombuffer(b"".join(bufs), dtype=np.uint8), offs


def encode_tfs(tfs: np.ndarray) -> bytes:
    return varint_encode((np.asarray(tfs, dtype=np.uint64) - np.uint64(1)))


def decode_tfs(buf: bytes, count: int | None = None) -> np.ndarray:
    return varint_decode(buf, count).astype(np.int64) + 1


def decode_tfs_many(data: np.ndarray, row_offs: np.ndarray,
                    n: np.ndarray) -> np.ndarray:
    """decode_tfs over many rows held in one buffer (see decode_many)."""
    return varint_decode_rows(data, row_offs, n).astype(np.int64) + 1
