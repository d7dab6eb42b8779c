"""Scorers: numpy float32 kernels matching the reference formulas exactly.

Every scorer has the two-part contract of the reference's bm25
(include/pisa/scorer/bm25.hpp:24-35), and this is the only module that
knows which scorer it is. A posting's float32 score for a query term of
weight w is

    F32(query_term_weight(df, N) * w) * doc_term_weight(f, dl, df, cf, stats)

- query_term_weight: the float32 bm25 idf; 1 for every other scorer.
- doc_term_weight: the bm25 doc part; the full score for qld/pl2/dph; the
  stored value for a quantized index. Block-max metadata stores its
  per-block max, which the executors scale like the postings.
- needs_term_stats: doc_term_weight reads df/cf (qld/pl2/dph), so the
  encode joins them in.

The formulas keep the reference's float32 expression order, so pruned
executors produce score-identical output:

- bm25 (bm25.hpp:24-44):
    idf  = max(1e-6, ln((N - df + 0.5)/(df + 0.5))) * (1 + k1)
    part = f / (f + k1 * (1 - b + b * (dl/avgdl)))
    score = idf * part            [k1=0.9, b=0.4 defaults, scorer.hpp:14-22]
- qld  (scorer/qld.hpp:25-42): max(0, ln(mu/(dl+mu)) + log1p(f * C/(mu*cf_t)))
- pl2  (scorer/pl2.hpp:25-40): DFR PL2, c parameter
- dph  (scorer/dph.hpp:21-36): parameter-free DFR

df/cf may be scalars (one term) or per-posting arrays (mixed terms). All
arithmetic is elementwise numpy float32 (no float64 temporaries), so both
give the same bits as the reference's `float` math.
"""

from __future__ import annotations

import numpy as np

F32 = np.float32
_EPS = F32(1e-6)


class Scorer:
    """The two-part contract of the module docstring. A subclass defines
    doc_term_weight, and query_term_weight when it is not 1."""

    needs_term_stats = True

    def query_term_weight(self, df, num_docs) -> np.ndarray:
        return np.ones(np.shape(df), dtype=F32)

    def doc_term_weight(self, freq, doc_len, df, cf, stats) -> np.ndarray:
        raise NotImplementedError

    def score(self, freq, doc_len, *, df=None, num_docs=None, avg_len=None,
              collection_len=None, cf=None) -> np.ndarray:
        """The score at weight 1: query_term_weight * doc_term_weight."""
        stats = {"num_docs": num_docs, "avg_len": avg_len,
                 "collection_len": collection_len}
        return (self.query_term_weight(df, num_docs)
                * self.doc_term_weight(freq, doc_len, df, cf, stats))


class Bm25(Scorer):
    needs_term_stats = False

    def __init__(self, k1: float = 0.9, b: float = 0.4):
        self.k1 = F32(k1)
        self.b = F32(b)

    def query_term_weight(self, df, num_docs) -> np.ndarray:
        """bm25.hpp:30-35 (vectorized over terms)."""
        fdf = np.asarray(df, dtype=F32)
        n = F32(num_docs)
        idf = np.log((n - fdf + F32(0.5)) / (fdf + F32(0.5)), dtype=F32)
        return np.maximum(_EPS, idf) * (F32(1.0) + self.k1)

    idf = query_term_weight  # the reference's name, kept by the tests

    def doc_term_weight(self, freq, doc_len, df, cf, stats) -> np.ndarray:
        return self.doc_part(freq, doc_len, stats["avg_len"])

    def doc_part(self, freq, doc_len, avg_len) -> np.ndarray:
        """bm25.hpp:24-27; norm_len = dl/avgdl (wand_data.hpp:117)."""
        f = np.asarray(freq, dtype=F32)
        norm_len = np.asarray(doc_len, dtype=F32) / F32(avg_len)
        return f / (f + self.k1 * (F32(1.0) - self.b + self.b * norm_len))


class Qld(Scorer):
    def __init__(self, mu: float = 1000.0):
        self.mu = F32(mu)

    def doc_term_weight(self, freq, doc_len, df, cf, stats) -> np.ndarray:
        mu = self.mu
        term_component = (F32(stats["collection_len"])
                          / (mu * np.asarray(cf, dtype=F32)))
        dl = np.asarray(doc_len, dtype=F32)
        f = np.asarray(freq, dtype=F32)
        a = np.log(mu / (dl + mu), dtype=F32)
        b = np.log1p(f * term_component, dtype=F32)
        return np.maximum(F32(0.0), a + b)


class Pl2(Scorer):
    def __init__(self, c: float = 1.0):
        self.c = F32(c)

    def doc_term_weight(self, freq, doc_len, df, cf, stats) -> np.ndarray:
        f32 = F32
        freq = np.asarray(freq, dtype=f32)
        dl = np.asarray(doc_len, dtype=f32)
        tfn = freq * np.log2(f32(1.0) + (self.c * f32(stats["avg_len"])) / dl,
                             dtype=f32)
        norm = f32(1.0) / (tfn + f32(1.0))
        f = ((f32(1.0) * np.asarray(cf, dtype=f32))
             / (f32(1.0) * f32(stats["num_docs"])))
        e = np.log(f32(1.0) / f32(2.0), dtype=f32)
        two_pi = f32(2.0) * f32(np.pi)
        return norm * (
            tfn * np.log2(f32(1.0) / f, dtype=f32)
            + f * e
            + f32(0.5) * np.log2(two_pi * tfn, dtype=f32)
            + tfn * (np.log2(tfn, dtype=f32) - e)
        )


class Dph(Scorer):
    def doc_term_weight(self, freq, doc_len, df, cf, stats) -> np.ndarray:
        f32 = F32
        freq = np.asarray(freq, dtype=f32)
        dl = np.asarray(doc_len, dtype=f32)
        f = freq / dl
        norm = (f32(1.0) - f) * (f32(1.0) - f) / (freq + f32(1.0))
        two_pi = f32(2.0) * f32(np.pi)
        return norm * (
            freq * np.log2(
                (freq * f32(stats["avg_len"]) / dl)
                * (f32(stats["num_docs"]) / np.asarray(cf, dtype=f32)),
                dtype=f32
            )
            + f32(0.5) * np.log2(two_pi * freq * (f32(1.0) - f), dtype=f32)
        )


class Quantized(Scorer):
    """Identity scorer: the stored 'frequency' IS the pre-quantized score
    (reference scorer/quantized.hpp:141-143)."""

    needs_term_stats = False

    def doc_term_weight(self, freq, doc_len, df, cf, stats) -> np.ndarray:
        return np.asarray(freq, dtype=F32)


def make_scorer(name: str, params: dict[str, float] | None = None):
    """Dispatch by name (reference scorer.hpp:24-48)."""
    params = params or {}
    if name == "quantized":
        return Quantized()
    if name == "bm25":
        return Bm25(params.get("k1", 0.9), params.get("b", 0.4))
    if name == "qld":
        return Qld(params.get("mu", 1000.0))
    if name == "pl2":
        return Pl2(params.get("c", 1.0))
    if name == "dph":
        return Dph()
    raise ValueError(f"unknown scorer: {name!r}")


class LinearQuantizer:
    """value -> floor(v/max * (2^bits - 2)) + 1, range [1, 2^bits)
    (reference src/linear_quantizer.cpp:22-40)."""

    def __init__(self, max_value: float, bits: int):
        if not 2 <= bits <= 32:
            raise ValueError("bits must be in [2, 32]")
        if max_value <= 0:
            raise ValueError("max_value must be positive")
        self.max_value = F32(max_value)
        self.range = np.float64(2 ** bits - 2)

    def __call__(self, values) -> np.ndarray:
        v = np.asarray(values, dtype=F32)
        scaled = (v.astype(np.float64) / np.float64(self.max_value)) * self.range
        return (np.floor(scaled).astype(np.uint32) + 1)
