"""The scorer contract (functions/scoring.py), Spark-free: every scorer's
score is F32(query_term_weight * w) * doc_term_weight. The group-wide
contributions built on it are pinned against per-row, per-key scoring in
test_kernel_helpers."""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from pisa_spark.functions.scoring import F32, make_scorer

SCORERS = ("bm25", "qld", "pl2", "dph", "quantized")


def _bits(a) -> np.ndarray:
    return np.asarray(a, dtype=F32).view(np.int32)


@settings(max_examples=40, deadline=None)
@given(seed=st.integers(0, 2**31 - 1), name=st.sampled_from(SCORERS))
def test_score_is_query_weight_times_doc_weight(seed, name):
    """On random postings of random terms, score() is the product of the
    two factors at weight 1, bit for bit, and a term scored alone gets
    the bits it gets inside a mixed array."""
    rng = np.random.default_rng(seed)
    n, num_docs = int(rng.integers(1, 500)), int(rng.integers(10, 10**6))
    scorer = make_scorer(name)
    freq = rng.integers(1, 60, size=n).astype(F32)
    doc_len = freq + rng.integers(1, 3000, size=n).astype(F32)
    df = rng.integers(1, num_docs + 1, size=n)
    cf = df + rng.integers(0, 10**4, size=n)
    stats = {"num_docs": num_docs, "avg_len": F32(rng.uniform(5, 900)),
             "collection_len": int(cf.max()) + int(rng.integers(0, 10**7))}
    qtw = scorer.query_term_weight(df, num_docs)
    dtw = scorer.doc_term_weight(freq, doc_len, df, cf, stats)
    assert qtw.dtype == dtw.dtype == np.dtype(F32)
    got = scorer.score(freq, doc_len, df=df, cf=cf, **stats)
    assert (_bits(got) == _bits(qtw * F32(1.0) * dtw)).all()
    # one term alone (scalar df/cf) scores as it does inside a mixed array
    i = int(rng.integers(0, n))
    alone = scorer.score(freq[i:i + 1], doc_len[i:i + 1], df=int(df[i]),
                         cf=int(cf[i]), **stats)
    assert _bits(alone)[0] == _bits(got)[i]
    if name != "bm25":
        assert (qtw == F32(1.0)).all()

