"""Tests of the benchmark's own logic. No Spark: run with

    python3 -m pytest perfbench/tests -q
"""

import json
import os
import sys

import numpy as np
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import stats  # noqa: E402


# ----------------------------------------------------------- percentiles

def test_percentile_is_nearest_rank_with_its_sample_count():
    xs = list(range(100, 0, -1))  # 1..100, unsorted
    assert stats.percentile(xs, 50) == (50.0, 100)
    assert stats.percentile(xs, 99) == (99.0, 100)
    assert stats.percentile(xs, 100) == (100.0, 100)
    assert stats.percentile([7.5], 99) == (7.5, 1)
    with pytest.raises(ValueError):
        stats.percentile([], 50)


def test_tail_percentile_keeps_ten_samples_beyond_it():
    assert stats.tail_percentile(1000) == 99.0
    assert stats.tail_percentile(999) == 95.0
    assert stats.tail_percentile(400) == 95.0
    assert stats.tail_percentile(100) == 90.0
    assert stats.tail_percentile(20) == 50.0
    assert stats.tail_percentile(19) is None
    for n in (20, 57, 400, 1000, 5000):
        q = stats.tail_percentile(n)
        assert n * (100 - q) / 100 >= stats.TAIL_MIN_BEYOND


# ------------------------------------------------------ seed determinism

def test_same_seed_same_inputs_other_seed_other_queries():
    assert stats.queries(7) == stats.queries(7)
    assert len(stats.queries(7)) == stats.N_QUERIES
    assert stats.queries(7) != stats.queries(8)
    a, b = stats.corpus_pandas(7, 30), stats.corpus_pandas(7, 30)
    assert a.equals(b)
    assert list(stats.corpus_pandas(8, 30)["text"]) != list(a["text"])


def test_written_corpus_holds_the_generated_rows(tmp_path):
    import pyarrow.parquet as pq

    from perfbench.workloads import write_corpus

    path = write_corpus(str(tmp_path), 5, "c", 50, parts=4)
    files = sorted(os.listdir(path))
    assert len(files) == 4
    got = pq.read_table(path).to_pandas()
    want = stats.corpus_pandas(5, 50)
    assert list(got["url"]) == list(want["url"])
    assert list(got["html"]) == list(want["html"])
    assert list(got["text"]) == list(want["text"])


# ------------------------------------------------- oracle comparison

def _rows(spec):
    return [{"qid": q, "rank": r, "doc_id": d, "score": s}
            for q, r, d, s in spec]


ORACLE = _rows([("Q1", 1, 40, 3.25), ("Q1", 2, 7, 2.5), ("Q1", 3, 9, 2.5),
                ("Q2", 1, 3, 1.0)])


def test_identical_answers_pass():
    want = stats.ranked_rows(ORACLE)
    got = stats.ranked_rows(list(reversed(ORACLE)))
    assert stats.mismatched_queries(got, want, ["Q1", "Q2", "Q3"]) == []


def test_changed_score_is_caught():
    want = stats.ranked_rows(ORACLE)
    bumped = [dict(r) for r in ORACLE]
    # one float32 ulp on one row
    bumped[1]["score"] = float(np.nextafter(np.float32(2.5), np.float32(9)))
    got = stats.ranked_rows(bumped)
    assert stats.mismatched_queries(got, want, ["Q1", "Q2"]) == ["Q1"]


def test_swapped_tie_and_missing_rows_are_caught():
    want = stats.ranked_rows(ORACLE)
    swapped = _rows([("Q1", 1, 40, 3.25), ("Q1", 2, 9, 2.5),
                     ("Q1", 3, 7, 2.5), ("Q2", 1, 3, 1.0)])
    assert stats.mismatched_queries(stats.ranked_rows(swapped), want,
                                    ["Q1", "Q2"]) == ["Q1"]
    assert stats.mismatched_queries(stats.ranked_rows(ORACLE[:3]), want,
                                    ["Q1", "Q2"]) == ["Q2"]


# ------------------------------------------------------------ contract

def test_benchmark_json_names_match_the_code():
    from perfbench import layers, run, workloads

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {w["name"] for w in bench["workloads"]} <= set(workloads.WORKLOADS)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.E2E
    assert {m["name"]: (m["unit"], m["better"])
            for m in bench["per_layer"]} == layers.METRICS
    setup = next(m for m in bench["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in bench["end_to_end"])
