"""Tools layer (count_postings / thresholds / kth_threshold / intersection /
taily / samples), the plain-WAND executor, the Porter2 stemmer, and the
TREC-style qrels evaluation harness.

Reference surfaces: tools/*.cpp utilities, wand_query.hpp, the snowball
english algorithm (src/token_filter.cpp:16-27), and the trec_eval regression
harness (test/docker/benchmark/evaluate.sh)."""

import math

import pytest

from pisa_spark import tools
from pisa_spark.config import IndexConfig
from pisa_spark.evaluate import evaluate_run, parse_qrels, summarize
from pisa_spark.functions.stemmer import porter2
from pisa_spark.operators.topk import topk_search
from pisa_spark.plans.build import build_index, extract_pages
from pisa_spark.sources import webtext

N_DOCS = 250
K = 10


@pytest.fixture(scope="module")
def index(spark):
    cfg = IndexConfig(shard_span=64)
    pages = spark.createDataFrame(webtext.generate_pandas(N_DOCS, seed=13))
    return build_index(extract_pages(pages, cfg), cfg)


@pytest.fixture(scope="module")
def queries():
    return webtext.synth_queries(12, seed=29)


# ------------------------------------------------------------------- stemmer

def test_porter2_known_vectors():
    # snowball english semantics (porter2), incl. porter2-specific outputs
    cases = {
        "caresses": "caress", "flies": "fli", "ties": "tie", "dies": "die",
        "running": "run", "hopping": "hop", "hoping": "hope",
        "agreed": "agre", "troubled": "troubl",           # porter2 != porter1
        "happy": "happi", "sky": "sky", "dying": "die", "news": "news",
        "generalization": "general", "national": "nation",
        "quickly": "quick", "goodness": "good", "argument": "argument",
        "consignment": "consign", "adoption": "adopt", "cement": "cement",
        "controlling": "control", "skies": "sky", "early": "earli",
        "a": "a", "be": "be",
    }
    for w, want in cases.items():
        assert porter2(w) == want, f"{w}: {porter2(w)} != {want}"


def test_stem_queries_roundtrip():
    out = tools.stem_queries(["Q1:running dogs quickly", "flies"])
    assert out[0] == "Q1:run dog quick"
    assert out[1] == "1:fli"


def test_analyzer_with_stemmer():
    from pisa_spark.functions.tokenize import make_analyzer

    analyze = make_analyzer(IndexConfig(stemmer="porter2"))
    assert analyze("Running HAPPILY") == ["run", "happili"]


def test_krovetz_known_vectors():
    """Krovetz inflectional semantics (ref src/token_filter.cpp:29-39):
    unlike Porter2 it only removes plural/-ed/-ing inflection and returns
    real words ("cities"->"city", not "citi"); derivational suffixes
    (-ness, -ization, -ly) are kept."""
    from pisa_spark.functions.kstem import KrovetzStemmer, kstem_words

    cases = {
        # plural with y/e repair; Porter2 would give "citi"/"fli"
        "cities": "city", "flies": "fly", "boxes": "box",
        "churches": "church", "houses": "house", "dogs": "dog",
        "classes": "class", "queries": "query",
        # past tense: undoubling, e-restoration, plain drop
        "dropped": "drop", "hoped": "hope", "opened": "open",
        "tried": "try", "updated": "update", "normalized": "normalize",
        # aspect
        "running": "run", "hoping": "hope", "opening": "open",
        "falling": "fall", "tokenizing": "tokenize",
        # irregulars via direct conflation
        "children": "child", "feet": "foot", "took": "take", "said": "say",
        # invariants and derivational endings left alone (vs porter2)
        "news": "news", "ring": "ring", "goodness": "goodness",
        "quickly": "quickly", "generalization": "generalization",
        "glass": "glass", "bus": "bus",
    }
    for w, want in cases.items():
        got = kstem_words([w])[0]
        assert got == want, f"{w}: {got} != {want}"
    # dictionary probes override the heuristics, as in KStem proper
    st = KrovetzStemmer({"tie", "die"})
    assert st.stem("ties") == "tie" and st.stem("died") == "die"


def test_analyzer_with_krovetz(spark):
    from pisa_spark.functions.tokenize import make_analyzer, tokens_batch
    import pandas as pd

    analyze = make_analyzer(IndexConfig(stemmer="krovetz"))
    assert analyze("Running dogs opened boxes") == \
        ["run", "dog", "open", "box"]
    out = tokens_batch(pd.Series(["cities tried"]),
                       IndexConfig(stemmer="krovetz"))
    assert list(out[0]) == ["city", "try"]


# --------------------------------------------------------------------- tools

def test_count_postings_matches_lexicon_df(index, queries):
    rows = tools.count_postings(index, queries[:4]).collect()
    assert rows, "queries must hit indexed terms"
    lex = {r["term"]: r["df"] for r in index.lexicon.collect()}
    from pisa_spark.functions.tokenize import analyze_query_terms

    for row in rows:
        qid = row["qid"]
        want = sum(lex.get(t, 0) for q, t, _ in
                   analyze_query_terms(queries[:4], index.cfg) if q == qid)
        assert row["n_postings"] == want


def test_thresholds_equal_kth_score(index, queries):
    res = topk_search(index, queries[:6], k=K, with_urls=False).collect()
    kth = {}
    for r in res:
        if r["rank"] == K:
            kth[r["qid"]] = r["score"]
    thr = {r["qid"]: r["threshold"]
           for r in tools.thresholds(index, queries[:6], k=K).collect()}
    assert thr == kth


def test_kth_threshold_is_safe_seed(index, queries):
    """Seeding with the single-term kth bound must not change results
    (reference kth_threshold estimates are safe lower bounds)."""
    thr = {r["qid"]: float(r["threshold"])
           for r in tools.kth_threshold(index, queries[:6], k=K).collect()}
    base = topk_search(index, queries[:6], k=K, with_urls=False).collect()
    seeded = topk_search(index, queries[:6], k=K, with_urls=False,
                         thresholds=thr).collect()
    key = lambda rows: sorted((r.qid, r.rank, r.doc_id) for r in rows)
    assert key(base) == key(seeded)
    truth = {r["qid"]: r["score"] for r in base if r["rank"] == K}
    for qid, t in thr.items():
        if qid in truth:
            assert t <= truth[qid] + 1e-6


def test_intersection_subsets(index, queries):
    """Arbitrary-subset Intersection::compute (intersection.hpp:13-97):
    counts must be monotone non-increasing as terms are added, and subset
    max_score must not exceed the sum of member singles' max scores."""
    out = tools.intersection(index, queries[:2], max_terms=3).collect()
    by_subset = {(r["qid"], tuple(r["terms"])): r for r in out}
    sizes = {len(r["terms"]) for r in out}
    assert 1 in sizes and 2 in sizes
    for r in out:
        terms = tuple(r["terms"])
        assert list(terms) == sorted(terms)
        if len(terms) == 1:
            continue
        for drop in range(len(terms)):
            sub = terms[:drop] + terms[drop + 1:]
            parent = by_subset[(r["qid"], sub)]
            assert r["n_postings"] <= parent["n_postings"]
        single_sum = sum(
            by_subset[(r["qid"], (t,))]["max_score"] for t in terms)
        assert r["max_score"] <= single_sum + 1e-4


def test_kth_threshold_pairs_safe_and_tighter(index, queries):
    """Pair-seeded thresholds stay rank-identical and are >= the
    single-term estimate (kth_threshold.cpp:52-90 pairwise evidence)."""
    single = {r["qid"]: float(r["threshold"])
              for r in tools.kth_threshold(index, queries[:6], k=K).collect()}
    both = {r["qid"]: float(r["threshold"])
            for r in tools.kth_threshold(index, queries[:6], k=K,
                                         pairs=True).collect()}
    for qid, t in both.items():
        assert t >= single[qid] - 1e-6
    base = topk_search(index, queries[:6], k=K, with_urls=False).collect()
    seeded = topk_search(index, queries[:6], k=K, with_urls=False,
                         thresholds=both).collect()
    key = lambda rows: sorted((r.qid, r.rank, r.doc_id) for r in rows)
    assert key(base) == key(seeded)
    truth = {r["qid"]: r["score"] for r in base if r["rank"] == K}
    for qid, t in both.items():
        if qid in truth:
            assert t <= truth[qid] + 1e-6


def test_kth_threshold_triples_safe_and_tighter(index, queries):
    """Triple-seeded thresholds (kth_threshold.cpp also accepts a triples
    file) stay rank-identical and are >= the pair estimate."""
    pair = {r["qid"]: float(r["threshold"])
            for r in tools.kth_threshold(index, queries[:6], k=K,
                                         pairs=True).collect()}
    trip = {r["qid"]: float(r["threshold"])
            for r in tools.kth_threshold(index, queries[:6], k=K,
                                         triples=True).collect()}
    for qid, t in trip.items():
        assert t >= pair[qid] - 1e-6
    base = topk_search(index, queries[:6], k=K, with_urls=False).collect()
    seeded = topk_search(index, queries[:6], k=K, with_urls=False,
                         thresholds=trip).collect()
    key = lambda rows: sorted((r.qid, r.rank, r.doc_id) for r in rows)
    assert key(base) == key(seeded)
    truth = {r["qid"]: r["score"] for r in base if r["rank"] == K}
    for qid, t in trip.items():
        if qid in truth:
            assert t <= truth[qid] + 1e-6


def test_selective_queries(index, queries):
    out = tools.selective_queries(index, queries, max_ratio=2.0).collect()
    assert len(out) == len({r["qid"] for r in out})
    for r in out:
        assert 0 < r["selectivity"] <= 2.0


def test_sample_and_taily(index):
    total = index.postings.count()
    sampled = tools.sample_inverted_index(index, 0.5, seed=7).count()
    assert 0 < sampled < total
    ts = tools.taily_stats(index)
    row = ts.orderBy("term_id").first()
    assert row["any"] > 0 and row["expected_value"] > 0
    assert row["variance"] >= 0


def test_map_queries_drops_unknown(index):
    out = {r["qid"]: r["term_ids"]
           for r in tools.map_queries(
               index, ["Q1:term0001 zzzunknownterm"]).collect()}
    assert len(out["Q1"]) == 1  # unknown term dropped


# ----------------------------------------------------------------- plain wand

def test_wand_rank_identity(index, queries):
    oracle = topk_search(index, queries, k=K, algorithm="ranked_or",
                         with_urls=False).collect()
    wand = topk_search(index, queries, k=K, algorithm="wand",
                       with_urls=False).collect()
    taat = topk_search(index, queries, k=K, algorithm="ranked_or_taat",
                       with_urls=False).collect()
    key = lambda rows: sorted(
        (r.qid, r.rank, r.doc_id, round(float(r.score), 6)) for r in rows)
    assert key(oracle) == key(wand)
    assert key(oracle) == key(taat)


# ------------------------------------------------------------------ trec eval

def test_evaluate_run_known_values(spark):
    # 1 query, k=5: ranks 1,3 relevant out of 3 relevant total
    results = spark.createDataFrame(
        [("q1", "d1", 1), ("q1", "d2", 2), ("q1", "d3", 3),
         ("q1", "d4", 4), ("q1", "d5", 5)],
        "qid string, url string, rank long")
    qrels = parse_qrels(spark, [
        "q1 0 d1 1", "q1 0 d3 1", "q1 0 d9 1", "q1 0 d4 0"])
    m = evaluate_run(results, qrels, k=5).collect()[0]
    # AP = (1/1 + 2/3) / 3
    assert abs(m["ap"] - (1.0 + 2.0 / 3.0) / 3.0) < 1e-6
    assert abs(m["p_at_k"] - 2.0 / 5.0) < 1e-6
    assert abs(m["recall_at_k"] - 2.0 / 3.0) < 1e-6
    # DCG = 1/log2(2) + 1/log2(4); IDCG = 1/log2(2)+1/log2(3)+1/log2(4)
    dcg = 1.0 + 1.0 / 2.0
    idcg = 1.0 + 1.0 / math.log2(3.0) + 0.5
    assert abs(m["ndcg_at_k"] - dcg / idcg) < 1e-6
    s = summarize(evaluate_run(results, qrels, k=5))
    assert s["num_q"] == 1 and abs(s["map"] - m["ap"]) < 1e-3


def test_evaluate_self_run_is_perfect(spark, index, queries):
    """A run evaluated against qrels derived from itself scores 1.0."""
    res = topk_search(index, queries[:4], k=5)
    qrels_lines = [f"{r['qid']} 0 {r['url']} 1" for r in res.collect()]
    qrels = parse_qrels(spark, qrels_lines)
    s = summarize(evaluate_run(res, qrels, k=5))
    assert s["map"] == 1.0 and s["ndcg_at_k"] == 1.0


def test_profile_queries_counters(index, queries):
    """profile_queries (ref tools/profile_queries.cpp): pruned traversal
    must visit no more docs than the exhaustive one, and skip ranges only
    when pruning is possible; the exhaustive counters are exact."""
    from pisa_spark.operators.topk import profile_queries

    prof_or = profile_queries(index, queries[:6], k=K,
                              algorithm="ranked_or").toPandas()
    prof_bmw = profile_queries(index, queries[:6], k=K,
                               algorithm="block_max_wand").toPandas()
    assert (prof_or.docs_scored > 0).any()
    a = prof_or.groupby("qid").docs_scored.sum()
    b = prof_bmw.groupby("qid").docs_scored.sum()
    for qid in b.index:
        assert b[qid] <= a[qid], qid
    assert (prof_bmw.ranges >= prof_bmw.ranges_skipped).all()
    assert (prof_bmw.postings_decoded >= 0).all()
    assert (prof_bmw.blocks_decoded >= 0).all()

    # ranked_or decodes and scores everything: per (qid, shard) its
    # counters are exact sums over the query's known terms in that shard,
    # computed here straight from the posting rows
    from pisa_spark.functions.tokenize import analyze_query_terms
    from pisa_spark.operators import codecs

    assert index.cfg.codec == "varint"
    tid = {r["term"]: int(r["term_id"])
           for r in index.lexicon.select("term", "term_id").collect()}
    qterms: dict = {}
    for qid, term, _w in analyze_query_terms(queries[:6], index.cfg):
        if term in tid:
            qterms.setdefault(qid, set()).add(tid[term])
    runs: dict = {}
    for r in (index.postings.filter(index.postings.term_id.isin(
            sorted(set().union(*qterms.values()))))
            .select("term_id", "shard_id", "n", "base_doc",
                    "block_last_docs", "docs_bin").collect()):
        docs = codecs.decode_gap_stream(bytes(r["docs_bin"]), r["base_doc"],
                                        "varint", r["n"])
        runs.setdefault(int(r["shard_id"]), {})[int(r["term_id"])] = (
            int(r["n"]), len(r["block_last_docs"]), set(docs.tolist()))
    want = {}
    for qid, tids in qterms.items():
        for shard, by_term in runs.items():
            hit = [by_term[t] for t in tids if t in by_term]
            if hit:
                ns, blocks, docs = zip(*hit)
                want[(qid, shard)] = (sum(ns), sum(blocks),
                                      len(set().union(*docs)))
    got = {(r.qid, int(r.shard_id)): (int(r.postings_decoded),
                                      int(r.blocks_decoded),
                                      int(r.docs_scored))
           for r in prof_or.itertuples()}
    assert got == want


def test_kstem_base_lexicon_probes():
    """The embedded headword base resolves the dictionary-dependent
    repairs the bare heuristics cannot (KStem's layer-1 behavior)."""
    from pisa_spark.functions.kstem import BASE_LEXICON, KrovetzStemmer, kstem_words

    # inflected forms must never appear as headwords
    from pisa_spark.functions.kstem import _DIRECT
    assert not (BASE_LEXICON & set(_DIRECT))
    cases = {
        "staring": "stare", "starred": "star",     # dict settles star/stare
        "houses": "house", "sciences": "science",  # -es strip to e-form
        "buildings": "building",                   # -ing nominal headword
        "building": "building",
        "managed": "manage", "managing": "manage",
        "planned": "plan", "planning": "plan",
        "compared": "compare", "sharing": "share",
        "scheduled": "schedule", "traveled": "travel",
    }
    for w, want in cases.items():
        assert kstem_words([w])[0] == want, (w, kstem_words([w])[0], want)
    # bare machinery (use_base=False) keeps the old heuristic behavior
    bare = KrovetzStemmer(use_base=False)
    assert bare.stem("building") == "build"


def test_kstem_corpus_lexicon():
    """corpus_lexicon = vocabulary minus derivable inflections."""
    from pisa_spark.functions.kstem import corpus_lexicon

    vocab = ["run", "running", "runs", "ring", "string", "city", "cities",
             "hope", "hoping", "hoped", "glass", "glasses", "morning",
             "data", "x", "Token", "abc123"]
    lex = corpus_lexicon(vocab)
    assert {"run", "ring", "string", "city", "hope", "glass",
            "morning", "data"} <= lex
    # inflections whose stems stand alone are excluded; non-alpha /
    # cased / short forms never enter
    assert not lex & {"running", "runs", "cities", "hoping", "hoped",
                      "glasses", "x", "Token", "abc123"}
    # lexicon-aware stemming then resolves against the corpus dictionary
    from pisa_spark.functions.kstem import KrovetzStemmer
    st = KrovetzStemmer(lex, use_base=False)
    assert st.stem("hoping") == "hope" and st.stem("glasses") == "glass"


def test_kstem_lexicon_config_roundtrip():
    from pisa_spark.config import IndexConfig

    cfg = IndexConfig(stemmer="krovetz",
                      kstem_lexicon=frozenset({"zyzzyva", "qwerty"}))
    back = IndexConfig.from_json_dict(cfg.to_json_dict())
    assert back == cfg and isinstance(back.kstem_lexicon, frozenset)
    assert IndexConfig.from_json_dict(IndexConfig().to_json_dict()).kstem_lexicon is None


def test_kstem_lexicon_from_index(spark, tmp_path):
    from pisa_spark.config import IndexConfig
    from pisa_spark.functions.kstem import kstem_lexicon_from_index
    from pisa_spark.plans import build as B

    docs = spark.createDataFrame(
        [("u%d" % i, "the cat cats running run jumped jump table tables")
         for i in range(8)], "url string, html string")
    cfg = IndexConfig(shard_span=64)
    idx = B.build_index(B.extract_pages(docs, cfg), cfg,
                        out_dir=str(tmp_path / "kli"), n_buckets=2)
    lex = kstem_lexicon_from_index(idx)
    assert {"cat", "run", "jump", "table"} <= lex
    assert not lex & {"cats", "tables", "running", "jumped"}
