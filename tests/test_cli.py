"""CLI surface (`python -m pisa_spark <tool>`): the reference's tool
names drive the engine end-to-end. Runs main(argv) in-process; get_spark
reuses the test session."""

import json

import pytest

from pisa_spark.__main__ import main


@pytest.fixture(scope="module")
def corpus_jsonl(spark, tmp_path_factory):
    path = tmp_path_factory.mktemp("cli") / "corpus.jsonl"
    import random

    rng = random.Random(5)
    words = ["spark", "index", "query", "ranking", "posting", "shard",
             "engine", "web", "page", "search", "text", "score"]
    with open(path, "w") as f:
        for i in range(120):
            f.write(json.dumps({
                "title": f"doc{i:04d}",
                "content": " ".join(rng.choices(words, k=30)),
                "url": f"https://ex.com/{i:04d}"}) + "\n")
    return str(path)


@pytest.fixture(scope="module")
def queries_file(tmp_path_factory):
    path = tmp_path_factory.mktemp("cli") / "queries.txt"
    path.write_text("q0:spark index\nq1:query ranking engine\n")
    return str(path)


@pytest.fixture(scope="module")
def index_dir(spark, corpus_jsonl, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("cli") / "idx")
    main(["parse_collection", "-i", corpus_jsonl, "-f", "jsonl",
          "-o", out, "-e", "ef", "--stemmer", "porter2"])
    return out


def test_staged_build_resumes(capsys, corpus_jsonl, index_dir):
    """invert/compress/create_wand_data are checkpoints of the same plan:
    after parse_collection they complete from the manifest."""
    main(["invert", "-i", corpus_jsonl, "-f", "jsonl", "-o", index_dir,
          "-e", "ef", "--stemmer", "porter2"])
    main(["create_wand_data", "-i", corpus_jsonl, "-f", "jsonl",
          "-o", index_dir, "-e", "ef", "--stemmer", "porter2"])
    lines = [ln for ln in capsys.readouterr().out.splitlines()
             if ln.startswith("{")]
    stages = [json.loads(ln)["stage"] for ln in lines]
    assert any("invert" in s for s in stages)
    assert any("wand" in s for s in stages)


def test_saved_config_restored(spark, index_dir):
    """load_index with cfg=None restores the BUILT config (ef codec,
    porter2 stemmer) from the manifest — no flags re-stated."""
    from pisa_spark.plans.build import load_index

    idx = load_index(spark, index_dir)
    assert idx.cfg.codec == "ef"
    assert idx.cfg.stemmer == "porter2"


def test_saved_config_with_retired_field_loads():
    """A config saved while it still had the retired heavy_df_ratio field
    loads: from_json_dict drops keys the dataclass no longer has."""
    from pisa_spark.config import IndexConfig

    saved = IndexConfig(codec="ef").to_json_dict()
    saved["heavy_df_ratio"] = 0.25
    cfg = IndexConfig.from_json_dict(saved)
    assert cfg == IndexConfig(codec="ef")
    assert not hasattr(cfg, "heavy_df_ratio")


def test_evaluate_queries_trec_lines(capsys, index_dir, queries_file):
    main(["evaluate_queries", "-i", index_dir, "-q", queries_file, "-k", "5"])
    lines = [ln for ln in capsys.readouterr().out.splitlines() if ln]
    assert len(lines) == 10  # 2 queries x k
    parts = lines[0].split()
    assert (parts[1] == "Q0" and parts[2].startswith("https://")
            and parts[3] == "1" and parts[5] == "pisa_spark")


def test_lexicon_lookup(capsys, index_dir):
    main(["lexicon", "lookup", "spark", "-i", index_dir])
    out = capsys.readouterr().out.splitlines()
    assert out[0].startswith("term\t") and out[1].startswith("spark\t")


def test_count_postings_and_stem_queries(capsys, index_dir, queries_file):
    main(["count_postings", "-i", index_dir, "-q", queries_file])
    out = capsys.readouterr().out.splitlines()
    assert out[0].split("\t")[0] == "qid" and len(out) == 3
    main(["stem_queries", "-q", queries_file, "--stemmer", "porter2"])
    out = capsys.readouterr().out.splitlines()
    assert out[0] == "q0:spark index"      # porter2 fixpoints
    assert out[1] == "q1:queri rank engin"


def test_lookup_table_requires_file():
    with pytest.raises(SystemExit):
        main(["lookup_table"])


def test_unknown_encoding_rejected(tmp_path):
    """Both --encoding flags take only a name in codecs.CODECS, so a typo
    fails in argument parsing, before any Spark session or job."""
    with pytest.raises(SystemExit):
        main(["parse_collection", "-i", str(tmp_path / "c.jsonl"),
              "-o", str(tmp_path / "idx"), "-e", "nope"])
    with pytest.raises(SystemExit):
        main(["queries", "-i", str(tmp_path / "idx"),
              "-q", str(tmp_path / "q.txt"), "--encoding", "nope"])


def test_lexicon_lookup_table_interop(capsys, corpus_jsonl, index_dir,
                                      tmp_path):
    """lexicon build --export writes the v1 binary lookup table; lookup /
    rlookup / print / build then operate directly on that file with no
    Spark session (the reference's mmap access mode)."""
    table = str(tmp_path / "lex.lt")
    main(["lexicon", "build", "-i", index_dir, "--export", table])
    built = json.loads(capsys.readouterr().out.splitlines()[-1])
    assert built["lookup_table"]["terms"] == built["terms"]

    main(["lexicon", "lookup", "spark", "--table", table])
    looked = json.loads(capsys.readouterr().out)
    main(["lexicon", "rlookup", str(looked["term_id"]), "--table", table])
    assert json.loads(capsys.readouterr().out)["term"] == "spark"
    main(["lexicon", "build", "--table", table])
    info = json.loads(capsys.readouterr().out)
    assert info == {"terms": built["terms"], "sorted": True}

    main(["lookup_table", table])  # inspector tool
    meta = json.loads(capsys.readouterr().out)
    assert meta["terms"] == built["terms"] and meta["sorted"]
    assert not meta["wide_offsets"]


def test_kstem_lexicon_flag(capsys, corpus_jsonl, tmp_path):
    """--kstem-lexicon FILE loads a headword file into the analyzer chain
    and persists it with the built config (manifest round-trip)."""
    lexfile = tmp_path / "headwords.txt"
    lexfile.write_text("sparking\n# comment line\n\nIndexing\n")
    out = str(tmp_path / "idx")
    main(["parse_collection", "-i", corpus_jsonl, "-f", "jsonl", "-o", out,
          "--stemmer", "krovetz", "--kstem-lexicon", str(lexfile)])
    from pisa_spark.config import IndexConfig
    from pisa_spark.plans.build import BuildManifest

    saved = BuildManifest(out).state["metrics"]["index_config"]
    cfg = IndexConfig.from_json_dict(saved)
    assert cfg.stemmer == "krovetz"
    assert cfg.kstem_lexicon == frozenset({"sparking", "indexing"})
