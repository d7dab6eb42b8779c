"""pisa-spark command-line surface: the reference engine's tool names
mapped onto the Spark engine (`python -m pisa_spark <tool> ...`).

Every tool of the reference's CLI suite (ref tools/*.cpp) has a
same-named subcommand here, so a user driving the reference from shell
scripts can switch by swapping the binary prefix. One deliberate
difference of shape, stated up front: the reference pipeline is four
separate programs writing four binary artifact families
(parse_collection -> invert -> compress_inverted_index ->
create_wand_data); here those are CHECKPOINTS OF ONE DECLARATIVE BUILD
PLAN (plans/build.py + BuildManifest). Each stage subcommand ensures
the shared manifest under -o/--output has reached its stage and reports
that stage's artifacts — re-running a later stage resumes, never
rebuilds. That is the Spark-first re-expression, not a limitation: the
lexicon, postings and block-max metadata land as parquet tables any
Spark job can read directly.

Query-side tools read the manifest with plans.build.load_index and run
the same operators the library exposes (operators/topk.py, tools.py).
"""

from __future__ import annotations

import argparse
import json
import statistics
import sys
import time

from pisa_spark.operators.codecs import CODECS


# --------------------------------------------------------------- helpers

def _spark(args):
    from pisa_spark.session import get_spark

    return get_spark(app_name=f"pisa-spark-{args.tool}",
                     cores=getattr(args, "cores", None))


def _cfg(args):
    from pisa_spark.config import IndexConfig

    kw = {}
    if getattr(args, "stemmer", None):
        kw["stemmer"] = None if args.stemmer == "none" else args.stemmer
    if getattr(args, "kstem_lexicon", None):
        kw["kstem_lexicon"] = _read_kstem_lexicon(args.kstem_lexicon)
    if getattr(args, "tokenizer", None):
        kw["tokenizer"] = args.tokenizer
    if getattr(args, "encoding", None):
        kw["codec"] = args.encoding
    if getattr(args, "block_size", None):
        kw["block_size"] = args.block_size
    if getattr(args, "scorer", None):
        kw["scorer"] = args.scorer
    if getattr(args, "quantize", None):
        kw["quantize_bits"] = args.quantize
    if getattr(args, "variable_block", False):
        kw["block_partition"] = "variable"
    return IndexConfig(**kw)


def _read_kstem_lexicon(path: str) -> frozenset[str]:
    """Load a KStem headword file (the reference library's dictionary
    format: one lowercase word per line; blank lines and # comments ok)."""
    with open(path) as fh:
        return frozenset(w for w in (line.strip().lower() for line in fh)
                         if w and w.isalpha())


def _read_corpus(spark, args):
    from pisa_spark.sources import readers

    fmt = args.format
    if fmt == "parquet":
        df = spark.read.parquet(args.input)
        return df, ("html" if "html" in df.columns else "text")
    reader = {"plaintext": readers.read_plaintext,
              "jsonl": readers.read_jsonl,
              "trectext": readers.read_trectext,
              "trecweb": readers.read_trecweb,
              "warc": readers.read_warc,
              "wapo": readers.read_wapo}[fmt]
    df = reader(spark, args.input)
    # record readers keep raw payloads; WARC/trecweb bodies are HTML
    return df, ("html" if "html" in df.columns else "text")


def _ensure_index(spark, args):
    """Run (or resume) the declarative build plan under args.output."""
    from pisa_spark.plans.build import build_index

    df, payload = _read_corpus(spark, args)
    return build_index(df, _cfg(args), out_dir=args.output,
                       html_col=payload if payload == "html" else None,
                       text_col=payload if payload != "html" else "text",
                       eager=True)


def _load_index(spark, args):
    """Load with the BUILT config (persisted in the manifest); explicit
    analyzer/codec/scorer flags override individual fields on top of it."""
    import dataclasses

    from pisa_spark.config import IndexConfig
    from pisa_spark.plans.build import BuildManifest, load_index

    saved = BuildManifest(args.index).state.get(
        "metrics", {}).get("index_config")
    cfg = IndexConfig.from_json_dict(saved) if saved else None
    over = {}
    if getattr(args, "stemmer", None):
        over["stemmer"] = None if args.stemmer == "none" else args.stemmer
    if getattr(args, "kstem_lexicon", None):
        over["kstem_lexicon"] = _read_kstem_lexicon(args.kstem_lexicon)
    if getattr(args, "tokenizer", None):
        over["tokenizer"] = args.tokenizer
    if getattr(args, "encoding", None):
        over["codec"] = args.encoding
    if getattr(args, "scorer", None):
        over["scorer"] = args.scorer
    if over:
        cfg = dataclasses.replace(cfg or IndexConfig(), **over)
    return load_index(spark, args.index, cfg)


def _queries(args) -> list[str]:
    from pisa_spark.sources.readers import read_queries

    return read_queries(args.queries)


def _emit(df, n: int | None = None, out: str | None = None) -> None:
    """Write a result table as parquet (-o) or TSV lines on stdout."""
    if out:
        df.write.mode("overwrite").parquet(out)
        return
    rows = df.limit(n).collect() if n else df.collect()
    cols = df.columns
    print("\t".join(cols))
    for r in rows:
        print("\t".join(str(r[c]) for c in cols))


# ----------------------------------------------------------- build stages

def cmd_parse_collection(args):
    spark = _spark(args)
    idx = _ensure_index(spark, args)
    print(json.dumps({"stage": "parse_collection (forward index)",
                      "documents": idx.stats["num_docs"],
                      "terms": idx.stats.get("num_terms"),
                      "artifacts": ["docs", "doc_terms"],
                      "output": args.output}))


def cmd_invert(args):
    spark = _spark(args)
    idx = _ensure_index(spark, args)
    print(json.dumps({"stage": "invert (postings)",
                      "posting_runs": idx.postings.count(),
                      "artifacts": ["postings"], "output": args.output}))


def cmd_compress(args):
    spark = _spark(args)
    idx = _ensure_index(spark, args)
    print(json.dumps({"stage": "compress_inverted_index",
                      "encoding": idx.cfg.codec,
                      "quantized_bits": idx.cfg.quantize_bits,
                      "artifacts": ["postings"], "output": args.output}))


def cmd_create_wand_data(args):
    spark = _spark(args)
    idx = _ensure_index(spark, args)
    n = idx.lexicon.filter("max_score is not null").count()
    print(json.dumps({"stage": "create_wand_data (block-max metadata)",
                      "terms_with_max_score": n,
                      "block_partition": idx.cfg.block_partition,
                      "artifacts": ["lexicon", "shards"],
                      "output": args.output}))


def cmd_reorder_docids(args):
    from pisa_spark.operators import reorder

    spark = _spark(args)
    idx = _load_index(spark, args)
    if args.method == "random":
        mapping = reorder.random_mapping(idx.docs, seed=args.seed)
    elif args.method == "url":
        mapping = reorder.url_mapping(idx.docs)
    elif args.method == "bp":
        mapping = reorder.bp_mapping(idx, idx.cfg, depth=args.depth)
    else:
        raise SystemExit(f"unknown --method {args.method}")
    new_idx = reorder.reorder_index(idx, mapping, idx.cfg)
    _emit(new_idx.docs.select("doc_id", "url"), out=args.output)
    print(json.dumps({"stage": f"reorder_docids ({args.method})",
                      "documents": new_idx.stats["num_docs"]}))


# ------------------------------------------------------------ query tools

def cmd_queries(args):
    """Interactive/latency tool: per-query ms + aggregate percentiles,
    the reference's reporting shape (tools/queries.cpp:169-244)."""
    from pisa_spark.operators.topk import topk_search

    spark = _spark(args)
    idx = _load_index(spark, args)
    qs = _queries(args)
    if not qs:
        raise SystemExit("query file is empty")
    for q in qs:  # untimed warm pass (reference: first run is warmup)
        topk_search(idx, [q], k=args.k, algorithm=args.algorithm,
                    with_urls=False).collect()
    per_q = []
    for q in qs:
        times = []
        for _ in range(args.runs):
            t0 = time.time()
            topk_search(idx, [q], k=args.k, algorithm=args.algorithm,
                        with_urls=False).collect()
            times.append((time.time() - t0) * 1e3)
        per_q.append(statistics.median(times))
    s = sorted(per_q)

    def pct(p: float) -> float:
        return s[min(len(s) - 1, int(p * len(s)))]

    print(json.dumps({"algorithm": args.algorithm, "k": args.k,
                      "queries": len(qs), "runs": args.runs,
                      "mean_ms": round(sum(s) / len(s), 2),
                      "q50": round(pct(0.50), 2), "q90": round(pct(0.90), 2),
                      "q95": round(pct(0.95), 2), "q99": round(pct(0.99), 2)}))


def cmd_evaluate_queries(args):
    """TREC run output: qid Q0 url rank score runid (the reference's
    correctness surface, tools/evaluate_queries.cpp)."""
    from pisa_spark.operators.topk import topk_search_batch, trec_output

    spark = _spark(args)
    idx = _load_index(spark, args)
    res = topk_search_batch(idx, _queries(args), k=args.k,
                            algorithm=args.algorithm, with_urls=True)
    for r in trec_output(res, run_id=args.run_id).collect():
        print(r["line"])


def cmd_profile_queries(args):
    from pisa_spark.operators.topk import profile_queries

    spark = _spark(args)
    idx = _load_index(spark, args)
    _emit(profile_queries(idx, _queries(args), k=args.k,
                          algorithm=args.algorithm))


def cmd_trec_eval(args):
    from pisa_spark.evaluate import evaluate_run, parse_qrels, summarize

    spark = _spark(args)
    with open(args.run) as f:
        run_lines = [ln.split() for ln in f if ln.strip()]
    res = spark.createDataFrame(
        [(p[0], p[2], int(p[3]), float(p[4])) for p in run_lines],
        "qid string, url string, rank int, score double")
    with open(args.qrels) as f:
        qrels = parse_qrels(spark, f.read().splitlines())
    per_q = evaluate_run(res, qrels, k=args.k)
    print(json.dumps(summarize(per_q)))


# ------------------------------------------------------- inspection tools

def cmd_lexicon(args):
    if getattr(args, "table", None):  # v1 binary lookup-table interop path
        from pisa_spark.sources.lookup_table import read_lookup_table

        lt = read_lookup_table(args.table)
        if args.action == "print":
            for i in range(min(len(lt), args.limit)):
                print(json.dumps({"term_id": i, "term": lt[i].decode()}))
        elif args.action == "lookup":
            print(json.dumps({"term": args.value,
                              "term_id": lt.find(args.value.encode())}))
        elif args.action == "rlookup":
            print(json.dumps({"term_id": int(args.value),
                              "term": lt[int(args.value)].decode()}))
        else:
            print(json.dumps({"terms": len(lt), "sorted": lt.sorted}))
        return
    if not args.index:
        raise SystemExit("lexicon: -i/--index required unless --table")
    spark = _spark(args)
    index = _load_index(spark, args)
    lex = index.lexicon
    if args.action == "print":
        _emit(lex.orderBy("term_id"), n=args.limit)
    elif args.action == "lookup":
        _emit(lex.filter(lex.term == args.value))
    elif args.action == "rlookup":
        _emit(lex.filter(lex.term_id == int(args.value)))
    else:  # build — the lexicon is a build artifact already
        out = {"terms": lex.count(), "artifact": "lexicon"}
        if getattr(args, "export_table", None):
            from pisa_spark.sources.lookup_table import \
                lexicon_to_lookup_table

            out["lookup_table"] = lexicon_to_lookup_table(
                index, args.export_table)
        print(json.dumps(out))


def cmd_read_collection(args):
    from pisa_spark.operators.postings import decode_postings

    spark = _spark(args)
    idx = _load_index(spark, args)
    src = idx.postings
    if args.term is not None:
        src = src.join(idx.lexicon.filter(
            idx.lexicon.term == args.term).select("term_id"), "term_id")
    _emit(decode_postings(src, idx.cfg)
          .select("term_id", "doc_id", "tf"), n=args.limit)


def cmd_count_postings(args):
    from pisa_spark.tools import count_postings

    spark = _spark(args)
    _emit(count_postings(_load_index(spark, args), _queries(args)))


def cmd_extract_maxscores(args):
    spark = _spark(args)
    lex = _load_index(spark, args).lexicon
    _emit(lex.select("term", "term_id", "max_score").orderBy("term_id"),
          n=args.limit, out=args.output)


def cmd_compute_intersection(args):
    from pisa_spark.tools import intersection

    spark = _spark(args)
    _emit(intersection(_load_index(spark, args), _queries(args),
                       max_terms=args.max_terms))


def cmd_kth_threshold(args):
    from pisa_spark.tools import kth_threshold

    spark = _spark(args)
    _emit(kth_threshold(_load_index(spark, args), _queries(args), k=args.k,
                        pairs=args.pairs, triples=args.triples))


def cmd_thresholds(args):
    from pisa_spark.tools import thresholds

    spark = _spark(args)
    _emit(thresholds(_load_index(spark, args), _queries(args), k=args.k))


def cmd_selective_queries(args):
    from pisa_spark.tools import selective_queries

    spark = _spark(args)
    _emit(selective_queries(_load_index(spark, args), _queries(args),
                            max_ratio=args.max_ratio))


def cmd_sample_inverted_index(args):
    from pisa_spark.tools import sample_inverted_index

    spark = _spark(args)
    idx = _load_index(spark, args)
    sampled = sample_inverted_index(idx, args.fraction, seed=args.seed)
    if args.output:
        sampled.write.mode("overwrite").parquet(args.output)
    print(json.dumps({"posting_runs": sampled.count(),
                      "fraction": args.fraction}))


def cmd_map_queries(args):
    from pisa_spark.tools import map_queries

    spark = _spark(args)
    _emit(map_queries(_load_index(spark, args), _queries(args)))


def cmd_stem_queries(args):
    from pisa_spark.tools import stem_queries

    _spark(args)  # session for parity; stemming is driver-side
    for line in stem_queries(_queries(args), _cfg(args)):
        print(line)


def cmd_extract_topics(args):
    from pisa_spark.sources.readers import read_trec_topics

    for line in read_trec_topics(args.input, field=args.field):
        print(line)


def cmd_evaluate_collection_ordering(args):
    from pisa_spark.operators.reorder import compressed_size

    spark = _spark(args)
    print(json.dumps({"compressed_bytes": compressed_size(
        _load_index(spark, args))}))


# ---------------------------------------------------------- shard tools

def cmd_partition_fwd_index(args):
    from pisa_spark.operators.sharding import partition_collection

    spark = _spark(args)
    idx = _load_index(spark, args)
    sharded = partition_collection(idx.docs, args.shards,
                                   method=args.method, seed=args.seed)
    sharded.select("doc_id", "url", "shard").write.mode(
        "overwrite").parquet(args.output)
    print(json.dumps({"shards": args.shards, "method": args.method,
                      "output": args.output}))


def cmd_shards(args):
    spark = _spark(args)
    idx = _load_index(spark, args)
    _emit(idx.shards.select("shard_id", "base_doc", "n_docs")
          if "n_docs" in idx.shards.columns
          else idx.shards.select("shard_id", "base_doc"), n=args.limit)


def cmd_taily_stats(args):
    from pisa_spark.tools import taily_stats

    spark = _spark(args)
    _emit(taily_stats(_load_index(spark, args)), n=args.limit,
          out=args.output)


def cmd_taily_thresholds(args):
    from pisa_spark.operators.sharding import taily_thresholds

    spark = _spark(args)
    _emit(taily_thresholds(_load_index(spark, args), _queries(args),
                           n_c=args.n_c))


def cmd_lookup_table(args):
    """Inspect a v1 binary lookup table (the reference's on-disk lexicon/
    docmap format). The QUERY path stays the Spark join against the
    parquet lexicon/docs artifacts (SURVEY.md §2.1); this tool plus
    `lexicon --table/--export` are the interop surface with tables built
    by the reference's tooling."""
    import os

    from pisa_spark.sources.lookup_table import read_lookup_table

    lt = read_lookup_table(args.table)
    print(json.dumps({"path": args.table, "terms": len(lt),
                      "sorted": lt.sorted, "wide_offsets": lt.wide,
                      "bytes": os.path.getsize(args.table)}))


# -------------------------------------------------------------- argparse

def _add_index_flags(p, queries: bool = True, index_required: bool = True):
    p.add_argument("-i", "--index", required=index_required,
                   help="index directory (BuildManifest out_dir)")
    if queries:
        p.add_argument("-q", "--queries", required=True,
                       help="query file, one query per line (qid: prefix ok)")
    p.add_argument("--cores", type=int, default=None)
    p.add_argument("--stemmer", default=None,
                   choices=["none", "porter2", "krovetz"])
    p.add_argument("--kstem-lexicon", default=None, metavar="FILE",
                   help="KStem headword file (one word per line), unioned "
                        "with the embedded base lexicon")
    p.add_argument("--tokenizer", default=None,
                   choices=["english", "whitespace"])
    p.add_argument("--encoding", default=None, choices=CODECS)
    p.add_argument("--scorer", default=None)


def _add_build_flags(p):
    p.add_argument("-i", "--input", required=True)
    p.add_argument("-f", "--format", default="jsonl",
                   choices=["plaintext", "jsonl", "trectext", "trecweb",
                            "warc", "wapo", "parquet"])
    p.add_argument("-o", "--output", required=True,
                   help="index directory (stages checkpoint here)")
    p.add_argument("--cores", type=int, default=None)
    p.add_argument("--stemmer", default=None,
                   choices=["none", "porter2", "krovetz"])
    p.add_argument("--kstem-lexicon", default=None, metavar="FILE",
                   help="KStem headword file (one word per line), unioned "
                        "with the embedded base lexicon")
    p.add_argument("--tokenizer", default=None,
                   choices=["english", "whitespace"])
    p.add_argument("-e", "--encoding", default=None, choices=CODECS,
                   help="posting codec")
    p.add_argument("-b", "--block-size", type=int, default=None)
    p.add_argument("--variable-block", action="store_true",
                   help="VBMW score-optimal block partition")
    p.add_argument("--quantize", type=int, default=None,
                   help="linear score quantization bits")
    p.add_argument("--scorer", default=None)


def main(argv: list[str] | None = None) -> None:
    top = argparse.ArgumentParser(
        prog="python -m pisa_spark",
        description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    sub = top.add_subparsers(dest="tool", required=True)

    for name in ("parse_collection", "invert",
                 "compress_inverted_index", "create_wand_data"):
        p = sub.add_parser(name)
        _add_build_flags(p)
    sub.choices["parse_collection"].set_defaults(func=cmd_parse_collection)
    sub.choices["invert"].set_defaults(func=cmd_invert)
    sub.choices["compress_inverted_index"].set_defaults(func=cmd_compress)
    sub.choices["create_wand_data"].set_defaults(func=cmd_create_wand_data)

    p = sub.add_parser("reorder_docids")
    _add_index_flags(p, queries=False)
    p.add_argument("--method", default="bp", choices=["random", "url", "bp"])
    p.add_argument("--seed", type=int, default=42)
    p.add_argument("--depth", type=int, default=None)
    p.add_argument("-o", "--output", required=True,
                   help="parquet path for the (doc_id, url) mapping")
    p.set_defaults(func=cmd_reorder_docids)

    p = sub.add_parser("queries")
    _add_index_flags(p)
    p.add_argument("-k", type=int, default=10)
    p.add_argument("-a", "--algorithm", default="block_max_wand")
    p.add_argument("--runs", type=int, default=3)
    p.set_defaults(func=cmd_queries)

    p = sub.add_parser("evaluate_queries")
    _add_index_flags(p)
    p.add_argument("-k", type=int, default=10)
    p.add_argument("-a", "--algorithm", default="block_max_wand")
    p.add_argument("--run-id", default="pisa_spark")
    p.set_defaults(func=cmd_evaluate_queries)

    p = sub.add_parser("profile_queries")
    _add_index_flags(p)
    p.add_argument("-k", type=int, default=10)
    p.add_argument("-a", "--algorithm", default="block_max_wand")
    p.set_defaults(func=cmd_profile_queries)

    p = sub.add_parser("trec_eval")
    p.add_argument("run", help="TREC run file")
    p.add_argument("qrels", help="TREC qrels file")
    p.add_argument("-k", type=int, default=10)
    p.add_argument("--cores", type=int, default=None)
    p.set_defaults(func=cmd_trec_eval, tool="trec_eval")

    p = sub.add_parser("lexicon")
    p.add_argument("action", choices=["build", "print", "lookup", "rlookup"])
    p.add_argument("value", nargs="?")
    _add_index_flags(p, queries=False, index_required=False)
    p.add_argument("--limit", type=int, default=50)
    p.add_argument("--table", help="operate on a v1 binary lookup table "
                   "file instead of the index lexicon (reference lexicon "
                   "interop; no Spark session)")
    p.add_argument("--export", dest="export_table",
                   help="with action=build: also write the lexicon as a "
                   "v1 binary lookup table at this path")
    p.set_defaults(func=cmd_lexicon)

    p = sub.add_parser("read_collection")
    _add_index_flags(p, queries=False)
    p.add_argument("--term", default=None)
    p.add_argument("--limit", type=int, default=100)
    p.set_defaults(func=cmd_read_collection)

    p = sub.add_parser("count_postings")
    _add_index_flags(p)
    p.set_defaults(func=cmd_count_postings)

    p = sub.add_parser("extract_maxscores")
    _add_index_flags(p, queries=False)
    p.add_argument("--limit", type=int, default=None)
    p.add_argument("-o", "--output", default=None)
    p.set_defaults(func=cmd_extract_maxscores)

    p = sub.add_parser("compute_intersection")
    _add_index_flags(p)
    p.add_argument("--max-terms", type=int, default=2)
    p.set_defaults(func=cmd_compute_intersection)

    p = sub.add_parser("kth_threshold")
    _add_index_flags(p)
    p.add_argument("-k", type=int, default=10)
    p.add_argument("--pairs", action="store_true")
    p.add_argument("--triples", action="store_true")
    p.set_defaults(func=cmd_kth_threshold)

    p = sub.add_parser("thresholds")
    _add_index_flags(p)
    p.add_argument("-k", type=int, default=10)
    p.set_defaults(func=cmd_thresholds)

    p = sub.add_parser("selective_queries")
    _add_index_flags(p)
    p.add_argument("--max-ratio", type=float, default=0.01)
    p.set_defaults(func=cmd_selective_queries)

    p = sub.add_parser("sample_inverted_index")
    _add_index_flags(p, queries=False)
    p.add_argument("--fraction", type=float, required=True)
    p.add_argument("--seed", type=int, default=13)
    p.add_argument("-o", "--output", default=None)
    p.set_defaults(func=cmd_sample_inverted_index)

    p = sub.add_parser("map_queries")
    _add_index_flags(p)
    p.set_defaults(func=cmd_map_queries)

    p = sub.add_parser("stem_queries")
    p.add_argument("-q", "--queries", required=True)
    p.add_argument("--stemmer", default="porter2",
                   choices=["none", "porter2", "krovetz"])
    p.add_argument("--tokenizer", default=None,
                   choices=["english", "whitespace"])
    p.add_argument("--cores", type=int, default=None)
    p.set_defaults(func=cmd_stem_queries, tool="stem_queries")

    p = sub.add_parser("extract_topics")
    p.add_argument("-i", "--input", required=True, help="TREC topics file")
    p.add_argument("--field", default="title",
                   choices=["title", "desc", "narr"])
    p.set_defaults(func=cmd_extract_topics, tool="extract_topics")

    p = sub.add_parser("evaluate_collection_ordering")
    _add_index_flags(p, queries=False)
    p.set_defaults(func=cmd_evaluate_collection_ordering)

    p = sub.add_parser("partition_fwd_index")
    _add_index_flags(p, queries=False)
    p.add_argument("--shards", type=int, required=True)
    p.add_argument("--method", default="random",
                   choices=["random", "mapping"])
    p.add_argument("--seed", type=int, default=1902741)
    p.add_argument("-o", "--output", required=True)
    p.set_defaults(func=cmd_partition_fwd_index)

    p = sub.add_parser("shards")
    _add_index_flags(p, queries=False)
    p.add_argument("--limit", type=int, default=50)
    p.set_defaults(func=cmd_shards)

    p = sub.add_parser("taily_stats")
    _add_index_flags(p, queries=False)
    p.add_argument("--limit", type=int, default=None)
    p.add_argument("-o", "--output", default=None)
    p.set_defaults(func=cmd_taily_stats)

    p = sub.add_parser("taily_thresholds")
    _add_index_flags(p)
    p.add_argument("--n-c", type=int, default=10)
    p.set_defaults(func=cmd_taily_thresholds)

    p = sub.add_parser("lookup_table")
    p.add_argument("table", help="v1 binary lookup-table file")
    p.set_defaults(func=cmd_lookup_table, tool="lookup_table")

    args = top.parse_args(argv)
    args.func(args)


if __name__ == "__main__":
    main()
