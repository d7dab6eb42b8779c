"""pisa_spark — a PySpark-native full-text indexing and BM25 top-k query engine.

A from-scratch rebuild of the capabilities of pisa-engine/pisa (reference at
/root/reference, a C++20 single-node engine) re-expressed Spark-first:

- dataflow (tokenize, invert, merge, stats) is declarative DataFrame/SQL so
  Catalyst handles pushdown, pruning, partial aggregation and AQE;
- inner loops Spark cannot express (gap/Elias-Fano block codecs, block-max
  WAND / MaxScore dynamic pruning) are vectorized numpy kernels inside
  Arrow-batched pandas UDFs — never per-row Python;
- the docID space is range-sharded so every posting-list build group is
  bounded by the shard span: stopword-grade skew cannot produce a hot key
  (see pisa_spark.operators.postings).

Layout:
    functions/   text extraction, tokenization, scorers (scalar layer)
    sources/     synthetic webtext corpus, record readers, query parsing
    operators/   postings, codecs, block-max, top-k executors, dedup, ANN
    plans/       end-to-end build pipeline + checkpoint/resume manifest

Importing the package installs `worker_imports`' guard, so a PySpark worker
that runs engine code stops re-reading unchanged zip archives every task.
"""

from pisa_spark import worker_imports

worker_imports.install()

__version__ = "0.1.0"
