"""Engine configuration.

Mirrors the knobs of the reference CLI surface (tokenizer/filter combos at
reference tools/app.cpp:77-78, scorer defaults at
include/pisa/scorer/scorer.hpp:14-22, WAND block size at
include/pisa/wand_utils.hpp:10-20) plus the Spark-scale knobs the reference
does not need (doc-shard span, shuffle parallelism).
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass(frozen=True)
class IndexConfig:
    # --- text analysis (reference: TextAnalyzer = filters -> tokenizer -> token filters)
    tokenizer: str = "english"  # "english" | "whitespace"
    strip_html: bool = True
    lowercase: bool = True
    stopwords: frozenset[str] = field(default_factory=frozenset)
    stemmer: str | None = None  # None | "porter2" | "krovetz"
    # Extra KStem headwords unioned with the embedded base lexicon
    # (functions/kstem.py): a loaded dictionary file or a corpus-derived
    # set from kstem_lexicon_from_index(). Part of the analyzer chain, so
    # it round-trips through the manifest with the rest of the config —
    # cap corpus-derived sets (max_terms) to keep the manifest bounded.
    kstem_lexicon: frozenset[str] | None = None

    # --- scoring (reference scorer.hpp:14-22 defaults)
    scorer: str = "bm25"
    bm25_k1: float = 0.9
    bm25_b: float = 0.4
    qld_mu: float = 1000.0
    pl2_c: float = 1.0

    # --- physical layout
    # Codec block: postings per compressed block (reference block codecs use
    # 128, codec/block_codecs.hpp); we also keep one block-max entry per
    # block (reference benchmark uses 64-posting WAND blocks — configurable).
    block_size: int = 128
    codec: str = "varint"  # a name in operators.codecs.CODECS (build_index
    # rejects any other on the driver); "bic" is cold-tier

    # Block partition strategy (reference wand_utils.hpp:10-20 FixedBlock /
    # VariableBlock): "fixed" cuts every block_size postings; "variable"
    # places boundaries with the score-optimal partition DP
    # (score_opt_partition.hpp) so block-max bounds hug skewed score
    # distributions — tighter pruning for the same metadata budget.
    block_partition: str = "fixed"  # "fixed" | "variable"
    # DP knobs (variable only): candidate boundaries sit on a quantum grid
    # (the eps-window approximation of the reference, re-expressed as grid
    # coarsening); lambda is the per-block fixed cost — None self-tunes to
    # a quarter of the fixed partition's mean per-block lost score area.
    vbmw_quantum: int = 16
    vbmw_lambda: float | None = None

    # Linear score quantization (reference compress --quantize +
    # scorer/quantized.hpp): scores quantized to ints replace frequencies
    # in the encoded postings; query-side scoring becomes a pass-through.
    quantize_bits: int | None = None

    # Doc-shard span: the docID space is partitioned into ranges of this many
    # docs; each (shard, term) posting run is therefore bounded by shard_span
    # postings. This is the skew bound: a stopword with df == N still never
    # creates a build group larger than shard_span. At cluster scale use
    # ~1-4M; small for local tests.
    shard_span: int = 1 << 20

    # Vocabulary bounds of the lexicon stage (plans/build.py _lexicon_of).
    # Up to lexicon_driver_max terms the whole per-term aggregation
    # round-trips through pandas on the driver (collect, assemble, ship
    # back); up to lexicon_broadcast_max _lexicon_driver_ids ships only the
    # term column to the driver and back as a broadcast Arrow vocabulary,
    # the stats staying distributed; above both, a distributed rank
    # assignment over the aggregation gives the ids. lexicon_broadcast_max
    # also decides the term-id join: a broadcast of the lexicon (postings
    # stay a lazy hash-probe view) or a sort-merge shuffle.
    lexicon_broadcast_max: int = 1 << 20

    # Both driver paths stay because each wins on its side of the bound:
    # at 7,004 terms the lexicon phase took 0.36 s on the pandas path and
    # 1.02 s on Arrow ids (Arrow ids slower in 6/6 pairs), at 600,000
    # terms 7.73 s against 5.59 s (eager builds on a shared 4-vCPU host,
    # only this value changed).
    lexicon_driver_max: int = 1 << 17

    # Doc-wise encode working-set bound: the docwise kernel holds one full
    # doc-shard's exploded tokens (shard_span x avg doc length) in numpy;
    # when that exceeds this bound the build falls back to the exploded
    # (shard, term)-shuffled encode whose groups are bounded by shard_span
    # postings regardless of document length. 2^25 postings ~ 1.5 GB of
    # kernel working set at int64 columns.
    docwise_max_tokens: int = 1 << 25

    def scorer_params(self) -> dict[str, float]:
        return {
            "k1": self.bm25_k1,
            "b": self.bm25_b,
            "mu": self.qld_mu,
            "c": self.pl2_c,
        }

    # --- manifest (de)serialization: a persisted index must reload with
    # the config it was BUILT with (codec/block layout/analyzer chain are
    # baked into the artifacts — the reference likewise encodes them in
    # its binary formats). frozenset <-> sorted list for JSON.
    def to_json_dict(self) -> dict:
        from dataclasses import asdict

        d = asdict(self)
        d["stopwords"] = sorted(d["stopwords"])
        if d.get("kstem_lexicon") is not None:
            d["kstem_lexicon"] = sorted(d["kstem_lexicon"])
        return d

    @classmethod
    def from_json_dict(cls, d: dict) -> "IndexConfig":
        import dataclasses

        known = {f.name for f in dataclasses.fields(cls)}
        d = {k: v for k, v in d.items() if k in known}
        if "stopwords" in d:
            d["stopwords"] = frozenset(d["stopwords"])
        if d.get("kstem_lexicon") is not None:
            d["kstem_lexicon"] = frozenset(d["kstem_lexicon"])
        return cls(**d)


DEFAULT_CONFIG = IndexConfig()
