"""Deduplication operators for training-data pipelines.

Everything except SimHash is pure built-in Spark (codegen'd, shuffle-aware),
with a line-for-line ANSI-SQL equivalent (DuckDB oracle). All hash choices
are md5-derived so the two engines agree bit-for-bit.

Scale notes:
- exact: one hash-aggregate on md5(text) — map-side combined.
- MinHash+LSH: signatures are per-row higher-order expressions (no shuffle);
  the band join shuffles only (band_idx, band_hash) keys. Banding bounds
  candidate pairs; exact Jaccard reranks candidates only.
- n-gram Jaccard: inverted shingle join — shuffle keyed on shingle hash;
  heavy shingles behave like heavy terms (AQE skew join handles; a df-cap
  filter drops boilerplate shingles the same way stopword dropping does).
- SimHash: one pandas UDF pass (bit loops don't vectorize as Column exprs);
  hamming<=K pairs via the 4-chunk pigeonhole band join.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from pisa_spark.operators.textstats import english_tokens_col

N_MINHASH = 16
N_BANDS = 4

# Universal-hash mixing constants for the MinHash family: ONE md5 per
# shingle, then h_i = (a_i*hi + b_i*lo + c_i) mod M over the md5's 30-bit
# halves — 16x fewer digest evaluations than md5-per-i, identical
# cross-engine (plain int64 arithmetic, no overflow: every intermediate
# < 2^63). Constants are seeded so the SQL oracle regenerates them.
MINHASH_PRIME = (1 << 61) - 1


def _minhash_mix(n: int, seed: int = 0x9150A) -> list[tuple[int, int, int]]:
    import random

    rng = random.Random(seed)
    return [(rng.randrange(1, 1 << 31), rng.randrange(1, 1 << 31),
             rng.randrange(0, 1 << 60)) for _ in range(n)]


def shingles_col(tokens, n: int = 3):
    """Distinct n-token shingles; docs shorter than n yield none."""
    if n == 1:
        # concat_ws(" ", slice(toks, i+1, 1)) == toks[i]; skip the
        # per-index slice/concat machinery entirely
        return F.array_distinct(tokens)
    return F.when(
        F.size(tokens) >= n,
        F.array_distinct(F.transform(
            F.sequence(F.lit(0), F.size(tokens) - n),
            lambda i: F.concat_ws(" ", F.slice(tokens, i + 1, n)))),
    ).otherwise(F.array().cast("array<string>"))


def exact_duplicates(docs, id_col: str = "doc_id", text_col: str = "text"):
    """Exact dedup: (text_hash, n_docs, min_doc_id) for groups of size > 1."""
    return (
        docs.select(F.md5(F.col(text_col)).alias("text_hash"), F.col(id_col))
        .groupBy("text_hash")
        .agg(F.count("*").alias("n_docs"), F.min(id_col).alias("keep_doc_id"))
        .filter(F.col("n_docs") > 1)
    )


def minhash_signatures(docs, id_col: str = "doc_id", text_col: str = "text",
                       n_hashes: int = N_MINHASH, shingle_n: int = 3):
    """(doc_id, sig array<long>): min over shingles of the i-th universal
    hash of md5(shingle) — one digest per shingle, n_hashes arithmetic
    mixes (see MINHASH_PRIME/_minhash_mix). Docs with no shingles
    (shorter than shingle_n) emit no row.

    Computed in ONE fused Arrow pass (guide §4.2, same shape as the index
    build's tokenize): per doc — tokenize, distinct-shingle set, one md5
    per shingle, then the (n_hashes x n_shingles) universal-hash matrix
    and its row minima in numpy. No token explode, no groupBy shuffle,
    and every intermediate stays < 2^62 so int64 arithmetic is exact —
    bit-identical to the previous explode -> hash columns -> groupBy-min
    formulation (verified at sf1.0) and to the DuckDB oracle mirror."""
    import hashlib

    from pisa_spark.functions.tokenize import english_tokens

    mix = _minhash_mix(n_hashes)
    a_v = np.array([m[0] for m in mix], dtype=np.int64)[:, None]
    b_v = np.array([m[1] for m in mix], dtype=np.int64)[:, None]
    c_v = np.array([m[2] for m in mix], dtype=np.int64)[:, None]
    lo_mask = (1 << 30) - 1
    id_type = dict(docs.dtypes)[id_col]

    def run(batches):
        for pdf in batches:
            ids: list = []
            sigs: list = []
            for did, text in zip(pdf[id_col], pdf[text_col]):
                toks = [t.lower() for t in english_tokens(text or "")]
                if len(toks) < shingle_n:
                    continue
                if shingle_n == 1:
                    sh = set(toks)
                else:
                    sh = {" ".join(toks[i:i + shingle_n])
                          for i in range(len(toks) - shingle_n + 1)}
                if not sh:
                    continue
                h = np.fromiter(
                    (int(hashlib.md5(s.encode()).hexdigest()[:15], 16)
                     for s in sh), dtype=np.int64, count=len(sh))
                sig = ((a_v * (h >> 30)[None, :]
                        + b_v * (h & lo_mask)[None, :] + c_v)
                       % MINHASH_PRIME).min(axis=1)
                ids.append(did)
                sigs.append([int(x) for x in sig])
            yield pd.DataFrame({"doc_id": ids, "sig": sigs})

    return docs.select(id_col, text_col).mapInPandas(
        run, f"doc_id {id_type}, sig array<long>")


def minhash_lsh_pairs(docs, id_col: str = "doc_id", text_col: str = "text",
                      n_hashes: int = N_MINHASH, bands: int = N_BANDS,
                      shingle_n: int = 3):
    """Candidate near-dup pairs (a < b) sharing at least one LSH band."""
    rows_per_band = n_hashes // bands
    # materialized once: both sides of the band self-join read it (see
    # simhash_pairs — same lineage-cut rationale)
    sigs = minhash_signatures(docs, id_col, text_col, n_hashes,
                              shingle_n).localCheckpoint()
    banded = sigs.select(
        "doc_id",
        F.explode(F.array(*[
            F.struct(
                F.lit(b).alias("band"),
                F.md5(F.concat_ws(",", *[
                    F.element_at("sig", b * rows_per_band + r + 1).cast("string")
                    for r in range(rows_per_band)
                ])).alias("bhash"),
            )
            for b in range(bands)
        ])).alias("bk"),
    ).select("doc_id", "bk.band", "bk.bhash")
    # sort-merge, not broadcast: the planner underestimates the exploded
    # band table (Generate over a checkpoint) and would build a serial
    # driver-side broadcast of the whole banded side; a shuffle join runs
    # parallel here and is the only correct strategy at corpus scale
    # (guide §3.1 — measured 1s faster at 50k docs)
    banded = banded.hint("merge")
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(b, ["band", "bhash"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def ngram_jaccard_pairs(docs, id_col: str = "doc_id", text_col: str = "text",
                        shingle_n: int = 3, threshold: float = 0.8,
                        max_shingle_df: int | None = None):
    """n-gram Jaccard >= threshold pairs via inverted shingle join.

    max_shingle_df caps the self-join fan-out: a boilerplate shingle with
    df=d contributes d^2 join rows, so shingles appearing in more than
    max_shingle_df docs are dropped from every doc's shingle set (both the
    intersection AND the set sizes — the same move the index build makes
    for stopwords). Jaccard is then computed over the capped sets: exact on
    the reduced universe, deterministic, and mirrored 1:1 by the SQL oracle.
    None (default) keeps every shingle (exact full-universe Jaccard)."""
    # tokens materialized first — see minhash_signatures for why (lambda
    # re-evaluation of unbound expressions inside shingles_col). No
    # size(sh)>0 pre-filter: explode drops empty arrays anyway, and a
    # filter over the computed array gets pushed below the projections by
    # alias substitution, duplicating the whole tokenize+shingle tree.
    flat = docs.select(
        F.col(id_col).alias("doc_id"),
        english_tokens_col(F.col(text_col)).alias("_toks"),
    ).select(
        "doc_id",
        F.explode(shingles_col(F.col("_toks"), shingle_n)).alias("shingle"))
    # flat feeds the df-cap aggregate, both sides of the inverted
    # self-join, and the per-doc sizes — cut lineage once so the
    # tokenize+shingle pass runs once, not once per consumer
    flat = flat.localCheckpoint()
    if max_shingle_df is not None:
        light = (flat.groupBy("shingle")
                 .agg(F.count("*").alias("_df"))
                 .filter(F.col("_df") <= max_shingle_df)
                 .select("shingle"))
        flat = flat.join(light, "shingle").localCheckpoint()
    sizes = flat.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    a, b = flat.alias("a"), flat.alias("b")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(F.col("a.doc_id").alias("doc_a"),
                 F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("n_inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb"))
    return (
        inter.join(sa, "doc_a").join(sb, "doc_b")
        .withColumn("jaccard", F.round(
            F.col("n_inter") / (F.col("na") + F.col("nb") - F.col("n_inter")), 6))
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


# ----------------------------------------------------------------- SimHash

SIMHASH_BITS = 60


def _simhash_batch(texts: pd.Series) -> pd.Series:
    """60-bit SimHash over English-lexer tokens (md5-derived bit hashes).

    Vectorized across the whole Arrow batch (guide §4.2): tokenization is
    the only per-row Python step; terms are factorized batch-wide so md5
    runs once per UNIQUE term (not once per term per row), and the
    tf-weighted bit votes are one scatter-add over token occurrences —
    summing a term's ±1 sign once per occurrence equals the per-distinct-
    term tf*sign sum, so the emitted hashes are bit-identical to the
    per-row formulation."""
    import hashlib

    from pisa_spark.functions.tokenize import english_tokens

    n = len(texts)
    out = np.zeros(n, dtype=np.int64)
    token_rows = [[t.lower() for t in english_tokens(x)] if x else []
                  for x in texts]
    lens = np.fromiter((len(r) for r in token_rows), dtype=np.int64, count=n)
    total = int(lens.sum())
    if not total:
        return pd.Series(out)
    flat = np.empty(total, dtype=object)
    pos = 0
    for r in token_rows:
        flat[pos:pos + len(r)] = r
        pos += len(r)
    codes, uniques = pd.factorize(flat)
    shifts = np.arange(SIMHASH_BITS, dtype=np.int64)
    uh = np.fromiter(
        (int(hashlib.md5(u.encode()).hexdigest()[:15], 16) for u in uniques),
        dtype=np.int64, count=len(uniques))
    sign = (2 * ((uh[:, None] >> shifts) & 1) - 1).astype(np.int64)
    row_idx = np.repeat(np.arange(n, dtype=np.int64), lens)
    votes = np.zeros((n, SIMHASH_BITS), dtype=np.int64)
    np.add.at(votes, row_idx, sign[codes])
    out = ((votes > 0).astype(np.int64) << shifts).sum(axis=1)
    return pd.Series(out)


def simhash(docs, id_col: str = "doc_id", text_col: str = "text"):
    """(doc_id, simhash long) — vectorized pandas UDF (Arrow batches)."""
    udf = F.pandas_udf(_simhash_batch, "long")
    return docs.select(F.col(id_col).alias("doc_id"),
                       udf(F.col(text_col)).alias("simhash"))


def simhash_pairs(docs, id_col: str = "doc_id", text_col: str = "text",
                  max_hamming: int = 3, n_chunks: int = 6):
    """Pairs with hamming(simhash) <= max_hamming, via an exact k-of-m
    pigeonhole band join (then the hamming filter reranks, so the result
    set is independent of the banding scheme).

    Scheme: split the 60 bits into n_chunks equal chunks. <= h differing
    bits touch <= h chunks, leaving r = n_chunks - h untouched — so some
    r-SUBSET of chunks is entirely equal, and the join key is an r-tuple
    of chunk values: C(n_chunks, r) combos over an (r*chunk_bits)-bit key
    space. At the default (6 chunks of 10 bits, h=3, r=3) each combo keys
    on 30 bits vs the pair scheme's 20 and the single-chunk scheme's 15:
    on correlated sign bits (small vocabularies make chunk values highly
    non-uniform) widening the key is the lever that collapses candidate
    volume — measured 18.2M -> ~40k candidate pairs on the 50k-doc bench
    corpus — while combos only grow 15 -> 20. Still exact: the hamming
    rerank filters candidates, so the emitted pair set is independent of
    the banding scheme (pigeonhole guarantees no false negatives).

    The hamming filter runs BEFORE the distinct (guide §2.3: shuffle fewer
    bytes): a candidate pair can surface in up to C(n_chunks, r) bands, and
    filtering first shrinks the dedup exchange to the surviving pairs."""
    if 60 % n_chunks:
        raise ValueError("n_chunks must divide 60")
    r = n_chunks - max_hamming
    if r < 1:
        raise ValueError("need n_chunks > max_hamming for pigeonhole banding")
    bits = 60 // n_chunks
    mask = (1 << bits) - 1
    # Materialize the (doc_id, simhash) table once: the banded self-join
    # references it on both sides, and without a lineage cut Catalyst
    # re-runs the whole scan+UDF subtree per side — and filter pushdown of
    # the join keys' null checks duplicates the ArrowEvalPython node AGAIN
    # below the exchange (guide §4.4). localCheckpoint is eager and scoped
    # to this call's DataFrame, so every invocation still computes from
    # the parquet input; it also gives the planner real size stats for the
    # join strategy choice (a 50k-row signature table here; at cluster
    # scale the stats keep the self-join a shuffle join, never a blind
    # broadcast of an estimated-tiny UDF output).
    sh = simhash(docs, id_col, text_col).localCheckpoint()

    def cval(c):
        return F.shiftright("simhash", c * bits).bitwiseAND(F.lit(mask))

    from itertools import combinations

    def key(chunks):
        k = cval(chunks[0])
        for c in chunks[1:]:
            k = F.shiftleft(k, bits) + cval(c)
        return k

    bands = [
        F.struct(F.lit(ci).alias("band"), key(chunks).alias("bval"))
        for ci, chunks in enumerate(combinations(range(n_chunks), r))
    ]
    banded = sh.select(
        "doc_id", "simhash",
        F.explode(F.array(*bands)).alias("bk"),
    ).select("doc_id", "simhash", "bk.band", "bk.bval")
    # sort-merge, not broadcast — see minhash_lsh_pairs (same
    # Generate-over-checkpoint underestimation)
    banded = banded.hint("merge")
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(b, ["band", "bval"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"),
                F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
                .alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def embedding_neardup_pairs(embeddings, id_col: str = "vec_id",
                            vec_col: str = "embedding",
                            threshold: float = 0.95, exact: bool = False,
                            n_planes: int = 6, probes: int = 8,
                            seed: int = 7, dim: int | None = None):
    """Embedding-cosine near-dup pairs.

    exact=True: the all-pairs crossJoin — exhaustive recall, for small
    inputs and as the oracle for the bucketed path. O(N^2): an explicit
    opt-in, never the default (the default is the bounded LSH scale path).

    exact=False (default, scale path): signed-random-projection LSH buckets generate
    candidates — `probes` independent hash tables of `n_planes` hyperplanes
    each; two vectors are candidates iff they share a bucket in ANY table —
    then the exact cosine reranks candidates, so every emitted pair's cosine
    is exact. Each table is one shuffle keyed on (table, bucket): O(N) plus
    bounded bucket joins, never the all-pairs product. At cosine >= t the
    per-table collision prob is p = (1 - acos(t)/pi)^n_planes, so probes
    tables miss a qualifying pair with prob (1-p)^probes — size probes for
    the target recall (tests/test_pipeline_ops pins recall on planted
    boundary pairs just above the threshold).
    """

    def norm(c):
        return F.sqrt(F.aggregate(c, F.lit(0.0), lambda a, x: a + x * x))

    e = embeddings.select(F.col(id_col).alias("vid"), F.col(vec_col).alias("v"),
                          norm(F.col(vec_col)).alias("nrm"))
    a, b = e.alias("a"), e.alias("b")
    dot = F.aggregate(F.zip_with(F.col("a.v"), F.col("b.v"), lambda x, y: x * y),
                      F.lit(0.0), lambda acc, x: acc + x)
    cosine = F.round(dot / (F.col("a.nrm") * F.col("b.nrm")), 6)
    if exact:
        return (
            a.crossJoin(b)
            .filter(F.col("a.vid") < F.col("b.vid"))
            .select(F.col("a.vid").alias("vec_a"),
                    F.col("b.vid").alias("vec_b"),
                    cosine.alias("cosine"))
            .filter(F.col("cosine") >= threshold)
        )
    from pisa_spark.operators.similarity import lsh_multi_bucket_udf

    multi = lsh_multi_bucket_udf(dim, n_planes,
                                 [seed + t for t in range(probes)])
    # one UDF pass computes every probe table's bucket (stacked matmul),
    # and one materialization feeds both self-join sides — the unioned
    # per-table formulation re-ran a bucket-UDF pass per table per side
    buckets = e.select(
        "vid", F.posexplode(multi("v")).alias("tbl", "bucket"),
    ).localCheckpoint()
    ba, bb = buckets.alias("ba"), buckets.alias("bb")
    cand = (
        ba.join(bb, ["tbl", "bucket"])
        .filter(F.col("ba.vid") < F.col("bb.vid"))
        .select(F.col("ba.vid").alias("vid_a"),
                F.col("bb.vid").alias("vid_b"))
        .distinct()
    )
    return (
        cand
        .join(e.select(F.col("vid").alias("vid_a"), F.col("v").alias("va"),
                       F.col("nrm").alias("na")), "vid_a")
        .join(e.select(F.col("vid").alias("vid_b"), F.col("v").alias("vb"),
                       F.col("nrm").alias("nb")), "vid_b")
        .select(F.col("vid_a").alias("vec_a"), F.col("vid_b").alias("vec_b"),
                F.round(
                    F.aggregate(F.zip_with("va", "vb", lambda x, y: x * y),
                                F.lit(0.0), lambda acc, x: acc + x)
                    / (F.col("na") * F.col("nb")), 6).alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


# ------------------------------------------------- duplicate clusters (CC)

# driver union-find bound: edge lists at or under this collect to the
# driver (two int64 columns — 64 MB at the bound) and resolve in one
# pass; larger graphs run the distributed label-propagation loop
CLUSTERS_DRIVER_MAX_EDGES = 1 << 22


def _driver_union_find(pdf: pd.DataFrame) -> pd.DataFrame:
    """Connected components of a small edge list on the driver:
    path-halving union-find, roots then relabeled to the component's
    minimum member — identical output contract to the distributed loop
    ((doc_id, cluster_id), cluster_id = min id in component)."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        r = parent.setdefault(x, x)
        while r != parent[r]:
            parent[r] = parent[parent[r]]
            r = parent[r]
        while parent[x] != r:
            parent[x], x = r, parent[x]
        return r

    for a, b in zip(pdf.iloc[:, 0].astype("int64"),
                    pdf.iloc[:, 1].astype("int64")):
        ra, rb = find(int(a)), find(int(b))
        if ra != rb:
            parent[ra] = rb
    cmin: dict[int, int] = {}
    nodes = list(parent)
    for x in nodes:
        r = find(x)
        if x < cmin.get(r, x + 1):
            cmin[r] = x
    return pd.DataFrame({
        "doc_id": np.array(nodes, dtype=np.int64),
        "cluster_id": np.array([cmin[find(x)] for x in nodes],
                               dtype=np.int64),
    })


def dedup_clusters(pairs, left: str = "doc_a", right: str = "doc_b",
                   max_iters: int = 50, checkpoint_dir: str | None = None):
    """Resolve candidate duplicate PAIRS into duplicate CLUSTERS.

    Returns (doc_id, cluster_id) for every doc appearing in at least one
    pair, where cluster_id is the smallest doc_id in the doc's connected
    component — the canonical-representative convention, so a downstream
    keep-one pass is `filter(doc_id != cluster_id)` on the dedup side.

    Distributed min-label propagation: labels start as each node's own
    id; every iteration joins the (cached, static) symmetric edge list
    against the current labels and takes the per-node minimum of self and
    neighbor labels — one shuffle per iteration, convergence checked with
    a changed-row count. Iterations = component eccentricity, which for
    dedup graphs is a small constant (LSH band collisions build
    hub-and-spoke components, not long chains); `max_iters` guards the
    adversarial-chain case, and raising it is always safe. Label lineage
    is truncated per iteration (localCheckpoint) so Catalyst never
    re-plans the loop history; the edge list is joined once per
    iteration, never self-joined (the pattern that blows up size-stats
    estimation on iterative plans).

    checkpoint_dir: parquet-backed RELIABLE iteration state (manifest +
    alternating label slots). localCheckpoint blocks are executor-local:
    on a real cluster a lost executor invalidates them and the loop must
    restart from scratch. With checkpoint_dir every iteration's labels
    land durably before the state advances, so a killed/restarted run
    resumes at the iteration it died in — the right mode for very large
    or unreliable clusters. Crash-safe by construction: the state metric
    is written AFTER the slot's parquet commit, and a half-written slot
    is discarded and rebuilt on resume (same BuildManifest semantics as
    the resumable index build).

    The same closure is ANSI-SQL-expressible as a recursive CTE, which is
    the DuckDB oracle twin (driver entry `dedup_clusters`).
    """
    int_types = {"bigint", "int", "smallint", "tinyint"}
    dtypes = dict(pairs.select(left, right).dtypes)
    int_ids = dtypes[left] in int_types and dtypes[right] in int_types
    if checkpoint_dir is None:
        # bounded driver union-find: dedup graphs are tiny relative to
        # their corpora (edges ~ near-dup pairs), and the distributed
        # loop pays several whole-cluster jobs of fixed cost per
        # iteration. At or under the bound (integer ids only), collect
        # the edge list once and resolve in one driver pass — identical
        # (doc_id, cluster_id = min member) output, same
        # bounded-driver-work-with-distributed-fallback pattern as the
        # serve path. Above the bound or for non-integer ids the
        # label-propagation loop below remains the scale path.
        if int_ids:
            edges_pdf = (pairs.select(left, right)
                         .limit(CLUSTERS_DRIVER_MAX_EDGES + 1).toPandas())
            if len(edges_pdf) <= CLUSTERS_DRIVER_MAX_EDGES:
                out = _driver_union_find(edges_pdf)
                return pairs.sparkSession.createDataFrame(
                    out, "doc_id long, cluster_id long")

    e = pairs.select(F.col(left).alias("src"), F.col(right).alias("dst"))
    sym = e.union(e.select(F.col("dst").alias("src"),
                           F.col("src").alias("dst"))).distinct()

    def step(edges, labels):
        neigh = (edges.join(labels, edges.dst == labels.id)
                      .groupBy("src").agg(F.min("lbl").alias("nmin")))
        return (labels.join(neigh, labels.id == neigh.src, "left")
                      .select(labels.id,
                              F.least("lbl", "nmin").alias("lbl")))

    def changed_count(new_labels, labels):
        return (new_labels.alias("n").join(labels.alias("o"), "id")
                .filter(F.col("n.lbl") < F.col("o.lbl")).count())

    # integer ids leave every branch as the driver branch's long columns;
    # other id types keep their own type
    def out_col(c):
        return F.col(c).cast("long") if int_ids else F.col(c)

    out_cols = (out_col("id").alias("doc_id"),
                out_col("lbl").alias("cluster_id"))

    if checkpoint_dir is not None:
        from pisa_spark.plans.checkpoint import BuildManifest

        spark = pairs.sparkSession
        m = BuildManifest(checkpoint_dir)
        if not m.done("cc_edges"):
            m.write_df("cc_edges", sym)
        edges = m.read_df(spark, "cc_edges")
        state = m.state["metrics"].get("cc_state")
        if state is None:
            m.write_df("cc_labels_0",
                       edges.select(F.col("src").alias("id")).distinct()
                            .withColumn("lbl", F.col("id")))
            state = {"iter": 0, "slot": 0, "converged": False}
            m.record_metric("cc_state", state)
        labels = m.read_df(spark, f"cc_labels_{state['slot']}")
        while not state["converged"] and state["iter"] < max_iters:
            nxt = 1 - state["slot"]
            # new labels read from the CURRENT slot's files, write to the
            # other slot — never overwrite a parquet path being read
            m.write_df(f"cc_labels_{nxt}", step(edges, labels))
            new_labels = m.read_df(spark, f"cc_labels_{nxt}")
            state = {"iter": state["iter"] + 1, "slot": nxt,
                     "converged": changed_count(new_labels, labels) == 0}
            m.record_metric("cc_state", state)
            labels = new_labels
        return labels.select(*out_cols)

    edges = sym.persist()
    labels = edges.select(F.col("src").alias("id")).distinct() \
                  .withColumn("lbl", F.col("id")).localCheckpoint()
    try:
        for _ in range(max_iters):
            new_labels = step(edges, labels).localCheckpoint()
            changed = changed_count(new_labels, labels)
            labels = new_labels
            if changed == 0:
                break
        return labels.select(*out_cols)
    finally:
        edges.unpersist()
