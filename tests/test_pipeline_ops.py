"""Training-pipeline operators (dedup / similarity / textstats / multimodal)
vs brute-force references on the driver-provided documents/embeddings tables."""

import itertools

import duckdb
import numpy as np
import pytest

from pisa_spark.operators import dedup, multimodal, similarity, textstats


@pytest.fixture(scope="module")
def documents(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


@pytest.fixture(scope="module")
def embeddings(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


@pytest.fixture(scope="module")
def doc_pdf(sf_dir):
    return duckdb.sql(
        f"select * from read_parquet('{sf_dir}/documents.parquet')").df()


def test_token_stats_vs_python(documents, doc_pdf):
    from pisa_spark.functions.tokenize import english_tokens

    got = {r.doc_id: (r.n_tokens, r.n_unique)
           for r in textstats.token_stats(documents).collect()}
    for row in doc_pdf.head(50).itertuples():
        toks = [t.lower() for t in english_tokens(row.text)]
        assert got[row.doc_id] == (len(toks), len(set(toks))), row.doc_id


def test_language_id_shapes(documents):
    out = textstats.language_id(documents).toPandas()
    assert set(out.lang_pred.unique()) <= {"en", "und"}
    assert len(out) == documents.count()


def test_quality_and_fingerprint_deterministic(documents):
    q1 = textstats.quality_score(documents).toPandas().sort_values("doc_id")
    q2 = textstats.quality_score(documents).toPandas().sort_values("doc_id")
    assert (q1.quality.values == q2.quality.values).all()
    fp = textstats.fingerprint(documents).toPandas()
    assert fp.fingerprint.str.len().eq(32).all()


def test_exact_duplicates_vs_python(documents, doc_pdf):
    got = {r.text_hash: r.n_docs
           for r in dedup.exact_duplicates(documents).collect()}
    counts = doc_pdf.groupby("text").doc_id.count()
    expected_groups = int((counts > 1).sum())
    assert len(got) == expected_groups


def test_minhash_lsh_finds_exact_dups(documents, doc_pdf):
    """Identical texts always share every band — LSH must surface them."""
    pairs = {(r.doc_a, r.doc_b)
             for r in dedup.minhash_lsh_pairs(documents).collect()}
    dup_groups = doc_pdf.groupby("text").doc_id.apply(list)
    expected = set()
    for ids in dup_groups:
        if len(ids) > 1:
            for a, b in itertools.combinations(sorted(ids), 2):
                expected.add((a, b))
    missing = {p for p in expected if p not in pairs}
    assert not missing


def test_ngram_jaccard_exact_dups_have_jaccard_one(documents, doc_pdf):
    out = dedup.ngram_jaccard_pairs(documents, threshold=0.99).toPandas()
    dup_groups = [sorted(ids) for ids in
                  doc_pdf.groupby("text").doc_id.apply(list) if len(ids) > 1]
    got = {(r.doc_a, r.doc_b) for r in out.itertuples()}
    for ids in dup_groups:
        for a, b in itertools.combinations(ids, 2):
            assert (a, b) in got


def test_simhash_pairs_symmetric_for_dups(documents, doc_pdf):
    pairs = dedup.simhash_pairs(documents, max_hamming=0).toPandas()
    dup_groups = [sorted(ids) for ids in
                  doc_pdf.groupby("text").doc_id.apply(list) if len(ids) > 1]
    got = {(r.doc_a, r.doc_b) for r in pairs.itertuples()}
    for ids in dup_groups:
        for a, b in itertools.combinations(ids, 2):
            assert (a, b) in got


def test_simhash_band_schemes_exact_and_bounded(spark, documents):
    """The k-of-m pair-combo banding must emit EXACTLY the brute-force
    hamming<=3 pair set (pigeonhole guarantee), while generating fewer
    band-key collisions than the minimal single-chunk scheme — the property
    that keeps bucket joins bounded when the corpus grows 100x."""
    sh = dedup.simhash(documents).toPandas()
    vals = sh.set_index("doc_id").simhash.to_dict()
    ids = sorted(vals)
    brute = {(a, b) for i, a in enumerate(ids) for b in ids[i + 1:]
             if bin(vals[a] ^ vals[b]).count("1") <= 3}
    pair_scheme = {(r.doc_a, r.doc_b) for r in
                   dedup.simhash_pairs(documents, max_hamming=3,
                                       n_chunks=6).collect()}
    single_scheme = {(r.doc_a, r.doc_b) for r in
                     dedup.simhash_pairs(documents, max_hamming=3,
                                         n_chunks=4).collect()}
    assert pair_scheme == brute
    assert single_scheme == brute

    # candidate volume: count band-key collisions under each scheme
    def collisions(n_chunks):
        bits = 60 // n_chunks
        mask = (1 << bits) - 1
        from collections import Counter
        cnt = Counter()
        if n_chunks - 3 >= 2:
            combos = [(i, j) for i in range(n_chunks)
                      for j in range(i + 1, n_chunks)]
            for v in vals.values():
                for ci, (i, j) in enumerate(combos):
                    cnt[(ci, ((v >> (i * bits)) & mask) << bits
                         | ((v >> (j * bits)) & mask))] += 1
        else:
            for v in vals.values():
                for c in range(n_chunks):
                    cnt[(c, (v >> (c * bits)) & mask)] += 1
        return sum(k * (k - 1) // 2 for k in cnt.values())

    assert collisions(6) <= collisions(4)


def test_cosine_topk_vs_numpy(embeddings, sf_dir):
    qids = [0, 1, 2]
    got = similarity.cosine_topk(embeddings, qids, k=5).toPandas()
    pdf = duckdb.sql(
        f"select * from read_parquet('{sf_dir}/embeddings.parquet')").df()
    mat = np.stack(pdf.embedding.to_numpy()).astype(np.float64)
    ids = pdf.vec_id.to_numpy()
    norms = np.linalg.norm(mat, axis=1)
    for q in qids:
        qi = np.where(ids == q)[0][0]
        cos = (mat @ mat[qi]) / (norms * norms[qi])
        order = sorted((i for i in range(len(ids)) if ids[i] != q),
                       key=lambda i: (-round(cos[i], 6), ids[i]))[:5]
        expect = [ids[i] for i in order]
        g = got[got.qid == q].sort_values("rank")
        assert list(g.vid) == list(expect), q


def test_lsh_ann_recall(embeddings):
    qids = list(range(8))
    exact = similarity.cosine_topk(embeddings, qids, k=5).toPandas()
    ann = similarity.lsh_ann_topk(embeddings, qids, k=5, n_planes=6,
                                  probes=4, multiprobe=1).toPandas()
    hits = tot = 0
    for q in qids:
        e = set(exact[exact.qid == q].vid)
        a = set(ann[ann.qid == q].vid)
        hits += len(e & a)
        tot += len(e)
    assert hits / tot >= 0.6  # multiprobe LSH on near-random vectors


def test_multimodal_plumbing(spark):
    media = multimodal.synth_media(spark, 48)
    # default path runs the REAL decoders (PNG/WAV/MP4 payloads)
    feats = multimodal.extract_features(media).toPandas()
    assert len(feats) == 48
    assert all(len(f) == multimodal.FEATURE_DIM for f in feats.feature)
    norms = [float(np.linalg.norm(f)) for f in feats.feature]
    assert all(abs(n - 1.0) < 1e-5 for n in norms)
    frames = multimodal.frame_sample_plan(media).toPandas()
    assert (frames.frame_ts_ms >= 0).all()
    # plumbing mode still works over arbitrary bytes
    fake = multimodal.extract_features(media,
                                       deterministic_features=True).toPandas()
    assert len(fake) == 48


def test_image_decoders_roundtrip():
    rng = np.random.default_rng(0)
    for ch in (1, 3, 4):
        h, w = int(rng.integers(1, 40)), int(rng.integers(1, 40))
        arr = rng.integers(0, 256, (h, w, ch)).astype(np.uint8)
        filt = rng.integers(0, 5, h)  # exercise every PNG filter type
        dec = multimodal.png_decode(
            multimodal.png_encode(arr, row_filters=filt))
        assert np.array_equal(dec, arr)
    arr = rng.integers(0, 256, (11, 13, 3)).astype(np.uint8)  # odd width: BMP pad
    assert np.array_equal(multimodal.ppm_decode(multimodal.ppm_encode(arr)), arr)
    assert np.array_equal(multimodal.bmp_decode(multimodal.bmp_encode(arr)), arr)
    s = rng.integers(-30000, 30000, 1234).astype(np.int16)
    dec, rate = multimodal.wav_decode(multimodal.wav_encode(s, rate=16000))
    assert rate == 16000 and np.array_equal(dec[:, 0], s)
    assert multimodal.mp4_duration_ms(multimodal.mp4_encode_stub(2500)) == 2500


def test_image_stats_closed_form(spark):
    """image_stats over the synthetic PNG/PPM/BMP table must reproduce the
    closed-form pixel sums — pins unfiltering, padding, and BGR handling."""
    imgs = multimodal.synth_images(spark, 30)
    got = multimodal.image_stats(imgs).toPandas().sort_values("media_id")
    for _, r in got.iterrows():
        i = int(r.media_id)
        w, h = 8 + i % 9, 8 + (i * 3) % 7
        ch = (1, 3, 4)[(i // 3) % 3] if r.fmt == "png" else 3
        assert (r.width, r.height, r.channels) == (w, h, ch)
        expect = sum((x + y + c + i) % 256
                     for y in range(h) for x in range(w) for c in range(ch))
        assert int(r.pix_sum) == expect, i


def test_embedding_neardup_bucketed_matches_exact(spark):
    """The bucketed (LSH + exact rerank) plan must reproduce the all-pairs
    result on data with planted near-duplicates: rerank makes every cosine
    exact, and the probe count is sized for full recall here."""
    rng = np.random.default_rng(13)
    base = rng.standard_normal((40, 16)).astype(np.float32)
    rows = []
    vid = 0
    for i in range(40):
        rows.append((vid, base[i].tolist())); vid += 1
        if i % 5 == 0:  # planted near-dup: tiny perturbation
            pert = base[i] + rng.standard_normal(16).astype(np.float32) * 0.02
            rows.append((vid, pert.tolist())); vid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    exact = {(r.vec_a, r.vec_b, r.cosine) for r in
             dedup.embedding_neardup_pairs(df, threshold=0.9,
                                           exact=True).collect()}
    bucketed = {(r.vec_a, r.vec_b, r.cosine) for r in
                dedup.embedding_neardup_pairs(df, threshold=0.9, exact=False,
                                              n_planes=4, probes=12,
                                              dim=16).collect()}
    assert exact, "planted dups must qualify"
    assert bucketed == exact


def test_embedding_neardup_boundary_recall(spark):
    """Recall on pairs planted JUST ABOVE the threshold — the hard case for
    LSH banding (a boundary-cosine pair has the lowest collision prob). The
    probe count follows the documented sizing formula: at t=0.5 with
    n_planes=3, p=(1-acos(t)/pi)^3=0.30, so 24 tables miss a boundary pair
    with prob (1-p)^24 ~ 2e-4; with 16 planted pairs the whole-set miss
    prob is <1% and the seeded planes make the outcome deterministic."""
    rng = np.random.default_rng(41)
    t = 0.5
    rows, vid = [], 0
    for i in range(16):
        a = rng.standard_normal(24).astype(np.float64)
        a /= np.linalg.norm(a)
        # construct b with cosine(a, b) in (t, t + 0.03]: rotate a toward
        # an orthogonal direction by angle just under acos(t)
        r = rng.standard_normal(24).astype(np.float64)
        r -= (r @ a) * a
        r /= np.linalg.norm(r)
        theta = np.arccos(min(1.0, t + 0.005 + 0.02 * rng.random()))
        b = np.cos(theta) * a + np.sin(theta) * r
        rows.append((vid, a.astype(np.float32).tolist())); vid += 1
        rows.append((vid, b.astype(np.float32).tolist())); vid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    exact = {(r.vec_a, r.vec_b) for r in
             dedup.embedding_neardup_pairs(df, threshold=t,
                                           exact=True).collect()}
    bucketed = {(r.vec_a, r.vec_b) for r in
                dedup.embedding_neardup_pairs(df, threshold=t, exact=False,
                                              n_planes=3,
                                              probes=24).collect()}
    assert len(exact) >= 16, "all planted boundary pairs must qualify"
    assert bucketed == exact


def test_ngram_jaccard_df_cap_drops_boilerplate(spark):
    """Heavy-shingle cap: a token present in every doc must not create
    O(N^2) candidate pairs; with the cap the boilerplate-only pairs vanish
    while true near-dups (sharing rare shingles) survive."""
    rows = [(i, f"boilerplate common rare{i // 2} word{i}")
            for i in range(20)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    uncapped = dedup.ngram_jaccard_pairs(df, shingle_n=1,
                                         threshold=0.2).toPandas()
    capped = dedup.ngram_jaccard_pairs(df, shingle_n=1, threshold=0.2,
                                       max_shingle_df=2).toPandas()
    # cap=2 keeps only the rare{i//2} and word{i} shingles: exactly the
    # consecutive-pair docs intersect
    got = {(r.doc_a, r.doc_b) for r in capped.itertuples()}
    assert got == {(2 * i, 2 * i + 1) for i in range(10)}
    # uncapped sees the boilerplate intersection on every pair
    assert len(uncapped) > len(capped)


def test_dedup_clusters_vs_union_find(spark):
    """Connected components via min-label propagation must match a
    driver-side union-find on the same edge list — including a long
    chain (worst-case diameter for the propagation loop), a star, an
    isolated pair, and two components that must NOT merge."""
    edges = ([(i, i + 1) for i in range(100, 110)]      # 11-node chain
             + [(7, 3), (7, 5), (7, 9)]                  # star, min inside
             + [(200, 201)]                              # isolated pair
             + [(50, 60), (61, 60)])                     # v-shape
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    expected = {x: find(x) for x in parent}

    df = spark.createDataFrame(edges, "doc_a long, doc_b long")
    got = {r["doc_id"]: r["cluster_id"]
           for r in dedup.dedup_clusters(df).collect()}
    assert got == expected
    # canonical-representative convention: cluster_id is a member and min
    assert all(cid in got and cid <= d for d, cid in got.items())


def test_dedup_clusters_reliable_checkpoint_resume(spark, tmp_path):
    """checkpoint_dir mode: (a) results identical to the in-memory loop,
    (b) a run killed mid-loop resumes from durable state — simulated by
    pre-running a bounded number of iterations, then calling again with
    the same checkpoint_dir — and (c) the resumed run does not restart
    from iteration 0 (the manifest's iteration counter advances)."""
    import json
    import os

    edges = ([(i, i + 1) for i in range(100, 110)]      # diameter-10 chain
             + [(7, 3), (7, 5), (7, 9)]
             + [(200, 201)])
    df = spark.createDataFrame(edges, "doc_a long, doc_b long")
    expected = {r["doc_id"]: r["cluster_id"]
                for r in dedup.dedup_clusters(df).collect()}

    ckpt = str(tmp_path / "cc_state")
    # (b) partial run: 3 iterations is far short of the chain's diameter
    partial = {r["doc_id"]: r["cluster_id"]
               for r in dedup.dedup_clusters(
                   df, max_iters=3, checkpoint_dir=ckpt).collect()}
    assert partial != expected  # genuinely unconverged at the cut
    with open(os.path.join(ckpt, "manifest.json")) as f:
        state = json.load(f)["metrics"]["cc_state"]
    assert state["iter"] == 3 and not state["converged"]
    # resume: picks up at iteration 3 and converges
    got = {r["doc_id"]: r["cluster_id"]
           for r in dedup.dedup_clusters(
               df, checkpoint_dir=ckpt).collect()}
    assert got == expected
    with open(os.path.join(ckpt, "manifest.json")) as f:
        state = json.load(f)["metrics"]["cc_state"]
    assert state["converged"] and state["iter"] > 3


def test_ivf_ann_recall_and_exact_scores(embeddings):
    """IVF ANN: recall vs brute force at generous nprobe; returned cosines
    are EXACT (rerank is the exact expression, approximation is only which
    candidates are probed); nprobe=nlists degenerates to exhaustive search
    (recall 1.0)."""
    qids = list(range(8))
    exact = similarity.cosine_topk(embeddings, qids, k=5).toPandas()
    ann = similarity.ivf_ann_topk(embeddings, qids, k=5, nlists=8,
                                  nprobe=4, train_sample=400,
                                  iters=4).toPandas()
    hits = tot = 0
    for q in qids:
        e = set(exact[exact.qid == q].vid)
        a = set(ann[ann.qid == q].vid)
        hits += len(e & a)
        tot += len(e)
    assert hits / tot >= 0.6  # near-random vectors, half the lists probed
    # exactness of returned scores: every (qid, vid) ANN returns must carry
    # the same cosine the exact path computes
    key = exact.set_index(["qid", "vid"]).cosine
    for r in ann.itertuples(index=False):
        if (r.qid, r.vid) in key.index:
            assert abs(key.loc[(r.qid, r.vid)] - r.cosine) < 1e-9
    # all-lists probe == exhaustive
    full = similarity.ivf_ann_topk(embeddings, qids, k=5, nlists=8,
                                   nprobe=8, train_sample=400,
                                   iters=4).toPandas()
    a = full.sort_values(["qid", "rank"]).reset_index(drop=True)
    b = exact.sort_values(["qid", "rank"]).reset_index(drop=True)
    assert (a.vid.values == b.vid.values).all()


def test_ivf_ann_unknown_ids_and_empty_table(spark, embeddings):
    """Unknown query ids / an empty table return an empty result, not a
    numpy stack error mid-plan (parity with lsh_ann_topk)."""
    out = similarity.ivf_ann_topk(embeddings, [999_999], k=5, nlists=8,
                                  train_sample=400, iters=2)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == \
        ["qid", "vid", "cosine", "rank"]
    empty = spark.createDataFrame(
        [], "vec_id long, embedding array<float>")
    assert similarity.ivf_ann_topk(empty, [0], k=5).count() == 0


def test_multi_bucket_udf_matches_per_seed(embeddings):
    """The fused multi-table bucket UDF must emit exactly the per-seed
    lsh_bucket_udf ids (r6 optimization: one Arrow pass + stacked matmul
    instead of one UDF pass per probe table)."""
    from pyspark.sql import functions as F

    e = embeddings.select(F.col("vec_id").alias("vid"),
                          F.col("embedding").alias("v"))
    seeds = [7, 8, 9]
    multi = similarity.lsh_multi_bucket_udf(None, 5, seeds)
    got = (e.select("vid", F.posexplode(multi("v")).alias("tbl", "bucket"))
           .toPandas().set_index(["vid", "tbl"]).bucket.to_dict())
    for t, s in enumerate(seeds):
        one = similarity.lsh_bucket_udf(None, 5, s)
        ref = (e.select("vid", one("v").alias("bucket"))
               .toPandas().set_index("vid").bucket.to_dict())
        for vid, b in ref.items():
            assert got[(vid, t)] == b


def test_dedup_clusters_driver_path_matches_distributed(spark, monkeypatch):
    """r6: bounded driver union-find must emit exactly the distributed
    min-label propagation's (doc_id, cluster_id) rows."""
    rows = [(1, 5), (5, 9), (20, 21), (40, 41), (41, 40), (9, 1), (60, 61),
            (61, 62), (62, 63), (63, 2)]
    pairs = spark.createDataFrame(rows, "doc_a long, doc_b long")
    fast = {(r.doc_id, r.cluster_id)
            for r in dedup.dedup_clusters(pairs).collect()}
    monkeypatch.setattr(dedup, "CLUSTERS_DRIVER_MAX_EDGES", 0)
    slow = {(r.doc_id, r.cluster_id)
            for r in dedup.dedup_clusters(pairs).collect()}
    assert fast == slow
    assert fast == {(1, 1), (5, 1), (9, 1), (20, 20), (21, 20), (40, 40),
                    (41, 40), (60, 2), (61, 2), (62, 2), (63, 2), (2, 2)}


@pytest.mark.parametrize("id_type", ["int", "long"])
def test_dedup_clusters_branches_share_schema(spark, monkeypatch, id_type):
    """Both dedup_clusters branches (driver union-find, distributed label
    propagation) return the same rows under one (doc_id long,
    cluster_id long) schema, whatever integer type the pair ids have."""
    rows = [(1, 5), (5, 9), (20, 21), (9, 1), (60, 61), (61, 2)]
    pairs = spark.createDataFrame(rows, f"doc_a {id_type}, doc_b {id_type}")
    fast = dedup.dedup_clusters(pairs)
    monkeypatch.setattr(dedup, "CLUSTERS_DRIVER_MAX_EDGES", 0)
    slow = dedup.dedup_clusters(pairs)
    assert fast.schema == slow.schema
    assert fast.dtypes == [("doc_id", "bigint"), ("cluster_id", "bigint")]
    assert sorted(fast.collect()) == sorted(slow.collect())
