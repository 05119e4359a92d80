"""Training-data pipeline operators: brute-force oracles for dedup,
similarity search, and text stats on small deterministic corpora."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from barefoot_spark.operators import datapipe as D


# ---------------------------------------------------------------------------
# single-document reference paths: the batch kernels in datapipe.py must
# be bit-identical to these
# ---------------------------------------------------------------------------

def _shingle_hashes(text: str, k: int = 5) -> np.ndarray:
    """Rolling char k-gram hashes (uint64)."""
    b = np.frombuffer(text.encode("utf-8", "ignore"), dtype=np.uint8)
    if len(b) < k:
        b = np.pad(b, (0, k - len(b)), constant_values=32)
    # polynomial rolling hash over a stride-tricks window
    win = np.lib.stride_tricks.sliding_window_view(b, min(k, len(b)))
    mult = np.power(np.uint64(1000003), np.arange(win.shape[1], dtype=np.uint64))
    return (win.astype(np.uint64) * mult).sum(axis=1, dtype=np.uint64)


def minhash_signature_one(text: str, num_perm: int = 64, shingle_k: int = 5,
                          seed: int = 42) -> np.ndarray:
    """Single-doc reference path: (a*x+b) mod p, min
    per permutation. min over duplicate shingles == min over unique, so
    no dedup is needed."""
    a, b = D._minhash_params(num_perm, seed)
    sh = _shingle_hashes(text or "", shingle_k)
    vals = (a[:, None] * sh[None, :] + b[:, None]) % np.uint64(D._MERSENNE)
    return vals.min(axis=1).astype(np.int64)


def simhash_one(text: str) -> int:
    """Single-doc reference path."""
    toks = (text or "").lower().split()
    if not toks:
        return 0
    hs = np.array([hash_token(tok) for tok in toks], dtype=np.uint64)
    bits = ((hs[:, None] >> np.arange(64, dtype=np.uint64)[None, :])
            & np.uint64(1)).astype(np.int64)
    votes = (2 * bits - 1).sum(axis=0)
    val = np.uint64(0)
    for bpos in range(64):
        if votes[bpos] > 0:
            val |= np.uint64(1) << np.uint64(bpos)
    return int(val.astype(np.int64))


def hash_token(tok: str) -> int:
    """Deterministic 64-bit FNV-1a (stable across workers, unlike
    Python's salted hash())."""
    h = 0xCBF29CE484222325
    for ch in tok.encode("utf-8", "ignore"):
        h = ((h ^ ch) * 0x100000001B3) & 0xFFFFFFFFFFFFFFFF
    return h


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),        # exact dup of 1
        (3, "the quick brown fox jumped over the lazy dog"),       # near dup
        (4, "completely different content about spark engines"),
        (5, "pack my box with five dozen liquor jugs"),
        (6, "the quick brown fox jumps over a lazy dog"),          # near dup
        (7, ""),
    ]
    return spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))


@pytest.fixture(scope="module")
def emb(spark):
    rng = np.random.default_rng(42)
    base = rng.normal(size=(20, 64))
    base[5] = base[0] + rng.normal(scale=0.01, size=64)  # near dup of 0
    pdf = pd.DataFrame({"vec_id": range(20), "embedding": [v for v in base]})
    return spark.createDataFrame(pdf)


def test_exact_dedup(spark, docs):
    out = D.exact_dedup(docs).toPandas()
    assert out["dup_count"].sum() == 7
    dup = out[out.dup_count == 2]
    assert len(dup) == 1 and dup.iloc[0]["canonical_id"] == 1


def test_minhash_dedup_finds_near_dups(spark, docs):
    out = D.minhash_dedup(docs, jaccard_threshold=0.5).toPandas()
    pairs = set(map(tuple, out[["left_id", "right_id"]].to_numpy()))
    assert (1, 2) in pairs  # exact dup certainly caught
    assert any(p in pairs for p in [(1, 3), (2, 3), (1, 6), (2, 6)])
    assert not any({4, 5} & set(p) for p in pairs)


def test_minhash_estimate_close_to_true_jaccard(spark, docs):
    out = D.minhash_dedup(docs, jaccard_threshold=0.0, num_perm=128).toPandas()
    row = out[(out.left_id == 1) & (out.right_id == 2)]
    assert len(row) and row.iloc[0]["est_jaccard"] == 1.0


def test_simhash_dedup(spark, docs):
    out = D.simhash_dedup(docs, max_hamming=10).toPandas()
    pairs = set(map(tuple, out[["left_id", "right_id"]].to_numpy()))
    assert (1, 2) in pairs
    ham = dict(zip(map(tuple, out[["left_id", "right_id"]].to_numpy()), out["hamming"]))
    assert ham[(1, 2)] == 0


def test_ngram_jaccard_exact(spark, docs):
    pairs = spark.createDataFrame(pd.DataFrame(
        [(1, 2), (1, 4)], columns=["left_id", "right_id"]))
    out = D.ngram_jaccard(docs, pairs, n=3).toPandas().set_index(["left_id", "right_id"])
    assert out.loc[(1, 2), "jaccard"] == 1.0
    assert out.loc[(1, 4), "jaccard"] == 0.0


def test_brute_force_topk_oracle(spark, emb):
    qpdf = emb.toPandas().iloc[:2]
    queries = spark.createDataFrame(pd.DataFrame({
        "q_id": qpdf["vec_id"], "q_vec": qpdf["embedding"]}))
    out = D.brute_force_topk(emb, queries, k=5).toPandas()
    # numpy oracle
    m = np.stack(emb.toPandas().sort_values("vec_id")["embedding"].to_numpy())
    mn = m / np.linalg.norm(m, axis=1, keepdims=True)
    for q in (0, 1):
        sims = mn @ mn[q]
        expect = np.argsort(-sims, kind="stable")[:5]
        got = out[out.q_id == q].sort_values("rank")["vec_id"].to_numpy()
        assert list(got) == list(expect)
    # vec 5 is the planted near-dup of vec 0
    assert out[(out.q_id == 0) & (out["rank"] == 2)].iloc[0]["vec_id"] == 5


def test_lsh_topk_recall(spark, emb):
    qpdf = emb.toPandas().iloc[:3]
    queries = spark.createDataFrame(pd.DataFrame({
        "q_id": qpdf["vec_id"], "q_vec": qpdf["embedding"]}))
    exact = D.brute_force_topk(emb, queries, k=3).toPandas()
    approx = D.lsh_bucket_topk(emb, queries, k=3, probe_hamming=2).toPandas()
    # self always found; recall over this tiny set should be decent
    hits = 0
    for q in (0, 1, 2):
        e = set(exact[exact.q_id == q]["vec_id"])
        a = set(approx[approx.q_id == q]["vec_id"])
        hits += len(e & a)
    assert hits >= 5


def test_cosine_near_dup(spark, emb):
    out = D.cosine_near_dup(emb, threshold=0.95).toPandas()
    pairs = set(map(tuple, out[["left_id", "right_id"]].to_numpy()))
    assert (0, 5) in pairs


def test_text_stats_matches_duckdb_oracle(spark, docs):
    import duckdb
    got = D.text_stats(docs).toPandas().sort_values("doc_id").reset_index(drop=True)
    con = duckdb.connect()
    con.register("documents", docs.toPandas())
    want = con.execute(D.text_stats_oracle_sql()).df() \
        .sort_values("doc_id").reset_index(drop=True)
    for col in ["word_tokens", "n_chars_calc", "punct_ratio", "stopword_ratio",
                "mean_word_len", "quality_score", "lang_guess"]:
        assert got[col].tolist() == want[col].tolist(), col


def test_doc_fingerprint_deterministic(spark, docs):
    a = D.doc_fingerprint(docs).toPandas().set_index("doc_id")["fingerprint"]
    b = D.doc_fingerprint(docs).toPandas().set_index("doc_id")["fingerprint"]
    for i in a.index:
        assert list(a[i]) == list(b[i])
    # identical docs share fingerprints
    assert list(a[1]) == list(a[2])


def test_ivf_topk_full_probe_is_exact(spark):
    """IVF with nprobe == n_centroids scans every inverted list ->
    must equal brute force exactly (the correctness anchor of the
    approximation knob)."""
    rng = np.random.default_rng(9)
    centers = rng.normal(size=(4, 64)) * 3
    vecs = np.concatenate([c + rng.normal(size=(25, 64)) for c in centers])
    pdf = pd.DataFrame({"vec_id": range(len(vecs)), "embedding": list(vecs)})
    emb = spark.createDataFrame(pdf)
    queries = spark.createDataFrame(pd.DataFrame({
        "q_id": [0, 30, 60], "q_vec": [vecs[0], vecs[30], vecs[60]]}))
    C = D.kmeans_centroids(vecs, k=8, seed=42)
    exact = D.brute_force_topk(emb, queries, k=5).toPandas() \
        .sort_values(["q_id", "rank"]).reset_index(drop=True)
    ivf = D.ivf_topk(emb, queries, k=5, centroids=C, nprobe=8).toPandas() \
        .sort_values(["q_id", "rank"]).reset_index(drop=True)
    assert exact["vec_id"].tolist() == ivf["vec_id"].tolist()
    assert np.allclose(exact["cosine"], ivf["cosine"])


def test_ivf_topk_recall_on_clustered_data(spark):
    """nprobe=2 of 8 lists on well-clustered data: recall@5 >= 0.9
    (queries live inside clusters; the probed lists hold their
    neighbors)."""
    rng = np.random.default_rng(17)
    centers = rng.normal(size=(8, 64)) * 4
    vecs = np.concatenate([c + rng.normal(size=(30, 64)) for c in centers])
    pdf = pd.DataFrame({"vec_id": range(len(vecs)), "embedding": list(vecs)})
    emb = spark.createDataFrame(pdf)
    q_ids = [0, 35, 70, 105, 140]
    queries = spark.createDataFrame(pd.DataFrame({
        "q_id": q_ids, "q_vec": [vecs[i] for i in q_ids]}))
    C = D.kmeans_centroids(vecs, k=8, seed=42)
    exact = D.brute_force_topk(emb, queries, k=5).toPandas()
    ivf = D.ivf_topk(emb, queries, k=5, centroids=C, nprobe=2).toPandas()
    hits = total = 0
    for q in q_ids:
        e = set(exact[exact.q_id == q]["vec_id"])
        a = set(ivf[ivf.q_id == q]["vec_id"])
        hits += len(e & a)
        total += len(e)
    assert hits / total >= 0.9


def test_minhash_batch_matches_single():
    """Batch-vectorized signature kernel must be bit-identical to the
    per-doc reference path — including empty, short (< k), unicode and
    duplicate-shingle texts."""
    texts = ["", "ab", "hello world hello world", "käse strasse éé",
             "x" * 300, " ".join(f"tok{i}" for i in range(200)), None]
    fn = D.minhash_signature_udf(num_perm=32, shingle_k=5).func
    got = fn(pd.Series(texts)).tolist()
    for t, g in zip(texts, got):
        want = minhash_signature_one(t, num_perm=32, shingle_k=5)
        assert list(g) == list(want), t


def test_minhash_band_key_poly_equals_hash(spark, docs):
    """The arithmetic (Horner mod 2^64 decimal) band key and the
    Murmur3 F.hash key are both proxies for "band signature slices
    equal" — after the est_jaccard verify the final pair set must be
    identical on the fixture corpus (the poly key is what the DuckDB
    oracle mirrors)."""
    def canon(df):
        return df.toPandas().sort_values(["left_id", "right_id"]) \
            .reset_index(drop=True)
    a = canon(D.minhash_dedup(docs, jaccard_threshold=0.5, band_key="hash"))
    b = canon(D.minhash_dedup(docs, jaccard_threshold=0.5, band_key="poly"))
    assert a.equals(b)


def test_hyperplane_bucket_expr_equals_udf(spark, emb):
    """The Catalyst fold bucket (bucket_impl="expr", the DuckDB-oracle
    path) and the numpy-matmul UDF bucket must yield the same final
    results on the fixture embeddings — the two dot products differ
    only in summation order, which cannot flip a sign unless a dot sits
    within float-epsilon of zero."""
    def canon(df, cols):
        return df.toPandas().sort_values(cols).round(9) \
            .reset_index(drop=True)
    a = canon(D.cosine_near_dup(emb, threshold=0.5, bucket_impl="udf"),
              ["left_id", "right_id"])
    b = canon(D.cosine_near_dup(emb, threshold=0.5, bucket_impl="expr"),
              ["left_id", "right_id"])
    assert a.equals(b)
    qpdf = emb.toPandas().iloc[:3]
    queries = spark.createDataFrame(pd.DataFrame({
        "q_id": qpdf["vec_id"], "q_vec": qpdf["embedding"]}))
    u = canon(D.lsh_bucket_topk(emb, queries, k=5, bucket_impl="udf"),
              ["q_id", "rank"])
    e = canon(D.lsh_bucket_topk(emb, queries, k=5, bucket_impl="expr"),
              ["q_id", "rank"])
    assert u.equals(e)


def test_doc_fingerprint_batch_matches_perdoc(spark):
    """Batch-vectorized winnowing kernel must be bit-identical to the
    per-document reference formulation — mixed long/short/empty/unicode
    docs in one Arrow batch (boundary-straddling windows masked out)."""
    texts = ["", "ab", "x" * 100, "käse strasse éé unicode bytes",
             None, "exactly8", "the quick brown fox jumps over the lazy dog",
             "y" * 23]
    got = D.doc_fingerprint(
        spark.createDataFrame(pd.DataFrame({
            "doc_id": range(len(texts)), "text": texts})).coalesce(1)) \
        .toPandas().set_index("doc_id")["fingerprint"]
    for i, t in enumerate(texts):
        hs = _shingle_hashes(t or "", 8).astype(np.uint64)
        if len(hs) >= 16:
            want = np.lib.stride_tricks.sliding_window_view(hs, 16).min(axis=1)
        else:
            want = hs.min(keepdims=True) if len(hs) else np.zeros(1, np.uint64)
        assert list(got[i]) == list(np.unique(want).astype(np.int64)), t


def test_simhash_batch_matches_single():
    texts = ["", "one", "the quick brown fox", "a a a b b", "Ünïcode tökens",
             " ".join(f"w{i%7}" for i in range(500)), None]
    fn = D.simhash_udf().func
    got = fn(pd.Series(texts)).tolist()
    for t, g in zip(texts, got):
        assert int(g) == simhash_one(t), t


def test_fnv1a_batch_matches_scalar():
    toks = ["", "a", "hello", "Ünïcode", "x" * 64, "tok123"]
    got = D.fnv1a_batch(toks)
    for t, g in zip(toks, got):
        assert int(g) == hash_token(t)

def test_materialize_reliable_equals_local(spark, docs, tmp_path):
    """ckpt.materialize knob: "reliable" (StageRunner parquet commit —
    the fault-tolerant cluster setting) must return exactly the
    "local" (localCheckpoint) results for every operator that shares a
    materialized subtree; the reliable run also leaves resumable stage
    outputs + per-partition metrics behind."""
    from barefoot_spark.ckpt import StageRunner
    from barefoot_spark.operators import analysis as A

    def canon(df, cols):
        return df.toPandas().sort_values(cols).reset_index(drop=True)

    r1 = StageRunner(spark, str(tmp_path / "mh"))
    a = canon(D.minhash_dedup(docs, jaccard_threshold=0.5),
              ["left_id", "right_id"])
    b = canon(D.minhash_dedup(docs, jaccard_threshold=0.5,
                              materialize="reliable", ckpt_runner=r1),
              ["left_id", "right_id"])
    assert a.equals(b)
    assert r1.is_complete("minhash_bands") and r1.is_complete("minhash_pairs")
    assert r1.metrics().count() > 0

    r2 = StageRunner(spark, str(tmp_path / "sh"))
    a = canon(D.simhash_dedup(docs), ["left_id", "right_id"])
    b = canon(D.simhash_dedup(docs, materialize="reliable", ckpt_runner=r2),
              ["left_id", "right_id"])
    assert a.equals(b)
    assert r2.is_complete("simhash_sig")

    rng = np.random.default_rng(11)
    vals = np.round(np.cumsum(rng.uniform(0.005, 0.3, 300)), 6)
    vdf = spark.createDataFrame(
        pd.DataFrame({"id": np.arange(len(vals)), "value": vals}))
    r3 = StageRunner(spark, str(tmp_path / "db"))
    a = canon(A.dbcan_1d_core(vdf, eps=0.2, min_pts=4, n_buckets=6),
              ["id"])
    b = canon(A.dbcan_1d_core(vdf, eps=0.2, min_pts=4, n_buckets=6,
                              materialize="reliable", ckpt_runner=r3),
              ["id"])
    assert a.equals(b)
    assert r3.is_complete("dbcan_core_seg")

    with pytest.raises(ValueError):
        D.simhash_dedup(docs, materialize="reliable")   # runner required
    with pytest.raises(ValueError):
        D.simhash_dedup(docs, materialize="bogus")

def test_cosine_near_dup_hot_bucket_guard(spark):
    """Adversarial all-near-duplicate corpus: every vector lands in the
    same LSH bucket. The salt-split guard must (a) return exactly the
    unguarded pair set, (b) actually engage (multiple salt chunks), so
    no single task owns the O(n^2) bucket at scale."""
    rng = np.random.default_rng(3)
    base = rng.normal(size=64)
    vecs = base[None, :] + rng.normal(scale=1e-3, size=(200, 64))
    pdf = pd.DataFrame({"vec_id": range(200), "embedding": list(vecs)})
    df = spark.createDataFrame(pdf)

    def canon(out):
        return out.toPandas().sort_values(["left_id", "right_id"]) \
            .round({"cosine": 9}).reset_index(drop=True)

    unguarded = canon(D.cosine_near_dup(df, threshold=0.9,
                                        bucket_cap=10 ** 9))
    guarded = canon(D.cosine_near_dup(df, threshold=0.9, bucket_cap=32))
    assert len(unguarded) == 200 * 199 // 2        # all pairs survive
    assert unguarded.equals(guarded)
    # sanity: mixed corpus (hot cluster + background) also identical
    bg = rng.normal(size=(100, 64))
    pdf2 = pd.DataFrame({"vec_id": range(300),
                         "embedding": list(np.vstack([vecs, bg]))})
    df2 = spark.createDataFrame(pdf2)
    a = canon(D.cosine_near_dup(df2, threshold=0.9, bucket_cap=10 ** 9))
    b = canon(D.cosine_near_dup(df2, threshold=0.9, bucket_cap=16))
    assert a.equals(b)
    # auto-sized code length clamps to the documented range
    c = D.cosine_near_dup(df, threshold=0.9, n_planes=None, bucket_cap=32)
    assert c.count() == 200 * 199 // 2

def test_doc_fingerprint_oracle_short_docs(spark):
    """The DuckDB fingerprint twin must mirror the kernel's short-doc
    branches (pad-to-k for texts under 8 chars, min-over-all when fewer
    than 16 hashes exist, NULL -> "") — latent divergences here only
    escaped the driver gate because every fixture doc is long."""
    import duckdb

    from barefoot_spark import entry_queries as EQ

    texts = ["", "a", "abc", "exactly8", "twelve chars",
             "twenty-two characters!",
             "twenty-three characters", None,
             "a perfectly ordinary long document with plenty of "
             "characters to produce many sliding windows"]
    pdf = pd.DataFrame({"doc_id": range(len(texts)), "text": texts})

    out = D.doc_fingerprint(spark.createDataFrame(pdf))
    got = (out.select("doc_id", F.explode("fingerprint").alias("fp"))
           .distinct().toPandas()
           .sort_values(["doc_id", "fp"]).reset_index(drop=True))

    con = duckdb.connect()
    con.register("documents", pdf)
    want = con.execute(EQ.oracle_doc_fingerprint("unused")).df() \
        .sort_values(["doc_id", "fp"]).reset_index(drop=True)
    assert got["doc_id"].tolist() == want["doc_id"].tolist()
    assert got["fp"].tolist() == want["fp"].tolist()
    # every doc fingerprints (the short-doc branches emit one value)
    assert set(got["doc_id"]) == set(range(len(texts)))

def test_bpe_tokens_regex_parity(spark):
    """The GPT-2-style pretokenizer count must agree between Java regex
    (Spark) and RE2 (DuckDB) on contraction suffixes, leading-space
    runs, punctuation clusters and empty text — the constructs the
    restricted pattern was designed around."""
    import duckdb

    texts = ["I'll say it's a test, isn't it? 42 tokens-ish...",
             "hello   world\n\tnew line", "", "1234 $$%% mixed99up",
             "don't you've we're I'd o'clock ''", "   leading spaces"]
    pdf = pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
    got = (D.text_stats(spark.createDataFrame(pdf))
           .select("doc_id", "bpe_tokens").toPandas()
           .sort_values("doc_id"))
    con = duckdb.connect()
    con.register("d", pdf)
    pat = D._BPE_PATTERN.replace("'", "''")
    want = con.execute(
        f"SELECT doc_id, len(regexp_extract_all(text, '{pat}')) AS n "
        f"FROM d ORDER BY doc_id").df()
    assert got["bpe_tokens"].tolist() == want["n"].tolist()
    assert got["bpe_tokens"].tolist()[0] == 17   # pinned golden


# ---------------------------------------------------------------------------
# product quantization ANN
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def pq_books(emb):
    vecs = np.stack(emb.toPandas().sort_values("vec_id")["embedding"]
                    .to_numpy())
    return D.pq_train(vecs, m=8, ks=8, seed=42)


def test_pq_train_deterministic_shape(emb):
    vecs = np.stack(emb.toPandas().sort_values("vec_id")["embedding"]
                    .to_numpy())
    a = D.pq_train(vecs, m=8, ks=8, seed=42)
    b = D.pq_train(vecs, m=8, ks=8, seed=42)
    assert a.shape == (8, 8, 8)
    assert np.array_equal(a, b)
    with pytest.raises(ValueError):
        D.pq_train(vecs, m=7)


def test_pq_encode_expr_matches_udf(spark, emb, pq_books):
    """The codegen encode (expr path, the DuckDB-oracle form) and the
    numpy matmul fast path produce identical codes on the fixture —
    their accumulation orders differ only in the last ulp, which can
    matter only on exact score ties (absent from random data)."""
    ve = (emb.withColumn("__vd", F.col("embedding").cast("array<double>"))
          .select("vec_id", D.pq_code_col(pq_books, "__vd").alias("codes"))
          .toPandas().sort_values("vec_id"))
    vu = (emb.select("vec_id",
                     D.pq_encode_udf(pq_books)(F.col("embedding"))
                     .alias("codes"))
          .toPandas().sort_values("vec_id"))
    for a, b in zip(ve["codes"], vu["codes"]):
        assert list(a) == list(b)


def test_pq_adc_topk_finds_near_dup(spark, emb, pq_books):
    """ADC scoring ranks the planted near-duplicate (vec 5 ~ vec 0)
    into the top-3 for query 0, and every query's self-match is the
    ADC top-1 (its own codes maximize its own LUT on this corpus)."""
    queries = (emb.filter(F.col("vec_id") < 3)
               .select(F.col("vec_id").alias("q_id"),
                       F.col("embedding").alias("q_vec")))
    for impl in ("expr", "udf"):
        out = D.pq_adc_topk(emb, queries, k=3, codebooks=pq_books,
                            code_impl=impl).toPandas()
        for q in (0, 1, 2):
            top = out[out.q_id == q].sort_values("rank")["vec_id"].tolist()
            assert top[0] == q, impl
        assert 5 in out[out.q_id == 0]["vec_id"].tolist()


def test_ivfpq_full_probe_full_rerank_is_exact(spark, emb, pq_books):
    """nprobe = n_lists + rerank >= corpus size degrades IVFPQ to the
    exact brute-force ranking: all lists probed, every candidate
    exact-cosine re-ranked -> identical to brute_force_topk."""
    vecs = np.stack(emb.toPandas().sort_values("vec_id")["embedding"]
                    .to_numpy())
    C = D.kmeans_centroids(vecs, k=4, seed=42)
    queries = (emb.filter(F.col("vec_id") < 3)
               .select(F.col("vec_id").alias("q_id"),
                       F.col("embedding").alias("q_vec")))
    exact = D.brute_force_topk(emb, queries, k=5).toPandas() \
        .sort_values(["q_id", "rank"]).reset_index(drop=True)
    got = D.ivfpq_topk(emb, queries, k=5, centroids=C, codebooks=pq_books,
                       nprobe=4, rerank=100).toPandas() \
        .sort_values(["q_id", "rank"]).reset_index(drop=True)
    assert exact[["q_id", "vec_id", "rank"]].values.tolist() == \
        got[["q_id", "vec_id", "rank"]].values.tolist()
    assert np.allclose(exact["cosine"], got["cosine"])


def test_ivfpq_recall_on_clustered_data(spark):
    """nprobe=2 of 8 lists + ADC + rerank on well-clustered data:
    recall@5 >= 0.9 vs exact (same corpus as the IVF recall test;
    measured 1.0 at rerank=30, 0.72 at rerank=20 — the ADC candidate
    cut needs ~6x k headroom at ks=16 quantization noise)."""
    rng = np.random.default_rng(17)
    centers = rng.normal(size=(8, 64)) * 4
    vecs = np.concatenate([c + rng.normal(size=(30, 64)) for c in centers])
    pdf = pd.DataFrame({"vec_id": range(len(vecs)), "embedding": list(vecs)})
    emb = spark.createDataFrame(pdf)
    books = D.pq_train(vecs, m=8, ks=16, seed=42)
    C = D.kmeans_centroids(vecs, k=8, seed=42)
    q_ids = [0, 35, 70, 105, 140]
    queries = spark.createDataFrame(pd.DataFrame({
        "q_id": q_ids, "q_vec": [vecs[i] for i in q_ids]}))
    exact = D.brute_force_topk(emb, queries, k=5).toPandas()
    got = D.ivfpq_topk(emb, queries, k=5, centroids=C, codebooks=books,
                       nprobe=2, rerank=30).toPandas()
    hits = total = 0
    for q in q_ids:
        e = set(exact[exact.q_id == q]["vec_id"])
        a = set(got[got.q_id == q]["vec_id"])
        hits += len(e & a)
        total += len(e)
    assert hits / total >= 0.9


def test_pq_adc_matches_duckdb_oracle_microcorpus(spark, emb):
    """End-to-end bit-parity of the PQ pipeline against DuckDB on the
    module fixture (the entry-level parity at sf0.01 runs in the
    driver gate; this pins it in-repo at test scale): same codebooks,
    encode argmins and left-assoc ADC sums agree exactly, ranks and
    6dp-rounded scores identical."""
    import duckdb

    from barefoot_spark import entry_queries as EQ

    pdf = emb.toPandas().sort_values("vec_id")
    vecs = np.stack(pdf["embedding"].to_numpy())
    books = D.pq_train(vecs, m=8, ks=8, seed=42)
    m, ks, dsub = books.shape
    queries = (emb.filter(F.col("vec_id") < 3)
               .select(F.col("vec_id").alias("q_id"),
                       F.col("embedding").alias("q_vec")))
    got = (D.pq_adc_topk(emb, queries, k=5, codebooks=books,
                         code_impl="expr")
           .select("q_id", "vec_id", "rank", F.round("adc", 6).alias("adc"))
           .toPandas().sort_values(["q_id", "rank"]).reset_index(drop=True))
    sql = EQ._pq_oracle_sql(books, q_max=3, k=5)
    con = duckdb.connect()
    con.register("embeddings", pdf)
    want = con.execute(sql).df().sort_values(["q_id", "rnk"]) \
        .reset_index(drop=True)
    assert got["vec_id"].tolist() == want["vec_id"].tolist()
    assert got["rank"].tolist() == want["rnk"].tolist()
    assert got["adc"].tolist() == want["adc"].tolist()


def test_pq_expr_encode_matches_scalar_reference(spark):
    """Independent scalar check of the codegen encode: codes from
    pq_code_col equal a pure-python reimplementation using the exact
    left-assoc accumulation order and first-occurrence argmax — the
    contract the DuckDB oracle depends on (NOT the matmul UDF, whose
    BLAS order differs in the last ulp)."""
    rng = np.random.default_rng(99)
    vecs = rng.normal(size=(40, 64))
    books = D.pq_train(rng.normal(size=(64, 64)), m=8, ks=8, seed=1)
    m, ks, dsub = books.shape
    pdf = pd.DataFrame({"vec_id": range(len(vecs)),
                        "embedding": [v.tolist() for v in vecs]})
    got = (spark.createDataFrame(pdf)
           .withColumn("__vd", F.col("embedding").cast("array<double>"))
           .select("vec_id", D.pq_code_col(books, "__vd").alias("codes"))
           .toPandas().sort_values("vec_id"))
    for row_i, codes in zip(got["vec_id"], got["codes"]):
        v = vecs[row_i]
        for sub in range(m):
            scores = []
            for c in range(ks):
                cent = books[sub, c]
                acc = v[sub * dsub] * cent[0]
                for j in range(1, dsub):
                    acc = acc + v[sub * dsub + j] * cent[j]
                scores.append(acc - 0.5 * float(np.dot(cent, cent)))
            best = max(scores)
            want = scores.index(best)       # first occurrence
            assert codes[sub] == want, (row_i, sub)


def test_pq_encode_tie_breaks_to_first_codeword(spark):
    """Duplicated codewords produce bitwise-equal scores; both encode
    paths and the oracle must pick the FIRST (lowest index) — pin it."""
    rng = np.random.default_rng(3)
    books = D.pq_train(rng.normal(size=(32, 16)), m=2, ks=4, seed=3)
    books[0, 2] = books[0, 0]               # tie: codeword 2 == codeword 0
    books[1, 3] = books[1, 1]
    vecs = books[0, 0].tolist() + books[1, 1].tolist()  # sits ON the dup'd words
    pdf = pd.DataFrame({"vec_id": [0], "embedding": [vecs]})
    emb = spark.createDataFrame(pdf)
    expr_codes = (emb.withColumn("__vd", F.col("embedding").cast("array<double>"))
                  .select(D.pq_code_col(books, "__vd").alias("codes"))
                  .toPandas()["codes"][0])
    udf_codes = (emb.select(D.pq_encode_udf(books)(F.col("embedding"))
                            .alias("codes")).toPandas()["codes"][0])
    assert list(expr_codes) == [0, 1]
    assert list(udf_codes) == [0, 1]


def test_ivf_index_partition_pruning(spark, tmp_path):
    """The persisted IVF index layout must prove the 100-TB claim: the
    probe's parquet scan carries the probed lists as PartitionFilters
    (pruned at file listing, before I/O) and the probe's results equal
    ivf_topk on the same centroids/nprobe."""
    import io
    import re
    from contextlib import redirect_stdout

    rng = np.random.default_rng(21)
    centers = rng.normal(size=(6, 64)) * 4
    vecs = np.concatenate([c + rng.normal(size=(20, 64)) for c in centers])
    pdf = pd.DataFrame({"vec_id": range(len(vecs)),
                        "embedding": [v.tolist() for v in vecs]})
    emb = spark.createDataFrame(pdf)
    C = D.kmeans_centroids(vecs, k=6, seed=42)
    path = str(tmp_path / "ivf_index")
    D.ivf_write_index(emb, C, path)
    q_ids = [0, 25, 50]
    queries = spark.createDataFrame(pd.DataFrame({
        "q_id": q_ids, "q_vec": [vecs[i].tolist() for i in q_ids]}))
    out = D.ivf_probe_index(spark, path, queries, k=5, centroids=C, nprobe=2)
    buf = io.StringIO()
    with redirect_stdout(buf):
        out.explain("formatted")
    plan = buf.getvalue()
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "list_id" in m.group(1) and " IN " in m.group(1), plan[:2000]
    # and the vector payload columns are pruned to what the probe needs
    assert "ReadSchema: struct<vec_id:bigint,embedding:array<double>>" in plan
    want = D.ivf_topk(emb, queries, k=5, centroids=C, nprobe=2).toPandas() \
        .sort_values(["q_id", "rank"]).reset_index(drop=True)
    got = out.toPandas().sort_values(["q_id", "rank"]).reset_index(drop=True)
    assert want[["q_id", "vec_id", "rank"]].values.tolist() == \
        got[["q_id", "vec_id", "rank"]].values.tolist()
    assert np.allclose(want["cosine"], got["cosine"])


def test_ivf_index_with_pq_codes_roundtrip(spark, tmp_path):
    """codebooks=... persists PQ codes alongside: reading ONLY
    (vec_id, codes, list_id) must reproduce the UDF encode exactly —
    the codes-only ADC scan layout."""
    rng = np.random.default_rng(22)
    vecs = rng.normal(size=(30, 64))
    books = D.pq_train(vecs, m=8, ks=8, seed=5)
    pdf = pd.DataFrame({"vec_id": range(len(vecs)),
                        "embedding": [v.tolist() for v in vecs]})
    emb = spark.createDataFrame(pdf)
    C = D.kmeans_centroids(vecs, k=3, seed=42)
    path = str(tmp_path / "ivfpq_index")
    D.ivf_write_index(emb, C, path, codebooks=books)
    stored = (spark.read.parquet(path).select("vec_id", "codes")
              .toPandas().sort_values("vec_id"))
    live = (emb.select("vec_id",
                       D.pq_encode_udf(books)(F.col("embedding"))
                       .alias("codes"))
            .toPandas().sort_values("vec_id"))
    for a, b in zip(stored["codes"], live["codes"]):
        assert list(a) == list(b)


def test_ivfpq_expr_matches_udf(spark):
    """The expr path (codegen left-assoc assignment + encode — the
    oracle-expressible form used by the gate entry) must produce the
    same ranking as the udf matmul fast path: identical (q_id, vec_id,
    rank) rows and allclose cosine on clustered data. Divergence is
    only possible on sub-ulp score ties, which real-valued corpora
    don't produce."""
    rng = np.random.default_rng(33)
    centers = rng.normal(size=(8, 64)) * 4
    vecs = np.concatenate([c + rng.normal(size=(25, 64)) for c in centers])
    pdf = pd.DataFrame({"vec_id": range(len(vecs)), "embedding": list(vecs)})
    emb = spark.createDataFrame(pdf)
    books = D.pq_train(vecs, m=8, ks=16, seed=42)
    C = D.kmeans_centroids(vecs, k=8, seed=42)
    q_ids = [0, 30, 60, 90]
    queries = spark.createDataFrame(pd.DataFrame({
        "q_id": q_ids, "q_vec": [vecs[i] for i in q_ids]}))
    kw = dict(k=5, centroids=C, codebooks=books, nprobe=3, rerank=20)
    udf = D.ivfpq_topk(emb, queries, **kw).toPandas() \
        .sort_values(["q_id", "rank"]).reset_index(drop=True)
    expr = D.ivfpq_topk(emb, queries, code_impl="expr",
                        assign_impl="expr", **kw).toPandas() \
        .sort_values(["q_id", "rank"]).reset_index(drop=True)
    assert udf[["q_id", "vec_id", "rank"]].values.tolist() == \
        expr[["q_id", "vec_id", "rank"]].values.tolist()
    assert np.allclose(udf["cosine"], expr["cosine"])


def test_dedup_keep_canonical(spark, docs):
    """Pairs -> clusters -> keep-list: docs {1,2,3,6} form one
    near-dup cluster under the default minhash params (canonical 1
    keeps, 2/3/6 drop, all report cluster_size 4); untouched docs are
    their own singleton keepers."""
    pairs = D.minhash_dedup(docs, jaccard_threshold=0.5)
    out = D.dedup_keep_canonical(docs, pairs).toPandas() \
        .set_index("doc_id").sort_index()
    cluster = {1, 2, 3, 6}
    assert set(out[out.cluster_size > 1].index) == cluster
    for d in cluster:
        assert out.loc[d, "canonical_id"] == 1
        assert out.loc[d, "cluster_size"] == 4
        assert bool(out.loc[d, "keep"]) == (d == 1)
    for d in (4, 5, 7):
        assert out.loc[d, "canonical_id"] == d
        assert bool(out.loc[d, "keep"]) and out.loc[d, "cluster_size"] == 1


# ---------------------------------------------------------------------------
# phash dedup / repetition stats / split assign (round 4)
# ---------------------------------------------------------------------------

def test_phash_dedup_matches_bruteforce(spark):
    """Banded hamming join == O(n^2) numpy brute force on the planted
    near-dup image corpus (recall certified by the block pigeonhole)."""
    from barefoot_spark.sources import images as IM
    pdf = IM.synth_images_with_dups_pdf(256)
    images = spark.createDataFrame(pdf, schema=IM.IMAGES_SCHEMA)
    out = D.phash_dedup(images).toPandas()
    got = {(r.left_id, r.right_id, int(r.hamming))
           for r in out.itertuples(index=False)}

    ph = pdf.phash.to_numpy().astype(np.int64).astype(np.uint64)
    ids = pdf.image_id.to_list()
    want = set()
    for i in range(len(ph)):
        for j in range(i + 1, len(ph)):
            h = bin(int(ph[i] ^ ph[j])).count("1")
            if h <= 3:
                a, b = sorted((ids[i], ids[j]))
                want.add((a, b, h))
    assert got == want and len(want) > 0


def test_phash_dedup_planted_exact_copies(spark):
    """A perturbation that flips no block bit yields hamming 0 — those
    planted exact-phash pairs must all surface."""
    from barefoot_spark.sources import images as IM
    pdf = IM.synth_images_with_dups_pdf(256)
    images = spark.createDataFrame(pdf, schema=IM.IMAGES_SCHEMA)
    out = D.phash_dedup(images, max_hamming=0).toPandas()
    assert (out.hamming == 0).all()
    ph = pdf.phash.to_numpy()
    import collections
    counts = collections.Counter(ph)
    expected_pairs = sum(c * (c - 1) // 2 for c in counts.values())
    assert len(out) == expected_pairs > 0


def test_repetition_stats_values(spark):
    rows = [(1, "a b a b c"),      # top 'a' (tie a/b -> lexicographic)
            (2, "hello"),
            (3, ""),
            (4, "x x x x")]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))
    out = {r.doc_id: r for r in D.repetition_stats(df).collect()}
    r1 = out[1]
    assert r1.n_words == 5 and r1.top_word == "a"
    assert abs(r1.top_word_frac - 0.4) < 1e-9
    # bigrams: [a b, b a, a b, b c] -> 4 total, 3 distinct
    assert abs(r1.dup_bigram_frac - 0.25) < 1e-9
    r2 = out[2]
    assert r2.n_words == 1 and r2.top_word == "hello"
    assert r2.top_word_frac == 1.0 and r2.dup_bigram_frac == 0.0
    r3 = out[3]
    assert r3.n_words == 0 and r3.top_word == "" and r3.top_word_frac == 0.0
    r4 = out[4]
    assert r4.n_words == 4 and abs(r4.top_word_frac - 1.0) < 1e-9
    # bigrams: [x x, x x, x x] -> 3 total, 1 distinct
    assert abs(r4.dup_bigram_frac - (1 - 1 / 3)) < 2e-6   # round(.,6)


def test_split_assign_deterministic(spark):
    df = spark.range(0, 2000).withColumnRenamed("id", "doc_id")
    out = D.split_assign(df).toPandas().set_index("doc_id")
    # exact arithmetic mirror
    for did in (0, 1, 7, 1999):
        h = (did * 2654435761 + 42) % (1 << 32)
        assert out.loc[did, "hash_bucket"] == h
        u = h / float(1 << 32)
        want = "train" if u < 0.9 else ("val" if u < 0.95 else "test")
        assert out.loc[did, "split"] == want
    frac = out.split.value_counts(normalize=True)
    assert abs(frac.get("train", 0) - 0.9) < 0.03
    assert abs(frac.get("val", 0) - 0.05) < 0.02
    assert abs(frac.get("test", 0) - 0.05) < 0.02
    # stable under re-evaluation and under repartitioning
    again = D.split_assign(df.repartition(13)).toPandas().set_index("doc_id")
    assert (again.sort_index().hash_bucket == out.sort_index().hash_bucket).all()


def test_dedup_keep_canonical_string_ids(spark):
    """Keep-list over STRING ids (image corpus): canonical = lexicographic
    min of the duplicate cluster; verified against a python union-find."""
    from barefoot_spark.sources import images as IM
    pdf = IM.synth_images_with_dups_pdf(192)
    images = spark.createDataFrame(pdf, schema=IM.IMAGES_SCHEMA)
    pairs = D.phash_dedup(images, max_hamming=3)
    out = D.dedup_keep_canonical(images, pairs, id_col="image_id") \
        .toPandas().set_index("image_id")
    assert out.canonical_id.dtype == object   # stayed a string column

    parent = {i: i for i in pdf.image_id}
    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    for r in pairs.collect():
        a, b = find(r.left_id), find(r.right_id)
        if a != b:
            parent[max(a, b)] = min(a, b)
    clusters = {}
    for i in pdf.image_id:
        clusters.setdefault(find(i), []).append(i)
    for root, members in clusters.items():
        canon = min(members)
        for m in members:
            assert out.loc[m, "canonical_id"] == canon
            assert bool(out.loc[m, "keep"]) == (m == canon)
            assert out.loc[m, "cluster_size"] == len(members)


def test_hamming_band_pairs_hot_bucket_guard(spark):
    """Adversarial all-identical-signature corpus: every (block, key)
    bucket is one degenerate hot bucket. With a small cap the salt
    tiling must still emit EXACTLY the full n*(n-1)/2 pair set, each
    pair once."""
    import pandas as pd
    n = 300
    pdf = pd.DataFrame({"image_id": [f"im-{i:05d}" for i in range(n)],
                        "phash": [0x0123456789ABCDEF] * n})
    df = spark.createDataFrame(pdf)
    out = D.hamming_band_pairs(df, "phash", "image_id",
                               max_hamming=3, bucket_cap=50).toPandas()
    assert len(out) == n * (n - 1) // 2
    assert (out.hamming == 0).all()
    assert (out.left_id < out.right_id).all()
    assert not out.duplicated(["left_id", "right_id"]).any()


def test_hamming_band_pairs_guard_preserves_pairs(spark):
    """Guard-on (cap forces salting) == effectively-unguarded (huge
    cap) on the planted image corpus."""
    from barefoot_spark.sources import images as IM
    pdf = IM.synth_images_with_dups_pdf(256)
    images = spark.createDataFrame(pdf, schema=IM.IMAGES_SCHEMA)
    def pairs(cap):
        out = D.hamming_band_pairs(images.select("image_id", "phash"),
                                   "phash", "image_id",
                                   max_hamming=3, bucket_cap=cap).toPandas()
        return {(r.left_id, r.right_id, int(r.hamming))
                for r in out.itertuples(index=False)}
    assert pairs(4) == pairs(1 << 30)


def test_token_budget_sample(spark):
    rows = [(i, "word " * (10 * (i % 3 + 1))) for i in range(40)]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))
    out = D.token_budget_sample(df, budget_tokens=100).toPandas()
    # mirror: hash order, running sum, cut at budget
    toks = {i: 10 * (i % 3 + 1) for i in range(40)}
    order = sorted(range(40), key=lambda d: ((d * 2654435761 + 42) % (1 << 32), d))
    cum, want = 0, {}
    for d in order:
        cum += toks[d]
        if cum > 100:
            break
        want[d] = cum
    got = {r.doc_id: r.cum_tokens for r in out.itertuples(index=False)}
    assert got == want and len(want) > 1


def test_pack_sequences_greedy(spark):
    # tokens: 100, 200, 150, 300(oversized at ctx=250), 60, 120
    sizes = {1: 100, 2: 200, 3: 150, 4: 300, 5: 60, 6: 120}
    rows = [(i, "w " * n) for i, n in sizes.items()]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))
    out = D.pack_sequences(df, ctx_tokens=250).toPandas() \
        .set_index("doc_id").sort_index()
    # python mirror of the greedy scan in hash order
    order = sorted(sizes, key=lambda d: ((d * 2654435761 + 42) % (1 << 32), d))
    b, acc, want = 0, 0, {}
    for d in order:
        v = sizes[d]
        if acc > 0 and acc + v > 250:
            b, acc = b + 1, 0
        want[d] = b
        acc += v
    for d, binid in want.items():
        assert out.loc[d, "bin_id"] == binid
        assert bool(out.loc[d, "truncated"]) == (sizes[d] > 250)
    # every non-oversized bin respects the context budget
    ok = out[~out.truncated].groupby("bin_id").n_tokens.sum()
    assert (ok <= 250).all()
    # grouped variant partitions the scan per group
    df2 = df.withColumn("grp", (F.col("doc_id") % 2).cast("string"))
    g = D.pack_sequences(df2, ctx_tokens=250, group_col="grp").toPandas()
    assert set(g.grp) == {"0", "1"}
    assert (g[~g.truncated].groupby(["grp", "bin_id"]).n_tokens.sum() <= 250).all()


def test_curate_corpus(spark, docs):
    """Composed curation pipeline on the tiny corpus: exact dup of
    doc 1 dies at the exact stage (only min id survives), near-dups
    cluster under the minimum id, quality gate filters."""
    out = D.curate_corpus(docs, quality_threshold=0.0,
                          jaccard_threshold=0.5).toPandas() \
        .set_index("doc_id").sort_index()
    assert 2 not in out.index          # exact dup of 1: removed pre-minhash
    assert set(out.index) <= {1, 3, 4, 5, 6, 7}
    # docs 3 and 6 are near-dups of 1 -> one cluster, canonical 1
    assert out.loc[1, "canonical_id"] == 1 and bool(out.loc[1, "keep"])
    for d in (3, 6):
        if d in out.index and out.loc[d, "cluster_size"] > 1:
            assert out.loc[d, "canonical_id"] == 1
            assert not bool(out.loc[d, "keep"])
    # with a real gate, every survivor meets the threshold
    gated = D.curate_corpus(docs, quality_threshold=0.5).toPandas()
    assert (gated.quality_score >= 0.5).all()


# ---------------------------------------------------------------------------
# multimodal curation flagship + trajectory frame thinning (round 4)
# ---------------------------------------------------------------------------

def test_curate_images_matches_python_reference(spark):
    """End-to-end keep-list == a python mirror (regex gates + exact-dup
    scan + union-find over brute-force hamming pairs), and every gate
    provably fires on the fixture."""
    import re
    from barefoot_spark.sources import images as IM
    pdf = IM.synth_images_curation_pdf(256)
    images = spark.createDataFrame(pdf, schema=IM.IMAGES_SCHEMA)
    out = (D.curate_images(images).toPandas()
           .set_index("image_id").sort_index())

    rows = pdf.to_dict("records")

    def words(s):
        return len(re.findall(r"[a-z0-9]+", s.lower()))

    def punct_ratio(s):
        chars = len(s)
        punct = chars - len(re.sub(r"[^a-zA-Z0-9 \t\n\r]", "", s))
        return round(punct / max(chars, 1), 6)

    geom_fail = [r for r in rows if not (
        r["w"] >= 16 and r["h"] >= 16
        and max(r["w"], r["h"]) <= 4.0 * min(r["w"], r["h"]))]
    fmt_fail = [r for r in rows if r["fmt"] not in ("png", "jpeg")]
    cap_fail = [r for r in rows
                if words(r["caption"]) < 3 or punct_ratio(r["caption"]) > 0.2]
    assert geom_fail and fmt_fail and cap_fail   # every gate exercised

    surv = [r for r in rows
            if r not in geom_fail and r not in fmt_fail and r not in cap_fail]
    # exact dedup on (phash, caption): min id survives
    first = {}
    for r in sorted(surv, key=lambda r: r["image_id"]):
        first.setdefault((r["phash"], r["caption"]), r)
    exact = sorted(first.values(), key=lambda r: r["image_id"])
    assert len(exact) < len(rows)

    # union-find over brute-force hamming<=3 pairs
    parent = {r["image_id"]: r["image_id"] for r in exact}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    npairs = 0
    for i in range(len(exact)):
        for j in range(i + 1, len(exact)):
            h = bin((int(exact[i]["phash"]) ^ int(exact[j]["phash"]))
                    & 0xFFFFFFFFFFFFFFFF).count("1")
            if h <= 3:
                npairs += 1
                a, b = find(exact[i]["image_id"]), find(exact[j]["image_id"])
                if a != b:
                    parent[max(a, b)] = min(a, b)
    assert npairs > 0                            # near-dup stage exercised
    canon = {i: find(i) for i in parent}
    sizes = {}
    for c in canon.values():
        sizes[c] = sizes.get(c, 0) + 1

    assert set(out.index) == set(canon)
    for r in exact:
        i = r["image_id"]
        assert out.loc[i, "canonical_id"] == canon[i]
        assert bool(out.loc[i, "keep"]) == (i == canon[i])
        assert out.loc[i, "cluster_size"] == sizes[canon[i]]


def test_frame_thinning_matches_sequential_reference(spark):
    """Kernel keep flags == a python sequential walk per trajectory;
    output invariant under input partitioning; both gate arms matter."""
    from barefoot_spark.sources import images as IM
    pdf = IM.synth_frame_stream_pdf(8, 40)
    out = (D.frame_thinning(spark.createDataFrame(pdf).repartition(7))
           .toPandas().set_index("image_id").sort_index())

    want = {}
    for tr, grp in pdf.groupby("traj_id"):
        grp = grp.sort_values(["t", "image_id"])
        lt = lp = None
        for r in grp.itertuples(index=False):
            if lt is None:
                k = True
            else:
                near_t = (r.t - lt) < 4
                ham = bin((int(r.phash) ^ int(lp))
                          & 0xFFFFFFFFFFFFFFFF).count("1")
                k = not (near_t and ham <= 6)
            want[r.image_id] = k
            if k:
                lt, lp = r.t, r.phash
    assert len(out) == len(pdf)
    for iid, k in want.items():
        assert bool(out.loc[iid, "kept"]) == k
    kept = out.kept.to_numpy()
    assert 0 < kept.sum() < len(out)             # both outcomes occur

    out2 = (D.frame_thinning(spark.createDataFrame(pdf).repartition(3))
            .toPandas().set_index("image_id").sort_index())
    assert (out2.kept == out.kept).all()


def test_frame_thinning_gate_arms(spark):
    """Time-close but visually-different frames are kept; visually
    identical but time-separated frames are kept; only the AND of the
    two arms drops."""
    rows = [
        (0, "f0", 10, 0),
        (0, "f1", 11, 0),        # close + identical -> dropped
        (0, "f2", 12, -1),       # close but 64 bits away -> kept
        (0, "f3", 30, -1),       # identical to last kept, far in time -> kept
        (0, "f4", 31, -1),       # close + identical to f3 -> dropped
    ]
    pdf = pd.DataFrame(rows, columns=["traj_id", "image_id", "t", "phash"])
    out = (D.frame_thinning(spark.createDataFrame(pdf))
           .toPandas().set_index("image_id"))
    assert bool(out.loc["f0", "kept"])
    assert not bool(out.loc["f1", "kept"])
    assert bool(out.loc["f2", "kept"])
    assert bool(out.loc["f3", "kept"])
    assert not bool(out.loc["f4", "kept"])


def test_curate_images_prunes_bytes_from_scan(spark, tmp_path):
    """The 100-TB claim of curate_images: over a parquet source the
    multi-KB bytes payload never leaves the scan — every physical scan
    in the plan reads scalar metadata only."""
    import io
    import re
    from contextlib import redirect_stdout
    from barefoot_spark.sources import images as IM
    path = str(tmp_path / "imgs")
    spark.createDataFrame(IM.synth_images_curation_pdf(64),
                          schema=IM.IMAGES_SCHEMA) \
        .write.mode("overwrite").parquet(path)
    out = D.curate_images(spark.read.parquet(path))
    buf = io.StringIO()
    with redirect_stdout(buf):
        out.explain("formatted")
    plan = buf.getvalue()
    schemas = re.findall(r"ReadSchema: (struct<[^\n]*)", plan)
    assert schemas, plan[:2000]
    assert all("bytes" not in s for s in schemas), schemas


def test_incremental_dedup_matches_bruteforce(spark):
    """Batch-vs-index probe + within-batch clustering == a python
    reference (brute-force index hits with (hamming, id) best-match
    tie-break; union-find over the survivors)."""
    from barefoot_spark.sources import images as IM
    pdf = IM.synth_images_with_dups_pdf(640)
    index_pdf = pdf.iloc[:384].reset_index(drop=True)
    new_pdf = pdf.iloc[384:].reset_index(drop=True)
    index = spark.createDataFrame(index_pdf, schema=IM.IMAGES_SCHEMA)
    new = spark.createDataFrame(new_pdf, schema=IM.IMAGES_SCHEMA)
    out = (D.incremental_dedup(new, index).toPandas()
           .set_index("image_id").sort_index())
    assert len(out) == len(new_pdf)

    def ham(a, b):
        return bin((int(a) ^ int(b)) & 0xFFFFFFFFFFFFFFFF).count("1")

    idx = list(index_pdf[["image_id", "phash"]].itertuples(index=False))
    best, surv = {}, []
    for r in new_pdf[["image_id", "phash"]].itertuples(index=False):
        hits = sorted((ham(r.phash, i.phash), i.image_id)
                      for i in idx if ham(r.phash, i.phash) <= 3)
        if hits:
            best[r.image_id] = hits[0][1]
        else:
            surv.append(r)
    parent = {r.image_id: r.image_id for r in surv}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for i in range(len(surv)):
        for j in range(i + 1, len(surv)):
            if ham(surv[i].phash, surv[j].phash) <= 3:
                a, b = find(surv[i].image_id), find(surv[j].image_id)
                if a != b:
                    parent[max(a, b)] = min(a, b)

    n_index = n_batch = n_keep = 0
    for iid, mid in best.items():
        assert not bool(out.loc[iid, "keep"])
        assert out.loc[iid, "reason"] == "index_dup"
        assert out.loc[iid, "match_id"] == mid
        n_index += 1
    for r in surv:
        canon = find(r.image_id)
        if canon == r.image_id:
            assert bool(out.loc[r.image_id, "keep"])
            assert pd.isna(out.loc[r.image_id, "reason"])
            assert pd.isna(out.loc[r.image_id, "match_id"])
            n_keep += 1
        else:
            assert not bool(out.loc[r.image_id, "keep"])
            assert out.loc[r.image_id, "reason"] == "batch_dup"
            assert out.loc[r.image_id, "match_id"] == canon
            n_batch += 1
    assert n_index > 0 and n_batch > 0 and n_keep > 0


def test_hamming_join_hot_bucket_guard(spark):
    """Degenerate all-identical-signature corpus: the salt-tiled
    guarded join returns exactly the unguarded pair set."""
    probe = spark.createDataFrame(
        pd.DataFrame({"image_id": [f"p{i:03d}" for i in range(40)],
                      "phash": [7] * 40}))
    index = spark.createDataFrame(
        pd.DataFrame({"image_id": [f"i{i:03d}" for i in range(60)],
                      "phash": [7] * 55 + [6] * 5}))
    guarded = D.hamming_join(probe, index, max_hamming=1, bucket_cap=8) \
        .toPandas()
    plain = D.hamming_join(probe, index, max_hamming=1,
                           bucket_cap=1 << 30).toPandas()
    key = ["probe_id", "index_id", "hamming"]
    assert sorted(map(tuple, guarded[key].values.tolist())) == \
        sorted(map(tuple, plain[key].values.tolist()))
    assert len(plain) == 40 * 60   # every pair within hamming 1


def test_minhash_join_equals_union_cross_pairs(spark):
    """Cross-relation band join == the self-join pipeline over the
    union, restricted to straddling pairs (bit-identical est values)."""
    index_rows = [(1, "the quick brown fox jumps over the lazy dog"),
                  (2, "completely different content about spark engines"),
                  (3, "pack my box with five dozen liquor jugs")]
    new_rows = [(10, "the quick brown fox jumps over the lazy dog"),
                (11, "the quick brown fox jumped over the lazy dog"),
                (12, "some brand new document about map matching"),
                (13, "some brand new document about map matching!"),
                (14, "entirely unrelated text talking of rivers")]
    cols = ["doc_id", "text"]
    index = spark.createDataFrame(pd.DataFrame(index_rows, columns=cols))
    new = spark.createDataFrame(pd.DataFrame(new_rows, columns=cols))
    union = spark.createDataFrame(pd.DataFrame(index_rows + new_rows,
                                               columns=cols))
    got = D.minhash_join(new, index, jaccard_threshold=0.3).toPandas()
    want = D.minhash_dedup(union, jaccard_threshold=0.3).toPandas()
    want_cross = {(r.right_id, r.left_id): r.est_jaccard
                  for r in want.itertuples(index=False)
                  if r.left_id <= 3 and r.right_id >= 10}
    got_pairs = {(r.new_id, r.index_id): r.est_jaccard
                 for r in got.itertuples(index=False)}
    assert got_pairs == want_cross and len(got_pairs) > 0


def test_incremental_text_dedup_reasons(spark):
    """Exact and near dups of indexed docs die as index_dup with the
    best match; batch-internal near-dups cluster; the rest keep."""
    cols = ["doc_id", "text"]
    index = spark.createDataFrame(pd.DataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "completely different content about spark engines"),
         (3, "pack my box with five dozen liquor jugs")], columns=cols))
    new = spark.createDataFrame(pd.DataFrame(
        [(10, "the quick brown fox jumps over the lazy dog"),
         (11, "the quick brown fox jumped over the lazy dog"),
         (12, "some brand new document about map matching"),
         (13, "some brand new document about map matching!"),
         (14, "entirely unrelated text talking of rivers")], columns=cols))
    out = (D.incremental_text_dedup(new, index, jaccard_threshold=0.5)
           .toPandas().set_index("doc_id").sort_index())
    assert list(out.index) == [10, 11, 12, 13, 14]
    assert not bool(out.loc[10, "keep"])
    assert out.loc[10, "reason"] == "index_dup"
    assert out.loc[10, "match_id"] == 1
    assert not bool(out.loc[11, "keep"])
    assert out.loc[11, "reason"] == "index_dup"
    assert out.loc[11, "match_id"] == 1
    assert bool(out.loc[12, "keep"]) and pd.isna(out.loc[12, "reason"])
    assert not bool(out.loc[13, "keep"])
    assert out.loc[13, "reason"] == "batch_dup"
    assert out.loc[13, "match_id"] == 12
    assert bool(out.loc[14, "keep"]) and pd.isna(out.loc[14, "reason"])


def test_minhash_index_probe_matches_live_join(spark, tmp_path):
    """Persisted-index probe == live minhash_join bit-for-bit on the
    same corpus, and the probe plan touches no signature UDF on the
    corpus side (the stored band/sig tables are read instead)."""
    import io
    import re
    from contextlib import redirect_stdout
    index_rows = [(1, "the quick brown fox jumps over the lazy dog"),
                  (2, "completely different content about spark engines"),
                  (3, "pack my box with five dozen liquor jugs"),
                  (4, "a corpus document that nothing else resembles")]
    new_rows = [(10, "the quick brown fox jumps over the lazy dog"),
                (11, "the quick brown fox jumped over the lazy dog"),
                (12, "some brand new document about map matching")]
    cols = ["doc_id", "text"]
    index = spark.createDataFrame(pd.DataFrame(index_rows, columns=cols))
    new = spark.createDataFrame(pd.DataFrame(new_rows, columns=cols))
    path = str(tmp_path / "mh_index")
    D.minhash_write_index(index, path)
    got = D.minhash_probe_index(spark, path, new, jaccard_threshold=0.3)
    want = D.minhash_join(new, index, jaccard_threshold=0.3).toPandas()
    gp = {(r.new_id, r.index_id): r.est_jaccard
          for r in got.toPandas().itertuples(index=False)}
    wp = {(r.new_id, r.index_id): r.est_jaccard
          for r in want.itertuples(index=False)}
    assert gp == wp and len(gp) > 0

    buf = io.StringIO()
    with redirect_stdout(buf):
        got.explain("formatted")
    plan = buf.getvalue()
    # exactly one Arrow-batch UDF eval (the batch side); the corpus
    # side is parquet scans of the persisted bands/sigs
    assert len(re.findall(r"ArrowEvalPython", plan)) <= 1
    assert re.search(r"Location:.*mh_index/bands", plan)
    assert re.search(r"Location:.*mh_index/sigs", plan)

    # a probe with mismatched build parameters must REFUSE, not
    # silently return empty/wrong candidates (the persisted params
    # row is the contract)
    for bad_kw in ({"num_perm": 128}, {"bands": 8},
                   {"shingle_k": 3}, {"band_key": "poly"}):
        with pytest.raises(ValueError, match="was built with"):
            D.minhash_probe_index(spark, path, new,
                                  jaccard_threshold=0.3, **bad_kw)

    # an index written before params were recorded is accepted as-is
    import shutil
    shutil.rmtree(str(tmp_path / "mh_index" / "params"))
    legacy = D.minhash_probe_index(spark, path, new,
                                   jaccard_threshold=0.3).toPandas()
    lp = {(r.new_id, r.index_id): r.est_jaccard
          for r in legacy.itertuples(index=False)}
    assert lp == wp


def test_decontaminate_planted_overlap(spark):
    """Docs sharing an n-gram with the benchmark are flagged with
    exact distinct-gram / distinct-bench-doc counts; clean docs pass;
    self-pairs are excluded."""
    from barefoot_spark.operators.datapipe import decontaminate

    docs = spark.createDataFrame(pd.DataFrame({
        "doc_id": [1, 2, 3, 4],
        "text": [
            "the quick brown fox jumps over the lazy dog",  # hits b10
            "a completely different sentence with no overlap here",
            "quick brown fox appears again and lazy dog sleeps",
            "the capital of france is paris said the exam",   # hits b11
        ]}))
    bench = spark.createDataFrame(pd.DataFrame({
        "bench_id": [10, 11],
        "text": ["quick brown fox trivia question",
                 "the capital of france is paris"]}))
    got = (decontaminate(docs, bench, n=3).toPandas()
           .set_index("doc_id").sort_index())
    # doc 1 + 3 share exactly the gram "quick brown fox" with b10
    assert got.loc[1].tolist() == [1, 1, True]
    assert got.loc[3].tolist() == [1, 1, True]
    assert got.loc[2].tolist() == [0, 0, False]
    # doc 4 shares 4 distinct 3-grams of b11's 4-gram-long text
    assert got.loc[4, "n_bench_docs"] == 1
    assert got.loc[4, "n_hits"] == 4
    assert bool(got.loc[4, "contaminated"])

    # a benchmark doc replayed in the corpus with the SAME id is a
    # self-pair -> excluded; with a different id -> fully flagged
    docs2 = spark.createDataFrame(pd.DataFrame({
        "doc_id": [10, 20],
        "text": ["quick brown fox trivia question"] * 2}))
    got2 = (decontaminate(docs2, bench, n=3).toPandas()
            .set_index("doc_id"))
    assert not got2.loc[10, "contaminated"]
    assert bool(got2.loc[20, "contaminated"])
    assert got2.loc[20, "n_hits"] == 3


def test_pack_image_batches_invariants(spark):
    """Batches are aspect-homogeneous, full batches hold exactly
    batch_size distinct slots, the assignment is deterministic across
    physical layout, and every image is assigned exactly once."""
    from barefoot_spark.entry_queries import _batch_dims_pdf
    from barefoot_spark.operators.datapipe import pack_image_batches

    pdf = _batch_dims_pdf(300)
    df = spark.createDataFrame(pdf)
    got = pack_image_batches(df, batch_size=4, salt_n=4).toPandas()
    assert len(got) == 300 and got.image_id.is_unique
    g = got.groupby(["bucket", "salt", "batch_idx"])
    sizes = g.size()
    # a batch is full iff it has exactly batch_size members
    assert (g["full"].all() == (sizes == 4)).all()
    # slots within a batch are 0..len-1, each exactly once
    assert (g["slot"].apply(lambda s: sorted(s) == list(range(len(s))))
            ).all()
    # at most one non-full (remainder) batch per (bucket, salt)
    rem = got[~got["full"]].groupby(["bucket", "salt"])
    assert (rem["batch_idx"].nunique() <= 1).all()
    # deterministic under repartitioning
    got2 = (pack_image_batches(df.repartition(5), batch_size=4,
                               salt_n=4)
            .toPandas().sort_values("image_id").reset_index(drop=True))
    got1 = got.sort_values("image_id").reset_index(drop=True)
    pd.testing.assert_frame_equal(got1, got2[got1.columns])


def test_mixture_sample_deterministic_proportions(spark):
    """Per-salt exact ceil share; per-source totals land within the
    salt_n bound; absent sources are dropped; brute-force md5-rank
    twin matches row-for-row; invariant under repartitioning."""
    import hashlib
    import math

    from barefoot_spark.operators.datapipe import mixture_sample

    pdf = pd.DataFrame({"doc_id": range(600)})
    pdf["source"] = pdf["doc_id"].map(
        lambda i: ["web", "books", "code"][i % 3])
    df = spark.createDataFrame(pdf)
    fr = {"web": 0.25, "books": 0.6}
    got = (mixture_sample(df, fr, salt_n=4).toPandas()
           .sort_values("doc_id").reset_index(drop=True))
    # brute force with identical key/salt/ceil math
    b = pdf.copy()
    b["key"] = b["doc_id"].map(
        lambda i: hashlib.md5(str(i).encode()).hexdigest())
    b["salt"] = b["key"].map(lambda k: int(k[:2], 16) % 4)
    b = b.sort_values(["source", "salt", "key", "doc_id"])
    b["rank"] = b.groupby(["source", "salt"]).cumcount() + 1
    b["n"] = b.groupby(["source", "salt"])["doc_id"].transform("size")
    b["f"] = b["source"].map(fr).fillna(0.0)
    want = (b[b["rank"] <= np.ceil(b["f"] * b["n"])]
            [["doc_id", "source", "rank"]]
            .sort_values("doc_id").reset_index(drop=True))
    pd.testing.assert_frame_equal(got, want, check_dtype=False)
    # absent source dropped entirely; kept totals within salt bound
    assert (got["source"] != "code").all()
    for s, f in fr.items():
        n_s = (pdf["source"] == s).sum()
        kept = (got["source"] == s).sum()
        assert math.ceil(f * n_s) <= kept < f * n_s + 4 + 1
    # deterministic across physical layout
    got2 = (mixture_sample(df.repartition(7), fr, salt_n=4).toPandas()
            .sort_values("doc_id").reset_index(drop=True))
    pd.testing.assert_frame_equal(got, got2[got.columns])


def test_ann_recall_entry(spark):
    """The recall evaluation is bounded, self-consistent, and >= the
    self-hit floor (each query always finds itself: same bucket,
    cosine 1). Absolute recall is LOW at this corpus size — 12-bit
    buckets over a few hundred vectors are finer than the corpus,
    which is exactly the mistuning this evaluator exists to surface
    (production sizes n_planes to the corpus, as cosine_near_dup's
    auto-sizer does)."""
    from barefoot_spark.entry_queries import q_ann_recall
    got = q_ann_recall(spark, "/root/testdata/sf0.001").toPandas()
    assert len(got) == 5
    assert ((got.recall >= 0.1) & (got.recall <= 1.0)).all()
    assert (got.n_hits == (got.recall * 10).round()).all()


def test_hex_salt_uniform_and_cross_engine(spark):
    """hex_salt_col is exactly uniform over salts when salt_n | 256,
    matches int(md5_hex[:2], 16) % salt_n (the DuckDB twin's math),
    and never leaves [0, salt_n)."""
    import hashlib

    import duckdb

    from barefoot_spark.operators.datapipe import hex_salt_col

    ids = [f"doc-{i}" for i in range(4096)]
    df = spark.createDataFrame([(i,) for i in ids], "id string")
    got = (df.select("id", F.md5(F.encode("id", "utf-8")).alias("_k"))
           .select("id", hex_salt_col("_k", 8).alias("salt"))
           .toPandas().set_index("id")["salt"])
    want = {i: int(hashlib.md5(i.encode()).hexdigest()[:2], 16) % 8
            for i in ids}
    assert all(got[i] == want[i] for i in ids)
    counts = got.value_counts()
    assert sorted(counts.index) == list(range(8))
    # md5 prefixes are uniform: no salt deviates far from n/8
    assert counts.min() > 4096 / 8 * 0.8 and counts.max() < 4096 / 8 * 1.2
    # DuckDB twin math agrees on a sample
    from barefoot_spark.entry_queries import hex_salt_sql
    frag = hex_salt_sql("md5('doc-7')", 8)
    r = duckdb.sql(f"SELECT {frag} AS s").df()
    assert int(r.s[0]) == want["doc-7"]
