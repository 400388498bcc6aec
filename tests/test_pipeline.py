"""Tests for the training-data pipeline operators (text / dedup / ann /
multimodal). Golden values are hand-derived or cross-checked against an
independent pure-python/numpy computation of the same public formulas."""

import hashlib

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from geowombat_spark.pipeline import ann, dedup, multimodal, text

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
    (3, "the quick brown fox leaps over the lazy dog"),  # near dup of 1
    (4, "completely different content about spark shuffles and joins"),
    (5, "der hund und die katze und das haus"),
    (6, "le chat et le chien et la maison"),
]


@pytest.fixture(scope="module")
def docs_df(spark):
    return spark.createDataFrame(pd.DataFrame(DOCS, columns=["doc_id", "text"]))


def md5_int_py(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


# --- text -----------------------------------------------------------------


def test_token_stats(spark, docs_df):
    out = text.token_stats(docs_df).orderBy("doc_id").collect()
    assert out[0]["n_tokens"] == 9
    assert out[0]["n_chars_calc"] == len(DOCS[0][1])
    assert out[0]["uniq_ratio"] == round(8 / 9, 6)  # 'the' twice
    toks = DOCS[0][1].split()
    assert out[0]["mean_token_len"] == round(sum(map(len, toks)) / 9, 6)


def test_quality_and_langid(spark, docs_df):
    q = text.quality_score(docs_df).orderBy("doc_id").collect()
    # doc 1: 9 tokens, 2 stopword hits ('the' x2) -> 2/9
    assert q[0]["stop_ratio"] == round(2 / 9, 6)
    assert q[0]["punct_ratio"] == 0.0
    assert 0.0 < q[0]["quality"] <= 1.0

    lang = {r["doc_id"]: r["lang_pred"] for r in text.lang_id(docs_df).collect()}
    assert lang[1] == "en"
    assert lang[5] == "de"
    assert lang[6] == "fr"


def test_fingerprint_groups_token_sets(spark, docs_df):
    fp = {r["doc_id"]: r["fingerprint"] for r in text.fingerprint(docs_df).collect()}
    assert fp[1] == fp[2]  # identical docs
    assert fp[1] != fp[3]
    # matches a hand computation
    canon = " ".join(sorted(set(DOCS[0][1].split())))
    assert fp[1] == hashlib.md5(canon.encode()).hexdigest()


# --- dedup ----------------------------------------------------------------


def test_exact_dedup(spark, docs_df):
    groups = dedup.exact_dedup(docs_df).collect()
    assert len(groups) == 1
    assert groups[0]["survivor_id"] == 1
    assert groups[0]["n_dupes"] == 2


def test_jaccard_pairs_golden(spark, docs_df):
    pairs = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dedup.jaccard_pairs(docs_df, n=3, threshold=0.0).collect()
    }
    # hand-compute 3-gram jaccard for docs 1 vs 3
    def sh(s):
        t = s.split()
        return {" ".join(t[i : i + 3]) for i in range(len(t) - 2)}

    s1, s3 = sh(DOCS[0][1]), sh(DOCS[2][1])
    expect = round(len(s1 & s3) / len(s1 | s3), 6)
    assert pairs[(1, 3)] == expect
    assert pairs[(1, 2)] == 1.0


def test_minhash_signature_matches_pure_python(spark, docs_df):
    sig = dedup.minhash_signatures(docs_df, n=3, k=16)
    row = sig.filter(F.col("doc_id") == 4).collect()[0]
    t = DOCS[3][1].split()
    shingles = {" ".join(t[i : i + 3]) for i in range(len(t) - 2)}
    params = dedup.hash_params(16)
    for i, (a, b) in enumerate(params):
        expect = min(
            (a * (md5_int_py(s) % dedup.PRIME30) + b) % dedup.PRIME31
            for s in shingles
        )
        assert row[f"mh{i}"] == expect, f"mh{i}"


def test_minhash_permutations_are_independent():
    """Regression pin for the linearly-dependent hash family.

    The original hash_params drew (a_i, b_i) BOTH proportional to (i+1),
    making every permutation a scalar multiple of one base function —
    disjoint docs sharing a single digest collision then carried
    identical full signatures (107 measured false near-dup pairs in the
    999k-corpus probe, tools/neardup_ingest_probe.py). Pin the two
    properties that kill that class:

    1. parameter vectors (a_i, b_i) are pairwise non-proportional;
    2. two docs with a single DIFFERENT shingle hash disagree on nearly
       every signature component (deterministic given fixed params).
    """
    params = dedup.hash_params(16)
    for i in range(16):
        ai, bi = params[i]
        for j in range(i + 1, 16):
            aj, bj = params[j]
            # cross-multiplication test avoids modular division
            assert (ai * bj - aj * bi) % dedup.PRIME31 != 0, (i, j)

    def sig(h30: int) -> list[int]:
        return [(a * h30 + b) % dedup.PRIME31 for a, b in params]

    # two single-shingle docs (the worst case that triggered the bug):
    # under the old family, small g-values made ALL components collide
    # as multiples; independent permutations must scatter them.
    for h1, h2 in [(12345, 67890), (1, 2), (402501, 402502)]:
        eq = sum(x == y for x, y in zip(sig(h1), sig(h2)))
        assert eq == 0, (h1, h2, eq)


def test_minhash_lsh_finds_near_dups(spark, docs_df):
    out = dedup.minhash_dedup_pairs(docs_df, threshold=0.5).collect()
    got = {(r["doc_a"], r["doc_b"]) for r in out}
    assert (1, 2) in got  # identical always collide
    for r in out:
        assert r["jaccard"] >= 0.5


def test_simhash_and_pairs(spark, docs_df):
    sh = {r["doc_id"]: r["simhash"] for r in dedup.simhash(docs_df).collect()}
    assert sh[1] == sh[2]
    assert 0 <= sh[1] < (1 << 60)
    # independent pure-python recompute for doc 4
    sums = np.zeros(60, dtype=np.int64)
    for w in DOCS[3][1].split():
        h = md5_int_py(w)
        for b in range(60):
            sums[b] += 1 if (h >> b) & 1 else -1
    expect = sum(1 << b for b in range(60) if sums[b] >= 0)
    assert sh[4] == expect

    pairs = dedup.simhash_pairs(docs_df, max_hamming=3).collect()
    got = {(r["doc_a"], r["doc_b"]): r["hamming"] for r in pairs}
    assert got[(1, 2)] == 0


def test_embedding_neardup(spark):
    rng = np.random.default_rng(7)
    base = rng.standard_normal(16)
    vecs = [
        (1, base),
        (2, base + 0.001 * rng.standard_normal(16)),  # near dup
        (3, rng.standard_normal(16)),
    ]
    pdf = pd.DataFrame(
        {"vec_id": [v[0] for v in vecs], "embedding": [v[1].tolist() for v in vecs]}
    )
    df = spark.createDataFrame(pdf)
    out = dedup.embedding_neardup_pairs(df, threshold=0.99).collect()
    got = {(r["vec_a"], r["vec_b"]) for r in out}
    assert got == {(1, 2)}


# --- ann ------------------------------------------------------------------


@pytest.fixture(scope="module")
def emb_df(spark):
    rng = np.random.default_rng(11)
    mat = rng.standard_normal((80, 16))
    pdf = pd.DataFrame(
        {"vec_id": range(80), "embedding": [m.tolist() for m in mat]}
    )
    return spark.createDataFrame(pdf), mat


def test_brute_force_topk_matches_numpy(spark, emb_df):
    df, mat = emb_df
    queries = df.filter(F.col("vec_id") < 3)
    out = ann.brute_force_topk(df, queries, k=5).collect()
    norm = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    sims = np.round(norm @ norm.T, 6)
    for q in range(3):
        order = sorted(range(80), key=lambda j: (-sims[q, j], j))[:5]
        got = sorted(
            [r for r in out if r["query_id"] == q], key=lambda r: r["rank"]
        )
        assert [r["vec_id"] for r in got] == order
        for r in got:
            assert r["cosine"] == sims[q, r["vec_id"]]


def test_hyperplane_lsh_pairs_self_similarity(spark, emb_df):
    df, mat = emb_df
    # plant an exact duplicate of vec 0 with id 999
    dup = spark.createDataFrame(
        pd.DataFrame({"vec_id": [999], "embedding": [mat[0].tolist()]})
    )
    out = ann.hyperplane_lsh_pairs(df.unionAll(dup), threshold=0.999).collect()
    assert {(r["vec_a"], r["vec_b"]) for r in out} >= {(0, 999)}


def test_topk_tie_safe_across_partitionings(spark, emb_df):
    """Duplicated vectors force exact rounded-cosine ties; the per-batch
    local shortlist must keep ALL tie members (not an arbitrary
    argpartition pick) so the deterministic global (cosine desc, vec_id)
    window yields the identical top-k set under any partitioning."""
    df, mat = emb_df
    dup = spark.createDataFrame(
        pd.DataFrame(
            {
                "vec_id": [1000 + i for i in range(40)],
                "embedding": [mat[i].tolist() for i in range(40)],
            }
        )
    )
    full = df.unionAll(dup)
    queries = df.filter(F.col("vec_id") < 3)
    results = []
    for nparts in (1, 3, 8):
        out = ann.brute_force_topk(full.repartition(nparts), queries, k=10)
        results.append(
            sorted((r["query_id"], r["rank"], r["vec_id"]) for r in out.collect())
        )
    assert results[0] == results[1] == results[2]
    # each original top vector's duplicate ties with it; the tie must
    # break to the LOWER vec_id first
    for q, rank, vid in results[0]:
        if vid >= 1000:
            assert (q, rank - 1, vid - 1000) in results[0]


def test_ivf_topk_runs_and_ranks(spark, emb_df):
    df, mat = emb_df
    queries = df.filter(F.col("vec_id") < 2)
    out = ann.ivf_topk(df, queries, k=3, nlist=8, nprobe=8).collect()
    # nprobe == nlist -> exhaustive -> must match brute force
    bf = ann.brute_force_topk(df, queries, k=3).collect()
    key = lambda r: (r["query_id"], r["rank"])  # noqa: E731
    assert sorted([(r["query_id"], r["rank"], r["vec_id"]) for r in out]) == sorted(
        [(r["query_id"], r["rank"], r["vec_id"]) for r in bf]
    )


def test_ivf_topk_mixed_id_types(spark, emb_df):
    """query_id is typed from the QUERIES frame, vec_id from the corpus:
    bigint probe ids against a string-id corpus must not crash the Arrow
    batch (the schema once hardcoded both to the corpus id type)."""
    df, mat = emb_df
    corpus = df.select(
        F.concat(F.lit("v"), F.col("vec_id").cast("string")).alias("vec_id"),
        "embedding",
    )
    queries = df.filter(F.col("vec_id") < 2)  # bigint ids
    out = ann.ivf_topk(corpus, queries, k=3, nlist=4, nprobe=4).collect()
    assert {type(r["query_id"]) for r in out} == {int}
    assert {type(r["vec_id"]) for r in out} == {str}
    # exhaustive probe: the query's own corpus copy must rank first
    top1 = {r["query_id"]: r["vec_id"] for r in out if r["rank"] == 1}
    assert top1 == {0: "v0", 1: "v1"}


@pytest.mark.parametrize("search", ["brute_force_topk", "ivf_topk", "pq_topk"])
def test_topk_query_side_is_capped(spark, emb_df, monkeypatch, search):
    """The query side is collected onto the driver and broadcast whole,
    so more than MAX_QUERIES query vectors raise instead of being
    pulled in unbounded."""
    df, _ = emb_df
    monkeypatch.setattr(ann, "MAX_QUERIES", 2)
    with pytest.raises(ValueError, match="MAX_QUERIES=2"):
        getattr(ann, search)(df, df.filter(F.col("vec_id") < 3), k=3)


def test_pq_topk_tie_set_is_global_order_prefix(spark):
    """All-identical vectors tie every ADC distance; the O(nc) local
    shortlist (argpartition + boundary-tie resolution by vec_id) must
    keep exactly the smallest vec_ids — the same set the full
    (adc asc, vec_id asc) order's prefix selects, independent of Arrow
    batch slicing."""
    n, dim = 300, 8
    rows = [(int(i), [1.0] + [0.0] * (dim - 1)) for i in range(n)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    for nparts in (1, 7):
        pq = ann.pq_topk(
            df.repartition(nparts), df.limit(1), k=10, m_sub=4, refine=3
        ).collect()
        assert sorted(r["vec_id"] for r in pq) == list(range(10))


def test_pq_topk_nan_query_degrades_not_crashes(spark):
    """A query embedding containing NaN produces an all-NaN ADC row; the
    local shortlist must emit zero candidates for that query (variable
    per-query counts) instead of the fixed take-per-query repeat that
    raises a pandas length-mismatch ValueError in every _adc task."""
    rng = np.random.default_rng(41)
    rows = [
        (int(i), rng.standard_normal(8).tolist()) for i in range(60)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    bad = spark.createDataFrame(
        [(1000, [float("nan")] * 8)], "vec_id long, embedding array<float>"
    )
    queries = df.limit(1).union(bad)
    out = ann.pq_topk(df, queries, k=5, m_sub=4, ksub=8, refine=2).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append(r["vec_id"])
    assert len(by_q.get(0, [])) == 5  # the clean query is unaffected
    assert by_q.get(1000, []) == []  # the NaN query yields nothing


# --- multimodal -----------------------------------------------------------


def test_spans_roundtrip_and_hash(spark, docs_df):
    sp = multimodal.with_span_hash(multimodal.derive_spans(docs_df))
    rows = sp.orderBy("doc_id").collect()
    r1 = rows[0]
    assert [s["text"] for s in r1["spans"]] == DOCS[0][1].split()
    assert [s["offset"] for s in r1["spans"]] == list(range(9))
    for s in r1["spans"]:
        if s["kind"] == "image":
            assert s["media_ref"].startswith("media://")
        else:
            assert s["media_ref"] == ""
    # invariant: hash survives a shuffle + join untouched
    shuffled = (
        sp.repartition(7, "doc_id")
        .join(sp.select("doc_id"), "doc_id")
        .withColumn("span_hash2", multimodal.span_hash_col("spans"))
    )
    bad = shuffled.filter(F.col("span_hash") != F.col("span_hash2")).count()
    assert bad == 0


def test_media_decode_stub(spark, docs_df):
    sp = multimodal.derive_spans(docs_df.limit(4))
    media = multimodal.attach_media_bytes(multimodal.media_refs(sp))
    assert media.filter(F.col("media_len") != 16).count() == 0
    decoded = multimodal.decode_media(media)
    rows = decoded.collect()
    assert len(rows) == media.count()
    for r in rows:
        assert 1 <= r["width"] <= 2048
        assert 1 <= r["n_frames"] <= 32
        assert 0.0 <= r["mean_intensity"] <= 1.0
    # determinism
    rows2 = multimodal.decode_media(media).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, rows2))
    frames = multimodal.frame_sample(decoded, every=2)
    assert frames.count() >= len(rows)


def test_lsh_bucket_cap(spark):
    import pandas as pd

    from geowombat_spark.pipeline import dedup

    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2, 3, 4, 5],
            "text": ["the same text here"] * 3
            + ["another document entirely", "yet one more different"],
        }
    )
    df = spark.createDataFrame(pdf)
    sig = dedup.minhash_signatures(df, n=2, k=16)
    uncapped = dedup.lsh_candidate_pairs(sig, bands=4, rows=4).toPandas()
    # the three identical docs pair up
    assert {(1, 2), (1, 3), (2, 3)}.issubset(
        set(zip(uncapped["doc_a"], uncapped["doc_b"]))
    )
    capped = dedup.lsh_candidate_pairs(
        sig, bands=4, rows=4, max_bucket_size=2
    ).toPandas()
    # the size-3 bucket is dropped: no pairs among the identical docs
    assert not {(1, 2), (1, 3), (2, 3)} & set(
        zip(capped["doc_a"], capped["doc_b"])
    )


def test_ivf_recall_at_nprobe4(spark):
    """Sampled-k-means centroid training must hold recall@10 >= 0.9 at
    nprobe=4 of nlist=16 on clustered data (IVF's operating regime) — the
    guard against degenerate id-ordered seeding, where all centroids come
    from one corner of the space and nprobe<nlist recall collapses."""
    rng = np.random.default_rng(23)
    centers = rng.standard_normal((8, 16)) * 4.0
    mat = np.vstack(
        [centers[i % 8] + rng.standard_normal(16) for i in range(200)]
    )
    pdf = pd.DataFrame(
        {"vec_id": range(200), "embedding": [m.tolist() for m in mat]}
    )
    df = spark.createDataFrame(pdf)
    queries = df.filter(F.col("vec_id") < 5)
    ivf = ann.ivf_topk(df, queries, k=10, nlist=16, nprobe=4).collect()
    bf = ann.brute_force_topk(df, queries, k=10).collect()
    got = {}
    true = {}
    for r in ivf:
        got.setdefault(r["query_id"], set()).add(r["vec_id"])
    for r in bf:
        true.setdefault(r["query_id"], set()).add(r["vec_id"])
    recalls = [
        len(got.get(q, set()) & true[q]) / len(true[q]) for q in true
    ]
    assert sum(recalls) / len(recalls) >= 0.9, recalls


def test_blocked_cosine_matches_numpy(spark, emb_df):
    """The distributed block-pair matmul is exact: identical pair set and
    scores to a dense numpy matmul at any threshold."""
    df, mat = emb_df
    blk = dedup.embedding_neardup_pairs(df, threshold=0.3, n_blocks=4).collect()
    norm = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    sims = dedup.round6(norm @ norm.T)
    ii, jj = np.nonzero(np.triu(sims >= 0.3, k=1))
    ref = {(int(i), int(j)): sims[i, j] for i, j in zip(ii, jj)}
    key = lambda r: (r["vec_a"], r["vec_b"])  # noqa: E731
    assert sorted(map(key, blk)) == sorted(ref)
    assert {key(r): r["cosine"] for r in blk} == ref


def test_dedup_groups_and_deduplicate(spark):
    """Pair-graph connected components: chains collapse to one group with
    min-id survivor; deduplicate drops exactly the losers."""
    pairs = spark.createDataFrame(
        pd.DataFrame({"doc_a": [1, 2, 7, 9], "doc_b": [2, 3, 8, 1]})
    )
    groups = {
        r["doc_id"]: r["group_id"]
        for r in dedup.dedup_groups(pairs).collect()
    }
    # component {1,2,3,9} -> 1; component {7,8} -> 7
    assert groups == {1: 1, 2: 1, 3: 1, 9: 1, 7: 7, 8: 7}

    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2, 3, 5, 7, 8, 9], "text": list("abcdefg")})
    )
    kept = sorted(
        r["doc_id"] for r in dedup.deduplicate(docs, pairs).collect()
    )
    assert kept == [1, 5, 7]


def test_pq_topk_recall_with_rescore(spark):
    """PQ-ADC shortlist + exact rescore holds recall@10 >= 0.9 on
    clustered embeddings (m_sub=4, ksub=16, refine=4)."""
    rng = np.random.default_rng(29)
    centers = rng.standard_normal((8, 16)) * 4.0
    mat = np.vstack(
        [centers[i % 8] + rng.standard_normal(16) for i in range(200)]
    )
    pdf = pd.DataFrame(
        {"vec_id": range(200), "embedding": [m.tolist() for m in mat]}
    )
    df = spark.createDataFrame(pdf)
    queries = df.filter(F.col("vec_id") < 5)
    pq = ann.pq_topk(df, queries, k=10, m_sub=4, ksub=16, refine=4).collect()
    bf = ann.brute_force_topk(df, queries, k=10).collect()
    got, true = {}, {}
    for r in pq:
        got.setdefault(r["query_id"], set()).add(r["vec_id"])
    for r in bf:
        true.setdefault(r["query_id"], set()).add(r["vec_id"])
    recalls = [len(got.get(q, set()) & true[q]) / len(true[q]) for q in true]
    assert sum(recalls) / len(recalls) >= 0.9, recalls
    # rescored scores are exact: every overlapping (q, id) pair agrees
    bf_scores = {(r["query_id"], r["vec_id"]): r["cosine"] for r in bf}
    for r in pq:
        key = (r["query_id"], r["vec_id"])
        if key in bf_scores:
            assert abs(r["cosine"] - bf_scores[key]) < 1e-9


def test_pq_codebooks_shape_and_determinism():
    rng = np.random.default_rng(31)
    sample = rng.standard_normal((300, 16))
    sample /= np.linalg.norm(sample, axis=1, keepdims=True)
    b1 = ann.train_pq_codebooks(sample, 4, 8)
    b2 = ann.train_pq_codebooks(sample, 4, 8)
    assert b1.shape == (4, 8, 4)
    np.testing.assert_array_equal(b1, b2)
    # the trailing dim % m_sub dimensions would drop out of every code
    with pytest.raises(ValueError, match="m_sub=3"):
        ann.train_pq_codebooks(sample, 3, 8)


def test_cluster_embeddings_self_consistent(spark, corpus_dir):
    """Every row's cluster is the argmax over the returned centroids; all
    k cells stay live (the trainer re-seeds empty ones)."""
    import numpy as np

    from geowombat_spark.pipeline.ann import _normalize, cluster_embeddings

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    id_col, vec_col = emb.columns[0], emb.columns[1]
    assigned, cents = cluster_embeddings(emb, k=8, id_col=id_col, vec_col=vec_col)
    pdf = assigned.toPandas()
    assert pdf["cluster"].nunique() == 8
    src = emb.toPandas().set_index(id_col)
    m = _normalize(list(src.loc[pdf[id_col]][vec_col]))
    expect = np.argmax(m @ cents.T, axis=1)
    assert (pdf["cluster"].values == expect).all()


# --- round-3: finite skew-guard defaults ----------------------------------


def test_default_skew_caps_are_finite():
    """The at-scale skew guards must be ON by default: a default-parameter
    caller at 100 TB must not get the m² hot-bucket blowup. ``None`` is the
    explicit exact-recall opt-out."""
    import inspect

    for fn, param in [
        (dedup.lsh_candidate_pairs, "max_bucket_size"),
        (dedup.minhash_dedup_pairs, "max_bucket_size"),
        (dedup.simhash_pairs, "max_bucket_size"),
        (ann.hyperplane_lsh_pairs, "max_bucket_size"),
        (dedup.jaccard_pairs, "max_doc_freq"),
    ]:
        d = inspect.signature(fn).parameters[param].default
        assert isinstance(d, int) and d >= 1, (fn.__name__, param, d)


def test_pathological_bucket_dropped_under_defaults(spark):
    """A planted bucket larger than DEFAULT_MAX_BUCKET (one boilerplate
    text repeated) is dropped by the DEFAULT arguments — no quadratic pair
    emission — while the exact-dedup md5 pass (the documented handler for
    such groups) still catches every member."""
    n = dedup.DEFAULT_MAX_BUCKET + 50
    pdf = pd.DataFrame(
        {
            "doc_id": list(range(n)) + [10_000, 10_001],
            "text": ["boilerplate legal footer text repeated everywhere"] * n
            + ["one genuinely unique document"] * 2,
        }
    )
    df = spark.createDataFrame(pdf).repartition(8)
    sig = dedup.minhash_signatures(df, n=2, k=16)
    pairs = dedup.lsh_candidate_pairs(sig).toPandas()  # defaults
    planted = set(range(n))
    assert not [
        1 for a, b in zip(pairs["doc_a"], pairs["doc_b"])
        if a in planted and b in planted
    ]
    # the small (size-2) bucket still pairs — the cap only drops the blob
    assert (10_000, 10_001) in set(zip(pairs["doc_a"], pairs["doc_b"]))
    # exact dedup still owns the boilerplate group
    g = dedup.exact_dedup(df).toPandas()
    assert int(g[g["survivor_id"] == 0]["n_dupes"].iloc[0]) == n


def test_jaccard_max_doc_freq_default_drops_ubiquitous_shingles(spark):
    n = dedup.DEFAULT_MAX_DOC_FREQ + 20
    pdf = pd.DataFrame(
        {"doc_id": range(n), "text": ["common shared shingle text"] * n}
    )
    df = spark.createDataFrame(pdf).repartition(8)
    out = dedup.jaccard_pairs(df, n=2)  # defaults: ubiquitous shingles cut
    assert out.count() == 0
    # explicit opt-out restores exact recall (bounded probe: limit)
    opt = dedup.jaccard_pairs(df.limit(20), n=2, max_doc_freq=None)
    assert opt.count() == 20 * 19 // 2


# --- round-3: null-text hardening ----------------------------------------


def test_null_text_scores_as_empty_doc(spark):
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("text", StringType()),
        ]
    )
    df = spark.createDataFrame(
        [(1, None), (2, ""), (3, "a b a b")], schema
    )
    te = {r["doc_id"]: r for r in text.token_estimate(df).collect()}
    assert te[1]["n_ws_tokens"] == 0 and te[1]["n_bpe_pieces"] == 0
    assert te[1]["pieces_per_token"] == 0.0
    assert te[2]["n_ws_tokens"] == 0 and te[2]["n_bpe_pieces"] == 0
    assert te[3]["n_ws_tokens"] == 4

    rep = {r["doc_id"]: r for r in text.repetition_stats(df).collect()}
    for d in (1, 2, 3):
        assert rep[d]["dup_line_frac"] is not None
        assert rep[d]["dup_line_frac"] >= 0.0
        assert rep[d]["top_bigram_frac"] is not None
    assert rep[1]["dup_line_frac"] == 0.0


# --- round-3: blocked-cosine type preservation ---------------------------


def test_blocked_cosine_preserves_input_types(spark):
    """String ids and double embeddings survive the exact blocked plan (the
    output schema derives from the input instead of hardcoding bigint)."""
    rng = np.random.default_rng(7)
    base = rng.standard_normal(8)
    vecs = [base, base + 1e-4, rng.standard_normal(8)]
    pdf = pd.DataFrame(
        {
            "vec_id": ["doc-a", "doc-b", "doc-c"],
            "embedding": [v.tolist() for v in vecs],
        }
    )
    df = spark.createDataFrame(pdf)  # array<double> + string id
    out = dedup.embedding_neardup_pairs(
        df, id_col="vec_id", vec_col="embedding",
        threshold=0.99,
    )
    rows = out.collect()
    assert [r.asDict() for r in rows] and rows[0]["vec_a"] == "doc-a"
    assert rows[0]["vec_b"] == "doc-b" and rows[0]["cosine"] >= 0.99
    assert dict(out.dtypes)["vec_a"] == "string"


# --- round-3: duplicated n-gram passage coverage + scrub -----------------


def _passage_docs(spark):
    rows = [
        (1, "a b c d e f g h i j"),     # shares "a b c d e" run with doc 2
        (2, "x y a b c d e z"),
        (3, "unique words only here none repeat"),
        (4, "m n o p q"),               # exact duplicate of doc 5
        (5, "m n o p q"),
        (6, None),                      # null text: 1 pseudo-token, no dup
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_dup_ngram_coverage_hand_case(spark):
    """n=3, min_docs=2 — hand-merged intervals: doc 1 covers [0,4] (5 of
    10 words), doc 2 covers [2,6] (5 of 8), full-dup docs cover all,
    unique and null docs cover none."""
    out = dedup.dup_ngram_coverage(
        _passage_docs(spark), n=3, min_docs=2
    )
    got = {r.doc_id: r.asDict() for r in out.collect()}
    assert got[1]["dup_cov"] == 5 and got[1]["n_words"] == 10
    assert got[1]["dup_frac"] == 0.5 and got[1]["n_dup_grams"] == 3
    assert got[2]["dup_cov"] == 5 and got[2]["dup_frac"] == 0.625
    assert got[3]["dup_cov"] == 0 and got[3]["n_dup_grams"] == 0
    assert got[4]["dup_cov"] == 5 and got[4]["dup_frac"] == 1.0
    assert got[5]["dup_cov"] == 5 and got[5]["dup_frac"] == 1.0
    assert got[6]["n_words"] == 1 and got[6]["dup_cov"] == 0


def test_scrub_dup_passages_and_consistency(spark):
    docs = _passage_docs(spark)
    out = dedup.scrub_dup_passages(docs, n=3, min_docs=2, out_col="clean")
    got = {r.doc_id: r.clean for r in out.collect()}
    assert got[1] == "f g h i j"
    assert got[2] == "x y z"
    assert got[3] == "unique words only here none repeat"  # untouched
    assert got[4] == "" and got[5] == ""
    assert got[6] is None  # null text passes through
    # cross-check: words removed == dup_cov for every doc
    cov = {
        r.doc_id: r.asDict()
        for r in dedup.dup_ngram_coverage(docs, n=3, min_docs=2).collect()
    }
    for d, txt in got.items():
        if txt is None:
            continue
        kept = len(txt.split()) if txt else 0
        assert cov[d]["n_words"] - kept == cov[d]["dup_cov"]


def test_dup_coverage_overlap_within_doc_counts_once(spark):
    """A gram repeated twice inside ONE doc is not 'duplicated' (min_docs
    counts distinct docs), and overlapping dup passages merge."""
    rows = [
        (1, "p q r s p q r s"),   # internal repeat only -> no dup
        (2, "k l m n o k l m"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = dedup.dup_ngram_coverage(df, n=3, min_docs=2)
    assert {r.doc_id: r.dup_cov for r in out.collect()} == {1: 0, 2: 0}


# --- round-3: vocabulary + OOV ------------------------------------------


def test_build_vocab_and_oov(spark):
    rows = [
        (1, "a b a c"),
        (2, "a b x"),
        (3, None),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    vocab = text.build_vocab(docs, top_k=2)
    got = [(r.token, r.tf_corpus, r.rank) for r in
           vocab.orderBy("rank").collect()]
    # counts: a=3, b=2, c=1, x=1, ""(null doc)=1 -> top2 = a, b
    assert got == [("a", 3, 1), ("b", 2, 2)]
    oov = text.oov_stats(docs, vocab)
    by = {r.doc_id: r.asDict() for r in oov.collect()}
    assert by[1]["n_tokens"] == 4 and by[1]["n_oov"] == 1  # "c"
    assert by[2]["n_tokens"] == 3 and by[2]["n_oov"] == 1  # "x"
    assert by[3]["n_tokens"] == 1 and by[3]["n_oov"] == 1  # "" pseudo-token
    assert by[2]["oov_frac"] == pytest.approx(1 / 3, abs=1e-6)


def test_build_vocab_ties_break_on_token(spark):
    docs = spark.createDataFrame(
        [(1, "z y z y w")], "doc_id long, text string"
    )
    got = [r.token for r in
           text.build_vocab(docs, top_k=3).orderBy("rank").collect()]
    # y and z tie at 2 -> y first (asc token); w last
    assert got == ["y", "z", "w"]


def test_oov_join_is_broadcast(spark):
    docs = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    vocab = text.build_vocab(docs, top_k=1)
    plan = text.oov_stats(docs, vocab)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_exact_index_and_dedup_against(spark):
    """Incremental exact dedup: corpus dups are flagged with their corpus
    owner, batch-internal dups keep only the min-id survivor, and kept =
    novel AND first-occurrence."""
    corpus = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 4],
                "text": [
                    "alpha beta",
                    "Alpha Beta  ",  # normalizes (lower+trim) to doc 1
                    "gamma delta",
                ],
            }
        )
    )
    idx = dedup.exact_index(corpus)
    rows = {r["dup_key"]: r["owner_id"] for r in idx.collect()}
    assert len(rows) == 2  # two distinct normalized texts
    assert sorted(rows.values()) == [1, 4]  # min-id owners

    batch = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [10, 11, 12, 13],
                "text": [
                    "alpha beta",  # already in corpus
                    "new stuff",  # novel, first occurrence
                    "new stuff",  # batch-internal dup of 11
                    "unique here",  # novel
                ],
            }
        )
    )
    out = {
        r["doc_id"]: (r["in_corpus"], r["corpus_owner"], r["batch_survivor"], r["kept"])
        for r in dedup.dedup_against(batch, idx).collect()
    }
    assert out[10] == (True, 1, True, False)
    assert out[11] == (False, None, True, True)
    assert out[12] == (False, None, False, False)
    assert out[13] == (False, None, True, True)


def test_neardup_against_planted_copies(spark):
    """Incremental near-dup via the band index: an exact copy probes at
    estimated Jaccard 1.0, a one-token-appended copy stays high, and an
    unrelated doc yields no pair."""
    corpus = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2],
                "text": [
                    "the quick brown fox jumps over the lazy dog tonight again",
                    "ein ganz anderes dokument ohne gemeinsame woerter darin steht",
                ],
            }
        )
    )
    idx = dedup.minhash_band_index(corpus, n=3, bands=4, rows=4)
    # 4 band rows per corpus doc, signature carried on each
    assert idx.count() == 8
    batch = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [100, 101, 102],
                "text": [
                    "the quick brown fox jumps over the lazy dog tonight again",
                    "the quick brown fox jumps over the lazy dog tonight again extra",
                    "vollkommen neuer inhalt der mit nichts im korpus uebereinstimmt",
                ],
            }
        )
    )
    pairs = {
        (r["batch_id"], r["corpus_id"]): r["jaccard_est"]
        for r in dedup.neardup_against(
            batch, idx, n=3, bands=4, rows=4, threshold=0.5
        ).collect()
    }
    assert pairs[(100, 1)] == 1.0
    assert pairs.get((101, 1), 0.0) >= 0.75  # one appended token
    assert not any(b == 102 for (b, _c) in pairs)


def _checker_img(h, w):
    """Deterministic (h, w, 3) uint8 test image."""
    y, x = np.mgrid[0:h, 0:w]
    r = ((x + y) % 2 * 255).astype(np.uint8)
    g = (x * 17 % 256).astype(np.uint8)
    b = (y * 31 % 256).astype(np.uint8)
    return np.stack([r, g, b], axis=-1)


def _bmp_bytes(img):
    """Hand-rolled 24-bit BI_RGB BMP (bottom-up, padded rows)."""
    import struct

    h, w = img.shape[:2]
    stride = (w * 3 + 3) & ~3
    rows = np.zeros((h, stride), dtype=np.uint8)
    rows[:, : w * 3] = img[::-1, :, ::-1].reshape(h, w * 3)  # flip + BGR
    data = rows.tobytes()
    off = 14 + 40
    return (
        b"BM" + struct.pack("<IHHI", off + len(data), 0, 0, off)
        + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(data),
                      2835, 2835, 0, 0)
        + data
    )


def test_ppm_bmp_codecs_roundtrip():
    """Pure-numpy codecs: PPM encode→decode is exact; the hand-rolled BMP
    (bottom-up, BGR, padded stride) decodes to the same pixels."""
    img = _checker_img(5, 7)  # odd width exercises BMP row padding
    assert np.array_equal(multimodal.decode_ppm(multimodal.encode_ppm(img)), img)
    assert np.array_equal(multimodal.decode_bmp(_bmp_bytes(img)), img)
    # PPM with a header comment
    withc = b"P6\n# a comment\n7 5\n255\n" + img.tobytes()
    assert np.array_equal(multimodal.decode_ppm(withc), img)


def test_decode_media_real_formats(spark):
    """decode_media runs the REAL decode for PPM/BMP payloads (exact
    width/height/mean) and the stub for unknown containers in the same
    Arrow batch."""
    img = _checker_img(4, 6)
    rows = [
        (1, "media://ppm", bytearray(multimodal.encode_ppm(img))),
        (2, "media://bmp", bytearray(_bmp_bytes(img))),
        (3, "media://blob", bytearray(hashlib.md5(b"x").digest())),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, media_ref string, media_bytes binary"
    )
    out = {r["media_ref"]: r for r in multimodal.decode_media(df).collect()}
    want_mean = round(float(img.mean()) / 255.0, 6)
    for ref in ("media://ppm", "media://bmp"):
        r = out[ref]
        assert (r["width"], r["height"], r["n_frames"]) == (6, 4, 1)
        assert abs(r["mean_intensity"] - want_mean) < 1e-9
    assert out["media://blob"]["width"] != 6 or out["media://blob"]["height"] != 4


def test_png_codec_guards_and_variants():
    """PNG decode: gray and RGBA color types normalize to (h, w, 3);
    corrupt CRC, truncation, and unsupported shapes raise ValueError
    (bounds-checked chunk walk — never scans past EOF)."""
    import struct
    import zlib

    import pytest

    img = _checker_img(5, 7)
    enc = multimodal.encode_png(img, filters=[4, 3, 2, 1, 0])
    assert np.array_equal(multimodal.decode_png(enc), img)

    def _chunk(ctype, data):
        return (
            struct.pack(">I", len(data)) + ctype + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    # gray (color type 0) replicates to 3 channels; RGBA (6) drops alpha
    gray = img[..., 0]
    graw = b"".join(bytes([0]) + gray[y].tobytes() for y in range(5))
    g = (
        multimodal._PNG_SIG
        + _chunk(b"IHDR", struct.pack(">IIBBBBB", 7, 5, 8, 0, 0, 0, 0))
        + _chunk(b"IDAT", zlib.compress(graw))
        + _chunk(b"IEND", b"")
    )
    assert np.array_equal(
        multimodal.decode_png(g), np.repeat(gray[..., None], 3, axis=2)
    )
    rgba = np.dstack([img, np.full((5, 7), 9, np.uint8)])
    araw = b"".join(bytes([0]) + rgba[y].tobytes() for y in range(5))
    a = (
        multimodal._PNG_SIG
        + _chunk(b"IHDR", struct.pack(">IIBBBBB", 7, 5, 8, 6, 0, 0, 0))
        + _chunk(b"IDAT", zlib.compress(araw))
        + _chunk(b"IEND", b"")
    )
    assert np.array_equal(multimodal.decode_png(a), img)

    bad = bytearray(enc)
    bad[30] ^= 0xFF
    with pytest.raises(ValueError, match="CRC"):
        multimodal.decode_png(bytes(bad))
    with pytest.raises(ValueError, match="IHDR|truncated"):
        multimodal.decode_png(enc[:40])
    with pytest.raises(ValueError, match="color type"):
        multimodal.decode_png(
            multimodal._PNG_SIG
            + _chunk(b"IHDR", struct.pack(">IIBBBBB", 7, 5, 8, 3, 0, 0, 0))
            + _chunk(b"IEND", b"")
        )


def test_decode_media_png_dispatch(spark):
    """decode_media routes PNG payloads through the real zlib+unfilter
    decode in the same Arrow batch as PPM/stub payloads."""
    img = _checker_img(4, 6)
    rows = [
        (1, "media://png", bytearray(
            multimodal.encode_png(img, filters=[0, 1, 2, 4]))),
        (2, "media://ppm", bytearray(multimodal.encode_ppm(img))),
        (3, "media://blob", bytearray(hashlib.md5(b"y").digest())),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, media_ref string, media_bytes binary"
    )
    out = {r["media_ref"]: r for r in multimodal.decode_media(df).collect()}
    want_mean = round(float(img.mean()) / 255.0, 6)
    for ref in ("media://png", "media://ppm"):
        r = out[ref]
        assert (r["width"], r["height"], r["n_frames"]) == (6, 4, 1)
        assert abs(r["mean_intensity"] - want_mean) < 1e-9
    # resize decodes PNG too: 2x2 nearest == the numpy index rule
    rs = {
        r["media_ref"]: r
        for r in multimodal.resize_media(df, out_w=2, out_h=2).collect()
    }
    got = multimodal.decode_ppm(bytes(rs["media://png"]["media_bytes"]))
    ys, xs = np.arange(2) * 4 // 2, np.arange(2) * 6 // 2
    assert np.array_equal(got, img[ys][:, xs])


def test_resize_media_nearest(spark):
    """resize_media: nearest-neighbor pixels match the numpy index rule
    exactly; undecodable payloads yield NULLs, not dropped rows."""
    img = _checker_img(8, 8)
    df = spark.createDataFrame(
        [
            (1, "media://a", bytearray(multimodal.encode_ppm(img))),
            (2, "media://junk", bytearray(b"\x00\x01\x02\x03\x04\x05")),
        ],
        "doc_id long, media_ref string, media_bytes binary",
    )
    out = {
        r["media_ref"]: r
        for r in multimodal.resize_media(df, out_w=4, out_h=4).collect()
    }
    got = multimodal.decode_ppm(bytes(out["media://a"]["media_bytes"]))
    ys = np.arange(4) * 8 // 4
    xs = np.arange(4) * 8 // 4
    assert np.array_equal(got, img[ys][:, xs])
    junk = out["media://junk"]
    assert junk["media_bytes"] is None and junk["width"] is None


def test_wav_codec_roundtrip_and_decode_audio(spark):
    """encode_wav→decode_wav round-trips rate/channels/samples (16-bit
    quantization tolerance); decode_audio computes the RMS of a known
    sine exactly (1/sqrt(2) of amplitude)."""
    t = np.arange(1600) / 16000.0
    sine = 0.5 * np.sin(2 * np.pi * 440 * t)
    raw = multimodal.encode_wav(sine, rate=16000)
    rate, n_ch, x = multimodal.decode_wav(raw)
    assert (rate, n_ch, x.shape[0]) == (16000, 1, 1600)
    assert np.abs(x[:, 0] - sine).max() < 1e-4
    stereo = multimodal.encode_wav(np.stack([sine, -sine], axis=1), rate=8000)
    df = spark.createDataFrame(
        [
            (1, "media://sine", bytearray(raw)),
            (2, "media://stereo", bytearray(stereo)),
            (3, "media://junk", bytearray(b"\x01\x02\x03\x04")),
        ],
        "doc_id long, media_ref string, media_bytes binary",
    )
    out = {r["media_ref"]: r for r in multimodal.decode_audio(df).collect()}
    assert out["media://sine"]["sample_rate"] == 16000
    assert abs(out["media://sine"]["rms"] - 0.5 / np.sqrt(2)) < 1e-3
    assert out["media://stereo"]["n_channels"] == 2
    assert out["media://stereo"]["n_samples"] == 1600
    assert out["media://junk"]["sample_rate"] is None


def test_ppm_stream_frames_and_extract(spark):
    """Concatenated-P6 'video': decode_media reports the true frame
    count; extract_frames returns every 2nd frame byte-exact."""
    frames = [_checker_img(3, 4) + np.uint8(i) for i in range(5)]
    stream_raw = b"".join(multimodal.encode_ppm(f) for f in frames)
    assert len(multimodal.ppm_frames(stream_raw)) == 5
    df = spark.createDataFrame(
        [(1, "media://vid", bytearray(stream_raw))],
        "doc_id long, media_ref string, media_bytes binary",
    )
    dec = multimodal.decode_media(df).collect()[0]
    assert (dec["width"], dec["height"], dec["n_frames"]) == (4, 3, 5)
    got = {
        r["frame_idx"]: multimodal.decode_ppm(bytes(r["media_bytes"]))
        for r in multimodal.extract_frames(df, every=2).collect()
    }
    assert sorted(got) == [0, 2, 4]
    for i in (0, 2, 4):
        assert np.array_equal(got[i], frames[i])


def test_ppm_parser_rejects_truncated_headers():
    """Truncated/malformed P6 headers raise ValueError promptly (the
    unguarded scan used to spin past EOF forever)."""
    for bad in (b"P6 3", b"P6", b"P6\n#comment with no newline",
                b"P6\n2 2\n255", b"P6\n2 2\n255\nxx", b"P6\n0 5\n255\n"):
        with pytest.raises(ValueError):
            multimodal.decode_ppm(bad)
    with pytest.raises(ValueError):
        multimodal.ppm_frames(b"P6 3")


def test_decode_media_null_and_tiny_payloads(spark):
    """One Arrow batch mixing a real PPM, a NULL payload, and a 3-byte
    blob: the good row decodes, the bad rows yield NULL features — the
    task must not die on a bad crawl row."""
    img = _checker_img(2, 3)
    df = spark.createDataFrame(
        [
            (1, "media://ok", bytearray(multimodal.encode_ppm(img))),
            (2, "media://null", None),
            (3, "media://tiny", bytearray(b"\x01\x02\x03")),
        ],
        "doc_id long, media_ref string, media_bytes binary",
    )
    out = {r["media_ref"]: r for r in multimodal.decode_media(df).collect()}
    assert (out["media://ok"]["width"], out["media://ok"]["height"]) == (3, 2)
    for ref in ("media://null", "media://tiny"):
        assert out[ref]["width"] is None
        assert out[ref]["mean_intensity"] is None

    # unknown containers of different lengths, no NULL, one under 5
    # bytes, in one batch: the long ones get the stub, the tiny one NULL
    blobs = {"media://a": b"\x01\x02\x03\x04\x05\x06",
             "media://b": b"\xff\x00\x10\x20\x30\x40\x50\x60\x70",
             "media://c": b"\x07\x08"}
    df2 = spark.createDataFrame(
        [(i, ref, bytearray(b)) for i, (ref, b) in enumerate(blobs.items())],
        "doc_id long, media_ref string, media_bytes binary",
    ).coalesce(1)
    out2 = {r["media_ref"]: r for r in multimodal.decode_media(df2).collect()}
    for ref in ("media://a", "media://b"):
        got = out2[ref]
        assert (got["width"], got["height"], got["n_frames"],
                got["mean_intensity"]) == multimodal._fake_decode(blobs[ref])
    assert out2["media://c"]["width"] is None
    assert out2["media://c"]["mean_intensity"] is None


def test_scan_parallelism_handles_size_suffixes(spark, tmp_path):
    """spark.sql.files.maxPartitionBytes with a size suffix (128m) must
    parse, and garbage must degrade to None, not raise."""
    p = str(tmp_path / "one.parquet")
    spark.range(10).toPandas().to_parquet(p)
    df = spark.read.parquet(p)
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        # (Spark itself rejects non-size strings at conf.set time, so
        # only valid byte-size spellings can reach the parser; the
        # regex's None fallback stays as defense in depth.)
        for val in ("128m", "1g", "128mb", "134217728b"):
            spark.conf.set("spark.sql.files.maxPartitionBytes", val)
            assert dedup.scan_parallelism(df) == 1, val
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)


def test_to_zarr_overwrite_preserves_old_store_on_failure(spark, tmp_path):
    """Overwrite builds the new store beside the old and swaps only on
    success: a write job that dies (out-of-grid row → the coordinate
    guard) leaves the ORIGINAL store fully readable."""
    from geowombat_spark.grid import GridSpec
    from geowombat_spark.sources import zarr_ as Z

    grid = GridSpec(left=0.0, top=0.0, cellx=10.0, celly=10.0,
                    nrows=8, ncols=8, tile_rows=4, tile_cols=4)
    store = str(tmp_path / "s.zarr")
    cells = spark.range(64).selectExpr(
        "CAST(id / 8 AS LONG) AS row", "id % 8 AS col",
        "CAST(id AS DOUBLE) AS band_blue",
    )
    Z.to_zarr(cells, store, grid)
    bad = cells.selectExpr("row", "col - 100 AS col", "band_blue")
    with pytest.raises(Exception):
        Z.to_zarr(bad, store, grid, overwrite=True)
    back = Z.open_zarr(spark, store)
    assert back.count() == 63  # row 0/col 0 holds fill=0.0 -> dropped
    # and a SUCCESSFUL overwrite swaps in the new content
    Z.to_zarr(cells.filter("row >= 4"), store, grid, overwrite=True)
    assert Z.open_zarr(spark, store).filter("row < 4").count() == 0


def test_brovey_null_intensity_propagates(spark):
    """NULL (nodata) bands stay NULL through the brovey ratio; zero
    intensity still clamps to 0.0."""
    from geowombat_spark.functions import radiometry as rad

    df = spark.createDataFrame(
        [(None, 2.0, 4.0, 5.0), (0.0, 0.0, 0.0, 5.0)],
        "band_blue double, band_green double, band_red double, pan double",
    )
    rows = rad.pan_sharpen(df, "pan").collect()
    by_pan = sorted(rows, key=lambda r: (r["band_blue"] is not None))
    assert by_pan[0]["band_blue"] is None  # NULL propagated
    assert by_pan[1]["band_blue"] == 0.0   # zero clamped


def test_topk_bounded_under_massive_ties(spark):
    """A batch full of identical cosines (e.g. 500 copies of one vector)
    must still emit exactly k rows per query — the local shortlist orders
    by the global window's own (cosine desc, vec_id asc) total order and
    truncates at k, so it is simultaneously deterministic AND bounded
    (keep-all-ties would forward the entire batch per query here)."""
    rows = [(int(i), [1.0, 0.0, 0.0, 0.0]) for i in range(500)] + [
        (1000, [0.0, 1.0, 0.0, 0.0])
    ]
    tie = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = tie.filter(F.col("vec_id") == 0)
    for nparts in (1, 7):
        got = (
            ann.brute_force_topk(tie.repartition(nparts), q, k=10)
            .orderBy("rank")
            .collect()
        )
        assert len(got) == 10
        assert [r["vec_id"] for r in got] == list(range(10))
        assert all(r["cosine"] == 1.0 for r in got)


def test_capped_bucket_frame_registry_bounded(spark):
    """capped_bucket_frame keeps at most cache.MAX_LIVE persisted frames
    (the live knob — read at persist time, not snapshotted at import):
    older ones are unpersisted FIFO, so per-batch pipeline calls in a
    long-lived session cannot grow executor storage without bound."""
    from geowombat_spark import cache

    base = spark.createDataFrame(
        [(i, i % 3) for i in range(30)], "vec_id long, bucket long"
    )
    before = list(cache._LIVE)
    frames = []
    for i in range(cache.MAX_LIVE + 4):
        f = dedup.capped_bucket_frame(
            base.withColumn("n", F.lit(i)), ["bucket"], 100
        )
        f.count()
        frames.append(f)
    assert len(cache._LIVE) <= cache.MAX_LIVE
    # the newest frames are still cached; the oldest were unpersisted
    assert frames[-1].storageLevel.useMemory or frames[-1].storageLevel.useDisk
    evicted = frames[0]
    assert not (evicted.storageLevel.useMemory or evicted.storageLevel.useDisk)
    # evicted frames still compute correctly (lazy recompute)
    assert evicted.count() == 30
    # cleanup so other tests see a quiet registry
    for f in cache._LIVE[len(before):]:
        f.unpersist(blocking=False)


def test_decode_png_error_contract_is_valueerror(spark):
    """Mis-sized (but CRC-valid) IHDR and corrupt IDAT bytes must raise
    the documented ValueError — never a leaked struct.error/zlib.error."""
    import struct
    import zlib

    def _chunk(ctype, data):
        return (
            struct.pack(">I", len(data)) + ctype + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    short_ihdr = (
        multimodal._PNG_SIG
        + _chunk(b"IHDR", b"\x00" * 12)
        + _chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="IHDR length"):
        multimodal.decode_png(short_ihdr)

    bad_idat = (
        multimodal._PNG_SIG
        + _chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 0))
        + _chunk(b"IDAT", b"\x99\x98\x97")
        + _chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="IDAT"):
        multimodal.decode_png(bad_idat)


def test_span_hash_injective_on_field_boundaries(spark):
    """The canonical span hash must distinguish sequences whose comma-join
    collides: text containing a comma vs the comma split across fields,
    and a NULL field vs an empty one (concat_ws silently skips NULLs)."""
    rows = [
        (1, [("text", "a,b", "c", 0)]),
        (2, [("text", "a", "b,c", 0)]),
        (3, [("text", None, "", 0)]),
        (4, [("text", "", None, 0)]),
    ]
    df = spark.createDataFrame(
        rows, f"doc_id long, spans {multimodal.SPAN_SCHEMA}"
    )
    h = {
        r["doc_id"]: r["h"]
        for r in df.select(
            "doc_id", multimodal.span_hash_col().alias("h")
        ).collect()
    }
    assert h[1] != h[2]
    assert h[3] != h[4]


def test_decode_media_corrupt_known_container_nulls(spark):
    """A payload CLAIMING a known container (PNG magic) that fails to
    decode degrades to NULL features — never to fabricated stub metadata
    indistinguishable from a real decode."""
    png_sig = multimodal._PNG_SIG
    rows = [
        (1, "m://a", bytearray(png_sig + b"\x00" * 20)),  # truncated PNG
        (2, "m://b", bytearray(b"\x07" * 16)),            # unknown -> stub
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, media_ref string, media_bytes binary"
    )
    out = {r["doc_id"]: r for r in multimodal.decode_media(df).collect()}
    assert out[1]["width"] is None and out[1]["mean_intensity"] is None
    assert out[2]["width"] is not None  # deterministic stub still works


def test_decode_media_string_doc_ids(spark):
    """The canonical document shape allows string ids; the media UDF
    stages must not crash casting them to int64."""
    df = spark.createDataFrame(
        [("doc-001", "m://a", bytearray(b"\x09" * 16))],
        "doc_id string, media_ref string, media_bytes binary",
    )
    out = multimodal.decode_media(df).collect()
    assert out[0]["doc_id"] == "doc-001" and out[0]["width"] is not None


def test_repetition_single_token_not_repetitive(spark):
    """One-word and empty docs have ZERO bigrams — top_bigram_frac must be
    0.0, not the phantom-gram 1.0 that made a Gopher filter discard them
    as maximally repetitive."""
    df = spark.createDataFrame(
        [(1, "hello"), (2, ""), (3, None), (4, "a a a a")],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r["top_bigram_frac"]
        for r in text.repetition_stats(df).collect()
    }
    assert out[1] == 0.0 and out[2] == 0.0 and out[3] == 0.0
    assert out[4] == 1.0  # "a a" x3 of 3 bigrams: genuinely repetitive


def test_string_id_surfaces_ann_and_frames(spark):
    """String ids flow through the whole ANN family and extract_frames:
    hardcoded-bigint schemas crashed these paths (the id type must follow
    the input schema, as ivf_topk/pq_topk already did)."""
    vecs = spark.range(40).select(
        F.concat(F.lit("v"), F.col("id")).alias("vec_id"),
        F.array(
            (F.col("id") % 7).cast("double"),
            (F.col("id") % 5).cast("double"),
            F.lit(1.0),
        ).alias("embedding"),
    )
    top = ann.brute_force_topk(vecs, vecs.limit(3), k=2)
    rows = top.collect()
    assert len(rows) == 6
    assert all(isinstance(r["vec_id"], str) for r in rows)
    # rank-1 self hit per string query
    self_hits = {r["query_id"] for r in rows if r["rank"] == 1 and r["cosine"] == 1.0}
    assert len(self_hits) == 3

    sig = ann.hyperplane_signatures(vecs)
    assert dict(sig.dtypes)["vec_id"] == "string"
    assert sig.count() == 40

    assigned, cents = ann.cluster_embeddings(vecs, k=4)
    got = assigned.collect()
    assert len(got) == 40 and isinstance(got[0]["vec_id"], str)
    assert cents.shape[0] == 4

    frames_df = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": ["docA"],
                "media_ref": ["m0"],
                "media_bytes": [
                    multimodal.encode_ppm(
                        np.zeros((2, 2, 3), dtype=np.uint8)
                    )
                    * 3
                ],
            }
        )
    )
    fr = multimodal.extract_frames(frames_df, every=1).collect()
    assert [r["frame_idx"] for r in fr] == [0, 1, 2]
    assert all(r["doc_id"] == "docA" for r in fr)


def test_pair_generators_agree_on_string_ids(spark, emb_df):
    """Jaccard, MinHash-LSH, SimHash and SRP-LSH give the same unordered
    pairs and scores on string ids as on integer ids: the id only names
    and orders a pair's ends ('d10' < 'd9' as strings, so pairs flip)."""
    texts = [
        (9, "the cat sat on the mat by the door today"),
        (10, "the cat sat on the mat by the door today again"),
        (11, "the cat sat on a mat by the door today"),
        (100, "a dog ran in the park at noon with a ball"),
        (12, "a dog ran in the park at noon with a ball"),
        (2, "something else entirely with no shared words"),
    ]
    txt_int = spark.createDataFrame(texts, "doc_id long, text string")
    txt_str = spark.createDataFrame(
        [(f"d{i}", t) for i, t in texts], "doc_id string, text string"
    )
    emb_int, _ = emb_df
    emb_str = emb_int.select(
        F.concat(F.lit("d"), F.col("vec_id")).alias("vec_id"), "embedding"
    )

    def unordered(df, a, b, score):
        name = lambda v: v if isinstance(v, str) else f"d{v}"  # noqa: E731
        return {
            frozenset((name(r[a]), name(r[b]))): r[score] for r in df.collect()
        }

    for run, ints, strs, cols in [
        (lambda d: dedup.jaccard_pairs(d, threshold=0.3), txt_int, txt_str,
         ("doc_a", "doc_b", "jaccard")),
        (lambda d: dedup.minhash_dedup_pairs(d, threshold=0.3), txt_int,
         txt_str, ("doc_a", "doc_b", "jaccard")),
        (lambda d: dedup.simhash_pairs(d, max_hamming=3), txt_int, txt_str,
         ("doc_a", "doc_b", "hamming")),
        (lambda d: ann.hyperplane_lsh_pairs(d, threshold=0.4), emb_int,
         emb_str, ("vec_a", "vec_b", "cosine")),
    ]:
        want = unordered(run(ints), *cols)
        assert want, cols
        assert unordered(run(strs), *cols) == want, cols


def test_null_text_convention_quality_charlm_exact_dedup(spark):
    """NULL text scores exactly like '' in every scorer and dedup method:
    quality (punct_ratio was NULL), char-LM (doc silently vanished from
    the score table), exact dedup (NULL dup_key never joined, leaking a
    NULL-text duplicate into the corpus every batch)."""
    d = spark.createDataFrame(
        [("a", None), ("b", ""), ("c", "real text here")],
        "doc_id string, text string",
    )
    q = {r["doc_id"]: r for r in text.quality_score(d).collect()}
    assert q["a"]["punct_ratio"] == q["b"]["punct_ratio"] == 0.0
    assert q["a"]["quality"] == q["b"]["quality"]

    lm = {r["doc_id"]: r for r in text.char_lm_scores(d).collect()}
    assert set(lm) == {"a", "b", "c"}, "NULL-text doc missing from char-LM"
    assert lm["a"]["n_grams"] == lm["b"]["n_grams"]
    assert lm["a"]["mean_logprob"] == lm["b"]["mean_logprob"]

    # exact-index + dedup_against: the NULL-text batch doc must match the
    # ''-text corpus doc (same empty-doc dup_key), not be kept forever
    idx = dedup.exact_index(d.filter(F.col("doc_id") == "b"))
    batch = d.filter(F.col("doc_id") == "a")
    audit = {r["doc_id"]: r for r in dedup.dedup_against(batch, idx).collect()}
    assert audit["a"]["in_corpus"] is True
    assert audit["a"]["kept"] is False
