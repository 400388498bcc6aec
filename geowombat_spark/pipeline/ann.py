"""Similarity search over embedding columns.

- ``brute_force_topk``: exact cosine top-k. Queries are broadcast as a dense
  numpy matrix; each corpus partition is scored with one Arrow-batched
  matmul and emits only its local top-k per query, so the shuffle carries
  O(#queries × k × #partitions) rows, never the full score matrix. A final
  window rank gives the global top-k. At 100 TB this is the right exact
  plan: one scan, no corpus shuffle.

- ``ivf_topk``: IVF-style two-stage search — k-means centroids trained on a
  bounded hash-ordered sample; one corpus pass assigns each vector its
  nearest centroid and scores it only against the queries whose ``nprobe``
  nearest centroids include that cell. Cuts scored rows by ~nlist/nprobe
  at the cost of recall.

- ``pq_topk``: product-quantization ADC scan over the corpus, then an exact
  cosine rescore of the per-query shortlist.

- ``hyperplane_signatures`` / ``hyperplane_lsh_pairs``: random-hyperplane
  (SRP) signatures for cosine; the multi-table bucketed self-join is the
  approximate all-pairs path. The exact all-pairs path is
  ``dedup.embedding_neardup_pairs``.

- ``cluster_embeddings``: spherical k-means assignment of every vector.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .dedup import (  # noqa: F401  (round6 re-exported: cosine numerics)
    DEFAULT_MAX_BUCKET,
    _bucket_pairs,
    _join_both_sides,
    capped_bucket_frame,
    round6,
)
from .text import md5_int


#: every task receives the whole query side as one dense float64 matrix
#: (10,000 queries x 1,024 dims is an 82 MB broadcast)
MAX_QUERIES = 10_000


def _normalize(mat: np.ndarray) -> np.ndarray:
    mat = np.asarray(mat, dtype=np.float64)
    n = np.linalg.norm(mat, axis=1)
    n[n == 0] = 1.0
    return mat / n[:, None]


def _collect_queries(queries: DataFrame, id_col: str, vec_col: str):
    """The query side as ``(ids, row-normalized matrix)``, in one job.
    Raises ``ValueError`` past :data:`MAX_QUERIES` rows instead of pulling
    an unbounded frame onto the driver."""
    rows = queries.select(id_col, vec_col).limit(MAX_QUERIES + 1).collect()
    if len(rows) > MAX_QUERIES:
        raise ValueError(
            f"more than MAX_QUERIES={MAX_QUERIES} query vectors; split the "
            "queries into batches"
        )
    return np.asarray([r[0] for r in rows]), _normalize([r[1] for r in rows])


def _hash_sample(df: DataFrame, id_col: str, vec_col: str, n: int) -> np.ndarray:
    """The first ``n`` vectors in ``md5_int(id)`` order, row-normalized.

    Hash order is uncorrelated with id order and storage layout, so the
    training sample spreads across the corpus even when ids are sorted or
    clustered (the failure mode of ``orderBy(id).limit(n)`` seeding); the
    id breaks hash ties. Driver work is O(n·dim), independent of corpus
    size."""
    rows = (
        df.select(id_col, vec_col)
        .orderBy(md5_int(F.col(id_col).cast("string")), id_col)
        .limit(int(n))
        .collect()
    )
    return _normalize([r[1] for r in rows])


def _rank_cut(df: DataFrame, k: int, *order) -> DataFrame:
    """Number each query's rows 1.. in ``rank`` by ``order`` (a total
    order, so the cut is deterministic) and keep the first ``k``."""
    w = Window.partitionBy("query_id").orderBy(*order)
    return df.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def cosine_expr(emb_a, emb_b, dp: int | None = 6):
    """Float64 cosine of two array columns as a pure Column fold.

    Every element is cast to double BEFORE multiplying: float32 products
    round differently from an exact float64 cosine at the 6-dp boundary
    for ~0.3% of pairs (measured at sf0.1), which both misfilters
    threshold-edge pairs and breaks value-level comparison against a
    float64 oracle. ``dp`` rounds the result (None = raw). This is THE
    shared cosine for every JVM-side verify/rescore path — keep the
    numerics in one place so a precision fix can never miss a copy."""
    a, b = F.col(emb_a) if isinstance(emb_a, str) else emb_a, (
        F.col(emb_b) if isinstance(emb_b, str) else emb_b
    )
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )

    def norm(c):
        return F.sqrt(
            F.aggregate(
                c,
                F.lit(0.0),
                lambda acc, v: acc + v.cast("double") * v.cast("double"),
            )
        )

    cos = dot / (norm(a) * norm(b))
    return F.round(cos, dp) if dp is not None else cos


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str | None = None,
) -> DataFrame:
    """Exact cosine top-k of each query against the corpus.

    Output: (query_id, vec_id, cosine, rank), rank 1..k, ties broken by
    vec_id ascending (deterministic). Scores rounded to 6 dp so results are
    bit-stable across engines.
    """
    query_id_col = query_id_col or id_col
    spark = corpus.sparkSession
    # id types follow the input schemas (ivf_topk/pq_topk's rule):
    # hardcoded bigint would crash string-id corpora in every batch
    id_type = corpus.schema[id_col].dataType.simpleString()
    qid_type = queries.schema[query_id_col].dataType.simpleString()
    q_ids, q_mat = _collect_queries(queries, query_id_col, vec_col)
    bq = spark.sparkContext.broadcast((q_ids, q_mat))

    def _score(it):
        ids, qm = bq.value
        for pdf in it:
            c = _normalize(list(pdf[vec_col]))
            sims = round6(qm @ c.T)  # (nq, batch)
            cids = pdf[id_col].to_numpy()
            take = min(k, sims.shape[1])
            # Tie-SAFE *and bounded* local top-k per query: order each
            # row by the exact total order the global window uses
            # ((cosine desc, vec_id asc)) and take the first `take`.
            # argpartition alone picks arbitrarily among 6-dp-equal
            # cosines, so a tie straddling an Arrow batch boundary could
            # forward different members in two runs (or in brute-force vs
            # IVF, whose batch boundaries differ); a keep-all-ties filter
            # is deterministic but unbounded (a batch full of identical
            # cosines — e.g. zero vectors — would emit the whole batch
            # per query). Because local and global use the SAME total
            # order, every locally dropped row is dominated by `take`
            # batch-mates and can never enter the global top-k — so the
            # result is identical to keep-all-ties, at ≤ take rows per
            # query per batch.
            order = np.lexsort(
                (np.broadcast_to(cids, sims.shape), -sims), axis=-1
            )[:, :take]
            qi_idx = np.repeat(np.arange(sims.shape[0]), take)
            ci_idx = order.ravel()
            yield pd.DataFrame(
                {
                    "query_id": ids[qi_idx],
                    "vec_id": cids[ci_idx],
                    "cosine": sims[qi_idx, ci_idx],
                }
            )

    local = corpus.select(id_col, vec_col).mapInPandas(
        _score, f"query_id {qid_type}, vec_id {id_type}, cosine double"
    )
    return _rank_cut(local, k, F.desc("cosine"), F.asc("vec_id")).select(
        "query_id", "vec_id", "cosine", "rank"
    )


def _srp_signatures(
    df: DataFrame,
    n_planes: int,
    n_tables: int,
    seed: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """(vec_id, table, bucket): the sign-random-projection signature of
    every vector in each of ``n_tables`` hyperplane sets, from one Arrow
    pass (n_tables matmuls against the same batch).

    Table ``t``'s planes come from ``seed + 1000·t`` and are regenerated on
    each executor (cheaper than broadcasting small plane matrices, and
    dim-agnostic)."""

    def _sig(it):
        planes = None
        for pdf in it:
            m = np.asarray(list(pdf[vec_col]), dtype=np.float64)
            if planes is None:
                planes = [
                    np.random.default_rng(seed + 1000 * t).standard_normal(
                        (n_planes, m.shape[1])
                    )
                    for t in range(n_tables)
                ]
            ids = pdf[id_col].to_numpy()
            frames = []
            for t, pl in enumerate(planes):
                bits = (m @ pl.T) >= 0  # (n, planes)
                sig = np.zeros(len(pdf), dtype=np.int64)
                for b in range(n_planes):
                    sig |= bits[:, b].astype(np.int64) << b
                frames.append(
                    pd.DataFrame({"vec_id": ids, "table": t, "bucket": sig})
                )
            yield pd.concat(frames, ignore_index=True)

    return df.select(id_col, vec_col).mapInPandas(
        _sig,
        f"vec_id {df.schema[id_col].dataType.simpleString()},"
        " table int, bucket bigint",
    )


def hyperplane_signatures(
    df: DataFrame,
    n_planes: int = 16,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Sign-random-projection signature (int bucket id) per vector: table 0
    of :func:`hyperplane_lsh_pairs`' signatures at the same seed."""
    return _srp_signatures(df, n_planes, 1, seed, id_col, vec_col).select(
        "vec_id", "bucket"
    )


def hyperplane_lsh_pairs(
    df: DataFrame,
    threshold: float = 0.9,
    n_planes: int = 16,
    n_tables: int = 4,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """Approximate all-pairs cosine ≥ threshold via multi-table SRP-LSH.

    Candidates = pairs sharing a bucket in ANY of ``n_tables`` independent
    hyperplane sets; verified with an exact cosine on the candidate set
    (join back to the vectors, zip_with dot product — JVM-side).
    ``max_bucket_size`` drops pathological buckets (a bucket of m vectors
    emits m² pairs — same skew guard as ``dedup.lsh_candidate_pairs``);
    defaults to ``dedup.DEFAULT_MAX_BUCKET`` — pass ``None`` explicitly to
    opt out (exact recall, unbounded worst case).

    One corpus pass computes every table's signature, and one self-join
    on (table, bucket) replaces a per-table join+union — the shuffle
    count is independent of n_tables.
    """
    sig = _srp_signatures(df, n_planes, n_tables, seed, id_col, vec_col)
    # window-cap + MEMORY_AND_DISK persist: the matmul signature stage
    # runs exactly once, not once per join side + once for the size
    # aggregate (see dedup.capped_bucket_frame)
    keys, out = ["table", "bucket"], ("vec_a", "vec_b")
    sig = capped_bucket_frame(sig, keys, max_bucket_size)
    cands = _bucket_pairs(sig, "vec_id", keys, out).distinct()
    return (
        _join_both_sides(cands, df, id_col, F.col(vec_col), "emb", out)
        .withColumn("cosine", cosine_expr("emb_a", "emb_b"))
        .filter(F.col("cosine") >= threshold)
        .select("vec_a", "vec_b", "cosine")
    )


def _train_centroids(
    sample: np.ndarray, nlist: int, iters: int = 10
) -> np.ndarray:
    """Deterministic k-means over a (normalized) sample.

    Greedy farthest-point init (k-means++-style but deterministic: each new
    seed is the sample point farthest, in cosine distance, from its nearest
    chosen seed) followed by ``iters`` Lloyd rounds with spherical
    re-normalization. Empty clusters re-seed from the point worst-served by
    the current centroids, so all ``nlist`` cells stay live.
    """
    n = sample.shape[0]
    if n <= nlist:
        return sample.copy()
    chosen = [0]
    best = sample @ sample[0]
    for _ in range(1, nlist):
        nxt = int(np.argmin(best))
        chosen.append(nxt)
        best = np.maximum(best, sample @ sample[nxt])
    cents = sample[chosen].copy()
    for _ in range(iters):
        sims = sample @ cents.T
        assign = np.argmax(sims, axis=1)
        for c in range(nlist):
            mask = assign == c
            if not mask.any():
                worst = int(np.argmin(np.max(sims, axis=1)))
                cents[c] = sample[worst]
                continue
            m = sample[mask].mean(axis=0)
            nm = np.linalg.norm(m)
            cents[c] = m / nm if nm > 0 else sample[int(np.argmax(mask))]
    return cents


def train_corpus_centroids(
    df: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    oversample: int = 32,
    iters: int = 10,
) -> np.ndarray:
    """Bounded-sample centroid training shared by IVF and clustering: take
    ``k·oversample`` vectors in hash order (:func:`_hash_sample`) and run
    the deterministic k-means. Driver work O(k·oversample·dim) —
    independent of corpus size."""
    sample = _hash_sample(df, id_col, vec_col, int(k) * int(oversample))
    return _train_centroids(sample, int(k), iters)


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    nlist: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF two-stage ANN: centroid assignment then probe-limited exact scan.

    Centroid training is a bounded-sample k-means: the first
    ``nlist × oversample`` corpus vectors in hash order
    (:func:`train_corpus_centroids`), then deterministic Lloyd iterations
    on the driver. The driver-side work is O(nlist·oversample·dim) —
    independent of corpus size, so the plan holds at 100 TB (it is the
    standard FAISS train-on-sample recipe). One pass over the corpus then
    assigns each vector its nearest centroid and scores it only against
    the queries whose ``nprobe`` nearest centroids include that cell.
    """
    spark = corpus.sparkSession
    q_ids, q_mat = _collect_queries(queries, id_col, vec_col)
    cents = train_corpus_centroids(corpus, nlist, id_col, vec_col)
    # id types follow the input schemas: hardcoded `bigint` would crash
    # string ids. Query ids are typed from the QUERIES frame, not the
    # corpus: probe vectors routinely carry a different id type
    # (spark.range bigints against a string-id corpus)
    id_type = corpus.schema[id_col].dataType.simpleString()
    qid_type = queries.schema[id_col].dataType.simpleString()
    probes = np.argsort(-(q_mat @ cents.T), axis=1)[:, :nprobe]
    bq = spark.sparkContext.broadcast((q_ids, q_mat, probes, cents))

    def _probe(it):
        ids, qm, pr, cm = bq.value
        for pdf in it:
            c = _normalize(list(pdf[vec_col]))
            cl = np.argmax(c @ cm.T, axis=1)
            # keep the id dtype native (int64 or str); str converts to a
            # fixed-width U array so np.lexsort's tiebreak stays total
            cids = np.asarray(pdf[id_col].values)
            if cids.dtype == object:
                cids = cids.astype("U")
            frames = []
            for qi in range(len(ids)):
                mask = np.isin(cl, pr[qi])
                if not mask.any():
                    continue
                sims = round6(qm[qi] @ c[mask].T)
                take = min(k, sims.shape[0])
                # tie-safe bounded local top-k (see brute_force_topk.
                # _score): same (cosine desc, vec_id asc) total order as
                # the global window, truncated at `take`.
                keep = np.lexsort((cids[mask], -sims))[:take]
                frames.append(
                    pd.DataFrame(
                        {
                            "query_id": ids[qi],
                            "vec_id": cids[mask][keep],
                            "cosine": sims[keep],
                        }
                    )
                )
            yield pd.concat(frames) if frames else pd.DataFrame(
                {"query_id": [], "vec_id": [], "cosine": []}
            )

    local = corpus.select(id_col, vec_col).mapInPandas(
        _probe, f"query_id {qid_type}, vec_id {id_type}, cosine double"
    )
    return _rank_cut(local, k, F.desc("cosine"), F.asc("vec_id")).select(
        "query_id", "vec_id", "cosine", "rank"
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ) — compressed-scan ANN with exact rescore
# ---------------------------------------------------------------------------
#
# The FAISS ADC recipe re-expressed as DataFrame plans: train per-subspace
# codebooks on a bounded hash-ordered sample (driver work independent of
# corpus size), encode the corpus once into m_sub small codes (one
# mapInPandas scan — at 100 TB the scan-side working set shrinks ~dim·4 /
# m_sub bytes per vector, e.g. 32x for 64-dim float vs 8 codes), score all
# queries against the codes via per-query lookup tables (asymmetric
# distance), then exact-rescore only the ADC candidates. No index build
# shuffle; the only wide op is the per-query top-k window, which runs on
# |Q|·k·refine rows, not the corpus.


def _train_centroids_l2(sample: np.ndarray, ksub: int, iters: int = 12) -> np.ndarray:
    """Deterministic euclidean k-means for one PQ subspace (farthest-point
    init + Lloyd; empty clusters re-seed from the worst-served point)."""
    n = sample.shape[0]
    if n <= ksub:
        return sample.copy()
    d2 = ((sample - sample[0]) ** 2).sum(axis=1)
    chosen = [0]
    for _ in range(1, ksub):
        nxt = int(np.argmax(d2))
        chosen.append(nxt)
        d2 = np.minimum(d2, ((sample - sample[nxt]) ** 2).sum(axis=1))
    cents = sample[chosen].copy()
    for _ in range(iters):
        dist = ((sample[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
        assign = np.argmin(dist, axis=1)
        for c in range(ksub):
            mask = assign == c
            if not mask.any():
                cents[c] = sample[int(np.argmax(np.min(dist, axis=1)))]
            else:
                cents[c] = sample[mask].mean(axis=0)
    return cents


def train_pq_codebooks(
    sample: np.ndarray, m_sub: int, ksub: int
) -> np.ndarray:
    """(m_sub, ksub, dim/m_sub) codebooks from a normalized sample."""
    dim = sample.shape[1]
    if dim % m_sub:
        raise ValueError(f"dim={dim} must divide by m_sub={m_sub}")
    ds = dim // m_sub
    return np.stack(
        [
            _train_centroids_l2(
                np.ascontiguousarray(sample[:, m * ds : (m + 1) * ds]), ksub
            )
            for m in range(m_sub)
        ]
    )


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    m_sub: int = 4,
    ksub: int = 16,
    refine: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str | None = None,
) -> DataFrame:
    """PQ-ADC candidate scan + exact cosine rescore.

    Output matches :func:`brute_force_topk`: (query_id, vec_id, cosine,
    rank). ``refine`` controls the ADC shortlist size (``k·refine`` per
    query) that gets exact-rescored against the original vectors — the
    accuracy/IO dial (refine=1 is pure ADC ranking).
    """
    query_id_col = query_id_col or id_col
    spark = corpus.sparkSession
    q_ids, q_mat = _collect_queries(queries, query_id_col, vec_col)

    # 1. bounded-sample codebook training (hash order, as ivf_topk's)
    sample = _hash_sample(corpus, id_col, vec_col, max(ksub * 32, 512))
    books = train_pq_codebooks(sample, m_sub, ksub)
    dim = sample.shape[1]
    ds = dim // m_sub

    id_type = corpus.schema[id_col].dataType.simpleString()
    qid_type = queries.schema[query_id_col].dataType.simpleString()
    # per-query ADC lookup tables: LUT[q, m, c] = ||q_sub - codeword||^2
    lut = np.stack(
        [
            ((q_mat[:, None, m * ds : (m + 1) * ds] - books[m][None, :, :]) ** 2).sum(
                axis=2
            )
            for m in range(m_sub)
        ],
        axis=1,
    )  # (nq, m_sub, ksub)
    bb = spark.sparkContext.broadcast((books, q_ids, lut))
    shortlist = k * max(int(refine), 1)

    def _adc(it):
        bks, ids, tables = bb.value
        for pdf in it:
            c = _normalize(list(pdf[vec_col]))
            # encode the batch
            codes = np.stack(
                [
                    np.argmin(
                        ((c[:, None, m * ds : (m + 1) * ds] - bks[m][None, :, :]) ** 2).sum(
                            axis=2
                        ),
                        axis=1,
                    )
                    for m in range(m_sub)
                ],
                axis=1,
            )  # (batch, m_sub)
            # ADC distance per query: sum of LUT entries at the codes
            d = np.zeros((len(ids), c.shape[0]))
            for m in range(m_sub):
                d += tables[:, m, :][:, codes[:, m]]
            cids = np.asarray(pdf[id_col].values)
            if cids.dtype == object:
                cids = cids.astype("U")
            take = min(shortlist, c.shape[0])
            # tie-safe bounded local shortlist, O(nc) per query: the kept
            # SET must equal the global (adc asc, vec_id asc) order's
            # take-prefix (argpartition alone picks arbitrarily among
            # boundary ties — the failure mode brute_force_topk._score
            # documents), but a full lexsort of every row is O(nc log nc)
            # with string-key compares on the hottest stage. Instead:
            # argpartition for the threshold, keep everything strictly
            # under it, and resolve only the AT-threshold ties by vec_id.
            # Local output order is irrelevant — the global window below
            # re-sorts; only the set must be deterministic.
            sel_ids, sel_adc, sel_n = [], [], []
            for qi in range(d.shape[0]):
                drow = d[qi]
                # NaN-adc candidates (NaN query embedding → all-NaN LUT
                # row) are dropped, not emitted: argpartition sorts NaN
                # last, so cap n_keep at the finite count or thr itself goes
                # NaN and every comparison below returns empty.
                n_keep = min(take, int((~np.isnan(drow)).sum()))
                if n_keep == 0:
                    keep = np.empty(0, dtype=np.int64)
                elif n_keep == drow.shape[0]:
                    keep = np.arange(drow.shape[0])
                else:
                    part = np.argpartition(drow, n_keep - 1)[:n_keep]
                    thr = drow[part].max()
                    less = np.flatnonzero(drow < thr)
                    eq = np.flatnonzero(drow == thr)
                    need = n_keep - less.size
                    eq_keep = eq[np.argsort(cids[eq], kind="stable")[:need]]
                    keep = np.concatenate([less, eq_keep])
                sel_ids.append(cids[keep])
                sel_adc.append(drow[keep])
                sel_n.append(keep.size)
            yield pd.DataFrame(
                {
                    "query_id": np.repeat(ids, sel_n),
                    "vec_id": np.concatenate(sel_ids)
                    if sel_ids
                    else np.empty(0, dtype=cids.dtype),
                    "adc": np.concatenate(sel_adc)
                    if sel_adc
                    else np.empty(0),
                }
            )

    local = corpus.select(id_col, vec_col).mapInPandas(
        _adc, f"query_id {qid_type}, vec_id {id_type}, adc double"
    )
    cand = _rank_cut(local, shortlist, F.asc("adc"), F.asc("vec_id")).select(
        "query_id", "vec_id"
    )

    # 2. exact rescore: semi-join the (tiny) candidate set to the corpus
    #    vectors, exact cosine against the broadcast query matrix
    cand_vec = corpus.select(id_col, vec_col).join(
        F.broadcast(cand.withColumnRenamed("vec_id", id_col)), id_col
    )
    bq = spark.sparkContext.broadcast((q_ids, q_mat))

    def _rescore(it):
        ids, qm = bq.value
        pos = {q: i for i, q in enumerate(ids.tolist())}
        for pdf in it:
            c = _normalize(list(pdf[vec_col]))
            qi = pdf["query_id"].values
            rowsel = np.array([pos[q] for q in qi])
            cos = round6((qm[rowsel] * c).sum(axis=1))
            yield pd.DataFrame(
                {
                    "query_id": qi,
                    "vec_id": pdf[id_col].values,
                    "cosine": cos,
                }
            )

    scored = cand_vec.mapInPandas(
        _rescore, f"query_id {qid_type}, vec_id {id_type}, cosine double"
    )
    return _rank_cut(scored, k, F.desc("cosine"), F.asc("vec_id")).select(
        "query_id", "vec_id", "cosine", "rank"
    )


def cluster_embeddings(
    df: DataFrame,
    k: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    oversample: int = 32,
    iters: int = 10,
):
    """Spherical k-means clustering of an embedding column — the corpus
    organization step feeding semantic dedup / topic bucketing / IVF.

    Same scale shape as ``ivf_topk`` training: centroids learn on a
    bounded hash-ordered sample (driver work independent of corpus size),
    then ONE ``mapInPandas`` pass assigns every row its cluster and the
    cosine to its centroid. Returns ``(assigned_df, centroids)`` where
    ``assigned_df`` has (id, cluster, centroid_sim) and ``centroids`` is
    the (k, dim) unit-row numpy array (reusable as a plan literal).
    """
    spark = df.sparkSession
    cents = train_corpus_centroids(df, k, id_col, vec_col, oversample, iters)
    bc = spark.sparkContext.broadcast(cents)

    def _assign(it):
        cm = bc.value
        for pdf in it:
            m = _normalize(list(pdf[vec_col]))
            sims = m @ cm.T
            cl = np.argmax(sims, axis=1)
            out = pdf[[id_col]].copy()
            out["cluster"] = cl.astype(np.int32)
            out["centroid_sim"] = round6(sims[np.arange(len(cl)), cl])
            yield out

    cl_id_type = df.schema[id_col].dataType.simpleString()
    assigned = df.select(id_col, vec_col).mapInPandas(
        _assign, f"{id_col} {cl_id_type}, cluster int, centroid_sim double"
    )
    return assigned, cents
