"""Deduplication: exact, n-gram Jaccard, MinHash+LSH, SimHash, embedding.

Spark-first shapes:

- exact:      one groupBy on an md5 key (map-side partial agg, one shuffle).
- jaccard:    inverted-index self-join — explode distinct shingles, join on
              the shingle, count co-occurrences, one more join for sizes.
              A ``max_doc_freq`` cap drops ubiquitous shingles (the classic
              skew guard: a shingle in m docs yields m² join rows).
- MinHash:    signatures as k min-aggregates over portable shingle hashes
              (single shuffle); LSH banding as a self-join on band hashes;
              candidates verified with exact Jaccard.
- SimHash:    60 bit-sum aggregates over token hashes (JVM-only, 1 shuffle),
              near-dup candidates via band-chunk self-join + Hamming check
              (``bit_count(xor)``).
- embedding:  exact cosine over float vectors — the one dense-linear-algebra
              kernel, a blocked numpy matmul per block pair (grouped-map
              pandas UDF). The approximate SRP-LSH plan is in ``ann``.

Each step is written once: the Jaccard index and the MinHash, SimHash and
SRP-LSH (``ann``) bucket joins are one self-join, :func:`_bucket_pairs`;
the batch pairs, the band index and the stream band with :func:`_band_rows`;
every exact path keys on :func:`content_key`.

All hash arithmetic is md5-based int64 math, exactly reproducible in SQL
(the DuckDB oracle in ``__spark_entry__.py`` recomputes signatures bit-for-
bit). MinHash permutation params are generated by a fixed formula so the
oracle can inject the same literals.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..cache import bounded_persist
from .text import md5_int, tokens

# Universal-hash family over a 30-bit digest domain:
#   h30  = md5_int(shingle) % PRIME30           (< 2^30)
#   mh_i = (A[i]*h30 + B[i]) % PRIME31          (A[i] < 2^31 ⇒ no overflow)
PRIME30 = 1_073_741_789
PRIME31 = 2_147_483_647
N_HASHES = 16

#: Finite skew-guard defaults. A bucket (LSH band, SimHash chunk, SRP table
#: bucket) holding m rows emits m² candidate pairs, and a shingle appearing
#: in m docs emits m² join rows — one pathological key (empty/boilerplate
#: text) can dominate an entire 100-TB job. The guards therefore default ON:
#: buckets/shingles above the cap are dropped, which is standard LSH
#: practice (their members pair with *everything* and are better handled by
#: the exact-dedup md5 pass). Pass ``max_bucket_size=None`` /
#: ``max_doc_freq=None`` to explicitly opt out (exact recall, unbounded
#: worst case).
DEFAULT_MAX_BUCKET = 1000
DEFAULT_MAX_DOC_FREQ = 1000


def _splitmix64(x: int) -> int:
    """SplitMix64 finalizer (Steele et al. 2014) — a full-avalanche
    integer mixer, so successive indices yield decorrelated outputs."""
    x = (x + 0x9E3779B97F4A7C15) & 0xFFFFFFFFFFFFFFFF
    x = ((x ^ (x >> 30)) * 0xBF58476D1CE4E5B9) & 0xFFFFFFFFFFFFFFFF
    x = ((x ^ (x >> 27)) * 0x94D049BB133111EB) & 0xFFFFFFFFFFFFFFFF
    return x ^ (x >> 31)


def hash_params(k: int = N_HASHES) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for the MinHash permutations.

    Each pair is drawn INDEPENDENTLY via a SplitMix64 mix of the index.
    The earlier scheme (``a_i = (i+1)·c_a``, ``b_i = (i+1)·c_b``, both
    proportional to ``i+1``) made every permutation a scalar multiple of
    ONE base function ``g(h) = c_a·h + c_b (mod P)`` — the k components
    were linearly dependent, not k independent estimators. Concretely:
    a doc whose minimum ``g``-value ``m`` is small gets the signature
    ``(1·m, 2·m, …, k·m)`` (no mod wrap for small ``m``), so two docs
    with DISJOINT shingle sets that shared a single 30-bit digest
    collision with small ``g`` produced IDENTICAL 16-component
    signatures — measured 107 false near-dup pairs (est 0.5–1.0, 14 at
    est=1.0) per 5·10^10 cross pairs in the 999k-corpus ingest probe
    (`tools/neardup_ingest_probe.py`), a rate that scales with corpus²
    at 100 TB. With independent pairs the same probe reports zero.
    """
    out = []
    for i in range(k):
        a = _splitmix64(2 * i + 1) % PRIME31
        b = _splitmix64(2 * i + 2) % PRIME31
        out.append((a if a else 1, b))
    return out


def norm_text(c: Column) -> Column:
    # NULL-safe: md5(norm_text(NULL)) would be a NULL dup_key, which no
    # equi-join ever matches — a NULL-text duplicate would leak through
    # exact dedup/dedup_against forever while the minhash/simhash/jaccard
    # paths (which already coalesce before tokenizing) treat NULL as an
    # empty doc. Every dedup method must give the same NULL-text verdict.
    return F.lower(F.trim(F.coalesce(c, F.lit(""))))


def content_key(text_col: str = "text") -> Column:
    """Portable content hash: md5 of the normalized text. The one key of
    :func:`exact_dedup`, :func:`exact_index`, :func:`dedup_against` and
    ``streaming.dedup.stream_exact_dedup``."""
    return F.md5(norm_text(F.col(text_col)))


def _jaccard(n_inter: Column, na: Column, nb: Column) -> Column:
    """Set Jaccard from the intersection and the two set sizes, 6 dp."""
    return F.round(n_inter / (na + nb - n_inter), 6)


def _bucket_pairs(
    frame: DataFrame,
    id_col: str,
    keys: list[str],
    out: tuple[str, str] = ("doc_a", "doc_b"),
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """Every pair of ``frame`` rows that share ``keys``, once per shared
    key, as ``(out[0], out[1])`` with ``out[0] < out[1]``, plus
    ``<c>_a``/``<c>_b`` for each column ``c`` in ``carry``. The one bucket
    self-join of the LSH family and of the Jaccard inverted index. The
    caller caps and persists ``frame`` and de-duplicates pairs that share
    several buckets."""
    a, b = frame.alias("a"), frame.alias("b")
    return (
        a.join(b, keys)
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias(out[0]),
            F.col(f"b.{id_col}").alias(out[1]),
            *[F.col(f"{s}.{c}").alias(f"{c}_{s}") for c in carry for s in "ab"],
        )
    )


def _join_both_sides(
    pairs: DataFrame,
    frame: DataFrame,
    id_col: str,
    value: Column,
    name: str,
    out: tuple[str, str] = ("doc_a", "doc_b"),
) -> DataFrame:
    """Join ``value``, evaluated per ``frame`` row, onto both ids of
    ``pairs`` as ``<name>_a``/``<name>_b`` — the verify join of the
    MinHash (shingle sets) and SRP-LSH (vectors) candidate pairs."""
    for side, o in zip("ab", out):
        pairs = pairs.join(
            frame.select(F.col(id_col).alias(o), value.alias(f"{name}_{side}")), o
        )
    return pairs


def round6(x, dp: int = 6):
    """Round half AWAY FROM ZERO — the numpy mirror of JVM ``F.round``
    (HALF_UP) and DuckDB ``round``. ``np.round`` is half-to-EVEN, so a
    cosine landing exactly on a 6-dp half boundary (x.xxxxx5) would round
    differently between a numpy pair path and the JVM/oracle verify path
    — a ~1-ulp-probability event, but one that turns a pinned
    zero-false-positive audit red. Every cosine the engine rounds goes
    through this ONE function (ann re-exports it) so the boundary
    semantics can't drift."""
    f = 10.0 ** dp
    return np.copysign(np.floor(np.abs(x) * f + 0.5), x) / f


#: |x| bound below which round6's float path is EXACT: |x|*10^6 plus the
#: 0.5 bias must resolve at half-unit steps, i.e. |x|*1e6 < 2^52.
ROUND6_FLOAT_EXACT_BOUND = float(2**52) / 1e6  # ≈ 4.5e9


def round6_exact(x: float, dp: int = 6) -> float:
    """Scalar half-away-from-zero round for UNBOUNDED magnitudes (the
    streaming running-total call site; cosines stay on :func:`round6`).

    Within ``ROUND6_FLOAT_EXACT_BOUND`` (|x| < 2^52/10^6 ≈ 4.5e9) this IS
    :func:`round6` — bit-identical, preserving the empirically pinned
    DuckDB-oracle parity in the regime where cross-engine equality is
    well-defined. Past the bound the float path silently drifts
    (``|x|*1e6 + 0.5`` stops resolving), so the value switches to exact
    decimal arithmetic: ``Decimal(x)`` — the true binary value of the
    double — quantized HALF_UP. No engine offers a comparison target out
    there: DuckDB's own ``round()`` and JVM ``F.round`` disagree with
    each other at ulp level once the scaled product exceeds 2^52 (their
    products/quotients land on neighboring doubles), so "parity" is
    undefined and the mathematically exact half-away value is the
    defensible choice. Scalar-only by design — keep the vectorized
    :func:`round6` in bounded-magnitude hot paths."""
    import decimal

    if x != x or x in (float("inf"), float("-inf")):
        return x
    if abs(x) < ROUND6_FLOAT_EXACT_BOUND * 10.0 ** (6 - dp):
        return float(round6(x, dp))
    q = decimal.Decimal(1).scaleb(-dp)
    # a double can need ~320 digits left of the point (up to ~1.8e308);
    # the default 28-digit context raises InvalidOperation quantizing
    # anything past ~1e22 — exactly the unbounded-magnitude regime this
    # function exists for, so quantize under a wide local context
    with decimal.localcontext() as ctx:
        ctx.prec = 350
        return float(
            decimal.Decimal(float(x)).quantize(
                q, rounding=decimal.ROUND_HALF_UP
            )
        )


def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact dedup groups: md5 of normalized text → (key, survivor, dupes).

    Returns one row per duplicate *group* (n_dupes ≥ 2), survivor = min id.
    """
    keyed = df.select(content_key(text_col).alias("dup_key"), F.col(id_col))
    return (
        keyed.groupBy("dup_key")
        .agg(
            F.min(id_col).alias("survivor_id"),
            F.count(F.lit(1)).alias("n_dupes"),
        )
        .filter(F.col("n_dupes") >= 2)
    )


def shingles_col(text_col: str, n: int) -> Column:
    """Distinct word n-gram shingles as an array Column (JVM-side).

    Built as a chain of ``zip_with`` merges over shifted token arrays —
    2× faster than the ``transform(sequence, slice)`` formulation (that
    one re-slices the token array per output gram; this one is n-1 linear
    zips regardless of doc length). Tail elements where the shifted
    arrays ran out are partial grams; the final ``slice`` to
    ``size - n + 1`` drops them, and docs shorter than ``n`` keep their
    single whole-doc gram (``concat_ws`` skips the zip padding nulls) —
    byte-identical output to the old expression for every n/size
    (null text coalesces to '' first — both formulations then yield the
    single empty gram, so null-text docs keep their shingle row)."""
    return F.array_distinct(gram_positions_col(text_col, n))


def gram_positions_col(text_col: str, n: int) -> Column:
    """Positional word n-grams: element ``i`` (1-based) is the gram starting
    at token ``i-1``. Same zip-chain construction and short-doc edge rule as
    :func:`shingles_col` (docs shorter than ``n`` keep one whole-doc gram),
    but NOT de-duplicated — position identity is what the passage-level
    operators need."""
    toks = tokens(norm_text(F.coalesce(F.col(text_col), F.lit(""))))
    sz = F.size(toks)
    gram = toks
    for j in range(1, n):
        nxt = F.slice(toks, j + 1, F.greatest(sz - j, F.lit(0)))
        gram = F.zip_with(gram, nxt, lambda a, b: F.concat_ws(" ", a, b))
    return F.slice(gram, 1, F.greatest(sz - n + 1, F.lit(1)))


def scan_parallelism(df: DataFrame) -> int | None:
    """Estimated useful scan-task count of a plain parquet file-scan
    DataFrame, from driver metadata only (``df.inputFiles()`` + file
    sizes + pyarrow footers — no job, no plan→RDD materialization).

    Spark splits parquet by BYTE RANGE (``maxPartitionBytes``), and a
    split only does work for row groups whose midpoint lands in it — so
    per file the useful parallelism is ``min(byte_splits, row_groups)``:
    a one-row-group file is one task however it's split, and a 16-row-
    group file under ``maxPartitionBytes`` is ALSO one task (one split).
    Returns None when the plan is not a simple local-file scan
    (non-parquet, remote URI, derived frame)."""
    try:
        files = [f for f in df.inputFiles() if f.endswith(".parquet")]
    except Exception:
        return None
    if not files:
        return None
    import math
    import os

    import pyarrow.parquet as papq

    import re

    mpb_raw = df.sparkSession.conf.get(
        "spark.sql.files.maxPartitionBytes", "134217728b"
    )
    # Spark byte-size syntax: bare bytes ("134217728b") or a size suffix
    # ("128m", "1g", "128mb"). An unparseable value degrades to
    # no-estimate (None) rather than failing the read site.
    m_ = re.fullmatch(
        r"\s*(\d+)\s*([kmgtp]?)b?\s*", str(mpb_raw).lower()
    )
    if not m_:
        return None
    mpb = int(m_.group(1)) * 1024 ** (
        " kmgtp".index(m_.group(2)) if m_.group(2) else 0
    )
    mpb = mpb or 1
    total = 0
    for f in files:
        local = f[len("file:"):] if f.startswith("file:") else f
        if not local.startswith("/"):
            return None
        try:
            rgs = papq.ParquetFile(local).metadata.num_row_groups
            splits = max(1, math.ceil(os.path.getsize(local) / mpb))
        except Exception:
            return None
        total += min(rgs, splits)
    return total


def spread_small_input(df: DataFrame) -> DataFrame:
    """OPT-IN repartition for narrow scans: only when the input's scan
    parallelism is below the session default (a one-row-group bench table
    reads as a single task, which serializes CPU-heavy per-row expansion
    like shingling). The need is decided from parquet footer metadata
    (:func:`scan_parallelism` — driver-side, no plan materialization; the
    old ``df.rdd.getNumPartitions()`` probe forced physical planning per
    read site). Deliberately NOT called inside the operators — a
    production corpus scan already provides parallelism, and the library
    plans must not hide an extra corpus shuffle. Bench/test inputs apply
    it at the read site (``__spark_entry__._spread``)."""
    target = df.sparkSession.sparkContext.defaultParallelism
    est = scan_parallelism(df)
    if est is not None and est < target:
        return df.repartition(target)
    return df


def doc_shingles(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3
) -> DataFrame:
    """Exploded (doc_id, shingle) pairs — the inverted-index input."""
    return df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(shingles_col(text_col, n)).alias("shingle"),
    )


def jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.8,
    max_doc_freq: int | None = DEFAULT_MAX_DOC_FREQ,
) -> DataFrame:
    """Exact n-gram Jaccard similarity pairs ≥ threshold.

    Inverted-index plan: |inter| from the shingle self-join, |union| from
    per-doc shingle counts. ``max_doc_freq`` drops shingles seen in more
    than that many docs before pairing — at corpus scale a stopword shingle
    otherwise creates a quadratic hot key; AQE skew-split handles moderate
    skew, the cap handles pathological skew. Defaults to
    :data:`DEFAULT_MAX_DOC_FREQ`; pass ``None`` to opt out (exact recall
    over ubiquitous shingles, unbounded worst case).
    """
    # persist the exploded shingle frame: it feeds the freq aggregate, the
    # per-doc sizes aggregate, AND both self-join sides — without a single
    # materialization the corpus scan + tokenize + n-gram zip chain
    # re-executes once per consumer (the cost class capped_bucket_frame
    # exists for on the LSH/SimHash paths)
    sh = bounded_persist(doc_shingles(df, text_col, id_col, n))
    if max_doc_freq is not None:
        # a groupBy count, not capped_bucket_frame's window count: the
        # partial aggregate never gathers all rows of a stopword shingle
        # into one task (reasoned from WindowExec, not measured)
        freq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df_"))
        sh = bounded_persist(
            sh.join(
                freq.filter(F.col("df_") <= max_doc_freq), "shingle", "inner"
            ).drop("df_")
        )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    inter = (
        _bucket_pairs(sh, "doc_id", ["shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb"))
    out = (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("jaccard", _jaccard(F.col("n_inter"), F.col("na"), F.col("nb")))
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )
    return out


def _dup_gram_hits(
    df: DataFrame, id_col: str, text_col: str, n: int, min_docs: int
) -> DataFrame:
    """(id, pos, n_words) rows for every token position starting a word
    n-gram that also occurs in ≥ ``min_docs`` distinct documents.

    The passage analogue of Lee et al. 2022 ("Deduplicating Training Data
    Makes Language Models Better") — the suffix-array "every duplicated
    substring of ≥ n tokens" criterion restated over the n-gram position
    index: a token is part of a duplicated passage iff some n-gram
    covering it repeats across documents.

    Scale shape: positions are exploded once; doc frequencies are one
    partial-aggregated shuffle on ``xxhash64(gram)`` (64-bit keys — the
    gram *strings* never shuffle); the hit set is a left-semi join back,
    which returns at most one row per position, so — unlike pair
    generation — a ubiquitous boilerplate gram cannot blow up the output
    and no skew cap is needed.
    """
    toks = tokens(norm_text(F.coalesce(F.col(text_col), F.lit(""))))
    occ = df.select(
        F.col(id_col),
        F.size(toks).alias("n_words"),
        F.posexplode(gram_positions_col(text_col, n)).alias("pos", "gram"),
    ).select(id_col, "n_words", "pos", F.xxhash64("gram").alias("gh"))
    dup = (
        occ.groupBy("gh")
        .agg(F.count_distinct(F.col(id_col)).alias("df_"))
        .filter(F.col("df_") >= min_docs)
        .select("gh")
    )
    return occ.join(dup, "gh", "left_semi").drop("gh")


def _coverage_fold(n: int):
    """Fold a sorted start-position array into total covered token count.

    Each start ``s`` covers ``[s, min(s + n - 1, n_words - 1)]``; the fold
    carries the running max end so overlapping passages count once —
    interval merging as a JVM higher-order function, no UDF.
    """

    def fold(starts: Column, n_words: Column) -> Column:
        zero = F.struct(
            F.lit(0).cast("long").alias("cov"),
            F.lit(-1).cast("long").alias("end"),
        )

        def step(acc, s):
            e = F.least(s + F.lit(n - 1), n_words - 1)
            gain = F.greatest(
                e - F.greatest(acc["end"], s - 1), F.lit(0).cast("long")
            )
            return F.struct(
                (acc["cov"] + gain).alias("cov"),
                F.greatest(acc["end"], e).alias("end"),
            )

        return F.aggregate(starts, zero, step, lambda acc: acc["cov"])

    return fold


def dup_ngram_coverage(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """Per-document duplicated-passage statistics: how much of each doc is
    covered by word n-grams that repeat in ≥ ``min_docs`` documents.

    Returns ``(id, n_words, n_dup_grams, dup_cov, dup_frac)`` — the
    standard pre-filter signal for substring-level dedup (docs above a
    ``dup_frac`` threshold get scrubbed or dropped). One explode + one agg
    shuffle + one semi-join + one per-doc agg; the interval merge is a
    ``F.aggregate`` fold over the sorted start list, fully JVM-side.
    """
    hits = _dup_gram_hits(df, id_col, text_col, n, min_docs)
    fold = _coverage_fold(n)
    per_doc = hits.groupBy(id_col).agg(
        F.first("n_words").alias("_nw"),
        F.count(F.lit(1)).alias("n_dup_grams"),
        F.sort_array(F.collect_list("pos")).alias("_starts"),
    )
    per_doc = per_doc.select(
        id_col,
        "n_dup_grams",
        fold(F.col("_starts"), F.col("_nw")).alias("dup_cov"),
    )
    toks = tokens(norm_text(F.coalesce(F.col(text_col), F.lit(""))))
    base = df.select(F.col(id_col), F.size(toks).cast("long").alias("n_words"))
    out = base.join(per_doc, id_col, "left").fillna(
        {"n_dup_grams": 0, "dup_cov": 0}
    )
    return out.select(
        id_col,
        "n_words",
        F.col("n_dup_grams").cast("long").alias("n_dup_grams"),
        F.col("dup_cov").cast("long").alias("dup_cov"),
        F.round(F.col("dup_cov") / F.col("n_words"), 6).alias("dup_frac"),
    )


def scrub_dup_passages(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    min_docs: int = 2,
    out_col: str | None = None,
) -> DataFrame:
    """Rewrite each document with its duplicated passages removed — the
    corrective action of Lee et al. exact-substring dedup, at word
    granularity.

    Merged dup intervals per doc are built by the same fold as
    :func:`dup_ngram_coverage` (but materializing the interval list);
    tokens inside any interval are dropped with an indexed ``F.filter`` +
    ``F.exists`` — per-row Column code, no UDF. Docs with no duplicated
    passage keep their text byte-for-byte (normalized docs are rebuilt
    only when scrubbed). ``out_col=None`` replaces ``text_col``.
    """
    out_col = out_col or text_col
    hits = _dup_gram_hits(df, id_col, text_col, n, min_docs)
    empty_ivs = F.array().cast("array<struct<s:bigint,e:bigint>>")

    def merge_step(nw):
        def step(acc, s):
            e = F.least(s + F.lit(n - 1), nw - 1)
            last = F.element_at(acc, -1)
            grown = F.concat(
                F.slice(acc, 1, F.size(acc) - 1),
                F.array(
                    F.struct(
                        last["s"].alias("s"),
                        F.greatest(last["e"], e).alias("e"),
                    )
                ),
            )
            fresh = F.concat(
                acc, F.array(F.struct(s.alias("s"), e.alias("e")))
            )
            return F.when(
                (F.size(acc) > 0) & (s <= last["e"] + 1), grown
            ).otherwise(fresh)

        return step

    ivs = hits.groupBy(id_col).agg(
        F.first("n_words").alias("_nw"),
        F.sort_array(F.collect_list("pos")).alias("_starts"),
    )
    ivs = ivs.select(
        id_col,
        F.aggregate(
            F.col("_starts"), empty_ivs, merge_step(F.col("_nw"))
        ).alias("_ivs"),
    )
    joined = df.join(ivs, id_col, "left")
    toks = tokens(norm_text(F.coalesce(F.col(text_col), F.lit(""))))
    kept = F.filter(
        toks,
        lambda x, i: ~F.exists(
            F.col("_ivs"),
            lambda iv: (i >= iv["s"]) & (i <= iv["e"]),
        ),
    )
    scrubbed = F.when(
        F.col("_ivs").isNull() | (F.size("_ivs") == 0), F.col(text_col)
    ).otherwise(F.concat_ws(" ", kept))
    return joined.withColumn(out_col, scrubbed).drop("_ivs")


def minhash_sig_cols(
    text_col: str = "text", n: int = 3, k: int = N_HASHES
) -> list[Column]:
    """Row-local MinHash signature columns mh0..mh{k-1}.

    A document's shingle set lives inside its own row, so each signature
    component is ``array_min`` over a transformed shingle array — pure
    Column code, ZERO shuffle, and bit-identical to the explode+groupBy
    formulation in :func:`minhash_signatures` (min over the same set).
    Row-locality is what makes these expressions usable on a *streaming*
    DataFrame (no stateful agg needed to sign documents). For batch use
    prefer :func:`minhash_signatures`: Catalyst does not eliminate the
    shared md5 subexpression across the k lambda-HOF columns, so this form
    hashes every shingle k times — the exploded groupBy hashes once per
    shingle and wins despite its shuffle."""
    sh = shingles_col(text_col, n)
    h30 = F.transform(sh, lambda s: md5_int(s) % PRIME30)
    return [
        F.array_min(
            F.transform(h30, lambda h: (F.lit(a) * h + F.lit(b)) % PRIME31)
        ).alias(f"mh{i}")
        for i, (a, b) in enumerate(hash_params(k))
    ]


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    k: int = N_HASHES,
) -> DataFrame:
    """Per-doc MinHash signature: columns mh0..mh{k-1} (one shuffle).

    Explode + groupBy computes the 30-bit shingle hash ONCE per shingle
    and folds it through k min-aggregates; the row-local
    :func:`minhash_sig_cols` variant avoids the shuffle but re-hashes
    every shingle k times (see its docstring), which measures ~3× slower
    at bench scale — md5 dominates, not the exchange."""
    sh = doc_shingles(df, text_col, id_col, n)
    h30 = (md5_int(F.col("shingle")) % PRIME30).alias("h30")
    hashed = sh.select("doc_id", h30)
    aggs = [
        F.min((F.lit(a) * F.col("h30") + F.lit(b)) % PRIME31).alias(f"mh{i}")
        for i, (a, b) in enumerate(hash_params(k))
    ]
    return hashed.groupBy("doc_id").agg(*aggs)


def capped_bucket_frame(
    frame: DataFrame, keys: list[str], cap: int | None
) -> DataFrame:
    """Bucket-size cap + persist so the upstream stage runs exactly ONCE.

    Its callers are the LSH-family pair generators
    (:func:`lsh_candidate_pairs`, :func:`simhash_pairs`,
    ``ann.hyperplane_lsh_pairs``), which self-join an expensive frame — an
    Arrow signature UDF or a 60-aggregate shuffle — on bucket keys with
    :func:`_bucket_pairs`. (:func:`jaccard_pairs` persists its shingle
    frame with a groupBy-count cap instead.) Without a persist, that
    stage re-executes once per join side PLUS once for the bucket-size
    aggregate (3-4× the corpus scan at 100 TB). Here the cap is a window count over the same frame
    (no separate sizes join) and the capped frame is persisted
    MEMORY_AND_DISK (deserialized in memory while it fits — these frames
    are a few fixed-width columns per banded row — spilling to disk when
    a 100-TB corpus outgrows executor storage), so the physical plan
    carries the signature stage exactly once and both self-join sides
    read the cached partitions. The window's exchange lands on the very
    keys the self-join shuffles on.

    Registered entries are tracked in a bounded shared registry
    (``geowombat_spark.cache``): beyond ``cache.MAX_LIVE`` live frames —
    that module attribute is the live knob — the oldest is unpersisted
    (non-blocking). Memory blocks are LRU-evicted by Spark anyway, but
    DISK-spilled blocks are only reclaimed on unpersist — without the
    bound, a long-lived session running one LSH pipeline per ingest
    batch grows executor local-disk usage without limit. Unpersisting an
    old frame is always safe: a still-lazy downstream plan just
    recomputes it. Callers wanting a hard reset can still
    ``spark.catalog.clearCache()``.
    """
    return bounded_persist(bucket_cap_filter(frame, keys, cap))


def bucket_cap_filter(frame: DataFrame, keys: list[str], cap: int | None) -> DataFrame:
    """Drop every row of a bucket whose member count exceeds ``cap`` (the
    shared skew-guard semantics — see :func:`capped_bucket_frame`), WITHOUT
    persisting: single-consumer callers (e.g. the index side of
    :func:`neardup_against`) reuse the cap logic but must not pin a
    corpus-scale frame in executor storage. The window's exchange lands on
    the very keys the downstream join shuffles on, so it costs no extra
    shuffle."""
    if cap is None:
        return frame
    w = Window.partitionBy(*[F.col(k) for k in keys])
    return (
        frame.withColumn("_bn", F.count(F.lit(1)).over(w))
        .filter(F.col("_bn") <= cap)
        .drop("_bn")
    )


def band_hash_structs(bands: int = 4, rows: int = 4) -> Column:
    """Array of (band_idx, band_hash) structs from mh0..mh{bands·rows-1}
    columns — band hash = md5 over the band's signature components.
    Exploded by :func:`_band_rows` only."""
    return F.array(
        *[
            F.struct(
                F.lit(bi).alias("band_idx"),
                F.md5(
                    F.concat_ws(
                        ",", *[F.col(f"mh{bi * rows + ri}") for ri in range(rows)]
                    )
                ).alias("band_hash"),
            )
            for bi in range(bands)
        ]
    )


def _band_rows(sig: DataFrame, bands: int, rows: int, *extra: Column) -> DataFrame:
    """``(doc_id, band_idx, band_hash, *extra)``: one row per (doc, band)
    of a ``doc_id, mh0..`` signature frame. The one banding step of the
    batch pairs (:func:`lsh_candidate_pairs`), the band index
    (:func:`minhash_band_index`) and the stream
    (``streaming.dedup.band_stream``), so the three cannot drift."""
    banded = sig.select(
        "doc_id", F.explode(band_hash_structs(bands, rows)).alias("bh"), *extra
    )
    return banded.select(
        "doc_id", "bh.band_idx", "bh.band_hash", *banded.columns[2:]
    )


def lsh_candidate_pairs(
    sig: DataFrame, bands: int = 4, rows: int = 4,
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """LSH banding: docs sharing any band hash become a candidate pair.

    Band hash = md5 over the band's signature components; the self-join key
    is (band_idx, band_hash) so distinct bands never collide.

    ``max_bucket_size`` is the at-scale skew guard: a bucket holding m docs
    emits m² candidate pairs, so one giant bucket (boilerplate/empty docs)
    can dominate the whole job. Buckets larger than the cap are dropped —
    standard LSH practice (their members are near-identical to *many* docs
    and are better handled by the exact-dedup pass on the md5 key). AQE
    skew-join splitting handles the moderate tail; the cap handles the
    pathological head. Defaults to :data:`DEFAULT_MAX_BUCKET`; ``None``
    opts out (exact recall, unbounded worst case).
    """
    keys = ["band_idx", "band_hash"]
    banded = capped_bucket_frame(_band_rows(sig, bands, rows), keys, max_bucket_size)
    return _bucket_pairs(banded, "doc_id", keys).distinct()


def minhash_dedup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    bands: int = 4,
    rows: int = 4,
    threshold: float = 0.8,
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """MinHash-LSH near-dup pairs, verified with exact Jaccard.

    The scale path: LSH prunes the pair space from O(N²) to the candidate
    set, then the exact check runs *only* on candidates — the candidate
    pairs are joined to per-doc shingle arrays (two broadcast-able joins on
    doc id) and Jaccard comes from ``array_intersect`` sizes. No shingle
    self-join ever touches non-candidate docs, so the verify cost is
    O(|candidates|·shingles-per-doc), not O(pairs).
    """
    sig = minhash_signatures(df, text_col, id_col, n, bands * rows)
    cands = lsh_candidate_pairs(sig, bands, rows, max_bucket_size=max_bucket_size)
    n_inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    return (
        _join_both_sides(cands, df, id_col, shingles_col(text_col, n), "sh")
        .withColumn("n_inter", n_inter)
        .withColumn(
            "jaccard",
            _jaccard(F.col("n_inter"), F.size("sh_a"), F.size("sh_b")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


SIMHASH_BITS = 60


def simhash(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """60-bit SimHash per doc, fully JVM-side.

    Token multiset → portable 60-bit hash per token → per-bit signed sums
    (60 aggregate expressions, one shuffle) → sign bits packed to a bigint.
    Bit b of the hash is 1 iff the sum of ±1 contributions is ≥ 0.
    """
    # coalesce NULL text to '' BEFORE tokenizing: explode(NULL) emits no
    # rows, which would silently drop NULL-text docs from the signature set
    # while the jaccard/minhash paths (gram_positions_col/shingles_col)
    # treat NULL as an empty doc — the same corpus must get the same
    # NULL-text verdict from every dedup method
    tok = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(
            tokens(norm_text(F.coalesce(F.col(text_col), F.lit(""))))
        ).alias("w"),
    ).withColumn("h", md5_int(F.col("w")))
    # sum of ±1 over bit b equals 2·(count of set bits) − n, so plain bit
    # sums + one shared count replace 60 when/otherwise branches — same
    # sign test, lighter codegen
    aggs = [
        F.sum(F.shiftright(F.col("h"), b).bitwiseAND(1)).alias(f"c{b}")
        for b in range(SIMHASH_BITS)
    ] + [F.count(F.lit(1)).alias("_n")]
    sums = tok.groupBy("doc_id").agg(*aggs)
    packed = None
    for b in range(SIMHASH_BITS):
        bit = F.when(
            2 * F.col(f"c{b}") - F.col("_n") >= 0, F.lit(1).cast("long")
        ).otherwise(F.lit(0).cast("long"))
        term = F.shiftleft(bit, b)
        packed = term if packed is None else packed + term
    return sums.select("doc_id", packed.alias("simhash"))


def simhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    chunks: int = 4,
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """SimHash near-dup pairs with Hamming distance ≤ max_hamming.

    Pigeonhole banding: split 60 bits into ``chunks`` 15-bit chunks; any
    pair within distance ``max_hamming < chunks`` shares at least one exact
    chunk, so the self-join on (chunk_idx, chunk_value) is lossless.
    ``max_bucket_size`` drops pathological chunk buckets (see
    :func:`lsh_candidate_pairs`; default :data:`DEFAULT_MAX_BUCKET`,
    ``None`` opts out).
    """
    if not 0 <= max_hamming < chunks:
        # the pigeonhole guarantee NEEDS max_hamming < chunks: a pair at
        # distance `chunks` can differ in every chunk, share no join key,
        # and silently vanish from output the final filter implies is
        # complete
        raise ValueError(
            f"max_hamming ({max_hamming}) must be < chunks ({chunks}) "
            "for the pigeonhole banding to be lossless"
        )
    if SIMHASH_BITS % chunks != 0:
        raise ValueError(
            f"chunks ({chunks}) must divide SIMHASH_BITS ({SIMHASH_BITS}); "
            "a remainder would leave top bits out of every chunk"
        )
    sig = simhash(df, text_col, id_col)
    width = SIMHASH_BITS // chunks
    chunk_structs = F.array(
        *[
            F.struct(
                F.lit(ci).alias("chunk_idx"),
                F.shiftright(F.col("simhash"), ci * width)
                .bitwiseAND((1 << width) - 1)
                .alias("chunk_val"),
            )
            for ci in range(chunks)
        ]
    )
    chunked = sig.select("doc_id", "simhash", F.explode(chunk_structs).alias("c")).select(
        "doc_id", "simhash", "c.chunk_idx", "c.chunk_val"
    )
    keys = ["chunk_idx", "chunk_val"]
    chunked = capped_bucket_frame(chunked, keys, max_bucket_size)
    return (
        _bucket_pairs(chunked, "doc_id", keys, carry=("simhash",))
        .select(
            "doc_a",
            "doc_b",
            F.bit_count(
                F.col("simhash_a").bitwiseXOR(F.col("simhash_b"))
            ).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def embedding_neardup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_blocks: int = 8,
) -> DataFrame:
    """Exact embedding-cosine near-dup pairs ≥ threshold, as
    (vec_a, vec_b, cosine) with vec_a < vec_b.

    Blocked distributed matmul: each row is hash-assigned to one of
    ``n_blocks`` blocks and replicated into every block *pair* it
    participates in; ``groupBy(block_pair).applyInPandas`` runs one dense
    numpy matmul per pair. Shuffle = N·n_blocks rows, per-task memory =
    2·N/n_blocks vectors, compute O(N²/n_blocks²) per task across
    n_blocks·(n_blocks+1)/2 tasks — exact at any threshold, no driver
    collect, no full-corpus broadcast. Id and vector types follow the
    input schema (string ids work). The approximate plan for high
    thresholds, where SRP-LSH prunes the pair space, is
    ``ann.hyperplane_lsh_pairs``.
    """
    B = int(n_blocks)
    id_type = df.schema[id_col].dataType.simpleString()
    blk = F.pmod(F.xxhash64(F.col(id_col)), F.lit(B))
    src = df.select(
        F.col(id_col).alias("_vid"), F.col(vec_col).alias("_vec"), blk.alias("_blk")
    )
    # replicate each row into every block pair (i, j), i <= j, it belongs to:
    # row in block k joins pairs {(min(k,o), max(k,o)) : o in 0..B-1}
    pair_ids = F.array(
        *[
            F.least(F.col("_blk"), F.lit(o)) * B
            + F.greatest(F.col("_blk"), F.lit(o))
            for o in range(B)
        ]
    )
    rep = src.withColumn("_pair", F.explode(F.array_distinct(pair_ids)))

    def compute(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        pair = int(key[0])
        bi, bj = divmod(pair, B)
        # keep the id dtype native (int64 or str); str converts to a
        # fixed-width U array so the comparisons below stay elementwise
        ids = pdf["_vid"].to_numpy()
        if ids.dtype == object:
            ids = ids.astype("U")
        mat = np.array(list(pdf["_vec"]), dtype=np.float64)
        norms = np.linalg.norm(mat, axis=1)
        norms[norms == 0] = 1.0
        mat = mat / norms[:, None]
        blks = pdf["_blk"].values
        ai, aj = blks == bi, blks == bj
        # filter on the ROUNDED cosine — the value the pair displays —
        # so every pair path (this one and ann.hyperplane_lsh_pairs'
        # Column-fold verify) shares one boundary semantics: emitted iff
        # round(cos, 6) >= threshold. A raw-value filter disagrees with
        # the rounded LSH verify in a 5e-7 window around the threshold,
        # which made cross-path audits (q_lsh_precision) flaky at the edge.
        sims = round6(mat[ai] @ mat[aj].T)
        ii, jj = np.nonzero(sims >= threshold)
        a_ids, b_ids = ids[ai][ii], ids[aj][jj]
        # np.minimum has no loop for string dtypes
        a_first = a_ids <= b_ids
        lo = np.where(a_first, a_ids, b_ids)
        hi = np.where(a_first, b_ids, a_ids)
        keep = lo < hi  # drops self-pairs; diag block emits each pair twice
        out = pd.DataFrame(
            {
                "vec_a": lo[keep],
                "vec_b": hi[keep],
                "cosine": sims[ii, jj][keep],
            }
        )
        if bi == bj:
            out = out.drop_duplicates(["vec_a", "vec_b"])
        return out

    return rep.groupBy("_pair").applyInPandas(
        compute, f"vec_a {id_type}, vec_b {id_type}, cosine double"
    )


def dedup_groups(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iter: int = 30,
) -> DataFrame:
    """Collapse near-dup *pairs* into duplicate *groups* (the step between
    candidate generation and actually deduplicating a corpus): connected
    components over the pair graph, survivor = the minimum member id.

    Distributed min-label propagation with pointer jumping (O(log
    diameter) rounds; the same loop is the cross-tile merge of
    ``operators/polygonize.connected_components_tiled``, run over a
    grid's border label graph): each round
    every node adopts the minimum label in its neighborhood, then follows
    that label's own label. Rounds are single hash-join shuffles; lineage
    is truncated per round with ``localCheckpoint``.

    Returns (doc_id, group_id) for every node that appears in ``pairs`` —
    anti-join the corpus against ``doc_id != group_id`` rows to drop
    duplicates, keeping survivors.
    """
    edges = pairs.select(
        F.col(a_col).alias("u"), F.col(b_col).alias("v")
    )
    # materialize the edge list once: every propagation round joins it, and
    # without the checkpoint the (possibly expensive) upstream pair plan —
    # an LSH or Jaccard job — would re-execute per round
    sym = edges.unionAll(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).localCheckpoint()
    lab = (
        sym.select(F.col("u").alias("doc_id"))
        .distinct()
        .withColumn("label", F.col("doc_id"))
        .localCheckpoint()
    )
    for _ in range(max_iter):
        nb_min = (
            sym.join(lab.withColumnRenamed("doc_id", "v"), "v")
            .groupBy("u")
            .agg(F.min("label").alias("nb_label"))
            .withColumnRenamed("u", "doc_id")
        )
        stepped = (
            lab.join(nb_min, "doc_id", "left")
            .select(
                "doc_id",
                F.col("label").alias("_old"),
                F.least(
                    F.col("label"), F.coalesce("nb_label", "label")
                ).alias("label"),
            )
        )
        # pointer jumping: label <- label(label)
        jump = lab.select(
            F.col("doc_id").alias("label"), F.col("label").alias("jlabel")
        )
        jumped = (
            stepped.join(jump, "label", "left")
            .select(
                "doc_id",
                "_old",
                F.least(
                    F.col("label"), F.coalesce("jlabel", "label")
                ).alias("label"),
            )
        )
        # old label rides to the checkpoint: convergence is a filter-count,
        # not an extra join per round
        new_lab = jumped.localCheckpoint()
        changed = new_lab.filter(F.col("label") != F.col("_old")).count()
        lab = new_lab.drop("_old")
        if changed == 0:
            break
    else:
        import warnings

        warnings.warn(
            f"dedup_groups did not converge in {max_iter} rounds",
            RuntimeWarning,
            stacklevel=2,
        )
    return lab.withColumnRenamed("label", "group_id")


def deduplicate(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    a_col: str = "doc_a",
    b_col: str = "doc_b",
) -> DataFrame:
    """Drop near-duplicates from ``df``: keep one survivor (min id) per
    connected group of ``pairs``, pass non-duplicated rows through. One
    broadcast-able anti-join against the (small) loser set."""
    groups = dedup_groups(pairs, a_col, b_col)
    losers = groups.filter(F.col("doc_id") != F.col("group_id")).select(
        F.col("doc_id").alias(id_col)
    )
    return df.join(losers, id_col, "left_anti")


# ---------------------------------------------------------------------------
# incremental dedup — a new batch against a persisted corpus index
# ---------------------------------------------------------------------------
# At 100 TB you never re-dedup the whole corpus when a new crawl lands: the
# corpus is summarized ONCE into a compact index (a content-hash table for
# exact dedup; a MinHash band table for near-dup), and each incoming batch
# joins against that index. The index is O(corpus docs) rows of a few
# dozen bytes — persist it bucketed by its join key (plans/bucketing) and
# every future batch join is exchange-free on the index side.


def exact_index(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Content-hash index of an existing corpus: one row per distinct
    normalized-text md5, ``(dup_key, owner_id)`` with owner = min id.

    One partial-agg shuffle over the corpus, run once; the output is the
    persistent side of :func:`dedup_against`. Store it bucketed by
    ``dup_key`` so batch joins never exchange the index."""
    return (
        df.select(content_key(text_col).alias("dup_key"), F.col(id_col))
        .groupBy("dup_key")
        .agg(F.min(id_col).alias("owner_id"))
    )


def save_exact_index(
    corpus: DataFrame,
    table: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 128,
    mode: str = "overwrite",
) -> None:
    """Build and persist the :func:`exact_index` in its prescribed storage
    layout: a table bucketed (and in-bucket sorted) on ``dup_key``.

    The layout is the whole point — measured at 160M docs
    (BENCH/BASELINE.md): a plain-parquet index re-shuffles every index row
    on every batch audit (61.1 s per 100k-doc batch), while the bucketed
    table removes the index-side exchange entirely (11.3 s, the residual
    being the one co-located scan). At 10^12 docs that difference is the
    feasibility of continuous ingestion. Locally the table lands in the
    session catalog/warehouse; on a cluster the same call against a
    Hive/Iceberg catalog gives the identical plan shape (Iceberg's
    ``bucket(n, dup_key)`` partition transform plays this role)."""
    from ..plans.bucketing import write_bucketed

    write_bucketed(
        exact_index(corpus, text_col=text_col, id_col=id_col),
        table,
        n_buckets=n_buckets,
        bucket_col="dup_key",
        sort_col="dup_key",
        mode=mode,
    )


def load_exact_index(spark: SparkSession, table: str) -> DataFrame:
    """Read a :func:`save_exact_index` table back WITH its bucketing
    metadata (``spark.table``, not a path read — a path read would lose
    the bucket spec and re-shuffle on every audit join)."""
    return spark.table(table)


def dedup_against(
    batch: DataFrame,
    index: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Incremental exact dedup: audit a new ``batch`` against a corpus
    :func:`exact_index`.

    Returns one row per batch doc:

    ``(id, dup_key, in_corpus, corpus_owner, batch_survivor, kept)`` —
    ``in_corpus`` if the content hash already exists in the index
    (``corpus_owner`` = the corpus doc that owns it, else NULL),
    ``batch_survivor`` if this is the min-id holder of its hash *within
    the batch* (first occurrence), and ``kept = NOT in_corpus AND
    batch_survivor`` — the rows that survive ingestion.

    Plan: one window over the batch keyed on ``dup_key`` (batch-internal
    survivor), then a left join to the index on the same key — the batch
    is already hash-partitioned by ``dup_key`` from the window, so with a
    ``dup_key``-bucketed index the join moves nothing. A small index is
    broadcast by AQE from its measured size; a corpus-sized one (billions
    of keys) streams through a shuffle hash join.
    """
    keyed = batch.select(F.col(id_col), content_key(text_col).alias("dup_key"))
    w = Window.partitionBy("dup_key")
    keyed = keyed.withColumn(
        "batch_survivor", F.col(id_col) == F.min(id_col).over(w)
    )
    idx = index.select("dup_key", F.col("owner_id").alias("corpus_owner"))
    out = keyed.join(idx, "dup_key", "left")
    return out.select(
        F.col(id_col),
        "dup_key",
        F.col("corpus_owner").isNotNull().alias("in_corpus"),
        "corpus_owner",
        "batch_survivor",
        (F.col("corpus_owner").isNull() & F.col("batch_survivor")).alias(
            "kept"
        ),
    )


def minhash_band_index(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    bands: int = 4,
    rows: int = 4,
) -> DataFrame:
    """MinHash band index of an existing corpus for incremental near-dup:
    ``(band_idx, band_hash, doc_id, sig)`` — one row per (doc, band), the
    full k-component signature carried on each row so the verify step
    needs no second corpus table.

    ``bands × rows`` signature components per doc (k = 16 by default →
    128 B of longs + 4 band rows per doc: ~10 GB per billion docs — an
    index, not a copy of the corpus). Persist bucketed by
    ``(band_idx, band_hash)``; that is the join key every batch probes.
    """
    k = bands * rows
    sig = minhash_signatures(df, text_col, id_col, n, k)
    sig_arr = F.array(*[F.col(f"mh{i}") for i in range(k)]).alias("sig")
    return _band_rows(sig, bands, rows, sig_arr).withColumnRenamed("doc_id", id_col)


def minhash_family_fingerprint(n: int, bands: int, rows: int) -> str:
    """Deterministic fingerprint of EVERYTHING that decides whether two
    MinHash band tables are join-compatible: the shingle width, the band
    layout, and the concrete (a, b) permutation parameters. Signatures or
    band hashes produced under a different family join to garbage (zero
    or spurious matches) with no schema error — the fingerprint makes
    that mismatch loud at load time instead."""
    import hashlib

    sig = repr((int(n), int(bands), int(rows), hash_params(bands * rows)))
    return hashlib.md5(sig.encode()).hexdigest()


_MINHASH_FAMILY_PROP = "gw.minhash_family"


def save_minhash_index(
    corpus: DataFrame,
    table: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    bands: int = 4,
    rows: int = 4,
    n_buckets: int = 128,
    mode: str = "overwrite",
) -> None:
    """Build and persist the :func:`minhash_band_index` in its prescribed
    layout — bucketed on the batch-probe join key ``(band_idx,
    band_hash)`` — so every :func:`neardup_against` call joins the index
    co-located, with no index-side exchange (the near-dup analogue of
    :func:`save_exact_index`; same measured rationale, BENCH/BASELINE.md
    160M-doc table). The hash-family fingerprint is stamped into the
    table properties so a later load under different parameters (or a
    changed :func:`hash_params` family) fails loudly instead of silently
    matching nothing.

    Family safety around the two non-atomic steps (data write, then
    property stamp):

    - **append**: the existing table's fingerprint is checked BEFORE any
      rows are written — appending a different band layout would
      interleave two incompatible families in one table, and re-stamping
      would then bless the mixed garbage. Mismatch or a missing
      fingerprint (an interrupted prior save) raises ``ValueError``.
    - **overwrite crash window**: a driver crash between the data write
      and the property stamp leaves a complete but fingerprint-less
      table. :func:`load_minhash_index` REFUSES such tables by default,
      so the failure is loud — rerun the save (overwrite is idempotent).
    """
    from ..plans.bucketing import write_bucketed

    spark = corpus.sparkSession
    fp = minhash_family_fingerprint(n, bands, rows)
    if mode == "append" and spark.catalog.tableExists(table):
        stored = {
            r["key"]: r["value"]
            for r in spark.sql(f"SHOW TBLPROPERTIES {table}").collect()
        }.get(_MINHASH_FAMILY_PROP)
        if stored != fp:
            raise ValueError(
                f"cannot append to minhash index {table!r}: it carries "
                f"family fingerprint {stored!r} but this save would write "
                f"family {fp!r} (n={n}, bands={bands}, rows={rows}) — "
                "a mixed-family table silently matches nothing; rebuild "
                "with mode='overwrite' or use the original parameters"
            )
    write_bucketed(
        minhash_band_index(
            corpus, text_col=text_col, id_col=id_col,
            n=n, bands=bands, rows=rows,
        ),
        table,
        n_buckets=n_buckets,
        bucket_col=["band_idx", "band_hash"],
        sort_col=["band_idx", "band_hash"],
        mode=mode,
    )
    spark.sql(
        f"ALTER TABLE {table} SET TBLPROPERTIES "
        f"('{_MINHASH_FAMILY_PROP}'='{fp}')"
    )


def load_minhash_index(
    spark: SparkSession,
    table: str,
    n: int = 3,
    bands: int = 4,
    rows: int = 4,
    allow_unfingerprinted: bool = False,
) -> DataFrame:
    """Read a :func:`save_minhash_index` table back WITH its bucket spec
    (``spark.table``; a path read would lose it), verifying the persisted
    hash-family fingerprint against the family the caller will probe
    with (``n``/``bands``/``rows`` must match the upcoming
    :func:`neardup_against` call). A mismatch raises ``ValueError``. A
    MISSING fingerprint also raises by default: it means the save was
    interrupted between the data write and the property stamp (or the
    table predates fingerprints), and probing an unverifiable family
    silently matches nothing — rerun ``save_minhash_index``. Pass
    ``allow_unfingerprinted=True`` to downgrade that case to a
    ``RuntimeWarning`` for tables known-good out of band."""
    expected = minhash_family_fingerprint(n, bands, rows)
    stored = {
        r["key"]: r["value"]
        for r in spark.sql(f"SHOW TBLPROPERTIES {table}").collect()
    }.get(_MINHASH_FAMILY_PROP)
    if stored is None:
        msg = (
            f"minhash index {table!r} carries no family fingerprint — "
            "either the save was interrupted before the family stamp or "
            "the table predates fingerprints; band hashes may not match "
            "the current hash family. Rebuild with save_minhash_index"
        )
        if not allow_unfingerprinted:
            raise ValueError(
                msg + ", or pass allow_unfingerprinted=True if the "
                "table's family is known-good out of band"
            )
        import warnings

        warnings.warn(msg, RuntimeWarning, stacklevel=2)
    elif stored != expected:
        raise ValueError(
            f"minhash index {table!r} was built under a different hash "
            f"family (stored {stored}, expected {expected} for n={n}, "
            f"bands={bands}, rows={rows}) — probing it would silently "
            "match nothing; rebuild the index or pass the original "
            "parameters"
        )
    return spark.table(table)


def neardup_against(
    batch: DataFrame,
    index: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    bands: int = 4,
    rows: int = 4,
    threshold: float = 0.5,
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """Incremental near-dup: probe a new ``batch`` against a corpus
    :func:`minhash_band_index`, verifying candidates with the
    *signature-estimated* Jaccard.

    Candidates come from shared LSH bands (join on ``(band_idx,
    band_hash)``); the verdict is the fraction of equal signature
    components — the standard MinHash estimator (Broder 1997), computed
    with ``zip_with`` + ``aggregate`` on the two signature arrays, fully
    JVM-side. Estimated (not exact) Jaccard is the deliberate scale
    trade: exact verify would need the corpus *shingle sets* (a second
    corpus-sized table); the estimator needs only the 16-long signature
    the band index already carries. With k = 16 the estimate is
    quantized to 1/16 steps — pick ``threshold`` on that lattice.

    ``max_bucket_size`` drops pathological index buckets (boilerplate
    hash of near-empty docs) exactly as :func:`lsh_candidate_pairs`
    does; the members of such buckets belong to the exact-dedup pass.

    Returns ``(batch_id, corpus_id, jaccard_est)`` — one row per
    (batch doc, corpus doc) pair above threshold.
    """
    k = bands * rows
    # the probe side IS a band index of the batch — built by the same
    # function that built the corpus index, so the banding layout cannot
    # drift between the index writer and the probe
    b_band = minhash_band_index(batch, text_col, id_col, n, bands, rows).select(
        F.col(id_col).alias("batch_id"),
        "band_idx",
        "band_hash",
        F.col("sig").alias("sig_b"),
    )
    idx = index.select(
        F.col(id_col).alias("corpus_id"), "band_idx", "band_hash",
        F.col("sig").alias("sig_c"),
    )
    idx = bucket_cap_filter(
        idx, ["band_idx", "band_hash"], max_bucket_size
    )
    cand = (
        b_band.join(idx, ["band_idx", "band_hash"])
        .select("batch_id", "corpus_id", "sig_b", "sig_c")
        .distinct()  # a pair sharing several bands is still one pair
    )
    n_eq = F.aggregate(
        F.zip_with(
            F.col("sig_b"),
            F.col("sig_c"),
            lambda x, y: F.when(x == y, 1).otherwise(0),
        ),
        F.lit(0),
        lambda acc, v: acc + v,
    )
    return (
        cand.withColumn("jaccard_est", F.round(n_eq / F.lit(k), 6))
        .filter(F.col("jaccard_est") >= threshold)
        .select("batch_id", "corpus_id", "jaccard_est")
    )
