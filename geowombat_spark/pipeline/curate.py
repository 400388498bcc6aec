"""Corpus curation: benchmark decontamination, sequence packing, PII scrub.

The three pipeline steps every large-scale training-data build runs after
dedup/quality (complementing ``pipeline/dedup.py`` / ``pipeline/text.py``).
All pure JVM Column/window code — no UDFs, portable hashes, each op
verifiable value-level against a SQL oracle.

Scale shapes:

- **decontaminate** — benchmark n-grams are tiny next to the corpus:
  distinct benchmark shingles BROADCAST to an inner join against the
  exploded corpus shingles, partial-agg count per doc. The corpus is
  scanned once and never shuffled (the post-join count aggregates on
  doc_id — one partial-agg exchange of the *matching* rows only, a
  vanishing fraction of the corpus at 100 TB).
- **pack_sequences** — one window over (shard, doc order): the cumulative
  token offset assigns each doc a pack id. Shard-partitioned so the window
  never sees more than one shard's docs in a task; shards are independent
  (pack ids are (shard, pack) pairs), which is what makes the op
  embarrassingly parallel at cluster scale.
- **pii_scrub** — a chain of ``regexp_replace`` Columns, fused into the
  feeding scan's codegen stage.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .dedup import shingles_col
from .text import md5_int, tokens

#: (kind, pattern, replacement) — patterns restricted to the regex subset
#: with identical semantics in Java regex (Spark) and RE2 (DuckDB):
#: no lookaround, no backrefs.
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "[EMAIL]"),
    ("ip", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "[IP]"),
    ("phone", r"\+?\d[\d\- ]{7,}\d", "[PHONE]"),
)


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bench_text_col: str = "text",
    n: int = 3,
    min_hits: int = 1,
) -> DataFrame:
    """Flag corpus documents sharing ≥ ``min_hits`` word ``n``-grams with a
    benchmark/eval set — the standard train-test decontamination pass.

    Returns ``(id_col, n_contam_ngrams, contaminated)`` for every corpus
    doc (zero hits included, so the caller can anti-join or filter either
    way without a second scan).
    """
    # drop the empty whole-doc gram ('' — what NULL/short texts shingle
    # to): one blank benchmark row would otherwise flag EVERY empty
    # corpus doc as contaminated
    bench_sh = (
        benchmark.select(
            F.explode(shingles_col(bench_text_col, n)).alias("shingle")
        )
        .filter(F.col("shingle") != "")
        .distinct()
    )
    doc_sh = docs.select(
        F.col(id_col).alias(id_col),
        F.explode(shingles_col(text_col, n)).alias("shingle"),
    )
    hits = (
        doc_sh.join(F.broadcast(bench_sh), "shingle")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).cast("long").alias("n_contam_ngrams"))
    )
    return (
        docs.select(id_col)
        .join(hits, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("n_contam_ngrams"), F.lit(0)).alias(
                "n_contam_ngrams"
            ),
            (
                F.coalesce(F.col("n_contam_ngrams"), F.lit(0))
                >= F.lit(int(min_hits))
            ).alias("contaminated"),
        )
    )


def pack_sequences(
    docs: DataFrame,
    max_tokens: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_shards: int = 32,
    exact: bool = False,
) -> DataFrame:
    """Assign docs to fixed-budget training packs by token offset.

    Default (``exact=False``) is offset-based packing: docs stream in
    deterministic ``id`` order within a shard; a doc's pack is
    ``floor(exclusive_prefix_tokens / max_tokens)`` and ``pack_offset``
    its position inside the pack (the streaming form used when sequences
    may straddle pack boundaries and be split at load time — and the
    SQL-oracle-checkable one). ``exact=True`` runs the greedy next-fit
    packer instead — no doc straddles a pack (a doc that would overflow
    opens a new pack; oversized docs get a pack alone) — sequential per
    shard inside one ``applyInPandas`` task, shards in parallel. Emits
    ``(id, shard, n_tokens, pack, pack_offset)`` either way.

    One window per shard (hash-sharded on the id — deterministic), no
    global ordering: shards pack independently, so the op scales linearly
    with executors.
    """
    # coalesce NULL text first: a NULL n_tokens becomes NaN in the exact
    # path's pandas kernel and int(NaN) kills the whole applyInPandas
    # stage (and silently NULLs pack ids in the window path). NULL text
    # packs as the single empty token, the module-wide convention.
    nt = F.size(tokens(F.coalesce(F.col(text_col), F.lit("")))).cast("long")
    # md5-derived shard (portable across engines, unlike murmur3 hash())
    shard = (md5_int(F.col(id_col).cast("string")) % int(n_shards)).cast(
        "long"
    )
    d = docs.select(
        F.col(id_col),
        shard.alias("shard"),
        nt.alias("n_tokens"),
    )
    w = Window.partitionBy("shard").orderBy(id_col)
    cum_excl = F.coalesce(
        F.sum("n_tokens").over(w.rowsBetween(Window.unboundedPreceding, -1)),
        F.lit(0),
    )
    if exact:
        import pandas as pd

        budget = int(max_tokens)
        id_type = docs.schema[id_col].dataType.simpleString()

        def _greedy(key: tuple, pdf: "pd.DataFrame") -> "pd.DataFrame":
            pdf = pdf.sort_values(id_col).reset_index(drop=True)
            packs, offs = [], []
            pack, fill = 0, 0
            for nt in pdf["n_tokens"]:
                if fill > 0 and fill + nt > budget:
                    pack += 1
                    fill = 0
                packs.append(pack)
                offs.append(fill)
                fill += int(nt)
            pdf["pack"] = packs
            pdf["pack_offset"] = offs
            return pdf[[id_col, "shard", "n_tokens", "pack", "pack_offset"]]

        return d.groupBy("shard").applyInPandas(
            _greedy,
            f"{id_col} {id_type}, shard long, n_tokens long, pack long, "
            "pack_offset long",
        )

    d = d.withColumn("_off", cum_excl)
    return d.select(
        id_col,
        "shard",
        "n_tokens",
        F.floor(F.col("_off") / max_tokens).cast("long").alias("pack"),
        (F.col("_off") % max_tokens).cast("long").alias("pack_offset"),
    )


def pii_scrub(
    docs: DataFrame,
    text_col: str = "text",
    kinds: tuple[str, ...] = ("email", "ip", "phone"),
    out_col: str | None = None,
    count: bool = True,
) -> DataFrame:
    """Redact PII spans with typed placeholders; optionally count matches
    per kind (counted on the ORIGINAL text, before any replacement).

    Replacement order is the ``PII_PATTERNS`` order (emails first: an
    address would otherwise partially match the looser numeric patterns).
    """
    out_col = out_col or text_col
    known = {k for k, _p, _r in PII_PATTERNS}
    unknown = set(kinds) - known
    if unknown:
        # fail CLOSED: a typo'd kind would otherwise silently disable
        # that redaction and the pass would report success
        raise ValueError(
            f"pii_scrub: unknown kinds {sorted(unknown)} "
            f"(available: {sorted(known)})"
        )
    sel = dict.fromkeys(kinds)
    scrubbed: Column = F.col(text_col)
    counts = {}
    for kind, pat, repl in PII_PATTERNS:
        if kind not in sel:
            continue
        if count:
            counts[f"n_{kind}"] = F.regexp_count(F.col(text_col), F.lit(pat))
        scrubbed = F.regexp_replace(scrubbed, pat, repl)
    # counts must bind the ORIGINAL column — add them before the overwrite
    df = docs
    for name, c in counts.items():
        df = df.withColumn(name, c.cast("long"))
    return df.withColumn(out_col, scrubbed)


def rebalance_sources(
    docs: DataFrame,
    weights: dict[str, float],
    source_col: str = "source",
    id_col: str = "doc_id",
    total: int | None = None,
) -> DataFrame:
    """Deterministic data mixing: downsample each source toward target
    proportions — the pre-training mixture step.

    ``weights`` maps source → relative target weight. The realized target
    for source s is ``total · w_s / Σw`` (``total`` defaults to the corpus
    size); sources under their target keep everything (no upsampling —
    repetition policy belongs to the loader). **Sources absent from
    ``weights`` — including NULL sources — are DROPPED**: the output is
    exactly the declared mixture, so rebalancing a subset of sources
    discards the rest; pass every source you want kept (weight 1.0
    leaves a source undersampled relative to nothing, i.e. kept whole
    unless over target). Selection is an md5-uniform
    keep-threshold per source, so membership is a pure per-row predicate:
    reproducible across runs/partitionings and SQL-mirrorable. Plan: one
    per-source count aggregate (tiny) broadcast back, then a filter —
    the corpus is scanned once and never shuffled.
    """
    if not weights or any(w < 0 for w in weights.values()):
        raise ValueError("weights must be non-negative and non-empty")
    wsum = float(sum(weights.values()))
    counts = {
        r[0]: r[1]
        for r in docs.groupBy(source_col)
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    n_total = int(total) if total is not None else int(sum(counts.values()))
    # md5-uniform in [0, 1): first 60 md5 bits / 2^60
    u = md5_int(F.col(id_col).cast("string")) / F.lit(float(1 << 60))
    keep = None
    for s, w in weights.items():
        target = n_total * float(w) / wsum
        frac = min(1.0, target / counts.get(s, 1) if counts.get(s) else 1.0)
        cond = (F.col(source_col) == s) & (u < F.lit(frac))
        keep = cond if keep is None else keep | cond
    return docs.filter(keep)


def quality_buckets(
    docs: DataFrame,
    score_col: str,
    group_col: str = "lang",
    n_buckets: int = 3,
    id_col: str = "doc_id",
    labels: tuple[str, ...] = ("head", "middle", "tail"),
) -> DataFrame:
    """CCNet-style per-group quality bucketing (Wenzek et al. 2020,
    "CCNet: Extracting High Quality Monolingual Datasets from Web Crawl
    Data"): within each group (CCNet: language), rank documents by
    ``score_col`` (CCNet: LM perplexity, lower = better) and split them
    into ``n_buckets`` equal-count buckets — head/middle/tail at the
    default 3.

    Adds ``bucket_idx`` (1-based, 1 = best) and ``bucket`` (label, or the
    index as a string when more buckets than labels). Ordering ties break
    on ``id_col`` so the assignment is deterministic across engines and
    partitionings.

    Scale shape: ONE shuffle — ``ntile`` over a window partitioned by
    group. Each group sorts within its partition, which is exactly how
    CCNet shards the work (per-language); for a pathological single
    mega-group, pre-aggregate thresholds with ``percentile_approx`` and
    join them back instead (documented alternative, not the default,
    because approximate cut points can't be oracle-checked exactly).
    """
    # asc_nulls_last: Spark's default ASC puts NULLs FIRST, which would
    # rank unscorable docs into bucket 1 ("head" = best quality); DuckDB
    # (the oracle) defaults to NULLS LAST for ASC, so this also aligns
    # the engines
    w = Window.partitionBy(group_col).orderBy(
        F.col(score_col).asc_nulls_last(), F.col(id_col).asc()
    )
    out = docs.withColumn("bucket_idx", F.ntile(n_buckets).over(w))
    if n_buckets <= len(labels):
        lab = F.element_at(
            F.array(*[F.lit(x) for x in labels[:n_buckets]]),
            F.col("bucket_idx"),
        )
    else:
        lab = F.col("bucket_idx").cast("string")
    return out.withColumn("bucket", lab)
