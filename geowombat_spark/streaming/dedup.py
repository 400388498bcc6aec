"""Streaming deduplication — the training-pipeline dedup ops in
Structured Streaming form.

The batch family (``pipeline/dedup.py``) prunes the quadratic pair space
with bucketing; streaming replaces the self-join with *state keyed by the
bucket*:

- ``stream_exact_dedup``: first-seen-wins on the content hash via
  ``dropDuplicatesWithinWatermark`` — Spark's built-in watermarked dedup
  state (state is evicted once the watermark passes an entry, so memory
  is bounded by the watermark horizon, not the stream length).
- ``stream_lsh_neardup_flags``: custom stateful operator
  (``applyInPandasWithState`` keyed by MinHash band bucket): the state is
  the min doc id ever seen in the bucket; a document whose every band
  bucket already existed is flagged as a near-dup candidate. This is the
  streaming analogue of LSH banding — state size is O(#live buckets),
  and a processing-time timeout evicts idle buckets. Doc ids may be
  integers or strings, as in the batch path.

Both call the batch code: the content key is ``pipeline.dedup.content_key``
and ``band_stream`` bands with ``pipeline.dedup._band_rows``, the banding
step of ``lsh_candidate_pairs`` and ``minhash_band_index``. So a document
flagged by the stream matches the batch ``minhash_dedup_pairs`` candidate
set for the same (bands, rows) config.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import IntegralType

from ..pipeline.dedup import (  # noqa: F401  (content_key re-exported)
    DEFAULT_MAX_BUCKET,
    _band_rows,
    content_key,
    minhash_sig_cols,
)


def band_stream(
    stream: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    bands: int = 4,
    rows: int = 4,
) -> DataFrame:
    """Stream of (doc_id, band_idx, band_hash): the row-local MinHash
    signature (``minhash_sig_cols`` — no stateful agg needed) banded by
    ``pipeline.dedup._band_rows``, the banding step of the batch
    ``lsh_candidate_pairs``, so streaming flags agree with batch pairs.
    ``doc_id`` keeps the type of ``id_col`` (integer or string)."""
    sig = stream.select(
        F.col(id_col).alias("doc_id"),
        *minhash_sig_cols(text_col, n, bands * rows),
    )
    return _band_rows(sig, bands, rows)


def stream_exact_dedup(
    stream: DataFrame,
    text_col: str = "text",
    ts_col: str = "event_ts",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Watermarked streaming exact dedup: ONE document per content hash
    passes within the watermark horizon; later copies are dropped. State
    is evicted as the watermark advances — bounded memory, the streaming
    form of the one-shuffle batch groupBy.

    Survivor identity: ``dropDuplicatesWithinWatermark`` keeps an
    ARBITRARY row among same-key rows of a micro-batch (whichever reaches
    the state store first after the keyed shuffle) — NOT necessarily the
    min doc id the batch path's ``exact_dedup`` picks. Parity with the
    batch path is therefore on the surviving KEY SET (exactly one row per
    distinct content hash — what q_stream_dedup pins against a batch
    DISTINCT), not on which physical copy carries it; route survivors by
    key, not by id, when mixing batch and stream outputs."""
    keyed = stream.withColumn("dup_key", content_key(text_col))
    return keyed.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        ["dup_key"]
    )


def stream_dedup_against(
    stream: DataFrame,
    index: DataFrame,
    text_col: str = "text",
    ts_col: str = "event_ts",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming incremental dedup against a STATIC corpus index
    (``pipeline/dedup.exact_index``) — the streaming analogue of
    ``dedup_against``, for continuous ingestion into an already-deduped
    corpus.

    Within-stream survivor selection IS :func:`stream_exact_dedup`
    (called, not re-implemented — one row per content key within the
    watermark horizon; see its docstring for the arbitrary-survivor
    caveat); corpus membership then comes from
    a **stream-static left join** — Spark joins each micro-batch against
    the static index as an ordinary batch relation (broadcast-able when
    small, bucketed on ``dup_key`` at corpus scale), no streaming state.
    Output: the stream's surviving rows with ``dup_key``, ``corpus_owner``
    (NULL = novel), ``in_corpus`` and ``kept = NOT in_corpus`` — stream
    copies of corpus docs flow through flagged, so the sink can route
    keeps and drops without a second pass."""
    surv = stream_exact_dedup(stream, text_col, ts_col, watermark)
    idx = index.select(
        "dup_key", F.col("owner_id").alias("corpus_owner")
    )
    out = surv.join(idx, "dup_key", "left")
    return out.withColumns(
        {
            "in_corpus": F.col("corpus_owner").isNotNull(),
            "kept": F.col("corpus_owner").isNull(),
        }
    )


#: legacy seen_min sentinel for over-cap buckets of integer ids. ``status``
#: is the authoritative verdict ('fresh' | 'seen' | 'overflow'): sentinel
#: values inside the id domain would collide with real negative doc ids,
#: which the batch path (plain ``a.doc_id < b.doc_id`` joins) handles fine.
BUCKET_OVERFLOW = -2


def _make_update_bucket(
    max_bucket_size: int | None, timeout_ms: int, integral: bool
):
    # integer ids fold as int64 with the legacy -1/-2 seen_min sentinels;
    # any other id type (strings) folds as objects with NULL sentinels
    dtype, fresh, overflow = (
        ("int64", -1, BUCKET_OVERFLOW) if integral else (object, None, None)
    )

    def _update_bucket(key, pdfs, state: GroupState):
        if state.hasTimedOut:
            state.remove()
            return
        # occupancy is an explicit state flag, NOT a sign convention on
        # min_doc: negative doc ids are legal (the batch path accepts any
        # int64), so "min_doc < 0 means empty" would corrupt the fold
        min_doc, n_seen, occupied = (
            state.get if state.exists else (0 if integral else None, 0, False)
        )
        # Drain EVERY Arrow chunk before sorting: chunk boundaries are a
        # transport artifact (arrow batch size, upstream slicing), and a
        # per-chunk sort would make seen_min depend on which chunk a doc
        # landed in — nondeterministic across replays. One concat + one
        # sort gives the same min-id-first fold the batch path uses.
        parts = [pdf["doc_id"].to_numpy(dtype=dtype) for pdf in pdfs]
        ids = np.sort(np.concatenate(parts)) if parts else np.array([], dtype)
        m = len(ids)
        seen = np.full(m, fresh, dtype=dtype)
        has_prior = np.empty(m, dtype=bool)
        if m:
            # seen_min[i] = min(state, ids[:i]) — a shifted prefix-min,
            # vectorized (the per-row dict loop was O(rows) interpreter
            # work per bucket per trigger)
            prefix = np.minimum.accumulate(ids)
            has_prior[0] = occupied
            if occupied:
                seen[0] = min_doc
            if m > 1:
                before = prefix[: m - 1]
                seen[1:] = (
                    np.minimum(before, min_doc) if occupied else before
                )
                has_prior[1:] = True
            new_min = min(min_doc, prefix[-1]) if occupied else prefix[-1]
            new_occupied = True
        else:
            new_min, new_occupied = min_doc, occupied
        status = np.where(has_prior, "seen", "fresh")
        if max_bucket_size is not None and n_seen + m > max_bucket_size:
            # skew guard, mirroring the batch cap semantics: an over-cap
            # bucket (boilerplate/empty text) emits no membership claims —
            # every row this trigger gets the explicit OVERFLOW marker
            # rather than a false "fresh"/"seen" verdict, and the batch
            # path would have dropped the bucket's candidates entirely
            seen[:] = overflow
            status = np.full(m, "overflow")
        if integral:
            new_min = int(new_min)
        state.update((new_min, int(n_seen + m), bool(new_occupied)))
        state.setTimeoutDuration(timeout_ms)
        yield pd.DataFrame(
            {
                "doc_id": ids,
                "band_idx": np.full(m, int(key[0]), dtype="int64"),
                "band_hash": str(key[1]),
                "seen_min": seen,
                "status": status,
            }
        )

    return _update_bucket


def stream_lsh_neardup_flags(
    banded: DataFrame,
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET,
    timeout_ms: int = 3600 * 1000,
) -> DataFrame:
    """Stateful LSH-bucket membership: input is a stream of
    (doc_id, band_idx, band_hash) rows (:func:`band_stream`, which bands
    with the batch ``lsh_candidate_pairs`` banding step); output marks
    each row with ``status`` ('fresh' = bucket had no prior occupant,
    'seen' = occupied, 'overflow' = skew cap tripped) and, for 'seen'
    rows, ``seen_min`` — the minimum doc id that previously occupied the
    bucket. A doc whose every band emitted 'seen' is a near-dup candidate
    against those prior docs. ``status`` is the authoritative verdict.

    Id types: ``doc_id`` and ``seen_min`` keep the input's ``doc_id`` type
    when it is not an integer (string ids compare in string order, so
    ``'doc-10' < 'doc-9'``); ``seen_min`` is then NULL on fresh and
    overflow rows. Integer ids of any width come out as ``bigint`` with
    the legacy -1 (fresh) and -2 (overflow) ``seen_min`` values, which
    would be ambiguous on their own for corpora with negative doc ids.

    ``max_bucket_size`` is the same skew guard the batch path defaults ON
    (one boilerplate bucket would otherwise funnel every trigger into a
    single state key): once a bucket's cumulative membership exceeds the
    cap, its rows carry status 'overflow' (for integer ids also
    ``seen_min = BUCKET_OVERFLOW``, −2, "not evaluated") — matching the
    batch path, which emits NO candidates for over-cap buckets. Pass
    ``None`` to opt out.

    State per bucket is (min id, count); idle buckets are evicted by a
    processing-time timeout (``timeout_ms``) — the state store stays
    proportional to the live bucket set, never the stream length.

    .. note:: **Stop an availableNow run yourself.** The processing-time
       timeout makes Spark keep running no-data micro-batches (to fire
       timeouts), so a ``trigger(availableNow=True)`` query over this
       operator never terminates by itself: ``awaitTermination`` and
       ``processAllAvailable`` do not return. Wait until the query's
       ``recentProgress`` shows a no-data batch after the data batches,
       then call ``stop()``.

    .. warning:: **State-schema version.** The per-bucket state gained an
       ``occupied`` flag (``min_doc bigint, n bigint, occupied boolean``)
       to make the chunk-order-independent fold correct for buckets whose
       first occupant has doc id 0. Structured Streaming validates the
       state-store schema on restart: a checkpoint written under the old
       two-field state will NOT restart against this build (Spark raises
       a state-schema-incompatibility error, it does not corrupt state).
       Recovery is a checkpoint reset, which discards bucket membership —
       previously-seen docs then re-flag 'fresh' once. Re-seed membership
       by replaying the corpus band index through the stream (or start
       from a fresh checkpoint and accept one-time re-flags). Integer ids
       keep the ``bigint`` schemas above, so their checkpoints restart.
    """
    id_type = banded.schema["doc_id"].dataType
    integral = isinstance(id_type, IntegralType)
    t = "bigint" if integral else id_type.simpleString()
    return banded.groupBy("band_idx", "band_hash").applyInPandasWithState(
        _make_update_bucket(max_bucket_size, timeout_ms, integral),
        f"doc_id {t}, band_idx int, band_hash string, seen_min {t}, status string",
        f"min_doc {t}, n bigint, occupied boolean",
        "append",
        GroupStateTimeout.ProcessingTimeTimeout,
    )
