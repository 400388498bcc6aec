"""Bounded persist registry — one materialization for multiply-consumed
expensive frames, without unbounded cache growth.

Several operators feed ONE expensive subtree (an Arrow-UDF kernel chain,
a banded signature stage) into multiple consumers — self-join sides,
scalar pre-aggregates, a broadcast build side. Without a persist the
subtree re-executes once per consumer (3-4× the corpus scan at 100 TB —
the single largest avoidable cost class this repo has had); with a bare
``persist`` a long-lived session leaks DISK-spilled blocks, which Spark
never LRU-reclaims (only memory blocks evict).

``bounded_persist`` does both halves: MEMORY_AND_DISK persist plus a
module-level FIFO of live handles capped at ``MAX_LIVE`` — the oldest
frame is unpersisted (non-blocking) when the cap is exceeded.
Unpersisting early is always SAFE: a still-lazy downstream plan silently
recomputes. Callers wanting a hard reset can ``spark.catalog.clearCache()``.
Frames of a stopped SparkContext are dropped from the registry without an
unpersist: their blocks died with that context, and unpersisting through
it fails.
"""

from __future__ import annotations

import threading

from pyspark import StorageLevel
from pyspark.sql import DataFrame

#: at most this many bounded_persist frames stay registered; older ones
#: are unpersisted FIFO.
MAX_LIVE = 8
_LIVE: list[DataFrame] = []
_LOCK = threading.Lock()


def bounded_persist(
    df: DataFrame, level: StorageLevel = StorageLevel.MEMORY_AND_DISK
) -> DataFrame:
    df = df.persist(level)
    # the registry is shared session state: concurrent driver threads
    # (parallel query launches) mutate it, and re-registering the same
    # handle would double-count it against the cap — so lock + dedupe by
    # identity
    with _LOCK:
        # stopped contexts clear their Python handle (_jsc = None)
        _LIVE[:] = [d for d in _LIVE if d.sparkSession.sparkContext._jsc]
        if not any(d is df for d in _LIVE):
            _LIVE.append(df)
        evict = []
        while len(_LIVE) > MAX_LIVE:
            evict.append(_LIVE.pop(0))
    for old in evict:
        old.unpersist(blocking=False)
    return df
