"""Bounded tracking for long-lived DataFrame persists.

Spark's CacheManager keys cached frames by logical plan and never
releases them on its own — a helper that persists an intermediate
(``skew.global_rank``'s range-partitioned frame, ``search.bm25_topk``'s
posting frame) therefore leaks one CacheManager entry per invocation,
and a full registry drive (~265 queries) or a long notebook session
accumulates them unboundedly (round-6 ADVICE).

``track(df)`` registers a freshly persisted frame in a module-level
FIFO; once the FIFO exceeds ``CACHE_CAP`` entries the oldest is
unpersisted with ``blocking=False``.  This is SAFE, not just
convenient: every tracked persist in this repo is deterministic under
recomputation (parquet scans are stable, ``repartitionByRange``
samples with a deterministic per-partition seed, and the consumers
require a TOTAL order), so an evicted frame that some still-lazy plan
re-reads is merely recomputed — identical bytes, extra time, never a
correctness change.

``release_all()`` drops everything immediately — call it between
benchmark iterations or at session teardown when even the bounded tail
is unwanted.
"""

from __future__ import annotations

import logging
from collections import deque

from pyspark.sql import DataFrame

#: max persisted helper frames kept alive at once, oldest evicted first.
CACHE_CAP = 8

_TRACKED: deque[DataFrame] = deque()

_log = logging.getLogger(__name__)


def _drop(df: DataFrame) -> None:
    """Unpersist one evicted frame, tolerating a DEAD SparkContext: the
    FIFO is module-level and outlives sessions, so after a
    ``spark.stop()`` + new session (bench_slope's two legs, notebook
    restarts) the oldest entries belong to a stopped context whose
    ``unpersist`` raises from a null driver endpoint. Such a frame's
    cache died with its session — dropping the reference IS the
    release."""
    try:
        df.unpersist(blocking=False)
    except Exception:
        pass


def track(df: DataFrame) -> DataFrame:
    """Register a persisted frame; evict the oldest past ``CACHE_CAP``.

    Deduplicated by SEMANTIC plan (round 11): Spark's CacheManager
    keeps ONE entry per logical plan, so when the same helper is
    rebuilt (a bench's best-of-N reps, a notebook cell re-run) its
    ``persist()`` is a no-op against the existing hot entry — but a
    second FIFO registration would later ``unpersist`` that SHARED
    entry when it ages out, silently killing the cache the newer
    builds rely on (measured: d02_prefix_probe_pairs reps degraded
    0.9 s → 1.5 s once evictions began re-dropping the live shingle
    frames). A re-tracked plan now refreshes its recency instead of
    double-registering, so eviction only ever drops genuinely
    distinct, least-recently-tracked plans."""
    try:
        incoming = df._jdf.queryExecution().analyzed()
        for existing in _TRACKED:
            try:
                if existing._jdf.queryExecution().analyzed().sameResult(incoming):
                    _TRACKED.remove(existing)
                    _TRACKED.append(existing)  # refresh recency, keep ONE entry
                    return df
            except Exception:
                continue  # dead-context frame: not a match, leave for eviction
    except Exception as e:
        _log.warning("cache dedup skipped, frame tracked as new: %r", e)
    _TRACKED.append(df)
    while len(_TRACKED) > CACHE_CAP:
        _drop(_TRACKED.popleft())
    return df


def release_all() -> None:
    """Unpersist every tracked frame now (non-blocking)."""
    while _TRACKED:
        _drop(_TRACKED.popleft())
