"""Custom stateful streaming operators (SURVEY.md §2.9 ST1-ST3).

- the per-key **exhaustion latch** (``APIKeyStats.is_exhausted``,
  youtube_api_handler.py:55,61): once a key crosses its quota it stays
  exhausted. With no reset and a request count that only grows, the
  latch is a function of the cumulative count, so it runs as a plain
  JVM streaming aggregate (``quota_latch_stream``).
- the **TTL cache** (youtube_api_handler.py:81-105): key→value entries
  that lazily expire; streaming form = state with a processing-time
  timeout.
- the **min-interval pacer** (youtube_api_handler.py:361-367): one
  last-admit stamp per key folded through each event in order.

The cache and the pacer are true user-defined state (a timeout, an
ordered fold), implemented with ``applyInPandasWithState`` — Arrow-batched
grouped state, the idiomatic Spark shape for custom stateful operators.
State is per-group and partitioned by the grouping key, so at production
scale it shards across executors with the shuffle; each group's state is
a few scalars (bounded, no unbounded growth).
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..operators.memo import register_releaser

# (applicationId, sf_dir) -> staged parquet source dir for the latch gate.
# All three structures below are guarded by _LATCH_LOCK (the memo-module
# discipline): a release used to rmtree a staged dir with no
# coordination, so a concurrent release while another thread's latch
# query was mid-read would delete the source out from under it. Now a
# dir with active readers is only UNLINKED from the cache at release
# time (marked doomed) and physically deleted by the last reader.
_LATCH_LOCK = __import__("threading").Lock()
_LATCH_SRC_CACHE: dict[tuple, str] = {}
_LATCH_IN_USE: dict[str, int] = {}  # staged dir -> active latch runs
_LATCH_DOOMED: set[str] = set()  # released while in use; delete on last exit


def _release_latch_sources() -> None:
    """Delete the staged source dirs, not just the references — each
    holds a full coalesced copy of the events table, and a long-lived
    session alternating releases with the latch query would otherwise
    accumulate orphaned copies in /tmp. Dirs with an active streaming
    run are deferred to that run's exit."""
    import shutil

    with _LATCH_LOCK:
        paths = list(_LATCH_SRC_CACHE.values())
        _LATCH_SRC_CACHE.clear()
        to_delete = []
        for p in paths:
            if _LATCH_IN_USE.get(p):
                _LATCH_DOOMED.add(p)
            else:
                to_delete.append(p)
    for p in to_delete:
        shutil.rmtree(p, ignore_errors=True)


def _latch_src_acquire(
    spark, sf_dir: str, events: DataFrame, tag: str = "latch"
) -> str:
    """Return the staged source dir for (session, corpus, tag), staging it
    on first use, with an in-use count held until ``_latch_src_release``.
    ``tag`` lets other streaming gate queries (ingest.py) share the same
    stage-once/refcount/doom machinery without a second copy of it."""
    import shutil
    import tempfile

    key = (spark.sparkContext.applicationId, sf_dir, tag)
    with _LATCH_LOCK:
        src = _LATCH_SRC_CACHE.get(key)
        if src is not None:
            _LATCH_IN_USE[src] = _LATCH_IN_USE.get(src, 0) + 1
            return src
    staged = tempfile.mkdtemp(prefix=f"{tag}_src_")
    # Staged file count caps at the upstream scan's split count (coalesce
    # never shuffles): one file at the small gate tiers, the source's own
    # split count at sf1+. The cap matters because the streaming batch's
    # map side gets one task per staged file — 4 files at sf1 serialized
    # a 1M-row scan onto 4 cores (round-9 verdict: the latch was the
    # suite's most expensive query; ~40% of addBatch was the starved map
    # side).
    try:
        events.coalesce(16).write.mode("overwrite").parquet(staged)
    except BaseException:
        shutil.rmtree(staged, ignore_errors=True)  # no orphaned half-write
        raise
    with _LATCH_LOCK:
        src = _LATCH_SRC_CACHE.get(key)
        if src is None:
            _LATCH_SRC_CACHE[key] = src = staged
        _LATCH_IN_USE[src] = _LATCH_IN_USE.get(src, 0) + 1
    if src is not staged:  # benign first-caller race: loser cleans up
        shutil.rmtree(staged, ignore_errors=True)
    return src


def _latch_src_release(src: str) -> None:
    import shutil

    with _LATCH_LOCK:
        n = _LATCH_IN_USE.get(src, 0) - 1
        if n > 0:
            _LATCH_IN_USE[src] = n
            return
        _LATCH_IN_USE.pop(src, None)
        doomed = src in _LATCH_DOOMED
        _LATCH_DOOMED.discard(src)
    if doomed:
        shutil.rmtree(src, ignore_errors=True)


register_releaser(_release_latch_sources)

DAILY_QUOTA = 10_000  # config.py:15

def quota_latch_stream(events: DataFrame, quota: int = DAILY_QUOTA) -> DataFrame:
    """ST2's exhaustion latch: per-key running request/failure counts with a
    monotone ``is_exhausted`` flag that latches once ``requests >= quota``
    (youtube_api_handler.py:47-79).

    ``events`` needs (user_id LONG, event_type STRING). The reference has
    no reset, and ``requests`` only grows, so the latch ``exhausted or
    requests >= quota`` always equals ``requests >= quota`` on the
    cumulative count: the operator is an ordinary streaming aggregate,
    planned by the JVM (``StateStoreRestore``/``StateStoreSave`` around a
    hash aggregate) with no Python state worker. In update mode each
    micro-batch emits one row per key it touched, carrying cumulative
    totals. A NULL ``user_id`` is its own key group.

    The state schema is the aggregate's buffer, not the old
    ``applyInPandasWithState`` (requests, failures, exhausted) tuple: a
    checkpoint written by that Python latch cannot be resumed by this one.
    """
    # NULL event_type is not an error: == yields NULL, pinned to 0 here
    err = F.coalesce((F.col("event_type") == "error").cast("long"), F.lit(0))
    return (
        events.groupBy(F.col("user_id").alias("key_id"))
        .agg(
            F.count(F.lit(1)).alias("total_requests"),
            F.sum(err).alias("total_failures"),
        )
        .withColumn("is_exhausted", F.col("total_requests") >= quota)
    )


CACHE_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("cache_key", T.StringType(), True),  # NULL key = real group
        T.StructField("value", T.DoubleType()),
        T.StructField("hits", T.LongType()),
        T.StructField("evicted", T.BooleanType()),
    ]
)

CACHE_STATE_SCHEMA = T.StructType(
    [
        T.StructField("value", T.DoubleType()),
        T.StructField("hits", T.LongType()),
    ]
)


def ttl_cache_stream(entries: DataFrame, ttl_ms: int = 300_000) -> DataFrame:
    """ST1's TTL cache as streaming state: latest value + hit count per key,
    evicted ``ttl_ms`` after the last write (processing-time timeout — the
    streaming twin of the lazy ``del`` at youtube_api_handler.py:93-94).

    ``entries`` needs (cache_key STRING, value DOUBLE). On timeout the
    operator emits a tombstone row (evicted=true) and drops the state —
    bounded state for an unbounded stream.
    """

    def update(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            value, hits = state.get if state.exists else (None, 0)
            state.remove()
            yield pd.DataFrame(
                {
                    "cache_key": [key[0]],
                    "value": [value],
                    "hits": [hits],
                    "evicted": [True],
                }
            )
            return
        value, hits = state.get if state.exists else (None, 0)
        for pdf in pdfs:
            if len(pdf):
                # a NULL value is still a write: store (and re-emit) NULL,
                # never NaN — pandas surfaces the Arrow NULL as NaN here
                last = pdf["value"].iloc[-1]
                value = None if pd.isna(last) else float(last)
                hits += len(pdf)
        state.update((value, hits))
        state.setTimeoutDuration(ttl_ms)
        yield pd.DataFrame(
            {
                "cache_key": [key[0]],
                "value": [value],
                "hits": [hits],
                "evicted": [False],
            }
        )

    return entries.groupBy("cache_key").applyInPandasWithState(
        update,
        CACHE_OUTPUT_SCHEMA,
        CACHE_STATE_SCHEMA,
        "update",
        GroupStateTimeout.ProcessingTimeTimeout,
    )


PACER_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType(), True),  # NULL key = real group
        T.StructField("event_id", T.LongType(), True),
        T.StructField("arrival_us", T.LongType()),
        T.StructField("admit_us", T.LongType()),
    ]
)

PACER_STATE_SCHEMA = T.StructType([T.StructField("last_admit_us", T.LongType())])

MIN_REQUEST_INTERVAL_US = 100_000  # config.py:33 — 0.1 s between requests


def rate_limit_pacer_stream(
    events: DataFrame, interval_us: int = MIN_REQUEST_INTERVAL_US
) -> DataFrame:
    """ST3 streaming — the min-interval pacer (``_rate_limit``,
    youtube_api_handler.py:361-367) as incremental state: one BIGINT (the
    previous admit stamp) per key, folded through
    ``admit = max(arrival, last_admit + interval)`` for each event.

    ``events`` needs (user_id LONG, event_id LONG, arrival_us LONG — an
    unstamped request carries NULL and is passed through unpaced with a
    NULL admit, never dropped and never corrupting the key's state).
    Within a micro-batch rows are folded in (arrival_us, event_id) order;
    across micro-batches the in-order-per-key contract applies — the same
    single-threaded ordering the reference's pacer sees, and the same
    contract the sessionization twin documents. Equivalence with the
    batch closed form (operators/windows.py::rate_limit_pacer) under that
    contract is pinned by tests/test_streaming_state.py, including
    arbitrary micro-batch splits.
    """

    def update(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (last,) = state.get if state.exists else (None,)
        for pdf in pdfs:
            if not len(pdf):
                continue
            stamped = pdf[pdf["arrival_us"].notna()].sort_values(
                ["arrival_us", "event_id"]
            )
            out_ids, out_arr, out_adm = [], [], []
            for eid, arr in zip(stamped["event_id"], stamped["arrival_us"]):
                arr = int(arr)
                admit = arr if last is None else max(arr, last + interval_us)
                last = admit
                out_ids.append(None if pd.isna(eid) else int(eid))
                out_arr.append(arr)
                out_adm.append(admit)
            unstamped = pdf[pdf["arrival_us"].isna()]
            for eid in unstamped["event_id"]:
                out_ids.append(None if pd.isna(eid) else int(eid))
                out_arr.append(None)
                out_adm.append(None)
            if out_ids:
                yield pd.DataFrame(
                    {
                        "user_id": [key[0]] * len(out_ids),
                        "event_id": out_ids,
                        "arrival_us": pd.array(out_arr, dtype="Int64"),
                        "admit_us": pd.array(out_adm, dtype="Int64"),
                    }
                )
        if last is not None:
            state.update((last,))

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        PACER_OUTPUT_SCHEMA,
        PACER_STATE_SCHEMA,
        "update",
        GroupStateTimeout.NoTimeout,
    )


LATCH_GATE_QUOTA = 50  # small quota so the sf0.01 fixture hits the latch


def quota_latch_final(spark, sf_dir: str) -> DataFrame:
    """Driver-gate wrapper: runs the REAL streaming latch (file source →
    streaming aggregate → memory sink, availableNow trigger) and returns
    the final per-key state. The final state is deterministic regardless of
    micro-batch splits (counts are associative; the latch is monotone), so
    a SQL oracle can verify the streaming engine's answer bit-for-bit.
    """
    import uuid

    from ..sources import load_table

    # only the columns the latch consumes — ts never reaches the operator,
    # so staging it would just inflate the source files and the scan
    events = load_table(spark, sf_dir, "events").select("user_id", "event_type")
    # The staged source directory is HARNESS plumbing, not query cost: a
    # production stream reads an existing source, it doesn't re-write its
    # own input first. Stage once per (session, corpus); the streaming
    # run itself (fresh checkpoint, state stores, memory sink) stays
    # fully per-invocation. Cleared by memo.release_session_frames()
    # (deferred past this run if a release races it — _latch_src_acquire).
    name = "latch_gate_" + uuid.uuid4().hex[:8]
    # acquire LAST and enter the guarded region immediately: anything
    # thrown between acquire and the finally would leak the in-use
    # count and pin the staged dir forever (round-8 review finding)
    src = _latch_src_acquire(spark, sf_dir, events)
    try:
        stream = spark.readStream.schema(events.schema).parquet(src)
        q = (
            quota_latch_stream(stream, quota=LATCH_GATE_QUOTA)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        q.stop()
    finally:
        _latch_src_release(src)
    w = "(partition by key_id order by total_requests desc)"
    return (
        spark.sql(
            f"select * from (select *, row_number() over {w} as rn from {name})"
            " where rn = 1"
        )
        .drop("rn")
    )


ORACLE_QUOTA_LATCH_FINAL = f"""
SELECT user_id AS key_id, COUNT(*) AS total_requests,
       CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT)
         AS total_failures,
       COUNT(*) >= {LATCH_GATE_QUOTA} AS is_exhausted
FROM events GROUP BY user_id ORDER BY key_id
"""


QUERIES = {"quota_latch_final": quota_latch_final}
ORACLES = {"quota_latch_final": ORACLE_QUOTA_LATCH_FINAL}
