"""True-incremental KTable reduce: applyInPandasWithState.

The foreachBatch pipeline (pipeline.py) maintains the KTable by
snapshot-recompute — semantically exact (SURVEY §4.3) but it rewrites the
whole snapshot each batch. This module is the other implementation the
survey names (§2 Table A row O4, §7.3): Kafka Streams' adder/subtractor
reduce (`our-service/src/our_service/kafka_streams.clj:72-79`) as a real
per-group stateful streaming operator — each client's position set lives
in Spark's managed group state, updated only by that client's deltas, and
an update is emitted per group per batch (the cache=0 contract of
`kafka_streams.clj:51`, at micro-batch granularity).

State per client: {key → (offset, id, exchange, live)} — the per-key
latest record, so out-of-order delivery across batches is handled exactly
like log compaction (a stale offset loses; a tombstone wins over earlier
offsets only). The emitted view row is the reference's aggregate: the
sorted set of live NASDAQ position ids, empty ⇒ the reference deletes the
group row (`kafka_streams.clj:77-79`) ⇒ final consumers drop it.

Scale: state is partitioned by group key across executors exactly like
Kafka Streams partitions stores by key; each micro-batch shuffles only the
delta records (not the state), and Spark checkpoints state incrementally —
at 100 TB of changelog this is the architecture that avoids the
foreachBatch variant's full-snapshot rewrite.
"""

from __future__ import annotations

import json
import os
import uuid
from typing import Any, Iterator, Tuple

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..session import scratch_dir
from ..sources.changelog import CHANGELOG_SCHEMA

_OUTPUT_SCHEMA = "client string, positions string, seq long"
_STATE_SCHEMA = "state_json string, seq long"


def _update_client(
    key: Tuple[str], pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Fold one micro-batch of one client's changelog deltas into state.

    adder ≡ inserting/overwriting a key's record; subtractor ≡ a tombstone
    or an exchange-flip removing the id from the emitted set — both are
    consequences of keeping latest-per-key records and deriving the set,
    which is exactly the compacted-topic semantics the reference's
    adder/subtractor pair reconstructs.
    """
    (client,) = key
    if state.exists:
        state_json, seq = state.get
        records: dict[str, Any] = json.loads(state_json)
    else:
        records, seq = {}, 0
    for pdf in pdfs:
        for row in pdf.itertuples(index=False):
            prev = records.get(row.key)
            if prev is not None and prev[0] >= row.offset:
                continue  # stale delivery: compaction keeps max offset
            records[row.key] = [
                int(row.offset),
                None if row.tomb else row.id,
                None if row.tomb else row.exchange,
                not row.tomb,
            ]
    seq += 1
    state.update((json.dumps(records), seq))
    positions = sorted(
        rid
        for _off, rid, exch, live in records.values()
        if live and exch == "NASDAQ"
    )
    yield pd.DataFrame(
        {"client": [client], "positions": [",".join(positions)], "seq": [seq]}
    )


def run_shareholders_stateful(
    spark: SparkSession,
    changelog_dir: str,
    work_dir: str | None = None,
    max_files_per_trigger: int = 1,
) -> DataFrame:
    """Replay a directory of changelog chunk files through the stateful
    operator; return the final view (client, positions-csv), groups with
    empty sets dropped.

    The memory sink accumulates one row per (client, batch); the final
    view is each client's last emission — what the reference's
    interactive query would observe after the replay
    (`kafka_streams.clj:83-89`).
    """
    work_dir = work_dir or scratch_dir("ktable_stateful_")
    checkpoint = os.path.join(work_dir, "checkpoint")

    stream = (
        spark.readStream.schema(CHANGELOG_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(changelog_dir)
    )
    deltas = stream.select(
        F.split(F.col("key"), ":::").getItem(0).alias("client"),
        "key",
        F.col("value.id").alias("id"),
        F.col("value.exchange").alias("exchange"),
        "offset",
        F.col("value").isNull().alias("tomb"),
    )
    updates = deltas.groupBy("client").applyInPandasWithState(
        _update_client,
        outputStructType=_OUTPUT_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    name = f"shareholders_stateful_{uuid.uuid4().hex[:8]}"
    query = (
        updates.writeStream.outputMode("update")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()

    from pyspark.sql import Window as W

    all_updates = spark.table(name)
    w = W.partitionBy("client").orderBy(F.desc("seq"))
    final = (
        all_updates.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .where(F.col("positions") != "")
        .select("client", "positions")
    )
    return final


# -- custom sessionization with EVENT-TIME TIMEOUT ---------------------------

_SESSION_OUTPUT = "user_id long, session_start_us long, session_end_us long, n_events long"
_SESSION_STATE = "start_us long, last_us long, n long"
GAP_US = 30 * 60 * 1_000_000  # 30-minute inactivity gap


def _session_fold(key, pdfs, state: GroupState) -> Iterator[pd.DataFrame]:
    """Per-user session builder: events extend the open session while the
    gap is <= 30 min (SQL contract: a gap STRICTLY greater breaks); a
    bigger gap closes-and-emits. The OPEN session is parked in group state
    with an event-time timeout at last_event + gap — when the watermark
    passes it, Spark calls this function with hasTimedOut and the session
    is emitted without any new data arriving. This is the semantics
    session_window() gives for free, built on raw state + timeouts — the
    shape any custom-lifecycle operator (auctions, care-episodes, debounce)
    needs, which the built-in window cannot express."""
    (user,) = key
    out = []

    if state.hasTimedOut:
        start_us, last_us, n = state.get
        out.append((user, start_us, last_us, n))
        state.remove()
        return iter([pd.DataFrame(out, columns=["user_id", "session_start_us", "session_end_us", "n_events"])])

    cur = list(state.get) if state.exists else None
    ts_all = []
    for pdf in pdfs:
        ts_all.extend(int(t) for t in pdf["ts_us"])
    for t in sorted(ts_all):
        if cur is None:
            cur = [t, t, 1]
        elif t - cur[1] <= GAP_US:
            cur[1] = t
            cur[2] += 1
        else:
            out.append((user, cur[0], cur[1], cur[2]))
            cur = [t, t, 1]
    if cur is not None:
        state.update(tuple(cur))
        # fire once the watermark passes the gap after the last event;
        # must be strictly ahead of the current watermark
        wm = state.getCurrentWatermarkMs()
        state.setTimeoutTimestamp(max(cur[1] // 1000 + GAP_US // 1000, wm + 1))
    return iter(
        [
            pd.DataFrame(
                out,
                columns=[
                    "user_id",
                    "session_start_us",
                    "session_end_us",
                    "n_events",
                ],
            )
        ]
    )


def run_sessionize_with_timeout(
    spark: SparkSession,
    chunk_dir: str,
    schema: str,
    work_dir: str | None = None,
) -> DataFrame:
    """Replay event chunks through the timeout-driven sessionizer.

    The replay must end with two far-future sentinel batches: the
    stateful late/timeout machinery runs on the PREVIOUS batch's
    watermark (SPARK-40925 two-watermark model), so sentinel #1 advances
    the watermark and sentinel #2's processing fires the timeouts that
    flush every still-open real session."""
    work_dir = work_dir or scratch_dir("session_timeout_")
    # stateful streaming disables AQE; 32 shuffle partitions × 8 batches is
    # pure scheduling overhead at replay scale — pin a small count (state
    # store count is fixed per checkpoint anyway)
    from .pipeline import _pin_small_shuffle, _restore_shuffle

    prev_parts = _pin_small_shuffle(spark)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(chunk_dir)
    )
    events = stream.withColumn(
        "ts", F.timestamp_micros(F.col("ts_us"))
    ).withWatermark("ts", "1 second")
    sessions = events.groupBy("user_id").applyInPandasWithState(
        _session_fold,
        outputStructType=_SESSION_OUTPUT,
        stateStructType=_SESSION_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
    name = f"sessions_timeout_{uuid.uuid4().hex[:8]}"
    q = (
        sessions.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", os.path.join(work_dir, "checkpoint"))
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination()
    finally:
        _restore_shuffle(spark, prev_parts)
    return spark.table(name)
