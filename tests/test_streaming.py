"""Streaming pipeline tests (SURVEY §5.2): the golden scenario replayed as
micro-batches, restart/idempotency of the foreachBatch merge, and
stream-equals-batch equivalence on real data."""

from __future__ import annotations

import os
import tempfile

import pytest
from pyspark.sql import functions as F

from kafka_streams_and_ktable_example_spark.operators.ktable import scan_view, shareholders_view
from kafka_streams_and_ktable_example_spark.sources.changelog import (
    changelog_from_rows,
    shareholders_changelog,
)
from kafka_streams_and_ktable_example_spark.streaming.pipeline import (
    ChangelogStreamJob,
    run_shareholders_stream,
    write_changelog_chunks,
)
from tests.test_ktable import pos


# fake_producer.clj:48-54: (batch rows, expected view after the batch)
GOLDEN_STEPS = [
    ([("daniel:::AAPL", pos("daniel", "AAPL", "NASDAQ", 99), 0)],
     [("daniel", ["daniel:::AAPL"])]),
    ([("daniel:::BT.A", pos("daniel", "BT.A", "LON", 1), 1)],
     [("daniel", ["daniel:::AAPL"])]),
    ([("daniel:::AAPL", None, 2)], []),
]


def test_golden_scenario_incremental(spark, tmp_path):
    """fake_producer.clj:48-54 as three separate micro-batches, checking the
    view after each — the per-batch observation contract."""
    job = ChangelogStreamJob(spark, str(tmp_path / "state"))
    for epoch, (rows, expected) in enumerate(GOLDEN_STEPS):
        job.process_batch(changelog_from_rows(spark, rows), epoch)
        view = job.snapshot().where(F.col("exchange") == "NASDAQ").groupBy(
            "client"
        ).agg(F.sort_array(F.collect_set("id")).alias("positions"))
        assert scan_view(view) == expected, f"after batch {epoch}"


def test_batch_replay_is_idempotent(spark, tmp_path):
    """Re-processing the same batch (restart-after-crash) must converge to
    the same state — the merge is a pure function of state ∪ batch."""
    job = ChangelogStreamJob(spark, str(tmp_path / "state"))
    rows = [
        ("a:::T1", pos("a", "T1", "NASDAQ", 1), 0),
        ("a:::T1", None, 1),
        ("b:::T2", pos("b", "T2", "NASDAQ", 2), 2),
    ]
    batch = changelog_from_rows(spark, rows)
    job.process_batch(batch, 0)
    first = sorted(tuple(r) for r in job.read_state().collect())
    job.process_batch(batch, 0)  # replay
    second = sorted(tuple(r) for r in job.read_state().collect())
    assert first == second


def test_out_of_order_across_batches(spark, tmp_path):
    """A stale record arriving after a newer one (cross-batch) must lose the
    compaction race — including against a tombstone."""
    job = ChangelogStreamJob(spark, str(tmp_path / "state"))
    job.process_batch(
        changelog_from_rows(spark, [("a:::T", None, 10)]), 0
    )  # tombstone at offset 10
    job.process_batch(
        changelog_from_rows(spark, [("a:::T", pos("a", "T", "NASDAQ", 1), 5)]), 1
    )  # stale upsert from the past
    assert job.snapshot().count() == 0


def test_stream_equals_batch_on_real_data(spark, sf_dir):
    """End-to-end: 8-micro-batch streaming replay over the synthesized
    changelog equals the one-shot batch view (SURVEY §4.3)."""
    cl = shareholders_changelog(spark, sf_dir)
    chunk_dir = tempfile.mkdtemp(prefix="test_chunks_")
    write_changelog_chunks(cl, chunk_dir, n_chunks=8)
    streamed = run_shareholders_stream(spark, chunk_dir)
    batch = shareholders_view(cl)
    assert scan_view(streamed) == scan_view(batch)


def test_stateful_golden_scenario(spark, tmp_path):
    """fake_producer.clj:48-54 through the applyInPandasWithState operator:
    add AAPL@NASDAQ, add BT.A@LON (filtered), delete AAPL → empty view."""
    from kafka_streams_and_ktable_example_spark.streaming.stateful import (
        run_shareholders_stateful,
    )

    rows = [
        ("daniel:::AAPL", pos("daniel", "AAPL", "NASDAQ", 99), 0),
        ("daniel:::BT.A", pos("daniel", "BT.A", "LON", 1), 1),
        ("daniel:::AAPL", None, 2),
    ]
    chunk_dir = str(tmp_path / "chunks")
    write_changelog_chunks(changelog_from_rows(spark, rows), chunk_dir, n_chunks=3)
    final = run_shareholders_stateful(spark, chunk_dir)
    assert final.count() == 0


def test_stateful_equals_batch_on_real_data(spark, sf_dir):
    """The per-group incremental state path must equal the batch recompute
    (SURVEY §4.3) — same contract as the foreachBatch path."""
    from kafka_streams_and_ktable_example_spark.streaming.stateful import (
        run_shareholders_stateful,
    )

    cl = shareholders_changelog(spark, sf_dir)
    chunk_dir = tempfile.mkdtemp(prefix="test_stateful_chunks_")
    write_changelog_chunks(cl, chunk_dir, n_chunks=6)
    streamed = run_shareholders_stateful(spark, chunk_dir)
    batch = shareholders_view(cl).select(
        "client", F.concat_ws(",", "positions").alias("positions")
    )
    assert sorted(map(tuple, streamed.collect())) == sorted(
        map(tuple, batch.collect())
    )


def test_kafka_record_parsing(spark):
    """Kafka record shape → changelog contract: JSON value parses to the
    position struct, a tombstone (null value bytes) stays null
    (NotSerializeNil passthrough, kafka_streams.clj:21-26), the total
    order packs (partition, offset) monotonically per partition, and a
    poison pill is QUARANTINED — never mistaken for a tombstone."""
    from kafka_streams_and_ktable_example_spark.sources.kafka import (
        parse_changelog_records,
        quarantined_changelog_records,
    )

    rows = [
        (
            bytearray(b"daniel:::AAPL"),
            bytearray(
                b'{"client":"daniel","id":"daniel:::AAPL","ticker":"AAPL",'
                b'"exchange":"NASDAQ","amount":99}'
            ),
            1,
            7,
        ),
        (bytearray(b"daniel:::AAPL"), None, 1, 8),  # tombstone
        (bytearray(b"x:::T"), bytearray(b"not json"), 0, 1),  # poison pill
    ]
    raw = spark.createDataFrame(
        rows, "key binary, value binary, partition int, offset long"
    )
    out = parse_changelog_records(raw).orderBy("offset").collect()
    # the poison pill is gone from the changelog...
    assert [r.key for r in out] == ["daniel:::AAPL", "daniel:::AAPL"]
    assert out[0].value.exchange == "NASDAQ" and out[0].value.amount == 99
    assert out[0].offset == (1 << 40) + 7
    assert out[1].value is None  # tombstone passthrough
    assert out[1].offset == (1 << 40) + 8  # later offset, same partition
    # ...and lands in quarantine with its payload and reason
    q = quarantined_changelog_records(raw).collect()
    assert len(q) == 1
    assert q[0].key == "x:::T" and q[0].reason == "malformed_value"
    assert bytes(q[0].raw_value) == b"not json"


def test_kafka_parse_malformed_policies(spark):
    """skip/fail policies + corruption taxonomy: truncated JSON, empty
    (non-null) payloads, and null keys quarantine; sparse-but-valid JSON
    passes (schema-evolution tolerance); fail mode raises."""
    import pytest as _pytest

    from kafka_streams_and_ktable_example_spark.sources.kafka import (
        parse_changelog_records,
        quarantined_changelog_records,
    )

    rows = [
        (bytearray(b"a:::T"), bytearray(b'{"client":"a'), 0, 1),  # truncated
        (bytearray(b"b:::T"), bytearray(b""), 0, 2),  # empty bytes
        (None, bytearray(b'{"client":"c"}'), 0, 3),  # null key
        (bytearray(b"d:::T"), bytearray(b'{"client":"d"}'), 0, 4),  # sparse OK
        (bytearray(b"e:::T"), None, 0, 5),  # tombstone OK
    ]
    raw = spark.createDataFrame(
        rows, "key binary, value binary, partition int, offset long"
    )
    kept = parse_changelog_records(raw).orderBy("offset").collect()
    assert [r.key for r in kept] == ["d:::T", "e:::T"]
    assert kept[0].value.client == "d" and kept[0].value.ticker is None
    assert kept[1].value is None
    reasons = sorted(
        (r.offset, r.reason)
        for r in quarantined_changelog_records(raw).collect()
    )
    assert reasons == [(1, "malformed_value"), (2, "malformed_value"), (3, "null_key")]
    with _pytest.raises(Exception, match="malformed changelog record"):
        parse_changelog_records(raw, malformed="fail").collect()
    with _pytest.raises(ValueError, match="policy"):
        parse_changelog_records(raw, malformed="bogus")


def test_view_delta_trace_golden_scenario(spark, tmp_path):
    """The per-batch change trace of the materialized view over the golden
    scenario (fake_producer.clj:48-54): insert on add, silence on the
    filtered-out add, delete-with-null when the set empties — the records
    the reference's .print sink / downstream KTable consumers observe."""
    from kafka_streams_and_ktable_example_spark.operators.deltas import view_deltas

    job = ChangelogStreamJob(spark, str(tmp_path / "state"))
    batches = [
        [("daniel:::AAPL", pos("daniel", "AAPL", "NASDAQ", 99), 0)],
        [("daniel:::BT.A", pos("daniel", "BT.A", "LON", 1), 1)],
        [("daniel:::AAPL", None, 2)],
    ]
    expected_traces = [
        [("daniel", "insert", ["daniel:::AAPL"])],
        [],  # LON position never enters the NASDAQ view
        [("daniel", "delete", None)],
    ]

    def current_view():
        return (
            job.snapshot()
            .where(F.col("exchange") == "NASDAQ")
            .groupBy("client")
            .agg(F.sort_array(F.collect_set("id")).alias("positions"))
        )

    old = current_view()
    for epoch, (rows, expected) in enumerate(zip(batches, expected_traces)):
        old_rows = old.collect()  # materialize before state mutates
        old_df = spark.createDataFrame(
            old_rows, "client string, positions array<string>"
        )
        job.process_batch(changelog_from_rows(spark, rows), epoch)
        new = current_view()
        got = sorted(
            (r.client, r.op, list(r.positions) if r.positions else None)
            for r in view_deltas(old_df, new).collect()
        )
        assert got == expected, f"batch {epoch}: {got}"
        old = new


def test_checkpoint_resume_across_runs(spark, sf_dir, tmp_path):
    """Fault tolerance: replay half the chunks, then resume the SAME
    checkpoint/state dirs with the full chunk set — the second run must
    process only the new files and converge to the batch answer
    (restart-after-crash, the reference's changelog-restore analog)."""
    import shutil

    cl = shareholders_changelog(spark, sf_dir)
    all_chunks = tempfile.mkdtemp(prefix="resume_all_")
    write_changelog_chunks(cl, all_chunks, n_chunks=6)
    live_dir = str(tmp_path / "live")
    os.makedirs(live_dir)
    files = sorted(os.listdir(all_chunks))
    for f in files[:3]:
        shutil.copy(os.path.join(all_chunks, f), os.path.join(live_dir, f))
    work = str(tmp_path / "work")
    first = run_shareholders_stream(spark, live_dir, work_dir=work)
    first.collect()  # finish run 1
    for f in files[3:]:
        shutil.copy(os.path.join(all_chunks, f), os.path.join(live_dir, f))
    resumed = run_shareholders_stream(spark, live_dir, work_dir=work)
    batch = shareholders_view(cl)
    assert scan_view(resumed) == scan_view(batch)


def test_shuffled_chunk_replay(spark, sf_dir, tmp_path):
    """Out-of-order micro-batch delivery: replaying chunks in scrambled
    order must converge to the same view — compaction state keeps max
    offset per key, including tombstones (log-compaction semantics)."""
    import random

    cl = shareholders_changelog(spark, sf_dir)
    chunks = tempfile.mkdtemp(prefix="shuffled_chunks_")
    write_changelog_chunks(cl, chunks, n_chunks=6)
    # scramble delivery order by renaming files
    files = sorted(os.listdir(chunks))
    order = list(range(len(files)))
    random.Random(7).shuffle(order)
    for f, i in zip(files, order):
        os.rename(os.path.join(chunks, f), os.path.join(chunks, f"z{i:03d}.parquet.tmp"))
    for f in os.listdir(chunks):
        os.rename(os.path.join(chunks, f), os.path.join(chunks, f.replace(".tmp", "")))
    streamed = run_shareholders_stream(spark, chunks)
    batch = shareholders_view(cl)
    assert scan_view(streamed) == scan_view(batch)


def test_watermark_drops_late_data(spark, tmp_path):
    """Event-time watermark semantics, pinned concretely: in append mode a
    row arriving after the watermark has passed its window is DROPPED and
    never emitted. Batch 1 advances event time to 10:00 (+10min watermark
    => windows before 09:50 are closable); batch 2 delivers an event for
    the long-closed 08:00 window — it must not appear."""
    import datetime as dt
    import shutil

    import pyspark.sql.functions as F

    chunk_dir = str(tmp_path / "late_chunks")
    os.makedirs(chunk_dir)
    schema = "event_id long, ts timestamp, value double"

    def write_chunk(name, rows):
        stage = tmp_path / ("stage_" + name)
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(stage))
        src = [f for f in os.listdir(stage) if f.endswith(".parquet")][0]
        shutil.move(str(stage / src), os.path.join(chunk_dir, f"{name}.parquet"))

    t = lambda h, m=0: dt.datetime(2024, 1, 1, h, m)
    write_chunk("000", [(1, t(8, 5), 1.0), (2, t(10, 0), 1.0)])

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(chunk_dir)
    )
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour"))
        .agg(F.count("*").alias("n"))
    )
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("late_test")
        .start()
    )
    try:
        q.processAllAvailable()
        # late arrival for the closed 08:00 window + a fresh event that
        # keeps the watermark advancing
        write_chunk("001", [(3, t(8, 10), 1.0), (4, t(11, 30), 1.0)])
        q.processAllAvailable()
    finally:
        q.stop()
    emitted = {
        (r["window"].start.hour, r.n) for r in spark.table("late_test").collect()
    }
    # the 08:00 window closed with ONLY the on-time event; the late row
    # (event_id 3) was dropped — no (8, 2) emission
    assert (8, 1) in emitted, emitted
    assert (8, 2) not in emitted, emitted


ORDERS_CL_SCHEMA = (
    "key long, "
    "value struct<o_custkey:long, o_orderstatus:string, o_totalprice:double>, "
    "offset long"
)
# key 1 re-keys 100 -> 200, key 2 is tombstoned
REKEY_BATCHES = [
    [(1, (100, "O", 10.0), 0), (2, (100, "O", 5.0), 1)],
    [(1, (200, "O", 20.0), 2), (2, None, 3)],
]


def test_ivm_rekey_and_group_vanish(spark, tmp_path):
    """AggIvmJob: a key re-keying to a new group moves its contribution
    (subtract lands on the old group, add on the new); a group whose
    count reaches zero disappears (nil-deletes-row)."""
    from kafka_streams_and_ktable_example_spark.streaming.pipeline import AggIvmJob

    b1, b2 = (spark.createDataFrame(b, ORDERS_CL_SCHEMA) for b in REKEY_BATCHES)
    job = AggIvmJob(spark, str(tmp_path / "ivm"))
    job.process_batch(b1, 0)
    mid = {
        (r.o_custkey, r.n_orders, r.total_price) for r in job.view().collect()
    }
    assert mid == {(100, 2, 15.0)}
    job.process_batch(b2, 1)
    end = {
        (r.o_custkey, r.n_orders, r.total_price) for r in job.view().collect()
    }
    # key 1 re-keyed 100→200 (value 20), key 2 tombstoned: group 100 is GONE
    assert end == {(200, 1, 20.0)}


def test_ivm_stale_batch_record_loses(spark, tmp_path):
    """An out-of-order record with an offset below the stored one must not
    change the aggregate (union-compact picks the stored winner; the
    subtract/add pair cancels)."""
    from kafka_streams_and_ktable_example_spark.streaming.pipeline import AggIvmJob

    schema = (
        "key long, "
        "value struct<o_custkey:long, o_orderstatus:string, o_totalprice:double>, "
        "offset long"
    )
    b1 = spark.createDataFrame([(1, (100, "O", 10.0), 5)], schema)
    stale = spark.createDataFrame([(1, (100, "O", 99.0), 2)], schema)
    job = AggIvmJob(spark, str(tmp_path / "ivm2"))
    job.process_batch(b1, 0)
    job.process_batch(stale, 1)
    end = {
        (r.o_custkey, r.n_orders, r.total_price) for r in job.view().collect()
    }
    assert end == {(100, 1, 10.0)}


JOIN_CL_SCHEMA = (
    "key long, src string, o_custkey long, o_totalprice double, "
    "c_mktsegment string, tombstone boolean, offset long"
)
JOIN_BATCHES = [
    # batch 0: customer 1 + orders 10 (cust 1) and 11 (cust 2 — no
    # customer row yet, must NOT appear)
    [
        (1, "c", None, None, "BUILDING", False, 1),
        (10, "o", 1, 100.0, None, False, 2),
        (11, "o", 2, 50.0, None, False, 3),
    ],
    # batch 1: order 10 re-priced; customer 2 arrives (back-fills 11)
    [
        (10, "o", 1, 120.0, None, False, 4),
        (2, "c", None, None, "MACHINERY", False, 5),
    ],
    # batch 2: customer 1 tombstoned (retracts order 10);
    # order 11 tombstoned
    [
        (1, "c", None, None, None, True, 6),
        (11, "o", None, None, None, True, 7),
    ],
]


def test_join_ivm_golden_scenario(spark, tmp_path):
    """JoinIvmJob semantics on a scripted two-entity changelog:
    - an order's update re-prices it in the view;
    - a customer tombstone retracts ALL that customer's orders;
    - an order tombstone removes just that order;
    - a customer arriving AFTER its orders back-fills them into the view.
    """
    from kafka_streams_and_ktable_example_spark.streaming.pipeline import JoinIvmJob

    job = JoinIvmJob(spark, str(tmp_path))
    for epoch, rows in enumerate(JOIN_BATCHES):
        job.process_batch(spark.createDataFrame(rows, JOIN_CL_SCHEMA), epoch)
        if epoch == 0:
            got = {
                (r.o_orderkey, r.o_totalprice, r.c_mktsegment)
                for r in job.view_df().collect()
            }
            assert got == {(10, 100.0, "BUILDING")}, got
        if epoch == 1:
            got = {
                (r.o_orderkey, r.o_totalprice, r.c_mktsegment)
                for r in job.view_df().collect()
            }
            assert got == {(10, 120.0, "BUILDING"), (11, 50.0, "MACHINERY")}, got
    assert job.view_df().count() == 0  # both legs retracted


def test_streaming_lsh_dedup_drops_known_dup(spark, tmp_path):
    """A doc identical to an earlier-batch doc must be dropped; novel docs
    survive; short docs (no shingles) always survive."""
    from kafka_streams_and_ktable_example_spark.streaming.pipeline import (
        StreamingLshDedupJob,
    )

    schema = "doc_id long, text string, lang string"
    b0 = [(1, "the quick brown fox jumps over the lazy dog", "en"),
          (2, "tiny", "en")]
    b1 = [(3, "the quick brown fox jumps over the lazy dog", "en"),
          (4, "a completely different document about spark engines", "en")]
    job = StreamingLshDedupJob(spark, str(tmp_path))
    job.process_batch(spark.createDataFrame(b0, schema), 0)
    job.process_batch(spark.createDataFrame(b1, schema), 1)
    kept = {r.doc_id for r in job.kept_df().collect()}
    assert kept == {1, 2, 4}, kept


DOCS_SCHEMA = "doc_id long, text string, lang string"
READD_TEXT = "the quick brown fox jumps over the lazy dog again and again"
READD_BATCHES = [
    [(1, READD_TEXT, "en")],  # add
    [(1, None, "en")],  # tombstone: retract bands + kept row
    [(9, READD_TEXT, "en")],  # same content, new id — must survive
]


def test_streaming_lsh_dedup_retraction_add_delete_readd(spark, tmp_path):
    """Tombstone (NULL text) retracts a doc's bands from the index: after
    the delete the doc stops matching future candidates, so a re-add of
    the same content is evaluated fresh and KEPT — replayed through the
    real file-stream machinery as add → delete → re-add micro-batches."""
    import os

    from kafka_streams_and_ktable_example_spark.streaming.pipeline import (
        StreamingLshDedupJob,
    )

    chunk_dir = tmp_path / "chunks"
    os.makedirs(chunk_dir)
    for i, rows in enumerate(READD_BATCHES):
        spark.createDataFrame(rows, DOCS_SCHEMA).coalesce(1).write.parquet(
            str(tmp_path / f"stage{i}")
        )
    # one file per batch, named in replay order
    for i in range(len(READD_BATCHES)):
        stage = tmp_path / f"stage{i}"
        part = next(f for f in os.listdir(stage) if f.endswith(".parquet"))
        os.rename(stage / part, chunk_dir / f"chunk-{i:03d}.parquet")

    job = StreamingLshDedupJob(spark, str(tmp_path / "state"))
    stream = (
        spark.readStream.schema(DOCS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(chunk_dir))
    )
    q = (
        stream.writeStream.foreachBatch(job.process_batch)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    kept = {r.doc_id for r in job.kept_df().collect()}
    assert kept == {9}, kept  # re-add survives; deleted doc gone
    idx_docs = {r.doc_id for r in job.index_df().collect()}
    assert idx_docs == {9}, idx_docs  # doc 1's bands fully retracted

    # without retraction the re-add would collide with doc 1's stale bands:
    # prove the index now answers candidates correctly for a near-dup probe
    job.process_batch(
        spark.createDataFrame([(12, READD_TEXT, "en")], DOCS_SCHEMA), 99
    )
    kept2 = {r.doc_id for r in job.kept_df().collect()}
    assert kept2 == {9}, kept2  # 12 collides with 9 (not with ghost 1)


def test_compact_small_files_preserves_content(spark, tmp_path):
    """Compaction: 40 tiny files -> few target-sized files, identical rows,
    atomic swap leaves no .old/.tmp residue."""
    import os

    import pyspark.sql.functions as F

    from kafka_streams_and_ktable_example_spark.operators.maintenance import (
        compact_small_files,
        parquet_layout_stats,
    )

    path = str(tmp_path / "frag")
    spark.range(4000).withColumn("v", F.col("id") * 2).repartition(40).write.parquet(
        path
    )
    assert parquet_layout_stats(spark, path)["n_files"] == 40
    stats = compact_small_files(spark, path, target_file_bytes=64 * 1024)
    assert stats["after"]["n_rows"] == 4000
    assert stats["after"]["n_files"] < 40
    got = spark.read.parquet(path).agg(F.sum("v")).collect()[0][0]
    assert got == 2 * sum(range(4000))
    assert not any(".old" in f or "compact_" in f for f in os.listdir(str(tmp_path)))


def test_schema_evolution_merged_read(spark, tmp_path):
    """Parquet schema evolution: a v2 writer adds a column; mergeSchema
    reads both generations, null-filling v1 rows — the contract that lets
    a 100 TB table evolve without rewrite."""
    import pyspark.sql.functions as F

    base = str(tmp_path / "tbl")
    spark.range(5).select(F.col("id"), F.lit("a").alias("src")).write.parquet(
        base + "/gen=1"
    )
    spark.range(5, 8).select(
        F.col("id"), F.lit("b").alias("src"), F.lit(1.5).alias("score")
    ).write.parquet(base + "/gen=2")
    df = spark.read.option("mergeSchema", "true").parquet(base)
    assert set(df.columns) == {"id", "src", "score", "gen"}
    rows = {r.id: r.score for r in df.collect()}
    assert rows[0] is None and rows[7] == 1.5
    assert df.count() == 8


def test_checkpoint_resume_processes_only_new_files(spark, sf_dir, tmp_path):
    """Stop-and-resume continuation: a checkpointed availableNow run over
    half the changelog, then MORE files appear and the stream restarts with
    the same checkpoint — the resumed run must pick up exactly the new
    files (source offsets came from the checkpoint, not from scratch) and
    converge to the one-shot batch view. This is the restart contract a
    24/7 ingest job lives on (kafka_streams.clj:55 earliest-offset resume
    ≡ checkpointed file-source offsets)."""
    from kafka_streams_and_ktable_example_spark.sources.changelog import CHANGELOG_SCHEMA

    cl = shareholders_changelog(spark, sf_dir)
    chunk_dir = tempfile.mkdtemp(prefix="resume_chunks_")
    write_changelog_chunks(cl, chunk_dir, n_chunks=4)
    files = sorted(f for f in os.listdir(chunk_dir) if f.endswith(".parquet"))
    assert len(files) == 4
    hidden = tempfile.mkdtemp(prefix="resume_hidden_")
    # phase 1: only the first two chunks are visible
    for f in files[2:]:
        os.rename(os.path.join(chunk_dir, f), os.path.join(hidden, f))

    work = str(tmp_path / "resume_work")
    state_dir = os.path.join(work, "state")
    ckpt = os.path.join(work, "ckpt")
    job = ChangelogStreamJob(spark, state_dir)

    def run_once():
        stream = (
            spark.readStream.schema(CHANGELOG_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(chunk_dir)
        )
        q = (
            stream.writeStream.foreachBatch(job.process_batch)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return [p["batchId"] for p in q.recentProgress if p["numInputRows"] > 0]

    first_batches = run_once()
    assert len(first_batches) == 2
    # phase 2: the remaining chunks arrive; same checkpoint, fresh query
    for f in files[2:]:
        os.rename(os.path.join(hidden, f), os.path.join(chunk_dir, f))
    second_batches = run_once()
    assert len(second_batches) == 2, "resume must process ONLY the new files"
    assert min(second_batches) > max(first_batches), "batch ids must continue"

    from kafka_streams_and_ktable_example_spark.operators.ktable import grouped_reduce_view

    resumed_view = grouped_reduce_view(
        job.snapshot(),
        predicate=F.col("exchange") == "NASDAQ",
        group_col="client",
        collect_col="id",
        set_col="positions",
    )
    batch_view = shareholders_view(cl)
    assert scan_view(resumed_view) == scan_view(batch_view)


def test_stream_killed_midway_resumes_from_checkpoint(spark, sf_dir):
    """Crash recovery, not just replay idempotence: the stream is STOPPED
    after the first micro-batch (a hard kill mid-replay), then restarted
    on the SAME checkpoint — the file-source offsets must resume past the
    committed batches (no re-read, no skip) and the final view must equal
    the one-shot batch topology."""
    import os
    import tempfile
    import time

    from kafka_streams_and_ktable_example_spark.operators.ktable import (
        shareholders_view,
    )
    from kafka_streams_and_ktable_example_spark.sources.changelog import (
        CHANGELOG_SCHEMA,
        shareholders_changelog,
    )
    from kafka_streams_and_ktable_example_spark.streaming.pipeline import (
        ChangelogStreamJob,
        write_changelog_chunks,
    )

    cl = shareholders_changelog(spark, sf_dir)
    chunk_dir = tempfile.mkdtemp(prefix="kill_chunks_")
    write_changelog_chunks(cl, chunk_dir, n_chunks=6)
    work_dir = tempfile.mkdtemp(prefix="kill_state_")
    state_dir = os.path.join(work_dir, "state")
    checkpoint = os.path.join(work_dir, "checkpoint")
    job = ChangelogStreamJob(spark, state_dir)

    seen_epochs = []

    def process_then_maybe_die(batch_df, epoch_id):
        job.process_batch(batch_df, epoch_id)
        seen_epochs.append(epoch_id)

    stream = (
        spark.readStream.schema(CHANGELOG_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(chunk_dir)
    )
    q = (
        stream.writeStream.foreachBatch(process_then_maybe_die)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    # let at least one batch commit, then kill mid-run
    deadline = time.time() + 60
    while not seen_epochs and time.time() < deadline:
        time.sleep(0.1)
    q.stop()
    q.awaitTermination()
    n_before = len(seen_epochs)
    assert n_before < 6, "kill must land mid-replay to test recovery"

    # restart on the same checkpoint: must process ONLY the remainder
    q2 = (
        stream.writeStream.foreachBatch(process_then_maybe_die)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination()
    assert len(seen_epochs) <= 6 + 1, (
        "resume must not re-deliver committed batches "
        f"(saw {len(seen_epochs)} total epochs)"
    )

    got = sorted(
        tuple(r)
        for r in job.snapshot()
        .where(F.col("exchange") == "NASDAQ")
        .groupBy("client")
        .agg(F.sort_array(F.collect_set("id")).alias("positions"))
        .collect()
    )
    want = sorted(
        tuple(r) for r in shareholders_view(cl).collect()
    )
    assert got == want


def test_stream_join_state_bounded_by_watermark(spark, sf_dir):
    """Watermark eviction is real: after an availableNow replay of the
    interval join, the recorded join-state rows stay well under the total
    input rows — without eviction, state would hold every left AND right
    row seen (the unbounded-state failure mode watermarks exist to
    prevent)."""
    import os
    import tempfile
    import uuid

    from pyspark.sql import functions as F

    from kafka_streams_and_ktable_example_spark.sources.tables import (
        events_schema_and_ts_normalizer,
        load_table,
    )
    from kafka_streams_and_ktable_example_spark.streaming.pipeline import (
        write_changelog_chunks,
    )

    # replay events in 6 chunks so the watermark ADVANCES between
    # micro-batches (state is only evicted at batch boundaries; the
    # single-batch helper would show peak state instead)
    ev = load_table(spark, sf_dir, "events").select(
        F.col("event_id").alias("offset"), "user_id", "event_type", "ts"
    )
    chunk_dir = tempfile.mkdtemp(prefix="join_state_chunks_")
    write_changelog_chunks(ev, chunk_dir, n_chunks=6)
    n_input = ev.where(
        F.col("event_type").isin("click", "purchase")
    ).count()

    stream = (
        spark.readStream.schema(
            "offset long, user_id long, event_type string, ts timestamp"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(chunk_dir)
    )
    left = (
        stream.where(F.col("event_type") == "click")
        .select("user_id", F.col("ts").alias("left_ts"))
        .withWatermark("left_ts", "30 minutes")
    )
    right = (
        stream.where(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("r_user_id"),
            F.col("ts").alias("right_ts"),
        )
        .withWatermark("right_ts", "30 minutes")
    )
    joined = left.join(
        right,
        F.expr(
            "user_id = r_user_id AND right_ts >= left_ts "
            "AND right_ts <= left_ts + INTERVAL 1 HOUR"
        ),
    )
    name = f"state_bound_{uuid.uuid4().hex[:8]}"
    q = (
        joined.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    state_rows = [
        op.numRowsTotal
        for p in q.recentProgress
        for op in (p.stateOperators or [])
    ]
    assert state_rows, "join must report state operator metrics"
    # chunks span ~5 days each; the watermark+interval keeps ≲1 chunk's
    # worth of rows live, so final state must sit well under total input
    assert state_rows[-1] < n_input * 0.6, (
        f"state {state_rows[-1]} rows vs {n_input} inputs — "
        "watermark eviction not happening"
    )


SET_STEPS = [
    # batch 0: two NASDAQ positions for daniel
    (
        [
            ("daniel:::AAPL", pos("daniel", "AAPL", "NASDAQ", 10), 0),
            ("daniel:::MSFT", pos("daniel", "MSFT", "NASDAQ", 5), 1),
        ],
        [("daniel", ["daniel:::AAPL", "daniel:::MSFT"])],
    ),
    # batch 1: AAPL flips to LON -> retracted from the NASDAQ view
    (
        [("daniel:::AAPL", pos("daniel", "AAPL", "LON", 10), 2)],
        [("daniel", ["daniel:::MSFT"])],
    ),
    # batch 2: MSFT tombstone -> set empties -> row vanishes
    (
        [("daniel:::MSFT", None, 3)],
        [],
    ),
    # batch 3: AAPL flips back -> row resurrects
    (
        [("daniel:::AAPL", pos("daniel", "AAPL", "NASDAQ", 10), 4)],
        [("daniel", ["daniel:::AAPL"])],
    ),
]


def test_set_ivm_golden_scenario(spark, tmp_path):
    """SetIvmJob semantics, batch by batch: add, retraction by exchange
    flip (the filter's subtractor), delete-to-empty vanishes the row,
    re-add resurrects it — the reference's golden scenario driven through
    the ARRAY-maintained view (SURVEY §7.4 #4)."""
    from kafka_streams_and_ktable_example_spark.streaming.pipeline import SetIvmJob

    job = SetIvmJob(spark, str(tmp_path / "set_ivm"))

    def view_rows():
        return sorted(
            (r["client"], list(r["positions"]))
            for r in job.view().collect()
        )

    for epoch, (rows, expected) in enumerate(SET_STEPS):
        job.process_batch(changelog_from_rows(spark, rows), epoch)
        assert view_rows() == expected, f"after batch {epoch}"


COGROUP_CL_SCHEMA = (
    "key string, src string, o_custkey long, o_totalprice double,"
    " client string, exchange string, tombstone boolean, offset long"
)


def _orow(key, cust, price, tomb, off):
    return (f"o:{key}", "o", cust, price, None, None, tomb, off)


def _srow(key, client, exch, tomb, off):
    return (f"s:{key}", "s", None, None, client, exch, tomb, off)


COGROUP_STEPS = [
    # batch 0: one order + one NASDAQ position for client 7
    (
        [_orow(1, 7, 100.0, False, 0), _srow("7:::T1", "7", "NASDAQ", False, 1)],
        [("7", 1, 100.0, 1, 1)],
    ),
    # batch 1: client 8 gets an order only -> zero-filled position half
    (
        [_orow(2, 8, 50.0, False, 2)],
        [("7", 1, 100.0, 1, 1), ("8", 1, 50.0, 0, 0)],
    ),
    # batch 2: order tombstone -> client 7's order half zeroes
    (
        [_orow(1, None, None, True, 3)],
        [("7", 0, 0.0, 1, 1), ("8", 1, 50.0, 0, 0)],
    ),
    # batch 3: position tombstone -> client 7 vanishes entirely
    (
        [_srow("7:::T1", None, None, True, 4)],
        [("8", 1, 50.0, 0, 0)],
    ),
    # batch 4: client 8 gains a LON position -> merged row updates
    (
        [_srow("8:::T2", "8", "LON", False, 5)],
        [("8", 1, 50.0, 1, 0)],
    ),
]


def test_cogroup_ivm_golden_scenario(spark, tmp_path):
    """CogroupIvmJob semantics batch by batch: two entities (orders,
    positions) merge into one per-client row; either side's tombstone
    zeroes its half; a client with no contributions on both sides
    vanishes; re-adds resurrect."""
    from kafka_streams_and_ktable_example_spark.streaming.pipeline import (
        CogroupIvmJob,
    )

    job = CogroupIvmJob(spark, str(tmp_path / "cogroup_ivm"))

    def view_rows():
        return sorted(
            (
                r["client"],
                r["n_orders"],
                r["total_price"],
                r["n_positions"],
                r["n_nasdaq"],
            )
            for r in job.view().collect()
        )

    for epoch, (rows, expected) in enumerate(COGROUP_STEPS):
        job.process_batch(spark.createDataFrame(rows, COGROUP_CL_SCHEMA), epoch)
        assert view_rows() == expected, f"after batch {epoch}"


# --- crash at every step of an epoch commit, then replay --------------------


class _Crash(Exception):
    pass


def _crash_scenarios():
    """Per maintainer: (job class, number of tables it commits, batch
    builder, reader of what a consumer sees) over its golden scenario."""
    from kafka_streams_and_ktable_example_spark.streaming import pipeline as pl

    def docs(spark):
        return [spark.createDataFrame(b, DOCS_SCHEMA) for b in READD_BATCHES]

    def orders(spark):
        return [spark.createDataFrame(b, ORDERS_CL_SCHEMA) for b in REKEY_BATCHES]

    return {
        "ChangelogStreamJob": (
            pl.ChangelogStreamJob, 1,
            lambda spark: [changelog_from_rows(spark, r) for r, _ in GOLDEN_STEPS],
            lambda job: [job.snapshot()],
        ),
        "AggIvmJob": (pl.AggIvmJob, 2, orders, lambda job: [job.view()]),
        "JoinIvmJob": (
            pl.JoinIvmJob, 3,
            lambda spark: [spark.createDataFrame(b, JOIN_CL_SCHEMA) for b in JOIN_BATCHES],
            lambda job: [job.view_df()],
        ),
        "StreamingLshDedupJob": (
            pl.StreamingLshDedupJob, 2, docs, lambda job: [job.kept_df(), job.index_df()],
        ),
        "Scd2IvmJob": (pl.Scd2IvmJob, 1, orders, lambda job: [job.view()]),
        "SetIvmJob": (
            pl.SetIvmJob, 2,
            lambda spark: [changelog_from_rows(spark, r) for r, _ in SET_STEPS],
            lambda job: [job.view()],
        ),
        "CogroupIvmJob": (
            pl.CogroupIvmJob, 2,
            lambda spark: [spark.createDataFrame(r, COGROUP_CL_SCHEMA) for r, _ in COGROUP_STEPS],
            lambda job: [job.view()],
        ),
    }


_CRASH_CASES = [
    (name, point)
    for name, (_cls, n_tables, _b, _v) in _crash_scenarios().items()
    for point in [f"write{k}" for k in range(n_tables)] + ["publish", "cleanup"]
]


def _seen(read_view, job):
    return [sorted(map(str, df.collect())) for df in read_view(job)]


def _inject(m, point):
    """Make the next ``point`` step of a commit raise _Crash:
    ``write<k>`` before the k-th table write, ``publish`` at the manifest
    swap, ``cleanup`` right after the first old version is deleted."""
    import shutil

    from pyspark.sql.readwriter import DataFrameWriter

    if point.startswith("write"):
        real_parquet, writes = DataFrameWriter.parquet, []

        def parquet(self, path, *args, **kwargs):
            writes.append(path)
            if len(writes) > int(point[len("write"):]):
                raise _Crash(point)
            return real_parquet(self, path, *args, **kwargs)

        m.setattr(DataFrameWriter, "parquet", parquet)
    elif point == "publish":

        def replace(src, dst):
            raise _Crash(point)

        m.setattr(os, "replace", replace)
    else:
        real_rmtree = shutil.rmtree

        def rmtree(path, *args, **kwargs):
            real_rmtree(path, *args, **kwargs)
            raise _Crash(point)

        m.setattr(shutil, "rmtree", rmtree)


@pytest.fixture(scope="module")
def clean_runs(spark, tmp_path_factory):
    """What each maintainer's golden scenario shows after every epoch of
    an uninterrupted run, computed once per class."""
    cache = {}

    def get(name):
        if name not in cache:
            cls, _n, batches, read_view = _crash_scenarios()[name]
            job = cls(spark, str(tmp_path_factory.mktemp(name)))
            seen = []
            for epoch, df in enumerate(batches(spark)[:3]):
                job.process_batch(df, epoch)
                seen.append(_seen(read_view, job))
            cache[name] = seen
        return cache[name]

    return get


@pytest.mark.parametrize("name,point", _CRASH_CASES)
def test_crash_then_replay_equals_clean_run(spark, tmp_path, monkeypatch, clean_runs, name, point):
    """A crash at any step of epoch 1's commit — before each table write,
    at the manifest swap, or while old versions are deleted — followed by
    a replay of that epoch on a new job object over the same directory (a
    restarted process) shows exactly what the uninterrupted run shows,
    after the replayed epoch and after the next one."""
    cls, _n, batches, read_view = _crash_scenarios()[name]
    want = clean_runs(name)
    dfs = batches(spark)[:3]
    work = str(tmp_path / "work")
    cls(spark, work).process_batch(dfs[0], 0)
    with monkeypatch.context() as m:
        _inject(m, point)
        with pytest.raises(_Crash):
            cls(spark, work).process_batch(dfs[1], 1)
    job = cls(spark, work)
    for epoch in range(1, len(dfs)):
        job.process_batch(dfs[epoch], epoch)
        assert _seen(read_view, job) == want[epoch], f"{point}: after batch {epoch}"
    # the last commit, or reopening the store, removed every other version
    job = cls(spark, work)
    for table in os.listdir(job.store.root):
        path = os.path.join(job.store.root, table)
        if os.path.isdir(path):
            assert os.listdir(path) == [str(len(dfs) - 1)], table


@pytest.mark.parametrize("name", list(_crash_scenarios()))
def test_committed_epoch_replay_is_a_no_op(spark, tmp_path, name):
    """Redelivering the committed epoch starts no Spark job and changes
    nothing; an epoch older than the committed one raises."""
    cls, _n, batches, read_view = _crash_scenarios()[name]
    dfs = batches(spark)[:2]
    job = cls(spark, str(tmp_path))
    sc = spark.sparkContext
    try:
        for epoch, df in enumerate(dfs):
            sc.setJobGroup(f"commit-{name}-{epoch}", "commit")
            job.process_batch(df, epoch)
        assert sc.statusTracker().getJobIdsForGroup(f"commit-{name}-{epoch}")
        before = _seen(read_view, job)
        sc.setJobGroup(f"replay-{name}", "replay")
        cls(spark, str(tmp_path)).process_batch(dfs[-1], epoch)
        assert sc.statusTracker().getJobIdsForGroup(f"replay-{name}") == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert _seen(read_view, job) == before
    with pytest.raises(ValueError, match=f"epoch 0 .*committed epoch {epoch}"):
        job.process_batch(dfs[0], 0)
