"""The ``ivm_*`` workloads: a seeded changelog replayed through ``SetIvmJob``.

One Structured Streaming query reads the chunk directory one file per
trigger and hands each micro-batch to ``SetIvmJob.process_batch`` through
``foreachBatch``. The loop is closed: only after a batch commits and its
point lookups (``job.view()`` filtered to one client) have run does the
callback write the next chunk, so the stream always holds exactly one
pending file. Batch 0 loads the base state; WARMUP_BATCHES delta batches
with their lookups follow untimed, since the first delta batches after a
load run 1.5-2x slower than later ones. The timed window starts when they
commit and ends at the first batch boundary past ``--seconds``.

Set-up (session start, input generation, base load, warm-up batches)
runs SETUPS times on the same inputs in one session; the first ones are
torn down and the median is reported, so work moved into set-up shows
without the one cold JVM launch dominating the number. Only the first
set-up launches the session; the later ones get the running one back
from ``get_spark``.

Checks: every lookup against the generator's view at that epoch; the final
maintained view against the generator's view and against a batch
``ktable.shareholders_view`` recompute over the replayed chunks.
"""

from __future__ import annotations

import os
import shutil
import threading
import time
import traceback

import pyarrow.parquet as pq

from changelog_gen import ChangelogGenerator, Profile
from stats import median, tail
from spans import ProgressListener, group_counts, job_floor_ms, read_event_log

PROFILES = {
    # ~1% of keys change per batch: the store rewrite dominates the delta
    "ivm_trickle": Profile(
        keys=50_000, clients=5_000, zipf_s=0.8, delta=500, stale=25,
        p_tombstone=0.1, p_flip=0.2, lookups=8,
    ),
    # ~90% of keys change per batch: delta is about the size of the state
    "ivm_bulk": Profile(
        keys=20_000, clients=2_000, zipf_s=0.8, delta=18_000, stale=400,
        p_tombstone=0.1, p_flip=0.2, lookups=8,
    ),
}
SETUPS = 3
WARMUP_BATCHES = 1  # delta batches, with lookups, that end each set-up
FOOTPRINT_BATCHES = 2  # store footprint: over the first N timed batches
RECOMPUTE_PASSES = 7  # timed, after one untimed pass; a pass takes only 0.3-0.5 s
VIEW_SCHEMA = "struct<client:string,positions:array<string>>"


class IvmRun:
    """One set-up of the replay: its own directories, stream and job."""

    def __init__(self, ctx, spark, profile: Profile, seed: int, base: str, timed: bool):
        from pyspark.sql import functions as F

        from kafka_streams_and_ktable_example_spark.sources.changelog import CHANGELOG_SCHEMA
        from kafka_streams_and_ktable_example_spark.streaming.pipeline import SetIvmJob

        self.F = F
        self.ctx, self.spark, self.sc = ctx, spark, spark.sparkContext
        self.trace = ctx.trace
        self.timed = timed
        self.src = os.path.join(base, "chunks")
        self.staging = os.path.join(base, "staging")
        self.work = os.path.join(base, "work")
        for d in (self.src, self.staging, self.work):
            os.makedirs(d)
        self.schema = CHANGELOG_SCHEMA
        self.gen = ChangelogGenerator(profile, seed)
        self.job = SetIvmJob(spark, self.work)
        self.chunks: list[str] = []
        self.pending = {}
        self.set_up = threading.Event()
        self.done = threading.Event()
        self.deadline = None
        self.t_start = self.t_end = 0.0
        self.batches: list[dict] = []  # one per timed batch
        self.lookups: list[dict] = []  # one per timed lookup
        self.seen_files: set = set()
        self.footprint: dict = {}
        self.last_epoch = -1

    # --- input -------------------------------------------------------------

    def _emit_next(self) -> None:
        """Generate the next batch and move its chunk into the source dir."""
        b = self.gen.next_batch()
        tmp = os.path.join(self.staging, f"{b.epoch:06d}.parquet")
        pq.write_table(b.table, tmp)
        path = os.path.join(self.src, f"{b.epoch:06d}.parquet")
        os.replace(tmp, path)
        self.chunks.append(path)
        self.pending[b.epoch] = b

    # --- the foreachBatch callback ----------------------------------------

    def on_batch(self, df, epoch: int) -> None:
        try:
            self._on_batch(df, epoch)
        except Exception:  # the stream must not die with the harness's bug
            traceback.print_exc()
            self.ctx.failed += 1
            self.done.set()

    def _on_batch(self, df, epoch: int) -> None:
        b = self.pending.pop(epoch)
        timed = self.timed and epoch > WARMUP_BATCHES
        # every other timed batch is traced; the rest measure the trace's overhead
        traced = timed and self.trace.enabled and (epoch - WARMUP_BATCHES) % 2 == 1
        group = f"batch-{epoch}"
        if timed:
            self.ctx.attempted += 1
        t0 = time.perf_counter()
        if traced:
            self.sc.setJobGroup(group, group)
        w0 = time.time()
        ok = True
        try:
            self.job.process_batch(df, epoch)
        except Exception:
            traceback.print_exc()
            ok = False
            if timed:
                self.ctx.failed += 1
        w1 = time.time()
        self.trace.add("streaming.batch", w0, w1, "streaming.trigger")
        rec = {"epoch": epoch, "records": b.records, "batch_s": w1 - w0, "traced": traced}
        if traced:
            rec["jobs"], rec["stages"], rec["tasks"] = group_counts(self.sc, group)
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        rec["cycle_s"] = time.perf_counter() - t0
        # the base load (epoch 0) is set-up, not serving: no lookups after it
        rec["lookup_s"] = self._lookups(b, epoch, timed, traced) if ok and epoch else 0.0
        if self.timed and self.trace.enabled and epoch >= WARMUP_BATCHES:
            self._footprint(epoch - WARMUP_BATCHES, b.records)
        self.last_epoch = epoch
        if timed:
            self.batches.append(rec)
        if epoch == WARMUP_BATCHES:
            self.t_start = time.time()
            self.deadline = self.t_start + self.ctx.seconds
            self.set_up.set()
        if epoch < WARMUP_BATCHES or (self.timed and time.time() < self.deadline):
            with self.trace.span("gen.batch", "streaming.trigger") as t:
                self._emit_next()
            rec["gen_s"] = t.s
        else:
            rec["gen_s"] = 0.0
            self.t_end = time.time()
            self.done.set()

    def _lookups(self, b, epoch: int, timed: bool, traced: bool) -> float:
        F = self.F
        group = f"lookup-{epoch}"
        if traced:
            self.sc.setJobGroup(group, group)
        total = 0.0
        for client, expected in b.lookups:
            if timed:
                self.ctx.attempted += 1
            try:
                with self.trace.span("serve.view_open", "serve.lookup") as t_open:
                    v = self.job.view()
                with self.trace.span("serve.lookup_exec", "serve.lookup") as t_exec:
                    rows = v.where(F.col("client") == client).collect()
            except Exception:
                traceback.print_exc()
                if timed:
                    self.ctx.failed += 1
                continue
            self.trace.add("serve.lookup", time.time() - t_open.s - t_exec.s, time.time())
            total += t_open.s + t_exec.s
            got = [(r["client"], r["positions"]) for r in rows]
            want = [] if expected is None else [(client, expected)]
            if not _typed_equal(got, want):
                self.ctx.mismatch(f"lookup {client} after batch {epoch}: got {got!r:.200}, want {want!r:.200}")
            if timed:
                self.lookups.append(
                    {"ms": (t_open.s + t_exec.s) * 1e3, "open_ms": t_open.s * 1e3,
                     "exec_ms": t_exec.s * 1e3, "epoch": epoch, "traced": traced}
                )
        if traced:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        return total

    def _footprint(self, n: int, records: int) -> None:
        """Bytes newly written under the state and view dirs by the n-th
        timed batch (n = 0 only lists the files the warm-up left), and the
        store's size after the FOOTPRINT_BATCHES-th."""
        files = {}
        for d in (self.job.state_dir, self.job.view_dir):
            for root, _dirs, names in os.walk(d):
                for name in names:
                    p = os.path.join(root, name)
                    st = os.stat(p)
                    files[(p, st.st_ino, st.st_mtime_ns)] = st.st_size
        new = sum(sz for k, sz in files.items() if k not in self.seen_files)
        self.seen_files = set(files)
        if n == 0 or n > FOOTPRINT_BATCHES:
            return
        fp = self.footprint
        fp["batches"] = n
        fp["bytes_written"] = fp.get("bytes_written", 0) + new
        fp["records"] = fp.get("records", 0) + records
        if n == FOOTPRINT_BATCHES:
            for label, d in (("state", self.job.state_dir), ("view", self.job.view_dir)):
                parts = [os.path.join(d, f) for f in os.listdir(d) if f.endswith(".parquet")]
                fp[f"{label}_rows"] = sum(pq.read_metadata(p).num_rows for p in parts)
                fp[f"{label}_bytes"] = sum(os.path.getsize(p) for p in parts)
                fp[f"{label}_files"] = len(parts)

    # --- driving ------------------------------------------------------------

    def start(self) -> None:
        # the engine's own replay function (run_shareholders_set_ivm) pins the
        # per-batch shuffle width the same way
        for k in ("spark.sql.shuffle.partitions",
                  "spark.sql.adaptive.coalescePartitions.initialPartitionNum"):
            self.spark.conf.set(k, "8")
        # the view's file dir must exist before the first lookup's view() call
        self._emit_next()
        stream = (
            self.spark.readStream.schema(self.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(self.src)
        )
        self.query = (
            stream.writeStream.foreachBatch(self.on_batch)
            .option("checkpointLocation", os.path.join(self.work, "checkpoint"))
            .start()
        )

    def wait(self, event: threading.Event, timeout: float) -> None:
        end = time.time() + timeout
        while not event.wait(0.2):
            if self.query.exception() is not None:
                raise RuntimeError(f"stream failed: {self.query.exception()}")
            if time.time() > end:
                raise TimeoutError("stream made no progress")


def _force(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def _typed_equal(got, want) -> bool:
    """Equality that also requires identical Python types, element by element."""
    if len(got) != len(want):
        return False
    for (gc, gp), (wc, wp) in zip(got, want):
        if type(gc) is not str or gc != wc or type(gp) is not list:
            return False
        if len(gp) != len(wp) or any(type(x) is not str for x in gp) or gp != wp:
            return False
    return True


def run(ctx, workload: str) -> dict:
    """Set up SETUPS times, replay for ctx.seconds, check, and measure."""
    profile = PROFILES[workload]
    setups, starts, warmups = [], [], []
    spark = None
    for i in range(SETUPS):
        last = i == SETUPS - 1
        base = os.path.join(ctx.run_dir, f"ivm{i}")
        t0 = time.time()
        with ctx.trace.span("session.start", "setup") as t_start:
            spark = ctx.start_session()
        listener = None
        if last and ctx.trace.enabled:
            listener = ProgressListener()
            spark.streams.addListener(listener)
        with ctx.trace.span("session.warmup", "setup") as t_warm:
            r = IvmRun(ctx, spark, profile, ctx.seed, base, timed=last)
            r.start()
            r.wait(r.set_up, 150)
        setups.append(time.time() - t0)
        starts.append(t_start.s)
        warmups.append(t_warm.s)
        if not last:
            r.wait(r.done, 30)
            r.query.stop()
            shutil.rmtree(base, ignore_errors=True)
    ctx.trace.add("setup", t0, time.time())

    r.wait(r.done, ctx.seconds + 120)
    if listener is not None:
        listener.wait_for(r.last_epoch)
    r.query.stop()

    view_ms, rows_ok = _final_checks(ctx, r, spark)
    floor = job_floor_ms(spark) if ctx.trace.enabled else 0.0
    app_id = spark.sparkContext.applicationId
    rss = ctx.rss_peak_mb(spark)
    spark.stop()

    b = r.batches
    if not b:
        raise RuntimeError("no timed batch completed")
    wall = r.t_end - r.t_start
    busy = wall - sum(x["lookup_s"] + x["gen_s"] for x in b)
    lk = [x["ms"] for x in r.lookups] or [0.0]
    lk_tail, lk_pct = tail(lk)
    metrics = {
        "setup_s": (median(setups), "s"),
        "batch_pass_s": (median(view_ms) / 1e3, "s"),
        "ivm_records_per_s": (sum(x["records"] for x in b) / busy, "1/s"),
        "ivm_batch_p50_ms": (median([x["batch_s"] for x in b]) * 1e3, "ms"),
        "lookup_p50_ms": (median(lk), "ms"),
        "lookup_tail_ms": (lk_tail, "ms"),
        "rss_peak_mb": (rss, "MB"),
    }
    notes = {
        "timed_batches": len(b),
        "batch_ms": [round(x["batch_s"] * 1e3, 1) for x in b],
        "lookups": len(r.lookups),
        "lookup_tail_percentile": lk_pct,
        "setups_s": setups,
        "view_recompute_ms": view_ms,
        "final_view_rows": rows_ok,
    }
    layers = {}
    if ctx.trace.enabled:
        layers = _layers(ctx, r, spark, starts, warmups, view_ms, floor, app_id, listener)
    return {"metrics": metrics, "layers": layers, "notes": notes}


def _final_checks(ctx, r: IvmRun, spark) -> tuple[list[float], int]:
    """Final view vs generator and vs batch recompute; returns the times (ms)
    of the timed recompute passes and the number of view rows checked.

    The timed passes read only the set-up's chunks (base load and warm-up
    batches), a fixed input per seed: the chunks replayed after them depend
    on how many batches fit in the timed window."""
    from kafka_streams_and_ktable_example_spark.operators.ktable import shareholders_view

    want = sorted(r.gen.expected_view().items())
    processed = r.chunks[: r.last_epoch + 1]
    if len(processed) != len(r.chunks):
        raise RuntimeError("a chunk was emitted but never processed")
    ctx.attempted += 2
    v = r.job.view()
    if v.schema.simpleString() != VIEW_SCHEMA:
        ctx.mismatch(f"maintained view schema {v.schema.simpleString()}")
    got = sorted((x["client"], x["positions"]) for x in v.collect())
    if not _typed_equal(got, want):
        ctx.mismatch(f"maintained view differs from the generator's ({len(got)} vs {len(want)} rows)")

    with ctx.trace.span("plans.build", "operators.recompute") as t_build:
        timed_view = shareholders_view(
            spark.read.schema(r.schema).parquet(*processed[: WARMUP_BATCHES + 1])
        )
    with ctx.trace.span("catalyst.plan", "operators.recompute") as t_plan:
        timed_view._jdf.queryExecution().executedPlan()
    r.build_ms, r.plan_ms = t_build.s * 1e3, t_plan.s * 1e3
    _force(timed_view)
    passes = []
    for i in range(RECOMPUTE_PASSES):
        if ctx.trace.enabled:
            spark.sparkContext.setJobGroup(f"recompute-{i}", "recompute")
        with ctx.trace.span("operators.recompute") as t:
            _force(timed_view)
        passes.append(t.s * 1e3)
    spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)

    view = shareholders_view(spark.read.schema(r.schema).parquet(*processed))
    if view.schema.simpleString() != VIEW_SCHEMA:
        ctx.mismatch(f"recomputed view schema {view.schema.simpleString()}")
    again = sorted((x["client"], x["positions"]) for x in view.collect())
    if not _typed_equal(again, want):
        ctx.mismatch(f"batch recompute differs from the generator's ({len(again)} vs {len(want)} rows)")
    return passes, len(want)


def _layers(ctx, r: IvmRun, spark, starts, warmups, view_ms, floor, app_id, listener) -> dict:
    """Per-layer metrics of a traced run."""
    groups = read_event_log(ctx.event_log_dir, app_id)
    traced = [x for x in r.batches if x["traced"]]
    untraced = [x for x in r.batches if not x["traced"]]
    cycles = []
    for x in traced:
        g = groups.get(f"batch-{x['epoch']}")
        lg = groups.get(f"lookup-{x['epoch']}")
        parts = [p for p in (g, lg) if p is not None]
        cycles.append({
            "ms": sum(p.exec_ms for p in parts),
            "jobs": sum(p.jobs for p in parts),
            "shuffle": sum(p.shuffle_write_bytes for p in parts),
            "spill": sum(p.spill_bytes for p in parts),
            "exchanges": sum(p.exchanges for p in parts),
            "python": sum(p.python_nodes for p in parts),
        })
    m = lambda key: median([c[key] for c in cycles])  # noqa: E731
    exec_ms = m("ms")
    lookups = [x for x in r.lookups if x["traced"]]
    lookup_jobs = sum(
        groups[f"lookup-{x['epoch']}"].jobs for x in traced if f"lookup-{x['epoch']}" in groups
    ) / max(1, len(lookups))
    prog = [listener.progress[x["epoch"]] for x in r.batches if x["epoch"] in listener.progress]
    phase = lambda k: median([p[1].get(k, 0) for p in prog]) if prog else 0.0  # noqa: E731
    for ts, dur, _rows in prog:
        r.trace.add("streaming.trigger", ts, ts + dur.get("triggerExecution", 0) / 1e3)
    coverage = r.trace.coverage(
        {"streaming.trigger", "streaming.batch", "serve.lookup", "gen.batch"}, r.t_start, r.t_end
    )
    overhead = (
        median([x["cycle_s"] for x in traced]) / median([x["cycle_s"] for x in untraced]) - 1.0
        if traced and untraced else 0.0
    )
    fp = r.footprint
    if fp.get("batches") != FOOTPRINT_BATCHES:
        raise RuntimeError(f"fewer than {FOOTPRINT_BATCHES} timed batches: no store footprint")
    out = {
        "session.start_s": (starts[0], "s"),  # later set-ups reuse the running session
        "session.warmup_s": (median(warmups), "s"),
        "plans.build_ms": (r.build_ms, "ms"),
        "catalyst.plan_ms": (r.plan_ms, "ms"),
        "exec.ms": (exec_ms, "ms"),
        "exec.jobs": (m("jobs"), "count"),
        "exec.stages": (median([x["stages"] for x in traced]), "count"),
        "exec.tasks": (median([x["tasks"] for x in traced]), "count"),
        "exec.exchanges": (m("exchanges"), "count"),
        "exec.python_nodes": (m("python"), "count"),
        "exec.shuffle_write_bytes": (m("shuffle"), "bytes"),
        "exec.spill_bytes": (m("spill"), "bytes"),
        "exec.job_floor_ms": (floor, "ms"),
        "exec.floor_share": (m("jobs") * floor / exec_ms if exec_ms else 0.0, "ratio"),
        "operators.shareholders_view_recompute_ms": (median(view_ms), "ms"),
        "streaming.batch_ms": (median([x["batch_s"] for x in traced]) * 1e3, "ms"),
        "streaming.jobs_per_batch": (median([x["jobs"] for x in traced]), "count"),
        "streaming.addBatch_ms": (phase("addBatch"), "ms"),
        "streaming.latestOffset_ms": (phase("latestOffset"), "ms"),
        "streaming.queryPlanning_ms": (phase("queryPlanning"), "ms"),
        "streaming.walCommit_ms": (phase("walCommit"), "ms"),
        "streaming.commitOffsets_ms": (phase("commitOffsets"), "ms"),
        "streaming.state_rows": (fp["state_rows"], "count"),
        "streaming.view_rows": (fp["view_rows"], "count"),
        "streaming.state_bytes": (fp["state_bytes"], "bytes"),
        "streaming.view_bytes": (fp["view_bytes"], "bytes"),
        "streaming.state_files": (fp["state_files"], "count"),
        "streaming.bytes_written_per_record": (fp["bytes_written"] / fp["records"], "bytes"),
        "serve.view_open_ms": (median([x["open_ms"] for x in lookups]), "ms"),
        "serve.lookup_exec_ms": (median([x["exec_ms"] for x in lookups]), "ms"),
        "serve.lookup_jobs": (lookup_jobs, "count"),
        "trace.coverage": (coverage, "ratio"),
        "trace.overhead_share": (overhead, "ratio"),
    }
    return out
