"""The ``headline`` workload: the 13 ``plans.headline_queries()`` as a batch.

Each query is built, planned and forced with the noop sink over the parquet
tables in ``$SPARK_GRAFT_SF_DIR`` (bench.py's variable; bench.py measures
the same set at sf0.1). The seed permutes the query order. Two untimed
passes warm the JVM (the first pass at sf0.1 runs about 2.5x slower than
the third); timed passes then repeat until ``--seconds`` have passed. Every
query's result is then checked against its DuckDB ``oracle_sql()`` by
column names, column type class, and row values compared with their Python
types (so ``123`` never equals ``'123'``), order-insensitively.

This workload is not in ``BENCHMARK.json``: its tables live outside the
checkout, its warm-up alone is longer than a run's share of the benchmark's
time budget, and it exercises none of the streaming or serving metrics.
Run it by hand, e.g. with ``--trace 1`` for the per-query layer record:

    SPARK_GRAFT_SF_DIR=<dir of the sf0.1 tables> \
        python3 ktbench/run.py --workload headline --seed 1 --seconds 30 --trace 1
"""

from __future__ import annotations

import datetime
import decimal
import os
import random
import time
import traceback

from spans import group_counts, job_floor_ms, read_event_log, shape_counts, PYTHON_NODE
from stats import median

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()
WARMUP_PASSES = 2
SOURCE_REPEATS = 3


def _tclass(v) -> str:
    """Type class of a fetched cell; DuckDB and Spark must agree on it."""
    if v is None:
        return "null"
    if isinstance(v, bool):
        return "bool"
    if isinstance(v, int):
        return "int"
    if isinstance(v, float):
        return "float"
    if isinstance(v, decimal.Decimal):
        return "decimal"
    if isinstance(v, str):
        return "str"
    if isinstance(v, datetime.datetime):
        return "timestamp"
    if isinstance(v, datetime.date):
        return "date"
    if isinstance(v, (bytes, bytearray)):
        return "bytes"
    if isinstance(v, (list, tuple)):
        return "list"
    if isinstance(v, dict):
        return "struct"
    return type(v).__name__


def _canon(v):
    """Order key that keeps the type class, so 123 and '123' never collide."""
    if hasattr(v, "asDict"):  # a Spark struct: compare as a DuckDB struct dict
        v = v.asDict(recursive=True)
    if isinstance(v, dict):
        return ("struct", tuple(sorted((k, _canon(x)) for k, x in v.items())))
    if isinstance(v, (list, tuple)):
        return ("list", tuple(_canon(x) for x in v))
    if isinstance(v, float) and v != v:
        return ("float", "NaN")
    return (_tclass(v), repr(v))


_SPARK_CLASS = {
    "tinyint": "int", "smallint": "int", "int": "int", "bigint": "int",
    "float": "float", "double": "float", "string": "str", "boolean": "bool",
    "date": "date", "timestamp": "timestamp", "timestamp_ntz": "timestamp",
    "binary": "bytes",
}
_DUCK_CLASS = {
    "TINYINT": "int", "SMALLINT": "int", "INTEGER": "int", "BIGINT": "int",
    "UTINYINT": "int", "USMALLINT": "int", "UINTEGER": "int", "UBIGINT": "int",
    "HUGEINT": "hugeint", "FLOAT": "float", "DOUBLE": "float", "VARCHAR": "str",
    "BOOLEAN": "bool", "DATE": "date", "TIMESTAMP": "timestamp", "BLOB": "bytes",
}


def _spark_class(t: str) -> str:
    if t.startswith("decimal"):
        return "decimal"
    if t.startswith("array"):
        return "list"
    if t.startswith("struct"):
        return "struct"
    return _SPARK_CLASS.get(t, t)


def _duck_class(t: str) -> str:
    if t.startswith("DECIMAL"):
        return "decimal"
    if t.endswith("]"):
        return "list"
    if t.startswith("STRUCT"):
        return "struct"
    return _DUCK_CLASS.get(t, t)


def check_query(name: str, df, con, sql: str) -> str | None:
    """None when Spark's result equals the oracle's, else what differs."""
    rel = con.sql(sql)
    dcols, dtypes = rel.columns, [_duck_class(str(t)) for t in rel.types]
    scols = df.columns
    stypes = [_spark_class(f.dataType.simpleString()) for f in df.schema.fields]
    if sorted(scols) != sorted(dcols):
        return f"columns spark={sorted(scols)} oracle={sorted(dcols)}"
    sclass = dict(zip(scols, stypes))
    for c, t in zip(dcols, dtypes):
        if sclass[c] != t:
            return f"column {c}: spark type class {sclass[c]}, oracle {t}"
    order = [scols.index(c) for c in dcols]
    srows = sorted(tuple(_canon(r[i]) for i in order) for r in df.collect())
    drows = sorted(tuple(_canon(x) for x in r) for r in rel.fetchall())
    if len(srows) != len(drows):
        return f"rows spark={len(srows)} oracle={len(drows)}"
    for a, b in zip(srows, drows):
        if a != b:
            return f"first differing row: spark={a!r:.300} oracle={b!r:.300}"
    return None


def _force(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def run(ctx, workload: str) -> dict:
    import duckdb

    from kafka_streams_and_ktable_example_spark import plans
    from kafka_streams_and_ktable_example_spark.operators.ktable import shareholders_view
    from kafka_streams_and_ktable_example_spark.session import tune_for_input
    from kafka_streams_and_ktable_example_spark.sources.changelog import (
        orders_changelog,
        shareholders_changelog,
    )

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "")
    if not os.path.exists(os.path.join(sf_dir, "lineitem.parquet")):
        raise SystemExit("headline: set SPARK_GRAFT_SF_DIR to a directory of the sf tables")
    trace = ctx.trace
    t0 = time.time()
    with trace.span("session.start", "setup") as t_start:
        spark = ctx.start_session()
        tune_for_input(spark, sf_dir)
    sc = spark.sparkContext
    queries = plans.headline_queries()
    order = sorted(queries)
    random.Random(ctx.seed).shuffle(order)
    with trace.span("session.warmup", "setup") as t_warm:
        for _ in range(WARMUP_PASSES):
            for name in order:
                try:
                    _force(queries[name](spark, sf_dir))
                except Exception:
                    traceback.print_exc()
                spark.catalog.clearCache()
    setup_s = time.time() - t0

    passes: list[dict] = []
    m0 = time.time()
    deadline = m0 + ctx.seconds
    while not passes or time.time() < deadline:
        i = len(passes)
        traced = trace.enabled and i % 2 == 0  # odd passes measure trace overhead
        rec = {"traced": traced, "query_ms": {}, "build_ms": 0.0, "plan_ms": 0.0,
               "jobs": 0, "stages": 0, "tasks": 0, "exchanges": 0, "python_nodes": 0}
        p0 = time.time()
        for name in order:
            ctx.attempted += 1
            group = f"q{i}-{name}"
            q0 = time.time()
            try:
                if traced:
                    sc.setJobGroup(group, name)
                with trace.span("plans.build", f"plans.{name}") as tb:
                    df = queries[name](spark, sf_dir)
                if traced:
                    with trace.span("catalyst.plan", f"plans.{name}") as tp:
                        plan = df._jdf.queryExecution().executedPlan().toString()
                    counts = shape_counts(plan)
                    rec["plan_ms"] += tp.s * 1e3
                    rec["exchanges"] += counts["exchanges"]
                    rec["python_nodes"] += len(PYTHON_NODE.findall(plan))
                with trace.span("exec", f"plans.{name}"):
                    _force(df)
                rec["build_ms"] += tb.s * 1e3
            except Exception:
                traceback.print_exc()
                ctx.failed += 1
            finally:
                spark.catalog.clearCache()
            q1 = time.time()
            trace.add(f"plans.{name}", q0, q1, "pass")
            rec["query_ms"][name] = (q1 - q0) * 1e3
            if traced:
                j, s, t = group_counts(sc, group)
                rec["jobs"] += j
                rec["stages"] += s
                rec["tasks"] += t
                sc.setLocalProperty("spark.jobGroup.id", None)
        rec["s"] = time.time() - p0
        trace.add("pass", p0, p0 + rec["s"])
        passes.append(rec)
    m1 = time.time()

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    oracles = plans.oracle_sql()
    for name in order:
        ctx.attempted += 1
        try:
            bad = check_query(name, queries[name](spark, sf_dir), con, oracles[name])
        except Exception as exc:
            traceback.print_exc()
            ctx.failed += 1
            bad = f"check raised {exc!r:.200}"
        spark.catalog.clearCache()
        if bad:
            ctx.mismatch(f"{name}: {bad}")

    metrics = {
        "setup_s": (setup_s, "s"),
        "batch_pass_s": (median([p["s"] for p in passes]), "s"),
        "rss_peak_mb": (ctx.rss_peak_mb(spark), "MB"),
    }
    # the streaming and serving metrics are not exercised here
    for k, u in (("ivm_records_per_s", "1/s"), ("ivm_batch_p50_ms", "ms"),
                 ("lookup_p50_ms", "ms"), ("lookup_tail_ms", "ms")):
        metrics[k] = (0.0, u)
    notes = {"passes_s": [p["s"] for p in passes], "order": order,
             "query_ms": {n: median([p["query_ms"][n] for p in passes]) for n in order}}
    layers = {}
    if trace.enabled:

        def timed_force(label, build):
            ts = []
            for k in range(SOURCE_REPEATS):
                sc.setJobGroup(f"{label}-{k}", label)
                with trace.span(label) as t:
                    _force(build())
                ts.append(t.s * 1e3)
            sc.setLocalProperty("spark.jobGroup.id", None)
            return median(ts)

        layers["sources.shareholders_changelog_ms"] = (
            timed_force("sources.shareholders_changelog", lambda: shareholders_changelog(spark, sf_dir)), "ms")
        layers["sources.orders_changelog_ms"] = (
            timed_force("sources.orders_changelog", lambda: orders_changelog(spark, sf_dir)), "ms")
        layers["operators.shareholders_view_recompute_ms"] = (
            timed_force("operators.recompute",
                        lambda: shareholders_view(shareholders_changelog(spark, sf_dir))), "ms")
        floor = job_floor_ms(spark)
        app_id = sc.applicationId
        spark.stop()
        groups = read_event_log(ctx.event_log_dir, app_id)
        traced = [(i, p) for i, p in enumerate(passes) if p["traced"]]
        untraced = [p["s"] for p in passes if not p["traced"]]
        exec_ms = []
        shuffle, spill = [], []
        for i, p in traced:
            gs = [groups[f"q{i}-{n}"] for n in order if f"q{i}-{n}" in groups]
            exec_ms.append(sum(g.exec_ms for g in gs))
            shuffle.append(sum(g.shuffle_write_bytes for g in gs))
            spill.append(sum(g.spill_bytes for g in gs))
        tp = [p for _, p in traced]
        m = lambda k: median([p[k] for p in tp])  # noqa: E731
        layers.update({
            "session.start_s": (t_start.s, "s"),
            "session.warmup_s": (t_warm.s, "s"),
            "plans.build_ms": (m("build_ms"), "ms"),
            "catalyst.plan_ms": (m("plan_ms"), "ms"),
            "exec.ms": (median(exec_ms), "ms"),
            "exec.jobs": (m("jobs"), "count"),
            "exec.stages": (m("stages"), "count"),
            "exec.tasks": (m("tasks"), "count"),
            "exec.exchanges": (m("exchanges"), "count"),
            "exec.python_nodes": (m("python_nodes"), "count"),
            "exec.shuffle_write_bytes": (median(shuffle), "bytes"),
            "exec.spill_bytes": (median(spill), "bytes"),
            "exec.job_floor_ms": (floor, "ms"),
            "exec.floor_share": (m("jobs") * floor / median(exec_ms), "ratio"),
            "trace.coverage": (
                trace.coverage({f"plans.{n}" for n in order}, m0, m1), "ratio"),
            "trace.overhead_share": (
                median([p["s"] for p in tp]) / median(untraced) - 1.0 if untraced else 0.0, "ratio"),
        })
        for n in order:
            layers[f"plans.{n}_ms"] = (median([p["query_ms"][n] for p in tp]), "ms")
    else:
        spark.stop()
    return {"metrics": metrics, "layers": layers, "notes": notes}
