"""The measured process: one fresh Spark session per run.

Started by ``perfbench/run.py`` as ``python3 -m perfbench.worker`` with
the repository on PYTHONPATH.  It sets up the session the way
``bench.py`` does, runs passes of the workload's operation list until
``--seconds`` have elapsed, and writes everything it measured as JSON
to ``--out``.  Output checks that need the program's results (query
result hashes) are captured here, outside the timed spans, and judged
later by ``perfbench/check.py``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import re
import shutil
import time
import traceback

from perfbench import procfs
from perfbench.tracer import MEMOS, NullTracer, Tracer
from perfbench.workloads import CONNECTOR_STAGES, ITERATIVE_HEAVY, NIGHTS

EXCHANGE = re.compile(r"^[\s+\-:*|]*(\w*Exchange)\b", re.M)
JOIN = re.compile(r"^[\s+\-:*|]*(\w*Join|CartesianProduct)\b", re.M)


def warm_up(spark, data_dir: str) -> None:
    """The same JVM/codegen and Python-worker warm-ups as bench.py."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    li = spark.read.parquet(os.path.join(data_dir, "lineitem.parquet"))
    od = spark.read.parquet(os.path.join(data_dir, "orders.parquet")).limit(1000)
    warm = (
        li.limit(1000)
        .join(od, li.l_orderkey == od.o_orderkey)
        .groupBy("o_orderstatus")
        .agg(F.sum("l_quantity").alias("q"))
        .withColumn("r", F.row_number().over(Window.orderBy("o_orderstatus")))
    )
    warm.write.format("noop").mode("overwrite").save()
    li.count()
    p = spark.sparkContext.defaultParallelism

    def _warm_workers(batches):
        yield from batches

    spark.range(0, p, 1, p).mapInPandas(_warm_workers, "id long").write.format(
        "noop"
    ).mode("overwrite").save()


def result_digest(df) -> dict:
    """Column names, row count and an order-insensitive hash of a
    query result, canonicalised as the repository's oracle harness
    does."""
    from oracle_harness import canon_frame

    pdf = df.toPandas()
    out = {"cols": sorted(pdf.columns), "rows": len(pdf)}
    try:
        text = "\n".join(canon_frame(pdf))
        out["sha"] = hashlib.sha256(text.encode()).hexdigest()
    except TypeError as e:
        out["error"] = str(e)
    return out


def plan_shape(df) -> dict:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return {"exchanges": len(EXCHANGE.findall(plan)), "joins": len(JOIN.findall(plan))}


def clear_memos() -> None:
    """Empty the session memos so every pass starts as cold as the
    first one."""
    import importlib

    for modname, attr in MEMOS:
        getattr(importlib.import_module(modname), attr, {}).clear()


class Pass:
    """Timing of one pass: wall time and CPU of the timed spans only,
    with the untimed checks and trace harvesting between operations
    subtracted."""

    def __init__(self, root: int):
        self.root = root
        self.cpu0 = procfs.cpu_seconds(root)
        self.t0 = time.monotonic()
        self.untimed_s = 0.0
        self.untimed_cpu = {"tree": 0.0, "python_workers": 0.0}
        self.ops: list[dict] = []

    def untimed(self, fn):
        c0, t0 = procfs.cpu_seconds(self.root), time.monotonic()
        try:
            return fn()
        finally:
            c1 = procfs.cpu_seconds(self.root)
            self.untimed_s += time.monotonic() - t0
            for k in c1:
                self.untimed_cpu[k] += c1[k] - c0[k]

    def finish(self) -> dict:
        c1 = procfs.cpu_seconds(self.root)
        return {
            "makespan_s": time.monotonic() - self.t0 - self.untimed_s,
            "cpu_s": c1["tree"] - self.cpu0["tree"] - self.untimed_cpu["tree"],
            "python_workers_cpu_s": c1["python_workers"]
            - self.cpu0["python_workers"]
            - self.untimed_cpu["python_workers"],
            "ops": self.ops,
        }


def hygiene(spark, tracer, traced: bool) -> dict:
    from zoom_spark.session import release_storage

    t0 = time.monotonic()
    with tracer.span("session.release_storage"):
        rdds = spark.sparkContext._jsc.sc().getPersistentRDDs().size() if traced else 0
        release_storage(spark)
    return {"hygiene_s": time.monotonic() - t0, "rdds": rdds}


def query_pass(spark, qs, data_dir, tracer, traced, capture, root, results):
    clear_memos()
    p = Pass(root)
    for name in ITERATIVE_HEAVY:
        op = {"name": name}
        df = None
        t0 = time.monotonic()
        try:
            with tracer.span(f"op:{name}"):
                t_a = time.monotonic()
                with tracer.span("queries.build"):
                    df = qs[name](spark, data_dir)
                t_b = time.monotonic()
                with tracer.span("spark.execute"):
                    df.write.format("noop").mode("overwrite").save()
            t_c = time.monotonic()
            op.update(latency_s=t_c - t0, build_s=t_b - t_a, execute_s=t_c - t_b)
        except Exception:  # noqa: BLE001 — one failing query must not end the run
            op.update(latency_s=time.monotonic() - t0, error=traceback.format_exc()[-2000:])
        if traced:
            p.untimed(lambda: harvest(tracer, op, df))
        if capture and df is not None and name not in results and "error" not in op:
            t_check = time.monotonic()
            results[name] = p.untimed(lambda: _in_group(spark, lambda: result_digest(df)))
            op["check_s"] = time.monotonic() - t_check
        del df
        op.update(hygiene(spark, tracer, traced))
        p.ops.append(op)
    return p.finish()


def connector_pass(spark, data_dir, sink_dir, tracer, traced, root, results):
    from zoom_spark.app import Connector

    conn = Connector(spark, data_dir, sink_dir)
    p = Pass(root)
    for night in range(NIGHTS):
        for stage in CONNECTOR_STAGES:
            op = {"name": stage, "night": night}
            t0 = time.monotonic()
            try:
                with tracer.span(f"app.{stage}"):
                    op["count"] = getattr(conn, stage)()
                op["latency_s"] = time.monotonic() - t0
            except Exception:  # noqa: BLE001
                op.update(latency_s=time.monotonic() - t0, error=traceback.format_exc()[-2000:])
            if traced:
                p.untimed(lambda: harvest(tracer, op, None))
            op.update(hygiene(spark, tracer, traced))
            p.ops.append(op)
    results.setdefault("sink", sink_dir)
    results.setdefault("counts", [[o["name"], o["night"], o.get("count")] for o in p.ops])
    return p.finish()


def _in_group(spark, fn):
    sc = spark.sparkContext
    sc.setJobGroup("perfbench-check", "output check")
    try:
        return fn()
    finally:
        sc._jsc.clearJobGroup()


def harvest(tracer, op, df) -> None:
    """Read the stage metrics of the operation's spans and, for a
    query, the shape of its final plan."""
    spans = [s for s in tracer.spans if "jobs" not in s and s["end"] is not None]
    tracer.stage_metrics(spans)
    if df is not None:
        op["plan"] = _in_group(df.sparkSession, lambda: plan_shape(df))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--data", required=True)
    ap.add_argument("--sinks", required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--capture", type=int, default=1)
    ap.add_argument("--spawned", type=float, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    traced = bool(args.trace)

    t0 = time.monotonic()
    from zoom_spark import session

    spark = session.get_spark("perfbench")
    t1 = time.monotonic()
    import __spark_entry__

    qs = __spark_entry__.queries()
    t2 = time.monotonic()
    if args.workload != "connector_nightly":
        # The connector's pass starts cold, as the nightly job does;
        # its first night pays what the warm-ups would.
        warm_up(spark, args.data)
    t3 = time.monotonic()
    import bench

    ambient_before = bench._ambient_load()
    tracer = Tracer(spark.sparkContext) if traced else NullTracer()
    patched = tracer.install() if traced else 0
    ready = time.monotonic()

    root = os.getpid()
    results: dict = {}
    passes = []
    while not passes or time.monotonic() - ready < args.seconds:
        if args.workload == "connector_nightly":
            sink = os.path.join(args.sinks, f"pass{len(passes)}")
            passes.append(connector_pass(spark, args.data, sink, tracer, traced, root, results))
            if len(passes) > 1:
                shutil.rmtree(sink, ignore_errors=True)
        else:
            passes.append(
                query_pass(spark, qs, args.data, tracer, traced, args.capture, root, results)
            )
    jvm = procfs.jvm_pid(root)
    rss = procfs.peak_rss_mb(root) + (procfs.peak_rss_mb(jvm) if jvm else 0.0)
    record = {
        "setup": {
            "setup_s": ready - args.spawned,
            "get_spark_s": t1 - t0,
            "registry_s": t2 - t1,
            "warmup_s": t3 - t2,
        },
        "passes": passes,
        "peak_rss_mb": rss,
        "results": results,
        "ambient": {"before": ambient_before, "after": bench._ambient_load()},
    }
    if traced:
        record["spans"] = tracer.spans
        record["memo"] = dict(zip(("hits", "lookups"), tracer.memo_counts()))
        record["patched_bindings"] = patched
    with open(args.out, "w") as f:
        json.dump(record, f)
    spark.stop()


if __name__ == "__main__":
    main()
