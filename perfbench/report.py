"""Turn a worker record into the benchmark's metrics."""

from __future__ import annotations

from perfbench.stats import median, self_times, tail_percentile, union_length
from perfbench.workloads import CONNECTOR_STAGES

# Per-layer span groups: metric prefix -> span-name prefix.
LAYER_SPANS = {
    "operators.graph": "operators.graph.",
    "operators.prefix": "operators.prefix.",
    "operators.als": "operators.als.",
    "operators.incremental": "operators.incremental.",
    "similarity.kmeans": "similarity.kmeans.",
    "dedup.minhash": "dedup.minhash.",
    "dedup.components": "dedup.components.",
}
SPARK_SUMS = (
    "tasks", "failed_tasks", "run_s", "cpu_s", "gc_s", "shuffle_read_mb",
    "shuffle_write_mb", "input_mb", "spill_mb",
)
SPARK_NAMES = {
    "run_s": "executor_run_s", "cpu_s": "executor_cpu_s", "gc_s": "jvm_gc_s",
}


def end_to_end(record: dict) -> dict:
    passes = record["passes"]
    latencies = [op["latency_s"] for p in passes for op in p["ops"]]
    return {
        "setup_s": record["setup"]["setup_s"],
        "makespan_s": median([p["makespan_s"] for p in passes]),
        "query_p50_s": median(latencies),
        "cpu_s": median([p["cpu_s"] for p in passes]),
    }


def latency_detail(record: dict) -> dict:
    """Sample count and the tail percentile when the sample-count rule
    allows it."""
    latencies = [op["latency_s"] for p in record["passes"] for op in p["ops"]]
    return {"samples": len(latencies), "query_p90_s": tail_percentile(latencies, 90)}


def _subtree(spans: list[dict], root_id: int) -> list[dict]:
    kids: dict = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out, frontier = [], [root_id]
    by_id = {s["id"]: s for s in spans}
    while frontier:
        sid = frontier.pop()
        out.append(by_id[sid])
        frontier.extend(k["id"] for k in kids.get(sid, []))
    return out


def per_layer(record: dict, untraced_makespan_s: float, sink: dict) -> dict:
    """Per-layer metrics of a traced run, each per pass."""
    n = len(record["passes"])
    spans = [s for s in record["spans"] if s["end"] is not None]
    self_s = self_times(spans)
    ops = [op for p in record["passes"] for op in p["ops"]]
    m: dict[str, float] = {}

    def total(prefix: str, key=lambda s: self_s[s["id"]]) -> float:
        return sum(key(s) for s in spans if s["name"].startswith(prefix))

    m["peak_rss_mb"] = record["peak_rss_mb"]
    m["session.get_spark_s"] = record["setup"]["get_spark_s"]
    m["session.warmup_s"] = record["setup"]["warmup_s"]
    m["session.release_storage_s"] = sum(op["hygiene_s"] for op in ops) / n
    m["session.release_storage.rdds"] = sum(op["rdds"] for op in ops) / n

    builds = [s for s in spans if s["name"] == "queries.build"]
    build_tree = [t for b in builds for t in _subtree(spans, b["id"])]
    m["queries.build_s"] = sum(self_s[b["id"]] for b in builds) / n
    m["queries.build_jobs"] = sum(t.get("jobs", 0) for t in build_tree) / n
    m["queries.build_stages"] = sum(len(t.get("stages", [])) for t in build_tree) / n
    m["queries.plan_exchanges"] = sum(op.get("plan", {}).get("exchanges", 0) for op in ops) / n
    m["queries.plan_joins"] = sum(op.get("plan", {}).get("joins", 0) for op in ops) / n

    op_spans = [s for s in spans if s["parent"] is None and s["name"] != "session.release_storage"]
    stages = [st for s in spans if s["name"] != "session.release_storage" for st in s.get("stages", [])]
    m["spark.execute_s"] = total("spark.execute", lambda s: s["end"] - s["start"]) / n
    m["spark.jobs"] = sum(s.get("jobs", 0) for s in spans if s["name"] != "session.release_storage") / n
    m["spark.stages"] = len(stages) / n
    for key in SPARK_SUMS:
        m[f"spark.{SPARK_NAMES.get(key, key)}"] = sum(st[key] for st in stages) / n
    idle = 0.0
    for top in op_spans:
        busy = [
            (max(st["submit"], top["start"]), min(st["complete"], top["end"]))
            for t in _subtree(spans, top["id"])
            for st in t.get("stages", [])
            if st["submit"] is not None and st["complete"] is not None
        ]
        idle += (top["end"] - top["start"]) - union_length([b for b in busy if b[1] > b[0]])
    m["spark.idle_s"] = idle / n

    for metric, prefix in LAYER_SPANS.items():
        m[f"{metric}.s"] = total(prefix) / n
        m[f"{metric}.jobs"] = total(prefix, lambda s: s.get("jobs", 0)) / n
    m["operators.graph.calls"] = total("operators.graph.", lambda s: 1) / n
    m["similarity.memo_hits"] = record["memo"]["hits"] / n
    m["similarity.memo_lookups"] = record["memo"]["lookups"] / n
    m["python_workers.cpu_s"] = median([p["python_workers_cpu_s"] for p in record["passes"]])

    m["io.load_table.s"] = total("io.load_table") / n
    m["io.load_table.calls"] = total("io.load_table", lambda s: 1) / n
    m["io.write_s"] = total("io.write") / n
    m["io.sink_files"] = sink["files"]
    m["io.sink_bytes_per_source_byte"] = sink["bytes_per_source_byte"]
    for stage in CONNECTOR_STAGES:
        m[f"app.{stage}_s"] = sum(op["latency_s"] for op in ops if op["name"] == stage) / n
    m["sources.post_rows_s"] = total("sources.post_rows") / n

    traced = median([p["makespan_s"] for p in record["passes"]])
    m["trace.overhead_frac"] = traced / untraced_makespan_s - 1
    return m


def accounting(record: dict) -> dict:
    """How the traced makespan splits: build (with the layer spans it
    contains), execute, hygiene, and what no span covers."""
    n = len(record["passes"])
    ops = [op for p in record["passes"] for op in p["ops"]]
    build = sum(op.get("build_s", 0) for op in ops) / n
    execute = sum(op.get("execute_s", 0) for op in ops) / n
    hygiene = sum(op["hygiene_s"] for op in ops) / n
    makespan = median([p["makespan_s"] for p in record["passes"]])
    return {
        "makespan_s": makespan,
        "build_s": build,
        "execute_s": execute,
        "hygiene_s": hygiene,
        "unaccounted_s": makespan - build - execute - hygiene,
    }
