"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root.  The run generates its inputs from the
seed under ``.perfbench/`` in the current directory, starts a fresh
measured process (``perfbench/worker.py``) on them, checks the
program's outputs once that process has exited, and prints
``{"correct", "attempted", "failed", "metrics"}`` as the last line of
standard output: end-to-end metrics with ``--trace 0``, per-layer
metrics with ``--trace 1``.  The traced run compares its makespan with
the untraced runs recorded in this directory, or runs an untraced
reference itself when there are none.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.getcwd()
sys.path[:0] = [ROOT, os.path.join(ROOT, "tests")]

STATE = os.path.join(ROOT, ".perfbench")
DEADLINE_S = 170


def declared_metrics(trace: int) -> dict[str, str]:
    """Metric name -> unit, as BENCHMARK.json declares them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def require_program() -> None:
    """Fail before any work when the program is not in this directory."""
    for path in ("zoom_spark/__init__.py", "__spark_entry__.py", "bench.py",
                 "tests/oracle_harness.py", "scripts/scale_smoke.py"):
        if not os.path.isfile(os.path.join(ROOT, path)):
            sys.exit(f"perfbench: {path} not found; run from the repository root")


def _kill_group(proc: subprocess.Popen) -> None:
    """Stop every process of the worker's session and wait for them."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()
    for _ in range(100):
        try:
            os.killpg(proc.pid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.1)


def run_worker(args, run_dir: str, data: str, trace: int, capture: int, deadline: float) -> dict:
    tag = f"trace{trace}"
    out = os.path.join(run_dir, f"{tag}.json")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cpus = str(len(os.sched_getaffinity(0)))
    env = dict(
        os.environ,
        PYTHONPATH=os.pathsep.join([ROOT, os.path.join(ROOT, "tests")]),
        SPARK_GRAFT_CPUS=cpus,
        SPARK_LOCAL_DIRS=tmp,
        TMPDIR=tmp,
        # -UsePerfData: the JVM's perf counters file would go to /tmp
        PYSPARK_SUBMIT_ARGS=" ".join([
            "--driver-java-options",
            shlex.quote(f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"),
            "pyspark-shell",
        ]),
    )
    env.pop("OMP_NUM_THREADS", None)
    cmd = [
        sys.executable, "-m", "perfbench.worker",
        "--workload", args.workload, "--data", data,
        "--sinks", os.path.join(run_dir, f"sink-{tag}"),
        "--seconds", str(args.seconds), "--trace", str(trace),
        "--capture", str(capture), "--out", out,
        "--spawned", repr(time.monotonic()),
    ]
    with open(os.path.join(run_dir, f"{tag}.log"), "w") as log:
        proc = subprocess.Popen(
            cmd, cwd=run_dir, env=env, stdout=log, stderr=subprocess.STDOUT,
            start_new_session=True,
        )
        try:
            proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            pass
        finally:
            _kill_group(proc)
    if proc.returncode != 0 or not os.path.exists(out):
        with open(os.path.join(run_dir, f"{tag}.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        sys.exit(f"perfbench: measured process failed (exit {proc.returncode})")
    with open(out) as f:
        return json.load(f)


def sink_stats(sink: str | None, manifest: dict) -> dict:
    files = size = 0
    for dirpath, _, names in os.walk(sink or os.devnull):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(dirpath, n))
    source = sum(t["bytes"] for t in manifest.values())
    return {"files": files, "bytes_per_source_byte": size / source}


def history(workload: str) -> str:
    return os.path.join(STATE, f"untraced-{workload}.jsonl")


def record_makespan(workload: str, seed: int, makespan_s: float) -> None:
    with open(history(workload), "a") as f:
        f.write(json.dumps({"seed": seed, "makespan_s": makespan_s}) + "\n")


def recorded_makespan(workload: str) -> float | None:
    from perfbench.stats import median

    try:
        with open(history(workload)) as f:
            values = [json.loads(line)["makespan_s"] for line in f if line.strip()]
    except OSError:
        return None
    return median(values) if values else None


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    require_program()
    units = declared_metrics(args.trace)

    from perfbench import check, gen, report
    from perfbench.workloads import ITERATIVE_HEAVY, WORKLOADS

    if args.workload not in WORKLOADS:
        sys.exit(f"perfbench: unknown workload {args.workload!r}; choose from {WORKLOADS}")
    start = time.monotonic()
    deadline = start + DEADLINE_S
    run_dir = os.path.join(STATE, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        data = os.path.join(run_dir, "data")
        manifest = gen.generate(args.workload, args.seed, data, gen.source_dir(ROOT))
        # flush the new files now, so their write-back does not overlap
        # the timed spans
        os.sync()
        if args.trace:
            base = recorded_makespan(args.workload)
            if base is None:
                ref = run_worker(args, run_dir, data, 0, 0, deadline)
                base = report.end_to_end(ref)["makespan_s"]
                record_makespan(args.workload, args.seed, base)
        record = run_worker(args, run_dir, data, args.trace, 1, deadline)

        if args.workload == "connector_nightly":
            bad = check.check_connector(data, record["results"])
        else:
            bad = check.check_queries(
                data, record["results"], ITERATIVE_HEAVY, os.path.join(STATE, "oracle")
            )
        ops = [op for p in record["passes"] for op in p["ops"]]
        failed = [op for op in ops if "error" in op or op["name"] in bad]

        if args.trace:
            metrics = report.per_layer(record, base, sink_stats(record["results"].get("sink"), manifest))
        else:
            metrics = report.end_to_end(record)
            record_makespan(args.workload, args.seed, metrics["makespan_s"])
        detail = {
            "workload": args.workload,
            "seed": args.seed,
            "trace": args.trace,
            "inputs": manifest,
            "setup": record["setup"],
            "peak_rss_mb": record["peak_rss_mb"],
            "latency": report.latency_detail(record),
            "passes": [{k: v for k, v in p.items() if k != "ops"} for p in record["passes"]],
            "ops": ops,
            "mismatches": bad,
            "ambient": record["ambient"],
            "wall_s": time.monotonic() - start,
        }
        if args.trace:
            detail["accounting"] = report.accounting(record)
            detail["base_makespan_s"] = base
            with open(os.path.join(STATE, f"spans-{args.workload}-seed{args.seed}.json"), "w") as f:
                json.dump(record["spans"], f)
        with open(os.path.join(STATE, f"detail-{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as f:
            json.dump(detail, f, indent=1)
        for name, reason in bad.items():
            print(f"perfbench: {name} failed its output check: {reason[:500]}", file=sys.stderr)
        for op in ops:
            if "error" in op:
                print(f"perfbench: {op['name']} raised:\n{op['error']}", file=sys.stderr)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({
        "correct": not failed,
        "attempted": len(ops),
        "failed": len(failed),
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }))


if __name__ == "__main__":
    main()
