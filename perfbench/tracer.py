"""Outside-in tracer for the traced run.

It wraps the public functions of each ``zoom_spark`` layer by patching
every module-level binding of each function object (query modules
import by name), so the program's code is untouched.  Each span sets
its own Spark job group, so jobs and their stages attribute to the
innermost open span; the stage metrics are read from the status store
after each operation, outside its timed span.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import inspect
import itertools
import sys
import time

# Layer name -> module whose public functions are wrapped.
LAYERS = {
    "io": "zoom_spark.io",
    "operators.graph": "zoom_spark.operators.graph",
    "operators.prefix": "zoom_spark.operators.prefix",
    "operators.als": "zoom_spark.operators.als",
    "operators.incremental": "zoom_spark.operators.incremental",
    "similarity.kmeans": "zoom_spark.similarity.kmeans",
    "dedup.minhash": "zoom_spark.dedup.minhash",
    "dedup.components": "zoom_spark.dedup.components",
    "sources": "zoom_spark.sources.writeback",
}
# Session memos whose lookups and hits are counted: (module, attribute).
MEMOS = (
    ("zoom_spark.similarity.kmeans", "_LLOYD_FIT_CACHE"),
    ("zoom_spark.queries.similarity_queries", "_PQ_TRAIN_CACHE"),
)


def _identity(fn):
    return fn


class _Traced:
    """A layer function wrapped in a span.  Pickles as the bare
    function, so a wrapped helper captured in an executor-side closure
    runs untraced there."""

    def __init__(self, fn, name: str, tracer: Tracer):
        functools.update_wrapper(self, fn)
        self.fn, self.name, self.tracer = fn, name, tracer

    def __call__(self, *args, **kwargs):
        with self.tracer.span(self.name):
            return self.fn(*args, **kwargs)

    def __reduce__(self):
        return (_identity, (self.fn,))


class CountingDict(dict):
    """A memo dict that counts ``get`` lookups and hits."""

    lookups = 0
    hits = 0

    def get(self, key, default=None):
        self.lookups += 1
        if key in self:
            self.hits += 1
        return super().get(key, default)


class Tracer:
    """Spans kept in memory: ``{id, parent, name, start, end, group}``."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self.stack: list[dict] = []
        self.ids = itertools.count(1)
        self.memos: list[CountingDict] = []

    # -- spans -------------------------------------------------------
    @contextlib.contextmanager
    def span(self, name: str):
        sid = next(self.ids)
        s = {
            "id": sid,
            "parent": self.stack[-1]["id"] if self.stack else None,
            "name": name,
            "group": f"perfbench-{sid}",
            "start": time.time(),
            "end": None,
        }
        self.stack.append(s)
        self.spans.append(s)
        self.sc.setJobGroup(s["group"], name)
        try:
            yield s
        finally:
            s["end"] = time.time()
            self.stack.pop()
            if self.stack:
                top = self.stack[-1]
                self.sc.setJobGroup(top["group"], top["name"])
            else:
                self.sc._jsc.clearJobGroup()

    # -- patching ----------------------------------------------------
    def install(self) -> int:
        """Wrap every layer's public functions; return how many
        bindings were patched."""
        wrapped = {}
        for layer, modname in LAYERS.items():
            mod = importlib.import_module(modname)
            for attr, fn in vars(mod).items():
                if (
                    inspect.isfunction(fn)
                    and fn.__module__ == modname
                    and not attr.startswith("_")
                ):
                    wrapped[fn] = _Traced(fn, f"{layer}.{attr}", self)
        patched = 0
        for modname, mod in list(sys.modules.items()):
            if not (modname.startswith("zoom_spark") or modname == "__spark_entry__"):
                continue
            for attr, val in list(vars(mod).items()):
                if inspect.isfunction(val) and val in wrapped:
                    setattr(mod, attr, wrapped[val])
                    patched += 1
        for modname, attr in MEMOS:
            mod = importlib.import_module(modname)
            memo = CountingDict(getattr(mod, attr))
            setattr(mod, attr, memo)
            self.memos.append(memo)
        return patched

    def memo_counts(self) -> tuple[int, int]:
        return sum(m.hits for m in self.memos), sum(m.lookups for m in self.memos)

    # -- Spark metrics -----------------------------------------------
    def stage_metrics(self, spans: list[dict]) -> None:
        """Attach to each span the jobs and stage metrics of its job
        group (its own jobs, not its children's)."""
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        for s in spans:
            s["jobs"] = 0
            s["stages"] = []
            for jid in tracker.getJobIdsForGroup(s["group"]):
                info = tracker.getJobInfo(jid)
                if info is None:
                    continue
                s["jobs"] += 1
                for sid in info.stageIds:
                    st = store.lastStageAttempt(sid)
                    if st.status().toString() == "SKIPPED":
                        continue
                    sub, done = st.submissionTime(), st.completionTime()
                    s["stages"].append({
                        "tasks": st.numTasks(),
                        "failed_tasks": st.numFailedTasks(),
                        "run_s": st.executorRunTime() / 1e3,
                        "cpu_s": st.executorCpuTime() / 1e9,
                        "gc_s": st.jvmGcTime() / 1e3,
                        "shuffle_read_mb": st.shuffleReadBytes() / 2**20,
                        "shuffle_write_mb": st.shuffleWriteBytes() / 2**20,
                        "input_mb": st.inputBytes() / 2**20,
                        "spill_mb": (st.memoryBytesSpilled() + st.diskBytesSpilled()) / 2**20,
                        "submit": sub.get().getTime() / 1e3 if sub.isDefined() else None,
                        "complete": done.get().getTime() / 1e3 if done.isDefined() else None,
                    })


class NullTracer:
    """Stands in for the tracer in the untraced run."""

    def span(self, name: str):
        return contextlib.nullcontext()
