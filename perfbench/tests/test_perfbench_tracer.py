"""Tracer mechanics without Spark: span nesting and job-group
restore, binding patching, pickling of wrapped functions, memo
counting."""

import pickle
import sys
import types

from perfbench import tracer as T


class FakeJsc:
    def __init__(self, log):
        self.log = log

    def clearJobGroup(self):
        self.log.append(None)


class FakeSc:
    def __init__(self):
        self.groups = []
        self._jsc = FakeJsc(self.groups)

    def setJobGroup(self, gid, desc):
        self.groups.append(gid)


def test_spans_nest_and_restore_the_job_group():
    sc = FakeSc()
    tr = T.Tracer(sc)
    with tr.span("outer") as outer:
        with tr.span("inner") as inner:
            pass
    assert inner["parent"] == outer["id"] and outer["parent"] is None
    assert outer["start"] <= inner["start"] <= inner["end"] <= outer["end"]
    assert sc.groups == [outer["group"], inner["group"], outer["group"], None]


def layer_fn(x):
    return x + 1


def test_install_patches_every_binding(monkeypatch):
    layer = types.ModuleType("zoom_spark.fake_layer")
    layer.layer_fn = layer_fn
    layer._private = layer_fn
    monkeypatch.setattr(layer_fn, "__module__", "zoom_spark.fake_layer")
    user = types.ModuleType("zoom_spark.fake_user")
    user.imported = layer_fn
    for m in (layer, user):
        monkeypatch.setitem(sys.modules, m.__name__, m)
    monkeypatch.setattr(T, "LAYERS", {"fake": "zoom_spark.fake_layer"})
    memo_mod = types.ModuleType("zoom_spark.fake_memo")
    memo_mod.CACHE = {"k": 1}
    monkeypatch.setitem(sys.modules, memo_mod.__name__, memo_mod)
    monkeypatch.setattr(T, "MEMOS", (("zoom_spark.fake_memo", "CACHE"),))

    tr = T.Tracer(FakeSc())
    # the public name in the layer and the by-name import elsewhere;
    # the private alias names the same object and is patched too
    assert tr.install() == 3
    assert isinstance(user.imported, T._Traced)
    assert user.imported(1) == 2
    assert [s["name"] for s in tr.spans] == ["fake.layer_fn"]

    memo_mod.CACHE.get("k")
    memo_mod.CACHE.get("missing")
    assert tr.memo_counts() == (1, 2)


def test_wrapped_function_pickles_as_the_bare_function():
    wrapped = T._Traced(layer_fn, "x", T.Tracer(FakeSc()))
    assert pickle.loads(pickle.dumps(wrapped)) is layer_fn
