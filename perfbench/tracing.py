"""Per-layer tracing from outside the package.

``Tracer.install`` wraps the public functions and methods of each layer's
modules (and every other binding of them in the package, such as the names
``query_catalog`` imports at module top). A wrapped call records a span
(name, layer, start, end, parent, op id) and tags the Spark jobs it starts
with a job group named after the span. ``layer_counts`` then reads jobs and
stages back from the Spark status store, which runs no Spark jobs, and
charges each job to the innermost span that started it.

Spans stay in memory; ``dump`` writes them out when the run ends.
"""

from __future__ import annotations

import copy
import functools
import inspect
import json
import sys
import threading
import time
import types

PKG = "ihop_reddit_spark"

#: layer name -> module prefixes. Longer prefixes win, so
#: ``operators.graph`` is its own layer inside ``operators``.
LAYERS: dict[str, tuple[str, ...]] = {
    "session": (f"{PKG}.session",),
    "plans": (f"{PKG}.plans",),
    "datapipe.dedup": (f"{PKG}.datapipe.dedup",),
    "datapipe.curation": (f"{PKG}.datapipe.curation",),
    "operators.graph": (f"{PKG}.operators.graph",),
    "operators": (f"{PKG}.operators",),
    "ml.clustering": (f"{PKG}.ml.clustering",),
    "ml.projection": (f"{PKG}.ml.projection",),
    "app": (f"{PKG}.app",),
    "sources.manifest": (f"{PKG}.sources.manifest",),
    "sources.catalog": (f"{PKG}.sources.catalog",),
    "caching": (f"{PKG}.caching",),
}
#: ``sink`` has no module: it is the action that runs a lazy plan — the
#: benchmark's own noop write, and the explorer's row collect below.
SINK = "sink"
ALL_LAYERS = list(LAYERS) + [SINK]
#: private functions that are nevertheless a layer boundary
EXTRA = {(f"{PKG}.app", "_rows_json"): SINK}

#: per-layer counter -> unit. shuffle_bytes are bytes written by shuffle
#: map tasks; cpu_ms is executor CPU time of the layer's stages.
COUNTERS = {
    "calls": "count", "wall_ms": "ms", "self_ms": "ms", "jobs": "count",
    "tasks": "count", "cpu_ms": "ms", "shuffle_bytes": "bytes",
    "failed": "count",
}


def layer_of(module: str) -> str | None:
    best = None
    for layer, prefixes in LAYERS.items():
        for p in prefixes:
            if module == p or module.startswith(p + "."):
                if best is None or len(p) > len(best[1]):
                    best = (layer, p)
    return best[0] if best else None


class Span:
    __slots__ = ("id", "name", "layer", "start", "end", "parent", "op",
                 "thread", "failed", "child_s")

    def __init__(self, sid, name, layer, parent, op, thread):
        self.id, self.name, self.layer = sid, name, layer
        self.parent, self.op, self.thread = parent, op, thread
        self.start = time.time()
        self.end = None
        self.failed = False
        self.child_s = 0.0


class _Traced:
    """Callable stand-in for a layer function. It binds like a function
    when stored on a class, and pickles as the original, so a wrapped
    function shipped to a Python worker runs unwrapped there."""

    def __init__(self, fn, layer: str, tracer: "Tracer"):
        functools.update_wrapper(self, fn)
        self._fn, self._layer, self._tracer = fn, layer, tracer

    def __call__(self, *args, **kwargs):
        if not self._tracer.active:
            return self._fn(*args, **kwargs)
        with self._tracer.span(self.__qualname__, self._layer):
            return self._fn(*args, **kwargs)

    def __get__(self, obj, objtype=None):
        return self if obj is None else types.MethodType(self, obj)

    def __reduce__(self):
        return (copy.copy, (self._fn,))


class Tracer:
    def __init__(self):
        self.active = False
        self.spans: list[Span] = []
        self.op: str | None = None
        #: the client-side span of the op in flight; spans opened on other
        #: threads (the HTTP server's) hang under it
        self.op_span: Span | None = None
        self.sc = None
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []
        self._next = 0

    # -- spans ----------------------------------------------------------
    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def _set_group(self, span: Span | None) -> None:
        if self.sc is None:
            return
        if span is None:
            self.sc._jsc.clearJobGroup()
        else:
            self.sc.setJobGroup(f"perfbench-{span.id}", span.name)

    def span(self, name: str, layer: str):
        tracer = self

        class _Ctx:
            def __enter__(self_):
                st = tracer._stack()
                parent = st[-1] if st else tracer.op_span
                with tracer._lock:
                    tracer._next += 1
                    sp = Span(tracer._next, name, layer,
                              parent.id if parent else None, tracer.op,
                              threading.get_ident())
                    tracer.spans.append(sp)
                st.append(sp)
                self_.sp = sp
                tracer._set_group(sp)
                return sp

            def __exit__(self_, exc_type, exc, tb):
                sp = self_.sp
                sp.end = time.time()
                sp.failed = exc_type is not None
                st = tracer._stack()
                st.pop()
                if st:
                    st[-1].child_s += sp.end - sp.start
                    tracer._set_group(st[-1])
                else:
                    if tracer.op_span is not None and sp is not tracer.op_span:
                        tracer.op_span.child_s += sp.end - sp.start
                    tracer._set_group(None)
                return False

        return _Ctx()

    # -- wrapping -------------------------------------------------------
    def install(self) -> None:
        """Wrap every layer's public functions and class methods, then
        rebind the wrappers wherever the package holds the originals."""
        import importlib
        import pkgutil

        pkg = importlib.import_module(PKG)
        for info in pkgutil.walk_packages(pkg.__path__, PKG + "."):
            if layer_of(info.name) is not None:
                importlib.import_module(info.name)
        import __spark_entry__  # noqa: F401  (binds query_catalog)

        originals: dict[int, _Traced] = {}
        mods = [m for n, m in list(sys.modules.items())
                if (n == PKG or n.startswith(PKG + ".")) and m is not None]
        for mod in mods:
            layer = layer_of(mod.__name__)
            if layer is None:
                continue
            for name, obj in list(vars(mod).items()):
                key = (mod.__name__, name)
                if key in EXTRA:
                    wl = EXTRA[key]
                elif name.startswith("_"):
                    continue
                else:
                    wl = layer
                if inspect.isfunction(obj) and obj.__module__ == mod.__name__:
                    originals[id(obj)] = _Traced(obj, wl, self)
                elif inspect.isclass(obj) and obj.__module__ == mod.__name__:
                    for mname, m in list(vars(obj).items()):
                        if inspect.isfunction(m) and (
                            not mname.startswith("_") or mname == "__init__"
                        ):
                            w = _Traced(m, layer, self)
                            self._patch(obj, mname, m, w)
        for mod in mods + [sys.modules["__spark_entry__"]]:
            for name, obj in list(vars(mod).items()):
                w = originals.get(id(obj))
                if w is not None and w._fn is obj:
                    self._patch(mod, name, obj, w)
                elif isinstance(obj, dict) and name.isupper():
                    for k, v in list(obj.items()):
                        w = originals.get(id(v))
                        if w is not None and w._fn is v:
                            obj[k] = w
                            self._patched.append((obj, k, v))

    def _patch(self, owner, name, old, new) -> None:
        setattr(owner, name, new)
        self._patched.append((owner, name, old))

    def uninstall(self) -> None:
        for owner, name, old in reversed(self._patched):
            if isinstance(owner, dict):
                owner[name] = old
            else:
                setattr(owner, name, old)
        self._patched.clear()

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps({
                    "id": s.id, "name": s.name, "layer": s.layer,
                    "start": s.start, "end": s.end, "parent": s.parent,
                    "op": s.op, "failed": s.failed,
                }) + "\n")


# -- the status store ---------------------------------------------------
def _opt(o):
    s = o.toString()
    return s[5:-1] if s.startswith("Some(") else None


def _jlist(sc, seq):
    """A Scala Seq from the status store as an iterable Java list."""
    return sc._gateway.jvm.scala.jdk.javaapi.CollectionConverters.asJava(seq)


def read_jobs(sc, after_job: int) -> list[dict]:
    """Jobs with id > ``after_job``: id, group, submit time (ms), stage ids."""
    store = sc._jsc.sc().statusStore()
    out = []
    for j in _jlist(sc, store.jobsList(None)):
        jid = j.jobId()
        if jid <= after_job:
            continue
        sub = j.submissionTime()
        out.append({
            "id": jid,
            "group": _opt(j.jobGroup()),
            "submit_ms": sub.get().getTime() if sub.isDefined() else None,
            "stages": [int(x) for x in j.stageIds().mkString(",").split(",") if x],
        })
    return out


def read_stages(sc, stage_ids: set[int]) -> dict[int, dict]:
    """Executed attempts of the given stages, summed per stage id."""
    gw = sc._gateway
    store = sc._jsc.sc().statusStore()
    quantiles = gw.new_array(gw.jvm.double, 0)
    out: dict[int, dict] = {}
    for s in _jlist(sc, store.stageList(None, False, False, quantiles, None)):
        sid = s.stageId()
        if sid not in stage_ids:
            continue
        if s.status().toString() not in ("COMPLETE", "FAILED"):
            continue
        acc = out.setdefault(sid, {"tasks": 0, "cpu_ms": 0.0, "shuffle_bytes": 0})
        acc["tasks"] += s.numCompleteTasks()
        acc["cpu_ms"] += s.executorCpuTime() / 1e6
        acc["shuffle_bytes"] += s.shuffleWriteBytes()
    return out


def last_job_id(sc) -> int:
    ids = [j.jobId() for j in _jlist(sc, sc._jsc.sc().statusStore().jobsList(None))]
    return max(ids, default=-1)


def layer_counts(tracer: Tracer, spans: list[Span], after_job: int) -> dict:
    """Per-layer counters over ``spans`` (one traced pass) and the Spark
    jobs submitted after ``after_job``.

    A job is charged to the span whose job group it carries when it was
    submitted inside that span; otherwise (jobs started on threads the
    package creates itself, which do not inherit the group) to the
    innermost span open at its submission time. Each executed stage is
    charged once, to the first job that lists it."""
    # "op" holds the benchmark's own per-op spans; it is not reported
    out = {layer: dict.fromkeys(COUNTERS, 0) for layer in ALL_LAYERS + ["op"]}
    by_id = {s.id: s for s in spans}
    for s in spans:
        acc = out[s.layer]
        dur = (s.end - s.start) * 1000
        acc["calls"] += 1
        acc["self_ms"] += dur - s.child_s * 1000
        acc["failed"] += int(s.failed)
        # wall time counts only the outermost span of a layer
        p = by_id.get(s.parent)
        while p is not None and p.layer != s.layer:
            p = by_id.get(p.parent)
        if p is None:
            acc["wall_ms"] += dur
    jobs = read_jobs(tracer.sc, after_job)
    owner: dict[int, Span] = {}  # stage id -> span charged with it
    ordered = sorted(spans, key=lambda s: s.start)
    for j in sorted(jobs, key=lambda j: j["id"]):
        sp = None
        t = j["submit_ms"] / 1000 if j["submit_ms"] is not None else None
        g = j["group"]
        if g and g.startswith("perfbench-"):
            cand = by_id.get(int(g.split("-", 1)[1]))
            # a thread reused from an earlier span can carry a stale group
            if cand is not None and t is not None and cand.start - 0.05 <= t <= cand.end + 0.05:
                sp = cand
        if sp is None and t is not None:
            inner = [s for s in ordered if s.start <= t <= s.end]
            sp = inner[-1] if inner else None
        if sp is None:
            continue
        out[sp.layer]["jobs"] += 1
        for sid in j["stages"]:
            owner.setdefault(sid, sp)
    for sid, st in read_stages(tracer.sc, set(owner)).items():
        acc = out[owner[sid].layer]
        acc["tasks"] += st["tasks"]
        acc["cpu_ms"] += st["cpu_ms"]
        acc["shuffle_bytes"] += st["shuffle_bytes"]
    return out
