"""Spans, import-site wrappers and per-operation Spark counters.

The package is never edited: spans are recorded around calls into its
public functions, either by the workload code itself or by swapping a
function for a recording wrapper at every module that imported it by
name (``api`` and ``operators.fknn`` import ``knn_join_blas``,
``queries.llm`` imports ``connected_components``).
"""

from __future__ import annotations

import contextlib
import json
import sys
import time


class Tracer:
    """Keeps spans in memory: name, start, end, parent span, operation
    id, plus any counters the caller attaches to the span record."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op: str | None = None

    @contextlib.contextmanager
    def span(self, name: str):
        rec = {
            "id": len(self.spans),
            "name": name,
            "op": self.op,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def with_self_times(self) -> list[dict]:
        """Each span's duration minus the part its children cover
        (children never overlap: the harness is single-threaded)."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out = []
        for s, c in zip(self.spans, child):
            dur = s["end"] - s["start"]
            out.append({**s, "dur_s": dur, "self_s": dur - c})
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.with_self_times():
                f.write(json.dumps(s) + "\n")


class NullTracer:
    """Stand-in for plain operations: same interface, records nothing."""

    op = None

    @contextlib.contextmanager
    def span(self, name: str):
        yield {}


PACKAGE = "big_data_fknn_spark"


@contextlib.contextmanager
def wrapped(original, wrapper):
    """Replace ``original`` by ``wrapper`` in every loaded module of the
    package that holds it under some name; restore on exit."""
    patched = []
    for mod_name, mod in list(sys.modules.items()):
        if mod is None or not (mod_name == PACKAGE or mod_name.startswith(PACKAGE + ".")):
            continue
        for attr, val in list(vars(mod).items()):
            if val is original:
                setattr(mod, attr, wrapper)
                patched.append((mod, attr))
    try:
        yield patched
    finally:
        for mod, attr in patched:
            setattr(mod, attr, original)


@contextlib.contextmanager
def layer_wrappers(tracer: Tracer):
    """Install recording wrappers around the package's inner layers.

    Inside the wrappers each lazily built result is materialized with
    an eager ``localCheckpoint`` so its execution is timed in its own
    span; the caller then consumes the checkpoint.  This extra
    materialization is part of the reported tracing overhead.
    """
    from big_data_fknn_spark.operators import fknn, graph, knn

    real_knn = knn.knn_join_blas
    real_memb = fknn.keller_memberships
    real_cls = fknn.fknn_classify
    real_cc = graph.connected_components

    def knn_join_blas(*a, **kw):
        with tracer.span("operators.knn.construct") as rec:
            out = real_knn(*a, **kw)
        rec["chunks"] = knn._last_num_chunks
        rec["peak_buffer_rows"] = knn._last_peak_buffer_rows
        rec["fallback"] = int(bool(knn._last_fallback))
        with tracer.span("operators.knn.exec"):
            return out.localCheckpoint(eager=True)

    def keller_memberships(*a, **kw):
        with tracer.span("operators.fknn.memberships") as rec:
            out = real_memb(*a, **kw).localCheckpoint(eager=True)
            rec["membership_rows"] = out.count()
        return out

    def fknn_classify(*a, **kw):
        with tracer.span("operators.fknn.classify"):
            return real_cls(*a, **kw).localCheckpoint(eager=True)

    def connected_components(*a, **kw):
        with tracer.span("operators.graph.cc") as rec:
            out = real_cc(*a, **kw)
        rec["rounds"] = graph.LAST_RUN_ROUNDS
        return out

    with contextlib.ExitStack() as stack:
        stack.enter_context(wrapped(real_knn, knn_join_blas))
        stack.enter_context(wrapped(real_memb, keller_memberships))
        stack.enter_context(wrapped(real_cls, fknn_classify))
        stack.enter_context(wrapped(real_cc, connected_components))
        yield


def job_counts(sc, group: str) -> dict:
    """Jobs, stages, tasks and failed tasks run under one job group
    (works with ``spark.ui.enabled=false``: the status store is kept)."""
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = tasks = failed = 0
    for jid in jobs:
        info = st.getJobInfo(jid)
        if info is None:
            continue
        for sid in info.stageIds:
            si = st.getStageInfo(sid)
            if si is None or si.numCompletedTasks + si.numFailedTasks == 0:
                continue  # skipped stage (its shuffle output was reused)
            stages += 1
            tasks += si.numCompletedTasks + si.numFailedTasks
            failed += si.numFailedTasks
    return {"jobs": len(jobs), "stages": stages, "tasks": tasks, "failed_tasks": failed}
