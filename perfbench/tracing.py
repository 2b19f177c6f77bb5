"""Tracing for the traced run: spans around the public calls into each
layer of ``polars_view_spark``, Spark job/stage/task counts per operation,
streaming trigger phases, and process memory.

Everything is wrapped from here; the program's source is untouched.  A
layer function is replaced at its defining module *and* at every module
that imported it by name (``from x import f`` binds a second reference),
then restored when the traced window ends.  Spans live in memory and are
written out once at the end of the run.
"""

from __future__ import annotations

import functools
import json
import os
import sys
import threading
import time

#: (span name, defining module, function) — the layer boundaries timed
LAYER_CALLS = (
    ("readers.read_any", "polars_view_spark.sources.readers", "read_any"),
    ("container.load_data", "polars_view_spark.container", "DataContainer.load_data"),
    ("container.requery", "polars_view_spark.container", "DataContainer.requery"),
    ("dialect.rewrite_query", "polars_view_spark.plans.dialect", "rewrite_query"),
    ("transforms.apply_pipeline", "polars_view_spark.operators.transforms", "apply_pipeline"),
    ("sort.apply_sort", "polars_view_spark.operators.sort", "apply_sort"),
    ("rowindex.add_row_index", "polars_view_spark.operators.rowindex", "add_row_index"),
    ("display.format_page", "polars_view_spark.meta.display", "format_page"),
    ("writers.save_as", "polars_view_spark.sources.writers", "save_as"),
    ("index.build", "polars_view_spark.operators.dedup", "minhash_build_index"),
    ("index.append", "polars_view_spark.operators.dedup", "minhash_append_index"),
    ("index.query", "polars_view_spark.operators.dedup", "minhash_query_index"),
)


class Tracer:
    """Span recorder.  ``span()`` nests per thread; ``op`` tags every span
    with the operation it belongs to."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.op: int | None = None
        self._local = threading.local()
        self._lock = threading.Lock()
        self._next = 0

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def span(self, name: str, **attrs):
        return _Span(self, name, attrs)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


class _Span:
    def __init__(self, tracer: Tracer, name: str, attrs: dict) -> None:
        self.t, self.name, self.attrs = tracer, name, attrs

    def __enter__(self) -> dict:
        t = self.t
        with t._lock:
            sid = t._next
            t._next += 1
        stack = t._stack()
        self.rec = {
            "id": sid,
            "name": self.name,
            "parent": stack[-1] if stack else None,
            "op": t.op,
            "start": time.perf_counter(),
            "end": None,
            **self.attrs,
        }
        stack.append(sid)
        return self.rec

    def __exit__(self, exc_type, exc, tb) -> None:
        self.rec["end"] = time.perf_counter()
        if exc_type is not None:
            self.rec["error"] = exc_type.__name__
        self.t._stack().pop()
        with self.t._lock:
            self.t.spans.append(self.rec)


def _resolve(module_name: str, qualname: str):
    obj = sys.modules[module_name]
    owner = None
    for part in qualname.split("."):
        owner, obj = obj, getattr(obj, part)
    return owner, qualname.split(".")[-1], obj


class Patches:
    """Installs span wrappers around ``LAYER_CALLS`` and removes them."""

    def __init__(self, tracer: Tracer, on_return=None) -> None:
        self.tracer = tracer
        self.on_return = on_return or {}
        self._undo: list[tuple[object, str, object]] = []

    def install(self) -> None:
        import importlib

        for span_name, mod, qual in LAYER_CALLS:
            importlib.import_module(mod)
            owner, attr, orig = _resolve(mod, qual)
            raw = owner.__dict__[attr]  # keeps classmethod wrappers intact
            func = raw.__func__ if isinstance(raw, classmethod) else raw
            wrapped = self._wrap(span_name, func)
            new = classmethod(wrapped) if isinstance(raw, classmethod) else wrapped
            self._set(owner, attr, new)
            if isinstance(owner, type):
                continue
            # second binding sites: modules that did ``from mod import f``
            for m in list(sys.modules.values()):
                name = getattr(m, "__name__", "") or ""
                if m is owner or not name.startswith("polars_view_spark"):
                    continue
                if m.__dict__.get(attr) is orig:
                    self._set(m, attr, wrapped)

    def _set(self, owner, attr: str, new) -> None:
        self._undo.append((owner, attr, owner.__dict__[attr]))
        setattr(owner, attr, new)

    def _wrap(self, span_name: str, func):
        tracer, hook = self.tracer, self.on_return.get(span_name)

        @functools.wraps(func)
        def wrapper(*args, **kwargs):
            with tracer.span(span_name) as rec:
                out = func(*args, **kwargs)
            if hook is not None:
                hook(rec, args, kwargs, out)
            return out

        return wrapper

    def remove(self) -> None:
        for owner, attr, old in reversed(self._undo):
            setattr(owner, attr, old)
        self._undo.clear()


# --- Spark execution counts ---------------------------------------------------


def exec_counts(sc, groups: dict[str, int]) -> dict[int, dict]:
    """``{op: {"jobs", "stages", "tasks", "failed_tasks"}}`` from the
    status tracker, counting stages and tasks that ran.  Jobs run under the
    op's job group; jobs an operator starts from its own threads carry no
    group and go to the latest op whose first grouped job precedes them."""
    st = sc.statusTracker()
    by_op: dict[int, list[int]] = {}
    for group, op in groups.items():
        by_op[op] = sorted(st.getJobIdsForGroup(group))
    starts = sorted((ids[0], op) for op, ids in by_op.items() if ids)
    for jid in st.getJobIdsForGroup(None):
        owner = None
        for first, op in starts:
            if first <= jid:
                owner = op
        if owner is not None:
            by_op[owner].append(jid)
    out = {}
    for op, ids in by_op.items():
        c = {"jobs": len(ids), "stages": 0, "tasks": 0, "failed_tasks": 0}
        for jid in ids:
            job = st.getJobInfo(jid)
            for sid in job.stageIds if job else ():
                stage = st.getStageInfo(sid)
                ran = stage.numCompletedTasks + stage.numFailedTasks if stage else 0
                if ran:  # a skipped stage (reused shuffle output) ran no task
                    c["stages"] += 1
                    c["tasks"] += ran
                    c["failed_tasks"] += stage.numFailedTasks
        out[op] = c
    return out


def stream_listener(spark, tracer: Tracer):
    """Register a listener that records each trigger's ``durationMs``
    phases against the op that started its query.  Returns the listener;
    ``.progress`` holds ``(op, durations)`` pairs."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Phases(StreamingQueryListener):
        def __init__(self) -> None:
            self.lock = threading.Lock()
            self.owner: dict[str, int | None] = {}
            self.progress: list[tuple[int | None, dict]] = []
            self.started = 0
            self.ended = 0

        def onQueryStarted(self, event) -> None:
            # delivered synchronously with start(), so tracer.op is current
            with self.lock:
                self.owner[str(event.runId)] = tracer.op
                self.started += 1

        def onQueryProgress(self, event) -> None:
            p = event.progress
            with self.lock:
                self.progress.append((self.owner.get(str(p.runId)), dict(p.durationMs)))

        def onQueryIdle(self, event) -> None: ...

        def onQueryTerminated(self, event) -> None:
            with self.lock:
                self.ended += 1

    listener = _Phases()
    spark.streams.addListener(listener)
    return listener


# --- process memory -------------------------------------------------------------


def _hwm_kb(pid: int | str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(jvm_pid: int | None) -> float:
    """High-water resident memory of this process plus the JVM child."""
    kb = _hwm_kb("self") + (_hwm_kb(jvm_pid) if jvm_pid else 0)
    return kb / 1024.0


def dir_stats(path: str) -> tuple[int, int]:
    """``(bytes, files)`` under ``path``."""
    size = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            try:
                size += os.path.getsize(os.path.join(root, n))
                files += 1
            except OSError:
                pass
    return size, files
