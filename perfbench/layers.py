"""Metric catalogue and the per-layer arithmetic over a traced window.

``END_TO_END`` and ``PER_LAYER`` are the single source of metric names,
units and directions; ``BENCHMARK.json`` lists the same ones (a self-test
keeps them equal).  Each ``PER_LAYER`` row also records the end-to-end
metric the layer metric should move and on which workload — later perf
changes cite metrics by these names.
"""

from __future__ import annotations

import statistics

from stats import self_times
from workloads import LLM_PIPELINE

END_TO_END = (
    ("setup_s", "s", "lower"),
    ("ops_per_s", "1/s", "higher"),
    ("op_geomean_s", "s", "lower"),
)

#: (name, unit, better, moves end-to-end metric, on workloads)
PER_LAYER = (
    ("session.start_s", "s", "lower", "setup_s", "all"),
    ("readers.read_any_s", "s", "lower", "open_p50_s", "viewer"),
    ("readers.input_mb", "MB", "lower", "base of viewer rates", "viewer"),
    ("container.load_s", "s", "lower", "open_p50_s", "viewer"),
    ("container.cache_fill_s", "s", "lower", "open_p50_s", "viewer"),
    ("container.requery_s", "s", "lower", "requery_p50_s", "viewer"),
    ("container.cache_hit_ratio", "ratio", "higher", "requery_p50_s", "viewer"),
    ("dialect.rewrite_s", "s", "lower", "requery_p50_s", "viewer"),
    ("dialect.calls_per_op", "calls/op", "lower", "requery_p50_s", "viewer (~0 on the catalog workloads)"),
    ("transforms.pipeline_s", "s", "lower", "open_p50_s, requery_p50_s", "viewer"),
    ("sort.apply_s", "s", "lower", "sort_p50_s", "viewer"),
    ("sort.page_s", "s", "lower", "sort_p50_s", "viewer"),
    ("writers.save_s", "s", "lower", "save_p50_s", "viewer"),
    ("writers.bytes_out_per_byte_in", "ratio", "lower", "save_p50_s", "viewer"),
    ("catalog.build_s", "s", "lower", "op_geomean_s, ops_per_s", "llm_pipeline"),
    ("catalog.action_s", "s", "lower", "op_geomean_s, ops_per_s", "llm_pipeline"),
    *(
        (f"catalog.{e}.p50_s", "s", "lower", "ops_per_s, op_geomean_s", "llm_pipeline")
        for e in LLM_PIPELINE
    ),
    ("exec.jobs_per_op", "jobs/op", "lower", "op_geomean_s (job-barrier floor), ops_per_s",
     "llm_pipeline"),
    ("exec.stages_per_op", "stages/op", "lower", "op_geomean_s", "llm_pipeline"),
    ("exec.tasks_per_op", "tasks/op", "lower", "op_geomean_s", "llm_pipeline"),
    ("exec.failed_tasks", "count", "lower", "ops_per_s", "all"),
    ("index.build_s", "s", "lower", "ops_per_s", "llm_pipeline (none on viewer)"),
    ("index.append_s", "s", "lower", "ops_per_s", "llm_pipeline"),
    ("index.query_s", "s", "lower", "ops_per_s", "llm_pipeline"),
    ("index.bytes_on_disk", "bytes", "lower", "ops_per_s", "llm_pipeline"),
    ("index.files", "count", "lower", "ops_per_s", "llm_pipeline"),
    ("stream.triggers_per_op", "triggers/op", "lower", "ops_per_s", "llm_pipeline (e_streaming_containment)"),
    ("stream.add_batch_s", "s", "lower", "ops_per_s", "llm_pipeline (e_streaming_containment)"),
    ("stream.planning_s", "s", "lower", "ops_per_s", "llm_pipeline (e_streaming_containment)"),
    ("stream.wal_commit_s", "s", "lower", "ops_per_s", "llm_pipeline (e_streaming_containment)"),
    ("stream.trigger_overhead_s", "s", "lower", "ops_per_s", "llm_pipeline (e_streaming_containment)"),
    ("process.peak_rss_mb", "MB", "lower", "setup_s (work moved into memory)", "all"),
    ("trace.overhead_ratio", "ratio", "higher", "keeps tracing honest", "all"),
    ("trace.unattributed_share", "ratio", "lower", "share of op time outside every layer span",
     "all"),
)

UNITS = {n: u for n, u, *_ in END_TO_END} | {n: u for n, u, *_ in PER_LAYER}


def _median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def _dur(s: dict) -> float:
    return s["end"] - s["start"]


def op_trees(spans: list[dict]) -> dict[int, list[dict]]:
    """``{op root span id: [root and its descendants]}``."""
    kids: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append(s)
    out = {}
    for root in (s for s in spans if s["name"] == "op"):
        tree, todo = [], [root]
        while todo:
            s = todo.pop()
            tree.append(s)
            todo.extend(kids.get(s["id"], ()))
        out[root["id"]] = tree
    return out


def self_sum_gaps(spans: list[dict]) -> list[float]:
    """Per op: |sum of self times over the op's span tree - op wall time|
    as a share of the wall time (0 when spans nest cleanly)."""
    own = self_times(spans)
    gaps = []
    for root_id, tree in op_trees(spans).items():
        root = tree[0]
        wall = _dur(root)
        gaps.append(abs(sum(own[s["id"]] for s in tree) - wall) / wall if wall > 0 else 0.0)
    return gaps


def save_s_by_format(spans: list[dict]) -> dict[str, float]:
    """Median ``save_as`` time per written format (one save per viewer
    session, so a traced window holds only the formats its sessions drew)."""
    by: dict[str, list[float]] = {}
    for s in spans:
        if s["name"] == "writers.save_as" and "format" in s:
            by.setdefault(s["format"], []).append(_dur(s))
    return {f: statistics.median(v) for f, v in sorted(by.items())}


def compute(spans, records, untraced_ops_per_s, traced_ops_per_s, exec_counts, progress,
            session_start_s, input_bytes) -> dict:
    """Every ``PER_LAYER`` metric (0 where the workload never calls the
    layer) from one traced window."""
    by_id = {s["id"]: s for s in spans}
    kids: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append(s)

    def named(name):
        return [s for s in spans if s["name"] == name]

    def med(name):
        return _median(_dur(s) for s in named(name))

    def child(s, name):
        return [c for c in kids.get(s["id"], ()) if c["name"] == name]

    n_ops = max(len(records), 1)
    m: dict[str, float] = {"session.start_s": session_start_s}

    m["readers.read_any_s"] = med("readers.read_any")
    m["readers.input_mb"] = input_bytes / 1e6
    loads = [s for s in named("container.load_data") if child(s, "readers.read_any")]
    m["container.load_s"] = _median(_dur(s) for s in loads)
    m["container.cache_fill_s"] = _median(
        _dur(s)
        - sum(_dur(c) for c in child(s, "readers.read_any"))
        - sum(_dur(c) for c in child(s, "transforms.apply_pipeline"))
        for s in loads
    )
    requeries = named("container.requery")
    m["container.requery_s"] = _median(_dur(s) for s in requeries)
    hits = sum(
        1
        for s in requeries
        if not any(child(ld, "readers.read_any") for ld in child(s, "container.load_data"))
    )
    m["container.cache_hit_ratio"] = hits / len(requeries) if requeries else 0.0

    m["dialect.rewrite_s"] = med("dialect.rewrite_query")
    m["dialect.calls_per_op"] = len(named("dialect.rewrite_query")) / n_ops
    m["transforms.pipeline_s"] = med("transforms.apply_pipeline")

    m["sort.apply_s"] = med("sort.apply_sort")
    root_kind = {s["id"]: s.get("kind") for s in named("op")}

    def root_of(s):
        while s["parent"] is not None:
            s = by_id[s["parent"]]
        return s["id"]

    m["sort.page_s"] = _median(
        _dur(s) for s in named("display.format_page") if root_kind.get(root_of(s)) == "sort"
    )

    saves = named("writers.save_as")
    m["writers.save_s"] = _median(_dur(s) for s in saves)
    m["writers.bytes_out_per_byte_in"] = (
        _median(s["bytes_out"] / input_bytes for s in saves if "bytes_out" in s)
        if input_bytes
        else 0.0
    )

    m["catalog.build_s"] = med("catalog.build")
    m["catalog.action_s"] = med("catalog.action")
    for e in LLM_PIPELINE:
        m[f"catalog.{e}.p50_s"] = _median(
            r["latency"] for r in records if r["name"] == e and "error" not in r
        )

    counts = [exec_counts.get(r["id"], {}) for r in records]
    m["exec.jobs_per_op"] = sum(c.get("jobs", 0) for c in counts) / n_ops
    m["exec.stages_per_op"] = sum(c.get("stages", 0) for c in counts) / n_ops
    m["exec.tasks_per_op"] = sum(c.get("tasks", 0) for c in counts) / n_ops
    m["exec.failed_tasks"] = float(sum(c.get("failed_tasks", 0) for c in counts))

    m["index.build_s"] = med("index.build")
    m["index.append_s"] = med("index.append")
    m["index.query_s"] = med("index.query")
    written = [s for s in spans if s["name"] in ("index.build", "index.append") and "index_bytes" in s]
    m["index.bytes_on_disk"] = _median(s["index_bytes"] for s in written)
    m["index.files"] = _median(s["index_files"] for s in written)

    per_op: dict[int, list[dict]] = {}
    for op, d in progress:
        if op is not None:
            per_op.setdefault(op, []).append(d)
    stream_ops = [per_op[r["id"]] for r in records if r["id"] in per_op]
    m["stream.triggers_per_op"] = sum(len(p) for p in stream_ops) / n_ops

    def phase(key, p):
        return sum(d.get(key, 0) for d in p) / 1000.0

    m["stream.add_batch_s"] = _median(phase("addBatch", p) for p in stream_ops)
    m["stream.planning_s"] = _median(phase("queryPlanning", p) for p in stream_ops)
    m["stream.wal_commit_s"] = _median(phase("walCommit", p) for p in stream_ops)
    m["stream.trigger_overhead_s"] = _median(
        phase("triggerExecution", p) - phase("addBatch", p) for p in stream_ops
    )

    m["process.peak_rss_mb"] = 0.0  # filled in by the caller after the run
    m["trace.overhead_ratio"] = (
        traced_ops_per_s / untraced_ops_per_s if untraced_ops_per_s else 0.0
    )
    own = self_times(spans)
    m["trace.unattributed_share"] = _median(
        own[s["id"]] / _dur(s) for s in named("op") if _dur(s) > 0
    )
    return m

