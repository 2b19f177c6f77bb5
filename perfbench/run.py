"""Benchmark entry point.

    python3 perfbench/run.py --workload viewer --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  One run: build (or reuse) the inputs,
set the session up three times (median reported as ``setup_s``), run the
workload as a closed loop for ``--seconds`` (whole sessions / cycles), check
every output, and print one JSON line last.  With ``--trace 1`` the
untraced window is followed by a traced one over the same operations; the
per-layer metrics come from the traced window only.  The line before the
last carries the full report (per-type latencies, error rate, input sizes,
harness time).  See perfbench/README.md for every metric.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import layers  # noqa: E402
import stats  # noqa: E402
import tracing  # noqa: E402
import workloads as wl  # noqa: E402

SCALES = {
    # viewer_rows: the viewer CSV; warm_rows: the CSV every set-up warms on
    "full": {
        "lineitem": datagen.LINEITEM_ROWS, "documents": datagen.DOCUMENTS,
        "embeddings": datagen.EMBEDDINGS, "events": datagen.EVENTS,
        "viewer_rows": 100_000, "warm_rows": 2_000,
    },
    "smoke": {
        "lineitem": 6_000, "documents": 100, "embeddings": 100, "events": 1_000,
        "viewer_rows": 3_000, "warm_rows": 500,
    },
}
SETUPS = 3


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=wl.WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=tuple(SCALES), default="full",
                   help="input size; 'smoke' is the tiny instance the self-tests run")
    return p.parse_args(argv)


def prepare_env(work: str) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    import tempfile

    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["JDK_JAVA_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count() or 4))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "3g")
    os.environ["PYSPARK_PYTHON"] = sys.executable  # Python workers (pandas kernels)


def shutdown(spark) -> None:
    """Stop the session and the JVM this process launched; wait for it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


# --- one run -------------------------------------------------------------------


class Run:
    def __init__(self, args) -> None:
        self.args = args
        self.work = os.path.join(HERE, "_work")
        self.scale = SCALES[args.scale]
        self.report: dict = {"workload": args.workload, "seed": args.seed, "scale": args.scale}
        self.failures: list[str] = []
        self.ops: list[dict] = []  # every checked op: kind, name, latency, window, ok

    # inputs ---------------------------------------------------------------

    def build_inputs(self) -> None:
        import duckdb

        t0 = time.perf_counter()
        sizes = datagen.table_sizes(
            self.scale["lineitem"], self.scale["documents"],
            self.scale["embeddings"], self.scale["events"],
        )
        self.tables = os.path.join(self.work, f"tables-{self.args.scale}")
        table_bytes = datagen.build_tables(self.tables, sizes)
        inputs = {"table_rows": sizes, "table_bytes": table_bytes}
        with open(os.path.join(HERE, "expected.json")) as f:
            self.expected = json.load(f)[self.args.scale]
        if self.args.workload == "viewer":
            self.duck = duckdb.connect()
            self.duck.execute("SET threads TO 2")
            # one seed's files at a time: earlier runs' CSVs and saves go
            viewer_dir = os.path.join(self.work, "viewer")
            shutil.rmtree(viewer_dir, ignore_errors=True)
            run_dir = os.path.join(viewer_dir, str(self.args.seed))
            os.makedirs(run_dir)
            self.warm_csv = os.path.join(run_dir, "warm.csv")
            self.csv = os.path.join(run_dir, "view.csv")
            self.out_dir = os.path.join(run_dir, "out")
            os.makedirs(self.out_dir, exist_ok=True)
            self.warm_duck = duckdb.connect()
            datagen.write_viewer_csv(
                self.warm_duck, self.tables, self.args.seed, self.scale["warm_rows"], self.warm_csv
            )
            self.warm_oracle = wl.ViewerOracle(self.warm_duck)
            datagen.write_viewer_csv(
                self.duck, self.tables, self.args.seed, self.scale["viewer_rows"], self.csv
            )
            self.oracle = wl.ViewerOracle(self.duck)
            inputs["viewer_csv_rows"] = self.scale["viewer_rows"]
            inputs["viewer_csv_bytes"] = os.path.getsize(self.csv)
        self.report["inputs"] = inputs
        self.report["harness_input_s"] = time.perf_counter() - t0

    # set-up -----------------------------------------------------------------

    def setup_once(self):
        from polars_view_spark import get_spark

        t0 = time.perf_counter()
        spark = get_spark(f"perfbench-{self.args.workload}")
        spark.range(1).collect()  # first job: the session is up
        t_session = time.perf_counter() - t0
        self.client = wl.Client(spark, self.tables, self.expected)
        self.warm_up()
        return spark, t_session, time.perf_counter() - t0

    def warm_up(self) -> None:
        """One small pass through the workload's own path; any failure
        aborts the run (never swallowed)."""
        w = self.args.workload
        if w == "viewer":
            # the session's open and first re-query, on the small CSV
            session = wl.ViewerSession(self.client, self.warm_csv, self.out_dir)
            for op in wl.viewer_plan(self.args.seed):
                out = session.run(op)
                err = wl.check_viewer(self.warm_oracle, session, op, out)
                if err:
                    raise RuntimeError(f"warm-up failed: {err}")
                if op["kind"] == "requery":
                    break
        else:
            name = wl.WARMUP_ENTRY
            err = wl.check_catalog(self.client, name, wl.catalog_op(self.client, name))
            if err:
                raise RuntimeError(f"warm-up failed: {err}")

    # measured window -----------------------------------------------------------

    def window(self, seconds: float, traced: bool) -> dict:
        """Run whole sessions (viewer) or whole cycles (catalog), at least
        one and more only until ``seconds`` have passed; returns window
        totals."""
        client = self.client
        sc = client.spark.sparkContext
        w = self.args.workload
        records = []
        t0 = time.perf_counter()
        if w == "viewer":
            out_dir = os.path.join(self.out_dir, f"from-op{len(self.ops)}")
            os.makedirs(out_dir)
            session = wl.ViewerSession(client, self.csv, out_dir)
            plan = wl.viewer_plan(self.args.seed)
        else:
            plan = (
                (c, {"kind": "entry", "name": n})
                for c, n in wl.catalog_plan(wl.LLM_PIPELINE)
            )
        current_unit = 0
        for item in plan:
            if w == "viewer":
                op, u = item, item["session"]
            else:
                u, op = item
            if u != current_unit:
                if time.perf_counter() - t0 >= seconds:
                    break
                current_unit = u
            op_id = len(self.ops)
            if traced:
                client.tracer.op = op_id
                sc.setJobGroup(f"perfbench-op-{op_id}", op.get("name", op["kind"]))
            rec = {"id": op_id, "kind": op["kind"], "name": op.get("name", op.get("template", op["kind"])),
                   "traced": traced, "op": op}
            t_op = time.perf_counter()
            try:
                with client.span("op", kind=op["kind"], entry=rec["name"]):
                    if w == "viewer":
                        out = session.run(op)
                    else:
                        out = wl.catalog_op(client, op["name"])
                rec["latency"] = time.perf_counter() - t_op
                rec["out"] = out
            except Exception:  # noqa: BLE001 - a failed op is counted, the loop goes on
                rec["latency"] = time.perf_counter() - t_op
                rec["error"] = traceback.format_exc(limit=8)
                print(f"op {op_id} {rec['name']} raised:\n{rec['error']}", file=sys.stderr)
            rec["session"] = session if w == "viewer" else None
            records.append(rec)
            self.ops.append(rec)
        elapsed = time.perf_counter() - t0
        if traced:
            client.tracer.op = None
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return {"records": records, "elapsed": elapsed, "units": current_unit + 1}

    # checks --------------------------------------------------------------------

    def check(self, records: list[dict]) -> None:
        for rec in records:
            err = rec.get("error")
            if err is None:
                if self.args.workload == "viewer":
                    err = wl.check_viewer(self.oracle, rec["session"], rec["op"], rec["out"])
                else:
                    err = wl.check_catalog(self.client, rec["op"]["name"], rec["out"])
            rec["ok"] = err is None
            if err is not None:
                self.failures.append(f"op {rec['id']} {rec['name']}: {err.strip().splitlines()[-1]}")
            rec.pop("out", None)
            rec.pop("session", None)


def trace_window(run: Run, seconds: float) -> dict:
    """The traced window: same op stream, with every layer call wrapped
    in a span, a job group per op and a streaming-phase listener."""
    client = run.client
    spark = client.spark
    tracer = tracing.Tracer()
    client.tracer = tracer

    def index_written(rec, args, kwargs, out):
        rec["index_bytes"], rec["index_files"] = tracing.dir_stats(kwargs.get("path", args[1]))

    def saved(rec, args, kwargs, out):
        rec["format"] = out
        rec["bytes_out"] = os.path.getsize(kwargs.get("path", args[1]))

    patches = tracing.Patches(
        tracer,
        on_return={"index.build": index_written, "index.append": index_written,
                   "writers.save_as": saved},
    )
    listener = tracing.stream_listener(spark, tracer)
    patches.install()
    try:
        win = run.window(seconds, traced=True)
    finally:
        patches.remove()
        client.tracer = None
    # let the listener bus deliver the last job and trigger events
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    deadline = time.perf_counter() + 10
    while listener.ended < listener.started and time.perf_counter() < deadline:
        time.sleep(0.05)
    spark.streams.removeListener(listener)
    groups = {f"perfbench-op-{r['id']}": r["id"] for r in win["records"]}
    groups.update({rid: op for rid, op in listener.owner.items() if op is not None})
    exec_counts = tracing.exec_counts(spark.sparkContext, groups)
    tracer.write(os.path.join(run.work, f"trace-{run.args.workload}-{run.args.seed}.json"))
    return {"win": win, "tracer": tracer, "exec": exec_counts, "progress": list(listener.progress)}


def e2e_metrics(win: dict) -> dict:
    lat = [r["latency"] for r in win["records"]]
    return {"ops_per_s": len(lat) / win["elapsed"], "op_geomean_s": stats.geomean(lat)}


def by_type(records: list[dict], workload: str) -> dict:
    """Per-operation-type latency summaries (median, tail, sample count)."""
    groups: dict[str, list[float]] = {}
    for r in records:
        key = r["kind"] if workload == "viewer" else r["name"]
        groups.setdefault(key, []).append(r["latency"])
    return {k: stats.summarize(v) for k, v in sorted(groups.items())}


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "polars_view_spark", "__init__.py")):
        print(f"perfbench: no polars_view_spark package under {ROOT}", file=sys.stderr)
        return 2
    run = Run(args)
    prepare_env(run.work)
    sys.path.insert(0, ROOT)
    os.chdir(run.work)  # spark-warehouse / derby files land in the work dir
    # imports count towards the first set-up, not the first timed op
    import polars_view_spark  # noqa: F401
    import polars_view_spark.catalog  # noqa: F401

    import_s = time.perf_counter() - T_START
    run.build_inputs()

    spark = None
    traced = None
    try:
        setups = []
        for i in range(SETUPS):
            if spark is not None:
                spark.stop()
            spark, t_session, t_setup = run.setup_once()
            if i == 0:
                run.report["session_start_s"] = t_session
                t_setup += import_s
            setups.append(t_setup)
        run.report["setups_s"] = setups

        untraced = run.window(args.seconds, traced=False)
        metrics = {"setup_s": statistics.median(setups), **e2e_metrics(untraced)}
        if args.trace:
            # traced window, then an untraced one just as warm: their
            # throughput ratio is the tracing overhead
            traced = trace_window(run, args.seconds)
            traced["baseline"] = run.window(args.seconds, traced=False)
        jvm = getattr(spark.sparkContext._gateway, "proc", None)
        peak = tracing.peak_rss_mb(jvm.pid if jvm else None)
    finally:
        if spark is not None:
            shutdown(spark)

    run.check(untraced["records"])
    if traced is not None:
        run.check(traced["win"]["records"])
        run.check(traced["baseline"]["records"])
    attempted = len(run.ops)
    failed = sum(1 for r in run.ops if not r["ok"])
    lat = [r["latency"] for r in untraced["records"]]
    e2e = {
        **metrics,
        "op_p50_s": statistics.median(lat),
        "error_rate": stats.error_rate(attempted, failed),
    }
    tail = stats.tail_percentile(lat)
    if tail:
        e2e[f"op_p{tail[0]}_s"] = tail[1]
    bt = by_type(untraced["records"], args.workload)
    if args.workload == "viewer":
        for kind in ("open", "requery", "sort", "save"):
            for q in ("p50", "p90", "p99"):
                if q in bt.get(kind, {}):
                    e2e[f"{kind}_{q}_s"] = bt[kind][q]
    run.report.update(
        {
            "end_to_end": e2e,
            "by_type": bt,
            "window_s": untraced["elapsed"],
            "units_run": untraced["units"],  # viewer sessions / catalog cycles
            "peak_rss_mb": peak,
            "failures": run.failures[:20],
        }
    )
    out_metrics = metrics
    if traced is not None:
        win = traced["win"]
        spans = traced["tracer"].spans
        layer = layers.compute(
            spans, win["records"], e2e_metrics(traced["baseline"])["ops_per_s"],
            e2e_metrics(win)["ops_per_s"],
            traced["exec"], traced["progress"], run.report["session_start_s"],
            run.report["inputs"].get("viewer_csv_bytes", 0),
        )
        layer["process.peak_rss_mb"] = peak
        gaps = layers.self_sum_gaps(spans)
        run.report["trace"] = {
            "spans": len(spans),
            "self_sum_gap_max": max(gaps) if gaps else 0.0,
            "writers.save_s_by_format": layers.save_s_by_format(spans),
            "traced_end_to_end": e2e_metrics(win),
            "baseline_end_to_end": e2e_metrics(traced["baseline"]),
        }
        run.report["per_layer"] = layer
        out_metrics = layer
    print(json.dumps({"report": run.report}, default=str))
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": {
                    k: {"value": v, "unit": layers.UNITS[k]} for k, v in out_metrics.items()
                },
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
