"""Structured Streaming flavors of the event operators.

The reference has no event streaming (its "streaming" flag is out-of-core
batch execution — SURVEY.md §2C end); this module is the forward extension:
the SAME tumbling-window aggregation as operators/events.py:tumbling_agg,
expressed over an unbounded stream with watermark-bounded state, plus a
custom stateful operator via ``applyInPandasWithState``.

Semantics contract (tested): a stream processed with
``trigger(availableNow=True)`` over a static file produces exactly the
batch operator's result — batch/stream parity is what makes the operators
safe to promote from backfill to live pipelines.
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from polars_view_spark import fills
from polars_view_spark.sources import store

#: events table schema with nanosecond ts already normalized to long
EVENT_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.LongType()),  # raw nanos (nanosAsLong)
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def read_event_stream(
    spark: SparkSession, path: str, schema: T.StructType | None = None
) -> DataFrame:
    """File-source stream over the events parquet (directory or glob).

    ``maxFilesPerTrigger`` keeps micro-batches bounded on a backfill; the
    timestamp is normalized exactly like the batch reader
    (catalog.load_tables): a one-file batch schema probe (footer read,
    O(1) in data size) decides whether ``ts`` arrives as TIMESTAMP(MICROS)
    (pass through) or TIMESTAMP(NANOS)-as-long (convert with the same
    integer division DuckDB applies).  Hard-coding either variant breaks
    the other — stream and batch must agree on event time or watermarks
    and window joins silently diverge.

    A genuine streaming source may start on an EMPTY directory (files land
    after the query begins), where the probe has nothing to infer from; the
    stream then starts on the caller-supplied ``schema`` (wins whenever
    given) or :data:`EVENT_SCHEMA` rather than failing — the pre-r02
    behavior a live deployment depends on.
    """
    from pyspark.errors import AnalysisException

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    if schema is not None:
        nanos = isinstance(schema["ts"].dataType, T.LongType)
    else:
        try:
            probe = spark.read.parquet(path)
            nanos = dict(probe.dtypes).get("ts") == "bigint"
            schema = EVENT_SCHEMA if nanos else probe.schema
        except AnalysisException:  # empty dir: nothing to infer from yet
            schema, nanos = EVENT_SCHEMA, True
    reader = spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
    path = _single_file_to_glob(reader, path)
    raw = reader.parquet(path)
    if nanos:
        raw = raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif dict(raw.dtypes).get("ts") == "timestamp_ntz":
        # watermarks require TIMESTAMP (LTZ); the session TZ is pinned UTC
        # everywhere (session.py, load_tables), so the cast is wall-clock
        # preserving and date_format output matches the batch path exactly
        raw = raw.withColumn("ts", F.col("ts").cast("timestamp"))
    return raw


def streaming_tumbling_agg(
    events: DataFrame,
    width: str = "1 hour",
    watermark: str = "2 hours",
    group_col: str = "event_type",
) -> DataFrame:
    """Watermarked tumbling-window counts/sums per ``group_col``.

    The watermark bounds state: windows older than (max event time −
    watermark) are finalized and dropped, so state size is O(active
    windows), independent of stream length — the property that lets this
    run forever on a 100 TB/day firehose.  Late events inside the watermark
    update their window; later ones are dropped (documented, standard).

    Single source for the oracle-critical rounding (``+ 1e-6`` before the
    2-dp ROUND) and window formatting: the stream-static enrichment
    (:func:`streaming_static_enrich_agg`) composes this same function, so
    the idiom cannot drift between the two entries.
    """
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", width).alias("w"), group_col)
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value") + F.lit(1e-6), 2).alias("sum_value"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm").alias("window_start"),
            group_col,
            "n_events",
            "sum_value",
        )
    )


def streaming_sliding_agg(
    events: DataFrame,
    width: str = "1 hour",
    slide: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Sliding (overlapping) windows: each event lands in width/slide
    windows; state is still watermark-bounded."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", width, slide).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm").alias("window_start"),
            F.date_format("w.end", "yyyy-MM-dd HH:mm").alias("window_end"),
            "event_type",
            "n_events",
        )
    )


def streaming_session_windows(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Native session windows (``session_window``): gap-based sessions with
    merge-on-overlap — the streaming twin of operators/events.py:sessionize.
    State per (user, open session); closed sessions emit once the watermark
    passes the gap."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            F.date_format("w.end", "yyyy-MM-dd HH:mm:ss").alias("session_end"),
            "n_events",
        )
    )


def streaming_error_after_click(
    events: DataFrame,
    max_gap_minutes: int = 10,
    watermark: str = "1 hour",
) -> DataFrame:
    """Watermarked stream-stream join: pair each ``error`` event with every
    ``click`` by the same user in the preceding ``max_gap_minutes``.

    Both sides carry watermarks and the join has a time-range condition, so
    Spark can expire buffered state for either side once the watermark
    passes — the requirement that makes stream-stream joins runnable
    forever.  The batch equivalent (same DataFrame code on a static frame)
    is the parity test.
    """
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", watermark)
    )
    errors = (
        events.filter(F.col("event_type") == "error")
        .select(
            F.col("user_id").alias("e_user"),
            F.col("event_id").alias("error_id"),
            F.col("ts").alias("error_ts"),
        )
        .withWatermark("error_ts", watermark)
    )
    cond = (
        (F.col("c_user") == F.col("e_user"))
        & (F.col("click_ts") <= F.col("error_ts"))
        & (F.col("click_ts") >= F.col("error_ts") - F.expr(f"INTERVAL {max_gap_minutes} MINUTES"))
    )
    return clicks.join(errors, cond).select(
        F.col("e_user").alias("user_id"),
        "error_id",
        "click_id",
        (F.unix_timestamp("error_ts") - F.unix_timestamp("click_ts")).alias("gap_sec"),
    )


def streaming_running_counts(events: DataFrame) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: running
    per-user event count + last-seen timestamp.

    Demonstrates the arbitrary-state API (GroupState with explicit
    timeout): state is one tuple per user, updated per micro-batch in
    Arrow-batched pandas — the pattern for anything the built-in windowed
    aggregates can't express (e.g. online sessionization, CEP).
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("n_events", T.LongType()),
            T.StructField("last_seen", T.TimestampType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("n", T.LongType()),
        ]
    )

    def update(key, pdfs, state: GroupState):
        n_new = 0
        last = None
        for pdf in pdfs:
            n_new += len(pdf)
            mx = pdf["ts"].max()
            last = mx if last is None else max(last, mx)
        (n_prev,) = state.get if state.exists else (0,)
        total = n_prev + n_new
        state.update((total,))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [total], "last_seen": [last]}
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_stream_to_memory(
    stream_df: DataFrame,
    query_name: str,
    output_mode: str = "complete",
    state_partitions: int | None = None,
) -> None:
    """Drain a (finite) stream into an in-memory table with
    ``availableNow`` — the batch-parity test harness.

    ``state_partitions`` pins ``spark.sql.shuffle.partitions`` for THIS
    query's start (stateful operators bake the state-store partition count
    in at first run; the conf is restored afterwards).  This is the
    production state-sizing knob, not small-data tuning: each partition
    hosts its own state store(s) whose per-micro-batch commit overhead is
    paid regardless of data volume — a stream-stream join keeps 4 stores
    per partition, so 32 partitions for a ~100 k-event drain spent more
    time committing state than joining (measured 8.4 s → 2.9 s at 8).  A
    production deployment sizes it to expected STATE volume (keys within
    the watermark horizon), which is why it is an explicit per-query
    parameter here rather than a session constant.  Results are
    partition-count-independent (pinned by the two-conf determinism
    check)."""
    spark = stream_df.sparkSession
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    if state_partitions is not None:
        spark.conf.set("spark.sql.shuffle.partitions", str(state_partitions))
    try:
        q = (
            stream_df.writeStream.format("memory")
            .queryName(query_name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        if state_partitions is not None:
            spark.conf.set("spark.sql.shuffle.partitions", prev)


def streaming_anomaly(events: DataFrame) -> DataFrame:
    """Streaming twin of the batch ``e_anomaly_zscore`` screen: per-user
    trailing-10-event z-score flags (``|z| > 2``, sample std, frames of
    ≥ 5 events) as a custom stateful operator.

    State per user is BOUNDED: the last ≤ 9 quantized values (an
    ``array<long>`` row), i.e. O(users · 9) total — the
    ``applyInPandasWithState`` shape for online screens the built-in
    windowed aggregates can't express (they window by TIME, not by a
    trailing ROW count).  Two contracts keep it exactly batch-parity:

    - quantization (``q = round(value·1000)``) happens JVM-SIDE before
      the stateful operator — Spark's ``round`` is half-away-from-zero
      while Python's is half-even, so quantizing in pandas would flag
      different rows than the batch/oracle SQL;
    - the z² test is the same cross-multiplied integer comparison as the
      batch operator, exact in any accumulation order.

    Rows within a micro-batch are sorted by (ts, event_id) per user;
    ACROSS batches the source must deliver each user's events in
    event-time order (a backfill of time-split files, or an upstream
    that bounds disorder) — the standard contract of any online
    trailing-window algorithm.  NB for file sources: Spark orders
    micro-batches by file MODIFICATION TIME, not by name — a backfill
    must write (or utime) its files in event-time order.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    state_schema = T.StructType([T.StructField("qs", T.ArrayType(T.LongType()))])

    def update(key, pdfs, state: GroupState):
        hist = list(state.get[0]) if state.exists else []
        batch = pd.concat(list(pdfs), ignore_index=True)
        batch = batch.sort_values(["ts", "event_id"], kind="mergesort")
        out = {"event_id": [], "user_id": [], "value": []}
        for eid, val, q in zip(batch["event_id"], batch["value"], batch["q"]):
            q = int(q)
            win = hist[-9:] + [q]
            n = len(win)
            if n >= 5:
                sv = sum(win)
                sq = sum(x * x for x in win)
                if (q * n - sv) ** 2 * (n - 1) > 4 * n * (n * sq - sv * sv):
                    out["event_id"].append(int(eid))
                    out["user_id"].append(int(key[0]))
                    out["value"].append(float(val))
            hist = win[-9:]
        state.update((hist,))
        yield pd.DataFrame(out)

    # a NULL value cannot be z-scored: drop it JVM-side (int(NaN) would
    # kill the stateful task — the one-bad-row contract) and keep it out
    # of neighbors' windows, matching the batch twin's filter exactly
    quantized = events.where(F.col("value").isNotNull()).select(
        "event_id",
        "user_id",
        "ts",
        "value",
        F.expr("CAST(round(value * 1000) AS BIGINT)").alias("q"),
    )
    return quantized.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_dedup(
    events: DataFrame,
    key_cols: tuple[str, ...] = ("event_id",),
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming exact dedup: emit each key's FIRST arrival, drop replays.

    ``dropDuplicatesWithinWatermark`` keeps per-key state only inside the
    watermark horizon, so an at-least-once source (Kafka replays, file
    redeliveries, backfill overlap) becomes effectively-once with O(keys
    within watermark) state — the streaming twin of
    operators/dedup.py:dedup_exact.  Keys whose duplicates can straddle
    more than ``watermark`` of event time need the batch pass instead.
    """
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        list(key_cols)
    )


DOCUMENT_SCHEMA = (
    "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT"
)


def _single_file_to_glob(reader, path: str) -> str:
    """The file source wants a DIRECTORY; a path to one ``.parquet`` FILE
    streams its parent filtered to that basename.  A *directory* merely
    named ``*.parquet`` (Spark's own dataset layout) is already the right
    shape — globbing its basename against the parent would match zero
    files and stream silently forever.  The store probes the path, so a
    schemed URI (``file:``, ``hdfs://``) is told apart too."""
    import os

    if path.endswith(".parquet") and not store.is_dir(reader._spark, path):
        reader.option("pathGlobFilter", os.path.basename(path))
        return os.path.dirname(path)
    return path


def read_document_stream(spark: SparkSession, path: str) -> DataFrame:
    """File-source stream over a documents parquet landing directory —
    the arrival path of a continuously-ingested corpus."""
    reader = spark.readStream.schema(DOCUMENT_SCHEMA).option(
        "maxFilesPerTrigger", "1"
    )
    path = _single_file_to_glob(reader, path)
    return reader.parquet(path)


def read_binary_stream(
    spark: SparkSession,
    path: str,
    glob: str | None = None,
    max_files_per_trigger: int = 16,
) -> DataFrame:
    """Streaming twin of sources/readers.py:read_binary_dir — continuous
    raw-media ingestion from a landing directory via the built-in
    ``binaryFile`` source.

    Media files land (crawler output, upload bucket), each micro-batch
    picks up the new ones as ``(path, length, content)`` rows, and the
    same downstream pipeline as the batch path (pack → decode_real →
    feature extract) runs per trigger.  ``modificationTime`` is dropped
    for the batch reader's reason: it is storage-layer state, and the
    streaming/batch parity test compares the two paths directly.

    Scale shape matches the batch source — one whole file per task, so
    ``max_files_per_trigger`` is the batch-size knob (bounded executor
    memory per trigger regardless of how many files land at once); a
    deployment landing whole videos lowers it, one landing thumbnails
    raises it."""
    reader = (
        spark.readStream.format("binaryFile")
        .schema(
            "path string, modificationTime timestamp, length long, content binary"
        )
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
    )
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    return reader.load(path).drop("modificationTime")


def streaming_contamination(
    docs_stream: DataFrame,
    benchmark: DataFrame,
    min_overlap: int = 3,
) -> DataFrame:
    """Streaming twin of operators/dedup.py:contamination_pairs — flag
    arriving documents against a STATIC benchmark set as they land.

    Stream-static join: the benchmark's exploded shingles are a broadcast
    static side, so each micro-batch streams through the hash join without
    shuffling its raw text; only matched postings reach the running
    (doc, bench) count.  Complete output mode — state is bounded by the
    number of *contaminated* pairs, not the stream (an unbounded-corpus
    deployment would add a doc-id watermark and append mode).

    Delegates to the batch operator verbatim — it is pure DataFrame
    algebra, valid on a streaming frame, so batch/stream parity is by
    construction, not by keeping two copies in sync."""
    from polars_view_spark.operators.dedup import contamination_pairs

    return contamination_pairs(docs_stream, benchmark, min_overlap=min_overlap)


def streaming_upsert(
    changes_stream: DataFrame,
    snapshot_dir: str,
    key_cols: list[str],
    delete_col: str | None = None,
):
    """Incremental snapshot maintenance — the streaming twin of
    operators/snapshot.py:merge_upsert via the ``foreachBatch`` MERGE
    pattern: every micro-batch of change rows is merged into a parquet
    snapshot (update / insert / delete), so a CDC feed keeps a queryable
    table continuously current.

    Each batch writes the merged snapshot to a sibling temp directory and
    commits it with the store swap (sources/store.py), so readers never
    observe a half-written snapshot and a failed batch leaves the previous
    one intact.  The swap stands in for a transactional table commit — on
    a real cluster the same ``foreachBatch`` body targets a transactional
    table format (e.g. an Iceberg/Delta MERGE) instead of a directory
    rename, and nothing upstream changes.  Within one micro-batch
    changes are deduplicated to one row per key (arbitrary winner), so the
    result is deterministic only when a source emits at most one change per
    key per batch — sources that batch several must carry a sequence column
    and pre-reduce on it before handing the stream here.

    Returns the started StreamingQuery (``availableNow`` trigger — drains
    what exists, then stops; swap for a processing-time trigger in a
    long-lived deployment).
    """
    from polars_view_spark.operators.snapshot import merge_upsert

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        batch_df = batch_df.dropDuplicates(key_cols)
        if store.exists(spark, snapshot_dir):
            base = spark.read.parquet(snapshot_dir)
            merged = merge_upsert(base, batch_df, key_cols, delete_col)
        else:
            merged = batch_df
            if delete_col is not None:
                merged = merged.filter(
                    ~F.coalesce(F.col(delete_col), F.lit(False))
                ).drop(delete_col)
        tmp = snapshot_dir.rstrip("/") + ".__pvs_tmp"
        merged.write.mode("overwrite").parquet(tmp)
        store.swap(spark, tmp, snapshot_dir)

    return _available_now_sink(changes_stream, snapshot_dir, apply_batch=apply_batch)


def streaming_minhash_dedup(
    docs_stream: DataFrame,
    corpus_dir: str,
    pairs_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    jaccard_threshold: float = 0.5,
):
    """Continuous near-duplicate detection over an arriving corpus — the
    streaming twin of operators/dedup.py:minhash_lsh_pairs_incremental.

    Each micro-batch of landing documents is LSH-paired against the
    accumulated corpus snapshot (plus itself), verified pairs are appended
    to ``pairs_dir``, and the batch joins the corpus.  Every near-dup pair
    is discovered exactly once — in the micro-batch where its later member
    arrives — so the union of all appended pairs equals the one-shot batch
    pairing of the final corpus (asserted in tests/test_streaming.py).

    Scale shape is the incremental operator's: candidates come from
    joining the NEW batch's band buckets (broadcast) against the band
    table, so per-trigger cost is O(|batch| × bucket size), independent of
    corpus size.  In this self-contained form the corpus signatures are
    recomputed per trigger from the snapshot; the production deployment
    persists the signature/band table and appends to it instead (same
    plan, amortized), exactly as the batch docstring describes.  One
    divergence window: the hot-bucket cap sees the corpus-so-far, so a
    bucket that only later crosses the cap can contribute early pairs a
    final-corpus batch run would have dropped — more recall, never less.

    Delivery: a crash between the two writes, or a retry after a partial
    write, re-runs the batch; both sinks are written per ``batch_id``
    (the effectively-once contract in sources/store.py), so a re-run
    replaces its own partitions.  Swap the ``availableNow`` trigger for
    processing-time in a long-lived deployment.
    """
    from polars_view_spark.operators.dedup import minhash_lsh_pairs_incremental

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        batch_df = batch_df.dropDuplicates([id_col])
        if batch_df.isEmpty():
            return
        if store.exists(spark, corpus_dir):
            # a replayed batch must pair against the corpus as it stood
            # BEFORE its own earlier attempt: strictly EARLIER batches
            # only.  `< batch_id` (not `!=`): after a checkpoint reset, a
            # replayed batch 0 must not see batches 1..n — pairing against
            # later batches would rediscover their cross-batch pairs and
            # write them twice (once per side's partition)
            base = spark.read.parquet(corpus_dir).filter(
                F.col("ingest_batch") < batch_id
            ).drop("ingest_batch")
        else:
            base = spark.createDataFrame([], batch_df.schema)
        pairs = minhash_lsh_pairs_incremental(
            base, batch_df, id_col, text_col, jaccard_threshold
        )
        store.write_batch(pairs, pairs_dir, batch_id)
        store.write_batch(batch_df, corpus_dir, batch_id, col="ingest_batch")

    return _available_now_sink(docs_stream, corpus_dir, apply_batch=apply_batch)


def _write_sink_batch(
    batch_df: DataFrame,
    batch_id: int,
    sink_dir: str,
    batch_frame_fn,
    dedup_col: str | None = None,
    lead_cols: tuple[str, ...] = (),
) -> None:
    """The foreachBatch body of every frame sink: optionally dedup the
    batch on ``dedup_col``, skip an empty batch, and write
    ``batch_frame_fn(batch_df)`` into the batch's own partition of
    ``sink_dir`` (store.write_batch)."""
    if dedup_col is not None:
        batch_df = batch_df.dropDuplicates([dedup_col])
    if batch_df.isEmpty():
        return
    store.write_batch(batch_frame_fn(batch_df), sink_dir, batch_id, lead_cols=lead_cols)


def _available_now_sink(
    stream: DataFrame,
    sink_dir: str,
    batch_frame_fn=None,
    dedup_col: str | None = None,
    *,
    lead_cols: tuple[str, ...] = (),
    apply_batch=None,
    pinned: fills.scope | None = None,
):
    """Start the ONE kind of foreachBatch query this module runs: an
    ``availableNow`` drain checkpointed at ``<sink_dir>.__pvs_ckpt``.

    The per-batch body is ``apply_batch`` when given, else
    :func:`_write_sink_batch` over ``batch_frame_fn`` / ``dedup_col`` /
    ``lead_cols`` — the effectively-once sink of sources/store.py.
    The ``pinned`` scope is released when the query ends, or at once if
    it fails to start (:func:`_release_on_termination`)."""
    if apply_batch is None:
        apply_batch = functools.partial(
            _write_sink_batch,
            sink_dir=sink_dir,
            batch_frame_fn=batch_frame_fn,
            dedup_col=dedup_col,
            lead_cols=lead_cols,
        )
    listener = (
        _release_on_termination(stream.sparkSession, pinned) if pinned else None
    )
    try:
        q = (
            stream.writeStream.foreachBatch(apply_batch)
            .trigger(availableNow=True)
            .option("checkpointLocation", sink_dir.rstrip("/") + ".__pvs_ckpt")
            .start()
        )
    except Exception:
        if listener is not None:
            listener.release_now()
        raise
    if listener is not None:
        listener.arm(str(q.id))
    return q


def _release_on_termination(spark, pinned):
    """Register (BEFORE ``start()``) a listener that releases the fills
    scope ``pinned`` when the caller's query ends (terminated or failed),
    then deregisters itself — the only end-of-query hook foreachBatch
    offers.  Registered pre-start so an availableNow query that terminates
    immediately (empty landing dir) cannot finish before the listener
    exists; because the target query id is only known after ``start()``
    returns, the listener buffers terminations seen while unarmed and
    ``arm()`` replays them.
    Its caller, :func:`_available_now_sink`, calls ``release_now()`` when
    ``start()`` raises and ``arm(str(q.id))`` after it returns."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Release(StreamingQueryListener):
        def __init__(self) -> None:
            import threading

            self._lock = threading.Lock()
            self._target: str | None = None
            self._seen: set[str] = set()
            self._done = False

        def _release(self) -> None:
            # idempotent: arm() and a late event may both land here
            if not self._done:
                self._done = True
                pinned.release()
                spark.streams.removeListener(self)

        def arm(self, query_id: str) -> None:
            with self._lock:
                self._target = query_id
                if query_id in self._seen:
                    self._release()

        def release_now(self) -> None:
            with self._lock:
                self._release()

        def onQueryStarted(self, event) -> None: ...

        def onQueryProgress(self, event) -> None: ...

        def onQueryIdle(self, event) -> None: ...

        def onQueryTerminated(self, event) -> None:
            with self._lock:
                if self._target is None:
                    self._seen.add(str(event.id))
                elif str(event.id) == self._target:
                    self._release()

    listener = _Release()
    spark.streams.addListener(listener)
    return listener


def streaming_containment_screen(
    docs_stream: DataFrame,
    corpus: DataFrame,
    flags_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    index_path: str | None = None,
):
    """Continuous ingestion-gate containment screening: every micro-batch
    of landing documents is checked against a FIXED standing corpus
    (operators/dedup.py:doc_containment_screen) and the flagged
    (arrival, corpus-doc) pairs are appended to ``flags_dir`` — the
    streaming face of the doc-in-doc detector, composed with the
    :func:`streaming_minhash_dedup` arrival pattern.

    Because the reference corpus is fixed, each arrival's verdict reads
    only corpus-side statistics — so unlike the evolving-corpus MinHash
    stream, the union of all appended flags is the one-shot batch screen
    of the DISTINCT arrivals, however the stream happened to batch them
    (asserted in tests/test_streaming.py; no divergence window).  The
    per-batch dropDuplicates does not span triggers: a logical doc id
    redelivered in a LATER file is flagged again (same verdict — the
    corpus is fixed), so multiset equality additionally assumes
    upstream-unique ids; redelivered files are absorbed by the
    checkpoint.  Delivery is effectively-once (sources/store.py).

    Per-trigger cost is O(|batch| signatures × bucket ≤ cap): the corpus
    fingerprint/frequency table is computed ONCE up front
    (operators/dedup.py:containment_corpus_stats, pinned for the query's
    lifetime and released when the query terminates) — never per
    trigger, which would re-scan the corpus forever.

    The sink is created lazily by the first batch that produces flags; a
    flag-free run leaves ``flags_dir`` without parquet files, so read it
    back through :func:`read_sink_or_empty` (as the catalog entry does)
    rather than a bare ``spark.read.parquet``.
    """
    from polars_view_spark.operators.dedup import (
        containment_corpus_stats,
        doc_containment_screen,
    )

    # ``index_path``: read the PERSISTED corpus index
    # (operators/dedup.py:containment_build_index) instead of computing
    # and pinning the statistics for this query — the 100 TB mode, where
    # the corpus is fingerprinted by one offline job, not per stream
    # start; the loaded parquet frames leave the scope empty.
    pinned = fills.scope()
    if index_path is not None:
        from polars_view_spark.operators.dedup import containment_load_stats

        stats = containment_load_stats(corpus.sparkSession, index_path)
    else:
        stats = containment_corpus_stats(corpus, id_col, text_col, own=pinned)

    return _available_now_sink(
        docs_stream,
        flags_dir,
        lambda batch_df: doc_containment_screen(
            corpus, batch_df, id_col, text_col, corpus_stats=stats
        ),
        dedup_col=id_col,
        pinned=pinned,
    )


def read_sink_or_empty(spark, path: str, schema: str) -> DataFrame:
    """Read a lazily-created parquet sink, returning an EMPTY typed frame
    when no batch ever wrote data files — ``spark.read.parquet`` on such
    a directory fails schema inference instead of returning zero rows
    (the contract :func:`streaming_containment_screen` and the
    foreachBatch sinks need: no flags is a result, not an error).

    The existence probe goes through the Hadoop FileSystem API resolved
    FROM the path (not an os-level glob), so schemed URIs — ``file:``,
    ``hdfs://``, ``s3a://`` — probe the store the sink actually wrote to
    instead of silently reading a populated remote sink back as empty."""
    names = [f.name for f in T.StructType.fromDDL(schema).fields]
    fs, jpath = store.filesystem(spark, path)

    def _has_data_file() -> bool:
        if not fs.exists(jpath):
            return False
        files = fs.listFiles(jpath, True)  # recursive
        while files.hasNext():
            if files.next().getPath().getName().endswith(".parquet"):
                return True
        return False

    if not _has_data_file():
        return spark.createDataFrame([], schema)
    # project to exactly the requested columns: partition discovery
    # appends path-encoded columns (batch_id) even under an explicit
    # read schema
    return spark.read.schema(schema).parquet(path).select(*names)


def streaming_trending(
    events: DataFrame,
    width: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Trending items per tumbling window: watermarked per-(window, item)
    counts; the top-``k`` bound is applied at rank time by
    :func:`topk_per_window` over the *finalized* aggregate.  Rank-over-stream isn't expressible inside one streaming
    query (no windowed row_number on an updating aggregate), so this
    returns the watermarked count stream; :func:`topk_per_window` applies
    the rank — on the drained memory sink for a backfill, or inside a
    ``foreachBatch`` on the complete-mode output for a live deployment.
    State stays O(active windows × distinct items in them).
    """
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", width).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm").alias("window_start"),
            "event_type",
            "n_events",
        )
    )


def topk_per_window(counts: DataFrame, k: int = 3) -> DataFrame:
    """Rank a (window_start, event_type, n_events) frame to the top-``k``
    per window — deterministic tiebreak on the item name."""
    from pyspark.sql import Window

    w = Window.partitionBy("window_start").orderBy(
        F.col("n_events").desc(), "event_type"
    )
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .withColumn("rank", F.col("rank").cast("long"))
        .orderBy("window_start", "rank")
    )


def streaming_static_enrich_agg(
    events: DataFrame,
    dim: DataFrame,
    stream_key: str = "user_id",
    dim_key: str = "c_custkey",
    attr: str = "c_mktsegment",
    width: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-static dimension join + watermarked tumbling aggregate — the
    canonical enrichment topology: the dimension NEVER streams (it is a
    plain batch frame re-resolved every micro-batch, so out-of-band dim
    updates are picked up at the next trigger), and the stream never
    shuffles for the join (the dim side broadcasts).  Output: per
    (window, dim attribute) counts and value sums.

    Stream-static joins are stateless — no watermark is needed for the
    JOIN (only the downstream window agg holds state), which is what
    distinguishes this shape from the stream-stream join
    (:func:`streaming_event_join`) where both sides buffer.
    """
    enriched = events.join(
        F.broadcast(dim.select(F.col(dim_key).alias(stream_key), attr)),
        stream_key,
    )
    # the window agg (and its oracle-critical rounding/formatting idiom)
    # is the SAME code path as the plain streaming tumbling entry
    return streaming_tumbling_agg(
        enriched, width=width, watermark=watermark, group_col=attr
    ).withColumnRenamed(attr, "segment")


def streaming_ann_lookup(
    queries_stream: DataFrame,
    index_path: str,
    sink_dir: str,
    k: int = 5,
    n_probe: int = 2,
    scale: int = 1000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Continuous nearest-corpus lookup: every micro-batch of arriving
    query vectors probes the PERSISTED IVF index
    (operators/similarity.py:ivf_build_index / ivf_query_index) and the
    per-query top-k lands in ``sink_dir`` — the streaming face of the
    build/query ANN split (embedding stream → route/filter by nearest
    corpus item).

    Because each query's result depends only on the FIXED index, the
    union of all appended batches equals the one-shot batch query of the
    DISTINCT arrivals, however the stream happened to batch them — the
    same no-divergence property as :func:`streaming_containment_screen`.
    Duplicates are dropped per batch only: the same query id arriving in
    two different triggers is answered twice (identically — it is a
    lookup, re-querying is harmless), so exact multiset equality with a
    deduplicated batch run additionally assumes upstream-unique ids, as
    redelivered FILES are already absorbed by the checkpoint.  Delivery
    is effectively-once (sources/store.py).

    Per-trigger cost: O(|batch| × probed cells) — the corpus is never
    rescanned; the index's partition pruning does the work.
    """
    from polars_view_spark.operators.similarity import ivf_query_index

    return _available_now_sink(
        queries_stream,
        sink_dir,
        lambda batch_df: ivf_query_index(
            batch_df.sparkSession,
            batch_df,
            index_path,
            id_col=id_col,
            vec_col=vec_col,
            k=k,
            n_probe=n_probe,
            scale=scale,
        ),
        dedup_col=id_col,
    )


def streaming_expectations_gate(
    docs_stream: DataFrame,
    rules: list[dict],
    report_dir: str,
    ref_frames: dict[str, DataFrame] | None = None,
    ref_profiles: dict[str, str] | None = None,
):
    """Continuous data-quality gating: every micro-batch of arriving rows
    is evaluated against the declarative rule list
    (operators/expectations.py:expectations_report) and the per-rule
    report lands in ``report_dir`` partitioned by ``batch_id`` — the
    per-ingest-batch quality gate a production pipeline runs at the
    door, with drift rules reading the PERSISTED snapshot profile
    (``ref_profiles``, operators/expectations.py:snapshot_profile) so no
    trigger ever re-scans the reference corpus.

    Per-batch semantics ARE the contract (each report's ``n_checked`` is
    that batch's row count — a gate verdict is about the batch at the
    door, unlike the batch-invariant screens whose union equals a
    one-shot run); redelivered files are absorbed by the checkpoint and
    delivery is effectively-once (sources/store.py).  Per-trigger cost: ONE scan + ONE
    aggregate of the batch regardless of rule count, plus the profile's
    few-row read.
    """
    from polars_view_spark.operators.expectations import expectations_report

    # fail FAST on misconfiguration (empty/duplicate rule names, bad
    # identifiers, unknown kinds, missing ref or profile metric): build
    # the report plan once against an empty frame with the stream's
    # schema — plan construction runs every Python-side validation and
    # the profile's few-row read, so a typo surfaces at gate creation,
    # not wrapped in a StreamingQueryException at first ingest
    spark = docs_stream.sparkSession
    expectations_report(
        spark.createDataFrame([], docs_stream.schema), rules, ref_frames, ref_profiles
    )

    return _available_now_sink(
        docs_stream,
        report_dir,
        lambda batch_df: expectations_report(
            batch_df, rules, ref_frames, ref_profiles
        ),
    )


def streaming_minhash_lookup(
    docs_stream: DataFrame,
    index_path: str,
    sink_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    jaccard_threshold: float = 0.5,
):
    """Continuous near-duplicate screening against a PERSISTED MinHash
    index (operators/dedup.py:minhash_build_index /
    minhash_query_index): every micro-batch of landing documents is
    paired with the standing corpus through the index and the verified
    (arrival, corpus) pairs land in ``sink_dir`` — the streaming face of
    the MinHash build/query split, completing the trio beside
    :func:`streaming_ann_lookup` (IVF) and
    :func:`streaming_containment_screen` (winnowing).

    Runs the lookup in its batch-invariant mode
    (``include_batch_pairs=False``): only arrival-vs-CORPUS pairs, the
    hot-bucket cap derived from corpus bands alone — so each arrival's
    verdict reads fixed index state only, and the union of all appended
    batches equals the one-shot batch lookup of the DISTINCT arrivals,
    however the stream batched them (same no-divergence property as the
    containment screen; arrival-arrival pairs are an evolving-corpus
    concern, :func:`streaming_minhash_dedup`'s job).  Per-batch
    dropDuplicates does not span triggers — multiset equality assumes
    upstream-unique ids; redelivered FILES are absorbed by the
    checkpoint.  Delivery is effectively-once (sources/store.py).

    Per-trigger cost: O(|batch|) tokenize/hash CPU + one broadcast of
    the batch's band rows into the index scan — the corpus is never
    re-shingled and never self-joined.
    """
    from polars_view_spark.operators.dedup import minhash_query_index

    return _available_now_sink(
        docs_stream,
        sink_dir,
        lambda batch_df: minhash_query_index(
            batch_df.sparkSession,
            batch_df,
            index_path,
            id_col=id_col,
            text_col=text_col,
            jaccard_threshold=jaccard_threshold,
            include_batch_pairs=False,
        ),
        dedup_col=id_col,
    )


def streaming_quality_score(
    docs_stream: DataFrame,
    model_path: str,
    sink_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """Continuous quality scoring against a PERSISTED classifier
    (operators/classifier.py:save_classifier / load_classifier): every
    micro-batch of arriving documents is featurized batch-locally
    (hashed_doc_vectors over the batch only — no corpus interaction) and
    scored with the frozen model's inlined integer weights; (doc, margin,
    pred) lands in ``sink_dir``.  The ingest face of the GPT-3/CCNet
    filter: the model trains once on a bounded sample, then gates the
    crawl as it arrives.

    Scoring is a pure per-document function of the fixed model, so the
    union of appended batches equals the one-shot batch scoring of the
    distinct arrivals — the same batch-invariance contract as
    `streaming_ann_lookup` (per-batch dedup only; redelivered files are
    absorbed by the checkpoint).  Weights are loaded ONCE at wiring time
    (one tiny parquet read) and ride the plan as literals: per-trigger
    cost is O(|batch|) with zero corpus scans and zero joins.
    """
    from polars_view_spark.operators.classifier import (
        load_classifier,
        score_with_weights,
    )
    from polars_view_spark.operators.textstats import hashed_doc_vectors

    weights, dim = load_classifier(docs_stream.sparkSession, model_path)

    def score_batch(batch_df: DataFrame) -> DataFrame:
        feats = hashed_doc_vectors(
            batch_df, id_col=id_col, text_col=text_col, dim=dim
        ).select("doc", "vec")
        return score_with_weights(feats, weights, dim).select(
            "doc", "margin", "pred"
        )

    return _available_now_sink(docs_stream, sink_dir, score_batch, dedup_col=id_col)


def streaming_score_drift_gate(
    docs_stream: DataFrame,
    model_path: str,
    rules: list[dict],
    report_dir: str,
    ref_profiles: dict[str, str] | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """Model monitoring at the ingest door: every micro-batch is scored
    with the PERSISTED classifier (classifier.py:load_classifier) and the
    batch's SCORE DISTRIBUTION is gated by declarative expectations —
    margin quantile/distinct drift against a persisted snapshot profile
    of the reference scores, plus any row rules on (doc, margin, pred).
    The deploy-time half of the train→persist→monitor loop: score drift
    is how a frozen model signals that the data moved under it.

    Composition of three existing contracts, nothing bespoke: the frozen
    model's inlined-literal scoring (streaming_quality_score), the
    one-scan expectations report (expectations_report), and the
    effectively-once batch_id sink; drift rules read the persisted
    profile, so no trigger ever re-scans or re-scores the reference
    corpus.  Per-batch semantics are the contract, as with
    streaming_expectations_gate.  Misconfiguration fails at gate
    creation (the report plan is built once against an empty scored
    frame), not mid-stream.
    """
    from polars_view_spark.operators.classifier import (
        load_classifier,
        score_with_weights,
    )
    from polars_view_spark.operators.expectations import expectations_report
    from polars_view_spark.operators.textstats import hashed_doc_vectors

    weights, dim = load_classifier(docs_stream.sparkSession, model_path)

    def score_batch(batch_df: DataFrame) -> DataFrame:
        feats = hashed_doc_vectors(
            batch_df, id_col=id_col, text_col=text_col, dim=dim
        ).select("doc", "vec")
        return score_with_weights(feats, weights, dim).select(
            "doc", "margin", "pred"
        )

    spark = docs_stream.sparkSession
    expectations_report(
        score_batch(spark.createDataFrame([], docs_stream.schema)),
        rules,
        None,
        ref_profiles,
    )
    return _available_now_sink(
        docs_stream,
        report_dir,
        lambda batch_df: expectations_report(
            score_batch(batch_df), rules, None, ref_profiles
        ),
    )


def streaming_router(
    docs_stream: DataFrame,
    model_paths: list[tuple[str, str]],
    sink_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """Continuous domain routing: every micro-batch is scored against the
    k PERSISTED one-vs-rest heads (classifier.py:save_classifier, one
    path per class) and lands in ``sink_dir`` partitioned by
    ``route/batch_id`` — so each per-topic pipeline tails ONLY its own
    ``route=<name>/`` subtree, which is the point of routing at ingest:
    the fan-out happens once, in the sink layout, not in k downstream
    scans.

    Same batch-invariance contract as `streaming_quality_score` (pure
    per-doc function of fixed models ⇒ batch union ≡ one-shot routing);
    ties break to the earliest class in ``model_paths``, exactly as
    `train_topic_router`.  Weights load once at wiring time; per-trigger
    cost is O(|batch|) — one featurize + one projection with all k
    weight vectors inlined.
    """
    from polars_view_spark.operators.classifier import (
        _margin_sql,
        load_classifier,
    )
    from polars_view_spark.operators.textstats import hashed_doc_vectors

    if len(model_paths) < 2:
        raise ValueError("router needs at least 2 classes")
    spark = docs_stream.sparkSession
    models: list[tuple[str, list[int]]] = []
    dims = set()
    for name, path in model_paths:
        w, dim = load_classifier(spark, path)
        models.append((name, w))
        dims.add(dim)
    if len(dims) != 1:
        raise ValueError(f"heads disagree on feature width: {sorted(dims)}")
    dim = dims.pop()

    k_total = len(models)
    cands = [
        F.struct(
            F.expr(_margin_sql(w, dim)).cast("long").alias("m"),
            F.lit(k_total - k).alias("pri"),
            F.lit(name).alias("route"),
        )
        for k, (name, w) in enumerate(models)
    ]
    best = F.greatest(*cands)

    def route_batch(batch_df: DataFrame) -> DataFrame:
        feats = hashed_doc_vectors(
            batch_df, id_col=id_col, text_col=text_col, dim=dim
        ).select("doc", "vec")
        return feats.select(
            "doc", best["route"].alias("route"), best["m"].alias("margin")
        )

    return _available_now_sink(
        docs_stream, sink_dir, route_batch, dedup_col=id_col, lead_cols=("route",)
    )


def streaming_linkage(
    arrivals: DataFrame,
    master: DataFrame,
    sink_dir: str,
    block_on: list[str],
    rules_fn,
    threshold: float,
    id_col: str = "key",
):
    """Continuous record linkage: every micro-batch of arriving feed
    records is Fellegi–Sunter-scored (operators/linkage.py) against the
    FIXED master table and the accepted matches land in ``sink_dir`` —
    the streaming face of ``linkage_score``.

    ``rules_fn`` is a zero-arg callable returning the ``FieldRule`` list
    (Columns are plan fragments — building them fresh per query keeps
    the function picklable for foreachBatch).

    Because each arrival's verdict depends only on (arrival, master),
    the union of appended batches equals the one-shot batch linkage of
    the distinct arrivals — the same no-divergence property as
    :func:`streaming_ann_lookup`, with the same per-batch-only dedup
    caveat.

    Per-trigger cost and orientation (stated precisely — a 100 TB master
    cannot broadcast): the ARRIVING BATCH is the broadcast side
    (``linkage_score``'s ``broadcast_right``), so the master is never
    shuffled; the master is the probe side, cached here for the
    query's lifetime (released on termination via the shared listener)
    so each trigger probes cached state rather than re-reading the
    source.  At true 100 TB the production path is a master PARTITIONED
    BY the blocking key, where the broadcast-hash join's pushed block
    filter prunes each trigger's probe to the arriving blocks only —
    the same persisted-index economics as the MinHash/ANN lookups.
    """
    from polars_view_spark.operators.linkage import linkage_score

    pinned = fills.scope()
    master = pinned(master.cache())
    return _available_now_sink(
        arrivals,
        sink_dir,
        lambda batch_df: linkage_score(
            master, batch_df, block_on, rules_fn(), threshold
        ).filter("is_match"),
        dedup_col=id_col,
        pinned=pinned,
    )


def streaming_click_outcomes(
    events: DataFrame,
    max_gap_minutes: int = 10,
    watermark: str = "1 hour",
) -> DataFrame:
    """Watermarked stream-stream LEFT OUTER join: every ``click`` paired
    with each ``error`` by the same user within the FOLLOWING
    ``max_gap_minutes`` — and clicks with NO such error still emit, with
    NULL error columns, once the watermark passes their join horizon.

    This is the semantics the inner join (streaming_error_after_click)
    cannot express: "which interactions concluded cleanly" requires the
    engine to PROVE absence, which it can only do after event time
    ``click_ts + gap`` is watermark-expired — so unmatched results are
    inherently late by the watermark delay, and they emit in the
    micro-batch whose starting watermark first exceeds that horizon (not
    the batch that buffered them).  State for both sides evicts on the
    same schedule, which is what keeps the join runnable forever.

    Caller contract for finite drains: the LAST real row's unmatched
    result only emits if a later batch advances the watermark past it —
    a live stream does this naturally; a backfill appends a sentinel
    (the catalog entry synthesizes two, one to advance the watermark
    past the real data and one to flush the evictions)."""
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", watermark)
    )
    errors = (
        events.filter(F.col("event_type") == "error")
        .select(
            F.col("user_id").alias("e_user"),
            F.col("event_id").alias("error_id"),
            F.col("ts").alias("error_ts"),
        )
        .withWatermark("error_ts", watermark)
    )
    cond = (
        (F.col("c_user") == F.col("e_user"))
        & (F.col("error_ts") >= F.col("click_ts"))
        & (
            F.col("error_ts")
            <= F.col("click_ts") + F.expr(f"INTERVAL {max_gap_minutes} MINUTES")
        )
    )
    return clicks.join(errors, cond, "leftOuter").select(
        F.col("c_user").alias("user_id"),
        "click_id",
        "error_id",
        (
            F.unix_timestamp("error_ts") - F.unix_timestamp("click_ts")
        ).alias("gap_sec"),
    )


def streaming_countmin(
    docs_stream: DataFrame, sketch_dir: str, text_col: str = "text"
):
    """Continuously-maintained Count-Min frequency sketch: each
    micro-batch contributes its own PARTIAL counter set
    (operators/sketches.py:countmin_sketch over just that batch), written
    to its own ``batch_id`` partition — effectively-once counters
    (sources/store.py).  The queryable sketch is the cell-wise SUM over partials
    (:func:`read_countmin`), and the Count-Min merge law guarantees it
    equals the one-shot sketch of everything ingested — the property the
    batch entry's pytest pins (test_countmin_sketch_properties_and_plan).

    This is the streaming shape of "how often does X occur in the feed":
    the corpus is never re-scanned, per-trigger cost is the batch's token
    explode + a 1024-cell aggregate, and the persisted state is
    O(batches · CM_DEPTH · CM_WIDTH) integers, compacting to
    O(CM_DEPTH · CM_WIDTH) whenever a maintenance pass rewrites the sum.

    Returns the started StreamingQuery (``availableNow`` — drain and
    stop; processing-time trigger in a live deployment).
    """
    return _available_now_sink(
        docs_stream,
        sketch_dir,
        apply_batch=functools.partial(
            countmin_apply_batch, sketch_dir=sketch_dir, text_col=text_col
        ),
    )


def countmin_apply_batch(
    batch_df: DataFrame, batch_id: int, sketch_dir: str, text_col: str = "text"
) -> None:
    """The foreachBatch body of :func:`streaming_countmin`, module-level
    so the replay contract is directly testable: re-running the SAME
    ``batch_id`` overwrites ONLY its own partition, leaving the summed
    sketch unchanged."""
    from polars_view_spark.operators.sketches import countmin_sketch

    _write_sink_batch(
        batch_df, batch_id, sketch_dir, lambda b: countmin_sketch(b, text_col)
    )


def read_countmin(spark, sketch_dir: str) -> DataFrame:
    """Collapse the batch-partitioned Count-Min partials into the
    queryable ``(j, bucket, c)`` sketch — usable anywhere the batch
    sketch is (countmin_estimates)."""
    partials = read_sink_or_empty(
        spark, sketch_dir, "j int, bucket bigint, c long, batch_id long"
    )
    return partials.groupBy("j", "bucket").agg(
        F.sum("c").cast("long").alias("c")
    )


def bloom_apply_batch(
    batch_df: DataFrame, batch_id: int, filter_dir: str, key_col: str = "fp"
) -> None:
    """foreachBatch body of :func:`streaming_bloom` (module-level so the
    replay contract is directly testable, like countmin_apply_batch):
    each micro-batch contributes its own PARTIAL Bloom filter to its own
    ``batch_id`` partition, so a re-run leaves the queryable filter
    (:func:`read_bloom`, bit_or over partials) unchanged."""
    from polars_view_spark.operators.sketches import bloom_build

    _write_sink_batch(
        batch_df, batch_id, filter_dir, lambda b: bloom_build(b, key_col)
    )


def streaming_bloom(
    keys_stream: DataFrame, filter_dir: str, key_col: str = "fp"
):
    """Continuously-maintained Bloom membership filter — the streaming
    face of operators/sketches.py:bloom_build, and the third mergeable
    sketch to ride the partial-per-batch + dynamic-overwrite idiom
    (after MinHash pairs and Count-Min): the OR-merge law guarantees the
    summed filter equals the one-shot filter of everything ingested, so
    the ingest-gate question 'have we EVER seen this fingerprint' is
    answerable mid-stream from O(BF_BITS) state, with the corpus never
    re-scanned.  Returns the started availableNow query."""

    return _available_now_sink(
        keys_stream,
        filter_dir,
        apply_batch=functools.partial(
            bloom_apply_batch, filter_dir=filter_dir, key_col=key_col
        ),
    )


def read_bloom(spark, filter_dir: str) -> DataFrame:
    """Collapse the batch-partitioned Bloom partials into the queryable
    ``(word, bits)`` filter — usable anywhere the batch-built filter is
    (bloom_probe)."""
    partials = read_sink_or_empty(
        spark, filter_dir, "word int, bits long, batch_id long"
    )
    return partials.groupBy("word").agg(
        F.expr("bit_or(bits)").cast("long").alias("bits")
    )


def streaming_pq_lookup(
    queries_stream: DataFrame,
    index_path: str,
    sink_dir: str,
    k: int = 5,
    scale: int = 1000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Continuous ADC lookup against the persisted PQ index
    (operators/similarity.py:pq_build_index / pq_query_index) — the
    memory-tier twin of :func:`streaming_ann_lookup`: per micro-batch the
    arriving query vectors are ADC-scored against the 16-int-per-vector
    codes dataset, which is never re-encoded.  Per-query independence
    from the FIXED index gives the same no-divergence property (union of
    batches == one-shot batch query of the distinct arrivals); delivery
    is effectively-once (sources/store.py)."""
    from polars_view_spark.operators.similarity import pq_query_index

    return _available_now_sink(
        queries_stream,
        sink_dir,
        lambda batch_df: pq_query_index(
            batch_df.sparkSession,
            batch_df,
            index_path,
            id_col=id_col,
            vec_col=vec_col,
            k=k,
            scale=scale,
        ),
    )


def streaming_ivfpq_lookup(
    queries_stream: DataFrame,
    index_path: str,
    corpus: DataFrame,
    sink_dir: str,
    k: int = 5,
    n_probe: int = 2,
    scale: int = 1000,
    shortlist: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Continuous lookup against the persisted IVF-PQ index
    (operators/similarity.py:ivfpq_build_index / ivfpq_query_index) —
    the fifth streaming build/query split (MinHash, IVF, containment,
    PQ, IVF-PQ), and the first whose per-batch scan is PARTITION-PRUNED:
    each micro-batch's probe cells dynamically prune the codes dataset
    to n_probe/n_cells of its files, so a query burst touches a sliver
    of the index where streaming_pq_lookup's flat ADC scans all codes.
    ``corpus`` is the static base table, joined BY ID for the exact
    rerank of O(queries × shortlist) rows per batch — never re-scanned.
    Per-query independence from the FIXED index gives the usual
    no-divergence property (union of batches == one-shot batch query);
    delivery is effectively-once (sources/store.py)."""
    from polars_view_spark.operators.similarity import ivfpq_query_index

    return _available_now_sink(
        queries_stream,
        sink_dir,
        lambda batch_df: ivfpq_query_index(
            batch_df.sparkSession,
            batch_df,
            index_path,
            corpus,
            id_col=id_col,
            vec_col=vec_col,
            k=k,
            n_probe=n_probe,
            scale=scale,
            shortlist=shortlist,
        ),
    )
