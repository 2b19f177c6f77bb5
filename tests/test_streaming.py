"""Structured Streaming: batch/stream parity + stateful operator."""

import pytest

SF = "/root/testdata/sf0.001"


def test_streaming_tumbling_matches_batch(spark):
    """availableNow drain of the streaming tumbling agg == batch operator."""
    from polars_view_spark.catalog import load_tables
    from polars_view_spark.operators.events import tumbling_agg
    from polars_view_spark.streaming.events import (
        read_event_stream,
        run_stream_to_memory,
        streaming_tumbling_agg,
    )

    stream = read_event_stream(spark, f"{SF}/events.parquet")
    run_stream_to_memory(streaming_tumbling_agg(stream), "stream_tumbling")
    got = {
        tuple(r)
        for r in spark.table("stream_tumbling")
        .select("window_start", "event_type", "n_events", "sum_value")
        .collect()
    }

    batch = tumbling_agg(load_tables(spark, SF, "events")["events"])
    want = {tuple(r) for r in batch.collect()}
    assert got == want
    assert len(want) > 0


def test_streaming_running_counts(spark):
    """applyInPandasWithState accumulates per-user counts across batches."""
    from polars_view_spark.catalog import load_tables
    from polars_view_spark.streaming.events import (
        read_event_stream,
        run_stream_to_memory,
        streaming_running_counts,
    )

    stream = read_event_stream(spark, f"{SF}/events.parquet")
    run_stream_to_memory(
        streaming_running_counts(stream), "stream_counts", output_mode="update"
    )
    got = {
        r["user_id"]: r["n_events"] for r in spark.table("stream_counts").collect()
    }

    batch = (
        load_tables(spark, SF, "events")["events"].groupBy("user_id").count().collect()
    )
    want = {r["user_id"]: r["count"] for r in batch}
    # update-mode memory sink may contain one row per micro-batch per user;
    # the FINAL count per user must match the batch count
    assert {u: got[u] for u in want} == want


def test_streaming_sliding_windows(spark):
    """Sliding windows: each event appears in width/slide = 2 windows."""
    from polars_view_spark.streaming.events import (
        read_event_stream,
        run_stream_to_memory,
        streaming_sliding_agg,
    )

    stream = read_event_stream(spark, f"{SF}/events.parquet")
    run_stream_to_memory(streaming_sliding_agg(stream), "stream_sliding")
    out = spark.table("stream_sliding")
    total_windowed = out.groupBy().sum("n_events").first()[0]
    n_events = 1000  # sf0.001 events rows
    assert total_windowed == 2 * n_events


def test_streaming_session_windows_match_batch(spark):
    """Native session_window sessions == the batch sessionize operator
    (same gap, same users) on a finite stream."""
    from polars_view_spark.catalog import load_tables
    from polars_view_spark.operators.events import sessionize
    from polars_view_spark.streaming.events import (
        read_event_stream,
        run_stream_to_memory,
        streaming_session_windows,
    )

    stream = read_event_stream(spark, f"{SF}/events.parquet")
    run_stream_to_memory(streaming_session_windows(stream), "stream_sessions")
    got = {
        (r["user_id"], r["session_start"], r["n_events"])
        for r in spark.table("stream_sessions").collect()
    }
    batch = sessionize(load_tables(spark, SF, "events")["events"], gap_minutes=30)
    want = {
        (r["user_id"], r["session_start"], r["n_events"]) for r in batch.collect()
    }
    assert got == want


def test_stream_stream_join_matches_batch(spark):
    """Watermarked stream-stream interval join == the same join on the
    static frame (append mode, finite input)."""
    from polars_view_spark.catalog import load_tables
    from polars_view_spark.streaming.events import (
        read_event_stream,
        run_stream_to_memory,
        streaming_error_after_click,
    )

    stream = read_event_stream(spark, f"{SF}/events.parquet")
    run_stream_to_memory(
        streaming_error_after_click(stream), "stream_ss_join", output_mode="append"
    )
    got = {
        (r["user_id"], r["error_id"], r["click_id"], r["gap_sec"])
        for r in spark.table("stream_ss_join").collect()
    }

    batch_events = load_tables(spark, SF, "events")["events"]
    want = {
        (r["user_id"], r["error_id"], r["click_id"], r["gap_sec"])
        for r in streaming_error_after_click(batch_events).collect()
    }
    assert len(want) > 0
    assert got == want


def test_watermark_bounds_state(spark):
    """The watermarked plan carries an EventTimeWatermark node (state is
    bounded — the property that matters at firehose scale)."""
    from polars_view_spark.streaming.events import (
        read_event_stream,
        streaming_tumbling_agg,
    )

    stream = read_event_stream(spark, f"{SF}/events.parquet")
    agg = streaming_tumbling_agg(stream)
    assert agg.isStreaming
    plan = agg._jdf.queryExecution().analyzed().toString()
    assert "EventTimeWatermark" in plan


def test_streaming_dedup_drops_redelivered_files(spark, tmp_path):
    """Two identical files in the landing dir = an at-least-once
    redelivery; streaming dedup must emit each event_id exactly once and
    match the batch distinct count."""
    import shutil

    from polars_view_spark.streaming.events import (
        read_event_stream,
        run_stream_to_memory,
        streaming_dedup,
    )

    landing = tmp_path / "landing"
    landing.mkdir()
    shutil.copy(f"{SF}/events.parquet", landing / "delivery_1.parquet")
    shutil.copy(f"{SF}/events.parquet", landing / "delivery_2.parquet")

    stream = read_event_stream(spark, str(landing))
    run_stream_to_memory(streaming_dedup(stream), "stream_dedup", output_mode="append")

    got = spark.table("stream_dedup").count()
    want = (
        spark.read.option("mergeSchema", "false").parquet(f"{SF}/events.parquet").count()
    )
    assert got == want, (got, want)
    # and each id exactly once
    dup = (
        spark.table("stream_dedup").groupBy("event_id").count().filter("count > 1").count()
    )
    assert dup == 0


def test_streaming_contamination_matches_batch(spark):
    """Arriving docs flagged against the static benchmark set must equal
    the batch decontamination operator over the same corpus."""
    from pyspark.sql import functions as F

    from polars_view_spark.catalog import load_tables
    from polars_view_spark.operators.dedup import contamination_pairs
    from polars_view_spark.streaming.events import (
        read_document_stream,
        run_stream_to_memory,
        streaming_contamination,
    )

    docs = load_tables(spark, SF, "documents")["documents"]
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    stream = read_document_stream(spark, f"{SF}/documents.parquet")
    run_stream_to_memory(
        streaming_contamination(stream, bench), "stream_contam"
    )
    got = {
        (r["doc"], r["bench_id"], r["n_overlap"])
        for r in spark.table("stream_contam").collect()
    }
    want = {
        (r["doc"], r["bench_id"], r["n_overlap"])
        for r in contamination_pairs(docs, bench).collect()
    }
    assert got == want and len(want) > 0


def test_streaming_upsert_matches_sequential_batch_merge(spark, tmp_path):
    """Two change files drained one per micro-batch through the
    foreachBatch MERGE must leave the same snapshot as applying the two
    batches sequentially with the batch merge_upsert — and survive a
    mid-stream delete + re-insert of the same key.  Holds for a plain
    path and for a ``file:`` URI (the snapshot probe and swap must
    resolve the scheme, not ask the local OS)."""
    from polars_view_spark.operators.snapshot import merge_upsert
    from polars_view_spark.streaming.events import streaming_upsert

    schema = "k INT, s STRING, v DOUBLE, is_delete BOOLEAN"
    b1 = [(1, "one", 1.0, False), (2, "two", 2.0, False), (3, "three", 3.0, False)]
    b2 = [(2, "two2", 2.5, False), (3, None, 0.0, True), (4, "four", 4.0, False)]
    landing = tmp_path / "changes"
    landing.mkdir()
    # one PLAIN parquet file per micro-batch (a write.parquet() directory
    # would be invisible to the non-recursive file stream source)
    import pyarrow as pa
    import pyarrow.parquet as pq

    def write_batch(rows, name):
        cols = list(zip(*rows))
        tbl = pa.table(
            {
                "k": pa.array(cols[0], pa.int32()),
                "s": pa.array(cols[1], pa.string()),
                "v": pa.array(cols[2], pa.float64()),
                "is_delete": pa.array(cols[3], pa.bool_()),
            }
        )
        pq.write_table(tbl, str(landing / name))

    write_batch(b1, "b1.parquet")
    write_batch(b2, "b2.parquet")
    # the file stream source orders micro-batches by MODIFICATION TIME,
    # not name — two files written back-to-back can share an mtime (or
    # invert at fs granularity), flipping the drain order and
    # re-inserting the deleted key; pin strictly ascending mtimes
    import os as _os
    import time as _time

    now = _time.time()
    _os.utime(landing / "b1.parquet", (now - 10, now - 10))
    _os.utime(landing / "b2.parquet", (now, now))

    base = spark.createDataFrame(b1, schema).filter("NOT is_delete").drop("is_delete")
    want_df = merge_upsert(base, spark.createDataFrame(b2, schema), ["k"], "is_delete")
    want = sorted(map(tuple, want_df.select("k", "s", "v").collect()))
    assert [r[0] for r in want] == [1, 2, 4]

    for snap in (str(tmp_path / "snapshot"), "file://" + str(tmp_path / "snap_uri")):
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(str(landing))
        )
        streaming_upsert(stream, snap, ["k"], "is_delete").awaitTermination()
        got = sorted(
            map(tuple, spark.read.parquet(snap).select("k", "s", "v").collect())
        )
        assert got == want, (snap, got, want)


def test_scan_operators_run_on_the_ingest_stream(spark):
    """gopher_quality + redact_pii are pure projections, so the SAME
    operator objects run on a streaming frame — the first-pass filter
    happens at ingest, matching the batch pass bit-for-bit."""
    from polars_view_spark.operators.textstats import gopher_quality, redact_pii
    from polars_view_spark.streaming.events import (
        read_document_stream,
        run_stream_to_memory,
    )

    path = f"{SF}/documents.parquet"

    def transform(df):
        return redact_pii(gopher_quality(df)).select(
            "doc_id", "passes_gopher", "dup_2gram_frac", "n_email", "redacted"
        )

    stream = transform(read_document_stream(spark, path))
    run_stream_to_memory(stream, "stream_scan_ops", output_mode="append")

    got = sorted(map(tuple, spark.table("stream_scan_ops").collect()))
    want = sorted(map(tuple, transform(spark.read.parquet(path)).collect()))
    assert got == want and len(got) > 0


@pytest.mark.parametrize("scheme", ["", "file:"])
@pytest.mark.parametrize("layout", ["dataset_dir", "single_file"])
def test_document_stream_reads_dirs_and_files_by_path_or_uri(
    spark, tmp_path, scheme, layout
):
    """read_document_stream takes a Spark dataset directory named
    ``*.parquet`` or one ``.parquet`` file, by plain path or ``file:`` URI;
    a dataset directory mistaken for a file would drain zero rows."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from polars_view_spark.streaming.events import (
        DOCUMENT_SCHEMA,
        read_document_stream,
        run_stream_to_memory,
    )

    rows = [(1, "a b", "en", "web", 3), (2, "c d", "pt", "web", 3)]
    path = str(tmp_path / "docs.parquet")
    if layout == "dataset_dir":
        spark.createDataFrame(rows, DOCUMENT_SCHEMA).write.parquet(path)
    else:
        cols = ["doc_id", "text", "lang", "source", "n_chars"]
        pq.write_table(
            pa.table({c: [r[i] for r in rows] for i, c in enumerate(cols)}), path
        )
    name = f"doc_stream_{layout}_{'uri' if scheme else 'plain'}"
    run_stream_to_memory(
        read_document_stream(spark, scheme + path), name, output_mode="append"
    )
    assert sorted(r["doc_id"] for r in spark.table(name).collect()) == [1, 2]


def test_streaming_lm_score_matches_batch(spark):
    """LM quality scoring at ingest: the model is trained OFFLINE on the
    static reference slice (lm_train), then the SAME lm_score operator runs
    on the arriving document stream via a stream-static broadcast join —
    per-doc scores must equal the batch pass exactly (update mode; docs
    with zero bigrams never emit, which the batch wrapper handles)."""
    from pyspark.sql import functions as F

    from polars_view_spark.operators.textstats import lm_score, lm_train
    from polars_view_spark.streaming.events import (
        read_document_stream,
        run_stream_to_memory,
    )

    path = f"{SF}/documents.parquet"
    batch_docs = spark.read.parquet(path)
    model, total = lm_train(batch_docs.filter(F.col("lang") == "en"))

    stream = lm_score(read_document_stream(spark, path), model, total)
    run_stream_to_memory(stream, "stream_lm", output_mode="update")

    got = sorted(map(tuple, spark.table("stream_lm").collect()))
    want = sorted(map(tuple, lm_score(batch_docs, model, total).collect()))
    assert got == want and len(got) > 0


def _write_landing_3(docs, landing: str) -> None:
    """Three landing files → three micro-batches (maxFilesPerTrigger=1).

    The file source orders files by MODIFICATION TIME; one parquet write
    stamps all three parts within the same millisecond, so batch order
    under ties is whatever the listing happens to return.  Pair-union
    results are order-independent, but pin ascending mtimes anyway (as the
    upsert test does) so a failure is never confounded by batch order."""
    import os as _os

    docs.withColumn("__f", docs.doc_id % 3).repartition(3, "__f").drop(
        "__f"
    ).write.parquet(landing)
    import glob as _glob

    base = _os.path.getmtime(landing)
    for i, p in enumerate(sorted(_glob.glob(_os.path.join(landing, "part-*")))):
        _os.utime(p, (base + 10 * i, base + 10 * i))


def _pair_diff(got, want) -> str:
    """Bounded symmetric-difference report for pair-set asserts."""
    g, w = set(got), set(want)
    extra, missing = sorted(g - w)[:5], sorted(w - g)[:5]
    return (
        f"got {len(got)} rows ({len(g)} distinct), want {len(want)} "
        f"({len(w)} distinct); extra={extra} missing={missing}"
    )


def test_streaming_minhash_dedup_matches_batch(spark, tmp_path):
    """Union of per-trigger near-dup pairs over an arriving corpus equals
    the one-shot batch pairing of the final corpus — every pair discovered
    exactly once, in the trigger where its later member lands."""
    from polars_view_spark.operators.dedup import minhash_lsh_pairs
    from polars_view_spark.streaming.events import streaming_minhash_dedup

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    landing = str(tmp_path / "landing")
    _write_landing_3(docs, landing)

    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(landing)
    )
    q = streaming_minhash_dedup(
        stream, str(tmp_path / "corpus"), str(tmp_path / "pairs")
    )
    assert q.awaitTermination(300), "stream did not drain in time"

    got = {
        (r["doc1"], r["doc2"], r["jaccard"])
        for r in spark.read.parquet(str(tmp_path / "pairs")).collect()
    }
    want = {
        (r["doc1"], r["doc2"], r["jaccard"])
        for r in minhash_lsh_pairs(docs, "doc_id", "text").collect()
    }
    assert want, "fixture must contain near-dup pairs"
    assert got == want, _pair_diff(got, want)
    # corpus snapshot accumulated every document exactly once
    assert spark.read.parquet(str(tmp_path / "corpus")).count() == docs.count()

    # at-least-once replay safety (ADVICE r02): re-running the whole stream
    # with a fresh checkpoint replays every batch against the already-
    # populated sinks; the batch_id-partitioned dynamic-overwrite writes
    # must replace, not duplicate
    import shutil

    shutil.rmtree(str(tmp_path / "corpus.__pvs_ckpt"))
    q2 = streaming_minhash_dedup(
        stream, str(tmp_path / "corpus"), str(tmp_path / "pairs")
    )
    assert q2.awaitTermination(300), "replay did not drain in time"
    # compare as a sorted LIST, not a set: the regression this guards
    # (a replayed batch pairing against LATER batches' corpus) produces
    # duplicate rows across batch_id partitions, which a set would
    # silently collapse
    got2 = sorted(
        (r["doc1"], r["doc2"], r["jaccard"])
        for r in spark.read.parquet(str(tmp_path / "pairs")).collect()
    )
    assert got2 == sorted(want), "replay duplicated or lost pair rows: " + _pair_diff(
        got2, sorted(want)
    )
    assert spark.read.parquet(str(tmp_path / "corpus")).count() == docs.count()

    # the same drain with file: URI sinks: the corpus-state probe must
    # resolve the scheme, or every batch pairs against an empty corpus
    # and the cross-batch pairs are silently lost
    uri = "file://" + str(tmp_path)
    q3 = streaming_minhash_dedup(stream, uri + "/corpus_uri", uri + "/pairs_uri")
    assert q3.awaitTermination(300), "URI drain did not finish in time"
    got3 = sorted(
        (r["doc1"], r["doc2"], r["jaccard"])
        for r in spark.read.parquet(uri + "/pairs_uri").collect()
    )
    assert got3 == sorted(want), "file: URI sinks: " + _pair_diff(got3, sorted(want))


def test_streaming_containment_screen_matches_batch(spark, tmp_path):
    """Union of per-trigger containment flags over an arriving doc stream
    equals the one-shot batch screen of all arrivals — EXACTLY, with no
    divergence window: the reference corpus is fixed, so every arrival's
    verdict is batch-invariant.  A full-stream replay with a fresh
    checkpoint must replace, not duplicate (batch_id dynamic overwrite)."""
    from polars_view_spark.operators.dedup import doc_containment_screen
    from polars_view_spark.streaming.events import (
        read_sink_or_empty,
        streaming_containment_screen,
    )

    flag_schema = (
        "arrival_doc BIGINT, corpus_doc BIGINT, n_shared BIGINT, "
        "n_sig BIGINT, share_pct BIGINT"
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    corpus = docs.filter("doc_id % 7 != 0")
    arrivals = docs.filter("doc_id % 7 = 0")
    landing = str(tmp_path / "landing")
    _write_landing_3(arrivals, landing)

    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(landing)
    )
    flags_dir = str(tmp_path / "flags")
    q = streaming_containment_screen(stream, corpus, flags_dir)
    assert q.awaitTermination(300), "stream did not drain in time"

    cols = ("arrival_doc", "corpus_doc", "n_shared", "n_sig", "share_pct")
    got = sorted(
        tuple(r[c] for c in cols)
        for r in read_sink_or_empty(spark, flags_dir, flag_schema).collect()
    )
    want = sorted(
        tuple(r[c] for c in cols)
        for r in doc_containment_screen(corpus, arrivals).collect()
    )
    assert want, "fixture must contain containment flags"
    assert got == want

    # replay: fresh checkpoint re-runs every batch against the populated
    # sink; partition overwrite must leave the flag LIST unchanged
    import shutil

    shutil.rmtree(flags_dir + ".__pvs_ckpt")
    q2 = streaming_containment_screen(stream, corpus, flags_dir)
    assert q2.awaitTermination(300), "replay did not drain in time"
    got2 = sorted(
        tuple(r[c] for c in cols)
        for r in read_sink_or_empty(spark, flags_dir, flag_schema).collect()
    )
    assert got2 == want, "replay duplicated or lost flag rows"


def test_streaming_containment_screen_flag_free_run(spark, tmp_path):
    """A stream whose arrivals produce ZERO flags must leave a readable
    (empty) result through read_sink_or_empty, not a crash — the sink is
    created lazily by the first flag-writing batch, so a flag-free run
    may write no parquet files at all."""
    from polars_view_spark.streaming.events import (
        read_sink_or_empty,
        streaming_containment_screen,
    )

    corpus = spark.createDataFrame(
        [(1, "standing corpus about orbital mechanics and launch windows")],
        "doc_id long, text string",
    )
    arrivals = spark.createDataFrame(
        [(10, "entirely unrelated arrival concerning sourdough hydration")],
        "doc_id long, text string",
    )
    landing = str(tmp_path / "landing")
    arrivals.coalesce(1).write.parquet(landing)
    stream = spark.readStream.schema(arrivals.schema).parquet(landing)
    flags_dir = str(tmp_path / "flags")
    q = streaming_containment_screen(stream, corpus, flags_dir)
    assert q.awaitTermination(120)
    out = read_sink_or_empty(
        spark,
        flags_dir,
        "arrival_doc BIGINT, corpus_doc BIGINT, n_shared BIGINT, "
        "n_sig BIGINT, share_pct BIGINT",
    )
    assert out.count() == 0 and out.columns[0] == "arrival_doc"


def test_read_sink_or_empty_handles_uri_paths(spark, tmp_path):
    """The sink probe resolves the path through the Hadoop FileSystem API,
    so a schemed URI (``file:``) probes the actual store — an os-level
    glob would never match it and silently read a populated sink back as
    empty (ADVICE r06)."""
    from polars_view_spark.streaming.events import read_sink_or_empty

    sink = tmp_path / "uri_sink"
    spark.createDataFrame([(1, 10)], "a long, b long").write.parquet(str(sink))
    uri = "file://" + str(sink)
    out = read_sink_or_empty(spark, uri, "a BIGINT, b BIGINT")
    assert [(r["a"], r["b"]) for r in out.collect()] == [(1, 10)]
    empty = read_sink_or_empty(
        spark, "file://" + str(tmp_path / "missing"), "a BIGINT, b BIGINT"
    )
    assert empty.count() == 0 and empty.columns == ["a", "b"]


def test_streaming_minhash_crash_replay_of_partial_batch(spark, tmp_path):
    """Crash-replay of a PARTIALLY written micro-batch (VERDICT r03 task 4).

    foreachBatch is at-least-once: a crash between the pairs write and the
    corpus write leaves batch N's pairs partition on disk, its corpus
    partition missing, and no commit marker — on restart Structured
    Streaming re-runs batch N with the SAME batch_id (offsets log present,
    commits log absent).  The batch_id-partitioned dynamic-overwrite sinks
    must make that retry idempotent: the replayed batch overwrites its own
    pairs partition (no duplicate rows) and restores the corpus partition,
    and — the `< batch_id` subtlety at streaming/events.py — must pair
    against strictly earlier batches only, so the half-written earlier
    attempt can't change what the retry discovers."""
    import shutil

    from polars_view_spark.operators.dedup import minhash_lsh_pairs
    from polars_view_spark.streaming.events import streaming_minhash_dedup

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    landing = str(tmp_path / "landing")
    _write_landing_3(docs, landing)

    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(landing)
    )
    corpus_dir = str(tmp_path / "corpus")
    pairs_dir = str(tmp_path / "pairs")
    q = streaming_minhash_dedup(stream, corpus_dir, pairs_dir)
    assert q.awaitTermination(300), "stream did not drain in time"

    want = sorted(
        (r["doc1"], r["doc2"], r["jaccard"])
        for r in minhash_lsh_pairs(docs, "doc_id", "text").collect()
    )
    assert want, "fixture must contain near-dup pairs"
    ckpt = tmp_path / "corpus.__pvs_ckpt"

    # Make the trailing no-data micro-batch — the rare engine behavior
    # behind the original flake — the DETERMINISTIC norm: forge batch
    # max+1 into both logs as a no-data entry (an offsets entry with an
    # unchanged logOffset is exactly what MicroBatchExecution records for
    # an empty batch; getBatch(start == end) yields no rows).
    forged = 1 + max(
        int(p.name) for p in (ckpt / "commits").iterdir() if p.name.isdigit()
    )
    for log in ("offsets", "commits"):
        src = (ckpt / log / str(forged - 1)).read_text()
        (ckpt / log / str(forged)).write_text(src)

    commits = sorted(
        int(p.name) for p in (ckpt / "commits").iterdir()
        if p.name.isdigit()
    )
    # anchor on the last DATA batch, not the last commit: the engine
    # occasionally appends a trailing no-data micro-batch whose commit
    # marker exists but whose (empty) batch wrote no corpus partition —
    # picking max(commits) then failed the partition-exists assert below
    # as a load-dependent flake
    last_data = max(
        int(p.name.split("=")[1])
        for p in (tmp_path / "corpus").iterdir()
        if p.name.startswith("ingest_batch=")
    )

    # simulate the crash: batch `last_data` wrote pairs, died before the
    # corpus write and before committing — corpus partition gone, commit
    # marker gone, offsets entry intact (same batch content + id on
    # restart).  Everything AFTER the crashed batch must go from BOTH
    # logs: restart resumes from the latest OFFSETS entry (a commit gap
    # >1 only logs a warning and re-runs just that latest batch), so a
    # surviving trailing no-data entry would mask the crash and the data
    # batch would never be replayed.
    corpus_part = tmp_path / "corpus" / f"ingest_batch={last_data}"
    assert corpus_part.exists(), "fixture must have a last-batch partition"
    shutil.rmtree(str(corpus_part))

    def _drop_log_entry(log: str, b: int) -> None:
        p = ckpt / log / str(b)
        if p.exists():
            p.unlink()
        # local-FS checkpoints keep a .crc sidecar per log file; a real
        # HDFS crash loses both, and a leftover sidecar blocks the rename
        # when the entry is rewritten
        crc = ckpt / log / f".{b}.crc"
        if crc.exists():
            crc.unlink()

    offsets = sorted(
        int(p.name) for p in (ckpt / "offsets").iterdir() if p.name.isdigit()
    )
    for b in [b for b in sorted(set(commits) | set(offsets)) if b >= last_data]:
        _drop_log_entry("commits", b)
        if b > last_data:  # keep last_data's offsets: same content on replay
            _drop_log_entry("offsets", b)

    q2 = streaming_minhash_dedup(stream, corpus_dir, pairs_dir)
    assert q2.awaitTermination(300), "replay did not drain in time"

    # sorted LIST compare: duplicates across batch_id partitions are the
    # failure mode and a set would collapse them
    got = sorted(
        (r["doc1"], r["doc2"], r["jaccard"])
        for r in spark.read.parquet(pairs_dir).collect()
    )
    assert got == want, "crash replay duplicated or lost pair rows: " + _pair_diff(
        got, want
    )
    corpus = spark.read.parquet(corpus_dir)
    assert corpus.count() == docs.count()
    assert corpus.select("doc_id").distinct().count() == docs.count()


def test_streaming_binary_ingest_matches_batch(spark, tmp_path):
    """availableNow drain of the streaming binaryFile source == the batch
    read_binary_dir on the same landing dir, and the same downstream
    decode pass (mapInPandas) runs per micro-batch."""
    from pyspark.sql import functions as F

    from polars_view_spark.operators.multimodal import decode_real
    from polars_view_spark.sources.readers import read_binary_dir
    from polars_view_spark.streaming.events import (
        read_binary_stream,
        run_stream_to_memory,
    )
    from tests.test_multimodal import png_bytes, wav_bytes

    landing = tmp_path / "media"
    landing.mkdir()
    (landing / "a.png").write_bytes(png_bytes(64, 32))
    (landing / "b.png").write_bytes(png_bytes(8, 8))
    (landing / "c.wav").write_bytes(wav_bytes(22050))
    (landing / "skip.txt").write_text("not media")

    def to_decoded(df):
        media = df.select(
            F.abs(F.xxhash64("path")).alias("doc_id"),
            F.element_at(F.split("path", "/"), -1).alias("name"),
            F.col("content").alias("payload"),
        )
        return decode_real(media)

    stream = read_binary_stream(spark, str(landing), glob="*.{png,wav}")
    assert stream.isStreaming and set(stream.columns) == {
        "path", "length", "content",
    }
    run_stream_to_memory(to_decoded(stream), "stream_bin", output_mode="append")
    got = sorted(map(tuple, spark.table("stream_bin").collect()))
    want = sorted(
        map(tuple, to_decoded(read_binary_dir(spark, str(landing), "*.{png,wav}")).collect())
    )
    assert got == want and len(got) == 3
    fmts = sorted(r[2] for r in got)
    assert fmts == ["png", "png", "wav"]


def test_event_stream_starts_on_empty_directory(spark, tmp_path):
    """A live source whose directory is empty at query start (files land
    later) must still construct — the schema probe falls back to
    EVENT_SCHEMA / a caller-supplied schema instead of raising (ADVICE
    r02)."""
    from polars_view_spark.streaming.events import (
        EVENT_SCHEMA,
        read_event_stream,
        streaming_tumbling_agg,
    )

    empty = str(tmp_path / "landing")
    import os

    os.makedirs(empty)
    stream = read_event_stream(spark, empty)
    assert stream.isStreaming
    assert dict(stream.dtypes)["ts"] == "timestamp"  # nanos-long converted
    # the downstream watermark agg builds on the fallback schema too
    assert streaming_tumbling_agg(stream).isStreaming

    # caller-supplied schema wins over the probe
    from pyspark.sql import types as T

    custom = T.StructType(
        [f for f in EVENT_SCHEMA if f.name != "ts"]
        + [T.StructField("ts", T.TimestampType())]
    )
    s2 = read_event_stream(spark, empty, schema=custom)
    assert dict(s2.dtypes)["ts"] == "timestamp"


def test_chunking_runs_on_the_ingest_stream(spark):
    """chunk_documents is explode + projection, so the SAME operator runs
    on the arriving corpus — RAG chunking at ingest, byte-for-byte equal
    to the batch pass."""
    from polars_view_spark.operators.packing import chunk_documents
    from polars_view_spark.streaming.events import (
        read_document_stream,
        run_stream_to_memory,
    )

    path = f"{SF}/documents.parquet"
    stream = chunk_documents(read_document_stream(spark, path), 200, 50)
    run_stream_to_memory(stream, "stream_chunks", output_mode="append")

    got = sorted(map(tuple, spark.table("stream_chunks").collect()))
    want = sorted(
        map(tuple, chunk_documents(spark.read.parquet(path), 200, 50).collect())
    )
    assert got == want and len(got) > 0


def test_streaming_trending_matches_batch(spark):
    """Drained trending counts + the top-k rank equal the batch pass: the
    same per-window top-3 event types, same counts."""
    from polars_view_spark.catalog import load_tables
    from polars_view_spark.streaming.events import (
        read_event_stream,
        run_stream_to_memory,
        streaming_trending,
        topk_per_window,
    )

    stream = read_event_stream(spark, f"{SF}/events.parquet")
    run_stream_to_memory(streaming_trending(stream), "stream_trend")
    got = [
        tuple(r) for r in topk_per_window(spark.table("stream_trend")).collect()
    ]

    batch_counts = streaming_trending(load_tables(spark, SF, "events")["events"])
    want = [tuple(r) for r in topk_per_window(batch_counts).collect()]
    assert got == want and len(got) > 0


def test_streaming_anomaly_matches_batch_single_drain(spark):
    """availableNow drain of the stateful trailing z-score == batch window
    SQL over the same events — identical flagged rows, same order."""
    from polars_view_spark.catalog import entries
    from polars_view_spark.streaming.events import (
        read_event_stream,
        run_stream_to_memory,
        streaming_anomaly,
    )

    stream = read_event_stream(spark, f"{SF}/events.parquet")
    run_stream_to_memory(
        streaming_anomaly(stream), "anom_single", output_mode="append",
        state_partitions=8,
    )
    got = [tuple(r) for r in spark.table("anom_single").orderBy("event_id").collect()]
    want = [
        tuple(r)
        for r in entries()["e_anomaly_zscore"].spark_fn(spark, SF).collect()
    ]
    assert got == want and len(want) > 0


def test_streaming_anomaly_state_survives_batch_boundaries(spark, tmp_path):
    """The last-9-values state must hand off across micro-batches: the
    events are split into three time-ordered files (maxFilesPerTrigger=1
    → three batches), and a trailing window straddling a file boundary
    must still see its pre-boundary history.  Flagged rows must equal the
    single-drain (and hence batch) result exactly."""
    from polars_view_spark.catalog import entries, load_tables
    from polars_view_spark.streaming.events import (
        read_event_stream,
        run_stream_to_memory,
        streaming_anomaly,
    )

    ev = load_tables(spark, SF, "events")["events"].orderBy("ts", "event_id")
    rows = ev.collect()
    third = len(rows) // 3
    src = tmp_path / "events_split"
    src.mkdir()
    for i, lo in enumerate((0, third, 2 * third)):
        hi = len(rows) if i == 2 else (lo + third)
        chunk = spark.createDataFrame(rows[lo:hi], ev.schema)
        # one file per chunk, named in time order
        chunk.coalesce(1).write.parquet(str(src / f"chunk{i}"))
    # flatten: the file source streams a directory of parquet files
    import shutil

    flat = tmp_path / "flat"
    flat.mkdir()
    import os as _os
    import time as _time

    base = int(_time.time()) - 100
    for i in range(3):
        part = next((src / f"chunk{i}").glob("part-*.parquet"))
        dst = flat / f"{i:03d}.parquet"
        shutil.copy(part, dst)
        # the file source orders micro-batches by MODIFICATION TIME, not
        # name: identical copy-mtimes make the batch order (and thus the
        # trailing windows) nondeterministic — pin ascending mtimes, the
        # same contract a real time-ordered backfill provides
        _os.utime(dst, (base + i, base + i))

    stream = read_event_stream(spark, str(flat))
    run_stream_to_memory(
        streaming_anomaly(stream), "anom_split", output_mode="append",
        state_partitions=8,
    )
    got = [tuple(r) for r in spark.table("anom_split").orderBy("event_id").collect()]
    want = [
        tuple(r)
        for r in entries()["e_anomaly_zscore"].spark_fn(spark, SF).collect()
    ]
    assert got == want and len(want) > 0


def test_streaming_anomaly_survives_null_values(spark, tmp_path):
    """r04 review finding: a NULL value must not kill the stateful task
    (int(NaN) raised inside applyInPandasWithState) and must not skew
    neighbors' windows — both twins drop it before windowing."""
    import datetime as dt

    from polars_view_spark.streaming.events import (
        read_event_stream,
        run_stream_to_memory,
        streaming_anomaly,
    )

    base = dt.datetime(2024, 1, 1)
    rows = [
        (i, base + dt.timedelta(minutes=i), 1,
         "click", None if i == 3 else (100.0 if i != 8 else 9000.0), "{}")
        for i in range(10)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string"
    )
    src = tmp_path / "nulls"
    df.coalesce(1).write.parquet(str(src))
    stream = read_event_stream(spark, str(src))
    run_stream_to_memory(
        streaming_anomaly(stream), "anom_nulls", output_mode="append",
        state_partitions=2,
    )
    got = [tuple(r) for r in spark.table("anom_nulls").collect()]
    # the spike (event 8) is flagged; the NULL row neither crashes the
    # query nor appears in the output
    assert (8, 1, 9000.0) in got
    assert all(r[0] != 3 for r in got)


def test_watermark_drops_too_late_rows_and_keeps_late_ones(spark, tmp_path):
    """The watermark's actual cut, pinned where Spark GUARANTEES it.

    The guarantee is one-directional: a below-watermark row whose window
    state still exists may be aggregated anyway (eviction runs at end of
    batch, AFTER merging input — empirically it is).  The hard guarantee
    is post-finalization: once append mode has emitted a window, a
    too-late row for it must be dropped, or the sink would see the same
    window twice.  So the fixture finalizes the 10:00 window in batch 2,
    then delivers a 10:45 straggler in batch 3 and asserts (a) exactly
    one 10:00 output row, (b) its count excludes the straggler, while a
    merely-late row inside the horizon still lands in its own window."""
    import os

    from polars_view_spark.streaming.events import (
        read_event_stream,
        run_stream_to_memory,
        streaming_tumbling_agg,
    )

    landing = tmp_path / "landing"
    landing.mkdir()

    def land(i, rows, mtime):
        df = spark.createDataFrame(
            [(j, ts, 1, "click", 1.0, "{}") for j, ts in enumerate(rows)],
            "event_id long, ts string, user_id long, event_type string, "
            "value double, props string",
        ).selectExpr(
            "event_id", "CAST(ts AS TIMESTAMP) AS ts", "user_id",
            "event_type", "value", "props",
        )
        one = tmp_path / f"one_{i}"
        df.coalesce(1).write.parquet(str(one))
        import glob as globmod
        import shutil

        src = globmod.glob(str(one / "part-*.parquet"))[0]
        dst = landing / f"delivery_{i}.parquet"
        shutil.copy(src, dst)
        os.utime(dst, (mtime, mtime))

    # batch 1: two rows in the 10:00 window; a 12:30 row pushes the
    # watermark for subsequent batches to 11:30 (1h horizon)
    land(1, ["2024-01-01 10:05:00", "2024-01-01 10:15:00", "2024-01-01 12:30:00"], 1_700_000_000)
    # batch 2: 11:45 is late relative to 12:30 but inside the horizon ->
    # lands in its own window; end of THIS batch finalizes+emits the
    # 10:00 window (end 11:00 <= watermark 11:30) at count 2
    land(2, ["2024-01-01 11:45:00"], 1_700_000_100)
    # batch 3: 10:45 arrives AFTER its window was finalized -> must be
    # dropped (re-admitting it would re-emit the window in append mode);
    # 14:00 advances the watermark to 13:00, finalizing 11:00 and 12:00
    land(3, ["2024-01-01 10:45:00", "2024-01-01 14:00:00"], 1_700_000_200)

    stream = read_event_stream(spark, str(landing))
    run_stream_to_memory(
        streaming_tumbling_agg(stream, width="1 hour", watermark="1 hour"),
        "stream_late_drop",
        output_mode="append",
    )
    rows = [
        (r["window_start"], r["n_events"])
        for r in spark.table("stream_late_drop").collect()
    ]
    # exactly ONE 10:00 output row — a second one would mean the
    # straggler recreated state and append re-emitted the window
    ten = [n for w, n in rows if w == "2024-01-01 10:00"]
    assert ten == [2], rows
    # the merely-late 11:45 row was admitted into its own window
    assert ("2024-01-01 11:00", 1) in rows, rows
    assert ("2024-01-01 12:00", 1) in rows, rows


def test_python_stream_source_step_invariance(spark):
    """The Python-API stream source must deliver the same row SET no
    matter how the offset range is sliced into micro-batches (step 37 vs
    one giant batch) — the property checkpoint replay via
    readBetweenOffsets depends on, and what the catalog oracle's
    regeneration assumes."""
    from polars_view_spark.sources.synthetic import drain_synth_stream

    a = {
        tuple(r)
        for r in drain_synth_stream(spark, "pyds_s37", n=200, seed=11, step=37).collect()
    }
    b = {
        tuple(r)
        for r in drain_synth_stream(spark, "pyds_s500", n=200, seed=11, step=500).collect()
    }
    assert a == b and len(a) == 200


def test_streaming_static_join_matches_batch(spark):
    """availableNow drain of the stream-static enrichment == the same
    broadcast join + window agg run in batch — and the join itself is
    stateless (only the window agg appears in the state ops)."""
    from polars_view_spark.catalog import load_tables
    from polars_view_spark.streaming.events import (
        read_event_stream,
        run_stream_to_memory,
        streaming_static_enrich_agg,
    )
    from pyspark.sql import functions as F

    dim = load_tables(spark, SF, "customer")["customer"]
    stream = read_event_stream(spark, f"{SF}/events.parquet")
    run_stream_to_memory(
        streaming_static_enrich_agg(stream, dim), "stream_static_join"
    )
    got = {tuple(r) for r in spark.table("stream_static_join").collect()}

    events = load_tables(spark, SF, "events")["events"]
    batch = (
        events.join(
            F.broadcast(
                dim.select(F.col("c_custkey").alias("user_id"), "c_mktsegment")
            ),
            "user_id",
        )
        .groupBy(F.window("ts", "1 hour").alias("w"), "c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value") + F.lit(1e-6), 2).alias("sum_value"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm").alias("window_start"),
            F.col("c_mktsegment").alias("segment"),
            "n_events",
            "sum_value",
        )
    )
    want = {tuple(r) for r in batch.collect()}
    assert got == want
    assert len(want) > 0


def test_streaming_ann_lookup_matches_batch(spark, tmp_path):
    """Union of per-micro-batch IVF lookups == one-shot batch query of all
    arrivals (per-query independence from the FIXED index), across a
    multi-file arrival pattern so more than one trigger actually fires."""
    from polars_view_spark.catalog import load_tables
    from polars_view_spark.operators.similarity import (
        ivf_build_index,
        ivf_query_index,
    )
    from polars_view_spark.streaming.events import (
        read_sink_or_empty,
        streaming_ann_lookup,
    )

    emb = load_tables(spark, SF, "embeddings")["embeddings"]
    idx = str(tmp_path / "ivf")
    ivf_build_index(emb, idx)

    # queries arrive as three separate files -> three micro-batches
    qdir = tmp_path / "arrivals"
    queries = emb.filter("vec_id < 12")
    for lo, hi in ((0, 4), (4, 8), (8, 12)):
        queries.filter(f"vec_id >= {lo} AND vec_id < {hi}").coalesce(
            1
        ).write.mode("append").parquet(str(qdir))

    stream = (
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(qdir))
    )
    sink = str(tmp_path / "hits")
    streaming_ann_lookup(stream, idx, sink).awaitTermination()

    got = {
        (r["query_id"], r["neighbor_id"], r["score"], r["rank"])
        for r in read_sink_or_empty(
            spark,
            sink,
            "query_id long, neighbor_id long, score double, rank int, batch_id long",
        ).collect()
    }
    want = {
        (r["query_id"], r["neighbor_id"], r["score"], r["rank"])
        for r in ivf_query_index(spark, queries, idx).collect()
    }
    assert got == want
    assert len(want) > 0


def test_streaming_minhash_lookup_matches_batch(spark, tmp_path):
    """Union of per-trigger index lookups over a MULTI-batch arrival
    stream equals the one-shot batch-invariant lookup of all arrivals —
    exactly: verdicts read only fixed index state (corpus-derived cap,
    arrival×corpus pairs only), so batching cannot change them.  Also
    pins that arrival-arrival pairs are EXCLUDED (identical arrival
    twins straddling batches must not appear)."""
    from polars_view_spark.operators.dedup import (
        minhash_build_index,
        minhash_query_index,
    )
    from polars_view_spark.streaming.events import (
        read_sink_or_empty,
        streaming_minhash_lookup,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    corpus = docs.filter("doc_id % 7 != 0")
    arrivals = docs.filter("doc_id % 7 = 0")
    # plant two IDENTICAL arrivals that land in DIFFERENT batches
    # (__f = doc_id % 3 → 900000/900001 split across parts): a near-dup
    # pair the evolving-corpus path would report but this lookup must not
    twin = "planted identical arrival twin text for the batch-pair check"
    arrivals = arrivals.unionByName(
        spark.createDataFrame(
            [
                (900000, twin, "xx", "planted", len(twin)),
                (900001, twin, "xx", "planted", len(twin)),
            ],
            arrivals.schema,
        )
    )
    idx = str(tmp_path / "mh_idx")
    minhash_build_index(corpus, idx, "doc_id", "text")

    landing = str(tmp_path / "landing")
    _write_landing_3(arrivals, landing)
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(landing)
    )
    sink = str(tmp_path / "pairs")
    q = streaming_minhash_lookup(stream, idx, sink, "doc_id", "text", 0.5)
    assert q.awaitTermination(300), "stream did not drain in time"

    got = sorted(
        (r["doc1"], r["doc2"], r["jaccard"])
        for r in read_sink_or_empty(
            spark, sink, "doc1 BIGINT, doc2 BIGINT, jaccard DOUBLE, batch_id BIGINT"
        ).collect()
    )
    want = sorted(
        (r["doc1"], r["doc2"], r["jaccard"])
        for r in minhash_query_index(
            spark, arrivals, idx, "doc_id", "text", 0.5, include_batch_pairs=False
        ).collect()
    )
    assert got == want and len(got) > 0
    assert (900000, 900001) not in {(a, b) for a, b, _ in got}
    # and the twins ARE a pair under the batch-inclusive mode — the
    # planted check is live, not vacuously true
    inclusive = {
        (r["doc1"], r["doc2"])
        for r in minhash_query_index(
            spark, arrivals, idx, "doc_id", "text", 0.5
        ).collect()
    }
    assert (900000, 900001) in inclusive


def test_streaming_containment_screen_from_persisted_index(spark, tmp_path):
    """The streaming screen fed a persisted containment index must flag
    exactly what the stats-computing form flags — the index only changes
    where corpus statistics come from."""
    from polars_view_spark.operators.dedup import containment_build_index
    from polars_view_spark.streaming.events import (
        read_sink_or_empty,
        streaming_containment_screen,
    )

    flag_schema = (
        "arrival_doc BIGINT, corpus_doc BIGINT, n_shared BIGINT, "
        "n_sig BIGINT, share_pct BIGINT"
    )
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    corpus = docs.filter("doc_id % 7 != 0")
    arrivals = docs.filter("doc_id % 7 = 0")
    landing = str(tmp_path / "landing")
    _write_landing_3(arrivals, landing)
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(landing)
    )
    idx = str(tmp_path / "cidx")
    containment_build_index(corpus, idx)
    flags_dir = str(tmp_path / "flags")
    q = streaming_containment_screen(
        stream, corpus, flags_dir, index_path=idx
    )
    assert q.awaitTermination(300)
    got = sorted(
        tuple(r)
        for r in read_sink_or_empty(spark, flags_dir, flag_schema)
        .select("arrival_doc", "corpus_doc", "n_shared", "n_sig", "share_pct")
        .collect()
    )

    from polars_view_spark.operators.dedup import doc_containment_screen

    want = sorted(
        tuple(r)
        for r in doc_containment_screen(corpus, arrivals)
        .select("arrival_doc", "corpus_doc", "n_shared", "n_sig", "share_pct")
        .collect()
    )
    assert got == want and len(got) > 0


def test_streaming_expectations_gate_per_batch_reports(spark, tmp_path):
    """The quality gate's contract is PER-BATCH: each micro-batch gets
    its own report (n_checked = that batch's rows, verdicts from that
    batch's metrics vs the fixed persisted profile).  Three landing
    files → three reports; their n_checked must sum to the arrival
    total, every batch carries every rule, and a planted batch-level
    violation (a NULL key in exactly one file) flags only its batch."""
    from pyspark.sql import functions as F

    from polars_view_spark.operators.expectations import snapshot_profile
    from polars_view_spark.streaming.events import (
        read_sink_or_empty,
        streaming_expectations_gate,
    )

    orders = spark.read.parquet(f"{SF}/orders.parquet")
    rules = [
        {"name": "key_not_null", "kind": "not_null", "column": "o_orderkey"},
        {"name": "median_drift", "kind": "quantile_drift",
         "column": "o_totalprice", "q": 0.5, "ref": "snap",
         "max_rel_change": 0.9},
    ]
    prof = str(tmp_path / "profile")
    snapshot_profile(orders, rules, prof)

    # arrivals: orders + one NULL-key row planted in the __f=2 file
    arrivals = orders.unionByName(
        orders.limit(1).select(
            F.lit(None).cast("long").alias("o_orderkey"),
            *[F.col(c) for c in orders.columns if c != "o_orderkey"],
        ).select(orders.columns)
    )
    landing = str(tmp_path / "landing")
    # three slices written as three explicit files (hash repartition can
    # collide slice values into one partition and drop a batch)
    tagged = arrivals.withColumn(
        "__f", F.coalesce(F.col("o_orderkey") % 3, F.lit(2))
    )
    for i in range(3):
        tagged.filter(F.col("__f") == i).drop("__f").coalesce(1).write.mode(
            "append"
        ).parquet(landing)
    stream = (
        spark.readStream.schema(orders.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(landing)
    )
    sink = str(tmp_path / "reports")
    q = streaming_expectations_gate(
        stream, rules, sink, ref_profiles={"snap": prof}
    )
    assert q.awaitTermination(300)
    rep = read_sink_or_empty(
        spark,
        sink,
        "rule string, n_checked bigint, n_violations bigint, passed boolean, "
        "observed double, sketch_ok boolean, batch_id bigint",
    ).collect()
    batches = {r["batch_id"] for r in rep}
    assert len(batches) == 3
    per_batch_checked = {
        b: {r["n_checked"] for r in rep if r["batch_id"] == b} for b in batches
    }
    # n_checked is constant within a batch and sums to the arrival total
    assert all(len(v) == 1 for v in per_batch_checked.values())
    assert sum(v.pop() for v in per_batch_checked.values()) == arrivals.count()
    # every batch reports every rule
    for b in batches:
        assert {r["rule"] for r in rep if r["batch_id"] == b} == {
            "key_not_null", "median_drift"
        }
    # exactly one batch flags the planted NULL key
    nn = [r for r in rep if r["rule"] == "key_not_null"]
    assert sorted(r["n_violations"] for r in nn) == [0, 0, 1]


def test_streaming_score_drift_gate_per_batch(spark, tmp_path):
    """Per-batch semantics: each trigger's report gates THAT batch's score
    distribution (n_checked = the batch's scored rows), drift read from
    the persisted profile; a batch of all-reference-like docs flags the
    margin cap while a clean batch passes it."""
    from pyspark.sql import functions as F

    from polars_view_spark.operators.classifier import (
        save_classifier,
        score_with_weights,
        train_quality_classifier,
    )
    from polars_view_spark.operators.expectations import snapshot_profile
    from polars_view_spark.operators.textstats import hashed_doc_vectors
    from polars_view_spark.streaming.events import (
        read_sink_or_empty,
        streaming_score_drift_gate,
    )

    pos = [(i, "refword common filler") for i in range(10)]
    neg = [(i, "spammy junk filler") for i in range(10, 20)]
    docs = spark.createDataFrame(pos + neg, "doc_id long, text string")
    _, w = train_quality_classifier(docs, "doc_id < 10", epochs=4)
    model = str(tmp_path / "model")
    save_classifier(spark, w, model)

    rules = [
        {"name": "cap", "kind": "in_range", "column": "margin",
         "low": -1_000_000_000, "high": 0},
        {"name": "med_drift", "kind": "quantile_drift", "column": "margin",
         "q": 0.5, "ref": "scores", "max_rel_change": 50.0},
    ]
    feats = hashed_doc_vectors(docs, "doc_id", "text", dim=64).select("doc", "vec")
    snapshot_profile(
        score_with_weights(feats, w, 64).select("doc", "margin", "pred"),
        rules,
        str(tmp_path / "prof"),
    )

    # batch 1 = all positives (margins > 0 -> cap violates on every row),
    # batch 2 = all negatives (cap passes)
    qdir = tmp_path / "arrivals"
    docs.filter("doc_id < 10").coalesce(1).write.mode("append").parquet(str(qdir))
    docs.filter("doc_id >= 10").coalesce(1).write.mode("append").parquet(str(qdir))

    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(qdir))
    )
    sink = str(tmp_path / "reports")
    streaming_score_drift_gate(
        stream, model, rules, sink, ref_profiles={"scores": str(tmp_path / "prof")}
    ).awaitTermination()

    out = read_sink_or_empty(
        spark,
        sink,
        "rule string, n_checked bigint, n_violations bigint, passed boolean,"
        " observed double, sketch_ok boolean, batch_id bigint",
    ).collect()
    assert len(out) == 4  # 2 rules x 2 batches
    by = {(r["batch_id"], r["rule"]): r for r in out}
    caps = sorted(
        (r["n_violations"], r["passed"])
        for (b, rule), r in by.items()
        if rule == "cap"
    )
    # one batch all-violating (the positives), one clean
    assert caps[0] == (0, True) and caps[1] == (10, False)
    assert all(r["n_checked"] == 10 for r in out)


def test_streaming_score_drift_gate_rejects_bad_rules_at_creation(spark, tmp_path):
    from polars_view_spark.operators.classifier import save_classifier
    from polars_view_spark.streaming.events import streaming_score_drift_gate

    save_classifier(spark, [1, 2, 3, 4, 5], str(tmp_path / "m"))
    src = tmp_path / "landing"
    spark.createDataFrame([], "doc_id long, text string").write.parquet(str(src))
    stream = (
        spark.readStream.schema("doc_id long, text string").parquet(str(src))
    )
    import pytest as _pt

    with _pt.raises(ValueError):
        streaming_score_drift_gate(
            stream,
            str(tmp_path / "m"),
            [{"name": "bad", "kind": "no_such_kind", "column": "margin"}],
            str(tmp_path / "r"),
        )


def test_streaming_linkage_union_equals_batch(spark, tmp_path):
    """Three feed files → three micro-batches; the sink union of accepted
    matches must equal the one-shot batch linkage of the full feed (each
    verdict depends only on (arrival, master) — streaming_linkage's
    no-divergence contract)."""
    from pyspark.sql import functions as F

    from polars_view_spark.operators.linkage import FieldRule, linkage_score
    from polars_view_spark.streaming.events import (
        read_sink_or_empty,
        streaming_linkage,
    )

    master = spark.createDataFrame(
        [(i, f"Name{i:03d}", "US" if i % 2 else "DE", float(i)) for i in range(30)],
        "key long, name string, country string, bal double",
    )
    feed = master.select(
        (F.col("key") + 1000).alias("key"),
        F.when(F.col("key") % 3 == 0, F.concat("name", F.lit("x")))
        .otherwise(F.col("name"))
        .alias("name"),
        "country",
        (F.col("bal") + 0.25).alias("bal"),
    )

    def rules():
        return [
            FieldRule(
                "name",
                F.levenshtein(F.col("l_name"), F.col("r_name")) <= 1,
                6.0,
                -2.0,
            ),
            FieldRule(
                "bal", F.abs(F.col("l_bal") - F.col("r_bal")) < 1.0, 4.0, -1.0
            ),
        ]

    landing = str(tmp_path / "landing")
    tagged = feed.withColumn("__f", F.col("key") % 3)
    for i in range(3):
        tagged.filter(F.col("__f") == i).drop("__f").coalesce(1).write.mode(
            "append"
        ).parquet(landing)
    stream = (
        spark.readStream.schema(feed.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(landing)
    )
    sink = str(tmp_path / "matches")
    before = spark.sparkContext._jsc.sc().getPersistentRDDs().size()
    q = streaming_linkage(stream, master, sink, ["country"], rules, 8.0)
    assert q.awaitTermination(300)

    got = read_sink_or_empty(
        spark,
        sink,
        "country string, l_key long, l_name string, l_bal double,"
        " r_key long, r_name string, r_bal double, agree_name boolean,"
        " agree_bal boolean, score double, is_match boolean, batch_id long",
    )
    assert {r["batch_id"] for r in got.select("batch_id").distinct().collect()} == {
        0, 1, 2,
    }
    want = linkage_score(master, feed, ["country"], rules(), 8.0).filter(
        "is_match"
    )
    key = ["l_key", "r_key", "score"]
    assert sorted(map(tuple, got.select(key).collect())) == sorted(
        map(tuple, want.select(key).collect())
    )
    # the termination listener must have released the pinned master: the
    # persisted-RDD count returns to its pre-query level (compare deltas,
    # not emptiness — unrelated fixtures' checkpoints may still be alive).
    # Listener events are delivered asynchronously, so poll briefly.
    import time

    sc = spark.sparkContext._jsc.sc()
    for _ in range(40):
        if sc.getPersistentRDDs().size() <= before:
            break
        time.sleep(0.25)
    assert sc.getPersistentRDDs().size() <= before


def test_stateful_recovery_restores_state_after_restart(spark, tmp_path):
    """Checkpoint RECOVERY for an applyInPandasWithState operator
    (VERDICT r07 task 6): run the running-counts stream over two
    time-ordered files, STOP the query, land a third file, then start a
    brand-new query on the SAME checkpoint.  The restart must (a) restore
    the per-user GroupState from the state store — users continuing in
    file 3 carry their pre-restart totals, (b) not reprocess the two
    committed batches, and (c) end with per-user totals identical to the
    one-shot batch ground truth.  This is the same replay contract the
    Python stream source pins via readBetweenOffsets, exercised at the
    state-store layer."""
    import os as _os
    import time as _time

    from pyspark.sql import functions as F

    from polars_view_spark.catalog import load_tables
    from polars_view_spark.streaming.events import (
        read_event_stream,
        streaming_running_counts,
    )

    ev = load_tables(spark, SF, "events")["events"].orderBy("ts", "event_id")
    rows = ev.collect()
    third = len(rows) // 3
    assert third > 0
    flat = tmp_path / "src"
    flat.mkdir()
    base = int(_time.time()) - 100
    staged = []
    for i, (lo, hi) in enumerate(
        ((0, third), (third, 2 * third), (2 * third, len(rows)))
    ):
        chunk_dir = tmp_path / f"chunk{i}"
        spark.createDataFrame(rows[lo:hi], ev.schema).coalesce(1).write.parquet(
            str(chunk_dir)
        )
        staged.append((next(chunk_dir.glob("part-*.parquet")), i))

    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    def land(i):
        import shutil

        src, idx = staged[i]
        dst = flat / f"{idx:03d}.parquet"
        shutil.copy(src, dst)
        # the file source orders batches by modification time — pin it
        _os.utime(dst, (base + idx, base + idx))

    def sink(bdf, bid):
        bdf.withColumn("batch_id", F.lit(bid)).write.mode("append").parquet(out)

    def drain():
        prev = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", "8")
        try:
            q = (
                streaming_running_counts(read_event_stream(spark, str(flat)))
                .writeStream.foreachBatch(sink)
                .outputMode("update")
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev)

    # phase 1: two files, two micro-batches (maxFilesPerTrigger=1), stop
    land(0)
    land(1)
    drain()
    phase1 = spark.read.parquet(out)
    assert set(r[0] for r in phase1.select("batch_id").distinct().collect()) == {
        0,
        1,
    }

    # phase 2: third file lands, a NEW query starts on the same checkpoint
    land(2)
    drain()
    final = spark.read.parquet(out)
    batch_ids = set(r[0] for r in final.select("batch_id").distinct().collect())
    # (b) committed batches were NOT reprocessed: exactly one new batch id
    assert batch_ids == {0, 1, 2}

    # (a) state restored: every user continuing across the restart shows a
    # post-restart total strictly greater than their file-3-only count
    file3 = spark.createDataFrame(rows[2 * third :], ev.schema)
    file3_counts = {
        r["user_id"]: r["n"]
        for r in file3.groupBy("user_id").agg(F.count("*").alias("n")).collect()
    }
    earlier_users = {r["user_id"] for r in rows[: 2 * third]}
    batch2 = {
        r["user_id"]: r["n_events"]
        for r in final.filter("batch_id = 2").collect()
    }
    continuing = set(batch2) & earlier_users
    assert continuing, "fixture must have users spanning the restart"
    for u in continuing:
        assert batch2[u] > file3_counts[u], (
            f"user {u}: post-restart total {batch2[u]} does not include "
            f"pre-restart history (file-3-only count {file3_counts[u]})"
        )

    # (c) latest row per user equals the one-shot batch ground truth
    want = {
        (r["user_id"], r["n_events"], r["last_seen"])
        for r in ev.groupBy("user_id")
        .agg(F.count("*").alias("n_events"), F.max("ts").alias("last_seen"))
        .collect()
    }
    from pyspark.sql import Window

    latest = (
        final.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("user_id").orderBy(F.desc("batch_id"))
            ),
        )
        .filter("rn = 1")
        .select("user_id", "n_events", "last_seen")
    )
    got = {tuple(r) for r in latest.collect()}
    assert got == want


def test_streaming_outer_join_emits_unmatched_and_needs_watermark_advance(
    spark, tmp_path
):
    """LEFT OUTER stream-stream join: (a) the catalog entry's sentinel
    harness makes the drained stream equal the batch LEFT JOIN, including
    NULL-error rows for clicks that concluded cleanly; (b) the negative
    control — WITHOUT a watermark-advancing later batch, the engine
    cannot prove absence and emits NO unmatched rows (the contract the
    entry's sentinels exist to satisfy)."""
    from pyspark.sql import functions as F

    from polars_view_spark.catalog import entries, load_tables
    from polars_view_spark.streaming.events import (
        read_event_stream,
        run_stream_to_memory,
        streaming_click_outcomes,
    )

    # (a) entry equals batch
    got = entries()["e_streaming_outer_join"].spark_fn(spark, SF)
    ev = load_tables(spark, SF, "events")["events"]
    clicks = ev.filter("event_type = 'click'").select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    errors = ev.filter("event_type = 'error'").select(
        F.col("user_id").alias("e_user"),
        F.col("event_id").alias("error_id"),
        F.col("ts").alias("error_ts"),
    )
    cond = (
        (F.col("c_user") == F.col("e_user"))
        & (F.col("error_ts") >= F.col("click_ts"))
        & (F.col("error_ts") <= F.col("click_ts") + F.expr("INTERVAL 10 MINUTES"))
    )
    want = clicks.join(errors, cond, "leftOuter").select(
        F.col("c_user").alias("user_id"),
        "click_id",
        "error_id",
        (F.unix_timestamp("error_ts") - F.unix_timestamp("click_ts")).alias(
            "gap_sec"
        ),
    )
    got_set = {tuple(r) for r in got.collect()}
    want_set = {tuple(r) for r in want.collect()}
    assert got_set == want_set
    assert any(r[2] is None for r in got_set), "no unmatched clicks emitted"

    # (b) negative control: WITHOUT the sentinel batches, availableNow's
    # final watermark advance (max real ts - 1 h) still leaves every
    # click inside the trailing watermark+gap horizon unprovable — those
    # unmatched rows never emit, so the drain is a strict SUBSET of the
    # batch truth.  The entry's sentinels exist to close exactly this
    # gap.
    src = tmp_path / "oj_neg"
    ev.coalesce(1).write.parquet(str(src))
    stream = read_event_stream(spark, str(src))
    run_stream_to_memory(
        streaming_click_outcomes(stream),
        "oj_neg_sink",
        output_mode="append",
        state_partitions=8,
    )
    neg_set = {tuple(r) for r in spark.table("oj_neg_sink").collect()}
    assert neg_set < want_set, "sentinel-less drain should be a strict subset"
    missing = want_set - neg_set
    assert missing and all(r[2] is None for r in missing), (
        "exactly the trailing unmatched clicks should be missing"
    )


def test_streaming_countmin_replay_idempotent(spark, tmp_path):
    """At-least-once replay contract of the Count-Min sink (VERDICT r08
    task 3): re-running a batch_id through the foreachBatch body leaves
    the summed sketch bit-identical (dynamic overwrite replaces only its
    own partition), while a genuinely NEW batch_id doubles every touched
    cell — so the assertion would catch a non-idempotent append."""
    from polars_view_spark.streaming.events import (
        countmin_apply_batch,
        read_countmin,
    )

    d = str(tmp_path / "cm_sketch")
    docs = spark.createDataFrame(
        [(1, "alpha beta beta gamma"), (2, "beta gamma delta")],
        "doc_id long, text string",
    )

    def snap():
        return {
            (r["j"], r["bucket"]): r["c"]
            for r in read_countmin(spark, d).collect()
        }

    countmin_apply_batch(docs, 0, d)
    first = snap()
    assert first and all(c >= 1 for c in first.values())

    # replay of the SAME batch_id — the summed sketch must not move
    countmin_apply_batch(docs, 0, d)
    assert snap() == first

    # control: a new batch_id with the same rows doubles every cell,
    # proving the snapshot comparison is sensitive to double-counting
    countmin_apply_batch(docs, 1, d)
    assert snap() == {k: 2 * c for k, c in first.items()}


def test_streaming_bloom_replay_idempotent(spark, tmp_path):
    """Replay contract of the Bloom sink: re-running a batch_id leaves the
    OR-merged filter bit-identical; a genuinely new batch with NEW keys
    must change it (so the comparison is sensitive)."""
    from polars_view_spark.streaming.events import bloom_apply_batch, read_bloom

    d = str(tmp_path / "bloom_filter")
    keys = spark.createDataFrame([("k1",), ("k2",), ("k3",)], "fp string")

    def snap():
        return {(r["word"]): r["bits"] for r in read_bloom(spark, d).collect()}

    bloom_apply_batch(keys, 0, d)
    first = snap()
    assert first

    bloom_apply_batch(keys, 0, d)  # replay: same batch_id
    assert snap() == first

    # same keys under a NEW batch_id: OR is idempotent on values, so the
    # merged filter is STILL unchanged — the stronger streaming property
    bloom_apply_batch(keys, 1, d)
    assert snap() == first

    # genuinely new keys do change it (sensitivity control)
    bloom_apply_batch(
        spark.createDataFrame([("zz9",), ("qq8",)], "fp string"), 2, d
    )
    assert snap() != first
