"""Persisted state: every decision about how the package probes, guards,
swaps and writes state on disk is made here, once.

Index layout (one parquet dataset per name under the index root)
----------------------------------------------------------------

=============  ====================================  ===============  ==========
family         datasets                              frozen at build  guard anchor
=============  ====================================  ===============  ==========
MinHash        ``signatures``, ``shingles``,         —                ``signatures``
               ``bands``
containment    ``kept``, ``freq``, ``meta`` (1 row)  all (rebuild,    —
                                                     no append)
IVF            ``centroids``, ``assignments``        ``centroids``    ``assignments``
               (partitioned by ``cell``)
PQ             ``codebook``, ``codes``               ``codebook``     —
IVF-PQ         ``centroids``, ``codebook``,          ``centroids``,   ``codes``
               ``codes`` (partitioned by ``cell``)   ``codebook``
=============  ====================================  ===============  ==========

Frozen tables define an index's geometry (IVF cells, PQ code space):
they are written once by the build as a one-slice small frame
(:func:`small_frame`) and read back whole and key-ordered
(:func:`read_frozen`); appends never rewrite them.  A MinHash index built
before ``bands`` existed has no ``bands`` dataset (appends refuse it,
lookups fall back to deriving bands from ``signatures``); a ``sizes``
directory left by an older build is ignored.

Appends
-------
An append refuses its batch before any write (:func:`guard_append`) when
ids repeat within the batch or already exist in the family's guard
anchor.  The anchor is the dataset an append always writes FIRST and
alone, so a partially failed append has always written the anchor: a
blind re-run of the same batch is then refused instead of appending the
other datasets twice.

Swaps
-----
A dataset rebuilt in place is written to a sibling and committed by
:func:`swap` (delete the target, rename the sibling onto it), so a failed
write leaves the previous version intact and readers never see a
half-written directory.

Paths
-----
Every probe goes through the Hadoop FileSystem resolved from the path
(:func:`filesystem`), so a schemed URI (``file:``, ``hdfs://``,
``s3a://``) reaches the store the data lives on; an ``os.path`` probe
answers False for any such URI.

Streaming sinks
---------------
``foreachBatch`` is at-least-once: a crash or retry re-runs a micro-batch
with the SAME ``batch_id``.  Sink writes are therefore partitioned by that
replay-stable id and use dynamic partition overwrite
(:func:`write_batch`), so a re-run replaces its own partition instead of
duplicating it — at-least-once delivery plus an idempotent write is
effectively-once output.  Each query keeps its checkpoint beside its
sink, at ``<sink>.__pvs_ckpt`` (streaming/events.py:_available_now_sink).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def filesystem(spark, path: str):
    """``(fs, jpath)``: the Hadoop FileSystem that owns ``path`` and the
    path as a Hadoop ``Path``."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(spark._jsc.hadoopConfiguration()), jpath


def exists(spark, path: str) -> bool:
    fs, jpath = filesystem(spark, path)
    return bool(fs.exists(jpath))


def is_dir(spark, path: str) -> bool:
    """True when ``path`` exists and is a directory."""
    fs, jpath = filesystem(spark, path)
    return bool(fs.isDirectory(jpath))


def swap(spark, staged: str, target: str) -> None:
    """Commit ``staged`` as ``target``: delete the target (if any), then
    rename the staged directory onto it.  Rename onto an EXISTING
    directory would nest the source inside it, hence the delete first."""
    fs, dst = filesystem(spark, target)
    src = spark._jvm.org.apache.hadoop.fs.Path(staged)
    fs.delete(dst, True)
    if not fs.rename(src, dst):
        raise OSError(f"could not rename {staged!r} to {target!r}")


def small_frame(spark, rows, schema) -> DataFrame:
    """A DataFrame over a handful of local Python rows, in ONE slice.

    A plain ``createDataFrame`` on local[N] fans the rows across N Python
    slices, and a later ``coalesce(1)`` or single-task write evaluates
    them one after another (measured ~5 s per 65-row save at N=32, ~0.2 s
    in one slice)."""
    return spark.createDataFrame(
        spark.sparkContext.parallelize(rows, numSlices=1), schema
    )


def read_frozen(spark, path: str, key: str) -> tuple[list[int], list[list[int]]]:
    """Collect a frozen ``(key, sv)`` table (IVF centroids, PQ codebook)
    in key order: ``(keys, vectors)`` as Python ints."""
    rows = spark.read.parquet(path).orderBy(key).collect()
    return (
        [int(r[key]) for r in rows],
        [[int(x) for x in r["sv"]] for r in rows],
    )


def guard_append(
    caller: str, batch: DataFrame, id_col: str, anchor: str, key: str
) -> None:
    """Refuse an append before it writes anything: ids duplicated within
    ``batch``, or already present in the ``anchor`` dataset (its ``key``
    column, probed against the broadcast batch ids), raise ValueError.
    Either would duplicate per-id rows in every dataset the append
    touches."""
    dup = (
        batch.groupBy(F.col(id_col).alias(key))
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") > 1)
        .limit(5)
        .collect()
    )
    if dup:
        raise ValueError(
            f"{caller}: batch contains duplicate ids (e.g. "
            f"{sorted(r[key] for r in dup)}) — deduplicate before appending"
        )
    new_ids = batch.select(F.col(id_col).alias(key))
    clash = (
        batch.sparkSession.read.parquet(anchor)
        .select(key)
        .join(F.broadcast(new_ids), key, "left_semi")
        .limit(5)
        .collect()
    )
    if clash:
        raise ValueError(
            f"{caller}: ids already indexed (e.g. "
            f"{sorted(r[key] for r in clash)}) — appending would "
            f"duplicate their rows; deduplicate the batch or rebuild"
        )


def write_batch(
    df: DataFrame,
    out_dir: str,
    batch_id: int,
    col: str = "batch_id",
    lead_cols: tuple[str, ...] = (),
) -> None:
    """Write one micro-batch's rows into its own ``col=batch_id``
    partition of ``out_dir`` (under any ``lead_cols`` partitions),
    replacing whatever an earlier attempt of the same batch wrote."""
    (
        df.withColumn(col, F.lit(batch_id))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*lead_cols, col)
        .parquet(out_dir)
    )
