"""File readers: format dispatch, CSV with sniffing + force-string override,
JSON (single doc/array), NDJSON, Parquet, ORC (beyond-reference).

Capability parity with the reference's reader stack (reference:
src/data_filter.rs:257-295 dispatch, 392-591 CSV, 304-351 JSON/NDJSON,
357-383 Parquet) expressed as lazy Spark scans: nothing here collects — the
returned DataFrame is a logical plan, so Catalyst pushes filters/projections
from later stages *into* these scans (visible as PushedFilters/ReadSchema in
``.explain``), which the reference's eager collect-per-stage model could
never do.
"""

from __future__ import annotations

import re
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from polars_view_spark.config import LoadConfig
from polars_view_spark.errors import UnsupportedFormatError


class FileFormat:
    CSV = "csv"
    JSON = "json"
    NDJSON = "ndjson"
    PARQUET = "parquet"
    ORC = "orc"  # beyond-reference: Spark-native columnar format
    XML = "xml"  # beyond-reference: Spark 4 native XML data source


_EXTENSION_MAP = {
    ".csv": FileFormat.CSV,
    ".tsv": FileFormat.CSV,
    ".txt": FileFormat.CSV,
    ".json": FileFormat.JSON,
    ".ndjson": FileFormat.NDJSON,
    ".jsonl": FileFormat.NDJSON,
    ".parquet": FileFormat.PARQUET,
    ".pq": FileFormat.PARQUET,
    ".orc": FileFormat.ORC,
    ".xml": FileFormat.XML,
}


# Transparent text compression (beyond-reference: the reference's
# FileExtension treats .gz as Unknown).  Spark/Hadoop decompress these by
# extension on read with pure-Java codecs, so only format DISPATCH and the
# driver-side head probe need awareness.  Parquet/ORC compress internally —
# an outer codec suffix on them is an error, not a feature.
_COMPRESSION_SUFFIXES = {".gz": "gzip", ".bz2": "bzip2"}
_TEXT_FORMATS = frozenset({"csv", "json", "ndjson", "xml"})


def split_compression(path: str) -> tuple[str, str | None]:
    """``data.csv.gz`` → ``('data.csv', 'gzip')``; plain paths → (path, None)."""
    suffix = Path(path).suffix.lower()
    codec = _COMPRESSION_SUFFIXES.get(suffix)
    if codec is None:
        return path, None
    return path[: -len(suffix)], codec


def detect_format(path: str) -> str:
    """Extension → format dispatch (reference: src/file_extension.rs:6-36),
    looking through one trailing compression suffix for text formats."""
    inner, codec = split_compression(path)
    suffix = Path(inner).suffix.lower()
    fmt = _EXTENSION_MAP.get(suffix)
    if fmt is None:
        shown = Path(path).suffix.lower()
        raise UnsupportedFormatError(
            f"Unsupported or missing extension {shown!r} for {path!r} "
            f"(expected one of {sorted(set(_EXTENSION_MAP))}, optionally "
            f"+ {sorted(_COMPRESSION_SUFFIXES)} for text formats)"
        )
    if codec is not None and fmt not in _TEXT_FORMATS:
        raise UnsupportedFormatError(
            f"{path!r}: {fmt} compresses internally — write plain "
            f".{fmt} instead of wrapping it in {codec}"
        )
    return fmt


def force_string_schema(schema: T.StructType, pattern: str) -> T.StructType:
    """Rewrite fields whose names match ``pattern`` to StringType.

    This is the force-string dtype override (reference:
    src/data_filter.rs:1133-1191): long numeric ID columns would otherwise be
    inferred as Int64 and overflow to all-null.  ``pattern`` is ``*`` (all
    columns) or an anchored ``^…$`` regex, validated upstream.
    """
    if pattern == "*":
        matcher = None
    else:
        compiled = re.compile(pattern)
        matcher = compiled.fullmatch
    fields = []
    for f in schema.fields:
        if matcher is None or matcher(f.name):
            fields.append(T.StructField(f.name, T.StringType(), True))
        else:
            fields.append(f)
    return T.StructType(fields)


def read_csv(spark: SparkSession, cfg: LoadConfig) -> tuple[DataFrame, str]:
    """CSV scan with delimiter sniffing and force-string override.

    Two-phase like the reference (src/data_filter.rs:484-594): ONE bounded
    head sample (≤ ``infer_schema_rows``+1 lines, O(1) bytes for local
    paths, a ``text().limit()`` CollectLimit for remote URIs) feeds both the
    delimiter probe and schema inference — inference runs on the sampled
    lines only (mirroring the reference's 200-row ``infer_schema_rows``,
    src/data_filter.rs:42,582), NEVER as ``inferSchema=true`` over the full
    path, which would parse the entire file before any limit applies.  The
    full *lazy* scan then uses the pinned schema, so the big read never pays
    inference.

    Returns ``(df, detected_delimiter)`` so callers can write the delimiter
    back into config (reference: src/data_filter.rs:285-287).
    """
    from polars_view_spark.sources.sniff import probe_head_lines, sniff_delimiter_from_lines

    n_sample = max(cfg.infer_schema_rows, 1) + 1  # + header line
    head_lines = probe_head_lines(cfg.path, spark, max_lines=n_sample)
    delimiter = sniff_delimiter_from_lines(head_lines, cfg.csv_delimiter)
    reader_opts = {
        "sep": delimiter,
        "header": "true",
        "mode": "PERMISSIVE",  # unparseable cells → null (ignore-errors parity)
        "nullValue": "",
        "encoding": "UTF-8",
        "timestampFormat": "yyyy-MM-dd HH:mm:ss",
        "dateFormat": "yyyy-MM-dd",
    }
    # Schema probe: run the CSV parser + inference over the in-memory head
    # sample only (an RDD of lines — the csv reader accepts one).
    if head_lines:
        probe = (
            spark.read.options(**reader_opts)
            .option("inferSchema", "true")
            .csv(spark.sparkContext.parallelize(head_lines, 1))
        )
        schema = probe.schema
    else:
        # Unprobeable (e.g. empty remote listing): let Spark resolve column
        # names only; everything arrives as string, like the reference's
        # no-infer fallback.
        schema = spark.read.options(**reader_opts).csv(cfg.path).limit(0).schema
    if cfg.force_string_patterns:
        schema = force_string_schema(schema, cfg.force_string_patterns)
    df = spark.read.options(**reader_opts).schema(schema).csv(cfg.path)
    return df, delimiter


def read_json(spark: SparkSession, cfg: LoadConfig) -> DataFrame:
    """Single-document / array JSON (reference: src/data_filter.rs:304-320)."""
    return spark.read.option("multiLine", "true").option("mode", "PERMISSIVE").json(cfg.path)


def read_ndjson(spark: SparkSession, cfg: LoadConfig) -> DataFrame:
    """Line-delimited JSON (reference: src/data_filter.rs:327-351).

    Line-delimited is Spark's native JSON layout, so this scan is fully
    splittable — one 100 TB NDJSON dataset fans out across all executors.
    """
    return spark.read.option("mode", "PERMISSIVE").json(cfg.path)


def read_parquet(spark: SparkSession, cfg: LoadConfig) -> DataFrame:
    """Parquet scan (reference: src/data_filter.rs:357-383). Schema comes
    from file metadata; filter pushdown + column pruning are automatic."""
    return spark.read.parquet(cfg.path)


def read_orc(spark: SparkSession, cfg: LoadConfig) -> DataFrame:
    """ORC scan — beyond-reference format (the reference reads CSV/JSON/
    NDJSON/Parquet only; ORC is the other Hadoop-native columnar format and
    Spark ships a vectorized reader for it).  Same pushdown/pruning story
    as parquet: schema from file metadata, PushedFilters reach the scan."""
    return spark.read.orc(cfg.path)


XML_ROW_TAG = "row"  # one <row> element per record, matching the sink


def read_xml(spark: SparkSession, cfg: LoadConfig) -> DataFrame:
    """XML scan — beyond-reference format (Spark 4 ships spark-xml as a
    built-in data source; the reference reads CSV/JSON/NDJSON/Parquet
    only).  Records are ``<row>`` elements, matching this repo's sink.

    Scale note: with no pinned schema the reader makes a full inference
    pass over the data before the real scan — at 100 TB callers should
    pass the known schema via ``spark.read.schema(...).xml(...)``
    directly, exactly like the CSV path pins its bounded-sample schema.
    The viewer-scale dispatch here accepts the inference pass."""
    return spark.read.option("rowTag", XML_ROW_TAG).xml(cfg.path)


def read_binary_dir(
    spark: SparkSession, path: str, glob: str | None = None
) -> DataFrame:
    """Raw-file ingestion via Spark's built-in ``binaryFile`` source —
    the entry point of the multimodal pipeline (operators/multimodal.py):
    a directory of image/audio/video files becomes ``(path, length,
    content)`` rows ready for ``pack_binary``-shaped downstream decode.

    Returns ``path`` (string), ``length`` (long), ``content`` (binary);
    ``modificationTime`` is dropped — it is storage-layer state, and
    keeping it would make otherwise-identical ingests compare unequal.

    Scale shape: each file is read whole by one task (the source is not
    splittable within a file), so parallelism = file count — ideal for
    the many-small-media-files layout.  At 100 TB the first job after
    this ingest should be a repack into parquet (payload + metadata
    columns), after which every later pass gets splittable columnar
    scans; ``spark.sql.files.maxPartitionBytes`` sizes the ingest tasks.
    ``glob`` filters by filename pattern at listing time (pushed to the
    source as ``pathGlobFilter`` — non-matching files are never opened).
    """
    reader = spark.read.format("binaryFile")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    return reader.load(path).drop("modificationTime")


def read_fixed_width(
    spark: SparkSession,
    path: str,
    colspecs: list[tuple[str, int, int, str]],
) -> DataFrame:
    """Fixed-width text ingestion — the mainframe/COBOL-export layout the
    reference's CSV sniffer cannot dispatch (no delimiter exists).

    ``colspecs`` is ``(name, start, width, type)`` with 1-based ``start``
    (SQL ``substring`` convention).  Built on ``spark.read.text``: line
    splitting is Hadoop's, so the scan is SPLITTABLE within a file —
    unlike e.g. the binaryFile source, a single 1 TB export parallelizes
    across tasks.  Every column is one codegen
    ``try_cast(trim(substring(...)))`` expression: no Python, no regex,
    whole-stage-codegen end to end, and malformed cells degrade to NULL
    (PERMISSIVE semantics, matching the CSV path) instead of failing the
    job under ANSI mode.  String columns are right-trimmed only — the
    pad side of a left-aligned field — so significant leading text
    survives."""
    df = spark.read.text(path)
    cols = []
    for name, start, width, dtype in colspecs:
        raw = f"substring(value, {start}, {width})"
        # any string-family spelling (string/varchar(n)/char(n), any case)
        # must take the rtrim-only path — falling through to trim() would
        # silently eat significant leading spaces
        if dtype.strip().lower().split("(")[0] in ("string", "varchar", "char"):
            expr = f"rtrim({raw})"
        else:
            expr = f"try_cast(trim({raw}) AS {dtype})"
        cols.append(F.expr(expr).alias(name))
    return df.select(*cols)


def read_any(spark: SparkSession, cfg: LoadConfig) -> tuple[DataFrame, str, LoadConfig]:
    """Dispatch on extension; returns (df, format, possibly-updated config).

    The detected CSV delimiter is written back into the returned config,
    mirroring the reference (src/data_filter.rs:285-287).
    """
    fmt = detect_format(cfg.path)
    if fmt == FileFormat.CSV:
        df, delim = read_csv(spark, cfg)
        return df, fmt, cfg.with_(csv_delimiter=delim)
    if fmt == FileFormat.JSON:
        return read_json(spark, cfg), fmt, cfg
    if fmt == FileFormat.NDJSON:
        return read_ndjson(spark, cfg), fmt, cfg
    if fmt == FileFormat.ORC:
        return read_orc(spark, cfg), fmt, cfg
    if fmt == FileFormat.XML:
        return read_xml(spark, cfg), fmt, cfg
    return read_parquet(spark, cfg), fmt, cfg


def read_dataset_files(path: str, fmt: str = FileFormat.PARQUET) -> list[tuple[str, int]]:
    """(file, size) listing of a dataset directory's data files — local
    filesystems walk the tree; remote URIs should use the FileSystem API
    of the deployment (the compaction caller's concern, not this helper's)."""
    import os

    ext = "." + (fmt if fmt != FileFormat.NDJSON else "json")
    out = []
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.endswith(ext):
                p = os.path.join(root, n)
                out.append((p, os.path.getsize(p)))
    return out


def read_ndjson_quarantine(spark, path: str, schema: str):
    """NDJSON ingestion with corrupt-record QUARANTINE — the at-scale
    alternative to PERMISSIVE's silent nulling: unparseable lines are
    captured verbatim in ``_corrupt_record`` and split off, so bad input
    is auditable and replayable instead of silently degrading quality
    stats downstream.

    Returns ``(clean, quarantine, parsed)``: clean rows with the user
    schema, quarantine rows as the raw offending line, and the CACHED
    parent frame — the cache exists because Spark refuses a filter that
    references ONLY the internal corrupt-record column on a direct scan
    (documented Spark limitation), and it also makes the two consumers
    share one parse pass.  The caller releases ``parsed`` when done, by
    registering it with its fills scope (fills.py); releasing the derived
    frames instead would be a silent no-op: Spark uncaches by plan
    identity, and the filters' plans are not the cached plan.
    """
    full = schema + ", _corrupt_record STRING"
    parsed = (
        spark.read.schema(full)
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .option("mode", "PERMISSIVE")
        .json(path)
        .cache()
    )
    clean = parsed.filter(F.col("_corrupt_record").isNull()).drop("_corrupt_record")
    quarantine = parsed.filter(F.col("_corrupt_record").isNotNull()).select(
        F.col("_corrupt_record").alias("raw_line")
    )
    return clean, quarantine, parsed
