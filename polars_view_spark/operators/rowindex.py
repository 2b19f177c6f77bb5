"""Contiguous deterministic row index — the scale-aware way.

Reference semantics (src/polars/add.rs:18-42): add a counting column
``offset .. offset+n`` in current row order, with name conflicts resolved by
``_1``, ``_2``… suffixes and an error after 1000 attempts
(src/data_filter.rs:1195-1229).

Naive Spark ports either shuffle everything to one partition
(``row_number() OVER (ORDER BY ...)``) or round-trip through RDDs
(``zipWithIndex``).  Both are wrong at 100 TB.  This implementation stays in
the DataFrame plane and runs one tiny aggregate:

1. tag rows with ``monotonically_increasing_id()`` — by contract
   ``partition_id * 2^33 + intra-partition offset`` with the intra-partition
   offset consecutive from 0;
2. aggregate per-partition row counts (result size = #partitions, trivially
   collected);
3. compute cumulative offsets on the driver and broadcast-join them back;
4. ``index = cum_offset[pid] + local_offset + user_offset``.

No full shuffle, no single-partition bottleneck; cost is one extra pass over
the data (the count aggregate), which AQE pipelines with the scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from polars_view_spark.config import MAX_NAME_ATTEMPTS
from polars_view_spark.errors import ColumnNameConflictError
from polars_view_spark.sources import store

_MID = "__pvs_mid__"
_PID = "__pvs_pid__"
_OFFSET = "__pvs_cum_offset__"

# monotonically_increasing_id() = partition_id << 33 | intra-partition offset
_PARTITION_SHIFT = 33
_LOCAL_MASK = (1 << _PARTITION_SHIFT) - 1


def resolve_unique_name(base: str, existing: list[str]) -> str:
    """Resolve name conflicts with ``_1``, ``_2``… suffixes; error after
    1000 attempts (reference: src/data_filter.rs:1195-1229)."""
    if base not in existing:
        return base
    taken = set(existing)
    for i in range(1, MAX_NAME_ATTEMPTS + 1):
        candidate = f"{base}_{i}"
        if candidate not in taken:
            return candidate
    raise ColumnNameConflictError(
        f"could not find a unique name for {base!r} after {MAX_NAME_ATTEMPTS} attempts"
    )


def add_row_index(df: DataFrame, name: str = "Row Number", offset: int = 1) -> DataFrame:
    """Add a contiguous row index in current row order, distributed.

    The returned index is exact and contiguous (``offset .. offset+n-1``)
    like the reference's, but computed without a global shuffle.
    """
    resolved = resolve_unique_name(name, df.columns)
    tagged = df.withColumn(_MID, F.monotonically_increasing_id())
    tagged = tagged.withColumn(_PID, F.shiftright(F.col(_MID), _PARTITION_SHIFT))

    # monotonically_increasing_id() is NON-deterministic: the count job below
    # and the final indexed plan would otherwise evaluate it in two
    # independent jobs, and any re-planning between them (AQE, task retry, a
    # non-deterministic source) could shift partition ids and silently
    # misalign (or drop, via the inner join) rows.  Pin ONE evaluation.
    # localCheckpoint (not persist): it cuts the lineage, so the id can
    # never be recomputed, AND its RDD blocks are released by the
    # ContextCleaner once the result is unreachable — a DataFrame persist
    # would sit in the CacheManager for the session lifetime (one full
    # input copy leaked per call).
    tagged = tagged.localCheckpoint(eager=True)

    # Tiny aggregate: one row per partition. Collected to the driver (a few
    # thousand rows even at 100 TB), cumulative offsets computed there.
    counts = (
        tagged.groupBy(_PID).agg(F.count(F.lit(1)).alias("cnt")).orderBy(_PID).collect()
    )
    cum = 0
    offsets = []
    for row in counts:
        offsets.append((row[_PID], cum))
        cum += row["cnt"]

    if not offsets:
        # Empty frame: just add an empty long column (index-first like the
        # reference, src/polars/add.rs).
        empty = df.withColumn(resolved, F.lit(None).cast("long"))
        return empty.select(resolved, *df.columns)

    offset_df = store.small_frame(
        df.sparkSession, offsets, f"{_PID} long, {_OFFSET} long"
    )
    # LEFT join + null check: if the persisted lineage were ever recomputed
    # with different partition ids, the unmatched rows surface as an error
    # (raise_error below) instead of vanishing through an inner join.
    indexed = (
        tagged.join(F.broadcast(offset_df), _PID, "left")
        .withColumn(
            resolved,
            F.when(
                F.col(_OFFSET).isNull(),
                F.expr(
                    "raise_error('add_row_index: partition ids changed between "
                    "the count and index jobs — persisted lineage was lost')"
                ).cast("long"),
            ).otherwise(
                (
                    F.col(_OFFSET)
                    + (F.col(_MID).bitwiseAND(F.lit(_LOCAL_MASK)))
                    + F.lit(offset)
                ).cast("long")
            ),
        )
        .drop(_MID, _PID, _OFFSET)
    )
    # Reference places the index as the FIRST column (src/polars/add.rs).
    return indexed.select(resolved, *[c for c in indexed.columns if c != resolved])
