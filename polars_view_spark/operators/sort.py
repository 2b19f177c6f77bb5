"""Cumulative multi-column sort with explicit null placement.

Parity target: reference src/data_container.rs:247-309 + src/sort.rs.
Each criterion carries {column, ascending, nulls_last}; precedence is list
order; the reference sorts with ``maintain_order=true`` (stable).

Spark's distributed sort is NOT stable, so stability is emulated by a
pinned row order (SURVEY.md §7.4 item 2): :class:`PinnedOrder` tags each
row of the view with ``monotonically_increasing_id()`` — by contract
``partition_id * 2^33 + intra-partition offset``, so it ascends in the
view's current row order exactly as the contiguous index of
``add_row_index`` does — and takes one eager ``localCheckpoint``, so the
id is evaluated once and never recomputed.  The id is the final sort key.
It needs no count aggregate and no broadcast join: only its order matters,
not contiguity.

A viewer container pins its view once, on the first sort click, and every
later click and the save order that same checkpoint (container.py); a
standalone ``apply_sort(df, ...)`` pins ``df`` for that one call.  The
tiebreaker is only added when ``stable=True`` (the default, to match the
reference).

Scale note: ``orderBy`` is a range-partitioned total sort — Spark samples
key ranges and shuffles once; AQE handles skewed ranges.  This is exactly
what you want at 100 TB; no custom partitioner needed.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from polars_view_spark.config import SortBy
from polars_view_spark.operators.rowindex import resolve_unique_name

_TIEBREAK = "__pvs_stable_order__"


class PinnedOrder:
    """One view's current row order, pinned once and shared by every sort
    of that view.  The tiebreak name is resolved against the view's
    columns, so a user column of the same name is never shadowed."""

    def __init__(self, view: DataFrame) -> None:
        self.view = view
        self.tiebreak = resolve_unique_name(_TIEBREAK, view.columns)
        self._frame: DataFrame | None = None

    def frame(self) -> DataFrame:
        """The view plus its tiebreak column; the first call takes the
        eager checkpoint, later calls return it."""
        if self._frame is None:
            tagged = self.view.withColumn(self.tiebreak, F.monotonically_increasing_id())
            # localCheckpoint (not cache): it cuts the lineage, so the
            # non-deterministic id can never be recomputed differently for
            # a later sort or the save, and the ContextCleaner releases its
            # blocks once the owning containers are unreachable.
            self._frame = tagged.localCheckpoint(eager=True)
        return self._frame


def _key(sb: SortBy) -> Column:
    col = F.col(f"`{sb.column_name}`")
    if sb.ascending:
        return col.asc_nulls_last() if sb.nulls_last else col.asc_nulls_first()
    return col.desc_nulls_last() if sb.nulls_last else col.desc_nulls_first()


def apply_sort(
    df: DataFrame | PinnedOrder, criteria: list[SortBy], stable: bool = True
) -> DataFrame:
    """Sort ``df`` by ``criteria`` in precedence order.

    ``df`` is a frame, pinned for this call when ``stable``, or a view's
    :class:`PinnedOrder`, whose checkpoint is reused.  Empty criteria →
    the view unchanged (the container handles the rebuild-from-original
    semantics of the reference's sort reset).
    """
    view = df.view if isinstance(df, PinnedOrder) else df
    if not criteria:
        return view
    keys = [_key(sb) for sb in criteria]
    if not stable:
        return view.orderBy(*keys)
    pinned = df if isinstance(df, PinnedOrder) else PinnedOrder(df)
    keys.append(F.col(f"`{pinned.tiebreak}`").asc())
    return pinned.frame().orderBy(*keys).drop(pinned.tiebreak)
