"""Operator-owned fills: what an operator caches for itself is registered
with one scope and released by it, whichever way the operator leaves.

    with fills.scope() as own:
        sh = own(shingle_table(df, "doc_id", "text").cache())
        ...
        return own.result(pairs)

``own(df)`` registers a cached frame and returns it; ``own.result(df)``
takes the one eager ``localCheckpoint`` of the operator's small result,
so its inputs can go; leaving the block, on success or on an exception,
unpersists every registered frame.  A frame the CALLER passed in (a
shared shingle table) is never registered: it stays the caller's.

Which fill a site uses
----------------------
- ``cache()`` for a frame several consumers read: it fills inside the
  first job that scans it, so it adds no job barrier of its own, and
  every later consumer reads the cached rows instead of re-running the
  expensive part of its lineage.
- ``localCheckpoint()`` where the frame feeds BOTH sides of a join whose
  exchange must run once: the checkpoint's ExistingRDD leaf
  canonicalizes equal on the two sides and AQE reuses the exchange
  (ReusedExchange), while a cache's InMemoryTableScan defeats that
  canonicalization (measured r10); and in iterative loops, to keep the
  lineage flat.
- ``eager=True`` when the frame must be complete before the next step:
  a result whose inputs are released next, or a frame two concurrent
  consumer jobs would otherwise both fill.  ``eager=False`` when a single
  consumer job fills it anyway, which saves a standalone barrier.

Checkpointed intermediates are not registered: their blocks are released
when the driver drops the RDD reference and the ContextCleaner runs —
soon enough for repeated calls, though a long-lived driver hammering an
operator inherits that latency.  A local checkpoint also truncates
lineage, so an executor loss mid-job fails the query instead of
recomputing; a cluster deployment that needs that recovery should swap
the corpus-scale checkpoints (not the exchange-reuse ones) for
``checkpoint()``.

Three fills live longer than an operator call and keep their owners:
the viewer's source cache lives as long as its container (container.py);
a viewer view's pinned sort order, one eager ``localCheckpoint`` taken on
its first sort click, is owned by the containers of that view and
released by the ContextCleaner once they are unreachable
(operators/sort.py:PinnedOrder); and a stream-lifetime scope is released
by the query's termination listener
(streaming/events.py:_release_on_termination) instead of a ``with``
block.

Plan tests set :data:`PIN_RESULTS` to False: ``own.result`` then returns
the lazy frame and the scope keeps its caches held, so the executed plan
still shows the full lineage, InMemoryTableScans included.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

#: The one substitution point plan tests monkeypatch (see module docstring).
PIN_RESULTS = True


class scope:
    """The frames one operator call (or one stream) caches for itself."""

    def __init__(self) -> None:
        self._held: list[DataFrame] = []

    def __call__(self, df: DataFrame) -> DataFrame:
        self._held.append(df)
        return df

    def result(self, df: DataFrame) -> DataFrame:
        return df.localCheckpoint(eager=True) if PIN_RESULTS else df

    def release(self) -> None:
        while PIN_RESULTS and self._held:
            self._held.pop().unpersist()

    def __enter__(self) -> scope:
        return self

    def __exit__(self, *exc) -> None:
        self.release()
