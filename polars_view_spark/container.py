"""DataContainer — pipeline orchestration + view state.

Parity target: reference src/data_container.rs:44-309.  Holds the displayed
plan (``df``), the post-pipeline plan before UI sorts (``df_original``), the
load config, and the active sort criteria.  Copy-on-write: every operation
returns a NEW container (Spark plans are immutable, so this is free).

Differences from the reference, by design (SURVEY.md §1.1):

- the reference eagerly materializes after every stage; here the pipeline
  is ONE lazy plan and only the post-ingest source (``_source``) is
  ``.cache()``d, eagerly, to give the re-query fast path (reference:
  src/data_container.rs:122-129) a cluster-friendly equivalent;
- each view pins its row order once (``_order``): the first sort click
  takes one eager checkpoint of ``df_original`` tagged with a tiebreak id,
  and every later click and the save of that view order it (a sort reset
  keeps it for the next click) — the reference re-sorts one in-memory
  frame with ``maintain_order``;
- sort-reset (empty criteria) re-derives the view from the original plan
  instead of re-reading the file — same observable behavior, no I/O.
"""

from __future__ import annotations

from dataclasses import dataclass, field, replace

from pyspark.sql import DataFrame, SparkSession

from polars_view_spark.config import LoadConfig, SortBy
from polars_view_spark.operators.sort import PinnedOrder, apply_sort
from polars_view_spark.operators.transforms import apply_pipeline
from polars_view_spark.sources.readers import read_any


@dataclass
class DataContainer:
    df: DataFrame
    df_original: DataFrame
    cfg: LoadConfig
    loaded_format: str
    sort: list[SortBy] = field(default_factory=list)
    _source: DataFrame | None = None  # post-ingest, pre-pipeline frame
    _order: PinnedOrder | None = None  # df_original's row order, pinned on the first sort

    @classmethod
    def load_data(
        cls,
        spark: SparkSession,
        cfg: LoadConfig,
        previous: DataContainer | None = None,
        cache: bool = True,
    ) -> DataContainer:
        """Read (or reuse) the source, fold the pipeline, reset sort.

        Fast path: when ``cfg.read_data_from_file`` is False and a previous
        container exists, the cached post-ingest frame is reused — SQL
        re-runs skip file I/O (reference: src/data_container.rs:122-129).
        """
        if not cfg.read_data_from_file and previous is not None and previous._source is not None:
            source, fmt = previous._source, previous.loaded_format
        else:
            source, fmt, cfg = read_any(spark, cfg)
            if cache:
                # Materialize the cache NOW (the reference loads eagerly;
                # re-query must survive the file disappearing).  This is the
                # interactive-viewer surface — batch pipelines use the
                # operators/catalog APIs, which stay fully lazy so scans
                # keep column pruning / filter pushdown.
                source = source.cache()
                source.count()
        result = apply_pipeline(source, cfg)
        return cls(df=result, df_original=result, cfg=cfg, loaded_format=fmt, _source=source)

    def with_sort(self, criteria: list[SortBy]) -> DataContainer:
        """Apply a full criteria vector; empty → reset to the original view
        (reference empty-criteria rebuild, src/data_container.rs:251-267).
        Every sort of this view orders the same pinned checkpoint."""
        if not criteria:
            return replace(self, df=self.df_original, sort=[])
        order = self._order or PinnedOrder(self.df_original)
        return replace(self, df=apply_sort(order, criteria), sort=list(criteria), _order=order)

    def requery(self, spark: SparkSession, cfg: LoadConfig) -> DataContainer:
        """Interactive re-query entry point (reference §3.2): reuse the
        cached source unless the new config demands a re-read."""
        needs_reread = (
            cfg.path != self.cfg.path
            or cfg.csv_delimiter != self.cfg.csv_delimiter
            or cfg.infer_schema_rows != self.cfg.infer_schema_rows
            or cfg.force_string_patterns != self.cfg.force_string_patterns
        )
        return self.load_data(
            spark, cfg.with_(read_data_from_file=needs_reread), previous=self
        )

    # --- introspection (reference: src/file_info.rs:16-78) ---

    def shape(self) -> tuple[int, int]:
        return self.df.count(), len(self.df.columns)

    def schema_listing(self) -> list[tuple[int, str, str]]:
        return [(i, f.name, f.dataType.simpleString()) for i, f in enumerate(self.df.schema.fields)]

    def audit(self):
        """Scale review of the current view's physical plan
        (plans/audit.py) — what a ``.explain()`` reader would flag before
        running this pipeline on a big table."""
        from polars_view_spark.plans.audit import audit_plan

        return audit_plan(self.df)
