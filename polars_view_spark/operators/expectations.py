"""Declarative data-quality expectations — N constraint rules over a
table evaluated in ONE pass.

The pre-training gate a large pipeline runs on every ingest batch:
not-null, range, accepted-values, uniqueness and referential-integrity
rules, each reporting violation counts rather than failing fast (a 100 TB
validation that dies on the first bad row tells you nothing about the
other rules).

Scale shape: every row-level rule compiles to one conditional-sum
aggregate, uniqueness to ``count − approx-free count(DISTINCT)``, and a
referential rule to a broadcast LEFT join against the (small, distinct)
key side — so ANY number of rules costs ONE scan + ONE aggregate of the
fact table, plus one broadcast per referenced dimension.  No per-rule
jobs, no Python.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from polars_view_spark.sources import store

#: rule names and column names are spliced into SQL identifiers/aliases —
#: restrict them to identifier shape so no input can break (or inject
#: into) the generated expressions
_IDENT = re.compile(r"^[A-Za-z_][A-Za-z0-9_]*$")


def _checked_ident(value: str, what: str) -> str:
    if not isinstance(value, str) or not _IDENT.match(value):
        raise ValueError(
            f"{what} must be a plain SQL identifier "
            f"([A-Za-z_][A-Za-z0-9_]*), got {value!r}"
        )
    return value


def _rule_condition(rule: dict) -> str:
    """SQL boolean: TRUE when the row VIOLATES the rule."""
    kind = rule["kind"]
    col = _checked_ident(rule.get("column"), f"rule {rule['name']!r} column")
    if kind == "not_null":
        return f"{col} IS NULL"
    if kind == "in_range":
        lo, hi = float(rule["low"]), float(rule["high"])
        return f"({col} IS NULL OR {col} < {lo} OR {col} > {hi})"
    if kind == "accepted_values":
        # values are data, not identifiers: escape quotes SQL-style
        vals = ", ".join(
            "'" + str(v).replace("'", "''") + "'" for v in rule["values"]
        )
        return f"({col} IS NULL OR {col} NOT IN ({vals}))"
    if kind == "references":
        return f"__ref_{rule['name']} IS NULL"
    raise ValueError(f"unknown expectation kind: {kind!r}")


#: dataset-level distribution rules — evaluated as aggregate expressions
#: inside the SAME single scan as the row rules, never as extra jobs
_DIST_KINDS = ("quantile_range", "distinct_range", "quantile_drift", "distinct_drift")

#: default relative tolerance for the sketch-tracks-exact assertion
#: (KLL rank error ≈ 1.7 % at default k; Theta/HLL ≈ 1.6 % at lg_k 12)
SKETCH_TOL = 0.05


def _dist_exprs(rule: dict) -> tuple[str, str]:
    """(exact_sql, sketch_sql) aggregate expressions for a distribution
    rule over the FACT side.  The exact value carries the pass/fail
    decision (deterministic, cross-engine reproducible); the sketch twin
    — KLL for quantiles, Theta for distincts (operators/sketches.py) —
    is the 100 TB estimator, held to the exact value by the
    ``sketch_ok`` bound boolean (the x_sketch_rollup idiom: at real
    scale the exact pass is the one you drop first, and the boolean is
    the evidence the sketch-only mode tracks it)."""
    kind = rule["kind"]
    col = _checked_ident(rule.get("column"), f"rule {rule['name']!r} column")
    if kind in ("quantile_range", "quantile_drift"):
        q = float(rule.get("q", 0.5))
        if not 0.0 <= q <= 1.0:
            raise ValueError(f"rule {rule['name']!r}: q must be in [0, 1], got {q}")
        return (
            f"percentile({col}, {q}D)",
            f"kll_sketch_get_quantile_double("
            f"kll_sketch_agg_double(CAST({col} AS DOUBLE)), {q}D)",
        )
    # distinct_range / distinct_drift
    return (
        f"CAST(COUNT(DISTINCT {col}) AS DOUBLE)",
        f"theta_sketch_estimate(theta_sketch_agg({col}))",
    )


def _metric_key(rule: dict, column: str) -> str:
    """Stable key identifying a (column, metric) pair inside a persisted
    snapshot profile — rename-proof (not coupled to rule names), so one
    profile serves any later gate asking the same statistical question."""
    if rule["kind"].startswith("quantile"):
        return f"{column}:quantile:{float(rule.get('q', 0.5))}"
    return f"{column}:distinct"


def snapshot_profile(df: DataFrame, rules: list[dict], path: str) -> None:
    """Persist the snapshot-side metrics the drift rules in ``rules``
    will compare against — the build half of the drift build/query split
    (same shape as ``minhash_build_index``): the snapshot corpus is
    aggregated ONCE (one scan, exact metric + sketch twin per drift
    rule) and every later ingest gate reads the few-row profile instead
    of re-scanning yesterday's 100 TB.

    Output parquet rows: ``(metric_key, exact, sketch)`` — one per
    distinct (column, metric) among the drift rules.  Pass the profile
    to :func:`expectations_report` via ``ref_profiles`` keyed by the
    rules' ``ref`` name.
    """
    specs: dict[str, tuple[str, str]] = {}
    for r in rules:
        if r["kind"] in ("quantile_drift", "distinct_drift"):
            col = _checked_ident(
                r.get("ref_column", r.get("column")),
                f"rule {r['name']!r} ref_column",
            )
            key = _metric_key(r, col)
            exact, sketch = _dist_exprs({**r, "column": col})
            specs[key] = (exact, sketch)
    if not specs:
        raise ValueError("no drift rules in the rule list — nothing to profile")
    aggs = []
    for i, (exact, sketch) in enumerate(specs.values()):
        aggs.append(F.expr(exact).alias(f"e{i}"))
        aggs.append(F.expr(sketch).alias(f"s{i}"))
    one = df.agg(*aggs)
    # theta_sketch_estimate is BIGINT, KLL quantiles DOUBLE — stack
    # requires uniform column types across groups
    stacked = ", ".join(
        f"'{key}', CAST(e{i} AS DOUBLE), CAST(s{i} AS DOUBLE)"
        for i, key in enumerate(specs)
    )
    (
        one.select(
            F.expr(
                f"stack({len(specs)}, {stacked}) AS (metric_key, exact, sketch)"
            )
        )
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(path)
    )


def expectations_report(
    df: DataFrame,
    rules: list[dict],
    ref_frames: dict[str, DataFrame] | None = None,
    ref_profiles: dict[str, str] | None = None,
) -> DataFrame:
    """Evaluate every rule, return one row per rule:
    ``(rule, n_checked, n_violations, passed, observed, sketch_ok)``,
    ordered by rule name.

    Row-level rule dicts: ``{"name", "kind": not_null|in_range|
    accepted_values|unique|references, "column", ...}`` — ``in_range``
    adds ``low``/``high``, ``accepted_values`` adds ``values``,
    ``references`` adds ``ref`` (a key in ``ref_frames``) and
    ``ref_column``.  For these, ``observed``/``sketch_ok`` are NULL.

    Distribution rules (dataset-level, VERDICT r06 task 7) evaluate as
    aggregate expressions inside the SAME scan:

    - ``quantile_range``: the column's ``q``-quantile (default median)
      must lie in [``low``, ``high``].  ``observed`` = the exact
      quantile (rounded 4dp); a KLL sketch twin is computed alongside
      and ``sketch_ok`` asserts it tracks the exact value within
      ``tol`` (default ``SKETCH_TOL``).
    - ``distinct_range``: exact COUNT(DISTINCT column) in [``low``,
      ``high``]; Theta-sketch twin under the same bound.
    - ``quantile_drift`` / ``distinct_drift``: the metric's relative
      change vs a reference SNAPSHOT frame (``ref`` in ``ref_frames``,
      optional ``ref_column``) must satisfy |Δ|/old ≤
      ``max_rel_change``.  ``observed`` = the relative change (rounded
      6dp); ``sketch_ok`` asserts the sketch twin tracks the exact on
      BOTH sides.  The snapshot side is ONE 1-row aggregate per
      distinct ref, cross-joined broadcast — or, the 100 TB mode, a
      PERSISTED profile built once by :func:`snapshot_profile` and
      passed via ``ref_profiles`` (ref name → parquet path), in which
      case the gate reads a few-row file and the snapshot corpus is
      never re-scanned; ``ref_profiles`` wins when a ref name appears
      in both.  The in-scan sketch expressions are exactly the
      persistable partials' aggregates (operators/sketches.py:
      kll_partial_sketches / theta_partial_sketches).

    ``n_violations`` for distribution rules is 0/1 (the dataset as a
    whole passes or fails), so ``passed = n_violations == 0`` holds
    uniformly.  Cost stays ONE scan + ONE aggregate of the fact table
    for ANY rule mix, plus one broadcast per referenced dimension and
    one 1-row aggregate per drift snapshot.
    """
    if not rules:
        raise ValueError(
            "rules must be non-empty — a dynamically-built rule list that "
            "filtered down to nothing should skip the report entirely"
        )
    names = [_checked_ident(r["name"], "rule name") for r in rules]
    if len(set(names)) != len(names):
        raise ValueError(f"duplicate rule names in {names}")

    def _need_ref(r: dict) -> DataFrame:
        if not ref_frames or r["ref"] not in ref_frames:
            raise ValueError(
                f"{r['kind']} rule {r['name']!r} needs ref_frames["
                f"{r['ref']!r}] — got keys "
                f"{sorted(ref_frames) if ref_frames else []}"
            )
        return ref_frames[r["ref"]]

    def _resolve_drift_ref(r: dict) -> str:
        """'profile' when the ref names a persisted snapshot profile,
        'frame' when it names a live frame; profiles win on collision
        (the persisted path is the scale mode)."""
        if ref_profiles and r["ref"] in ref_profiles:
            return "profile"
        if ref_frames and r["ref"] in ref_frames:
            return "frame"
        raise ValueError(
            f"{r['kind']} rule {r['name']!r} needs ref_frames or "
            f"ref_profiles[{r['ref']!r}] — got frames "
            f"{sorted(ref_frames) if ref_frames else []}, profiles "
            f"{sorted(ref_profiles) if ref_profiles else []}"
        )

    base = df
    for r in rules:
        if r["kind"] == "references":
            ref = _need_ref(r)
            keys = ref.select(
                F.col(r["ref_column"]).alias(r["column"]),
                F.lit(1).alias(f"__ref_{r['name']}"),
            ).distinct()
            base = base.join(F.broadcast(keys), r["column"], "left")

    aggs = [F.count(F.lit(1)).cast("long").alias("n_checked")]
    for r in rules:
        n = r["name"]
        if r["kind"] in _DIST_KINDS:
            exact, sketch = _dist_exprs(r)
            aggs.append(F.expr(exact).alias(f"e_{n}"))
            aggs.append(F.expr(sketch).alias(f"s_{n}"))
        elif r["kind"] == "unique":
            aggs.append(
                (F.count(F.col(r["column"])) - F.countDistinct(F.col(r["column"])))
                .cast("long")
                .alias(f"v_{n}")
            )
        else:
            aggs.append(
                F.sum(F.expr(f"CASE WHEN {_rule_condition(r)} THEN 1 ELSE 0 END"))
                .cast("long")
                .alias(f"v_{n}")
            )
    one = base.agg(*aggs)

    # snapshot side for drift rules: ONE 1-row aggregate per distinct ref
    # frame (however many rules reference it), cross-joined broadcast —
    # the only crossJoin shape this package allows (1-row aggregates)
    drift_by_ref: dict[str, list[dict]] = {}
    for r in rules:
        if r["kind"].endswith("_drift") and r["kind"] in _DIST_KINDS:
            _resolve_drift_ref(r)
            drift_by_ref.setdefault(r["ref"], []).append(r)
    for ref_name, ref_rules in drift_by_ref.items():
        if _resolve_drift_ref(ref_rules[0]) == "profile":
            # persisted snapshot profile (snapshot_profile): a few-row
            # parquet by contract (one row per metric), so a driver-side
            # collect is bounded — same discipline as the IVF centroid
            # table.  Values land as literal columns; a profile missing
            # the asked metric fails LOUDLY, never as an empty result.
            spark = df.sparkSession
            prof = {
                row["metric_key"]: (row["exact"], row["sketch"])
                for row in spark.read.parquet(ref_profiles[ref_name]).collect()
            }
            for r in ref_rules:
                ref_col = r.get("ref_column", r["column"])
                key = _metric_key(r, ref_col)
                if key not in prof:
                    raise ValueError(
                        f"profile {ref_name!r} has no metric {key!r} — "
                        f"available: {sorted(prof)}"
                    )
                exact, sketch = prof[key]
                one = one.withColumn(
                    f"re_{r['name']}", F.lit(exact).cast("double")
                ).withColumn(f"rs_{r['name']}", F.lit(sketch).cast("double"))
            continue
        raggs = []
        for r in ref_rules:
            ref_col = r.get("ref_column", r["column"])
            exact, sketch = _dist_exprs({**r, "column": ref_col})
            raggs.append(F.expr(exact).alias(f"re_{r['name']}"))
            raggs.append(F.expr(sketch).alias(f"rs_{r['name']}"))
        one = one.crossJoin(F.broadcast(ref_frames[ref_name].agg(*raggs)))

    groups = []
    for r in rules:
        n = r["name"]
        kind = r["kind"]
        if kind not in _DIST_KINDS:
            groups.append(
                f"'{n}', v_{n}, CAST(NULL AS DOUBLE), CAST(NULL AS BOOLEAN)"
            )
            continue
        tol = float(r.get("tol", SKETCH_TOL))
        within = f"abs(s_{n} - e_{n}) <= abs(e_{n}) * {tol}"
        if kind.endswith("_drift"):
            max_rel = float(r["max_rel_change"])
            if max_rel < 0:
                raise ValueError(f"rule {n!r}: max_rel_change must be >= 0")
            rel = f"(e_{n} - re_{n}) / re_{n}"
            violated = (
                f"(e_{n} IS NULL OR re_{n} IS NULL OR abs({rel}) > {max_rel})"
            )
            observed = f"round({rel}, 6)"
            within = f"({within} AND abs(rs_{n} - re_{n}) <= abs(re_{n}) * {tol})"
        else:
            lo, hi = float(r["low"]), float(r["high"])
            violated = f"(e_{n} IS NULL OR e_{n} < {lo} OR e_{n} > {hi})"
            observed = f"round(e_{n}, 4)"
        groups.append(
            f"'{n}', CAST(CASE WHEN {violated} THEN 1 ELSE 0 END AS BIGINT), "
            f"{observed}, {within}"
        )

    return (
        one.select(
            "n_checked",
            F.expr(
                f"stack({len(rules)}, {', '.join(groups)}) "
                f"AS (rule, n_violations, observed, sketch_ok)"
            ),
        )
        .select(
            "rule",
            "n_checked",
            "n_violations",
            (F.col("n_violations") == 0).alias("passed"),
            "observed",
            "sketch_ok",
        )
        .orderBy("rule")
    )


def audited_write(
    df: DataFrame,
    metrics: dict[str, "F.Column"],
    path: str,
    fmt: str = "parquet",
) -> DataFrame:
    """Write ``df`` while collecting input-audit metrics IN THE SAME
    PASS via ``DataFrame.observe`` — the zero-extra-scan version of the
    ingest audit every pipeline wants next to every materialization
    ("how many rows / nulls / bytes went into this dataset?").

    ``metrics`` maps output column name → aggregate Column (observe's
    contract: aggregates only, no DISTINCT).  The frame is written to
    ``path`` and the observed values come back as a ONE-ROW DataFrame
    whose column types are the aggregates' ANALYZED datatypes (taken
    from ``df.agg(...)``'s schema — a driver-side plan analysis, no
    job), so a double aggregate stays ``double`` even when an EMPTY
    write makes observe return NULL for it, and string/boolean
    aggregates type correctly — the zero-row daily increment still gets
    its audit row instead of a crash or a silently re-typed column.

    Scale shape: this is the whole point — ``observe`` piggybacks the
    aggregates on the write job's tasks (a map-side partial per task,
    merged on the driver), so the audit costs ZERO additional scans,
    shuffles, or jobs.  The naive alternative — write, then run a
    separate aggregate — reads the 100 TB input twice.  The metrics row
    is driver-side by construction (a few numbers), created with one
    slice per this package's small-table discipline.
    """
    from pyspark.sql import Observation

    if not metrics:
        raise ValueError("metrics must name at least one aggregate")
    names = list(metrics)
    aliased = [metrics[n].alias(n) for n in names]
    # the metrics row's schema comes from the ANALYZED aggregate types
    # (df.agg(...).schema is pure driver-side analysis — no job runs),
    # never from isinstance() checks on the returned Python values: an
    # empty write returns None for sum/min/max and a runtime-value probe
    # would degrade double→long (or crash on string/boolean aggregates).
    from pyspark.sql.types import StructType

    metrics_schema = StructType(df.agg(*aliased).schema.fields)
    obs = Observation("audited_write")
    observed = df.observe(obs, *aliased)
    observed.write.mode("overwrite").format(fmt).save(path)
    got = obs.get  # blocks until the write's QueryExecution reports
    row = tuple(got[n] for n in names)
    return store.small_frame(df.sparkSession, [row], metrics_schema)
