"""Distributed, deterministically-trained linear quality classifier.

The reference-vs-crawl filter step of the large-scale pipelines this
engine targets (GPT-3's WebText classifier, arXiv:2005.14165 appendix A;
CCNet's reference-language model, arXiv:1911.00359): train a linear
model to recognize a small "reference" slice, then score the whole
corpus and keep what looks like the reference.  fastText-style hashed
bag-of-words features make the model vocabulary-free and fixed-width,
so it broadcasts as a handful of integer literals.

Spark-first shape
-----------------
- Features are the existing signed-hash doc vectors
  (``textstats.hashed_doc_vectors`` — one explode + ONE keyed shuffle,
  all integer).  The classifier adds no new corpus pass: the feature
  frame is localCheckpoint-pinned once and reused by every epoch and by
  the final scoring pass.
- The full descent (all epochs) runs as ONE Arrow-batched job over the
  pinned sample (``_fit_weights`` — the sample streams through
  ``mapInPandas`` on a narrow ``coalesce(1)``, the epoch loop is
  vectorized int64 NumPy, and only the O(dim) trained weights return to
  the driver).  Sequential epochs cannot be distributed without one
  job barrier per epoch, and the trainer's input is a bounded sample by
  contract, so one task IS the right shape — the earlier
  epochs-many-aggregate-jobs form paid ~0.45 s of Catalyst/scheduler
  latency per epoch for sub-50 ms of math (round-10 optimization).
- Inference is a pure projection: the trained weights are inlined as
  integer literals, so scoring 100 TB is scan + codegen arithmetic —
  no join, no shuffle, no Python.

Determinism / oracle-exactness
------------------------------
Classic logistic regression is float soup (sigmoid = exp, libm
divergence — the reason ``bigram_pmi`` is ln-free).  This trainer is
integer end-to-end, so the FULL training trajectory carries a value-hash
DuckDB oracle (catalog entry ``x_quality_classifier``):

- hard-sigmoid probability, kept in integer numerator form:
  ``pnum = clamp(MC + margin, 0, 2·MC)`` (i.e. p = pnum / 2·MC,
  saturating at |margin| = MC) — no exp, no division;
- class-balanced per-row gradient ``(pnum − 2·MC·y)·c_y·b_i`` with
  ``c_1 = n_neg, c_0 = n_pos`` (inverse-frequency weighting as integer
  counts — without it the majority class buys an always-majority bias,
  measured on the test corpus) — exact int64, order-free to sum;
- weight update ``w_i ← w_i − floor((lr_num//t)·G_i /
  (lr_den·2·MC·2·n_pos·n_neg))`` — 1/t Robbins-Monro decay (fixed-step
  integer GD oscillates between the all-0 and all-1 corners here), and
  exact integer floor division on the driver (Python ``//``), mirrored
  in the oracle by the canonical-mod floor-div formula over HUGEINT.

Overflow bound (documented): the epoch aggregate sums
``err·c_y·b_i`` with ``|err| ≤ 2·MC``, so int64 is safe while
``n_rows² · 2·MC · max|b_i| < 2^63`` — at the defaults (MC = 2^10,
|b| ≲ 10^3 for ~1 KB docs) that is ~2·10^6 training rows; Spark 4's
default ANSI mode makes a breach a loud error, never a silent wrap.  A
quality classifier is trained on a SAMPLE of that order, not the full
crawl (the GPT-3 filter trained on ~10^7 docs; pair with
``_x_stratified_sample``/``x_group_sample`` to draw it) — inference,
which DOES run on the full corpus, has no sum and no bound.  Reference
parity target: claudiofsr/polars-view has no ML surface — this is a
scale extension (SURVEY.md "beyond the reference").
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from polars_view_spark.functions.texthash import duck_hex64_sql, duck_tokens_sql
from polars_view_spark.sources import store

#: hard-sigmoid half-width in margin units: p saturates at |margin| = MC.
MARGIN_CAP = 1 << 10
#: learning rate lr_num/lr_den, in weight-units per mean-gradient unit;
#: epoch t (1-based) steps with lr_num // t — the 1/t Robbins-Monro decay
#: that damps the oscillation plain fixed-step integer GD exhibits here.
LR_NUM = 400
LR_DEN = 1
CLASSIFIER_DIM = 64
CLASSIFIER_EPOCHS = 10
#: loud ceiling on the trainer's bounded-sample contract (module
#: docstring "Overflow bound"): the descent deliberately runs as ONE
#: coalesce(1) Arrow task, which is the right shape for a ~10^6-row
#: sample and a silent single-task crawl for anything bigger — past this
#: the caller must downsample (x_group_sample / _x_stratified_sample),
#: not wait.  The int64 fast path's own bound is of the same order.
FIT_MAX_SAMPLE_ROWS = 4_000_000


def _margin_sql(weights: list[int], dim: int) -> str:
    """Inlined integer margin over a ``vec`` array column: Σ vec[i]·w_i + bias.

    Weights ride as int64 literals (suffix L) — the plan is O(dim) text,
    no join, fully whole-stage-codegen."""
    terms = [
        f"vec[{i}] * {int(weights[i])}L" for i in range(dim) if weights[i] != 0
    ]
    terms.append(f"{int(weights[dim])}L")
    return "(" + " + ".join(terms) + ")"


def train_quality_classifier(
    df: DataFrame,
    label: Column | str,
    id_col: str = "doc_id",
    text_col: str = "text",
    dim: int = CLASSIFIER_DIM,
    epochs: int = CLASSIFIER_EPOCHS,
    lr_num: int = LR_NUM,
    lr_den: int = LR_DEN,
    margin_cap: int = MARGIN_CAP,
    init_weights: list[int] | None = None,
) -> tuple[DataFrame, list[int]]:
    """Train the hard-sigmoid linear classifier and score every document.

    ``label`` is a 0/1 Column (or SQL string) over ``df``'s columns
    marking the reference slice (y=1).  Returns ``(scored, weights)``:

    - ``scored``: one row per document that produced ≥1 token —
      ``doc`` (id), ``margin`` (int64, >0 ⇒ reference-like), ``pred``
      (0/1), ``y`` (the training label) — a pure projection of the
      pinned feature frame, so callers can filter/threshold it at scan
      cost;
    - ``weights``: the ``dim + 1`` trained integer weights (bias last),
      ready to inline into a later inference-only pass via
      :func:`score_with_weights`.

    Documents whose text is NULL produce no token rows and are absent
    (they carry no evidence either way); the catalog oracle mirrors the
    same drop.

    ``init_weights`` warm-starts from a previously trained model (e.g.
    loaded via :func:`load_classifier`) — the incremental-retrain face of
    the persisted-model split: yesterday's model + today's batch, the old
    corpus never re-read.  The 1/t decay restarts at t=1 for the new
    phase (a fine-tune is a new schedule, not a continuation — documented
    contract, mirrored by the oracle).
    """
    from polars_view_spark.operators.textstats import hashed_doc_vectors

    if isinstance(label, str):
        label = F.expr(label)
    assert epochs >= 1 and dim >= 1 and lr_den >= 1 and margin_cap >= 1

    # NULL labels count as 0 (not-reference), matching the oracle's
    # CASE WHEN … THEN 1 ELSE 0 — a NULL y would otherwise silently drop
    # the row from the error sum on the Spark side only
    labels = df.select(
        F.col(id_col).alias("doc"),
        F.coalesce(label.cast("int"), F.lit(0)).alias("y"),
    )
    # the class counts ride the checkpoint job as observed metrics (r11):
    # the trainer's standalone (sum(y), count) aggregate job re-read the
    # fresh checkpoint for two numbers this job already streams past
    from pyspark.sql import Observation

    obs = Observation()
    feats = (
        hashed_doc_vectors(df, id_col=id_col, text_col=text_col, dim=dim)
        .select("doc", "vec")
        .join(labels, "doc")
        .observe(
            obs,
            F.sum("y").alias("np"),
            F.count(F.lit(1)).alias("n"),
        )
        .localCheckpoint(eager=True)
    )
    m = obs.get

    weights = _fit_weights(
        feats, dim, epochs, lr_num, lr_den, margin_cap, init_weights,
        counts=(int(m["np"] or 0), int(m["n"])),
    )
    scored = score_with_weights(feats, weights, dim).select(
        "doc", "margin", "pred", "y"
    )
    return scored, weights


def _fit_weights(
    feats: DataFrame,
    dim: int,
    epochs: int,
    lr_num: int,
    lr_den: int,
    margin_cap: int,
    init_weights: list[int] | None = None,
    counts: tuple[int, int] | None = None,
) -> list[int]:
    """The descent loop over a pinned (doc, vec, y) frame — shared by the
    binary trainer and the one-vs-rest router (which fits k labels over
    ONE feature frame).

    ``counts`` = (n_pos, n_total) lets a caller that already observed the
    class balance on its checkpoint job (Dataset.observe) skip the
    standalone aggregate job here; values must equal what the aggregate
    would compute over ``feats``."""
    if counts is None:
        row = feats.agg(
            F.sum("y").alias("np"), F.count(F.lit(1)).alias("n")
        ).first()
        assert row is not None, "empty training frame"
        counts = (int(row["np"] or 0), int(row["n"]))
    n_pos, n_total = counts
    assert n_total > 0, "empty training frame"
    if n_total > FIT_MAX_SAMPLE_ROWS:
        raise ValueError(
            f"training sample has {n_total} rows, over the "
            f"{FIT_MAX_SAMPLE_ROWS}-row bounded-sample contract — the "
            f"descent runs as one task by design; downsample first "
            f"(x_group_sample / stratified_sample)"
        )
    n_neg = n_total - n_pos
    assert n_pos > 0 and n_neg > 0, "label must have both classes"

    if init_weights is None:
        weights = [0] * (dim + 1)
    else:
        if len(init_weights) != dim + 1:
            raise ValueError(
                f"init_weights has {len(init_weights)} entries, model needs {dim + 1}"
            )
        weights = [int(w) for w in init_weights]

    # The descent runs as ONE Arrow-batched job over the (bounded, pinned)
    # sample instead of ``epochs`` sequential one-row aggregate jobs.  Two
    # prior generations, kept honest by the same value-hash oracle:
    #
    # 1. epochs × (65-sum aggregate job + driver update).  Correct, but each
    #    epoch re-analyzed an O(dim²)-term expression tree (the O(dim)-term
    #    margin feeding dim+1 gradient sums) and paid a full job barrier —
    #    measured ~0.45 s/epoch at sf0.1 of which the actual aggregate was
    #    <0.05 s; 10 epochs ≈ 4.5 s of almost pure Catalyst/scheduler
    #    latency.  (A 2-epoch broadcast-stacked single plan was also
    #    prototyped and COMPILES 6× slower than two plain jobs — VERDICT
    #    r08 task 2.)
    # 2. this shape: the sample's (vec, y) rows stream through mapInPandas
    #    on a coalesce(1) — a NARROW dependency, no shuffle — and the full
    #    epoch loop runs vectorized in one task (optimization guide §4.2:
    #    Spark distributes I/O; batch math belongs in NumPy).  Sequential
    #    epochs fundamentally cannot be distributed without one barrier
    #    per epoch (each margin needs the previous epoch's weights), and
    #    the trainer's input is a BOUNDED SAMPLE by documented contract
    #    (the int64 overflow bound caps it at ~2e6 rows ≈ 1 GB of int64
    #    vecs — one task's worth by design), so pinning the loop to one
    #    task trades nothing away at 100 TB: inference, the pass that
    #    actually scales, stays the projection-only score_with_weights.
    #
    # Bit-exactness: every operation is int64 add/multiply/compare —
    # exact in any engine and any accumulation order.  NumPy wraps on
    # int64 overflow where Spark's ANSI mode errored, so the documented
    # bound is enforced EXPLICITLY below (same loud-failure contract).
    # The weight update stays in arbitrary-precision Python ints with the
    # identical floor division.
    two_mc = 2 * margin_cap
    denom = lr_den * two_mc * 2 * n_pos * n_neg
    i64_max = (1 << 63) - 1

    def _descend(batches):
        import numpy as np
        import pandas as pd

        mats, ys = [], []
        for pdf in batches:
            mats.append(np.stack(pdf["vec"].to_numpy()).astype(np.int64, copy=False))
            ys.append(pdf["y"].to_numpy().astype(np.int64, copy=False))
        if not mats:
            # empty partition (cannot happen after the counts assert, but
            # mapInPandas contracts require yielding a frame)
            yield pd.DataFrame({"w": [[]]})
            return
        mat = np.vstack(mats)  # (n, dim) int64
        y = np.concatenate(ys)  # (n,) int64
        cls_w = np.where(y == 1, np.int64(n_neg), np.int64(n_pos))
        # conservative per-epoch overflow bounds; inside them the fast
        # int64 path is provably exact, outside them the SAME math re-runs
        # in arbitrary-precision object dtype (exact, slower) so behavior
        # under extreme inputs stays correct rather than silently wrapped
        max_b = int(np.abs(mat).max()) if mat.size else 0
        if max_b * dim > i64_max:  # even the L1 bound could overflow int64
            max_l1 = int(max(np.abs(mat).sum(axis=1, dtype=object), default=0))
        else:
            max_l1 = int(np.abs(mat).sum(axis=1, dtype=np.int64).max()) if mat.size else 0
        # |Σ err·cls_w·b_i| ≤ n · 2·MC · max(n_pos, n_neg) · max|b|
        g_exact = len(y) * two_mc * max(n_pos, n_neg) * max(max_b, 1) > i64_max
        w = list(weights)
        for t in range(1, epochs + 1):
            # |margin| ≤ L1(row)·max|w| + |bias|
            m_exact = (
                max_l1 * max([1] + [abs(x) for x in w[:dim]]) + abs(w[dim])
                > i64_max
            )
            if m_exact or g_exact:
                wv = np.asarray(w[:dim], dtype=object)
                margin = mat.astype(object) @ wv + w[dim]
                pnum = np.minimum(np.maximum(margin + margin_cap, 0), two_mc)
                err = (pnum - two_mc * y.astype(object)) * cls_w.astype(object)
                grads = [int(g) for g in (err @ mat.astype(object))] + [
                    int(err.sum())
                ]
            else:
                wv = np.asarray(w[:dim], dtype=np.int64)
                margin = mat @ wv + np.int64(w[dim])
                pnum = np.clip(margin + np.int64(margin_cap), 0, two_mc)
                err = (pnum - np.int64(two_mc) * y) * cls_w
                grads = [int(g) for g in (err @ mat)] + [int(err.sum())]
            step = lr_num // t
            w = [wi - (step * g) // denom for wi, g in zip(w, grads)]
        yield pd.DataFrame({"w": [[int(x) for x in w]]})

    rows = (
        feats.select("vec", "y")
        .coalesce(1)
        .mapInPandas(_descend, "w array<long>")
        .collect()
    )
    trained = [list(r["w"]) for r in rows if len(r["w"]) > 0]
    assert len(trained) == 1, f"descent produced {len(trained)} weight rows"
    return [int(x) for x in trained[0]]


def score_with_weights(feats: DataFrame, weights: list[int], dim: int) -> DataFrame:
    """Inference-only pass: margin + 0/1 prediction from inlined integer
    weights over a ``vec`` feature column.  Projection-only — at 100 TB
    this is the stage that runs on the full corpus, and it costs one
    scan with no exchange."""
    m = _margin_sql(weights, dim)
    return feats.select(
        "*",
        F.expr(m).cast("long").alias("margin"),
        F.expr(f"CASE WHEN {m} > 0 THEN 1 ELSE 0 END").cast("int").alias("pred"),
    )


_EPOCH_STEP = """,
    {pm}{t} AS MATERIALIZED (
      SELECT l.doc, l.y, SUM(b.b * w.w) AS m
      FROM {lab} l JOIN bx b ON l.doc = b.doc JOIN {pw}{p} w ON b.i = w.i
      GROUP BY l.doc, l.y
    ),
    {pe}{t} AS (
      SELECT doc, y,
             (LEAST(GREATEST({mc} + m, 0), {tmc}) - {tmc} * y)
               * (CASE WHEN y = 1 THEN (SELECT nneg FROM {cnt})
                       ELSE (SELECT npos FROM {cnt}) END) AS err
      FROM {pm}{t}
    ),
    {pg}{t} AS (
      SELECT b.i, SUM(e.err * b.b) AS g
      FROM {pe}{t} e JOIN bx b ON e.doc = b.doc GROUP BY b.i
    ),
    {pgg}{t} AS (
      -- a bucket no token hashed to still has a (zero) gradient on the
      -- Spark side (SUM over vec[i] = 0): LEFT JOIN keeps its weight row
      SELECT w.i, w.w, COALESCE(g.g, 0)::HUGEINT AS g
      FROM {pw}{p} w LEFT JOIN {pg}{t} g ON w.i = g.i
    ),
    {pw}{t} AS MATERIALIZED (
      SELECT i,
             w - (({ln} * g) - ((({ln} * g) % ({dn}) + ({dn})) % ({dn})))
                 // ({dn}) AS w
      FROM {pgg}{t} CROSS JOIN {cnt}
    )"""


def _epoch_chain(
    prefix: str,
    lab: str,
    cnt: str,
    w_in: str,
    epochs: int,
    lr_num: int,
    lr_den: int,
    margin_cap: int,
) -> tuple[str, str]:
    """Emit one training phase as a CTE chain: ``epochs`` steps of the
    class-balanced, floor-div-updated descent starting from weight CTE
    ``w_in`` against label CTE ``lab``.  Returns (sql_fragment,
    final_weight_cte_name).  The 1/t decay restarts at t=1 per phase."""
    two_mc = 2 * margin_cap
    denom = f"{lr_den} * {two_mc} * 2 * {cnt}.npos * {cnt}.nneg"
    parts = []
    # alias the incoming weights into this phase's w0 so the step template
    # can address {pw}{{t-1}} uniformly
    parts.append(f""",
    {prefix}w0 AS (SELECT i, w FROM {w_in})""")
    for t in range(1, epochs + 1):
        parts.append(
            _EPOCH_STEP.format(
                t=t,
                p=t - 1,
                mc=margin_cap,
                tmc=two_mc,
                ln=lr_num // t,
                dn=denom,
                lab=lab,
                cnt=cnt,
                pm=f"{prefix}m",
                pe=f"{prefix}e",
                pg=f"{prefix}g",
                pgg=f"{prefix}gg",
                pw=f"{prefix}w",
            )
        )
    return "".join(parts), f"{prefix}w{epochs}"


def _feature_ctes(
    label_sql: str,
    dim: int,
    table: str,
    id_col: str,
    text_col: str,
) -> str:
    """Shared feature/label CTE header: long-form signed-hash buckets +
    bias pseudo-bucket i=dim, and the full labeled doc set."""
    sign = "(CASE WHEN (h >> 6) & 1 = 1 THEN 1 ELSE -1 END)"
    return f"""
    WITH toks AS (
      SELECT {id_col} AS doc, unnest({duck_tokens_sql(text_col)}) AS tok
      FROM {table}
    ),
    hashed AS (SELECT doc, {duck_hex64_sql("tok")} AS h FROM toks),
    -- MATERIALIZED: every epoch references bx/lab 3x; DuckDB inlines
    -- plain CTEs, which re-tokenizes the corpus O(epochs²) times and
    -- turns a 1 s oracle into minutes
    bx AS MATERIALIZED (
      SELECT doc, (h % {dim})::INT AS i, SUM({sign})::HUGEINT AS b
      FROM hashed GROUP BY doc, h % {dim}
      UNION ALL
      SELECT DISTINCT doc, {dim}::INT AS i, 1::HUGEINT AS b FROM hashed
    ),
    lab AS MATERIALIZED (
      SELECT b.doc, (CASE WHEN {label_sql} THEN 1 ELSE 0 END)::HUGEINT AS y
      FROM (SELECT DISTINCT doc FROM bx) b
      JOIN {table} t ON b.doc = t.{id_col}
    ),
    zw AS (SELECT i::INT AS i, 0::HUGEINT AS w FROM range({dim + 1}) t(i))"""


def _final_scoring(w_cte: str) -> str:
    return f""",
    final AS (
      SELECT l.doc, l.y, SUM(b.b * w.w) AS m
      FROM lab l JOIN bx b ON l.doc = b.doc JOIN {w_cte} w ON b.i = w.i
      GROUP BY l.doc, l.y
    )
    SELECT doc, CAST(m AS BIGINT) AS margin,
           (CASE WHEN m > 0 THEN 1 ELSE 0 END)::INT AS pred,
           CAST(y AS INT) AS y
    FROM final ORDER BY doc"""


def duck_classifier_oracle(
    label_sql: str,
    dim: int = CLASSIFIER_DIM,
    epochs: int = CLASSIFIER_EPOCHS,
    lr_num: int = LR_NUM,
    lr_den: int = LR_DEN,
    margin_cap: int = MARGIN_CAP,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    """Replay the EXACT training trajectory in DuckDB ANSI SQL.

    Long-form features (doc, bucket, count) + a bias pseudo-bucket
    ``i = dim`` with b = 1; weights evolve through one CTE per epoch.
    All accumulation is HUGEINT (order-free, overflow-proof); the only
    non-trivial step is the floor division, spelled with the
    canonical-mod formula ``(a − ((a % b) + b) % b) // b`` so DuckDB's
    truncating ``//`` reproduces Python's flooring ``//`` exactly
    (numerator becomes exactly divisible).
    """
    ctes, w_final = duck_classifier_ctes(
        label_sql, dim, epochs, lr_num, lr_den, margin_cap, table, id_col, text_col
    )
    return ctes + _final_scoring(w_final)


def duck_classifier_ctes(
    label_sql: str,
    dim: int = CLASSIFIER_DIM,
    epochs: int = CLASSIFIER_EPOCHS,
    lr_num: int = LR_NUM,
    lr_den: int = LR_DEN,
    margin_cap: int = MARGIN_CAP,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> tuple[str, str]:
    """The training trajectory as an OPEN CTE chain (no final SELECT):
    returns ``(sql, final_weight_cte)`` so composed oracles — the
    model-filtered training mix — can keep stacking CTEs on top of the
    trained weights instead of copying the trajectory SQL."""
    header = _feature_ctes(label_sql, dim, table, id_col, text_col)
    cnt = """,
    cnt AS MATERIALIZED (
      SELECT SUM(y)::HUGEINT AS npos, (COUNT(*) - SUM(y))::HUGEINT AS nneg
      FROM lab
    )"""
    chain, w_final = _epoch_chain(
        "", "lab", "cnt", "zw", epochs, lr_num, lr_den, margin_cap
    )
    return header + cnt + chain, w_final


def duck_classifier_warm_start_oracle(
    label_sql: str,
    split_doc: int,
    dim: int = CLASSIFIER_DIM,
    epochs_a: int = CLASSIFIER_EPOCHS,
    epochs_b: int = CLASSIFIER_EPOCHS,
    lr_num: int = LR_NUM,
    lr_den: int = LR_DEN,
    margin_cap: int = MARGIN_CAP,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    """Two-phase replay: train on docs < ``split_doc`` from zeros, then
    fine-tune the resulting weights on docs >= ``split_doc`` (decay
    restarting at t=1 — the warm-start contract), and score EVERY doc
    with the final model.  Pins the incremental-retrain trajectory
    end-to-end: a wrong seed, a wrong phase-B label set, or a schedule
    continuation would all break the value hash."""
    header = _feature_ctes(label_sql, dim, table, id_col, text_col)
    phases = f""",
    laba AS MATERIALIZED (SELECT * FROM lab WHERE doc < {split_doc}),
    labb AS MATERIALIZED (SELECT * FROM lab WHERE doc >= {split_doc}),
    cnta AS MATERIALIZED (
      SELECT SUM(y)::HUGEINT AS npos, (COUNT(*) - SUM(y))::HUGEINT AS nneg
      FROM laba
    ),
    cntb AS MATERIALIZED (
      SELECT SUM(y)::HUGEINT AS npos, (COUNT(*) - SUM(y))::HUGEINT AS nneg
      FROM labb
    )"""
    chain_a, w_a = _epoch_chain(
        "a", "laba", "cnta", "zw", epochs_a, lr_num, lr_den, margin_cap
    )
    chain_b, w_b = _epoch_chain(
        "b", "labb", "cntb", w_a, epochs_b, lr_num, lr_den, margin_cap
    )
    return header + phases + chain_a + chain_b + _final_scoring(w_b)


def save_classifier(spark, weights: list[int], path: str) -> None:
    """Persist trained weights as a tiny (i, w) parquet — the model-registry
    face of the build/query split the persisted MinHash/IVF/containment
    indexes established: train once (bounded sample), persist, and let any
    later batch or streaming job score against the FROZEN model without
    retraining.  Row i = dim is the bias; dim is recovered from the row
    count on load, so a loaded model can never silently score with the
    wrong feature width."""
    rows = [(i, int(w)) for i, w in enumerate(weights)]
    store.small_frame(spark, rows, "i int, w long").write.mode(
        "overwrite"
    ).parquet(path)


def load_classifier(spark, path: str) -> tuple[list[int], int]:
    """Load persisted weights; returns ``(weights, dim)`` with the bias
    last, exactly as :func:`train_quality_classifier` produced them.
    Raises on a gap in the index space (a corrupt or partial write must
    fail loudly, not mis-align weights)."""
    rows = spark.read.parquet(path).collect()
    by_i = {int(r["i"]): int(r["w"]) for r in rows}
    if sorted(by_i) != list(range(len(by_i))) or not by_i:
        raise ValueError(f"corrupt classifier at {path}: indexes {sorted(by_i)[:5]}...")
    weights = [by_i[i] for i in range(len(by_i))]
    return weights, len(weights) - 1


def train_topic_router(
    df: DataFrame,
    classes: list[tuple[str, Column | str]],
    id_col: str = "doc_id",
    text_col: str = "text",
    dim: int = CLASSIFIER_DIM,
    epochs: int = CLASSIFIER_EPOCHS,
    lr_num: int = LR_NUM,
    lr_den: int = LR_DEN,
    margin_cap: int = MARGIN_CAP,
) -> tuple[DataFrame, dict[str, list[int]]]:
    """Multiclass one-vs-rest routing: train one binary hard-sigmoid
    classifier per (name, label) class over a SINGLE shared feature
    frame, then route every document to the argmax margin — the
    domain-router step that sends crawl documents to per-topic pipelines
    (code → code pipeline, math → math pipeline, …).

    Cost: the corpus is featurized and pinned ONCE; each class adds
    ``epochs`` one-row aggregates (k·epochs total) and the routing pass
    is a single projection with all k weight vectors inlined as literals
    — like binary inference, the 100 TB-facing pass has no join, no
    shuffle, no Python.  Ties break to the EARLIEST class in ``classes``
    (struct-ordering argmax, mirrored exactly by the oracle's
    ``ORDER BY margin DESC, class_idx``).

    Returns ``(routed, models)``: ``routed`` = (doc, route, margin) with
    margin the winning class's score; ``models`` = per-class weight
    vectors, each reusable via :func:`score_with_weights` /
    :func:`save_classifier`.  Labels may overlap or miss documents —
    one-vs-rest handles both, and a doc matching nothing still routes to
    its least-bad class (threshold on ``margin`` to quarantine those).
    """
    from polars_view_spark.operators.textstats import hashed_doc_vectors

    if len(classes) < 2:
        raise ValueError("router needs at least 2 classes")
    names = [n for n, _ in classes]
    if len(set(names)) != len(names):
        raise ValueError(f"duplicate class names: {names}")

    base = hashed_doc_vectors(df, id_col=id_col, text_col=text_col, dim=dim)
    labels = df.select(
        F.col(id_col).alias("doc"),
        *[
            F.coalesce(
                (F.expr(lab) if isinstance(lab, str) else lab).cast("int"),
                F.lit(0),
            ).alias(f"y{k}")
            for k, (_n, lab) in enumerate(classes)
        ],
    )
    # ONE observe on the checkpoint job carries every class's positive
    # count plus the total (r11) — previously each of the k fits paid its
    # own aggregate job over the same pinned frame
    from pyspark.sql import Observation

    obs = Observation()
    feats = (
        base.select("doc", "vec")
        .join(labels, "doc")
        .observe(
            obs,
            F.count(F.lit(1)).alias("n"),
            *[F.sum(f"y{k}").alias(f"np{k}") for k in range(len(classes))],
        )
        .localCheckpoint(eager=True)
    )
    m = obs.get

    models: dict[str, list[int]] = {}
    for k, (name, _lab) in enumerate(classes):
        cls_feats = feats.select("doc", "vec", F.col(f"y{k}").alias("y"))
        models[name] = _fit_weights(
            cls_feats, dim, epochs, lr_num, lr_den, margin_cap,
            counts=(int(m[f"np{k}"] or 0), int(m["n"])),
        )

    # argmax via greatest() over (margin, reverse-class-priority, name)
    # structs: equal margins -> higher priority = earlier class wins
    k_total = len(classes)
    cands = [
        F.struct(
            F.expr(_margin_sql(models[name], dim)).cast("long").alias("m"),
            F.lit(k_total - k).alias("pri"),
            F.lit(name).alias("route"),
        )
        for k, (name, _lab) in enumerate(classes)
    ]
    best = F.greatest(*cands)
    return (
        feats.select(
            "doc", best["route"].alias("route"), best["m"].alias("margin")
        ),
        models,
    )


def duck_router_oracle(
    classes: list[tuple[str, str]],
    dim: int = CLASSIFIER_DIM,
    epochs: int = CLASSIFIER_EPOCHS,
    lr_num: int = LR_NUM,
    lr_den: int = LR_DEN,
    margin_cap: int = MARGIN_CAP,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    """Replay the router end-to-end: ONE shared feature header, one
    label/count/descent chain per class (prefixes c0/c1/…), per-class
    score CTEs, and the argmax with the Spark side's exact tie-break."""
    # header (bx + lab over class 0's label just to define the doc set —
    # every class chain uses its OWN labels below; lab is the shared
    # "all scored docs" frame, label value unused)
    header = _feature_ctes("TRUE", dim, table, id_col, text_col)
    parts = [header]
    score_ctes = []
    for k, (_name, lsql) in enumerate(classes):
        parts.append(f""",
    lab{k} AS MATERIALIZED (
      SELECT b.doc, (CASE WHEN {lsql} THEN 1 ELSE 0 END)::HUGEINT AS y
      FROM (SELECT DISTINCT doc FROM bx) b
      JOIN {table} t ON b.doc = t.{id_col}
    ),
    cnt{k} AS MATERIALIZED (
      SELECT SUM(y)::HUGEINT AS npos, (COUNT(*) - SUM(y))::HUGEINT AS nneg
      FROM lab{k}
    )""")
        chain, w_final = _epoch_chain(
            f"c{k}", f"lab{k}", f"cnt{k}", "zw", epochs, lr_num, lr_den, margin_cap
        )
        parts.append(chain)
        score_ctes.append(
            f""",
    s{k} AS (
      SELECT l.doc, {k} AS idx, SUM(b.b * w.w) AS m
      FROM lab{k} l JOIN bx b ON l.doc = b.doc JOIN {w_final} w ON b.i = w.i
      GROUP BY l.doc
    )"""
        )
    parts.extend(score_ctes)
    names_case = " ".join(
        f"WHEN {k} THEN '{name}'" for k, (name, _l) in enumerate(classes)
    )
    unions = " UNION ALL ".join(f"SELECT * FROM s{k}" for k in range(len(classes)))
    parts.append(f""",
    allscores AS ({unions}),
    ranked AS (
      SELECT doc, idx, m,
             ROW_NUMBER() OVER (PARTITION BY doc ORDER BY m DESC, idx) AS rn
      FROM allscores
    )
    SELECT doc, (CASE idx {names_case} END) AS route, CAST(m AS BIGINT) AS margin
    FROM ranked WHERE rn = 1 ORDER BY doc""")
    return "".join(parts)
