"""Training-batch assembly operators: token-stream sequence packing and
epoch-weighted mixture resampling.

Both are pure DataFrame expressions (codegen regexp + window cumsum +
``sequence`` explode) — no Python in the data plane, so they run at scan
speed on any corpus size.  The DuckDB oracles in catalog_ext.py replicate
the identical arithmetic.

These cover the step *after* filtering/dedup in a pre-training pipeline:
deciding how many times each document appears in the mix (mixture epochs)
and how the token stream chops into fixed context windows (packing).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from polars_view_spark.functions.texthash import TOKEN_REGEX
from polars_view_spark.sources import store

#: default context-window capacity (tokens) for packing
CONTEXT_TOKENS = 512


def pack_token_stream(
    df: DataFrame,
    capacity: int = CONTEXT_TOKENS,
    shard_col: str = "lang",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """LM-pretraining sequence packing: concatenate every document's tokens
    in deterministic (shard, id) order and chop the stream into fixed
    ``capacity``-token context windows (GPT-style concat-and-chop, documents
    split across window boundaries).  Returns per-chunk stats:
    ``(shard, chunk_id, n_docs, n_tokens)``.

    Scale shape: token counting is a codegen regexp projection; the running
    offset is ONE window cumsum partitioned by ``shard_col`` — shards pack
    independently, which is the 100 TB layout (a single global order would
    serialize the cumsum into one partition).  The caller must pick a shard
    key whose cardinality scales with the cluster — e.g. language × hash
    bucket, as the catalog entry does — since each shard's cumsum runs on
    one reducer.  Chunk membership explodes
    each doc onto the ``floor(start/C)..floor((end-1)/C)`` range it overlaps
    (``sequence()``, still codegen) and one groupBy aggregates.  Two
    shuffles total (window + groupBy), both on the same shard-dominated
    keys, regardless of corpus size.
    """
    from pyspark.sql import Window

    if capacity <= 0:
        raise ValueError(f"capacity must be positive, got {capacity}")
    n_tok = f"size(regexp_extract_all({text_col}, '{_sq(TOKEN_REGEX)}', 0))"
    w = Window.partitionBy(shard_col).orderBy(id_col)
    base = df.select(
        shard_col, id_col, F.expr(n_tok).cast("long").alias("n_tokens")
    ).filter(F.col("n_tokens") > 0)
    spanned = (
        base.withColumn("end_off", F.sum("n_tokens").over(w))
        .withColumn("start_off", F.col("end_off") - F.col("n_tokens"))
        .withColumn(
            "chunk_id",
            F.explode(
                F.expr(
                    f"sequence(CAST(floor(start_off / {capacity}) AS BIGINT), "
                    f"CAST(floor((end_off - 1) / {capacity}) AS BIGINT))"
                )
            ),
        )
    )
    return spanned.groupBy(shard_col, "chunk_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(
            F.expr(
                f"least(end_off, (chunk_id + 1) * {capacity})"
                f" - greatest(start_off, chunk_id * {capacity})"
            )
        ).alias("n_tokens"),
    )


#: per-source token budget for greedy budget capping (tokens)
TOKEN_BUDGET = 1000


def token_budget_cap(
    df: DataFrame,
    budget: int = TOKEN_BUDGET,
    source_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Greedy per-source token budgeting: keep documents in deterministic
    ``id_col`` order while the source's running token total stays within
    ``budget`` — the "cap each domain's contribution" step of mixture
    construction.  Returns ``(id, source, n_tokens, cum_tokens)`` for the
    kept docs.

    One window cumsum partitioned by source — pure integer arithmetic, so
    it is bit-identical across engines.  Sources are numerous at corpus
    scale (domains, crawls), keeping the window parallel; a pathological
    mega-source would use the same hash-bucket sharding as
    :func:`pack_token_stream`.
    """
    from pyspark.sql import Window

    if budget <= 0:
        raise ValueError(f"budget must be positive, got {budget}")
    n_tok = f"size(regexp_extract_all({text_col}, '{_sq(TOKEN_REGEX)}', 0))"
    w = Window.partitionBy(source_col).orderBy(id_col)
    return (
        df.select(id_col, source_col, F.expr(n_tok).cast("long").alias("n_tokens"))
        .withColumn("cum_tokens", F.sum("n_tokens").over(w))
        .filter(F.col("cum_tokens") <= budget)
    )


#: expected epochs per source — >1 upsamples (duplicate copies), <1
#: downsamples, absent sources default to 1.0.  The knob a mixture tuner
#: (e.g. DoReMi-style reweighting) would write.
MIXTURE_EPOCHS: dict[str, float] = {
    "src0": 2.5,
    "src1": 2.0,
    "src2": 1.5,
    "src3": 0.5,
    "src4": 0.25,
}
MIXTURE_DEFAULT = 1.0


def _sq(pat: str) -> str:
    """Regex → Spark SQL string literal (Hive-style backslash doubling)."""
    return pat.replace("\\", "\\\\")


def build_training_mix(
    docs: DataFrame,
    benchmark: DataFrame,
    capacity: int = CONTEXT_TOKENS,
    shards_per_lang: int = 4,
) -> DataFrame:
    """The whole pre-training data pipeline composed into ONE lazy plan:

    quality-filter (Gopher rules) → exact content dedup (md5 fingerprint)
    → decontaminate against the benchmark set (left-anti on flagged docs)
    → epoch-weighted mixture resample → pack the token stream into fixed
    context windows.  Returns per-(shard, chunk) stats.

    Every stage is the same operator the catalog gates individually; the
    value of composing them unmaterialized is that Catalyst plans the
    five stages together — the Gopher projection fuses into the scan, the
    contamination anti-join broadcasts the (tiny) flagged-doc list, and
    nothing is persisted between stages.  This is the flagship
    ``__spark_entry__.entry()`` plan.

    The quality→dedup subtree feeds BOTH the contamination scan and the
    clean side; fully lazy, the plan would compute it twice, so that
    frame is pinned (lazy localCheckpoint) and the corpus is scanned and
    quality-scored ONCE — measured 5× faster at sf0.1 (1.4 s vs 7.3 s;
    the subtree's regex-heavy Gopher scoring dominates both passes).  A
    production pipeline writes ``deduped`` to a table here and joins the
    incremental modes.
    """
    from polars_view_spark.operators.dedup import contamination_pairs, dedup_exact
    from polars_view_spark.operators.textstats import fingerprint, gopher_quality

    quality = gopher_quality(docs).filter(F.col("passes_gopher"))
    deduped = dedup_exact(fingerprint(quality), ["fingerprint"], "doc_id")
    # project to the columns the rest of the pipeline actually reads
    # BEFORE the checkpoint (r11): a checkpoint is a pruning barrier, so
    # unprojected it materializes the five Gopher stat columns (the
    # expensive array_distinct/2-gram expressions) for every surviving
    # row even though only the verdict filter consumed them — the
    # contamination scan, mixture and packer need just these four
    deduped = deduped.select("doc_id", "text", "lang", "source").localCheckpoint(
        eager=False
    )
    # drop BOTH the flagged lookalikes AND the benchmark documents
    # themselves — contamination_pairs skips the trivial self-pair, so the
    # originals would otherwise sail through into the training mix
    flagged = (
        contamination_pairs(deduped, benchmark)
        .select(F.col("doc").alias("doc_id"))
        .unionByName(benchmark.select("doc_id"))
        .distinct()
    )
    clean = deduped.join(F.broadcast(flagged), "doc_id", "left_anti")
    mixed = mixture_resample(clean, passthrough=("lang", "text"))
    sharded = mixed.withColumn(
        "pack_shard",
        F.expr(
            f"concat(lang, '/', CAST((doc_id * 100 + epoch) % {shards_per_lang}"
            " AS STRING))"
        ),
    ).withColumn("pack_id", F.expr("doc_id * 100 + epoch"))
    return pack_token_stream(
        sharded, capacity=capacity, shard_col="pack_shard", id_col="pack_id"
    )


def epochs_case_sql(source_col: str) -> str:
    """Shared CASE expression for the per-source epoch rate (valid in both
    Spark SQL and DuckDB — single-sourced so the oracle cannot drift)."""
    whens = " ".join(
        f"WHEN '{s}' THEN {r}" for s, r in sorted(MIXTURE_EPOCHS.items())
    )
    return f"(CASE {source_col} {whens} ELSE {MIXTURE_DEFAULT} END)"


def mixture_resample(
    df: DataFrame,
    id_col: str = "doc_id",
    source_col: str = "source",
    passthrough: tuple[str, ...] = (),
) -> DataFrame:
    """Epoch-weighted mixture resampling: emit each document
    ``floor(rate)`` times, plus one extra copy iff its deterministic
    md5-bucket falls under the fractional part — so a source with rate 2.5
    appears 2 or 3 times (expectation 2.5) and rate 0.25 keeps 25% of docs.
    Returns ``(id, source, epoch)`` rows, ``epoch`` in 1..copies.

    Zero shuffles: rate lookup is a CASE projection, the copy count is pure
    arithmetic on an md5 hash (reproducible across runs AND engines — same
    bridge as stratified sampling), and the duplication is a ``sequence``
    explode.  Embarrassingly parallel at any scale.  ``passthrough``
    columns ride through the explode — cheaper than re-joining the corpus
    on id afterwards (which would shuffle it twice).
    """
    rate = epochs_case_sql(source_col)
    # bucket spelling pinned verbatim (pre-hex64_sql, no BIGINT cast): the
    # entry is driver-stamped on this exact value chain
    bucket = f"(conv(substr(md5(CAST({id_col} AS STRING)), 1, 15), 16, 10) % 100)"
    copies = (
        f"(CAST(floor({rate}) AS BIGINT)"
        f" + IF({bucket} < CAST(round(({rate} - floor({rate})) * 100, 0) AS BIGINT), 1, 0))"
    )
    return _explode_epochs(df, id_col, source_col, copies, passthrough)


#: NULL-source sentinel: NULL never matches an equi-join key, so without
#: it NULL-source rows would vanish from the output while still inflating
#: the totals.  Grouped/joined on the sentinel; the OUTPUT keeps NULL.
NULL_SOURCE_KEY = "__null_source__"


def _explode_epochs(
    df: DataFrame,
    id_col: str,
    source_col: str,
    copies_sql: str,
    passthrough: tuple[str, ...] = (),
) -> DataFrame:
    """Shared resampler tail (mixture/temperature — one implementation so
    the copy/explode semantics can't drift): deterministic copy count →
    ``sequence`` explode → ``(id, source, epoch)`` rows."""
    return (
        df.withColumn("copies", F.expr(copies_sql))
        .filter(F.col("copies") > 0)
        .withColumn("epoch", F.explode(F.expr("sequence(1L, copies)")))
        .select(
            id_col,
            source_col,
            F.col("epoch").cast("long").alias("epoch"),
            *passthrough,
        )
    )


def temperature_resample(
    df: DataFrame,
    id_col: str = "doc_id",
    source_col: str = "source",
) -> DataFrame:
    """Temperature-based source balancing (mC4/T5, arXiv:1910.10683 §3.1;
    α = 0.5): resample so each source's share of the OUTPUT follows
    ``sqrt(n_s) / Σ sqrt(n_t)`` instead of its raw share — low-resource
    sources get upsampled (epochs > 1), dominant ones downsampled — while
    the total output size stays ≈ the input size.  The data-driven
    sibling of :func:`mixture_resample` (whose per-source rates are
    static config).  NULL sources form their own group via
    :data:`NULL_SOURCE_KEY` (an equi-join would otherwise drop them while
    their counts still skewed every other source's rate); the output
    keeps the original NULL.

    Cross-engine exactness: ``sqrt`` is IEEE-754 correctly rounded on
    both engines (unlike ``pow``/``ln``) and is quantized once to integer
    micros; the rate itself is a FIXED four-node double expression —
    single multiply/divide nodes are also exactly rounded, so identical
    inputs give bit-identical doubles on both engines (the parity rule
    bans accumulation-ORDER floats and transcendentals, not fixed
    expression trees; cf. mixture_resample's double rate).  Doubles
    can't overflow where the earlier all-BIGINT form did (sq·n_total·100
    passes 2^63 already at a ~100 M-doc corpus with a 1 M-doc source);
    beyond 2^53 the products merely round, which moves a rate by parts
    in 10^16 — irrelevant to sampling.  Bucket and epoch math stays
    integer.

    Plan shape: one tiny aggregate (per-source counts, map-side partial)
    broadcast back onto the scan, plus a broadcast single-row total —
    the corpus itself never shuffles; duplication is a ``sequence``
    explode.  Embarrassingly parallel at 100 TB.
    """
    from polars_view_spark.functions.texthash import hex64_sql

    tagged = df.withColumn(
        "__src", F.coalesce(F.col(source_col), F.lit(NULL_SOURCE_KEY))
    )
    stats = (
        tagged.groupBy("__src")
        .agg(F.count(F.lit(1)).alias("n_s"))
        .withColumn("sq", F.expr("CAST(floor(sqrt(n_s) * 1000000) AS BIGINT)"))
    )
    totals = stats.agg(
        F.sum("n_s").alias("n_total"), F.sum("sq").alias("sq_total")
    )
    joined = (
        tagged.join(F.broadcast(stats), "__src")
        .join(F.broadcast(totals))
        .withColumn(
            "rate",
            F.expr(
                "(CAST(sq AS DOUBLE) * CAST(n_total AS DOUBLE))"
                " / (CAST(sq_total AS DOUBLE) * CAST(n_s AS DOUBLE))"
            ),
        )
    )
    bucket = f"({hex64_sql(f'CAST({id_col} AS STRING)')} % 100)"
    copies = (
        "CAST(floor(rate) AS BIGINT)"
        f" + IF({bucket} < CAST(floor(rate * 100) AS BIGINT) % 100, 1, 0)"
    )
    return _explode_epochs(joined, id_col, source_col, copies)


def select_top_fraction(
    df: DataFrame,
    weight_col: str,
    keep_frac: float,
    rel_err: float = 0.001,
) -> DataFrame:
    """Keep (approximately) the top ``keep_frac`` of rows by ``weight_col``
    — the selection step downstream of a scoring operator (DSIR importance
    weights, LM quality scores negated, …).

    Scale shape: "top 10% of 100 TB" cannot be a global sort; the scalable
    pattern is ONE quantile-sketch pass (Greenwald–Khanna via
    ``approxQuantile`` — a single O(1)-driver scalar) followed by ONE
    filter pass at scan speed.  ``rel_err`` trades sketch memory for cut
    precision; rows with NULL weight are excluded (unscored docs are a
    policy decision upstream, cf. ``n_bigrams = 0`` markers).
    """
    if not 0.0 < keep_frac <= 1.0:
        raise ValueError(f"keep_frac must be in (0, 1], got {keep_frac}")
    scored = df.filter(F.col(weight_col).isNotNull())
    if keep_frac == 1.0:
        return scored
    thr = scored.stat.approxQuantile(weight_col, [1.0 - keep_frac], rel_err)[0]
    return scored.filter(F.col(weight_col) >= thr)


def chunk_documents(
    df: DataFrame,
    chunk_chars: int = 512,
    overlap: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Split each document into overlapping fixed-width character windows —
    the RAG / long-context preprocessing step that turns a corpus into
    retrieval- or training-sized chunks while preserving ``overlap``
    characters of context across boundaries (documents stay intact per
    chunk, unlike ``pack_token_stream``'s concat-and-chop).

    Returns ``(id_col, chunk_id, chunk_start, chunk_text, n_chunk_chars)``
    with ``chunk_start`` 1-based and ``chunk_id = (chunk_start-1) / step``
    (exact integer arithmetic, replicated verbatim by the DuckDB oracle).

    Scale shape: a pure projection + ``posexplode(sequence(...))`` — no
    shuffle, no Python; output rows ≈ n_chars/step regardless of document
    skew, so a 1 GB outlier document fans out into rows, never into one
    hot task.  Runs at scan speed on 100 TB.
    """
    if chunk_chars <= 0:
        raise ValueError(f"chunk_chars must be positive, got {chunk_chars}")
    if not 0 <= overlap < chunk_chars:
        raise ValueError(
            f"overlap must be in [0, chunk_chars), got {overlap} vs {chunk_chars}"
        )
    step = chunk_chars - overlap
    starts = (
        f"sequence(1, CAST(greatest(length({text_col}), 1) AS INT), {step})"
    )
    return df.select(
        id_col,
        F.expr(f"explode({starts})").alias("chunk_start"),
        F.col(text_col).alias("__txt"),
    ).select(
        id_col,
        F.expr(f"CAST((chunk_start - 1) DIV {step} AS BIGINT)").alias("chunk_id"),
        F.col("chunk_start").cast("long"),
        F.expr(f"substring(__txt, chunk_start, {chunk_chars})").alias("chunk_text"),
        F.expr(f"CAST(length(substring(__txt, chunk_start, {chunk_chars})) AS BIGINT)").alias(
            "n_chunk_chars"
        ),
    )


def epoch_shuffle(
    df: DataFrame,
    epoch: int,
    n_shards: int = 64,
    id_col: str = "doc_id",
) -> DataFrame:
    """Reproducible training-epoch data ordering: a seeded global shuffle
    realized as (shard, position-within-shard) — the step that fixes
    "which examples, in which order, in which worker's stream" for every
    epoch of a run, so a crashed job resumes mid-epoch and a rerun
    reproduces the loss curve exactly.

    Each id draws a 60-bit md5 key salted with the epoch number; the key's
    low bits pick one of ``n_shards`` shards (each shard = one training
    worker's input stream) and the key order within the shard is the
    read order (id is the collision tiebreak, so the order is total even
    if two keys collide).  Epoch e+1 re-keys everything — a different
    permutation, equally reproducible.

    Plan shape: ONE hash exchange on ``shard`` + a per-shard window sort —
    no global sort, no driver state.  At 100 TB, ``n_shards`` is the
    data-parallel worker count (thousands), so each shard's sort is
    1/n_shards of the corpus and spills locally at worst; position is
    contiguous 0..shard_size-1 by construction, which is what a sequential
    reader wants.  All integer md5 arithmetic — the DuckDB oracle
    (``x_epoch_shuffle``) is hash-exact.
    """
    from pyspark.sql import Window

    from polars_view_spark.functions.texthash import hex64_sql

    if n_shards < 1 or epoch < 0:
        raise ValueError(f"need n_shards >= 1 and epoch >= 0, got {n_shards}/{epoch}")
    key = hex64_sql(f"concat(CAST({id_col} AS STRING), ':', '{int(epoch)}')")
    keyed = df.select(
        F.col(id_col),
        F.expr(key).alias("__key"),
    ).select(
        id_col,
        "__key",
        F.expr(f"CAST(__key % {int(n_shards)} AS INT)").alias("shard"),
    )
    w = Window.partitionBy("shard").orderBy("__key", id_col)
    return keyed.select(
        id_col,
        "shard",
        (F.row_number().over(w) - F.lit(1)).cast("long").alias("pos"),
    )


def build_model_filtered_mix(
    docs: DataFrame,
    label: str,
    capacity: int = CONTEXT_TOKENS,
    shards_per_lang: int = 4,
) -> DataFrame:
    """The model-filtered variant of :func:`build_training_mix`: the
    GPT-3-shaped pipeline where a TRAINED classifier replaces the Gopher
    heuristic as the quality gate (arXiv:2005.14165 appendix A — train a
    reference-vs-crawl filter, keep what scores reference-like), then
    exact content dedup and context-window packing.

    train classifier on ``label`` → keep pred=1 docs → fingerprint dedup
    → pack the token stream.  Training materializes its feature frame
    (bounded-sample regime — see classifier.py's overflow note); the
    filter→dedup→pack tail is ONE lazy plan: the kept-id join is an
    equi-join Catalyst plans with AQE (broadcast when the kept set is
    selective), and nothing else materializes between stages.

    Catalog entry ``x_model_filtered_mix`` replays the ENTIRE composition
    — training trajectory included — in one DuckDB statement.
    """
    from polars_view_spark.operators.classifier import train_quality_classifier
    from polars_view_spark.operators.dedup import dedup_exact
    from polars_view_spark.operators.textstats import fingerprint

    scored, _w = train_quality_classifier(docs, label)
    kept_ids = scored.filter(F.col("pred") == 1).select(
        F.col("doc").alias("doc_id")
    )
    kept = docs.join(kept_ids, "doc_id")
    deduped = dedup_exact(fingerprint(kept), ["fingerprint"], "doc_id")
    sharded = deduped.withColumn(
        "pack_shard",
        F.expr(f"concat(lang, '/', CAST(doc_id % {shards_per_lang} AS STRING))"),
    ).withColumn("pack_id", F.col("doc_id"))
    return pack_token_stream(
        sharded, capacity=capacity, shard_col="pack_shard", id_col="pack_id"
    )


def curriculum_order(
    df: DataFrame,
    score_col: str,
    epoch: int,
    bucket_width: int,
    id_col: str = "doc_id",
) -> DataFrame:
    """Curriculum data ordering (Bengio et al. 2009 shape): schedule
    training examples by difficulty bucket — ``bucket = floor(score /
    bucket_width)``, read buckets high-score-first — while keeping
    WITHIN-bucket order a reproducible epoch-salted shuffle (the
    epoch_shuffle key), so each curriculum stage still sees its examples
    in a different order every epoch.

    Returns (id, bucket, pos) where pos is contiguous 0..bucket_size-1
    within each bucket in read order.  Same plan shape as
    :func:`epoch_shuffle`: one hash exchange on the bucket + per-bucket
    window sorts — no global sort; at 100 TB, ``bucket_width`` sizes the
    stage count and each bucket sorts in parallel.  Fixed-width buckets
    rather than global quantiles by design: quantile buckets need a
    corpus-wide rank (a global sort or a quantile summary pass), while
    fixed widths are a pure projection — compose with
    ``select_top_fraction``'s quantile sketch if data-driven cuts are
    needed.  All integer (score must be an integral column, e.g. the
    classifier margin) — the DuckDB oracle is hash-exact.
    """
    from pyspark.sql import Window

    from polars_view_spark.functions.texthash import hex64_sql

    if bucket_width < 1 or epoch < 0:
        raise ValueError(f"need bucket_width >= 1 and epoch >= 0, got {bucket_width}/{epoch}")
    key = hex64_sql(f"concat(CAST({id_col} AS STRING), ':', '{int(epoch)}')")
    # FLOOR division, spelled with the canonical-mod formula so negative
    # scores bucket monotonically (plain DIV truncates toward zero, which
    # would merge scores -w+1..w-1 into one bucket); identical text works
    # on both engines because both use truncated % and the numerator is
    # exactly divisible
    bw = int(bucket_width)
    sc = f"CAST({score_col} AS BIGINT)"
    bucket = f"({sc} - (({sc} % {bw}) + {bw}) % {bw}) DIV {bw}"
    keyed = df.select(
        F.col(id_col),
        F.expr(f"CAST({bucket} AS BIGINT)").alias("bucket"),
        F.expr(key).alias("__key"),
    )
    w = Window.partitionBy("bucket").orderBy("__key", id_col)
    return keyed.select(
        id_col,
        "bucket",
        (F.row_number().over(w) - F.lit(1)).cast("long").alias("pos"),
    )


#: range-partition count for the balanced-shard prefix computation; at
#: 100 TB raise toward cluster parallelism (cost is one #partitions-row
#: driver collect, same bound as rowindex.py's offsets)
SHARD_RANGE_PARTITIONS = 16


def balanced_shards(
    df: DataFrame,
    n_shards: int,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Assign documents to ``n_shards`` contiguous, token-balanced output
    shards — the export step that decides which physical training file
    each document lands in.  Equal-DOC-count sharding (``ntile``) skews
    token counts badly when document lengths vary by 100×; this assigns
    by cumulative token position, so every shard carries ~total/n tokens
    (overshoot bounded by one document).

    Shard id is a pure function of the GLOBAL ``id_col`` order and token
    counts — independent of partitioning/layout — so the assignment is
    reproducible run to run (and SQL-expressible for the oracle).  A
    document LARGER than the per-shard target legitimately skips shard
    indices (its prefix jump crosses several target multiples — found by
    the property fuzz); with any realistic corpus (doc ≪ target) the
    used shard ids are gap-free 0..n_shards-1.

    Returns one row per document: ``(id, n_tokens, shard)``.

    Scale shape (the rowindex.py technique, generalized to weighted
    prefix sums): NO single-partition global window.  The frame is
    range-partitioned and sorted by ``id_col``; per-partition token sums
    (one tiny aggregate, #partitions rows) become driver-side cumulative
    offsets broadcast back; each row's exclusive prefix is its
    partition's offset plus an intra-partition running sum.  Cost: one
    extra aggregate pass + one broadcast join — no global shuffle beyond
    the range partitioning the export write wants anyway (shards ARE
    contiguous id ranges, so the final partitionBy(shard) write moves
    nothing between tasks that the range partitioning hasn't already
    co-located).
    """
    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1, got {n_shards}")
    from pyspark.sql import Window

    from polars_view_spark.functions.texthash import _WS_JAVA as ws
    # NULL text counts as 0 tokens — without the coalesce a NULL n_tokens
    # poisons the prefix sums (NULL-skipping least() would dump the doc in
    # the LAST shard, breaking contiguity) and a NULL partition sum breaks
    # the driver-side offset arithmetic
    toks = F.coalesce(
        F.size(F.split(F.trim(F.col(text_col)), ws)).cast("long"), F.lit(0)
    )
    # pin partition ids exactly as rowindex.py does: the per-partition sum
    # job and the final assignment job must see ONE evaluation of the
    # partition layout
    tagged = (
        df.select(F.col(id_col), toks.alias("n_tokens"))
        .repartitionByRange(SHARD_RANGE_PARTITIONS, F.col(id_col))
        .sortWithinPartitions(id_col)
        .withColumn("__pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    per_part = (
        tagged.groupBy("__pid")
        .agg(F.sum("n_tokens").alias("ptoks"))
        .orderBy("__pid")
        .collect()
    )
    total = sum(r["ptoks"] for r in per_part)
    if total == 0:
        return tagged.select(
            id_col, "n_tokens", F.lit(0).cast("long").alias("shard")
        )
    target = -(-total // n_shards)  # ceil
    cum = 0
    offsets = []
    for r in per_part:
        offsets.append((r["__pid"], cum))
        cum += r["ptoks"]
    off = store.small_frame(df.sparkSession, offsets, "__pid int, __off long")
    w = (
        Window.partitionBy("__pid")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        tagged.join(F.broadcast(off), "__pid")
        .withColumn(
            "__prefix",
            F.col("__off") + F.sum("n_tokens").over(w) - F.col("n_tokens"),
        )
        .select(
            id_col,
            "n_tokens",
            # integer division (div), not float floor: exact at any scale
            F.least(
                F.lit(n_shards - 1).cast("long"),
                F.expr(f"__prefix div {int(target)}").cast("long"),
            ).alias("shard"),
        )
    )


def write_balanced_shards(
    df: DataFrame,
    path: str,
    n_shards: int,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Materialize :func:`balanced_shards`: join the assignment back to
    the full rows (broadcast — the assignment frame is (id, tokens,
    shard), tiny relative to the documents) and write
    ``partitionBy("shard")`` so each training shard IS one directory.
    Returns the per-shard manifest (docs, tokens) read back from the
    written dataset — the manifest reflects what is actually on disk,
    not what the plan intended.

    Scale note: shards are contiguous ``id_col`` ranges, so after
    balanced_shards' range partitioning the write moves no data between
    tasks that the range exchange hasn't already co-located; the join is
    id-keyed and AQE-broadcast.
    """
    assigned = balanced_shards(df, n_shards, id_col, text_col)
    full = df.join(assigned.select(id_col, "n_tokens", "shard"), id_col)
    full.write.mode("overwrite").partitionBy("shard").parquet(path)
    back = df.sparkSession.read.parquet(path)
    return (
        back.groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("sum_tokens"),
        )
        .orderBy("shard")
    )
