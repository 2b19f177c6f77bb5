"""Text analysis operators: language-ID, quality scoring, token counting,
document fingerprinting.

All pure JVM-side column expressions (regexp + arithmetic) so they run
inside whole-stage codegen at full scan speed — exactly what a 100 TB
pre-training-data pipeline needs for its first filtering pass.  The DuckDB
oracles in catalog_ext.py replicate the same arithmetic from the same
constants.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from polars_view_spark import fills
from polars_view_spark.functions.texthash import TOKEN_REGEX

#: Tiny per-language stopword lists for the n-gram/stopword language
#: heuristic.  Deliberately minimal + deterministic; at production scale
#: you'd swap in fastText via mapInPandas (see operators/multimodal.py for
#: the UDF plumbing pattern).
STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to", "is", "in"),
    "de": ("der", "die", "das", "und", "ist", "nicht"),
    "es": ("el", "la", "los", "que", "es", "y"),
    "fr": ("le", "la", "les", "et", "est", "que"),
    "zh": ("de5", "shi4", "bu4", "le5", "zai4"),  # pinyin-ish placeholders
}

PUNCT_REGEX = r"[^A-Za-z0-9 \t\n\x0B\f\r]"  # \s spelled out: RE2's \s omits \x0B

#: the ALLOWED set PUNCT_REGEX negates, as a Spark SQL string literal for
#: ``translate`` (quality_score's regex-free punct count).  Escapes are
#: Spark-SQL-parsed: \t/\n/\r are the control chars; Spark SQL has no
#: escape for \x0B or \f, so both ride as literal characters via chr().
_PUNCT_ALLOWED_SQL = (
    "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789"
    " \\t\\n" + chr(11) + chr(12) + "\\r"
)


def _word_regex(words: tuple[str, ...]) -> str:
    return r"\b(" + "|".join(words) + r")\b"


def _spark_sql_regex(pat: str) -> str:
    """Escape a regex for embedding in a Spark SQL string literal — Spark's
    parser processes backslash escapes inside '...' (Hive style), DuckDB's
    does not, so only the Spark side doubles backslashes."""
    return pat.replace("\\", "\\\\")


def stopword_count_sql(col: str, lang: str) -> str:
    """Count of stopword occurrences (Spark SQL; DuckDB mirror in catalog)."""
    pat = _spark_sql_regex(_word_regex(STOPWORDS[lang]))
    return f"size(regexp_extract_all(lower({col}), '{pat}', 0))"


def duck_stopword_count_sql(col: str, lang: str) -> str:
    pat = _word_regex(STOPWORDS[lang])
    return f"len(regexp_extract_all(lower({col}), '{pat}'))"


def lang_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Predict language by argmax of per-language stopword counts.

    Deterministic tie-break: language code ascending (greatest count wins;
    equal counts → alphabetically first).  Pure expression — the scan stays
    in codegen.
    """
    langs = sorted(STOPWORDS)
    counted = df.select(
        "*",
        *[F.expr(stopword_count_sql(text_col, lg)).alias(f"sw_{lg}") for lg in langs],
    )
    # argmax via array_max over (count, inverted-lang-rank) struct ordering
    best = None
    for lg in langs:
        cand = F.struct(F.col(f"sw_{lg}").alias("n"), F.lit(lg).alias("lg"))
        best = cand if best is None else F.when(F.col(f"sw_{lg}") > best["n"], cand).otherwise(best)
    return counted.withColumn("predicted_lang", best["lg"]).drop(
        *[f"sw_{lg}" for lg in langs]
    )


def token_count(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Whitespace word count + BPE-ish regex token count."""
    return df.withColumn(
        "n_words", F.size(F.split(F.trim(F.col(text_col)), r"\s+"))
    ).withColumn(
        "n_tokens",
        F.size(F.expr(f"regexp_extract_all({text_col}, '{_spark_sql_regex(TOKEN_REGEX)}', 0)")),
    )


def quality_score(df: DataFrame, text_col: str = "text") -> Column | DataFrame:
    """Composite quality score in [0,1]:

    0.4·min(words/100, 1) + 0.3·(1 − punct_ratio) + 0.3·min(stop_ratio·5, 1)

    length favors substantive docs, punctuation ratio penalizes markup/noise,
    stopword ratio rewards natural running text.  Zero-length guarded (ANSI
    division).
    """
    words = f"size(split(trim({text_col}), '[ \\\\t\\\\n\\\\x0B\\\\f\\\\r]+'))"
    # punct count = chars left after deleting every allowed char: translate
    # single-passes the string with a char map where regexp_extract_all
    # runs a full matcher and materializes a match array — measured 0.165 s
    # → 0.089 s on the sf0.1 documents scan (r11), value-identical (both
    # count code points outside the same 68-char set; PUNCT_REGEX is the
    # negation of exactly this list, single-char class, so every match is
    # one character).  The Spark side only; the DuckDB oracle keeps the
    # regexp spelling of the same count.
    punct = f"length(translate({text_col}, '{_PUNCT_ALLOWED_SQL}', ''))"
    chars = f"greatest(length({text_col}), 1)"
    stops = stopword_count_sql(text_col, "en")
    expr = (
        f"round(0.4 * least({words} / 100.0, 1.0)"
        f" + 0.3 * (1.0 - {punct} / CAST({chars} AS DOUBLE))"
        f" + 0.3 * least({stops} / CAST(greatest({words}, 1) AS DOUBLE) * 5.0, 1.0), 6)"
    )
    return df.withColumn("quality", F.expr(expr))


#: Gopher-rule thresholds (Rae et al. 2021-style repetition/shape filters,
#: adapted to word/2-gram repetition since the corpus has no line structure)
GOPHER_MIN_WORDS = 20
GOPHER_MAX_WORDS = 100_000
GOPHER_MAX_DUP_2GRAM_FRAC = 0.60
GOPHER_MIN_MEAN_WORD_LEN = 2.0
GOPHER_MAX_MEAN_WORD_LEN = 12.0
GOPHER_MIN_ALPHA_WORD_FRAC = 0.80


def _gopher_formulas(tok: str, text_col: str) -> dict[str, str]:
    """The five Gopher statistics as SQL templates over a token-array
    reference ``tok`` — the SINGLE source both the stats projection
    (:func:`gopher_quality`, ``tok='__t'``) and the let-bound verdict
    (:func:`gopher_verdict_sql`, ``tok='t'`` inside the lambda) instantiate,
    so the displayed stats and the keep/drop decision cannot drift."""
    from polars_view_spark.functions.texthash import shingles_from_tokens_sql

    nw = f"size({tok})"
    return {
        "nw": nw,
        "dup_w": f"1.0 - size(array_distinct({tok})) / CAST({nw} AS DOUBLE)",
        "dup_2g": (
            f"CASE WHEN {nw} >= 2 THEN "
            f"1.0 - size({shingles_from_tokens_sql(tok, 2)}) / CAST({nw} - 1 AS DOUBLE) "
            f"ELSE 0.0 END"
        ),
        "mwl": (
            f"length(regexp_replace({text_col}, '[ \\\\t\\\\n\\\\x0B\\\\f\\\\r]', ''))"
            f" / CAST(greatest({nw}, 1) AS DOUBLE)"
        ),
        "alpha": (
            f"size(filter({tok}, x -> x rlike '[a-z]'))"
            f" / CAST(greatest({nw}, 1) AS DOUBLE)"
        ),
    }


def gopher_verdict_sql(text_col: str = "text") -> str:
    """The keep/drop verdict as a SINGLE-PASS scalar expression, with the
    token array let-bound via ``exists(array(split(…)), t -> …)`` so the
    tokenization runs ONCE per row no matter where the optimizer moves it.

    Why this shape matters: ``filter(passes_gopher)`` is the idiomatic call,
    and Catalyst pushes that predicate through the stats projection down to
    the scan — substituting the alias with its defining expression.  A
    naively-written verdict repeats ``split(lower(trim(text)))`` in every
    conjunct, and because the higher-order-function conjuncts keep FilterExec
    out of whole-stage codegen, the pushed predicate runs on the INTERPRETED
    path with no subexpression elimination: every conjunct re-tokenizes every
    row.  Measured at sf0.1 (50 k docs, local[32]): 5.95 s interpreted-
    repeated vs 1.22 s with this let-bound form — a 4.9× difference on the
    first-pass filter of the pipeline, which is pure scan work at 100 TB.
    ``exists`` over a 1-element array is the Spark-SQL spelling of ``LET``:
    the lambda binds the tokens array once per row, all conjuncts close over
    it, and the whole thing stays one deterministic (pushdown-safe) scalar.
    """
    f = _gopher_formulas("t", text_col)
    return (
        f"exists(array(split(lower(trim({text_col})), '[ \\\\t\\\\n\\\\x0B\\\\f\\\\r]+')), t -> "
        f"({f['nw']} BETWEEN {GOPHER_MIN_WORDS} AND {GOPHER_MAX_WORDS})"
        f" AND ({f['dup_2g']}) <= {GOPHER_MAX_DUP_2GRAM_FRAC}"
        f" AND ({f['mwl']})"
        f" BETWEEN {GOPHER_MIN_MEAN_WORD_LEN} AND {GOPHER_MAX_MEAN_WORD_LEN}"
        f" AND ({f['alpha']}) >= {GOPHER_MIN_ALPHA_WORD_FRAC})"
    )


def gopher_quality(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher-style repetition/shape quality rules, one codegen pass:

    - ``n_words``           whitespace word count
    - ``dup_word_frac``     1 − distinct words / words (repetition)
    - ``dup_2gram_frac``    1 − distinct word-2-grams / (words − 1)
    - ``mean_word_len``     non-space characters / words
    - ``frac_alpha_words``  words containing ≥1 ASCII letter / words
    - ``passes_gopher``     the conjunctive keep/drop verdict

    All array-lambda + regexp expressions (no shuffle, no Python) — this is
    the first-pass scan filter of a pre-training pipeline, so it must run at
    full scan throughput.  Fractions are rounded to 6 decimals; the verdict
    compares the *unrounded* doubles, whose arithmetic is identical IEEE on
    both engines (oracle mirror in catalog_ext.py).  ``passes_gopher`` is
    the let-bound single-pass form (:func:`gopher_verdict_sql`) so a
    downstream ``filter`` stays cheap after predicate pushdown.
    """
    toks = f"split(lower(trim({text_col})), '[ \\\\t\\\\n\\\\x0B\\\\f\\\\r]+')"
    f = _gopher_formulas("__t", text_col)
    out = df.withColumn("__t", F.expr(toks)).select(
        "*",
        F.expr(f["nw"]).cast("long").alias("n_words"),
        F.expr(f"round({f['dup_w']}, 6)").alias("dup_word_frac"),
        F.expr(f"round({f['dup_2g']}, 6)").alias("dup_2gram_frac"),
        F.expr(f"round({f['mwl']}, 6)").alias("mean_word_len"),
        F.expr(f"round({f['alpha']}, 6)").alias("frac_alpha_words"),
        F.expr(gopher_verdict_sql(text_col)).alias("passes_gopher"),
    )
    return out.drop("__t")


LM_TOP_NGRAMS = 50_000  # model size cap = smoothing vocabulary V
LM_BUCKETS = 64  # pre-rank buckets (lossless two-phase top-k)


def ngram_lm_score(
    corpus: DataFrame,
    reference: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    top_ngrams: int = LM_TOP_NGRAMS,
) -> DataFrame:
    """CCNet-style n-gram LM quality scoring (Wenzek et al.,
    arXiv:1911.00359 — public paper): train a word-bigram language model on
    a high-quality ``reference`` slice, score every corpus document by its
    average negative log-probability under that model.  Low score = close
    to the reference distribution; the downstream filter buckets on it
    (CCNet's head/middle/tail split).

    Model: bigram counts on the reference, kept to the ``top_ngrams`` most
    frequent (ties broken by gram text — a total order, so the cut is
    deterministic).  The cut is a lossless TWO-PHASE top-k (per-hash-bucket
    rank then final rank, same shape as vocab_topk): no single reducer
    ever ranks the full reference vocabulary, and the final rank runs over
    ≤ buckets·k bounded survivors.  Add-one smoothing over V=``top_ngrams``
    keeps unseen bigrams finite: ``lp = ln((c+1)/(total+V))``.

    Scale shape: the model is BOUNDED (top_ngrams rows) → broadcast to the
    scorer; the corpus side is explode → broadcast-left-join → one groupBy
    on the doc id.  Nothing quadratic, nothing data-proportional on the
    driver.  Docs with < 2 words score NULL with ``n_bigrams = 0`` (kept,
    visible — a length filter is a separate policy decision).

    Returns ``(id_col, n_bigrams, avg_neg_logprob)``, one row per corpus
    document.  Split as :func:`lm_train` (offline model) + :func:`lm_score`
    (streaming-safe scorer) for the stream-ingest path.
    """
    model, total = lm_train(reference, text_col, top_ngrams)
    agg = lm_score(corpus, model, total, id_col, text_col, top_ngrams)
    return (
        corpus.select(id_col)
        .join(agg, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_bigrams", F.lit(0)).cast("long").alias("n_bigrams"),
            "avg_neg_logprob",
        )
    )


def lm_train(
    reference: DataFrame, text_col: str = "text", top_ngrams: int = LM_TOP_NGRAMS
) -> tuple[DataFrame, DataFrame]:
    """Build the bounded bigram model from the reference slice — the
    offline half of :func:`ngram_lm_score`.  Returns ``(model, total)``:
    the top-``top_ngrams`` ``(g, c)`` count table (lossless two-phase cut)
    and its 1-row summed mass."""
    from pyspark.sql import Window

    from polars_view_spark.functions.texthash import (
        ngrams_from_tokens_sql,
        tokens_sql,
    )

    ref_g = (
        reference.withColumn("__t", F.expr(tokens_sql(text_col)))
        .select(F.explode(F.expr(ngrams_from_tokens_sql("__t", 2))).alias("g"))
    )
    counts = ref_g.groupBy("g").agg(F.count(F.lit(1)).cast("long").alias("c"))
    order = [F.col("c").desc(), F.col("g").asc()]
    bucketed = counts.withColumn("bucket", F.pmod(F.hash("g"), F.lit(LM_BUCKETS)))
    model = (
        bucketed.withColumn(
            "__br", F.row_number().over(Window.partitionBy("bucket").orderBy(*order))
        )
        .filter(F.col("__br") <= top_ngrams)
        .withColumn("__r", F.row_number().over(Window.orderBy(*order)))
        .filter(F.col("__r") <= top_ngrams)
        .select("g", "c")
    )
    total = model.agg(F.sum("c").cast("double").alias("__total"))
    return model, total


def lm_score(
    corpus: DataFrame,
    model: DataFrame,
    total: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    top_ngrams: int = LM_TOP_NGRAMS,
) -> DataFrame:
    """Score documents against a trained (static) model — the online half
    of :func:`ngram_lm_score`: explode → broadcast stream-static join →
    per-doc aggregation.  STREAMING-SAFE: ``corpus`` may be a streaming
    DataFrame (the model/total sides must be static; run the sink in
    update mode — documents with zero bigrams simply never emit a row,
    whereas the batch wrapper left-joins them back as ``n_bigrams = 0``)."""
    from polars_view_spark.functions.texthash import (
        ngrams_from_tokens_sql,
        tokens_sql,
    )

    doc_g = (
        corpus.withColumn("__t", F.expr(tokens_sql(text_col)))
        .select(F.col(id_col), F.explode(F.expr(ngrams_from_tokens_sql("__t", 2))).alias("g"))
    )
    return (
        doc_g.join(F.broadcast(model), "g", "left")
        .crossJoin(F.broadcast(total))
        .withColumn(
            "__lp",
            F.log((F.coalesce(F.col("c"), F.lit(0)) + F.lit(1))
                  / (F.col("__total") + F.lit(float(top_ngrams)))),
        )
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bigrams"),
            # 4 dp: per-token ln (Java Math.log is 1-ulp loose vs libm) + an
            # accumulation-order-dependent avg — coarser rounding keeps the
            # drift from flipping the cross-engine hash (see bigram_pmi)
            F.round(-F.avg("__lp") + F.lit(1e-9), 4).alias("avg_neg_logprob"),
        )
    )


DSIR_BUCKETS = 8192  # hashed-feature dimensionality (paper uses 10k)


def dsir_weights(
    corpus: DataFrame,
    target: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = DSIR_BUCKETS,
) -> DataFrame:
    """DSIR-style importance weights (Xie et al., Data Selection via
    Importance Resampling, arXiv:2302.03169 — public paper): score every
    corpus document by how much more likely its hashed-bigram bag is under
    a ``target``-domain unigram-over-buckets model than under the raw
    corpus model.  Downstream, sampling ∝ exp(weight) tilts the mixture
    toward the target domain (the resampling step itself is
    ``packing.mixture_resample``-shaped policy and stays separate).

    Both feature models are bag-of-hashed-bigrams with add-one smoothing
    over the FIXED ``n_buckets`` dimensionality, so each model is a bounded
    ``n_buckets``-row table — broadcast to the scorer regardless of corpus
    size.  Per document: ``log_importance = Σ_g [ln p_tgt(b(g)) −
    ln p_raw(b(g))]`` over its bigram multiset (sum, not average — longer
    in-domain evidence accumulates, as in the paper).

    Scale shape: two bounded count aggregations (map-side combine over the
    bucket id) + one explode → broadcast join → groupBy(doc).  Nothing
    data-proportional is collected; the feature hash is the repo's md5
    bridge (functions/texthash.py:hex64_sql) — session-stable AND
    engine-portable, so the DuckDB oracle reproduces the buckets exactly
    (the earlier Murmur3 ``F.hash`` was Spark-only and made the operator
    un-oracle-able).

    Returns ``(id_col, n_bigrams, log_importance, avg_log_importance)``;
    docs with < 2 words surface as ``n_bigrams = 0`` with NULL weights.
    """
    from polars_view_spark.functions.texthash import (
        hex64_sql,
        ngrams_from_tokens_sql,
        tokens_sql,
    )

    toks = tokens_sql(text_col)
    grams = ngrams_from_tokens_sql("__t", 2)

    def bucketed(df: DataFrame, keep_id: bool) -> DataFrame:
        cols = [F.col(id_col)] if keep_id else []
        return (
            df.withColumn("__t", F.expr(toks))
            .select(*cols, F.explode(F.expr(grams)).alias("g"))
            .withColumn("b", F.expr(f"{hex64_sql('g')} % {n_buckets}"))
            .drop("g")
        )

    def model(feats: DataFrame, prob_col: str) -> DataFrame:
        counts = feats.groupBy("b").agg(F.count(F.lit(1)).cast("long").alias("c"))
        total = counts.agg(F.sum("c").cast("double").alias("__tot"))
        return (
            counts.crossJoin(F.broadcast(total))
            .select(
                "b",
                F.log((F.col("c") + F.lit(1)) / (F.col("__tot") + F.lit(float(n_buckets))))
                .alias(prob_col),
                (-F.log(F.col("__tot") + F.lit(float(n_buckets)))).alias(f"{prob_col}_floor"),
            )
        )

    from pyspark.sql import Window

    all_rows = Window.partitionBy(F.lit(1)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    with fills.scope() as own:
        # ONE explode+md5 pass over the corpus: the keep_id table feeds both
        # the raw model (drop the id) and the scorer — a second
        # bucketed(corpus) pass would re-run the per-gram md5, the dominant
        # cost of every hashed-feature operator in this repo
        corpus_feats = own(bucketed(corpus, keep_id=True).cache())
        tgt = model(bucketed(target, keep_id=False), "lp_tgt")
        raw = model(corpus_feats.select("b"), "lp_raw")
        # full outer on the bucket id: a bucket seen in only one model falls
        # back to that model's smoothing floor ln(1/(total+V)); the window runs
        # over the BOUNDED joined model table (≤ 2·n_buckets rows), never data
        table = (
            tgt.join(raw, "b", "full_outer")
            .select(
                "b",
                F.coalesce("lp_tgt", F.max("lp_tgt_floor").over(all_rows)).alias("lp_tgt"),
                F.coalesce("lp_raw", F.max("lp_raw_floor").over(all_rows)).alias("lp_raw"),
            )
        )
        agg = (
            corpus_feats
            .join(F.broadcast(table), "b", "left")
            .groupBy(id_col)
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_bigrams"),
                F.round(F.sum(F.col("lp_tgt") - F.col("lp_raw")) + F.lit(1e-9), 4).alias(
                    "log_importance"
                ),
                F.round(F.avg(F.col("lp_tgt") - F.col("lp_raw")) + F.lit(1e-9), 4).alias(
                    "avg_log_importance"
                ),
            )
        )
        result = (
            corpus.select(id_col)
            .join(agg, id_col, "left")
            .select(
                id_col,
                F.coalesce("n_bigrams", F.lit(0)).cast("long").alias("n_bigrams"),
                "log_importance",
                "avg_log_importance",
            )
        )
        # one row per doc — what a selection pass materializes anyway
        return own.result(result)


def dedup_lines(df: DataFrame, text_col: str = "text") -> DataFrame:
    """C4-style within-document line deduplication (Raffel et al., T5/C4,
    arXiv:1910.10683 keeps one occurrence of each line per page): drop
    repeated lines inside each document, keeping the first occurrence and
    preserving line order.

    Pure array-fold projection — zero shuffles, fuses into the scan like
    the other first-pass filters (cf. ``span_dedup`` for the CROSS-document
    flavor, which needs the global shuffle).  The fold membership check is
    O(lines²) per document — bounded by document size, never by corpus
    size.  Adds ``text_deduped`` and ``n_dup_lines``.
    """
    lines = f"split({text_col}, '\\n')"
    kept = (
        f"aggregate({lines}, CAST(array() AS ARRAY<STRING>), "
        f"(acc, l) -> CASE WHEN array_contains(acc, l) THEN acc "
        f"ELSE array_append(acc, l) END)"
    )
    return (
        df.withColumn("__kept", F.expr(kept))
        .withColumn("text_deduped", F.array_join("__kept", "\n"))
        .withColumn(
            "n_dup_lines",
            (F.size(F.expr(lines)) - F.size("__kept")).cast("long"),
        )
        .drop("__kept")
    )


WINNOW_K = 8  # k-gram width (characters)
WINNOW_W = 4  # winnowing window (hashes)


def winnow_fingerprints(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    k: int = WINNOW_K, w: int = WINNOW_W,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken):
    hash every character k-gram, keep the minimum hash of each window of
    ``w`` consecutive k-gram hashes, deduplicate — a compact position-robust
    fingerprint set for plagiarism/near-dup detection.

    A streaming implementation uses a *rolling* hash to update each k-gram
    from the previous one; in a vectorized scan engine the same output
    comes from positional hashing inside array lambdas (one pass, codegen,
    no Python).  Hash = md5-prefix (cross-engine deterministic, see
    functions/texthash.py) of each k-gram.

    Returns (id, fingerprint) exploded rows.
    """
    from polars_view_spark.functions.texthash import hex64_sql

    # the normalized text is LET-BOUND (transform over a 1-element array —
    # same trick as gopher_verdict_sql) so the regexp_replace runs once per
    # row: inlining it into the per-position substr() made gram extraction
    # O(len²) regex work (measured 18 s → 4 s at sf0.1 for the catalog
    # entry; the remaining cost is the per-gram md5, which is the
    # cross-engine determinism contract)
    norm = f"regexp_replace(lower(trim({text_col})), '[ \\\\t\\\\n\\\\x0B\\\\f\\\\r]+', ' ')"
    grams = (
        f"transform(array({norm}), n -> "
        f"CASE WHEN length(n) >= {k} THEN "
        f"transform(sequence(1, length(n) - {k} + 1), i -> substr(n, i, {k})) "
        f"ELSE array() END)[0]"
    )
    expr = f"""
      CASE WHEN size(__h) >= {w} THEN
        array_distinct(transform(sequence(1, size(__h) - {w} + 1),
                       j -> array_min(slice(__h, j, {w}))))
      ELSE array_distinct(CASE WHEN size(__h) > 0 THEN array(array_min(__h)) ELSE array() END)
      END
    """
    hashed = df.select(
        F.col(id_col).alias("id"),
        F.expr(f"transform({grams}, g -> {hex64_sql('g')})").alias("__h"),
    )
    return hashed.select("id", F.explode(F.expr(expr)).alias("fingerprint"))


#: Feature-hashing defaults: 16 buckets is viewer-scale; production text
#: features use 2^18+ (the operator is O(dim) aggregate slots, still one
#: shuffle).  dim must be a POWER OF TWO ≤ 64: only then is ``h % dim``
#: a pure low-bits mask, leaving sign bit 6 independent of the bucket —
#: a composite dim would correlate sign with bucket and bias the kernel.
HASH_VECTOR_DIM = 16


def hashed_doc_vectors(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    dim: int = HASH_VECTOR_DIM,
) -> DataFrame:
    """Signed feature-hashing document vectors (the 'hashing trick',
    Weinberger et al., arXiv:0902.2206): every token occurrence hashes to
    one of ``dim`` buckets, contributing ±1 by an independent hash bit —
    fixed-width, vocabulary-free features whose inner products are
    unbiased estimates of the exact bag-of-words kernel.  The cheap
    front-end for k-means / ANN / classifier stages when real embeddings
    are too expensive for a first pass over 100 TB.

    Plan: one explode (token OCCURRENCES — counts matter, so no distinct)
    → one md5 per token → ONE keyed shuffle computing all ``dim`` signed
    conditional sums simultaneously; the vector assembly, squared norm
    and nnz are projection-only.  Everything is integer codegen, so the
    DuckDB oracle matches hash-exactly (no float accumulation anywhere).
    """
    from polars_view_spark.functions.texthash import hex64_sql, tokens_expr

    # power of two only: h % dim must be a pure low-bits mask so sign bit 6
    # stays independent of the bucket (composite dim biases the kernel)
    assert 1 <= dim <= 64 and dim & (dim - 1) == 0, dim
    toks = df.select(
        F.col(id_col).alias("doc"), F.explode(tokens_expr(text_col)).alias("tok")
    )
    hashed = toks.select("doc", F.expr(hex64_sql("tok")).alias("h"))
    sign = "(CASE WHEN (h >> 6) & 1 = 1 THEN 1 ELSE -1 END)"
    sums = hashed.groupBy("doc").agg(
        *[
            F.sum(F.expr(f"CASE WHEN h % {dim} = {i} THEN {sign} ELSE 0 END"))
            .cast("long")
            .alias(f"b{i}")
            for i in range(dim)
        ]
    )
    vec = "array(" + ", ".join(f"b{i}" for i in range(dim)) + ")"
    norm2 = " + ".join(f"b{i} * b{i}" for i in range(dim))
    nnz = " + ".join(f"(CASE WHEN b{i} != 0 THEN 1 ELSE 0 END)" for i in range(dim))
    return sums.select(
        "doc",
        F.expr(vec).alias("vec"),
        F.expr(norm2).cast("long").alias("norm2"),
        F.expr(nnz).cast("int").alias("nnz"),
    )


def fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Deterministic document fingerprint: md5 of the whitespace-normalized
    lowercased text.  Identical-content docs (modulo spacing/case) collide —
    the exact-dedup key for text."""
    normalized = f"regexp_replace(lower(trim({text_col})), '[ \\\\t\\\\n\\\\x0B\\\\f\\\\r]+', ' ')"
    return df.withColumn("fingerprint", F.expr(f"md5({normalized})"))


#: PII patterns → replacement tokens.  Kept to constructs that parse
#: identically in Java regex (Spark) and RE2 (DuckDB): no lookaround, no
#: backreferences.  Order matters — emails are masked before the bare-word
#: pass so the user part is never half-eaten by another rule.
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    # no \b: Java's word boundary is Unicode-aware while RE2's is
    # ASCII-only (and RE2 has no lookaround to emulate either), so \b is
    # the one construct that CANNOT be made engine-identical — found by
    # the redaction parity fuzz (an IP glued to 'Å' went unredacted on
    # Spark only).  Dropping it over-masks digit runs embedded in longer
    # numbers — the right failure direction for a compliance pass.
    ("ipv4", r"\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}", "<IP>"),
    ("phone", r"\+?\d{3}[- ]\d{3}[- ]\d{4}", "<PHONE>"),
)


def redact_pii(df: DataFrame, text_col: str = "text") -> DataFrame:
    """PII redaction: mask emails / IPv4 addresses / phone numbers and count
    each category — the compliance pass every training-data pipeline runs
    before packing.

    Adds ``n_email``/``n_ipv4``/``n_phone`` (match counts on the ORIGINAL
    text) and ``redacted`` (the masked text).  Pure codegen
    ``regexp_extract_all``/``regexp_replace`` projection: zero shuffles,
    zero Python in the row path, so it composes into the first full-scan
    filter stage at 100 TB.  Counts are computed before any masking so a
    later rule never under-counts an earlier category.
    """
    counts = [
        F.expr(
            f"CAST(size(regexp_extract_all({text_col}, "
            f"'{_spark_sql_regex(pat)}', 0)) AS BIGINT)"
        ).alias(f"n_{name}")
        for name, pat, _ in PII_PATTERNS
    ]
    red = text_col
    for name, pat, token in PII_PATTERNS:
        red = f"regexp_replace({red}, '{_spark_sql_regex(pat)}', '{token}')"
    return df.select("*", *counts, F.expr(red).alias("redacted"))


def duck_redact_sql(text_col: str) -> tuple[list[str], str]:
    """DuckDB mirror of :func:`redact_pii`: (count expressions, redacted
    expression), generated from the same ``PII_PATTERNS`` constants so the
    two engines cannot drift."""
    counts = [
        f"CAST(len(regexp_extract_all({text_col}, '{pat}')) AS BIGINT) AS n_{name}"
        for name, pat, _ in PII_PATTERNS
    ]
    red = text_col
    for _, pat, token in PII_PATTERNS:
        red = f"regexp_replace({red}, '{pat}', '{token}', 'g')"
    return counts, red


def bigram_pmi(
    df: DataFrame,
    k: int = 20,
    min_count: int = 5,
    text_col: str = "text",
) -> DataFrame:
    """Top-``k`` word bigrams by pointwise mutual information, reported
    as the exact association ratio ``lift(x, y) = c(x,y) · N /
    (c(x,·) · c(·,y))`` (PMI = ln(lift); ln is monotone, so ranking by
    lift IS ranking by PMI) — the classic collocation statistic for
    tokenizer-merge and embedding-vocabulary decisions.

    Exactness: every input is an integer count and the float expression
    uses the SAME operand order on both engines (``c * 1.0 * nb /
    (c1 * c2)``); with products under 2^53 the division is a single
    IEEE-correctly-rounded op, bit-identical across engines, so the value
    hash pins the result (catalog entry ``x_bigram_pmi``).  The ln itself
    is deliberately NOT in the gated output: Java's ``Math.log`` is
    permitted 1-ulp error vs libm's, which measurably flips a 6-dp
    rounding at ratio values that land on a boundary.  (Beyond ~2^53
    total bigrams the products lose exactness; ranking drift is then at
    most 1 ulp — document-scale noise, not a correctness cliff.)

    Scale shape: ONE tokenize+explode pass reduces to bigram counts,
    which are pinned (localCheckpoint) because three aggregates consume
    them — left/right marginals and the total.  Marginal joins run on the
    bigram-vocabulary-sized frame, never the token stream; the total is a
    1-row broadcast; the final ranking is a top-k.  The ``min_count``
    filter applies BEFORE the joins (inner joins commute with it), so
    rare-bigram noise never shuffles.
    """
    # guard size < 2: Spark's sequence(0, -1) would generate DESCENDING.
    # The token array is LET-BOUND (transform over a 1-element array) so the
    # split runs once per row: aliasing it in a separate select looks bound
    # but CollapseProject substitutes the alias into EVERY use site —
    # ws[i], ws[i+1], size(ws) — re-splitting the text per element access,
    # O(len²) (measured 10 s → 1 s for the extraction at sf0.1).
    bi = (
        df.select(
            F.expr(
                f"transform(array(split(lower(trim({text_col})), '[ \\\\t\\\\n\\\\x0B\\\\f\\\\r]+')), ws -> "
                "CASE WHEN size(ws) >= 2 THEN "
                "transform(sequence(0, size(ws) - 2), "
                "i -> struct(ws[i] AS w1, ws[i + 1] AS w2)) "
                "ELSE array() END)[0]"
            ).alias("bs")
        )
        .select(F.explode("bs").alias("b"))
        .select("b.w1", "b.w2")
        .filter((F.col("w1") != "") & (F.col("w2") != ""))
    )
    bc = (
        bi.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .localCheckpoint(eager=True)
    )
    uc1 = bc.groupBy("w1").agg(F.sum("c").cast("long").alias("c1"))
    uc2 = bc.groupBy("w2").agg(F.sum("c").cast("long").alias("c2"))
    nb = bc.agg(F.sum("c").cast("long").alias("nb"))
    return (
        bc.filter(F.col("c") >= min_count)
        .join(uc1, "w1")
        .join(uc2, "w2")
        .crossJoin(F.broadcast(nb))
        .select(
            "w1",
            "w2",
            "c",
            F.expr("ROUND(c * 1.0 * nb / (c1 * c2) + 1e-9, 6)").alias("lift"),
        )
        .orderBy(F.col("lift").desc(), "w1", "w2")
        .limit(k)
    )


def nfc_normalize(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Unicode NFC normalization of ``text_col`` (added as
    ``<text_col>_nfc``) — the canonical-composition pass a multilingual
    corpus needs BEFORE any hash-keyed operator in this package
    (fingerprints, shingles, exact dedup): "é" as U+00E9 and as
    "e"+U+0301 are the same text to a reader but different bytes to
    every hash, so un-normalized corpora leak duplicates past exact and
    MinHash dedup and split counts in vocab/PMI stats.

    Spark has no built-in Unicode-normalize function (checked against
    Spark 4.1: ``normalize`` is UNRESOLVED_ROUTINE), so this is the
    sanctioned slow-path shape: an Arrow-batched ``pandas_udf`` over
    ``pandas.Series.str.normalize`` — one Python roundtrip per batch,
    not per row, and a pure per-row map: no shuffle, fully pipelined
    into whatever scan/write surrounds it.  At 100 TB it runs at scan
    cost × the Arrow transfer tax; hot paths that only need a STABLE key
    (not the normalized text itself) can hash the NFC output once and
    persist it, after which every downstream pass is codegen again.

    Cross-engine parity: DuckDB's ``nfc_normalize`` implements the same
    Unicode canonical composition; the oracle-gated catalog entry and a
    hypothesis fuzz hold the two engines byte-identical (md5) on
    composed, decomposed, and compatibility-class inputs.
    """
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def _nfc(s):  # pandas Series[str] -> Series[str]
        return s.str.normalize("NFC")

    return df.withColumn(f"{text_col}_nfc", _nfc(F.col(text_col)))


#: query parameters stripped by url_canonicalize: click-tracking noise
#: that makes one logical page look like many distinct URLs.  Literal
#: PREFIXES matched with startswith per '&'-separated pair (NOT LIKE
#: patterns — '_' is a single-char wildcard in LIKE, so 'utm_%' would
#: also strip unrelated params like 'utmost=1').
URL_TRACKING_PARAM_PATTERNS = ("utm_", "ref=", "fbclid=", "gclid=")


def url_canonicalize(df: DataFrame, url_col: str = "url") -> DataFrame:
    """Canonicalize a URL column for dedup/grouping keys: lowercase the
    scheme and host, drop the default-port suffix, strip a trailing
    ``/index.html``, remove click-tracking query parameters
    (:data:`URL_TRACKING_PARAM_PATTERNS`), and drop the fragment.  Adds
    ``canon_url`` plus ``registered_domain`` (last two host labels — the
    per-site cap key used by crawl pipelines, cf. ``domain_cap``).

    Without this, one logical page fans out into dozens of raw variants
    (case, tracking params, fragments) and every URL-keyed operator —
    exact dedup, per-domain caps, crawl-frontier joins — over-counts.

    Scale shape: pure codegen projections — ``parse_url`` (JVM
    built-in) for the parts, a ``filter`` lambda over the split query
    string, ``concat`` to reassemble.  No Python, no shuffle, no UDF:
    canonicalization rides the scan.
    """
    scheme = F.lower(F.regexp_extract(F.col(url_col), r"^([A-Za-z]+)://", 1))
    # AUTHORITY keeps the port; drop it only when it is the scheme default
    # (https:443 / http:80) — a non-default port is a different endpoint
    # and must survive canonicalization.  The host is derived from the
    # AUTHORITY (port stripped) rather than parse_url('HOST'): Java's URI
    # host validation NULLs out hosts whose top label starts with a digit,
    # while the authority always survives.
    authority = F.lower(F.parse_url(F.col(url_col), F.lit("AUTHORITY")))
    # host = authority minus userinfo and port — anchored regexps, NOT
    # substring_index: a colon inside userinfo (user:pw@) or an IPv6
    # literal ([::1]) must never be mistaken for the port separator
    host = F.regexp_replace(
        F.regexp_replace(authority, r"^[^@]*@", ""), r":[0-9]+$", ""
    )
    authority = F.when(
        (scheme == "https") & authority.endswith(":443"),
        F.regexp_replace(authority, r":443$", ""),
    ).when(
        (scheme == "http") & authority.endswith(":80"),
        F.regexp_replace(authority, r":80$", ""),
    ).otherwise(authority)
    path = F.coalesce(F.parse_url(F.col(url_col), F.lit("PATH")), F.lit(""))
    path = F.regexp_replace(path, r"/index\.html$", "/")
    query = F.coalesce(F.parse_url(F.col(url_col), F.lit("QUERY")), F.lit(""))
    keep = " AND ".join(
        f"NOT startswith(p, '{pat}')" for pat in URL_TRACKING_PARAM_PATTERNS
    )
    clean_q = F.expr(
        f"array_join(filter(split({{q}}, '&'), p -> p != '' AND {keep}), '&')"
        .format(q="__pvs_q")
    )
    return (
        df.withColumn("__pvs_q", query)
        .withColumn(
            "canon_url",
            F.concat(
                scheme,
                F.lit("://"),
                authority,
                path,
                F.when(clean_q != "", F.concat(F.lit("?"), clean_q)).otherwise(
                    F.lit("")
                ),
            ),
        )
        .withColumn(
            "registered_domain",
            F.regexp_extract(host, r"([^.]+\.[^.]+)$", 1),
        )
        .drop("__pvs_q")
    )


def ngram_novelty(
    df: DataFrame,
    reference: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document n-gram novelty vs a reference corpus: the fraction of
    a document's distinct word 3-shingles that the reference has never
    seen — the complement of the containment/contamination screens: where
    ``d_contamination`` asks "is this document COPIED from the benchmark",
    novelty asks "how much of it is NEW relative to yesterday's corpus",
    the signal dedup-then-sample pipelines use to prioritize genuinely
    fresh text over near-paraphrases that slipped past the hash screens.

    Emits ``n_shingles`` / ``n_novel`` / ``novelty_ppm`` (exact integers:
    ``n_novel·10⁶ // n_shingles``); documents shorter than one shingle
    carry no evidence and are absent, the same drop contract as the
    classifier's feature frame.

    Scale shape: shingling is the codegen array projection the MinHash
    family shares; the novelty test is ONE equi-join of the candidate
    shingle stream against the DISTINCT reference shingle set (keyed
    shuffle — at 100 TB the reference set is itself large, so no
    broadcast is forced; AQE picks one when it fits), then a per-doc
    aggregate that reuses the doc-keyed partitioning.
    """
    from polars_view_spark.functions.texthash import (
        shingles_from_tokens_sql,
        tokens_sql,
    )

    def shingle_stream(frame: DataFrame, with_id: bool) -> DataFrame:
        toked = frame.withColumn("__toks", F.expr(tokens_sql(text_col)))
        sh = F.explode(F.expr(shingles_from_tokens_sql("__toks"))).alias("sh")
        cols = [F.col(id_col).alias("doc"), sh] if with_id else [sh]
        return toked.select(*cols)

    ref = shingle_stream(reference, with_id=False).distinct().withColumn(
        "__seen", F.lit(1)
    )
    cand = shingle_stream(df, with_id=True)
    marked = cand.join(ref, "sh", "left")
    return (
        marked.groupBy("doc")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_shingles"),
            F.sum(F.when(F.col("__seen").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_novel"),
        )
        .select(
            F.col("doc").alias(id_col),
            "n_shingles",
            "n_novel",
            ((F.col("n_novel") * F.lit(1_000_000)) / F.col("n_shingles"))
            .cast("long")
            .alias("novelty_ppm"),
        )
    )


def synth_html_sql(id_col: str = "doc_id", text_col: str = "text") -> str:
    """Deterministic HTML wrapper around a plain-text column — the same
    synthesis discipline as url_canonicalize's raw-URL generator: the
    corpus has no markup, so the entry manufactures realistic boilerplate
    (head/title, a script block, a style block, nested inline tags,
    entities, a footer) entirely from the row's own values, making the
    extraction oracle-checkable.  Identical SQL on both engines: concat +
    LITERAL replace() only (no backreferences — Spark uses ``$1`` where
    DuckDB uses ``\\1``, so replacements stay backref-free by design)."""
    # literal replace() — both engines replace every occurrence
    bolded = f"replace({text_col}, ' the ', ' <b>the</b> ')"
    return (
        "concat('<html><head><title>doc ', CAST("
        + id_col
        + " AS STRING), '</title>"
        "<script>var tracker = 1;</script>"
        "<style>.c {{ color: red }}</style>"
        "</head><body><div class=\"c\" id=\"main\">', "
        + bolded
        + ", '</div><p>&amp;copy; corp &lt;footer&gt;</p></body></html>')"
    ).replace("{{", "{").replace("}}", "}")


def html_text_sql(html_col: str, dialect: str = "spark") -> str:
    """Boilerplate-stripping extraction as ONE scalar expression — the
    HTML→text stage every crawl pipeline runs before any quality or
    dedup operator sees a document:

    1. drop ``<script>``/``<style>`` blocks WITH their contents
       (``(?s)`` + non-greedy — supported by both Java regex and RE2);
    2. strip every remaining tag to a space (content survives);
    3. decode the three structural entities (&amp;/&lt;/&gt;);
    4. collapse whitespace runs and trim.

    Pure codegen riding the scan — no shuffle, no Python; 100 TB of HTML
    extracts at scan throughput.  ``dialect`` exists because DuckDB's
    regexp_replace replaces the FIRST match unless passed ``'g'`` while
    Spark always replaces all — the ONLY divergence between the two
    spellings, pinned by the catalog entry's value hash."""
    g = ", 'g'" if dialect == "duck" else ""
    # Spark SQL string literals process backslash escapes ('\\s' -> \s);
    # DuckDB literals are standard SQL (no escaping: '\s' IS \s) — the
    # second dialect divergence this helper pins
    ws = "'\\\\s+'" if dialect != "duck" else "'\\s+'"
    s = f"regexp_replace({html_col}, '(?s)<script.*?</script>', ''{g})"
    s = f"regexp_replace({s}, '(?s)<style.*?</style>', ''{g})"
    s = f"regexp_replace({s}, '<[^>]*>', ' '{g})"
    s = f"replace(replace(replace({s}, '&amp;', '&'), '&lt;', '<'), '&gt;', '>')"
    return f"trim(regexp_replace({s}, {ws}, ' '{g}))"
